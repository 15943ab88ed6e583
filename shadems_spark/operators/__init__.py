"""Relational + raster + extension operators (SURVEY.md §2)."""
