"""Driver-side memo for df-independent Column fragments (r11
optimization; guide §7.3 — planning/driver overhead).

A PySpark Column is an immutable UNRESOLVED expression tree wrapping a
Java object; Catalyst re-resolves it per plan, so the same Column
object can be embedded in any number of DataFrames.  Constructing deep
fragments (HOF folds, unrolled dot products, wide aggregate lists)
costs one py4j round-trip (~0.3 ms of pure driver latency) per Column
method call — hundreds to thousands per operator build — and query
builders re-run on every bench rep and driver invocation.  Memoizing
the finished fragments by their SCALAR parameters removes that cost
without changing what any plan computes: results and plans are
byte-identical because they embed the very same expression objects.

Rules for call sites:
- key on every parameter that influences the expression (names, ints,
  direction flags) — never on Column objects (no stable identity);
- only cache fragments built from literals/column NAMES, never ones
  closing over a DataFrame;
- the cache is automatically scoped to the live SparkContext, so a
  session restart within one process can never serve stale Java refs.

``SHADEMS_NO_EXPR_MEMO=1`` disables caching (A/B measurement).
"""

from __future__ import annotations

import os

_CACHE: dict = {}

#: Entry cap (ADVICE r11): a few sites key on data-derived values
#: (centroid tuples, per-iteration weight vectors), so a long-lived
#: driver would otherwise accumulate Column trees + py4j object refs
#: without bound.  The whole registry builds ~1k distinct fragments;
#: 8192 leaves an order of magnitude of headroom, and a full clear on
#: overflow is correct by construction (it is a pure cache).
_MAX_ENTRIES = 8192

#: Token of the SparkContext the current cache contents belong to.
#: PySpark keeps ``SparkContext._gateway`` across ``stop()``, so the
#: gateway cannot tell a restarted session from the old one; each
#: SparkContext object is new per session.  Keying on ``id(sc)`` could
#: alias a new context onto a dead one's key after garbage collection
#: reused the id, so a sentinel object ATTACHED to the context is used:
#: a new context lacks the attribute, gets a fresh token, and the stale
#: entries are dropped wholesale.
_OWNER_TOKEN: object | None = None


def memo(key: tuple, build):
    """Return ``build()`` cached under ``key`` (+ the live SparkContext)."""
    # explicit truthy parse (ADVICE r11): SHADEMS_NO_EXPR_MEMO=0 must
    # NOT disable memoization just by being set.
    if os.environ.get("SHADEMS_NO_EXPR_MEMO", "").lower() in (
        "1", "true", "yes",
    ):  # A/B gate
        return build()
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    global _OWNER_TOKEN
    tok = None
    if sc is not None:
        tok = getattr(sc, "_shadems_memo_token", None)
        if tok is None:
            tok = sc._shadems_memo_token = object()
    if tok is not _OWNER_TOKEN:
        _CACHE.clear()
        _OWNER_TOKEN = tok
    col = _CACHE.get(key)
    if col is None:
        if len(_CACHE) >= _MAX_ENTRIES:
            _CACHE.clear()
        col = _CACHE[key] = build()
    return col
