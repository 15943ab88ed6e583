"""``python -m shadems_spark.pipeline`` — the corpus-curation CLI:
the end-to-end LLM-training-data pipeline (quality gate -> dedup ->
split -> optional packing) as one runnable command over a fixture
directory, writing a curated parquet partitioned by split plus a
one-line JSON report.

This is the "switch your pipeline to this engine" entry point: every
stage is an existing verified operator (q_pipeline_e2e is the
oracle-checked query twin of the default path), and the whole run is
ONE Spark application — the quality gate fuses into the scan, dedup
and the final stats are the only wide stages, the split adds none.

Usage:
  python -m shadems_spark.pipeline SF_DIR OUT_DIR
      [--dedup exact|minhash|semantic|none] [--min-words N]
      [--train-pct N] [--val-pct N] [--pack SEQ_LEN]
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import Window
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="shadems-pipeline", description=__doc__)
    p.add_argument("sf_dir", help="fixture dir with documents.parquet")
    p.add_argument("out_dir", help="output dir (parquet, partitioned by split)")
    p.add_argument("--dedup", choices=["exact", "minhash", "semantic", "none"],
                   default="exact")
    p.add_argument("--min-words", type=int, default=3)
    p.add_argument("--train-pct", type=int, default=80)
    p.add_argument("--val-pct", type=int, default=10)
    p.add_argument("--pack", type=int, default=0, metavar="SEQ_LEN",
                   help="greedy-pack docs into sequences of this many tokens")
    p.add_argument("--audit", action="store_true",
                   help="report rule-by-rule quality-gate rejections "
                        "and exit without writing anything")
    return p


def run(argv: list[str] | None = None) -> dict:
    from shadems_spark.catalog import load_table
    from shadems_spark.operators.curation import gopher_rules, pack_sequences
    from shadems_spark.operators.dedup import release_persist
    from shadems_spark.operators.retrieval import stratified_split
    from shadems_spark.session import get_spark

    from pyspark.sql import Observation

    args = build_parser().parse_args(argv)
    spark = get_spark("shadems-pipeline")
    docs = load_table(spark, args.sf_dir, "documents")
    if args.audit:
        # one pass, one aggregate: how many docs each rule rejects
        # (rules overlap, so counts need not sum to the total).
        r = gopher_rules(docs)
        row = r.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("n_words") < args.min_words).cast("int")).alias("too_short"),
            F.sum((~F.col("n_words").between(3, 100000)).cast("int")).alias("word_count"),
            F.sum((~F.col("mean_word_len").between(2.0, 12.0)).cast("int")).alias("word_len"),
            F.sum((F.col("symbol_ratio") >= 1.0).cast("int")).alias("symbols"),
            F.sum((F.col("alpha_word_frac") < 0.8).cast("int")).alias("alpha"),
            F.sum((F.col("passes_gopher") == 0).cast("int")).alias("rejected_any"),
        ).collect()[0]
        return {"audit": row.asDict()}

    # Observation counters ride the write job itself — per-stage
    # row counts with ZERO extra actions (no separate count() jobs).
    obs_in, obs_gate = Observation("input"), Observation("gate")
    docs = docs.observe(obs_in, F.count(F.lit(1)).alias("n"))

    g = gopher_rules(docs).filter(
        (F.col("passes_gopher") == 1) & (F.col("n_words") >= args.min_words)
    )

    if args.dedup == "exact":
        w = Window.partitionBy("text")
        g = (
            g.withColumn("__keep", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("__keep"))
            .drop("__keep")
        )
    elif args.dedup == "minhash":
        from shadems_spark.operators.dedup import minhash_dedup

        # fuzzy pairs -> drop the higher id of every near-dup pair
        # (the conservative pairwise rule, as in semdedup)
        pairs = minhash_dedup(docs, threshold=0.2)
        drop = pairs.select(F.col("id2").alias("doc_id")).distinct()
        g = g.join(drop, "doc_id", "left_anti")
    elif args.dedup == "semantic":
        from shadems_spark.operators.similarity import semdedup

        # drop only documents that HAVE an embedding and were pruned
        # by semdedup; docs without embeddings can't be semantically
        # deduped and pass through (anti-join against the dropped
        # set, not semi-join against the kept one).
        emb = load_table(spark, args.sf_dir, "embeddings")
        kept = semdedup(emb).select(F.col("vec_id").alias("doc_id"))
        dropped = (
            emb.select(F.col("vec_id").alias("doc_id"))
            .join(kept, "doc_id", "left_anti")
        )
        g = g.join(dropped, "doc_id", "left_anti")

    try:
        g = g.observe(obs_gate, F.count(F.lit(1)).alias("n"))
        s = stratified_split(g, train_pct=args.train_pct, val_pct=args.val_pct)
        s.write.mode("overwrite").partitionBy("split").parquet(args.out_dir)
        n_in = obs_in.get["n"]
        n_curated = obs_gate.get["n"]

        out = spark.read.parquet(args.out_dir)
        stats = {
            r["split"]: (r["n"], r["tok"])
            for r in out.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("n_words").cast("long").alias("tok"))
            .collect()
        }
        report = {
            "input_docs": n_in,
            "curated_docs": n_curated,
            "splits": {k: {"docs": n, "tokens": t} for k, (n, t) in sorted(stats.items())},
            "dedup": args.dedup,
            "out": args.out_dir,
        }
        if args.pack:
            packed = pack_sequences(
                out.filter(F.col("split") == "train"),
                budget=args.pack,
                token_col="n_words",
            )
            report["train_sequences"] = (
                packed.select("lang", "pack_id").distinct().count()
            )
        return report
    finally:
        if args.dedup == "minhash":
            # every read of the lazy dedup plan (the write's) goes
            # through the cached gram table: released after the last action
            release_persist("minhash_grams")


if __name__ == "__main__":
    print(json.dumps(run()))
