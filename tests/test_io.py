"""IO layer: compacted writer sizing and the one-call SQL surface."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from shadems_spark import catalog
from shadems_spark.sources.io import write_compacted


def test_write_compacted_bounds_file_count(spark, sf_dir, tmp_path):
    """A tiny frame must compact to ONE file no matter how many tasks
    produced it (the small-files guard)."""
    df = catalog.load_table(spark, sf_dir, "lineitem").repartition(16)
    out = str(tmp_path / "compacted")
    n = write_compacted(df, out, target_mb=128)
    assert n == 1
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 1
    assert spark.read.parquet(out).count() == df.count()


def test_write_compacted_splits_when_large(spark, sf_dir, tmp_path):
    """With a tiny target the same data must fan out to several
    right-sized files."""
    df = catalog.load_table(spark, "/root/testdata/sf0.1", "lineitem")
    out = str(tmp_path / "small_target")
    n = write_compacted(df, out, target_mb=1)
    files = glob.glob(f"{out}/part-*.parquet")
    assert n > 1 and len(files) == n


def test_sql_surface(spark, sf_dir):
    df = catalog.sql(
        spark,
        """
        SELECT l_returnflag, count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_returnflag
        """,
        sf_dir,
    )
    rows = {r["l_returnflag"]: r["n"] for r in df.collect()}
    li = catalog.load_table(spark, sf_dir, "lineitem")
    assert sum(rows.values()) == li.count()  # every lineitem has an order


def test_ms_adapter_table_plan_identical(spark, sf_dir):
    """ParquetStandinMS.table() must be plan-identical to a direct
    catalog load — the seam adds no scan overhead."""
    from shadems_spark.catalog import load_table
    from shadems_spark.sources.ms_adapter import ParquetStandinMS, open_ms

    ms = open_ms(spark, sf_dir)
    assert isinstance(ms, ParquetStandinMS)
    a = ms.table("lineitem")._jdf.queryExecution().executedPlan().toString()
    b = load_table(spark, sf_dir, "lineitem")._jdf.queryExecution().executedPlan().toString()
    # plans differ only in expression ids; compare shape
    import re
    strip = lambda s: re.sub(r"#\d+L?", "#x", s)
    assert strip(a) == strip(b)


def test_ms_adapter_main_contract(spark, sf_dir):
    """MSSource.main() must honour the SURVEY §1.1 column contract:
    names, types, cube shapes."""
    from shadems_spark.sources.ms_adapter import open_ms

    ms = open_ms(spark, sf_dir).main()
    types = dict(ms.dtypes)
    assert types["TIME"] == "double"
    assert types["ANTENNA1"] == "bigint" and types["ANTENNA2"] == "bigint"
    assert types["UVW"] == "array<double>"
    assert types["DATA"].startswith("array<struct<re:double,im:double")
    assert types["FLAG"] == "array<boolean>" and types["FLAG_ROW"] == "boolean"
    r = ms.limit(1).collect()[0]
    assert len(r["UVW"]) == 3 and len(r["DATA"]) == len(r["FLAG"]) == 1

    pruned = open_ms(spark, sf_dir).main(columns=["TIME", "ANTENNA1"])
    assert pruned.columns == ["TIME", "ANTENNA1"]


def test_ms_adapter_subtables(spark, sf_dir):
    """All five MSInfo subtables resolve; unknown names raise."""
    import pytest

    from shadems_spark.sources.ms_adapter import open_ms

    ms = open_ms(spark, sf_dir)
    for name in ms.subtable_names():
        assert ms.subtable(name).count() > 0
    with pytest.raises(KeyError, match="unknown MS subtable"):
        ms.subtable("SYSCAL")


def test_casacore_ms_env_gate(spark):
    """Without python-casacore the real-ingestion skeleton must fail
    loud at construction, never at first read."""
    import pytest

    from shadems_spark.sources.ms_adapter import CasacoreMS

    try:
        import casacore  # noqa: F401
        pytest.skip("casacore installed; gate not applicable")
    except ImportError:
        pass
    with pytest.raises(EnvironmentError, match="casacore"):
        CasacoreMS(spark, "/tmp/fake.ms")


def test_python_datasource_sink_roundtrip(spark, tmp_path):
    """Custom Python batch SINK (Spark 4 writer API): tasks write
    uniquely-named temp files, the driver commit renames them into
    place — read the committed CSVs back and match the source rows."""
    import os

    from shadems_spark.sources.pysource import (
        register_pycsvsink,
        register_synthgen,
    )

    register_synthgen(spark)
    register_pycsvsink(spark)
    out = str(tmp_path / "pycsv")
    df = spark.read.format("synthgen").option("rows", 300).load()
    df.write.format("pycsvsink").option("path", out).mode("append").save()
    names = sorted(os.listdir(out))
    assert names and all(n.startswith("part-") for n in names)  # no temp leftovers
    back = spark.read.schema("id long, bucket int, val double").csv(out)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_load_table_after_session_restart(sf_dir):
    """A table loaded in a session that was stopped is not served to
    the next session in the same process: PySpark keeps the JVM
    gateway across ``stop()``, so the scan memo must follow the
    SparkContext.  Runs in a subprocess so the shared test session is
    left alone."""
    import os
    import subprocess
    import sys

    code = f"""
from shadems_spark.catalog import load_table
from shadems_spark.session import get_spark
spark = get_spark("restart-1")
n = load_table(spark, {sf_dir!r}, "nation").count()
spark.stop()
spark = get_spark("restart-2")
assert load_table(spark, {sf_dir!r}, "nation").count() == n
print("ok")
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(catalog.__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYTHONPATH": root}
    p = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, env=env,
    )
    assert p.returncode == 0 and p.stdout.strip().endswith("ok"), p.stderr[-2000:]


def test_load_table_sees_part_file_rewritten_in_place(spark, tmp_path):
    """A part file rewritten in place (the directory's mtime unchanged)
    is read afresh: the scan memo keys on every file's size and mtime."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    part = tmp_path / "t.parquet" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"a": list(range(10))}), part)
    assert catalog.load_table(spark, str(tmp_path), "t").count() == 10
    pq.write_table(pa.table({"a": list(range(1000))}), part)
    assert catalog.load_table(spark, str(tmp_path), "t").count() == 1000
