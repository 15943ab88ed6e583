"""Table catalog: the engine's scan layer (SURVEY.md §2 A1-A3).

The reference reads CASA Measurement Sets lazily via dask-ms
([R] shade_ms/data_plots.py::get_plot_data -> daskms.xds_from_ms,
columns=..., group_cols=..., chunks={'row': N}).  The Spark-native
equivalent is a Parquet DataSource V2 scan: column pruning, row-group
pruning and predicate pushdown are supplied by Catalyst, partition
discovery replaces dask-ms TAQL group discovery (SURVEY.md §3.2).

The driver fixtures stand in for MS tables (FIXTURES.md): ``lineitem``
plays the MAIN visibility table, small TPC-H dims play the subtables
(ANTENNA/FIELD/SPW/...), ``events`` plays a stream, ``documents`` /
``embeddings`` carry the text / vector extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shadems_spark.session import tune

#: All driver fixture tables, dims first (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table (A1/A2: lazy columnar read).

    ``events.ts`` is TIMESTAMP(NANOS) parquet, which Spark's reader
    rejects; with ``nanosAsLong`` it arrives as epoch-nanos.  We expose
    both ``ts_ns`` (long, full precision) and ``ts`` (TIMESTAMP_NTZ,
    µs — integer-truncated exactly like DuckDB truncates the same
    column, keeping oracle parity).

    The returned scan DataFrame is memoized per (path, file stamp) via
    the expression cache (r12; guide §7.3): ``spark.read.parquet``
    costs ~100 ms of driver-side schema inference + file listing per
    call — even for a 25-row dim — and every query build re-reads its
    tables, so one bench rep paid it ~80 times.  The cached value is
    an UNEXECUTED scan plan, not data: every action still reads the
    parquet files (same semantics as holding the df in a variable,
    the normal Spark pattern).  The :func:`table_stamp` key drops the
    cache when a writer adds, removes or rewrites a file, also in
    place; ``memo`` scopes it to the live SparkContext, so a ``stop()``
    and a new session in the same process read the table afresh.
    """
    tune(spark)
    path = _table_path(sf_dir, name)
    from shadems_spark.operators.exprcache import memo

    try:
        stamp = table_stamp(sf_dir, name)
    except OSError:
        # missing path: let the reader raise its own (uncached) error
        return _read_table(spark, path, name)
    return memo(
        ("load_table", path, stamp), lambda: _read_table(spark, path, name)
    )


def _table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def table_stamp(sf_dir: str, name: str) -> tuple:
    """(path, size, mtime_ns) of every file of a table, sorted — no
    Spark call.  A rewrite in place changes a file's stamp even where
    it leaves its directory's mtime alone.  Raises OSError when the
    table is missing."""
    root = _table_path(sf_dir, name)
    files = [os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs] if os.path.isdir(root) else [root]
    stamp = []
    for path in sorted(files):
        st = os.stat(path)
        stamp.append((path, st.st_size, st.st_mtime_ns))
    return tuple(stamp)


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Legacy fixture layout: TIMESTAMP(NANOS) parquet read via
            # nanosAsLong.  `div` is integer division (a double `/`
            # would round the ~1.7e18 nanos value: double ulp there is
            # 256ns).  timestamp_micros yields TimestampType; cast to
            # NTZ so Arrow output is tz-naive like DuckDB's TIMESTAMP.
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts_ns div 1000")).cast("timestamp_ntz"),
            )
        elif ts_type is not None and ts_type.startswith("timestamp"):
            # Current fixture layout: TIMESTAMP(MICROS) parquet, read
            # natively.  Derive the epoch-nanos long the engine's
            # time-ordered queries key on (session tz is UTC, so the
            # ntz->tz cast is wall-clock identity).
            df = df.withColumn(
                "ts_ns",
                F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000),
            )
            if ts_type != "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register each table as a temp view so plans can also be
    expressed via ``spark.sql`` (SURVEY.md §5.2 item 4)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def sql(spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """One-call SQL surface over the fixture catalog: every table is a
    view, the query is any Spark SQL — the DataFrame-API and SQL forms
    compile to the same Catalyst plan, so either is first-class."""
    register_views(spark, sf_dir)
    return spark.sql(query)
