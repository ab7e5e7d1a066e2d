"""Parquet star-schema loader (fixtures profiled in SURVEY §1).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under the sf dir
(TESTDATA.md:13-15). Schema-on-read from parquet footers; no custom
schema layer (SURVEY §1.2). Footers are read once per file version:
the inferred schema is cached per process and later loads pass it
explicitly, so they launch no Spark job (SCALING.md §Scans).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import autosize_shuffle_partitions, ensure_session_confs

TABLE_NAMES: tuple[str, ...] = (
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

#: Dimension tables small enough to always broadcast at any scale
#: factor (region=5, nation=25 rows — fixed-size in TPC-H-like data).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: On-disk bytes per input path, cached for the process lifetime —
#: fixtures are immutable, and the loader runs for every input of
#: every query, so a stat-walk per call would dominate tiny queries.
_PATH_BYTES_CACHE: dict[str, int] = {}


def input_bytes(path: str) -> int:
    """Compressed on-disk size of a parquet file or directory layout."""
    cached = _PATH_BYTES_CACHE.get(path)
    if cached is not None:
        return cached
    total = 0
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    else:
        try:
            total = os.path.getsize(path)
        except OSError:
            total = 0
    # ADVICE r9: never cache a 0 — an absent-then-created fixture (a
    # generator writing into a fresh dir mid-process) would otherwise
    # be sized 0 forever and never trigger shuffle autosizing.
    if total > 0:
        _PATH_BYTES_CACHE[path] = total
    return total


#: Session confs that change how a parquet footer maps to Spark types
#: (e.g. ``inferTimestampNTZ`` turns ``o_orderdate`` from
#: timestamp_ntz into timestamp), so they are part of the schema key.
_PARQUET_TYPE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: Inferred schema per (absolute path, size, mtime_ns, type confs) —
#: the same (size, mtime_ns) staleness stamp as the bucketed layouts
#: (sources/sinks.py). A rewritten file gets a new stamp, so it is
#: inferred again.
_SCHEMA_CACHE: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a regular file's schema
    once per process.

    Inference launches one Spark job per call (~0.1 s at fixture
    scale); a cached schema read launches none. Directory layouts
    keep plain inference: their file sets change without the
    directory's own stamp showing it.
    """
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
        tuple(spark.conf.get(k, None) for k in _PARQUET_TYPE_CONFS),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    # VERDICT r8 item 2: shuffle sizing follows the data, not a knob.
    autosize_shuffle_partitions(spark, input_bytes(path))
    df = _read_parquet(spark, path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as int64 ns (legacy.parquet.nanosAsLong):
            # truncate to µs with integer div — double division would lose
            # precision at 1e18 — matching DuckDB's ns→µs cast.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # A build without nanosAsLong support would surface the naive
            # parquet timestamp as TIMESTAMP_NTZ; normalize to LTZ here
            # (session TZ is pinned UTC, so the wall-clock is preserved)
            # so every downstream null literal / union sees ONE ts type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


def load_skew_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """events/customer via the write-once bucketed layout.

    The skew family — the events⋈customer equi-join that funnels the
    whole stream through the hot 10% of customer keys, plus every
    sessionization/funnel/window plan that re-shuffles events on
    user_id — reads ``ensure_bucketed_events``'s layout instead of
    the flat parquet: events bucketed+sorted on (user_id, ts),
    customer on c_custkey, 8 buckets each, so the bucketing IS the
    shuffle, paid once at write time (the 100 TB lever: at cluster
    scale the bucket count is sized to the data and the same layout
    amortizes across every downstream query; measured 50→18
    exchanges across the 8 skew-family keys at sf0.1 with rows equal
    8/8 and every wall faster — SCALING.md §Joins).

    Falls back to the flat scan — semantically identical — when the
    layout can't be built (read-only warehouse); the fallback warns
    so a silently-degraded run is visible.
    """
    if name not in ("events", "customer"):
        return load_table(spark, sf_dir, name)
    try:
        # Local import: sources.sinks imports from this module.
        from .sources.sinks import ensure_bucketed_events

        b_events, b_customer = ensure_bucketed_events(spark, sf_dir)
    except Exception as exc:  # layout build failed — flat is correct
        import warnings

        warnings.warn(
            f"bucketed events/customer layout unavailable ({exc!r}); "
            "falling back to flat parquet scans",
            stacklevel=2,
        )
        return load_table(spark, sf_dir, name)
    ensure_session_confs(spark)
    # Shuffle autosizing keys on the SOURCE bytes, same as the flat
    # path — the bucketed copy holds identical data.
    autosize_shuffle_partitions(spark, input_bytes(table_path(sf_dir, name)))
    return spark.table(b_events if name == "events" else b_customer)


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Fixture-scale escape hatch for compute-heavy narrow maps.

    A small single-row-group parquet file scans as ONE partition, so
    a per-row-expensive pipeline (rolling hashes, profile scoring)
    serializes on one core no matter how many are free. When — and
    only when — the plan's scan parallelism is below the session's
    core count, round-robin repartition to fan the compute out. At
    production scale inputs carry ≥ cores splits, the branch is not
    taken, and NO shuffle is added — this never trades a 100 TB
    shuffle for fixture-scale latency.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def ts_seconds(col: Column) -> Column:
    """Epoch seconds of a timestamp column, robust to NTZ vs LTZ.

    Parquet TIMESTAMP(NANOS, isAdjustedToUTC=false) reads as
    TIMESTAMP_NTZ on Spark 4.1, which cannot cast straight to BIGINT
    (DATATYPE_MISMATCH); routing through TIMESTAMP_LTZ interprets the
    wall-clock in the session TZ (pinned UTC, session.py) — exactly
    how the DuckDB oracle's ``epoch(ts)`` reads the same naive value.
    """
    return col.cast("timestamp_ltz").cast("long")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table lazily (scans are deferred until action)."""
    ensure_session_confs(spark)
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
