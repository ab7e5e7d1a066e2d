"""Sources: schema-explicit CSV / JSON / parquet ingestion.

The fixtures are parquet-only, so CSV/JSON readers are exercised by
round-trip tests (tests/test_sources_sinks.py) rather than declared
queries (SURVEY §2.A "sources (non-query)"). CSV and JSON schemas
are always explicit: at 100 TB, schema inference is a full extra pass
over the data — never pay it. :func:`read_parquet` infers from the
parquet footers, which costs one Spark job per call;
the fixture tables instead go through ``tables.load_table``, which
infers once per file version and reads with the cached schema
(SCALING.md §Scans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """CSV with explicit schema; no inference pass."""
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    """JSON-lines with explicit schema; malformed rows become nulls
    (PERMISSIVE, the ETL-friendly default) rather than failing the job."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet — schema inferred from footers (one Spark job per
    call), columnar + predicate pushdown."""
    return spark.read.parquet(path)
