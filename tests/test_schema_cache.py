"""The loader infers each parquet file's schema once per file version.

``tables.load_table`` caches the footer-inferred schema of a regular
file, keyed on (absolute path, size, mtime_ns, parquet type-mapping
confs), and later loads read with it explicitly — no inference job.
These tests pin the three things that make that safe:

1. the cached schema equals a fresh inference, nullability included,
   for every fixture table at both test scale factors;
2. a warm load launches no Spark job, and a warm
   ``tpch_q8_market_share`` runs exactly its measured job count;
3. a rewritten file or a flipped type-mapping conf is inferred again,
   and a directory layout always infers.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from bigdataprojectspring16_spark import QUERIES
from bigdataprojectspring16_spark.tables import (
    TABLE_NAMES,
    _read_parquet,
    load_table,
    table_path,
)

from .conftest import SF_DIR, SF_SMALL

NTZ_KEY = "spark.sql.parquet.inferTimestampNTZ.enabled"

#: Warm ``tpch_q8_market_share`` at sf0.001: build + collect.
Q8_WARM_JOBS = 15


def _jobs(spark, body) -> int:
    """Number of Spark jobs ``body()`` launches, counted under a job
    group once the listener bus has delivered every event."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, True)
    try:
        body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_DIR])
@pytest.mark.parametrize("name", TABLE_NAMES)
def test_cached_schema_matches_inference(spark, sf_dir, name):
    path = table_path(sf_dir, name)
    _read_parquet(spark, path)  # warm the cache
    fresh = spark.read.parquet(path).schema
    cached = _read_parquet(spark, path).schema
    # StructType equality covers names, types, nullability, metadata.
    assert cached == fresh
    assert _jobs(spark, lambda: load_table(spark, sf_dir, name)) == 0


def test_warm_q8_job_count(spark):
    q8 = QUERIES["tpch_q8_market_share"]
    q8(spark, SF_SMALL).collect()
    assert _jobs(spark, lambda: q8(spark, SF_SMALL).collect()) == Q8_WARM_JOBS


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    shutil.copy(table_path(SF_SMALL, "orders"), tmp_path / "orders.parquet")
    first = load_table(spark, str(tmp_path), "orders")
    assert "o_orderpriority" in first.columns
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "orders")) == 0

    src = pq.read_table(tmp_path / "orders.parquet")
    rewritten = src.drop_columns(["o_orderpriority"]).append_column(
        "o_note", pa.array(["x"] * src.num_rows)
    )
    pq.write_table(rewritten, tmp_path / "orders.parquet")
    df = load_table(spark, str(tmp_path), "orders")
    assert "o_orderpriority" not in df.columns
    assert "o_note" in df.columns
    assert df.count() == src.num_rows


def test_type_mapping_conf_is_part_of_the_key(spark):
    def orderdate_type():
        return dict(load_table(spark, SF_SMALL, "orders").dtypes)["o_orderdate"]

    saved = spark.conf.get(NTZ_KEY, None)
    try:
        spark.conf.set(NTZ_KEY, "true")
        assert orderdate_type() == "timestamp_ntz"
        spark.conf.set(NTZ_KEY, "false")
        assert orderdate_type() == "timestamp"
        spark.conf.set(NTZ_KEY, "true")
        assert orderdate_type() == "timestamp_ntz"
    finally:
        if saved is None:
            spark.conf.unset(NTZ_KEY)
        else:
            spark.conf.set(NTZ_KEY, saved)


def test_directory_layout_still_infers(spark, tmp_path):
    path = table_path(str(tmp_path), "region")
    spark.read.parquet(table_path(SF_SMALL, "region")).write.parquet(path)
    assert os.path.isdir(path)
    load_table(spark, str(tmp_path), "region")
    # Every load of a directory pays inference, warm or not.
    assert _jobs(spark, lambda: load_table(spark, str(tmp_path), "region")) == 1
