"""Contracts of the session helpers other modules rely on without
checking: the small-input spread must see local paths whatever their
spelling, and an eager checkpoint must run an action so observed
metrics are ready."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from glue_job_to_write_structured_data_on_s3_full_code_spark.session import (
    eager_checkpoint,
    spread_small_input,
)


def test_spread_small_input_stats_percent_encoded_paths(spark, tmp_path):
    """``inputFiles()`` returns URIs, so a directory named 'my data'
    arrives as 'my%20data'; the stat must decode it instead of failing
    and silently returning the input unspread."""
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("a spread is only observable with defaultParallelism > 1")
    path = str(tmp_path / "my data" / "t.parquet")
    spark.range(0, 100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert any("%20" in f for f in df.inputFiles())
    assert df.rdd.getNumPartitions() == 1
    assert spread_small_input(df).rdd.getNumPartitions() == par


def test_eager_checkpoint_populates_observation(spark):
    """``Observation.get`` blocks until an action over the observed
    frame completes; operators read it right after ``eager_checkpoint``.
    Read it on a worker thread so a broken contract fails here instead
    of hanging the suite."""
    obs = Observation()
    df = spark.range(0, 100).observe(obs, F.count(F.lit(1)).alias("n"))
    eager_checkpoint(df, "test_observation_contract")
    got = {}
    reader = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    reader.start()
    reader.join(30)
    assert not reader.is_alive(), "Observation.get blocked: no action ran"
    assert got == {"n": 100}
