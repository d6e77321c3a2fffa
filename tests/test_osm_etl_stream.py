"""The streaming ETL must converge to the batch ETL's outputs once the
shard source drains — same six tables, row for row."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from udacity_data_wrangling_osm_case_study_spark.sources import osm_split
from udacity_data_wrangling_osm_case_study_spark.streaming import osm_etl_stream
from tests.conftest import OSM_SAMPLE, PSI_SAMPLE


@pytest.fixture(scope="module")
def streamed(spark):
    shards = tempfile.mkdtemp(prefix="etl_shards_")
    out = tempfile.mkdtemp(prefix="etl_stream_out_")
    osm_split.split_osm_xml(OSM_SAMPLE, shards, target_bytes=512 * 1024)
    osm_etl_stream.run_streaming_etl(spark, shards, PSI_SAMPLE, out)
    yield out
    shutil.rmtree(shards, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize(
    "name",
    ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags", "update_history"],
)
def test_stream_converges_to_batch(spark, streamed, name):
    got = spark.read.parquet(f"{streamed}/{name}")
    batch = pipeline.build_tables(spark, OSM_SAMPLE, PSI_SAMPLE)[name]
    a = sorted(map(tuple, got.select(batch.columns).collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b


def test_batch_write_is_idempotent_on_replay(spark):
    # foreachBatch is at-least-once: a batch retried after a mid-write
    # failure re-runs. Replaying the same batch id must REPLACE its
    # partition, not append duplicates; other batches stay untouched.
    out = tempfile.mkdtemp(prefix="etl_idem_")
    try:
        df1 = spark.range(0, 5).withColumnRenamed("id", "v")
        df2 = spark.range(100, 103).withColumnRenamed("id", "v")
        osm_etl_stream.write_batch_idempotent(df1, out, "n-0")
        osm_etl_stream.write_batch_idempotent(df2, out, "n-1")
        osm_etl_stream.write_batch_idempotent(df1, out, "n-0")  # replay
        got = sorted(r.v for r in spark.read.parquet(out).collect())
        assert got == [0, 1, 2, 3, 4, 100, 101, 102]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_continuous_mode_runs_until_stopped(spark, tmp_path):
    """``available_now=False`` must start both queries on the default
    trigger (it used to call ``.trigger()`` with no arguments, which
    raises), keep committing batches, and return once stopped."""
    import os
    import sys
    import threading
    import time

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import gen_osm

    osm, psi = str(tmp_path / "city.osm"), str(tmp_path / "streets.xml")
    shards, out = str(tmp_path / "shards"), str(tmp_path / "out")
    gen_osm.generate(3, osm, psi, nodes=600)
    osm_split.split_osm_xml(osm, shards, target_bytes=32 * 1024)

    errors: list[Exception] = []

    def run():
        try:
            osm_etl_stream.run_streaming_etl(spark, shards, psi, out, available_now=False)
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    committed = [f"{out}/_ckpt_{q}/commits/0" for q in ("nodes", "ways")]
    deadline = time.monotonic() + 180
    while time.monotonic() < deadline and not errors:
        if all(os.path.exists(c) for c in committed):
            break
        time.sleep(0.5)
    try:
        assert not errors, errors
        assert all(os.path.exists(c) for c in committed)
        assert runner.is_alive()  # continuous: still running after a batch
    finally:
        for q in spark.streams.active:
            q.stop()
        runner.join(120)
    assert not runner.is_alive() and not errors, errors
    assert spark.read.parquet(f"{out}/ways").count() > 0
