"""Row-level parity of the OSM ingest on a seeded synthetic export.

``tests/golden/`` needs the reference's ``shatin.osm``; this module needs
nothing outside the checkout. ``tests/golden_synth/`` holds the six
tables the engine produced, before street-name repair became row-local,
for the export ``perfbench/gen_osm.generate(seed=5, nodes=3500)`` writes:
one gzipped CSV per table, a header line and then the rows as text
(every value cast to string by Spark, NULL as ``\\N``), sorted. Batch
``build_tables`` and the streaming ETL must reproduce them row for row.

The same export also guards the ingest's plan shape: the way-side
sinks stay row-local (broadcast probes only, no shuffle of way facts).
"""

from __future__ import annotations

import csv
import gzip
import hashlib
import io
import os
import sys

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.operators import pipeline
from udacity_data_wrangling_osm_case_study_spark.sources import osm_split
from udacity_data_wrangling_osm_case_study_spark.streaming import osm_etl_stream

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
from perfbench import gen_osm  # noqa: E402

GOLDEN_DIR = os.path.join(ROOT, "tests", "golden_synth")
SEED, NODES = 5, 3500
# sha256 of the generated export and street list the goldens were
# captured from: a generator change must fail here, not as a diff.
EXPORT_SHA256 = "c7ee4906889a5bbc78d2c15fd3688366657246dfd0bdb57088e872a2b46a3bb1"
STREETS_SHA256 = "94dfd7374a929513440356774b3bfb6d6cfd6ce8ea36b39890d52274eab43094"
TABLES = ["nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags", "update_history"]


def table_lines(df: DataFrame) -> list[str]:
    """A table as golden-file text: header, then sorted CSV rows."""
    rows = df.select([F.col(c).cast("string") for c in df.columns]).collect()
    buf = io.StringIO()
    writer = csv.writer(buf, lineterminator="\n")
    for r in rows:
        writer.writerow(["\\N" if v is None else v for v in r])
    return [",".join(df.columns)] + sorted(buf.getvalue().splitlines())


def golden_lines(name: str) -> list[str]:
    with gzip.open(os.path.join(GOLDEN_DIR, f"{name}.csv.gz"), "rt", encoding="utf-8") as fh:
        return fh.read().splitlines()


def _sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


@pytest.fixture(scope="module")
def export(tmp_path_factory):
    d = tmp_path_factory.mktemp("synth_export")
    osm, psi = str(d / "city.osm"), str(d / "streets.xml")
    gen_osm.generate(SEED, osm, psi, nodes=NODES)
    assert (_sha256(osm), _sha256(psi)) == (EXPORT_SHA256, STREETS_SHA256), (
        "perfbench/gen_osm output changed: recapture tests/golden_synth"
    )
    return osm, psi, d


@pytest.fixture(scope="module")
def batch_tables(spark, export):
    osm, psi, _ = export
    yield pipeline.build_tables(spark, osm, psi)
    spark.catalog.clearCache()


@pytest.fixture(scope="module")
def streamed(spark, export):
    osm, psi, d = export
    shards, out = str(d / "shards"), str(d / "stream_out")
    osm_split.split_osm_xml(osm, shards, target_bytes=64 * 1024)
    assert len(os.listdir(shards)) > 1
    osm_etl_stream.run_streaming_etl(spark, shards, psi, out)
    return out


@pytest.mark.parametrize("name", TABLES)
def test_batch_matches_golden(batch_tables, name):
    assert table_lines(batch_tables[name]) == golden_lines(name)


@pytest.mark.parametrize("mode", ["stage_dir", "no_persist"])
def test_storage_modes_match_golden(spark, export, tmp_path, mode):
    """Staging the shared frames as parquet, or sharing nothing, is a
    pure storage-strategy swap."""
    osm, psi, _ = export
    kwargs = (
        {"stage_dir": str(tmp_path / "stage")} if mode == "stage_dir" else {"persist": False}
    )
    tables = pipeline.build_tables(spark, osm, psi, **kwargs)
    for name in TABLES:
        assert table_lines(tables[name]) == golden_lines(name), name


@pytest.mark.parametrize("name", TABLES)
def test_stream_matches_golden(spark, streamed, batch_tables, name):
    got = spark.read.parquet(f"{streamed}/{name}").select(batch_tables[name].columns)
    assert table_lines(got) == golden_lines(name)


# ------------------------------------------------------------ plan shape


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _plan_nodes(plan, under_broadcast: bool = False):
    """(node, under_broadcast) for every node of a physical plan,
    descending into adaptive plans, their query stages, reused
    exchanges and cached (InMemoryRelation) subplans."""
    yield plan, under_broadcast
    name = plan.nodeName()
    under = under_broadcast or name in ("BroadcastExchange", "BroadcastQueryStage")
    kids = list(_seq(plan.children()))
    if name == "AdaptiveSparkPlan":
        kids.append(plan.executedPlan())
    elif name.endswith("QueryStage"):
        kids.append(plan.plan())
    elif name == "ReusedExchange":
        kids.append(plan.child())
    elif name == "InMemoryTableScan":
        kids.append(plan.relation().cachedPlan())
    for child in kids:
        yield from _plan_nodes(child, under)


def _fact_side_shuffles(df: DataFrame) -> tuple[list[str], set[str]]:
    """Shuffled joins and hash exchanges outside broadcast build sides,
    and the names of all nodes seen."""
    bad, seen = [], set()
    for node, under_broadcast in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        seen.add(name)
        if under_broadcast:
            continue
        if name in ("SortMergeJoin", "ShuffledHashJoin"):
            bad.append(name)
        elif name == "Exchange" and (
            node.outputPartitioning().getClass().getSimpleName() == "HashPartitioning"
        ):
            bad.append(node.toString().splitlines()[0])
    return bad, seen


def test_ways_tags_plan_has_no_fact_side_shuffle(batch_tables):
    bad, seen = _fact_side_shuffles(batch_tables["ways_tags"])
    assert bad == []
    # the walk reached the repair's probes inside the cached ways frame
    assert "BroadcastHashJoin" in seen and "InMemoryTableScan" in seen


def test_name_history_plan_has_no_fact_side_shuffle(batch_tables):
    names = batch_tables["update_history"].filter(F.col("field_updated") == "name")
    bad, seen = _fact_side_shuffles(names)
    assert bad == []
    # read from the cached repaired ways, not a second repair
    assert "BroadcastHashJoin" in seen and "InMemoryTableScan" in seen
