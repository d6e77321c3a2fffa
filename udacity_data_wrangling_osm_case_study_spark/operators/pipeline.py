"""End-to-end ETL: OSM XML + PSI list → 5 relational tables + CDC audit.

Spark rendering of the reference's ``process_map`` single pass
(parse_clean_and_csv.py:206-290,536-539). The reference fuses
shape→clean→write into one loop; here each stage is a declarative frame
and Catalyst fuses the narrow ones. The multi-sink economics differ on
purpose (SURVEY.md §4): what the sinks share (the node parse, the
street-name dimension and the repaired ways) is persisted once so the
six sinks don't re-scan the XML.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from udacity_data_wrangling_osm_case_study_spark.operators import (
    cleaning,
    official_streets,
    shape,
    street_repair,
)
from udacity_data_wrangling_osm_case_study_spark.sources import osm_xml


def build_tables(
    spark: SparkSession,
    osm_path: str,
    psi_path: str,
    persist: bool = True,
    shard_dir: str | None = None,
    shard_bytes: int = 128 * 1024 * 1024,
    include_relations: bool = False,
    stage_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Returns the 6-table dict: nodes, nodes_tags, ways, ways_nodes,
    ways_tags, update_history.

    ``persist`` pins exactly what the sinks share, or six sinks
    re-parse the XML per action — the multi-sink economics of
    SURVEY.md §4:

    - the node parse (nodes, nodes_tags, the node phone CDC);
    - the street-name dimension, materialized on the spot: it is the
      build side of the repair's four broadcast probes;
    - the repaired ways (:func:`street_repair.repair_street_names`),
      which every way sink reads — ways, ways_nodes, ways_tags and
      both way CDC feeds. The raw way parse feeds only the repair, so
      it is read once and not pinned.

    Nothing else is cached: shaping, phone fixing and the repair are
    row-local, so no sink shuffles the way facts.

    ``shard_dir`` routes the input through the element-aligned splitter
    first (sources/osm_split.py): Spark's XML source doesn't split
    within one file, so sharding is what makes the parse scale with
    cores/executors.

    ``stage_dir`` (mutually composable with ``persist=False``) swaps
    the block-manager cache for PARQUET STAGING: the same three frames
    (node parse, dimension, repaired ways) are written once to
    ``{stage_dir}/<name>`` and read back, so the six sinks share them
    through the filesystem instead of executor storage (``persist=False``
    without ``stage_dir`` shares nothing and recomputes per sink). This
    is the city-scale-and-up memory posture: the round-9 100x run
    peaked at 11.0 GB tree RSS (~27x the input) because the cached raw
    parses (nested tag arrays, columnar batches) plus six concurrent
    sink jobs all lived in one heap, and
    at corpus scale a cache of input-sized frames only guarantees
    eviction churn. Staged parses cost two extra file round-trips but
    bound executor storage at zero, prune columns on every downstream
    re-read (the cache always rehydrates whole batches), and a lost
    executor re-reads files instead of re-parsing XML. Measured at
    100x (NOTES_r10): peak RSS drops ~3x for the same wall time.

    ``include_relations=True`` adds three EXTENSION tables the
    reference drops on the floor (it requests only node/way —
    parse_clean_and_csv.py:250): relations, relations_members
    (document-ordered, like ways_nodes), relations_tags (same
    problem-key filter and first-colon split as the other tag tables).
    Off by default so the default output stays byte-comparable to the
    reference's six-table contract.
    """
    if shard_dir is not None:
        from udacity_data_wrangling_osm_case_study_spark.sources import osm_split

        osm_split.split_osm_xml(osm_path, shard_dir, target_bytes=shard_bytes)
        osm_path = f"{shard_dir}/*.osm"

    official = official_streets.clean_official_streets(
        osm_xml.read_official_streets_raw(spark, psi_path)
    )
    names = official_streets.name_dimension(official)

    nodes_raw = osm_xml.read_nodes_raw(spark, osm_path)
    ways_raw = osm_xml.read_ways_raw(spark, osm_path)

    def _stage(df: DataFrame, name: str) -> DataFrame:
        # Small row groups: the default 128 MB parquet write buffer,
        # held per concurrent task, made the staging write itself the
        # peak-RSS driver (measured 12.7 GB vs 6.7 GB cached at 100x
        # before this option; scratch staging has no scan-efficiency
        # reason to want big row groups).
        (
            df.write.mode("overwrite")
            .option("parquet.block.size", 8 * 1024 * 1024)
            .parquet(f"{stage_dir}/{name}")
        )
        return spark.read.parquet(f"{stage_dir}/{name}")

    if stage_dir is not None:
        # One node parse, shared through the filesystem — the
        # bounded-memory posture (see docstring).
        nodes_raw = _stage(nodes_raw, "nodes_raw")
        names = _stage(names, "names")
    elif persist:
        # One node parse, shared by every node sink; the dimension is
        # materialized now so the four repair probes broadcast it from
        # storage instead of re-running its shuffles.
        nodes_raw = nodes_raw.persist(StorageLevel.MEMORY_AND_DISK)
        names = names.persist(StorageLevel.MEMORY_AND_DISK)
        names.count()

    nodes = shape.shape_nodes(nodes_raw)
    nodes_tags, node_phone_ids = cleaning.fix_phones_in_tags(
        shape.shape_tags(nodes_raw)
    )

    # The repaired ways are the one way frame every way sink reads, so
    # the raw way parse itself is read once and never pinned.
    ways_fixed, way_name_ids = street_repair.repair_street_names(ways_raw, names)
    if stage_dir is not None:
        ways_fixed = _stage(ways_fixed, "ways_repaired")
        way_name_ids = street_repair.changed_ids(ways_fixed)
    elif persist:
        ways_fixed = ways_fixed.persist(StorageLevel.MEMORY_AND_DISK)

    ways = shape.shape_ways(ways_fixed)
    ways_nodes = shape.shape_way_nodes(ways_fixed)
    ways_tags, way_phone_ids = cleaning.fix_phones_in_tags(shape.shape_tags(ways_fixed))
    history = cleaning.update_history(node_phone_ids, way_phone_ids, way_name_ids)

    tables = {
        "nodes": nodes,
        "nodes_tags": nodes_tags.select("id", "key", "value", "type"),
        "ways": ways,
        "ways_nodes": ways_nodes,
        "ways_tags": ways_tags,
        "update_history": history,
    }
    if include_relations:
        rel_raw = osm_xml.read_relations_raw(spark, osm_path)
        if stage_dir is not None:
            rel_raw = _stage(rel_raw, "relations_raw")
        elif persist:
            rel_raw = rel_raw.persist(StorageLevel.MEMORY_AND_DISK)
        tables["relations"] = shape.shape_relations(rel_raw)
        tables["relations_members"] = shape.shape_relation_members(rel_raw)
        tables["relations_tags"] = shape.shape_tags(rel_raw)
    return tables


def write_csv(tables: dict[str, DataFrame], out_dir: str) -> None:
    """S3: CSV sinks, header + utf-8, one directory per table."""
    for name, df in tables.items():
        df.write.mode("overwrite").option("header", True).csv(f"{out_dir}/{name}")


# Tag tables are directory-partitioned by tag type: the audits and the
# SQL exploration filter on type ('regular' vs namespaced classes), so
# the partition prunes at directory level before any file opens.
_PARQUET_PARTITIONS = {"nodes_tags": ["type"], "ways_tags": ["type"]}


def write_parquet(tables: dict[str, DataFrame], out_dir: str) -> None:
    """Scale-out sink beside the CSV parity path: columnar, compressed,
    splittable — what the 100 TB deployment writes (the reference's
    CSV→SQL import step, README.md:5, collapses into reading these
    files directly). Layouts via operators.layout."""
    from udacity_data_wrangling_osm_case_study_spark.operators import layout

    for name, df in tables.items():
        cols = _PARQUET_PARTITIONS.get(name)
        if cols:
            layout.write_partitioned(df, f"{out_dir}/{name}", cols)
        else:
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")


def register_views(tables: dict[str, DataFrame]) -> None:
    """S6: expose the relational model to Spark SQL exploration."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
