"""The row-local street-name repair on hand-built way rows.

Each case is one raw <way> row (the ``OSM_WAY_SCHEMA`` shape the XML
source produces) probed against a two-row official list:

    A = ("Tai Po Road", "大埔道")    B = ("Sha Tin Road", "沙田路")
"""

from __future__ import annotations

import pytest

from udacity_data_wrangling_osm_case_study_spark import schemas
from udacity_data_wrangling_osm_case_study_spark.operators import (
    official_streets,
    street_repair,
)

A_EN, A_ZH = "Tai Po Road", "大埔道"
B_EN, B_ZH = "Sha Tin Road", "沙田路"
A_REG = f"{A_ZH} {A_EN}"

ROAD = ("highway", "residential")

WAYS = {
    # a wrong name:en beside correct zh/reg: overwrite only
    1: [ROAD, ("name:en", "Tai Po Rd"), ("name:zh", A_ZH), ("name", A_REG)],
    # no name:en: append only
    2: [ROAD, ("name:zh", A_ZH), ("name", A_REG)],
    # wrong name:en and no combined name: overwrite and append
    3: [ROAD, ("name:en", "Tai Po Rd"), ("name:zh", A_ZH)],
    # en of A, zh of B: two matches, left untouched
    4: [ROAD, ("name:en", A_EN), ("name:zh", B_ZH)],
    # official names on a non-street highway: left untouched
    5: [("highway", "bus_stop"), ("name:zh", A_ZH), ("name:en", "Tai Po Rd")],
    # no tags at all
    6: None,
    # repeated name:en: the last one (A) wins the probe, every copy is
    # overwritten (and the missing combined name appended); first-wins
    # would have made the way ambiguous
    7: [ROAD, ("name:en", B_EN), ("name:zh", A_ZH), ("name:en", A_EN), ("lanes", "2")],
    # already canonical: matched, nothing to change
    8: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("name", A_REG)],
    # canonical with the combined name under 'regular:name', which the
    # shaped tables read as the same (regular, name) tag: nothing missing
    9: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("regular:name", A_REG)],
    # a non-name tag with a NULL value must not read as a change
    10: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("name", A_REG), ("note", None)],
}

EXPECTED = {
    1: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("name", A_REG)],
    2: [ROAD, ("name:zh", A_ZH), ("name", A_REG), ("name:en", A_EN)],
    3: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("name", A_REG)],
    4: WAYS[4],
    5: WAYS[5],
    6: None,
    7: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("name:en", A_EN), ("lanes", "2"),
        ("name", A_REG)],
    8: WAYS[8],
    9: [ROAD, ("name:en", A_EN), ("name:zh", A_ZH), ("regular:name", A_REG)],
    10: WAYS[10],
}
CHANGED = {1, 2, 3, 7}


@pytest.fixture(scope="module")
def repaired(spark):
    rows = [
        (i, "mapper", 1, 1, 1, "2017-01-01T00:00:00Z", [(1,), (2,)],
         None if tags is None else [list(t) for t in tags])
        for i, tags in WAYS.items()
    ]
    ways_raw = spark.createDataFrame(rows, schemas.OSM_WAY_SCHEMA)
    official = spark.createDataFrame(
        [(101, A_EN, A_ZH), (202, B_EN, B_ZH)], "idx bigint, eng string, chi string"
    )
    names = official_streets.name_dimension(official).cache()
    out, name_ids = street_repair.repair_street_names(ways_raw, names)
    rows = out.collect()
    tags = {
        r["_id"]: None if r["tag"] is None else [(t["_k"], t["_v"]) for t in r["tag"]]
        for r in rows
    }
    flags = {r["_id"]: r[street_repair.CHANGED] for r in rows}
    ids = [r["id"] for r in name_ids.collect()]
    yield out, tags, flags, ids
    names.unpersist()


@pytest.mark.parametrize("way", sorted(WAYS))
def test_repaired_tag_array(repaired, way):
    _, tags, _, _ = repaired
    assert tags[way] == EXPECTED[way]


def test_frame_keeps_raw_schema_plus_flag(repaired):
    out, _, _, _ = repaired
    assert out.columns == schemas.OSM_WAY_SCHEMA.fieldNames() + [street_repair.CHANGED]
    assert out.schema["tag"].dataType.elementType.fieldNames() == ["_k", "_v"]


def test_name_ids_are_exactly_the_changed_ways(repaired):
    _, _, flags, ids = repaired
    assert sorted(ids) == sorted(CHANGED)
    assert {i for i, f in flags.items() if f} == CHANGED


def test_matched_but_unchanged_ways_are_not_flagged(repaired):
    # Regression: a flag derived inside the append lambda (a nested
    # lambda reading the outer one's element) marked matched ways as
    # changed although their arrays came out identical. The flag must
    # agree with the arrays themselves.
    _, tags, flags, _ = repaired
    for way in (8, 9, 10):
        assert tags[way] == WAYS[way] and flags[way] is False
    for way in WAYS:
        assert flags[way] == (tags[way] != WAYS[way])
