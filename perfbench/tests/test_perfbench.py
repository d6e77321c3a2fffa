"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import types
import xml.etree.ElementTree as ET

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen_osm  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402


def _gen(tmp_path, seed, nodes=1500, tag="a"):
    osm, psi = tmp_path / f"{tag}.osm", tmp_path / f"{tag}.xml"
    truth = gen_osm.generate(seed, str(osm), str(psi), nodes=nodes)
    return osm, psi, truth


def test_osm_generator_is_deterministic_per_seed(tmp_path):
    a_osm, a_psi, a_truth = _gen(tmp_path, 7, tag="a")
    b_osm, b_psi, b_truth = _gen(tmp_path, 7, tag="b")
    c_osm, _c_psi, _ = _gen(tmp_path, 8, tag="c")
    assert a_osm.read_bytes() == b_osm.read_bytes()
    assert a_psi.read_bytes() == b_psi.read_bytes()
    assert a_truth.to_dict() == b_truth.to_dict()
    assert a_osm.read_bytes() != c_osm.read_bytes()


def test_table_generator_is_deterministic_per_seed(tmp_path):
    gen_tables.generate(3, str(tmp_path / "a"), sf=0.001)
    gen_tables.generate(3, str(tmp_path / "b"), sf=0.001)
    gen_tables.generate(4, str(tmp_path / "c"), sf=0.001)
    for t in gen_tables.TABLES:
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
    lineitem = pq.read_table(tmp_path / "a" / "lineitem.parquet")
    assert not lineitem.equals(pq.read_table(tmp_path / "c" / "lineitem.parquet"))
    events = pq.read_table(tmp_path / "a" / "events.parquet").schema
    assert str(events.field("ts").type) == "timestamp[us]"


def test_planted_counts_match_the_export(tmp_path):
    """Recount the generated XML directly: the truth the benchmark
    checks the ETL against must describe the file it was handed."""
    osm, psi, truth = _gen(tmp_path, 11)
    root = ET.parse(osm).getroot()
    nodes, ways = root.findall("node"), root.findall("way")
    relations = root.findall("relation")

    def kept(el):
        return [t for t in el.findall("tag") if not gen_osm.PROBLEMCHARS.search(t.get("k"))]

    assert truth.tables["nodes"] == len(nodes)
    assert truth.tables["ways"] == len(ways)
    assert truth.tables["ways_nodes"] == sum(len(w.findall("nd")) for w in ways)
    assert truth.tables["nodes_tags"] == sum(len(kept(n)) for n in nodes)
    appended = (truth.categories["no_en"] + truth.categories["no_reg"]
                + 2 * truth.categories["zh_only"])
    assert truth.tables["ways_tags"] == sum(len(kept(w)) for w in ways) + appended
    assert truth.relations == len(relations) > 0
    assert truth.elements == len(nodes) + len(ways)

    changed_nodes = sum(
        any(gen_osm.split_key(t.get("k"))[1] in gen_osm.PHONE_KEYS
            and gen_osm.canonical_phone(t.get("v")) != t.get("v") for t in kept(n))
        for n in nodes)
    changed_ways = sum(
        any(gen_osm.split_key(t.get("k"))[1] in gen_osm.PHONE_KEYS
            and gen_osm.canonical_phone(t.get("v")) != t.get("v") for t in kept(w))
        for w in ways)
    assert truth.tables["update_history"] == (
        changed_nodes + changed_ways + truth.streets_repaired)
    assert truth.streets_repaired == sum(
        truth.categories[c] for c in gen_osm.OsmGenerator.REPAIRED)

    # every dirty-data trait is present
    values = [t.get("v") for el in nodes + ways for t in el.findall("tag")]
    keys = {t.get("k") for el in nodes + ways for t in el.findall("tag")}
    assert any("＋" in v for v in values)
    assert any(";" in v and any(ch.isdigit() for ch in v) for v in values)
    assert keys & set(gen_osm.PROBLEM_KEYS)
    assert keys & set(gen_osm.MULTI_COLON_KEYS)
    assert all(truth.categories[c] > 0 for c, _ in gen_osm.OsmGenerator.STREET_MIX)

    rows = [(r.findtext("English_Street_Name"), r.findtext("Chinese_Street_Name"))
            for r in ET.parse(psi).getroot().findall("Row")]
    assert any(zh is None for _en, zh in rows)
    assert len(rows) > len(set(rows))  # exact duplicates
    by_en: dict = {}
    for en, zh in rows:
        if zh is not None:
            by_en.setdefault(en, set()).add(zh)
    assert any(len(v) > 1 for v in by_en.values())  # ambiguous English
    assert {zh for _en, zh in rows} >= set(gen_osm.SZ_NAMES)


@pytest.mark.parametrize("raw, fixed", [
    ("+852 2345 6789", "+852 23456789"),
    ("＋852 2345-6789", "+852 23456789"),
    ("+85 22 19 21222", "+852 21921222"),
    ("2345 6789; 3456 7890", "+852 23456789;+852 34567890"),
    ("13912345678", "+86 13912345678"),
    ("0755 1234 5678", "+86 755 12345678"),
    ("n/a", "n/a"),
    ("12345", "12345"),
])
def test_phone_truth_follows_the_canonicaliser_contract(raw, fixed):
    assert gen_osm.canonical_phone(raw) == fixed


@pytest.mark.parametrize("n, p", [
    (5, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10 - 1e-9


def test_percentile_interpolates():
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert stats.percentile([5.0], 90) == 5.0


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),   # overlaps a by 1 s
        Span("c", 8.0, 12.0, parent=0),  # runs past its parent's end
        Span("a.x", 1.5, 2.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    # every second of the root is either a child's or unattributed
    covered = 5.0 + 2.0
    assert st[0] + covered == pytest.approx(spans[0].wall)


def test_layer_shims_span_the_outermost_layer_call_and_restore():
    mod = types.ModuleType("fake_layer")
    exec("def inner(x):\n    return x + 1\n"
         "def outer(x):\n    return (inner(x), 'y')\n"
         "def _private(x):\n    return x\n", mod.__dict__)
    originals = dict(mod.__dict__)
    forced, calls = [], []
    tr = Tracer(enabled=True, cores=4)
    with tr.span("op"), tr.layer_shims({"operators.fake": mod}, forced.append, calls):
        assert mod.outer(1) == (2, "y")
        assert mod.inner(5) == 6
        assert mod._private(3) == 3
    # one span per outermost call; the nested inner() call is not spanned
    assert [s.name for s in tr.spans] == ["op", "operators.fake", "operators.fake"]
    assert all(s.parent == 0 for s in tr.spans[1:])
    assert forced == [(2, "y"), 6]
    assert calls == [("outer", (2, "y")), ("inner", 6)]
    assert all(mod.__dict__[k] is v for k, v in originals.items())


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert stats.METRIC_NAME.match(name), name
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
