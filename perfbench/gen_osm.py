"""Seeded synthetic OSM city export and official street list.

The generator plants the dirty-data traits the engine's cleaning
operators exist for (FIXTURES.md section 2) at known counts, and returns
the row counts the ETL must produce. Every planted element belongs to a
category whose outcome is fixed by construction, so the expected counts
are sums over categories, not a second implementation of the pipeline.

Street-way categories (ways whose ``highway`` value is a street class):

========  ===========================================  ==========  =====
category  name tags                                    repaired    audit
========  ===========================================  ==========  =====
perfect   name:en, name:zh, name = "<chi> <eng>"       no          no
no_en     name:zh, name                                +1 tag      yes
no_reg    name:en, name:zh                             +1 tag      yes
zh_only   name:zh                                      +2 tags     yes
bad_en    abbreviated name:en, name:zh, name           overwrite   yes
fixed     fix-map name (D'Aguilar Street form), all 3  no          yes
crossed   name:en of one row, name:zh of another       no          no
dropped   names of a row the list cleaning drops       no          no
unknown   names in no official row                     no          no
========  ===========================================  ==========  =====

The audit column is the bilingual-street audit, which reads the official
list without the typo fixes: a ``fixed`` way matches only through its
Chinese name there.
"""

from __future__ import annotations

import itertools
import random
import re
from dataclasses import dataclass, field
from xml.sax.saxutils import escape, quoteattr

# first element id of a generated export, minus one
ID_BASE = 1_000_000_000

SYLLABLES = (
    "SHA TIN WAI KAM SHAN TAI PO MA ON FO TAN SIU LEK YUEN KWONG HOI CHUEN"
    " YAT MING LOK CHEUNG HONG WO FUNG KING LAM TSUEN KWAI CHUNG YAU TONG"
    " SHEK MUN HIN KENG TO SHUI WONG NAI CHAU KAU WAN HAU PAK TSZ LUNG"
).split()
EN_SUFFIXES = ("ROAD", "STREET", "LANE", "PATH", "AVENUE", "TERRACE", "DRIVE")
EN_ABBREV = {"ROAD": "Rd", "STREET": "St", "LANE": "Ln", "PATH": "Pth",
             "AVENUE": "Ave", "TERRACE": "Ter", "DRIVE": "Dr"}
CJK = "沙田大埔元朗荃灣屯門西貢將軍澳馬鞍山火炭石小瀝源禾輋廣碧湖水泉秦顯博康隆亨美林新翠乙明松安富景豐樂和平興盛華泰瑞"
ZH_SUFFIXES = "路街道里坊"

# Official-list rows whose capitalised English form is patched by the
# engine's typo/case fix map: (source English, fixed English).
FIX_MAP_ROWS = (
    ("D'AGUILAR STREET", "D'Aguilar Street"),
    ("O'BRIEN ROAD", "O'Brien Road"),
    ("MCGREGOR STREET", "McGregor Street"),
    ("HAVEN OF HOPE ROAD", "Haven of Hope Road"),
    ("BOULEVARD DE MER", "Boulevard de Mer"),
)
# Chinese names shared with Shenzhen streets; the list cleaning drops them.
SZ_NAMES = ("文昌街", "福民路", "福祥街", "丹桂路")

STREET_CLASSES = (
    "motorway", "trunk", "primary", "secondary", "tertiary", "residential",
    "living_street", "pedestrian", "track", "road", "steps", "path",
)
OTHER_HIGHWAYS = ("service", "footway", "cycleway", "bus_stop")
PHONE_KEYS = ("phone", "fax", "whatsapp", "mobile", "telephone", "operator", "source")

# Phone value templates: every format the canonicaliser handles, plus
# values it must leave alone. ``{d4}`` is four random digits.
PHONE_TEMPLATES = (
    "+852 {d4} {d4}", "+852 {d4}{d4}", "{d4}{d4}", "{d4} {d4}", "{d4}-{d4}",
    "(852) {d4} {d4}", "＋852 {d4} {d4}", "852-{d4}-{d4}",
    "+85 2{d2} {d2} {d4}", "13{d1}{d4}{d4}", "+86 15{d1} {d4} {d4}",
    "0755 {d4} {d4}", "+86 755 {d4}{d4}", "86-0755-{d3}{d3}",
    "{d4} {d4}; {d4} {d4}", "+852 {d4} {d4}, +852 {d4} {d4}",
    "+852 {d4}{d4};+852 {d4}{d4}", "n/a", "{d4}{d1}", "{d4} {d4} ext {d2}",
)
OPERATOR_VALUES = ("MTR Corporation", "Kowloon Motor Bus", "Wellcome", "CLP Power")
SOURCE_VALUES = ("survey", "Bing", "local knowledge", "GPS")

# Tag keys with characters the ETL drops, and multi-colon keys it keeps.
PROBLEM_KEYS = ("fixme note", "note.1", "source;date", "addr street", "ref#2")
MULTI_COLON_KEYS = ("name:zh:yue", "addr:street:en", "contact:phone:2")

PROBLEMCHARS = re.compile(r"[=+/&<>;'\"?%#$@,. \t\r\n]")

# Phone canonicaliser semantics (the engine's contract, functions/phones.py
# docstring): split on , or ;, strip separators, classify HK / PRC cell /
# Shenzhen landline, keep matches joined by ';', else pass through.
_STRIP = re.compile("[- +)(＋]+")
_HK = re.compile(r"^(852)?([0-9]{8})$")
_PRC = re.compile(r"^(86)?(1[3-9][0-9]{9})$")
_SZ = re.compile(r"^(86)?0?(755)([0-9]{6,8})$")
# The phone audit's tolerant pre-strip shapes (plans/audits.py contract).
_TOLERANT = (
    re.compile("^[＋+(]{0,2}[ ]?(852)?\\)?[- ]?([0-9]{4})[- ]?([0-9]{4})$"),
    re.compile("^[＋+(]?(86)?\\)?[- ]?\\(?0?(755)\\)?[- ]?([0-9]{3,4})[- ]?([0-9]{3,4})$"),
    re.compile("^[＋+(]?(86)?\\)?[- ]?(1[3-9][0-9])[- ]?([0-9]{4})[- ]?([0-9]{4})$"),
)


def canonical_phone(value: str) -> str:
    out = []
    for seg in re.split("[,;]", value):
        s = _STRIP.sub("", seg)
        if m := _HK.match(s):
            out.append("+852 " + m.group(2))
        elif m := _PRC.match(s):
            out.append("+86 " + m.group(2))
        elif m := _SZ.match(s):
            out.append("+86 755 " + m.group(3))
    return ";".join(out) if out else value


def phone_like(key: str, value: str) -> bool:
    """The phone audit's selection rule for one shaped tag."""
    if key in ("phone", "fax"):
        return True
    return any(r.match(seg) for seg in value.split(";") for r in _TOLERANT)


def split_key(raw_key: str) -> tuple[str, str]:
    """(type, key) after the first-colon split; 'regular' without a colon."""
    if ":" in raw_key:
        typ, key = raw_key.split(":", 1)
        return typ, key
    return "regular", raw_key


def capwords(s: str) -> str:
    return " ".join(w.capitalize() for w in s.split())


@dataclass
class Truth:
    """Expected ETL outputs for one generated export."""

    tables: dict[str, int] = field(default_factory=dict)
    elements: int = 0          # nodes + ways (relations are skipped)
    relations: int = 0
    street_audit: int = 0      # rows of the bilingual-street audit
    phone_audit: int = 0       # rows of the phone audit
    phone_candidates: int = 0  # shaped tags under a phone key
    phones_changed: int = 0    # of those, values the canonicaliser changes
    street_ways: int = 0
    streets_repaired: int = 0
    categories: dict[str, int] = field(default_factory=dict)

    def to_dict(self) -> dict:
        return dict(self.__dict__)


class OsmGenerator:
    """Builds one export. ``nodes`` sets the size; the rest scales with it."""

    def __init__(self, seed: int, nodes: int = 6000):
        self.rng = random.Random(seed)
        self.n_nodes = nodes
        self.truth = Truth()
        self._users = [
            (f"mapper_{i:03d}", 10_000 + i) for i in range(40)
        ] + [("沙田測繪", 20_001), ("九龍仔", 20_002)]
        self._user_weights = [1.0 / (i + 1) for i in range(len(self._users))]
        self.official_good: list[tuple[str, str]] = []   # (capwords eng, chi)
        self.official_fixed: list[tuple[str, str]] = []  # (fixed eng, chi)
        self.official_dropped: list[tuple[str, str]] = []
        self.psi_rows: list[tuple[str, str | None]] = []

    # ------------------------------------------------------------------ names
    def _en(self, used: set) -> str:
        while True:
            n = self.rng.choice((2, 2, 3))
            name = " ".join(self.rng.choice(SYLLABLES) for _ in range(n))
            name += " " + self.rng.choice(EN_SUFFIXES)
            if name not in used:
                used.add(name)
                return name

    def _zh(self, used: set) -> str:
        while True:
            n = self.rng.choice((2, 2, 3))
            name = "".join(self.rng.choice(CJK) for _ in range(n))
            name += self.rng.choice(ZH_SUFFIXES)
            if name not in used and name not in SZ_NAMES:
                used.add(name)
                return name

    def build_official(self, n_good: int) -> None:
        """PSI rows: good rows plus every dirty trait of the real list."""
        used_en: set = set()
        used_zh: set = set()
        rows: list[tuple[str, str | None]] = []
        for _ in range(n_good):
            en, zh = self._en(used_en), self._zh(used_zh)
            rows.append((en, zh))
            self.official_good.append((capwords(en), zh))
        # exact duplicate pairs: deduplicated, the row survives
        for en, zh in self.rng.sample(rows, max(2, n_good // 40)):
            rows.append((en, zh))
        # null Chinese names: dropped before the ambiguity check
        for _ in range(max(2, n_good // 30)):
            rows.append((self._en(used_en), None))
        # English shared by two rows with different Chinese: both dropped
        for _ in range(max(2, n_good // 25)):
            en = self._en(used_en)
            a, b = self._zh(used_zh), self._zh(used_zh)
            rows += [(en, a), (en, b)]
            self.official_dropped += [(capwords(en), a), (capwords(en), b)]
        # Chinese shared by two rows with different English: both dropped
        for _ in range(max(2, n_good // 25)):
            zh = self._zh(used_zh)
            a, b = self._en(used_en), self._en(used_en)
            rows += [(a, zh), (b, zh)]
            self.official_dropped += [(capwords(a), zh), (capwords(b), zh)]
        # capwords artifacts patched by the fix map
        for src, fixed in FIX_MAP_ROWS:
            zh = self._zh(used_zh)
            rows.append((src, zh))
            self.official_fixed.append((fixed, zh))
        # Shenzhen homonyms: blacklisted
        for zh in SZ_NAMES:
            rows.append((self._en(used_en), zh))
        self.rng.shuffle(rows)
        self.psi_rows = rows
        self._used_en, self._used_zh = used_en, used_zh

    # ------------------------------------------------------------------- tags
    def _phone_value(self) -> str:
        tpl = self.rng.choice(PHONE_TEMPLATES)

        def digits(n: int) -> str:
            return "".join(str(self.rng.randrange(10)) for _ in range(n))

        out = tpl
        for tok, n in (("{d4}", 4), ("{d3}", 3), ("{d2}", 2), ("{d1}", 1)):
            while tok in out:
                out = out.replace(tok, digits(n), 1)
        return out

    def _node_tags(self) -> list[tuple[str, str]]:
        r = self.rng.random()
        if r < 0.72:
            return []
        tags: list[tuple[str, str]] = []
        kind = self.rng.random()
        if kind < 0.25:
            tags += [("amenity", "restaurant"),
                     ("cuisine", self.rng.choice(("chinese", "cantonese", "japanese",
                                                  "thai", "pizza", "noodle", "burger")))]
        elif kind < 0.35:
            tags += [("amenity", "place_of_worship"),
                     ("religion", self.rng.choice(("christian", "buddhist", "taoist", "muslim")))]
        elif kind < 0.6:
            tags.append(("amenity", self.rng.choice(
                ("bank", "school", "cafe", "fast_food", "parking", "toilets", "atm",
                 "post_office", "clinic", "library"))))
        elif kind < 0.8:
            tags.append(("shop", self.rng.choice(
                ("convenience", "supermarket", "bakery", "clothes", "hairdresser"))))
        else:
            tags.append(("highway", "bus_stop"))
            tags.append(("route_ref", str(self.rng.randrange(1, 300))))
        if self.rng.random() < 0.5:
            en, zh = self.rng.choice(self.official_good)
            tags += [("name", f"{zh} {en} Shop"), ("name:en", f"{en} Shop")]
        if self.rng.random() < 0.3:
            tags += [("addr:street", self.rng.choice(self.official_good)[0]),
                     ("addr:housenumber", str(self.rng.randrange(1, 200)))]
        tags += self._phone_and_noise_tags()
        return tags

    def _phone_and_noise_tags(self) -> list[tuple[str, str]]:
        tags: list[tuple[str, str]] = []
        if self.rng.random() < 0.3:
            key = self.rng.choice(("phone", "phone", "fax", "contact:phone", "mobile",
                                   "telephone", "whatsapp"))
            tags.append((key, self._phone_value()))
        if self.rng.random() < 0.15:
            tags.append(("operator", self.rng.choice(OPERATOR_VALUES)
                         if self.rng.random() < 0.8 else self._phone_value()))
        if self.rng.random() < 0.15:
            tags.append(("source", self.rng.choice(SOURCE_VALUES)
                         if self.rng.random() < 0.85 else self._phone_value()))
        if self.rng.random() < 0.08:
            tags.append((self.rng.choice(PROBLEM_KEYS), "x"))
        if self.rng.random() < 0.08:
            tags.append((self.rng.choice(MULTI_COLON_KEYS), "y"))
        return tags

    def _street_tags(self, cat: str) -> tuple[list[tuple[str, str]], int, bool]:
        """Name tags of one street way: (tags, tags appended, in street audit)."""
        en, zh = self.rng.choice(self.official_good)
        if cat == "perfect":
            return [("name:en", en), ("name:zh", zh), ("name", f"{zh} {en}")], 0, False
        if cat == "no_en":
            return [("name:zh", zh), ("name", f"{zh} {en}")], 1, True
        if cat == "no_reg":
            return [("name:en", en), ("name:zh", zh)], 1, True
        if cat == "zh_only":
            return [("name:zh", zh)], 2, True
        if cat == "bad_en":
            words = en.split()
            bad = " ".join(words[:-1] + [EN_ABBREV[words[-1].upper()]])
            return [("name:en", bad), ("name:zh", zh), ("name", f"{zh} {en}")], 0, True
        if cat == "fixed":
            en, zh = self.rng.choice(self.official_fixed)
            return [("name:en", en), ("name:zh", zh), ("name", f"{zh} {en}")], 0, True
        if cat == "crossed":
            en2, zh2 = self.rng.choice(self.official_good)
            while zh2 == zh:
                en2, zh2 = self.rng.choice(self.official_good)
            return [("name:en", en), ("name:zh", zh2)], 0, False
        if cat == "dropped":
            en, zh = self.rng.choice(self.official_dropped)
            return [("name:en", en), ("name:zh", zh), ("name", f"{zh} {en}")], 0, False
        # unknown: names outside the list
        en = capwords(self._en(self._used_en))
        zh = self._zh(self._used_zh)
        return [("name:en", en), ("name:zh", zh), ("name", f"{zh} {en}")], 0, False

    STREET_MIX = (
        ("perfect", 30), ("no_en", 10), ("no_reg", 8), ("zh_only", 6), ("bad_en", 10),
        ("fixed", 4), ("crossed", 6), ("dropped", 6), ("unknown", 20),
    )
    REPAIRED = {"no_en", "no_reg", "zh_only", "bad_en"}

    # ---------------------------------------------------------------- export
    def _attrs(self, eid: int, extra: str = "") -> str:
        user, uid = self.rng.choices(self._users, self._user_weights)[0]
        y = self.rng.randrange(2009, 2018)
        ts = (f"{y}-{self.rng.randrange(1, 13):02d}-{self.rng.randrange(1, 29):02d}"
              f"T{self.rng.randrange(24):02d}:{self.rng.randrange(60):02d}:"
              f"{self.rng.randrange(60):02d}Z")
        return (f'id="{eid}"{extra} version="{self.rng.randrange(1, 9)}" timestamp="{ts}"'
                f' changeset="{self.rng.randrange(1_000_000, 60_000_000)}"'
                f' uid="{uid}" user={quoteattr(user)}')

    def _count_tags(self, tags) -> tuple[int, int, int]:
        """(kept tags, phone candidates, phone-changed tags) for one element."""
        kept = cand = changed = 0
        for k, v in tags:
            if PROBLEMCHARS.search(k):
                continue
            kept += 1
            _typ, key = split_key(k)
            if phone_like(key, v):
                self.truth.phone_audit += 1
            if key in PHONE_KEYS:
                cand += 1
                if canonical_phone(v) != v:
                    changed += 1
        return kept, cand, changed

    @staticmethod
    def _tag_lines(tags) -> list[str]:
        return [f'  <tag k={quoteattr(k)} v={quoteattr(v)}/>' for k, v in tags]

    def export_lines(self) -> list[str]:
        """The whole export, one line per XML line, every top-level
        element starting a line of its own."""
        rng, t = self.rng, self.truth
        ids = itertools.count(ID_BASE + 1)
        lines = ["<?xml version='1.0' encoding='UTF-8'?>",
                 '<osm version="0.6" generator="perfbench">',
                 ' <bounds minlat="22.3600000" minlon="114.1500000"'
                 ' maxlat="22.4300000" maxlon="114.2600000"/>']
        cnt = dict.fromkeys(
            ("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags", "update_history"), 0)
        node_ids: list[int] = []
        for _ in range(self.n_nodes):
            nid = next(ids)
            node_ids.append(nid)
            lat = 22.36 + rng.random() * 0.07
            lon = 114.15 + rng.random() * 0.11
            tags = self._node_tags()
            coords = f' lat="{lat:.7f}" lon="{lon:.7f}"'
            head = f" <node {self._attrs(nid, coords)}"
            if tags:
                lines.append(head + ">")
                lines += self._tag_lines(tags)
                lines.append(" </node>")
            else:
                lines.append(head + "/>")
            kept, cand, changed = self._count_tags(tags)
            cnt["nodes"] += 1
            cnt["nodes_tags"] += kept
            t.phone_candidates += cand
            t.phones_changed += changed
            cnt["update_history"] += changed > 0

        mix_names = [c for c, _ in self.STREET_MIX]
        mix_w = [w for _, w in self.STREET_MIX]
        t.categories = dict.fromkeys(mix_names, 0)
        n_ways = max(20, self.n_nodes // 7)
        way_ids: list[int] = []
        for _ in range(n_ways):
            wid = next(ids)
            way_ids.append(wid)
            n_nd = rng.randrange(2, 12)
            start = rng.randrange(len(node_ids) - n_nd)
            nds = node_ids[start:start + n_nd]
            if rng.random() < 0.1:
                nds = nds + [nds[0]]  # closed ring
            tags: list[tuple[str, str]] = []
            appended, repaired = 0, False
            kind = rng.random()
            if kind < 0.45:
                cat = rng.choices(mix_names, mix_w)[0]
                t.categories[cat] += 1
                t.street_ways += 1
                tags.append(("highway", rng.choice(STREET_CLASSES)))
                names, appended, audited = self._street_tags(cat)
                tags += names
                repaired = cat in self.REPAIRED
                t.street_audit += audited
                if rng.random() < 0.3:
                    tags.append(("lanes", str(rng.randrange(1, 5))))
            elif kind < 0.6:
                # non-street highway carrying official names: never repaired
                tags.append(("highway", rng.choice(OTHER_HIGHWAYS)))
                en, zh = rng.choice(self.official_good)
                tags += [("name:zh", zh), ("name", f"{zh} {en}")]
            elif kind < 0.85:
                tags.append(("building", rng.choice(("yes", "residential", "school"))))
                tags += self._phone_and_noise_tags()
            else:
                tags.append(("landuse", rng.choice(("grass", "residential", "park"))))
            lines.append(f' <way {self._attrs(wid)}>')
            lines += [f'  <nd ref="{n}"/>' for n in nds]
            lines += self._tag_lines(tags)
            lines.append(" </way>")
            kept, cand, changed = self._count_tags(tags)
            cnt["ways"] += 1
            cnt["ways_nodes"] += len(nds)
            cnt["ways_tags"] += kept + appended
            t.phone_candidates += cand
            t.phones_changed += changed
            cnt["update_history"] += (changed > 0) + repaired
            t.streets_repaired += repaired

        # relations: present in every real export, skipped by the ETL
        t.relations = max(3, n_ways // 8)
        for _ in range(t.relations):
            rid = next(ids)
            lines.append(f' <relation {self._attrs(rid)}>')
            for _m in range(rng.randrange(2, 6)):
                if rng.random() < 0.7:
                    lines.append(f'  <member type="way" ref="{rng.choice(way_ids)}" role="outer"/>')
                else:
                    lines.append(f'  <member type="node" ref="{rng.choice(node_ids)}" role="stop"/>')
            lines += self._tag_lines([("type", rng.choice(("route", "multipolygon"))),
                                      ("name", "Route " + str(rng.randrange(1, 99)))])
            lines.append(" </relation>")
        lines.append("</osm>")
        t.tables = cnt
        t.elements = cnt["nodes"] + cnt["ways"]
        return lines

    def psi_xml(self) -> str:
        out = ['<?xml version="1.0" encoding="UTF-8"?>', "<Data>"]
        for en, zh in self.psi_rows:
            zh_el = "" if zh is None else f"<Chinese_Street_Name>{escape(zh)}</Chinese_Street_Name>"
            out.append(f"<Row><English_Street_Name>{escape(en)}</English_Street_Name>"
                       f"{zh_el}<District_Code>ST</District_Code></Row>")
        out.append("</Data>")
        return "\n".join(out) + "\n"


def generate(seed: int, osm_path: str, psi_path: str, nodes: int = 6000) -> Truth:
    """Write ``osm_path`` (the export) and ``psi_path`` (the street list);
    return the planted truth. Same seed, same bytes."""
    gen = OsmGenerator(seed, nodes=nodes)
    gen.build_official(n_good=max(40, nodes // 40))
    lines = gen.export_lines()
    with open(osm_path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(psi_path, "w", encoding="utf-8") as fh:
        fh.write(gen.psi_xml())
    return gen.truth
