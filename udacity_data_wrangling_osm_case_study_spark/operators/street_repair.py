"""Street-name repair — the reference's hardest operator, Spark-first.

Parity target: ``is_street`` / ``get_street_names`` / ``name_look_up`` /
``fix_street_names`` (reference parse_clean_and_csv.py:380-485):

1. P5 street gate: a way qualifies iff it has a ``highway`` tag whose
   value is one of 12 street classes.
2. A5 variant pivot: up to 4 name variants per way — ``name:en``,
   ``name:zh``, and the English/Chinese runs regex-split out of the
   combined ``name`` value. The reference builds a per-way dict, so a
   repeated variant keeps the LAST tag ("dict overwrite").
3. J1 broadcast lookup: probe every variant into the official list
   keyed by BOTH languages; per way, collect the set of matched rows.
4. Exactly-one-match gate: only an unambiguous way is repaired.
5. F5 overwrite-or-insert: set ``name:en`` / ``name:zh`` / ``name``
   (= ``chi + ' ' + eng``) to the canonical values, appending any
   missing tag; flag the way as updated if anything changed.

Scale shape: like the reference's per-element loop, the repair is
row-local. Every <way> row carries its whole ``tag`` array, so
:func:`repair_street_names` runs all five steps on that array: the
gate and the last-wins picks are array expressions, the four probes
are broadcast hash joins against the name dimension
(:func:`official_streets.name_dimension`, a few thousand rows), and the
overwrite/append and the changed flag are one ``transform``/``concat``
per way. The fact side is never exchanged: no groupBy, no shuffled
join, no re-join of the exploded tags. The EAV helpers below
(:func:`street_ids`, :func:`street_name_variants`,
:func:`match_variants`) serve the audits, which report per variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.functions import names as N

# Highway classes that make a way a government-named street
# (reference STREET_VALUES, parse_clean_and_csv.py:72-76).
STREET_VALUES = [
    "motorway", "trunk", "primary", "secondary", "tertiary",
    "residential", "living_street", "pedestrian", "track",
    "road", "steps", "path",
]

# Per-way flag column of the repaired frame: did any name tag change?
CHANGED = "_name_changed"

# The name variants, in probe order.
VARIANTS = ("en_only", "zh_only", "reg_eng", "reg_chi")

# Raw tag keys of the three name shapes the repair writes, keyed by the
# raw key it appends when the shape is missing. The shaped tables see
# (type, key) after the first-colon split, under which 'regular:name'
# is indistinguishable from a plain 'name' — so both count as present.
_SHAPE_KEYS = {
    "name:en": ("name:en",),
    "name:zh": ("name:zh",),
    "name": ("name", "regular:name"),
}


def street_ids(ways_tags: DataFrame) -> DataFrame:
    """P5: ids of ways carrying a street-class highway tag."""
    return (
        ways_tags.filter(
            (F.col("key") == "highway") & F.col("value").isin(STREET_VALUES)
        )
        .select("id")
        .distinct()
    )


def street_name_variants(ways_tags_pos: DataFrame) -> DataFrame:
    """A5: melt each street way's tags into (id, variant, name) rows.

    ``ways_tags_pos`` must carry the in-element tag ordinal ``pos``
    (dict-overwrite parity: last tag of a shape wins).
    """
    t = ways_tags_pos.join(street_ids(ways_tags_pos), "id", "left_semi")
    is_en = (F.col("type") == "name") & (F.col("key") == "en")
    is_zh = (F.col("type") == "name") & (F.col("key") == "zh")
    reg = t.filter((F.col("type") == "regular") & (F.col("key") == "name"))
    en = t.filter(is_en).select(
        "id", F.lit("en_only").alias("variant"), F.col("value").alias("name"), "pos"
    )
    zh = t.filter(is_zh).select(
        "id", F.lit("zh_only").alias("variant"), F.col("value").alias("name"), "pos"
    )
    reg_eng = reg.select(
        "id",
        F.lit("reg_eng").alias("variant"),
        N.extract_english_name(F.col("value")).alias("name"),
        "pos",
    ).filter(F.col("name").isNotNull())
    reg_chi = reg.select(
        "id",
        F.lit("reg_chi").alias("variant"),
        N.extract_chinese_name(F.col("value")).alias("name"),
        "pos",
    ).filter(F.col("name").isNotNull())
    melted = en.unionByName(zh).unionByName(reg_eng).unionByName(reg_chi)
    return melted.groupBy("id", "variant").agg(F.max_by("name", "pos").alias("name"))


def _is_street(tag: Column) -> Column:
    return F.exists(
        tag, lambda t: (t["_k"] == "highway") & t["_v"].isin(STREET_VALUES)
    )


def _has_key(tag: Column, raw_keys: tuple[str, ...]) -> Column:
    return F.exists(tag, lambda t: t["_k"].isin(*raw_keys))


def _variant_names(tag: Column) -> dict[str, Column]:
    """A5 on one way's raw tag array: variant -> last-wins name (NULL
    when absent). The raw keys are exact: 'name:en'/'name:zh' are the
    only keys that first-colon-split to (name, en/zh), and none of the
    name keys contain problem chars, so the P2 filter cannot affect
    them."""

    def last_value(key: str) -> Column:
        vals = F.filter(tag, lambda t: t["_k"] == key)
        return F.try_element_at(vals, F.lit(-1))["_v"]

    def last_extract(extract_fn) -> Column:
        reg_vals = F.transform(
            F.filter(tag, lambda t: t["_k"] == "name"),
            lambda t: extract_fn(t["_v"]),
        )
        non_null = F.filter(reg_vals, lambda x: x.isNotNull())
        return F.try_element_at(non_null, F.lit(-1))

    return {
        "en_only": last_value("name:en"),
        "zh_only": last_value("name:zh"),
        "reg_eng": last_extract(N.extract_english_name),
        "reg_chi": last_extract(N.extract_chinese_name),
    }


def street_name_variants_raw(ways_raw: DataFrame) -> DataFrame:
    """A5 computed ROW-LOCALLY on the raw nested tag arrays — same
    output as :func:`street_name_variants`, zero shuffle: only the
    street ways explode into (id, variant, name)."""
    tag = F.col("tag")
    picks = _variant_names(tag)
    variants = F.array(
        *(
            F.struct(F.lit(v).alias("variant"), picks[v].alias("name"))
            for v in VARIANTS
        )
    )
    return (
        ways_raw.filter(tag.isNotNull() & _is_street(tag))
        .select(
            F.expr("try_cast(_id AS bigint)").alias("id"),
            F.explode(variants).alias("v"),
        )
        .select("id", F.col("v.variant").alias("variant"), F.col("v.name").alias("name"))
        .filter(F.col("name").isNotNull())
    )


def match_variants(variants: DataFrame, lookup: DataFrame) -> DataFrame:
    """J1 + A4: probe variants into the broadcast name→idx table; per
    way collect matched official indexes and count misses."""
    probed = variants.join(F.broadcast(lookup), "name", "left")
    return probed.groupBy("id").agg(
        F.collect_set("idx").alias("matches"),
        F.sum(F.when(F.col("idx").isNull(), 1).otherwise(0)).alias("not_found"),
        F.count("*").alias("n_variants"),
    )


def repair_street_names(
    ways_raw: DataFrame, names: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """F5 overwrite-or-insert on the raw way rows. Returns
    ``(repaired, name_ids)``.

    ``names`` is the ``(name, idx, eng, chi)`` dimension of
    :func:`official_streets.name_dimension`; materialize it once
    before calling (it is the build side of four broadcasts).
    ``repaired`` is ``ways_raw`` with each uniquely-matched street
    way's ``tag`` array rewritten, plus the boolean :data:`CHANGED`
    column; ``name_ids`` (:func:`changed_ids`) has one ``id`` row per
    changed way — the 'name' CDC feed (S4). Both read ``repaired``, so
    a caller that caches ``repaired`` runs the probes once.
    """
    tag = F.col("tag")
    picks = _variant_names(tag)
    street = tag.isNotNull() & _is_street(tag)
    cols = ways_raw.columns
    probed = ways_raw.select(
        *cols,
        *(F.when(street, picks[v]).alias(f"_probe_{v}") for v in VARIANTS),
    )
    # J1: one broadcast hash join per variant; NULL probes never match.
    # Each join broadcasts the materialized one-partition dimension: a
    # one-task job, no exchange on the way side.
    dim = F.broadcast(
        names.select(F.col("name").alias("_dim"), F.struct("idx", "eng", "chi").alias("_hit"))
    )
    for v in VARIANTS:
        probed = probed.join(dim, F.col(f"_probe_{v}") == F.col("_dim"), "left").select(
            *probed.columns, F.col("_hit").alias(f"_hit_{v}")
        )
    hits = F.array_distinct(
        F.filter(
            F.array(*(F.col(f"_hit_{v}") for v in VARIANTS)), lambda h: h.isNotNull()
        )
    )
    canon = F.when(F.size(hits) == 1, hits[0])  # exactly-one-match gate

    eng, chi = canon["eng"], canon["chi"]
    values = {"name:en": eng, "name:zh": chi, "name": N.combined_name(chi, eng)}

    def overwrite(t: Column) -> Column:
        v = t["_v"]
        for shape, raw_keys in _SHAPE_KEYS.items():
            v = F.when(t["_k"].isin(*raw_keys), values[shape]).otherwise(v)
        return t.withField("_v", v)

    appends = F.array(
        *(
            F.struct(
                _has_key(tag, raw_keys).alias("present"),
                F.struct(F.lit(shape).alias("_k"), values[shape].alias("_v")).alias("t"),
            )
            for shape, raw_keys in _SHAPE_KEYS.items()
        )
    )
    missing = F.transform(F.filter(appends, lambda a: ~a["present"]), lambda a: a["t"])
    new_tag = (
        F.when(canon.isNotNull(), F.concat(F.transform(tag, overwrite), missing))
        .otherwise(tag)
    )
    fixed = probed.select(*cols, new_tag.alias("_new_tag"))
    # The flag compares whole arrays in a later projection, so it sees
    # exactly the array the sinks will read.
    repaired = fixed.select(
        *(F.col("_new_tag").alias("tag") if c == "tag" else F.col(c) for c in cols),
        (~F.col("_new_tag").eqNullSafe(F.col("tag"))).alias(CHANGED),
    )
    return repaired, changed_ids(repaired)


def changed_ids(repaired: DataFrame) -> DataFrame:
    """The 'name' CDC ids of a repaired frame: one ``id`` row per way
    whose tags the repair changed."""
    return repaired.filter(F.col(CHANGED)).select(
        F.expr("try_cast(_id AS bigint)").alias("id")
    )
