"""Official bilingual street list — dimension-table pipeline.

Parity target: ``get_official_name_list`` + ``update_official_list``
(reference parse_clean_and_csv.py:310-356): capwords the English name
(F1), drop null names (P8), drop exact duplicate pairs (A2), eliminate
XOR-ambiguous rows (J2), apply the typo fix map (F2), drop Shenzhen
homonyms (P9).

Scale note (J2 rewrite): the reference runs an O(n²) nested loop over
the list. "Drop row i if some j shares exactly one of (eng, chi)" is,
after exact-pair dedup, equivalent to "keep rows whose eng is globally
unique AND whose chi is globally unique" — two window counts instead of
a self cross-join. Same result, linear + one shuffle, scales to any
dimension size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from udacity_data_wrangling_osm_case_study_spark.functions import names as N


def clean_official_streets(raw: DataFrame, apply_corrections: bool = True) -> DataFrame:
    """PSI rows → ``official(idx, eng, chi)``.

    ``apply_corrections=False`` reproduces the reference audit scripts'
    drift (they skip ``update_official_list`` — SURVEY.md §2.12).
    """
    df = raw.select(
        N.capwords(F.col("English_Street_Name")).alias("eng"),
        F.col("Chinese_Street_Name").alias("chi"),
    )
    # P8 null-drop, then A2 exact-pair dedup.
    df = df.dropna(subset=["eng", "chi"]).dropDuplicates(["eng", "chi"])
    # J2 rewrite: keep rows whose eng AND chi are globally unique.
    w_eng = Window.partitionBy("eng")
    w_chi = Window.partitionBy("chi")
    df = (
        df.withColumn("_n_eng", F.count("*").over(w_eng))
        .withColumn("_n_chi", F.count("*").over(w_chi))
        .filter((F.col("_n_eng") == 1) & (F.col("_n_chi") == 1))
        .drop("_n_eng", "_n_chi")
    )
    if apply_corrections:
        # F2 typo/case remap on both columns, then P9 blacklist.
        df = df.select(
            N.remap_values(F.col("eng"), N.OFFICIAL_NAME_FIXES).alias("eng"),
            N.remap_values(F.col("chi"), N.OFFICIAL_NAME_FIXES).alias("chi"),
        ).filter(~F.col("chi").isin(N.SZ_STREET_NAMES))
    # Stable surrogate index (reference enumerates list order; any
    # deterministic unique id works — only used as a join key).
    return df.withColumn(
        "idx", F.xxhash64(F.col("eng"), F.col("chi"))
    ).select("idx", "eng", "chi")


def name_lookup_table(official: DataFrame) -> DataFrame:
    """The ``(name, idx)`` probe table of the audits' J1 — the
    :func:`name_dimension` without the canonical names."""
    return name_dimension(official).select("name", "idx")


def name_dimension(official: DataFrame) -> DataFrame:
    """Melt both language columns into one probe dimension ``(name,
    idx, eng, chi)`` — the broadcast build side of J1 (reference
    ``create_lookups``, parse_clean_and_csv.py:358-374, keys one dict by
    both languages). It carries the matched row's canonical names, so
    one broadcast probe answers both "which row" and "what to write".

    One idx per name, like the dict: a name that lands twice (e.g. a
    typo correction colliding with an existing row, or a cross-language
    homonym) is collapsed to a single winner, mirroring the reference's
    dict-overwrite — otherwise the repair would count 2 matches and
    skip a way the reference repairs. The winner is max(idx)
    (deterministic surrogate; rows sharing an idx share their names)
    where the reference keeps last list order; both are arbitrary picks
    among colliding rows (documented divergence, no collision exists in
    the shipped sample)."""
    row = F.struct("idx", "eng", "chi")
    eng = official.select(F.col("eng").alias("name"), row.alias("r"))
    chi = official.select(F.col("chi").alias("name"), row.alias("r"))
    return (
        eng.unionByName(chi)
        .groupBy("name")
        .agg(F.max("r").alias("r"))
        .select("name", "r.idx", "r.eng", "r.chi")
        # a few thousand rows: one partition, so materializing and
        # broadcasting it runs one task, not one per shuffle partition
        .coalesce(1)
    )
