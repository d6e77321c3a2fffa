"""Output checks, run outside the timed region.

Query results are compared with a DuckDB run of the same question over
the same files, the way ``tools/check_oracle.py`` compares a registry
query with its oracle: order-insensitive, same row count and column
names, exact for integers and strings, 1e-9 relative for floats. Its
dtype and float-exactness flags are left out: they guard a hash of the
rendered values, which a benchmark does not take.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from tools.check_oracle import normalize

OSM_TABLES = ("nodes", "nodes_tags", "ways", "ways_nodes", "ways_tags", "update_history")


def compare(mine: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    """Problems found between two results; empty when they agree."""
    if len(mine) != len(oracle):
        return [f"row count {len(mine)} vs {len(oracle)}"]
    a, b = normalize(mine), normalize(oracle)
    if list(a.columns) != list(b.columns):
        return [f"columns {list(a.columns)} vs {list(b.columns)}"]
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = pd.to_numeric(av, errors="coerce").astype(float)
            bv = pd.to_numeric(bv, errors="coerce").astype(float)
            ok = np.isclose(av, bv, rtol=1e-9, atol=1e-12) | (av.isna() & bv.isna())
        else:
            ok = av.astype(str) == bv.astype(str)
        if not ok.all():
            i = int(np.argmin(ok.values))
            problems.append(f"col {c}: sorted row {i}: {av[i]!r} vs {bv[i]!r}")
    return problems


def osm_connection(parquet_dir: str) -> duckdb.DuckDBPyConnection:
    """Views over the ETL's parquet output, named like the Spark views.
    Hive partitioning restores a column the writer moved into directory
    names (the tag tables are partitioned by tag type).

    Spark's ``to_timestamp(string)`` parses ISO-8601 text; DuckDB's takes
    epoch seconds, so a macro gives the exploration SQL Spark's meaning.
    """
    con = duckdb.connect()
    for t in OSM_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
            f"'{parquet_dir}/{t}/**/*.parquet', hive_partitioning = true)")
    con.execute("CREATE MACRO to_timestamp(s) AS CAST(s AS TIMESTAMP)")
    return con


def table_counts(parquet_dir: str) -> dict[str, int]:
    con = osm_connection(parquet_dir)
    try:
        return {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in OSM_TABLES}
    finally:
        con.close()
