"""The DuckDB oracle comparison behind the correctness gate.

``tests/test_oracles.py`` runs every ``queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
them with ``problems``: row count, column names, and an order-insensitive
value hash, with the differing columns' first values on a mismatch so
precision hazards show. The test runs at sf0.001 by default; another scale
goes through ``SPARK_GRAFT_TEST_SF_DIR`` (``make oracle``: sf0.01).
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical string form per cell (stable across engines for exact values)
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(cell_str)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def cell_str(v) -> str:
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return "<NULL>"
    if pd.api.types.is_scalar(v) and pd.isna(v):
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(df: pd.DataFrame) -> str:
    c = canon(df)
    h = hashlib.md5()
    h.update(("|".join(c.columns) + "\n").encode())
    for row in c.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def problems(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """How a Spark result differs from its oracle's: row count, column
    names (case-insensitive), order-insensitive value hash, and for a hash
    mismatch the differing columns with up to 3 example value pairs for the
    first two. Empty when they agree."""
    out = []
    if len(sdf) != len(odf):
        out.append(f"rowcount {len(sdf)} vs {len(odf)}")
    if sorted(map(str.lower, sdf.columns)) != sorted(map(str.lower, odf.columns)):
        out.append(f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}")
    if out:
        return out
    sdf = sdf.rename(columns=str.lower)
    odf = odf.rename(columns=str.lower)
    if value_hash(sdf) != value_hash(odf):
        out.append("value-hash mismatch")
        cs, co = canon(sdf), canon(odf)
        diff_cols = [c for c in cs.columns if not cs[c].equals(co[c])]
        out.append(f"differing columns: {diff_cols}")
        for c in diff_cols[:2]:
            mask = cs[c] != co[c]
            out.append(f"  {c}: {list(zip(cs[c][mask].head(3), co[c][mask].head(3)))}")
    return out


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con

