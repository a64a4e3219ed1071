"""Local replica of the driver's correctness gate: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at sf0.01,
compare row count, column names, and order-insensitive values
(SURVEY.md §5.2.5).

DTYPE-SENSITIVE ON PURPOSE: the driver canonicalizes pandas-side
(Spark toPandas vs DuckDB .df()) and its value hash distinguishes int
from float (round-1: DuckDB SUM(BIGINT)→HUGEINT→float64 hashed `2279.0`
against Spark's int64 `2279`) while being integer-width-insensitive
(int32 row_number vs BIGINT passed). The canon below replicates that:
ints of any width canonicalize equal, int-vs-float and
Decimal-vs-float do NOT — so local green predicts driver green.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _canon_cell(v):
    """Type-class-preserving repr: int (any width) == int, float != int,
    Decimal keeps its trailing zeros (so a Decimal-vs-float mismatch is
    VISIBLE here, exactly as it is in the driver hash)."""
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, pd.Timestamp):
        return "NULL" if pd.isna(v) else v.isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        return f"s:{v}"
    return repr(v)


def _canon_frame(df: pd.DataFrame) -> list[tuple[str, ...]]:
    df = df[sorted(df.columns)]
    return sorted(
        tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False)
    )


def _all_pairs():
    """Every registry row, the five retired from the scoreboard
    included: the same compare the correctness harness runs."""
    import __spark_entry__ as se

    return [(name, fn, sql) for name, (fn, sql, _live) in sorted(se._registry().items())]


def _assert_matches(spark, name, fn, sql):
    sdf = fn(spark, SF_DIR).toPandas()
    ddf = _duck().execute(sql).df()

    assert sorted(sdf.columns) == sorted(ddf.columns), f"{name}: column names differ"
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} vs {len(ddf)}"
    sn, dn = _canon_frame(sdf), _canon_frame(ddf)
    mismatches = [(a, b) for a, b in zip(sn, dn) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"spark={mismatches[0][0]} duckdb={mismatches[0][1]}"
    )


@pytest.mark.parametrize("name,fn,sql", _all_pairs(), ids=lambda p: p if isinstance(p, str) else "")
def test_query_matches_duckdb(spark, name, fn, sql):
    _assert_matches(spark, name, fn, sql)


def test_entry_smoke(spark):
    import __spark_entry__ as se

    df = se.entry(spark)
    assert df.count() > 0
    assert "spans" in df.columns


def test_registry_fits_driver_cap():
    """CORRECTNESS_r04 recorded exactly the first 50 of 51 registered
    entries — the driver harness caps at 50 and silently evicts the
    tail. Pin the registry at ≤50 with every entry exactly oracled so
    nothing green can fall off (r4 VERDICT next-round #1)."""
    import __spark_entry__ as se

    q = se.queries()
    o = se.oracle_sql()
    assert len(q) <= 50, f"registry has {len(q)} entries; driver caps at 50"
    assert set(o) == set(q), (
        f"oracle/query key mismatch: only-q={sorted(set(q) - set(o))} "
        f"only-o={sorted(set(o) - set(q))}"
    )
    # the r4 casualty must be registered well clear of the tail
    assert "multimodal_frame_index" in q
    # round-6 promotions must be ON the scoreboard, their retired
    # donors off it (pytest-pinned above instead)
    assert "repetition_stats" in o and "pii_redact" in o
    assert "ivf_ann_topk" not in q and "winnow_pairs_portable" not in q
    # 2nd wave
    assert "per_source_cap" in o and "spans_audit" in o
    assert "top_orders" not in q
    # MinHash and SimHash have one signature path each, which the
    # scoreboard rows check against the full generated oracles
    rows = se._registry()
    assert len(rows) == 55
    assert "minhash_lsh_dedup" not in rows and "simhash_portable" not in rows
    assert o["minhash_lsh_portable"].lstrip().startswith("WITH toks AS")
    assert o["simhash_near_dups"].lstrip().startswith("WITH toks AS")

