"""Local mirror of the driver's correctness gate: every queries() entry has
an oracle_sql() and must match DuckDB row-for-row (order-insensitive,
columns sorted by name) at sf0.001."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # stringify for robust value comparison (mirrors a value-hash)
    out = df.astype(str).sort_values(by=list(df.columns)).reset_index(drop=True)
    return out


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    spark_pd = q(spark, SF_DIR).toPandas()
    duck_pd = duck.sql(entry_mod.oracle_sql()[name]).df()
    a, b = _normalize(spark_pd), _normalize(duck_pd)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        diff = pd.concat([a, b]).drop_duplicates(keep=False)
        raise AssertionError(f"{name}: value mismatch, sample diff:\n{diff.head(10)}")


def test_every_entry_query_has_an_oracle():
    assert set(entry_mod.queries()) == set(entry_mod.oracle_sql())


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0


def test_ngram_hot_gram_cap_star_lockstep(spark, tmp_path):
    """A min-gram shared by > _MINGRAM_HOT docs emits star candidates (O(g))
    instead of the g^2/2 self-join — and the SQL oracle implements the SAME
    rule, so both engines return the star pair set, not the clique."""
    import duckdb as ddb
    import pandas as pd

    from deduplicate_spark.entry_queries import q_dd_ngram_jaccard_pairs, SQL_DD_NGRAM

    n = 80  # > _MINGRAM_HOT = 64
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    pd.DataFrame({"doc_id": list(range(n)), "text": [text] * n}).to_parquet(
        str(tmp_path / "documents.parquet")
    )

    spark_pairs = {
        (r.a, r.b) for r in q_dd_ngram_jaccard_pairs(spark, str(tmp_path)).collect()
    }
    con = ddb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    duck_pairs = {(int(a), int(b)) for a, b in con.sql(SQL_DD_NGRAM).fetchall()}

    star = {(0, i) for i in range(1, n)}
    assert spark_pairs == star  # O(n) stars, not the n(n-1)/2 clique
    assert duck_pairs == star   # oracle applies the identical cap
