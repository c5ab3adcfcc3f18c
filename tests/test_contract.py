"""Guard the driver contract: a fast subset of queries() vs oracle_sql()
compared exactly as the driver does (row count + sorted columns + values).
Full sweep: python tools/check_contract.py [sf_dir]."""

import math

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SUBSET = [
    "pricing_summary",
    "vocab",
    "bm25_retrieval",
    "bm25_retrieval_lang",
    "bm25_entity_boost",
    "entity_spans",
    "sessionize",
    "cosine_topk",
    "exact_dedup",
    "ngram_jaccard",
    "minhash_lsh",
    "simhash_dups",
    "dedup_survivors",
    "lang_id",
]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    from kgner.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, SF_DIR)
    scols, srows = _rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    res = duck.sql(ORACLES[name])
    ocols, orows = _rows(res.columns, res.fetchall())
    assert scols == ocols
    assert len(srows) == len(orows)
    assert srows == orows


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == ["subj", "pred", "obj", "url"]
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 25
