"""Driver-contract tests: every ``queries()`` entry with an oracle must
match DuckDB on row count, column names, and order-insensitive values at
sf0.001 (a pytest replica of the driver's correctness gate; the standalone
harness is scripts/selfcheck.py)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_name_lists_are_queries():
    """Every query has an oracle, and the bench headline and the plan
    audit's allow-lists name only registered queries."""
    import os
    from runpy import run_path

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = run_path(os.path.join(root, "bench.py"))
    audit = run_path(os.path.join(root, "scripts", "explain_audit.py"))
    assert set(ORACLES) == set(QUERIES)
    for names in (bench["HEADLINE"], audit["ALLOW_NESTED_LOOP"],
                  audit["ALLOW_GLOBAL_WINDOW"]):
        assert set(names) <= set(QUERIES), set(names) - set(QUERIES)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"uuid", "group_id", "name", "valid_at", "invalid_at"} <= \
        set(df.columns)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    got = _norm(QUERIES[name](spark, SF_DIR).toPandas())
    want = _norm(duck.execute(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want), (len(got), len(want))
    want = want.astype({c: str(got[c].dtype) for c in got.columns})
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
