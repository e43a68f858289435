"""Every declared query hash-matches its DuckDB oracle (the t2 gate, run
locally at sf0.001 for speed; the driver re-runs at sf0.01)."""

from __future__ import annotations

import pytest

from cardano_analytics_duckdb_spark.operators import all_oracles, all_queries

from .oracle import compare, duck_connection
from .probes import session_state

QUERIES = all_queries()
ORACLES = all_oracles()


# Every query now carries a SQL oracle — the fixpoint operators check their
# RESULT via recursive-CTE closure (graph.py, dedup.py) and the sketch query
# via error-bound booleans (analytic.py); reference-impl tests
# (test_graph.py, test_properties.py) stay as additional guards.
NO_ORACLE_DECLARED: set[str] = set()


def test_every_query_has_an_oracle():
    missing = set(QUERIES) - set(ORACLES) - NO_ORACLE_DECLARED
    assert not missing, f"queries without oracle SQL: {missing}"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(set(QUERIES) - NO_ORACLE_DECLARED))
def test_oracle_match(spark, sf_dir, duck, name):
    before = session_state(spark)
    df = QUERIES[name](spark, sf_dir)
    compare(df, duck, ORACLES[name])
    # a query leaves the session as it found it: a cache() it does not
    # release pins executor memory for the rest of the session, a temp
    # view it registers holds its rows and replaces any caller view of the
    # same name, and a stream it leaves running keeps working
    assert session_state(spark) == before, f"{name} changed the session"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_output_schema_is_driver_canonicalizable(spark, sf_dir, name):
    """Driver-canonicalizer gate, enforced at the SCHEMA level.

    The driver's compare harness pandas-sorts every output column (arrays
    crash it: unhashable list cells) and collects timestamps through the
    session timezone (rendering differs from DuckDB's naive rendering).
    Arrays must ship as '|'-joined sorted strings, timestamps as
    unix_millis epochs — for every registered query, not just the ones
    currently inside the driver's check window.
    """
    from pyspark.sql import types as T

    schema = QUERIES[name](spark, sf_dir).schema
    for field in schema.fields:
        assert not isinstance(
            field.dataType, (T.ArrayType, T.MapType, T.StructType)
        ), f"{name}.{field.name}: nested type {field.dataType} crashes the driver canonicalizer"
        # timestamp_ntz is fine (naive on both engines, driver-proven in
        # r01); session-TZ-bearing TIMESTAMP is the one that diverges.
        assert not isinstance(
            field.dataType, (T.TimestampType, T.DateType)
        ), f"{name}.{field.name}: {field.dataType} renders session-timezone-dependently; emit unix_millis"


def test_register_views(spark, sf_dir):
    """S3: one temp view per table, queryable via spark.sql."""
    from cardano_analytics_duckdb_spark.lake.tables import (
        TESTDATA_TABLES,
        register_views,
    )

    register_views(spark, sf_dir, suffix="_view")
    for t in TESTDATA_TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {t}_view").first()["n"] > 0
        spark.catalog.dropTempView(f"{t}_view")


# A registered query is one plan: no caller passes anything beyond
# (spark, sf_dir), so an extra parameter can only select an unshipped
# shape.  bpe_vocab_merges is the one exception — its ``batch`` scale
# path is exercised by tests/test_bpe_batch.py.
EXTRA_PARAMS_ALLOWED = {"bpe_vocab_merges": ["rounds", "batch"]}


def test_registered_queries_take_only_spark_and_sf_dir():
    import inspect

    wrong = {}
    for name, fn in QUERIES.items():
        params = list(inspect.signature(fn).parameters)
        if params != ["spark", "sf_dir"] + EXTRA_PARAMS_ALLOWED.get(name, []):
            wrong[name] = params
    assert not wrong, f"registered queries with extra parameters: {wrong}"


def test_bpe_token_counts_null_text_matches_oracle(spark, tmp_path):
    """The testdata lakes have no null text, so null handling of the BPE
    Arrow kernel is pinned on a synthetic nullable ``documents`` lake:
    Spark and the DuckDB oracle agree, and the null row survives with
    null counts (not dropped, not zeros).  r13 ADVICE: the kernel used
    to raise TypeError here."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array(["a b c", None, "x1 !"], pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["s"] * 3, pa.string()),
            "n_chars": pa.array([5, 0, 4], pa.int64()),
        }
    )
    lake = tmp_path / "nulldocs"
    lake.mkdir()
    pq.write_table(tbl, lake / "documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{lake / 'documents.parquet'}')"
    )
    try:
        df = QUERIES["bpe_token_counts"](spark, str(lake))
        compare(df, con, ORACLES["bpe_token_counts"])
    finally:
        con.close()
    null_rows = [r for r in df.collect() if r["doc_id"] == 2]
    assert len(null_rows) == 1
    counts = null_rows[0].asDict()
    del counts["doc_id"]
    assert counts and all(v is None for v in counts.values()), counts
