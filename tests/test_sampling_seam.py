"""Round-8 focused tests for the ADVICE correctness fixes.

1. ``_duckdb_cut`` must equal DuckDB's ``CAST(rate * 2^32 AS BIGINT)``
   for the interpolated literal ``str(rate)`` — the CAST-rounding
   dialect seam (Spark truncates, DuckDB rounds; ADVICE item 1): the
   Spark filter now uses this driver-computed integer so both engines
   keep the identical row set at every u32 value.
2. Stratum values (and oracle salts) containing quotes must not
   produce malformed SQL on either engine (ADVICE item 3).
3. ``kcore`` / ``bfs_depths`` must fail LOUD — never silently return
   an under-peeled core / truncated depths — when their round backstop
   is exhausted before the fixpoint (ADVICE item 2), matching
   ``connected_components`` and the oracle twins' error() guards.
"""

import duckdb
import pytest

from rdf_rdfxml_spark.operators.sampling import (
    U32, _duckdb_cut, _u32_expr, sample_oracle_sql, stratified_sample,
)


def test_duckdb_cut_matches_duckdb_cast():
    con = duckdb.connect()
    for rate in [0.8, 0.5, 0.25, 0.1, 0.05, 0.0, 1.0, 0.123456789,
                 0.3333333333333333, 0.30000000000000004, 0.999999999,
                 1 - 2 ** -32, 0.7, 0.9, 0.01, 0.001, 0.0001]:
        duck = con.execute(
            f"SELECT CAST({rate} * {U32} AS BIGINT)").fetchone()[0]
        assert _duckdb_cut(rate) == duck, rate


@pytest.mark.parametrize("rate", [1.5 / 2 ** 32, 1e-9, 2 ** -32, 1e-05])
def test_scientific_notation_rate_raises(rate):
    # str(rate) is scientific notation below 1e-4; DuckDB reads that
    # literal as a DOUBLE, not a DECIMAL, so the exact-decimal cut would
    # silently disagree (1.5 / 2**32: _duckdb_cut said 1, DuckDB 2).
    # Both sides of the seam refuse the rate instead.
    assert "e" in str(rate)
    with pytest.raises(ValueError, match="scientific notation"):
        _duckdb_cut(rate)
    with pytest.raises(ValueError, match="scientific notation"):
        sample_oracle_sql({"en": rate})
    with pytest.raises(ValueError, match="scientific notation"):
        sample_oracle_sql({"en": 0.5}, default_rate=rate)


def test_gated_rates_agree_with_frozen_oracle_thresholds():
    # The exact seam ADVICE verified: 0.8 truncates to ...836 in Spark
    # but the frozen oracle rounds to ...837. The driver-side cut must
    # be the oracle's value.
    assert _duckdb_cut(0.8) == 3435973837
    assert _duckdb_cut(0.1) == 429496730
    assert _duckdb_cut(0.05) == 214748365


def test_stratified_sample_cross_engine_keep_set(spark):
    # End-to-end: the Spark keep set equals the DuckDB keep set row for
    # row on a corpus large enough to exercise every gated stratum rate.
    rows = [(i, ["en", "zh", "es", "de", "fr"][i % 5]) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"en": 0.8, "zh": 0.5, "es": 0.25, "de": 0.1}
    got = {r["doc_id"] for r in
           stratified_sample(df, rates, default_rate=0.05).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, source VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    expr = "CAST(0.05 * 4294967296 AS BIGINT)"
    for stratum, rate in sorted(rates.items()):
        expr = (f"CASE WHEN source = '{stratum}' THEN "
                f"CAST({rate} * 4294967296 AS BIGINT) ELSE {expr} END")
    want = {r[0] for r in con.execute(f"""
        SELECT doc_id FROM documents
        WHERE CAST(('0x' || substring(md5('sample:v1' || ':' ||
              CAST(doc_id AS STRING)), 1, 8))::VARCHAR::UBIGINT AS BIGINT)
              < ({expr})""").fetchall()}
    assert got == want


def test_stratified_sample_quoted_stratum(spark):
    df = spark.createDataFrame([(1, "o'neill"), (2, "en")],
                               "doc_id long, source string")
    out = stratified_sample(df, {"o'neill": 1.0}, default_rate=0.0)
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_sample_oracle_sql_quoted_stratum_parses():
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, source VARCHAR)")
    con.execute("INSERT INTO documents VALUES (1, 'o''neill'), (2, 'en')")
    sql = sample_oracle_sql({"o'neill": 1.0}, default_rate=0.0)
    rows = con.execute(sql).fetchall()
    assert rows == [("o'neill", 1, 1)]


def test_sample_oracle_sql_unchanged_for_quote_free_values():
    # The escape must be a no-op on the gated oracle text (frozen this
    # round): quote-free strata/salt render byte-identically.
    sql = sample_oracle_sql({"en": 0.8, "de": 0.1}, default_rate=0.05)
    assert "''" not in sql


def test_u32_salt_with_quote_raises():
    # ValueError, not assert: ``python -O`` strips asserts, which would
    # reopen the quote-injection path
    with pytest.raises(ValueError):
        _u32_expr("o'neill", "doc_id")


def test_kcore_raises_without_fixpoint(spark):
    from rdf_rdfxml_spark.operators.graph import kcore
    # One peel round removes d; proving the fixpoint needs a second
    # round, so max_rounds=1 must refuse instead of returning the
    # (possibly under-peeled) round-1 survivors.
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string")
    with pytest.raises(ValueError, match="fixpoint"):
        kcore(df, 2, max_rounds=1)
    got = {(r["node"], r["core_deg"]) for r in
           kcore(df, 2, max_rounds=8).collect()}
    assert got == {("a", 2), ("b", 2), ("c", 2)}


def test_bfs_depths_raises_when_frontier_alive(spark):
    from rdf_rdfxml_spark.operators.graph import bfs_depths
    df = spark.createDataFrame(
        [("n0", "n1"), ("n1", "n2"), ("n2", "n3")],
        "src string, dst string")
    with pytest.raises(ValueError, match="frontier"):
        bfs_depths(df, "n0", max_depth=2)
    # max_depth bounds the reported depths: the depth-3 chain fits in 3
    got = {r["node"]: r["depth"] for r in
           bfs_depths(df, "n0", max_depth=3).collect()}
    assert got == {"n0": 0, "n1": 1, "n2": 2, "n3": 3}
