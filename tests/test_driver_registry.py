"""The driver contract in ``__spark_entry__`` without a Spark session: the
registry's shape, and that each oracle is built only when asked for."""

from __future__ import annotations

import pytest

import __spark_entry__ as E


def test_gate_window_and_extras_are_disjoint():
    gated, extras = E.queries(), E.extra_queries()
    assert 0 < len(gated) <= 50
    assert not set(gated) & set(extras)
    assert callable(E.entry)


def test_every_gated_query_has_an_oracle():
    oracles = E.oracle_sql()
    assert list(oracles) == list(E.queries())
    assert all(isinstance(sql, str) and sql.strip()
               for sql in oracles.values())


def test_rdfxml_write_is_the_only_extra_without_an_oracle():
    extras = E.extra_queries()
    assert set(extras) - set(E.extra_oracle_sql()) == {"rdfxml_write"}


def test_oracle_sql_builds_no_extra_oracle(monkeypatch):
    def refuse():
        raise AssertionError("an extra's oracle was built")

    monkeypatch.setattr(E, "QUERIES", tuple(
        q if q.gated or q.oracle is None else q._replace(oracle=refuse)
        for q in E.QUERIES))
    assert list(E.oracle_sql()) == list(E.queries())
    with pytest.raises(AssertionError, match="extra's oracle"):
        E.extra_oracle_sql()
