"""The CLI's ``explain``: several queries in one session, each plan
written to ``--out DIR/<query>.txt``; an unknown query exits non-zero
before any plan is written."""

from __future__ import annotations

import sys

import pytest

from etl_stack_spark import __main__ as cli
from etl_stack_spark import session
from tests.conftest import SF_SMOKE

QUERIES = ["a1_group_stats", "p4_clean_price"]


def _cli(monkeypatch, spark, *argv):
    # reuse the test session: a fresh get_spark would reset its confs
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(sys, "argv", ["etl_stack_spark", *argv])
    cli.main()


def test_explain_writes_one_plan_file_per_query(spark, tmp_path, monkeypatch, capsys):
    out = tmp_path / "plans"
    _cli(monkeypatch, spark, "explain", *QUERIES, "--sf", SF_SMOKE, "--out", str(out))
    assert sorted(p.name for p in out.iterdir()) == sorted(f"{q}.txt" for q in QUERIES)
    for q in QUERIES:
        assert "== Physical Plan ==" in (out / f"{q}.txt").read_text()
    assert capsys.readouterr().out.count("wrote ") == len(QUERIES)


def test_explain_unknown_query_exits_nonzero(spark, tmp_path, monkeypatch):
    out = tmp_path / "plans"
    with pytest.raises(SystemExit) as exc:
        _cli(monkeypatch, spark, "explain", QUERIES[0], "no_such_query", "--out", str(out))
    assert exc.value.code not in (0, None)
    assert "no_such_query" in str(exc.value.code)
    assert not out.exists()
