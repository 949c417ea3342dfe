"""queries.py's per-application memos keep only the caller's application:
storing an entry drops every other applicationId's entries, so a stopped
session's plans and parsed expressions are not kept alive."""

from __future__ import annotations

from types import SimpleNamespace

from oxidizepdf_spark import queries


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_plan_memo_drops_other_applications(monkeypatch):
    monkeypatch.setattr(queries, "_PLAN_MEMO", {})
    a, b = _session("app-a"), _session("app-b")
    plan_a = queries._plan_memo(a, "docs", lambda: object())
    assert queries._plan_memo(a, "docs", lambda: object()) is plan_a
    queries._plan_memo(a, "emb", lambda: object())
    plan_b = queries._plan_memo(b, "docs", lambda: object())
    assert plan_b is not plan_a
    assert set(queries._PLAN_MEMO) == {("app-b", "docs")}
    # a hit stores nothing, so it evicts nothing
    queries._plan_memo(b, "docs", lambda: object())
    assert set(queries._PLAN_MEMO) == {("app-b", "docs")}


def test_expr_memo_drops_other_applications(monkeypatch):
    monkeypatch.setattr(queries, "_EXPR_MEMO", {})
    parsed = []
    monkeypatch.setattr(queries.F, "expr",
                        lambda sql: parsed.append(sql) or ("col", sql))
    a, b = _session("app-a"), _session("app-b")
    col = queries._expr_memo(a, "x + 1")
    assert queries._expr_memo(a, "x + 1") is col and parsed == ["x + 1"]
    queries._expr_memo(a, "y * 2")
    queries._expr_memo(b, "x + 1")
    assert parsed == ["x + 1", "y * 2", "x + 1"]
    assert set(queries._EXPR_MEMO) == {("app-b", "x + 1")}
