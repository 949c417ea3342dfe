"""queries.py's session cache (``queries._SESSION``) keeps only the
caller's application: storing a plan or expression drops every other
applicationId's entries, so a stopped session's plans and parsed
expressions are not kept alive; persisted relations are released through
the same owner."""

from __future__ import annotations

from types import SimpleNamespace

from oxidizepdf_spark import queries


def _session(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_plan_memo_drops_other_applications(monkeypatch):
    cache = queries.SessionCache()
    monkeypatch.setattr(queries, "_SESSION", cache)
    a, b = _session("app-a"), _session("app-b")
    plan_a = queries._SESSION.plan(a, "docs", lambda: object())
    assert queries._SESSION.plan(a, "docs", lambda: object()) is plan_a
    queries._SESSION.plan(a, "emb", lambda: object())
    plan_b = queries._SESSION.plan(b, "docs", lambda: object())
    assert plan_b is not plan_a
    assert set(cache.plans) == {("app-b", "docs")}
    # a hit stores nothing, so it evicts nothing
    queries._SESSION.plan(b, "docs", lambda: object())
    assert set(cache.plans) == {("app-b", "docs")}


def test_expr_memo_drops_other_applications(monkeypatch):
    cache = queries.SessionCache()
    monkeypatch.setattr(queries, "_SESSION", cache)
    parsed = []
    monkeypatch.setattr(queries.F, "expr",
                        lambda sql: parsed.append(sql) or ("col", sql))
    a, b = _session("app-a"), _session("app-b")
    col = queries._SESSION.expr(a, "x + 1")
    assert queries._SESSION.expr(a, "x + 1") is col and parsed == ["x + 1"]
    queries._SESSION.expr(a, "y * 2")
    queries._SESSION.expr(b, "x + 1")
    assert parsed == ["x + 1", "y * 2", "x + 1"]
    assert set(cache.exprs) == {("app-b", "x + 1")}


class _FakeFrame:
    def __init__(self, fail_unpersist: bool = False):
        self.persisted = False
        self.fail_unpersist = fail_unpersist

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self):
        if self.fail_unpersist:
            raise RuntimeError("session stopped")
        self.persisted = False


def test_release_persisted_through_owner(monkeypatch):
    """Relations a query builder persists are held by the session cache
    and released by ``release_persisted``, a stopped session's included;
    plans and expressions stay cached."""
    cache = queries.SessionCache()
    monkeypatch.setattr(queries, "_SESSION", cache)
    frames = [_FakeFrame(), _FakeFrame(fail_unpersist=True), _FakeFrame()]
    for df in frames:
        assert queries._SESSION.persist(df) is df and df.persisted
    queries._SESSION.plan(_session("app-a"), "docs", lambda: object())
    assert cache.persisted == frames
    assert queries.release_persisted() == 3
    assert cache.persisted == []
    assert [df.persisted for df in frames] == [False, True, False]
    assert queries.release_persisted() == 0
    assert set(cache.plans) == {("app-a", "docs")}
