"""A merge or a segment build runs its docs / doclens writes beside the
postings and termdict writes, ``query_json`` runs its hit, facet and
agg collectors side by side, and ``msearch``, ``multi_query`` and the
runnable aggs fan out one job per search, index or agg; a failure in
any of them must surface, also when another one fails too (one raise
must not drop a sibling's)."""

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators import merge as M
from sonar_tantivy_spark.operators.search import Searcher

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
]


@pytest.fixture()
def idx(spark, tmp_path):
    ix = IndexCatalog(spark, str(tmp_path)).create_index("m", SCHEMA)
    ix.add([{"body": "alpha beta"}, {"body": "beta gamma"}])
    ix.add([{"body": "gamma delta"}])
    ix.add([{"body": "delta alpha"}])
    return ix


def _failing(storage, monkeypatch, tables: set[str]) -> None:
    real = storage.write_table

    def write_table(df, epoch, table, *args, **kw):
        if table in tables:
            raise OSError(f"disk full writing {table}")
        return real(df, epoch, table, *args, **kw)

    monkeypatch.setattr(storage, "write_table", write_table)


def _report(exc: BaseException) -> str:
    return str(exc) + " ".join(getattr(exc, "__notes__", []))


@pytest.mark.parametrize("merge", [
    lambda ix: M.compact(ix),
    lambda ix: M.compact_to(ix, target_segments=1),
], ids=["compact", "compact_to"])
@pytest.mark.parametrize("tables", [{"docs"}, {"docs", "postings"}],
                         ids=["docs", "docs+postings"])
def test_every_write_error_surfaces(idx, monkeypatch, merge, tables):
    before = idx.storage.manifest()
    _failing(idx.storage, monkeypatch, tables)
    with pytest.raises(OSError) as ei:
        merge(idx)
    for t in tables:
        assert f"disk full writing {t}" in _report(ei.value)
    assert idx.storage.manifest() == before  # nothing committed


@pytest.mark.parametrize("tables", [
    {"docs"}, {"docs", "postings"}, {"docs", "doclens"},
    {"doclens", "termdict"},
], ids=["docs", "docs+postings", "docs+doclens", "doclens+termdict"])
def test_every_build_write_error_surfaces(idx, monkeypatch, tables):
    before = idx.storage.manifest()
    _failing(idx.storage, monkeypatch, tables)
    with pytest.raises(OSError) as ei:
        idx.add([{"body": "epsilon zeta"}])
    for t in tables:
        assert f"disk full writing {t}" in _report(ei.value)
    assert idx.storage.manifest() == before  # nothing committed


def test_query_json_surfaces_hits_and_aggs_errors(idx, monkeypatch):
    def failing(what):
        def raise_(*args, **kw):
            raise RuntimeError(f"{what} collector failed")
        return raise_

    monkeypatch.setattr(Searcher, "retrieve", failing("hits"))
    monkeypatch.setattr(Searcher, "aggregations", failing("aggs"))
    search = {"query": {"term": {"body": "alpha"}}, "limit": 5,
              "aggs": {"n": {"value_count": {"field": "body"}}}}
    with pytest.raises(RuntimeError) as ei:
        idx.query_json(search)
    report = _report(ei.value)
    assert "hits collector failed" in report
    assert "aggs collector failed" in report


def test_msearch_surfaces_every_search_error(idx, monkeypatch):
    def query_json(self, search):
        raise RuntimeError(f"search {search['tag']} failed")

    monkeypatch.setattr(type(idx), "query_json", query_json)
    with pytest.raises(RuntimeError) as ei:
        idx.msearch([{"tag": "one"}, {"tag": "two"}, {"tag": "three"}])
    report = _report(ei.value)
    for tag in ("one", "two", "three"):
        assert f"search {tag} failed" in report


def test_multi_query_surfaces_every_index_error(spark, tmp_path, idx,
                                                monkeypatch):
    cat = IndexCatalog(spark, str(tmp_path))
    cat.create_index("n", SCHEMA).add([{"body": "alpha"}])

    def query(self, q, limit=10, **kw):
        raise RuntimeError(f"index {self.name} failed")

    monkeypatch.setattr(type(idx), "query", query)
    with pytest.raises(RuntimeError) as ei:
        cat.multi_query("alpha", ["m", "n"])
    report = _report(ei.value)
    assert "index m failed" in report
    assert "index n failed" in report


def test_aggregations_surface_every_agg_error(idx, monkeypatch):
    def failing_family(self, name, kind, body, aggs):
        def run(matched, cands):
            raise RuntimeError(f"agg {name} failed")
        return set(), run

    monkeypatch.setitem(Searcher._AGG_FAMILIES, "value_count",
                        failing_family)
    search = {"query": {"term": {"body": "alpha"}}, "limit": 5,
              "aggs": {"a": {"value_count": {"field": "body"}},
                       "b": {"value_count": {"field": "body"}}}}
    with pytest.raises(RuntimeError) as ei:
        idx.query_json(search)
    report = _report(ei.value)
    assert "agg a failed" in report
    assert "agg b failed" in report
