"""The rare-clause skew guard (search.py) in the physical plan.

Phrase, span_near, span_containing and bool-of-terms semi-join their
scan against the rarest clause's keys when the guard fires.  Forced on
(``_SKEW_SPREAD=1``, ``_SKEW_MIN_SAVED_BYTES=0``) the plan carries a
broadcast LeftSemi join; forced off (``_SKEW_SPREAD=1<<40``) it carries
none; the hits are the same both ways."""

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators import search as S
from sonar_tantivy_spark.plans import ast as A

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "default"},
                 "stored": True}},
]

DOCS = [
    {"body": "alpha beta gamma"},
    {"body": "alpha gamma delta"},
    {"body": "alpha beta alpha gamma"},
    {"body": "gamma alpha beta"},
    {"body": "beta beta gamma"},
    {"body": "delta alpha beta gamma beta"},
]

SHAPES = {
    "phrase": {"phrase": {"body": {"terms": ["alpha", "beta"]}}},
    "span_near": {"span_near": {"clauses": [
        {"span_term": {"body": "alpha"}},
        {"span_or": {"clauses": [{"span_term": {"body": "beta"}},
                                 {"span_term": {"body": "delta"}}]}}],
        "slop": 1, "in_order": True}},
    "span_containing": {"span_containing": {
        "big": {"span_near": {"clauses": [
            {"span_term": {"body": "alpha"}},
            {"span_term": {"body": "beta"}}]}},
        "little": {"span_term": {"body": "beta"}}}},
    "bool_of_terms": {"bool": {
        "must": [{"term": {"body": "delta"}}, {"term": {"body": "gamma"}}],
        "should": [{"term": {"body": "beta"}}]}},
}


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    cat = IndexCatalog(spark, str(tmp_path_factory.mktemp("skewguard")))
    ix = cat.create_index("skew", SCHEMA)
    ix.add(DOCS[:3])
    ix.add(DOCS[3:])
    return ix


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _run(idx, shape):
    s = idx.searcher()
    cand = s.candidates(A.parse_json(SHAPES[shape], idx.schema))
    return _plan(cand), sorted(
        (r["segment_id"], r["docid"], r["score"]) for r in cand.collect())


@pytest.mark.parametrize("shape", list(SHAPES))
def test_skew_guard_forced_on_and_off(idx, monkeypatch, shape):
    monkeypatch.setattr(S, "_SKEW_SPREAD", 1)
    monkeypatch.setattr(S, "_SKEW_MIN_SAVED_BYTES", 0)
    on_plan, on_hits = _run(idx, shape)
    monkeypatch.setattr(S, "_SKEW_SPREAD", 1 << 40)
    off_plan, off_hits = _run(idx, shape)
    assert "BroadcastHashJoin LeftSemi" in on_plan
    assert "LeftSemi" not in off_plan
    assert on_hits, "the shape must match something to compare"
    assert on_hits == off_hits
