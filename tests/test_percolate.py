"""Percolator (reverse search) — BEYOND-REFERENCE, ES percolate-query
shaped.  The load-bearing property is MEMBERSHIP PARITY with the search
path: for every supported query shape, percolate(corpus) marks doc d
for query q exactly when d is in the engine's (== the pure-Python
oracle's) full match set for q over the same corpus.  Plus: streaming
equivalence (the same map-only transform over readStream), plan shape
(zero exchanges), registry persistence, and registration-time
rejection of unsupported shapes."""

import pytest

from pyspark.sql import functions as F

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)
from tests.oracle import OracleIndex

N_TURNS = 1000

# name → saved query (grammar string or JSON DSL), one per supported
# node family.  Terms chosen to have non-trivial match sets in the
# deterministic transcript corpus.
QUERIES: dict[str, object] = {
    "p_term": {"term": {"text": "hello"}},
    "p_grammar": "+hello world",
    "p_terms": {"terms": {"text": ["hello", "mundo"]}},
    "p_prefix": "hel*",
    "p_wildcard": {"wildcard": {"text": "h?llo"}},
    "p_regex": {"regex": {"text": "wor.*"}},
    "p_fuzzy": {"fuzzy": {"text": {"value": "helo", "distance": 1}}},
    "p_phrase": {"phrase": {"text": {"terms": ["hello", "world"]}}},
    "p_slop": '"hello world"~2',
    "p_slop_unordered": {"phrase": {"text": {
        "terms": ["world", "hello"], "slop": 2, "in_order": False}}},
    "p_phrase_prefix": {"match_phrase_prefix": {"text": "hello wor"}},
    "p_span_near": {"span_near": {"clauses": [
        {"span_term": {"text": "hello"}},
        {"span_or": {"clauses": [{"span_term": {"text": "world"}},
                                 {"span_term": {"text": "mundo"}}]}}],
        "slop": 2, "in_order": True}},
    "p_span_first": {"span_first": {
        "match": {"span_term": {"text": "hello"}}, "end": 3}},
    "p_span_not": {"span_not": {
        "include": {"span_term": {"text": "hello"}},
        "exclude": {"span_term": {"text": "world"}}, "dist": 2}},
    "p_bool": {"bool": {
        "must": [{"term": {"text": "hello"}}],
        "must_not": [{"term": {"text": "mundo"}}],
        "filter": [{"term": {"role": "user"}}]}},
    "p_msm": {"bool": {"should": [{"term": {"text": "hello"}},
                                  {"term": {"text": "world"}},
                                  {"term": {"text": "needle"}}],
                       "minimum_should_match": 2}},
    "p_only_must_not": {"bool": {"must_not": [{"term": {"text": "hello"}}]}},
    "p_dismax": {"dis_max": {"queries": [{"term": {"text": "hello"}},
                                         {"term": {"text": "world"}}],
                             "tie_breaker": 0.3}},
    "p_const": {"constant_score": {
        "filter": {"term": {"text": "hello"}}, "boost": 2.0}},
    "p_boosting": {"boosting": {"positive": {"term": {"text": "hello"}},
                                "negative": {"term": {"text": "world"}},
                                "negative_boost": 0.3}},
    "p_exists_tool": {"exists": {"field": "tool"}},
    "p_range_ts": {"range": {"ts": {"gte": "2026-01-02 00:00:00",
                                    "lte": "2026-01-05 00:00:00"}}},
}


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts(N_TURNS)


@pytest.fixture(scope="module")
def oracle(corpus):
    docs = corpus.to_dict("records")
    return OracleIndex(docs, {"text": "en_stem", "role": "raw", "tool": "raw"})


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("idxperc"))
    cat = IndexCatalog(spark, base)
    idx = cat.create_index("transcripts", TRANSCRIPT_SCHEMA)
    for name, q in QUERIES.items():
        idx.register_query(name, q)
    return idx


@pytest.fixture(scope="module")
def percolated(spark, corpus, index):
    """(conv_id, turn_idx) → set of matched query names, computed once."""
    df = spark.createDataFrame(corpus)
    rows = index.percolate(df, keep_cols=["conv_id", "turn_idx"]).collect()
    out: dict[tuple, set] = {}
    for r in rows:
        out.setdefault((r["conv_id"], int(r["turn_idx"])), set()).add(
            r["query_name"])
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_membership_parity(name, corpus, oracle, index, percolated):
    node = index._parse_any(QUERIES[name])
    want = set(oracle.score(node))  # docid = position in the records list
    recs = corpus.to_dict("records")
    got = {d for d, rec in enumerate(recs)
           if name in percolated.get((rec["conv_id"], int(rec["turn_idx"])),
                                     set())}
    assert got == want, (name, sorted(got - want)[:5], sorted(want - got)[:5])


def test_only_must_not_matches_nothing(percolated):
    # tantivy pin: a bool with no positive clause matches NOTHING
    assert all("p_only_must_not" not in names
               for names in percolated.values())


def test_registry_persists_and_unregisters(spark, tmp_path):
    cat = IndexCatalog(spark, str(tmp_path))
    idx = cat.create_index("t", TRANSCRIPT_SCHEMA)
    idx.register_query("a", {"term": {"text": "hello"}})
    idx.register_query("b", "world")
    # re-open: the registry is a durable artifact, like the manifest
    idx2 = cat.open("t")
    assert list(idx2.registered_queries()) == ["a", "b"]
    assert idx2.unregister_query("a") is True
    assert idx2.unregister_query("a") is False
    assert list(cat.open("t").registered_queries()) == ["b"]


def test_rejects_unsupported_at_registration(spark, tmp_path):
    cat = IndexCatalog(spark, str(tmp_path))
    idx = cat.create_index("t", TRANSCRIPT_SCHEMA)
    with pytest.raises(A.QueryError, match="ids"):
        idx.register_query("bad1", {"ids": {"values": [0]}})
    with pytest.raises(A.QueryError, match="transpositions"):
        idx.register_query("bad2", {"fuzzy": {"text": {
            "value": "helo", "transposition": True}}})
    with pytest.raises(A.QueryError):
        idx.register_query("bad3", {"term": {"nosuchfield": "x"}})
    assert idx.registered_queries() == {}


def test_map_only_plan(spark, corpus, index):
    """The percolation plan must contain NO exchange: tokenize maps are
    in-row, predicates are projections — the property that makes the
    same transform streaming-safe and 100 TB-scan-shaped."""
    df = spark.createDataFrame(corpus)
    out = index.percolate(df, keep_cols=["conv_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_streaming_percolation_matches_batch(spark, corpus, index, tmp_path):
    """readStream → percolate → memory sink == batch percolate: the
    alerting shape, unchanged code path."""
    src = str(tmp_path / "stream_src")
    df = spark.createDataFrame(corpus)
    df.coalesce(4).write.parquet(src)

    stream = (spark.readStream.schema(df.schema).parquet(src))
    out = index.percolate(stream, keep_cols=["conv_id", "turn_idx"])
    q = (out.writeStream.format("memory").queryName("perc_alerts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r["conv_id"], int(r["turn_idx"]), r["query_name"])
           for r in spark.sql("select * from perc_alerts").collect()}
    want = {(r["conv_id"], int(r["turn_idx"]), r["query_name"])
            for r in index.percolate(
                df, keep_cols=["conv_id", "turn_idx"]).collect()}
    assert got == want and len(got) > 0


def test_non_exploded_shape(spark, corpus, index):
    df = spark.createDataFrame(corpus)
    out = index.percolate(df, keep_cols=["conv_id", "turn_idx"],
                          explode=False)
    assert out.count() == len(corpus)  # every doc kept, even 0-match
    assert dict(out.dtypes)["matched_queries"] == "array<string>"


# ------------------------------------------------- r6 position pruning
_PRUNED_SET = ("p_term", "p_prefix", "p_phrase", "p_slop",
               "p_slop_unordered", "p_span_near", "p_span_first",
               "p_span_not", "p_msm", "p_exists_tool")


def test_positions_plan_shapes(index):
    """The position-pruning plan keeps full positions only under
    phrase_prefix; phrase/span chain terms are enumerated exactly."""
    from sonar_tantivy_spark.operators.percolate import positions_plan

    nodes_full = {k: index._parse_any(QUERIES[k]) for k in QUERIES}
    plan_full = positions_plan(nodes_full, index.schema)
    assert plan_full["text"] is None  # p_phrase_prefix forces full

    nodes = {k: index._parse_any(QUERIES[k]) for k in _PRUNED_SET}
    plan = positions_plan(nodes, index.schema)
    assert plan["text"] == frozenset({"hello", "world", "mundo"})
    assert plan["tool"] == frozenset()  # exists: keys only


def test_membership_parity_under_position_pruning(spark, corpus, oracle,
                                                  index):
    """With no phrase_prefix registered, the tmap carries positions
    only for chain terms — phrase/span membership must still match the
    oracle exactly."""
    from sonar_tantivy_spark.operators.percolate import percolate_df

    nodes = {k: index._parse_any(QUERIES[k]) for k in _PRUNED_SET}
    df = spark.createDataFrame(corpus)
    rows = percolate_df(df, index.schema, nodes,
                        keep_cols=["conv_id", "turn_idx"]).collect()
    got: dict[tuple, set] = {}
    for r in rows:
        got.setdefault((r["conv_id"], int(r["turn_idx"])), set()).add(
            r["query_name"])
    recs = corpus.to_dict("records")
    for name in _PRUNED_SET:
        node = index._parse_any(QUERIES[name])
        want = set(oracle.score(node))
        have = {d for d, rec in enumerate(recs)
                if name in got.get((rec["conv_id"], int(rec["turn_idx"])),
                                   set())}
        assert have == want, (name, sorted(have ^ want)[:5])


# ---------------------------------------- positions_plan fails closed
_T = "text"
_CHAIN = A.PhraseQ(_T, ["hello", "world"], slop=1)
# one example per node kind _Compiler.compile accepts; a kind added to
# compile fails test_positions_plan_covers_every_compiled_kind until it
# gets an example here
_KIND_EXAMPLES = {
    "TermQ": A.TermQ(_T, "hello"),
    "TermSetQ": A.TermSetQ(_T, ["hello", "mundo"]),
    "PrefixQ": A.PrefixQ(_T, "wor"),
    "RegexQ": A.RegexQ(_T, "wor.*"),
    "FuzzyQ": A.FuzzyQ(_T, "helo", 1),
    "PhraseQ": _CHAIN,
    "PhrasePrefixQ": A.PhrasePrefixQ(_T, ["hello"], "wor"),
    "SpanNearQ": A.SpanNearQ(_T, [("hello",), ("world", "mundo")], slop=1),
    "SpanFirstQ": A.SpanFirstQ(A.SpanNearQ(_T, [("hello",), ("world",)]),
                               end=3),
    "SpanNotQ": A.SpanNotQ(_T, ("hello",), ("world",), pre=0, post=1),
    "ExistsQ": A.ExistsQ("tool"),
    "RangeQ": A.RangeQ("ts", gte="2026-01-02 00:00:00"),
    "AllQ": A.AllQ(),
    "BoolQ": A.BoolQ(must=[_CHAIN], must_not=[A.TermQ(_T, "mundo")]),
    "DisMaxQ": A.DisMaxQ([A.PhraseQ(_T, ["big", "world"]),
                          A.TermQ(_T, "mundo")]),
    "BoostQ": A.BoostQ(_CHAIN, 2.0),
    "ConstScoreQ": A.ConstScoreQ(
        A.SpanNearQ(_T, [("world",), ("hello",)], in_order=False)),
    "FunctionScoreQ": A.FunctionScoreQ(_CHAIN),
    "BoostingQ": A.BoostingQ(_CHAIN, A.PhraseQ(_T, ["big", "world"])),
}
_KIND_TEXTS = ["hello world", "world hello", "hello big world",
               "hello mundo", "big world hello world", "nothing here",
               "hello there world mundo", "helo wordy"]


def _compiled_kinds() -> set[str]:
    import inspect
    import re

    from sonar_tantivy_spark.operators.percolate import _Compiler

    return set(re.findall(r"\bA\.(\w+Q)\b",
                          inspect.getsource(_Compiler.compile)))


def test_positions_plan_covers_every_compiled_kind(spark, index,
                                                   monkeypatch):
    """Every node kind compile accepts matches the same docs under its
    position-pruning plan as with full positions on every field."""
    from datetime import datetime

    from sonar_tantivy_spark.operators import percolate as P

    assert _compiled_kinds() == set(_KIND_EXAMPLES)
    rows = [{"text": t, "role": "user", "tool": "grep" if i % 2 else None,
             "ts": datetime(2026, 1, 1 + i), "conv_id": "c",
             "turn_idx": i} for i, t in enumerate(_KIND_TEXTS)]
    df = spark.createDataFrame(
        rows, "text string, role string, tool string, ts timestamp, "
              "conv_id string, turn_idx long")

    def matches(node) -> list:
        return sorted(
            (r["turn_idx"], tuple(r["matched_queries"])) for r in
            P.percolate_df(df, index.schema, {"q": node},
                           keep_cols=["turn_idx"], explode=False).collect())

    planned = {k: matches(n) for k, n in _KIND_EXAMPLES.items()}
    full_plan = P.positions_plan

    def everything_full(queries, schema):
        return {f: None for f in full_plan(queries, schema)}

    monkeypatch.setattr(P, "positions_plan", everything_full)
    for kind, node in _KIND_EXAMPLES.items():
        assert planned[kind] == matches(node), kind
    # the examples are not vacuous: most match some but not all docs
    assert sum(0 < sum(1 for _, m in v if m) < len(_KIND_TEXTS)
               for v in planned.values()) >= len(_KIND_EXAMPLES) - 3


def test_positions_plan_fails_closed_on_unknown_kind(index, monkeypatch):
    """A node kind positions_plan does not know keeps full positions on
    every text field it references, instead of contributing no terms."""
    from dataclasses import dataclass

    from sonar_tantivy_spark.operators import percolate as P

    @dataclass
    class NewChainQ(A.Node):
        field: str

    monkeypatch.setattr(P, "_TEXTY", P._TEXTY + (NewChainQ,))
    node = A.BoolQ(must=[_CHAIN, NewChainQ(_T)],
                   should=[A.TermQ("role", "user")])
    plan = P.positions_plan({"q": node}, index.schema)
    assert plan == {_T: None, "role": frozenset()}
    known = P.positions_plan({"q": A.BoolQ(must=[_CHAIN])}, index.schema)
    assert known == {_T: frozenset({"hello", "world"})}


def test_module_imports_without_a_session():
    """Importing the percolator builds no Column: a bare interpreter with
    no SparkSession imports it cleanly."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c",
         "import sonar_tantivy_spark.operators.percolate"],
        cwd=root, capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
