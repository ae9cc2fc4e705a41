"""Round-5 extra ES aggregations — engine vs exact pandas/python truth.

Kinds pinned here (Searcher.aggregations; reference behavior is the
published ES aggregation contract — toshi itself exposes only the facet
collector, search.rs:32-42, so everything below is BEYOND-REFERENCE
surface the next ES user reaches for):

  * multi_terms: tuple-keyed buckets, ONE hash aggregation, metric
    sub-aggs riding it; a doc missing ANY key field falls out.
  * weighted_avg: sum(v*w)/sum(w), null-dropping both sides.
  * rare_terms: doc_count <= max_doc_count tail, (count asc, key asc),
    driver-bounded by max_buckets.
  * median_absolute_deviation: exact median(|x - median|) by default.
  * boxplot: min/q1/q2/q3/max, exact interpolated percentiles.
  * string_stats: count/min/max/avg length + optional character-
    distribution Shannon entropy.
  * adjacency_matrix: per-filter buckets plus pairwise "a&b"
    intersections; empty intersections omitted (ES rule).
  * serial_diff: bucket[i] - bucket[i-lag]; first `lag` buckets bare.
  * bucket_script / bucket_selector: safe-arithmetic Painless subset
    over named buckets_path vars; missing operand -> skip (gap policy).
  * percentiles_bucket / extended_stats_bucket: sibling reduces.
"""

import math

import numpy as np
import pandas as pd
import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.plans import ast as A

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
    {"name": "cat", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "grp", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "tag", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
    {"name": "v", "type": "i64", "options": {"stored": True}},
    {"name": "w", "type": "i64", "options": {"stored": True}},
]

N = 240


def _docs() -> pd.DataFrame:
    rows = []
    for i in range(N):
        body = "alpha" if i % 4 != 3 else "beta"
        if i % 2 == 0:
            body += " extra"
        if i % 3 == 0:
            body += " bonus"
        rows.append({
            "body": body,
            "cat": f"c{i % 6}",
            "grp": f"g{i % 3}",
            "tag": f"t{i}" if i < 10 else "common",
            "v": (i * 7) % 101,
            "w": 1 + i % 5,
        })
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def docs():
    return _docs()


@pytest.fixture(scope="module")
def matched(docs):
    """Truth-side match set of {"term": {"body": "alpha"}}."""
    return docs[docs.index % 4 != 3]


@pytest.fixture(scope="module")
def index(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("aggextras"))
    cat = IndexCatalog(spark, base)
    idx = cat.create_index("aggx", SCHEMA)
    idx.add_df(spark.createDataFrame(docs),
               order_cols=["v", "body", "cat"], num_segments=3)
    return idx


def _aggs(index, aggs, query=None):
    res = index.query_json({"query": query or {"term": {"body": "alpha"}},
                            "limit": 0, "aggs": aggs})
    return res["aggs"]


def test_multi_terms_tuple_buckets_with_metric(index, matched):
    out = _aggs(index, {"mt": {"multi_terms": {
        "terms": [{"field": "cat"}, {"field": "grp"}],
        "size": 5,
        "aggs": {"mv": {"avg": {"field": "v"}}}}}})
    g = (matched.groupby(["cat", "grp"])
         .agg(doc_count=("v", "size"), mv=("v", "mean"))
         .reset_index()
         .sort_values(["doc_count", "cat", "grp"],
                      ascending=[False, True, True])
         .head(5))
    got = out["mt"]["buckets"]
    assert [(b["key"][0], b["key"][1], b["doc_count"]) for b in got] \
        == [(r.cat, r.grp, int(r.doc_count)) for r in g.itertuples()]
    for b, r in zip(got, g.itertuples()):
        assert b["mv"]["value"] == pytest.approx(r.mv)
        assert b["key_as_string"] == f"{r.cat}|{r.grp}"


def test_weighted_avg(index, matched):
    out = _aggs(index, {"wa": {"weighted_avg": {
        "value": {"field": "v"}, "weight": {"field": "w"}}}})
    truth = float((matched.v * matched.w).sum()) / float(matched.w.sum())
    assert out["wa"]["value"] == pytest.approx(truth)


def test_rare_terms_tail_order_and_cap(index, matched):
    out = _aggs(index, {"rt": {"rare_terms": {"field": "tag",
                                              "max_doc_count": 1}}})
    vc = matched["tag"].value_counts()
    rare = sorted(k for k, n in vc.items() if n <= 1)
    assert [(b["key"], b["doc_count"]) for b in out["rt"]["buckets"]] \
        == [(k, 1) for k in rare]
    # driver-bounded tail: max_buckets truncates
    out2 = _aggs(index, {"rt": {"rare_terms": {
        "field": "tag", "max_doc_count": 1, "max_buckets": 3}}})
    assert [b["key"] for b in out2["rt"]["buckets"]] == rare[:3]


def test_median_absolute_deviation_exact(index, matched):
    out = _aggs(index, {"mad": {"median_absolute_deviation":
                                {"field": "v"}}})
    med = float(np.median(matched.v))
    truth = float(np.median(np.abs(matched.v - med)))
    assert out["mad"]["value"] == pytest.approx(truth)


def test_boxplot_exact_quartiles(index, matched):
    out = _aggs(index, {"bx": {"boxplot": {"field": "v"}}})
    v = matched.v.astype(float)
    assert out["bx"]["min"] == v.min()
    assert out["bx"]["max"] == v.max()
    for q, k in ((0.25, "q1"), (0.5, "q2"), (0.75, "q3")):
        assert out["bx"][k] == pytest.approx(
            float(np.quantile(v, q)))  # linear interpolation both sides


def test_string_stats_lengths_and_entropy(index, matched):
    out = _aggs(index, {"ss": {"string_stats": {
        "field": "body", "show_distribution": True}}})
    lens = matched.body.str.len()
    assert out["ss"]["count"] == len(matched)
    assert out["ss"]["min_length"] == int(lens.min())
    assert out["ss"]["max_length"] == int(lens.max())
    assert out["ss"]["avg_length"] == pytest.approx(float(lens.mean()))
    chars = "".join(matched.body)
    from collections import Counter
    cnt = Counter(chars)
    tot = sum(cnt.values())
    truth = -sum((n / tot) * math.log2(n / tot) for n in cnt.values())
    assert out["ss"]["entropy"] == pytest.approx(truth)


def test_adjacency_matrix_pairwise(index, matched, docs):
    out = _aggs(index, {"am": {"adjacency_matrix": {"filters": {
        "ex": {"term": {"body": "extra"}},
        "bo": {"term": {"body": "bonus"}}}}}})
    ex = matched[matched.body.str.contains("extra")]
    bo = matched[matched.body.str.contains("bonus")]
    both = matched[matched.body.str.contains("extra")
                   & matched.body.str.contains("bonus")]
    got = {b["key"]: b["doc_count"] for b in out["am"]["buckets"]}
    assert got == {"bo": len(bo), "ex": len(ex), "bo&ex": len(both)}


def _hist_truth(matched, interval=10):
    hist = (matched.v // interval * interval).value_counts().sort_index()
    return [(float(k), int(n)) for k, n in hist.items()]


def test_serial_diff_lag2(index, matched):
    out = _aggs(index, {"h": {"histogram": {
        "field": "v", "interval": 10, "aggs": {
            "sd": {"serial_diff": {"buckets_path": "doc_count",
                                   "lag": 2}}}}}})
    truth = _hist_truth(matched)
    buckets = out["h"]["buckets"]
    assert [(b["key"], b["doc_count"]) for b in buckets] == truth
    for i, b in enumerate(buckets):
        if i < 2:
            assert "sd" not in b
        else:
            assert b["sd"]["value"] == pytest.approx(
                truth[i][1] - truth[i - 2][1])


def test_bucket_script_and_selector(index, matched):
    out = _aggs(index, {"h": {"histogram": {
        "field": "v", "interval": 10, "aggs": {
            "mv": {"avg": {"field": "w"}},
            "ratio": {"bucket_script": {
                "buckets_path": {"c": "doc_count", "m": "mv"},
                "script": "c / m * 10"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"c": "doc_count"},
                "script": "c >= 6"}}}}}})
    truth = [(k, n) for k, n in _hist_truth(matched) if n >= 6]
    buckets = out["h"]["buckets"]
    assert [(b["key"], b["doc_count"]) for b in buckets] == truth
    for b in buckets:
        assert b["ratio"]["value"] == pytest.approx(
            b["doc_count"] / b["mv"]["value"] * 10)


def test_sibling_percentiles_and_extended_stats_bucket(index, matched):
    out = _aggs(index, {
        "h": {"histogram": {"field": "v", "interval": 10}},
        "pb": {"percentiles_bucket": {"buckets_path": "h>doc_count",
                                      "percents": [50, 90]}},
        "xb": {"extended_stats_bucket": {"buckets_path": "h>doc_count"}}})
    counts = np.array([n for _, n in _hist_truth(matched)], dtype=float)
    assert out["pb"]["values"]["50.0"] == pytest.approx(
        float(np.percentile(counts, 50)))
    assert out["pb"]["values"]["90.0"] == pytest.approx(
        float(np.percentile(counts, 90)))
    xb = out["xb"]
    assert xb["count"] == len(counts)
    assert xb["avg"] == pytest.approx(counts.mean())
    assert xb["sum_of_squares"] == pytest.approx(float((counts ** 2).sum()))
    assert xb["variance"] == pytest.approx(float(counts.var()))
    assert xb["std_deviation"] == pytest.approx(float(counts.std()))


def test_validation_errors(index):
    with pytest.raises(A.QueryError):  # one-field multi_terms
        _aggs(index, {"x": {"multi_terms": {"terms": [{"field": "cat"}]}}})
    with pytest.raises(A.QueryError):  # weighted_avg on text
        _aggs(index, {"x": {"weighted_avg": {
            "value": {"field": "cat"}, "weight": {"field": "w"}}}})
    with pytest.raises(A.QueryError):  # '&' in adjacency filter name
        _aggs(index, {"x": {"adjacency_matrix": {"filters": {
            "a&b": {"term": {"body": "alpha"}}}}}})
    with pytest.raises(A.QueryError):  # unknown script variable
        _aggs(index, {"h": {"histogram": {
            "field": "v", "interval": 10, "aggs": {
                "s": {"bucket_script": {
                    "buckets_path": {"c": "doc_count"},
                    "script": "c + nosuch"}}}}}})
    with pytest.raises(A.QueryError):  # unsafe syntax rejected at parse
        _aggs(index, {"h": {"histogram": {
            "field": "v", "interval": 10, "aggs": {
                "s": {"bucket_script": {
                    "buckets_path": {"c": "doc_count"},
                    "script": "__import__('os')"}}}}}})
    with pytest.raises(A.QueryError):  # string_stats on numeric
        _aggs(index, {"x": {"string_stats": {"field": "v"}}})
    with pytest.raises(A.QueryError):  # boxplot on text
        _aggs(index, {"x": {"boxplot": {"field": "cat"}}})
    # the sub-agg typing rule holds under every bucket parent: a numeric
    # metric over a text field fails at the parent, before any Spark job
    with pytest.raises(A.QueryError):
        _aggs(index, {"x": {"composite": {
            "sources": [{"c": {"terms": {"field": "cat"}}}],
            "aggs": {"m": {"avg": {"field": "tag"}}}}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"x": {"multi_terms": {
            "terms": [{"field": "cat"}, {"field": "grp"}],
            "aggs": {"m": {"sum": {"field": "tag"}}}}}})


def test_unknown_kind_fails_at_validation(index, monkeypatch):
    """An unknown agg kind is refused while the request is validated,
    with a message naming it — no candidate set is planned first."""
    from sonar_tantivy_spark.operators.search import Searcher

    def planned(*a, **kw):
        raise AssertionError("candidates planned before validation")

    s = index.searcher()
    node = A.parse_json({"term": {"body": "alpha"}}, s.schema)
    monkeypatch.setattr(Searcher, "candidates", planned)
    for body in ({}, {"field": "v"}):
        with pytest.raises(A.QueryError, match="'foo'"):
            s.aggregations(node, {"x": {"foo": body}})


# hand-computed: body:alpha keeps i % 4 != 3, so over i % 12 the cat
# c0/c2/c4 buckets hold 40 docs each and c1/c3/c5 hold 20; grp follows
# cat (g = c mod 3)
def test_composite_applies_pipeline_sub_aggs(index):
    out = _aggs(index, {"c": {"composite": {
        "sources": [{"c": {"terms": {"field": "cat"}}}], "size": 4,
        "aggs": {"cs": {"cumulative_sum": {"buckets_path": "doc_count"}},
                 "dv": {"derivative": {"buckets_path": "doc_count"}}}}}})
    got = out["c"]["buckets"]
    assert [(b["key"]["c"], b["doc_count"]) for b in got] == [
        ("c0", 40), ("c1", 20), ("c2", 40), ("c3", 20)]
    assert [b["cs"]["value"] for b in got] == [40.0, 60.0, 100.0, 120.0]
    assert [b.get("dv", {}).get("value") for b in got] == [
        None, -20, 20, -20]
    assert out["c"]["after_key"] == {"c": "c3"}
    # a selector thins the page; the cursor stays the page's last key
    out = _aggs(index, {"c": {"composite": {
        "sources": [{"c": {"terms": {"field": "cat"}}}], "size": 4,
        "aggs": {"k": {"bucket_selector": {
            "buckets_path": {"n": "doc_count"}, "script": "n > 30"}}}}}})
    assert [b["key"]["c"] for b in out["c"]["buckets"]] == ["c0", "c2"]
    assert out["c"]["after_key"] == {"c": "c3"}


def test_multi_terms_applies_pipeline_sub_aggs(index):
    out = _aggs(index, {"mt": {"multi_terms": {
        "terms": [{"field": "cat"}, {"field": "grp"}], "size": 6,
        "aggs": {"cs": {"cumulative_sum": {"buckets_path": "doc_count"}},
                 "dv": {"derivative": {"buckets_path": "doc_count"}},
                 "top": {"bucket_sort": {"from": 1, "size": 4}}}}}})
    got = out["mt"]["buckets"]
    # bucket_sort runs last: from 1, size 4 over the six buckets
    assert [(b["key_as_string"], b["doc_count"]) for b in got] == [
        ("c2|g2", 40), ("c4|g1", 40), ("c1|g1", 20), ("c3|g0", 20)]
    assert [b["cs"]["value"] for b in got] == [80.0, 120.0, 140.0, 160.0]
    assert [b["dv"]["value"] for b in got] == [0, 0, -20, 0]


@pytest.mark.parametrize("kind,body", [
    ("filters", {"filters": {"a": {"term": {"body": "extra"}}}}),
    ("adjacency_matrix", {"filters": {"a": {"term": {"body": "extra"}}}}),
    ("top_metrics", {"metrics": [{"field": "v"}], "sort": {"w": "desc"}}),
    ("t_test", {"a": {"field": "v"}, "b": {"field": "w"}}),
    ("matrix_stats", {"fields": ["v", "w"]}),
    ("weighted_avg", {"value": {"field": "v"}, "weight": {"field": "w"}}),
    ("significant_terms", {"field": "body"}),
    ("significant_text", {"field": "body"}),
    ("auto_date_histogram", {"field": "v"}),
    ("max_bucket", {"buckets_path": "h>_count"}),
    ("stats_bucket", {"buckets_path": "h>_count"}),
])
def test_ignored_sub_agg_block_fails_at_validation(index, monkeypatch, kind,
                                                  body):
    """A kind that reads no ``aggs`` block refuses one while the request
    is validated, naming the agg — in body and in the ES sibling shape —
    instead of answering without it."""
    from sonar_tantivy_spark.operators.search import Searcher

    def planned(*a, **kw):
        raise AssertionError("candidates planned before validation")

    s = index.searcher()
    node = A.parse_json({"term": {"body": "alpha"}}, s.schema)
    monkeypatch.setattr(Searcher, "candidates", planned)
    sub = {"m": {"avg": {"field": "v"}}}
    hist = {"h": {"histogram": {"field": "v", "interval": 10}}}
    for spec in ({kind: dict(body, aggs=sub)}, {kind: body, "aggs": sub}):
        with pytest.raises(A.QueryError, match="'bad'.*takes no sub-aggs"):
            s.aggregations(node, {**hist, "bad": spec})
