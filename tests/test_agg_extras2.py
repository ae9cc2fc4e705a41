"""Round-5 aggregation batch 2 — engine vs exact pandas/numpy truth.

Kinds pinned here (Searcher.aggregations; BEYOND-REFERENCE — toshi
exposes only the facet collector, search.rs:32-42):

  * sampler: sub-aggs over the best-scoring shard_size docs PER
    SEGMENT (the engine's shard), rank = (score desc, docid asc) —
    deterministic where ES is shard-layout-dependent.
  * auto_date_histogram: smallest calendar unit from a pinned ladder
    (month=30d, year=365d estimates) keeping bucket count <= target,
    then exact date_trunc buckets.
  * top_metrics: metric fields of the top ``size`` docs under an
    explicit field sort, ONE TakeOrderedAndProject.
  * t_test: paired / homoscedastic / heteroscedastic (Welch) t
    statistic between two numeric fields; rows missing either drop.
  * matrix_stats: listwise-deleted per-field moments + sample
    covariance/correlation matrix; skew/kurtosis per Spark's
    population g1/g2-excess definitions (pinned, asserted vs numpy).
"""

import datetime
import math

import numpy as np
import pandas as pd
import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)
from tests.oracle import OracleIndex

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
    {"name": "v", "type": "i64", "options": {"stored": True}},
    {"name": "w", "type": "i64", "options": {"stored": True}},
    {"name": "ts", "type": "date", "options": {"fast": True, "stored": True}},
]

N = 200


def _docs() -> pd.DataFrame:
    t0 = datetime.datetime(2026, 1, 1)
    rows = []
    for i in range(N):
        rows.append({
            "body": "alpha" if i % 4 != 3 else "beta",
            "v": (i * 7) % 101,
            "w": (i * 13) % 89 + (1 if i % 5 == 0 else 0),
            "ts": t0 + datetime.timedelta(minutes=3 * i),
        })
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def docs():
    return _docs()


@pytest.fixture(scope="module")
def matched(docs):
    return docs[docs.index % 4 != 3]


@pytest.fixture(scope="module")
def index(spark, docs, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("aggextras2"))
    cat = IndexCatalog(spark, base)
    idx = cat.create_index("aggx2", SCHEMA)
    idx.add_df(spark.createDataFrame(docs),
               order_cols=["v", "body", "w"], num_segments=3)
    return idx


def _aggs(index, aggs, query=None):
    res = index.query_json({"query": query or {"term": {"body": "alpha"}},
                            "limit": 0, "aggs": aggs})
    return res["aggs"]


# top_metrics ---------------------------------------------------------------

def test_top_metrics_top1_and_topn(index, matched):
    # sort on ts (strictly increasing → tie-free; the engine's
    # (segment_id, docid) tie-break is pinned but segment-layout-shaped)
    out = _aggs(index, {"tm": {"top_metrics": {
        "metrics": [{"field": "v"}, {"field": "w"}],
        "sort": {"ts": "desc"}, "size": 3}}})
    truth = matched.sort_values("ts", ascending=False).head(3)
    got = out["tm"]["top"]
    assert [t["metrics"]["v"] for t in got] == list(truth.v)[:3]
    assert [t["metrics"]["w"] for t in got] == list(truth.w)[:3]
    # single-metric dict sugar + asc
    out = _aggs(index, {"tm": {"top_metrics": {
        "metrics": {"field": "v"}, "sort": {"ts": "asc"}}}})
    assert out["tm"]["top"][0]["metrics"]["v"] \
        == int(matched.sort_values("ts").v.iloc[0])


def test_top_metrics_rejections(index):
    with pytest.raises(A.QueryError):
        _aggs(index, {"tm": {"top_metrics": {"sort": {"v": "asc"}}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"tm": {"top_metrics": {
            "metrics": [{"field": "v"}], "sort": {"v": "sideways"}}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"tm": {"top_metrics": {
            "metrics": [{"field": "nope"}], "sort": {"v": "asc"}}}})


# t_test --------------------------------------------------------------------

def _welch(a, b):
    na, nb = len(a), len(b)
    return ((a.mean() - b.mean())
            / math.sqrt(a.var(ddof=1) / na + b.var(ddof=1) / nb))


def test_t_test_all_three_modes(index, matched):
    a = matched.v.astype(float)
    b = matched.w.astype(float)
    out = _aggs(index, {"t": {"t_test": {
        "a": {"field": "v"}, "b": {"field": "w"}, "type": "paired"}}})
    d = a - b
    truth = d.mean() / math.sqrt(d.var(ddof=1) / len(d))
    assert out["t"]["value"] == pytest.approx(truth, rel=1e-9)

    out = _aggs(index, {"t": {"t_test": {
        "a": {"field": "v"}, "b": {"field": "w"},
        "type": "heteroscedastic"}}})
    assert out["t"]["value"] == pytest.approx(_welch(a, b), rel=1e-9)

    out = _aggs(index, {"t": {"t_test": {
        "a": {"field": "v"}, "b": {"field": "w"},
        "type": "homoscedastic"}}})
    na, nb = len(a), len(b)
    sp2 = ((na - 1) * a.var(ddof=1) + (nb - 1) * b.var(ddof=1)) / (na + nb - 2)
    truth = (a.mean() - b.mean()) / math.sqrt(sp2 * (1 / na + 1 / nb))
    assert out["t"]["value"] == pytest.approx(truth, rel=1e-9)


def test_t_test_rejections(index):
    with pytest.raises(A.QueryError):
        _aggs(index, {"t": {"t_test": {"a": {"field": "v"},
                                       "b": {"field": "w"},
                                       "type": "bogus"}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"t": {"t_test": {"a": {"field": "body"},
                                       "b": {"field": "w"}}}})


# matrix_stats ---------------------------------------------------------------

def test_matrix_stats_vs_numpy(index, matched):
    out = _aggs(index, {"ms": {"matrix_stats": {"fields": ["v", "w"]}}})
    a = matched.v.to_numpy(dtype=float)
    b = matched.w.to_numpy(dtype=float)
    got = {f["name"]: f for f in out["ms"]["fields"]}
    assert out["ms"]["doc_count"] == len(a)
    for name, arr in (("v", a), ("w", b)):
        g = got[name]
        assert g["count"] == len(arr)
        assert g["mean"] == pytest.approx(arr.mean(), rel=1e-9)
        assert g["variance"] == pytest.approx(arr.var(ddof=1), rel=1e-9)
        # Spark population skewness g1 = m3 / m2^1.5
        m2 = ((arr - arr.mean()) ** 2).mean()
        m3 = ((arr - arr.mean()) ** 3).mean()
        m4 = ((arr - arr.mean()) ** 4).mean()
        assert g["skewness"] == pytest.approx(m3 / m2 ** 1.5, rel=1e-6)
        assert g["kurtosis"] == pytest.approx(m4 / m2 ** 2 - 3.0, rel=1e-6)
    cov = float(np.cov(a, b, ddof=1)[0, 1])
    cor = float(np.corrcoef(a, b)[0, 1])
    assert got["v"]["covariance"]["w"] == pytest.approx(cov, rel=1e-9)
    assert got["w"]["covariance"]["v"] == pytest.approx(cov, rel=1e-9)
    assert got["v"]["covariance"]["v"] == pytest.approx(a.var(ddof=1),
                                                        rel=1e-9)
    assert got["v"]["correlation"]["w"] == pytest.approx(cor, rel=1e-9)
    assert got["v"]["correlation"]["v"] == 1.0


def test_matrix_stats_rejections(index):
    with pytest.raises(A.QueryError):
        _aggs(index, {"ms": {"matrix_stats": {"fields": ["v"]}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"ms": {"matrix_stats": {"fields": ["v", "body"]}}})


# auto_date_histogram ---------------------------------------------------------

def test_auto_date_histogram_picks_unit_and_counts(index, matched):
    # span is ~10 h of 3-min steps: target 10 buckets → "day" collapses
    # to 1, "hour" gives ~10 — the ladder must land on hour
    out = _aggs(index, {"adh": {"auto_date_histogram": {
        "field": "ts", "buckets": 12}}})
    assert out["adh"]["interval"] == "hour"
    truth = (matched.groupby(matched.ts.dt.floor("h"))
             .size().sort_index())
    got = out["adh"]["buckets"]
    assert [b["doc_count"] for b in got] == list(truth)
    # a tiny target forces a coarser unit
    out = _aggs(index, {"adh": {"auto_date_histogram": {
        "field": "ts", "buckets": 2}}})
    assert out["adh"]["interval"] in ("month", "year", "day")
    assert sum(b["doc_count"] for b in out["adh"]["buckets"]) == len(matched)


def test_auto_date_histogram_rejections(index):
    with pytest.raises(A.QueryError):
        _aggs(index, {"adh": {"auto_date_histogram": {
            "field": "v", "buckets": 5}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"adh": {"auto_date_histogram": {
            "field": "ts", "buckets": 0}}})


# sampler ---------------------------------------------------------------------

@pytest.fixture(scope="module")
def tcorpus():
    return generate_transcripts(600)


@pytest.fixture(scope="module")
def toracle(tcorpus):
    return OracleIndex(tcorpus.to_dict("records"),
                       {"text": "en_stem", "role": "raw", "tool": "raw"})


@pytest.fixture(scope="module")
def tindex1(spark, tcorpus, tmp_path_factory):
    """ONE segment: the sampler's per-segment top-k is the global
    top-k, so the oracle's score ranking is the exact truth."""
    base = str(tmp_path_factory.mktemp("idxsampler1"))
    cat = IndexCatalog(spark, base)
    idx = cat.create_index("transcripts", TRANSCRIPT_SCHEMA)
    idx.add_df(spark.createDataFrame(tcorpus),
               order_cols=["conv_id", "turn_idx"], num_segments=1)
    return idx


def test_sampler_single_segment_oracle_exact(tindex1, toracle, tcorpus):
    node = A.parse_json({"term": {"text": "wmebaba5"}}, tindex1.schema)
    scores = toracle.score(node)
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:50]
    truth_avg = float(np.mean([tcorpus.iloc[d]["turn_idx"]
                               for d, _ in top]))
    out = tindex1.query_json({
        "query": {"term": {"text": "wmebaba5"}}, "limit": 0,
        "aggs": {"s": {"sampler": {"shard_size": 50, "aggs": {
            "mi": {"avg": {"field": "turn_idx"}}}}}}})["aggs"]
    assert out["s"]["doc_count"] == 50
    assert out["s"]["mi"]["value"] == pytest.approx(truth_avg, rel=1e-9)


def test_sampler_multi_segment_bounds(index, matched):
    # 3 segments: the sample holds at most 3*shard_size docs and
    # degenerates to the full match set when shard_size covers it
    out = _aggs(index, {"s": {"sampler": {"shard_size": 10, "aggs": {
        "mv": {"avg": {"field": "v"}}}}}})
    assert out["s"]["doc_count"] <= 30
    out = _aggs(index, {"s": {"sampler": {"shard_size": 10_000, "aggs": {
        "mv": {"avg": {"field": "v"}}}}}})
    assert out["s"]["doc_count"] == len(matched)
    assert out["s"]["mv"]["value"] == pytest.approx(matched.v.mean())


def test_sampler_rejections(index):
    with pytest.raises(A.QueryError):
        _aggs(index, {"s": {"sampler": {"shard_size": 0}}})
    with pytest.raises(A.QueryError):
        _aggs(index, {"s": {"sampler": {"shard_size": 5, "aggs": {
            "th": {"top_hits": {"size": 2}}}}}})
    with pytest.raises(A.QueryError):  # numeric sub-agg on a text field
        _aggs(index, {"s": {"sampler": {"shard_size": 5, "aggs": {
            "m": {"avg": {"field": "body"}}}}}})


# diversified_sampler ---------------------------------------------------------

def test_diversified_sampler_single_segment_oracle_exact(
        tindex1, toracle, tcorpus):
    """ES diversified_sampler: keep max_docs_per_value best docs per
    dedup-field value BEFORE the shard_size cut.  Single segment, so
    the pure-Python replica of the same greedy order is exact truth."""
    node = A.parse_json({"term": {"text": "wmebaba5"}}, tindex1.schema)
    scores = toracle.score(node)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    seen: dict = {}
    kept = []
    for d, _s in ranked:
        role = tcorpus.iloc[d]["role"]
        if seen.get(role, 0) >= 2:
            continue
        seen[role] = seen.get(role, 0) + 1
        kept.append(d)
        if len(kept) == 20:
            break
    truth_avg = float(np.mean([tcorpus.iloc[d]["turn_idx"]
                               for d in kept]))
    out = tindex1.query_json({
        "query": {"term": {"text": "wmebaba5"}}, "limit": 0,
        "aggs": {"s": {"diversified_sampler": {
            "shard_size": 20, "field": "role", "max_docs_per_value": 2,
            "aggs": {"mi": {"avg": {"field": "turn_idx"}}}}}}})["aggs"]
    assert out["s"]["doc_count"] == len(kept)
    assert out["s"]["mi"]["value"] == pytest.approx(truth_avg, rel=1e-9)


def test_diversified_sampler_caps_per_value(tindex1):
    # max_docs_per_value=1 over role: the sample can hold at most one
    # doc per distinct role (4 roles in the corpus)
    out = tindex1.query_json({
        "query": {"term": {"text": "the"}}, "limit": 0,
        "aggs": {"s": {"diversified_sampler": {
            "shard_size": 50, "field": "role",
            "aggs": {"mi": {"avg": {"field": "turn_idx"}}}}}}})["aggs"]
    assert out["s"]["doc_count"] <= 4


def test_diversified_sampler_rejections(index):
    with pytest.raises(A.QueryError):  # missing dedup field
        _aggs(index, {"s": {"diversified_sampler": {"shard_size": 5}}})
    with pytest.raises(A.QueryError):  # bad cap
        _aggs(index, {"s": {"diversified_sampler": {
            "shard_size": 5, "field": "v", "max_docs_per_value": 0}}})
    with pytest.raises(A.QueryError):  # numeric sub-agg on a text field
        _aggs(index, {"s": {"diversified_sampler": {
            "shard_size": 5, "field": "v", "aggs": {
                "m": {"stats": {"field": "body"}}}}}})
