"""Bool and dis_max scores are summed in CLAUSE ORDER (musts, then
shoulds — a left fold from 0.0, the oracle's order), never in Spark's
row-arrival order: float addition is not associative, so an
arrival-order sum can leave two docs with equal clause scores 1 ulp
apart and out of docid order."""

import random

import pytest

from sonar_tantivy_spark import IndexCatalog

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
]
TWIN = "quill ember slate north"
WORDS = TWIN.split() + ["wind", "river", "stone", "cloud", "field", "glass"]


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    """Seeded docs of 1-9 words: varied tf and length give clause scores
    whose float sum depends on the order it is taken in."""
    rng = random.Random(7)
    cat = IndexCatalog(spark, str(tmp_path_factory.mktemp("boolsum")))
    ix = cat.create_index("sums", SCHEMA)
    for b in range(3):
        docs = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 9)))
                for _ in range(15)]
        if b < 2:
            docs.append(TWIN)  # the twins land in different segments
        ix.add([{"body": d} for d in docs])
    return ix


def _scores(ix, query: dict) -> list[tuple[int, float]]:
    res = ix.query_json({"query": query, "limit": 100})
    return [(d["docid"], d["score"]) for d in res["docs"]]


def _fold(ix, clauses: list[dict], n_must: int) -> dict[int, float]:
    """Per-doc left fold of the single-clause scores, in clause order,
    over the docs matching all of the first ``n_must`` clauses."""
    out: dict[int, float] = {}
    hits: dict[int, int] = {}
    for i, c in enumerate(clauses):
        for d, s in _scores(ix, c):
            out[d] = out.get(d, 0.0) + s
            hits[d] = hits.get(d, 0) + (i < n_must)
    return {d: s for d, s in out.items() if hits[d] == n_must}


def _twins(ix) -> list[int]:
    return sorted(d for d, _ in _scores(
        ix, {"phrase": {"body": TWIN.split()}}))


def _terms(*ts: str) -> list[dict]:
    return [{"term": {"body": t}} for t in ts]


@pytest.mark.parametrize("query,order,n_must", [
    # single-scan bool-of-terms plan
    ({"bool": {"should": _terms("quill", "slate", "north", "ember")}},
     _terms("quill", "slate", "north", "ember"), 0),
    ({"bool": {"must": _terms("slate", "quill"),
               "should": _terms("north", "ember")}},
     _terms("slate", "quill", "north", "ember"), 2),
    # general should plan (a phrase clause: union of clause frames)
    ({"bool": {"should": _terms("north", "ember")
               + [{"phrase": {"body": ["quill", "ember"]}}]}},
     _terms("north", "ember") + [{"phrase": {"body": ["quill", "ember"]}}],
     0),
])
def test_bool_sum_is_clause_ordered(idx, query, order, n_must):
    got = _scores(idx, query)
    want = _fold(idx, order, n_must)
    assert dict(got) == want  # exact, not approximate
    a, b = _twins(idx)
    scores = dict(got)
    assert scores[a] == scores[b]
    pos = [d for d, _ in got]
    assert pos.index(a) < pos.index(b)  # tie broken by docid


def test_dis_max_sum_is_clause_ordered(idx):
    clauses = _terms("quill", "ember", "slate")
    got = dict(_scores(idx, {"dis_max": {"queries": clauses,
                                         "tie_breaker": 0.5}}))
    per = [dict(_scores(idx, c)) for c in clauses]
    for d, s in got.items():
        vals = [p[d] for p in per if d in p]
        assert s == max(vals) + 0.5 * (sum(vals) - max(vals))
    a, b = _twins(idx)
    assert got[a] == got[b]
