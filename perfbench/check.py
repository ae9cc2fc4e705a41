"""Output checks that do not use the engine.

Search answers are compared with ``tests/oracle.OracleIndex`` built from
the same generated rows, aggregations with a pandas groupby over the
oracle's match set, and percolator alerts with the oracle's matches.
Expected answers are cached per seed under ``perfbench/.cache`` so a
repeated seed skips the oracle."""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd

from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.plans.schema import IndexSchema
from sonar_tantivy_spark.sources.transcripts import TRANSCRIPT_SCHEMA
from tests.oracle import OracleIndex

from perfbench.corpus import CACHE, FIELD_TOKENIZERS
from perfbench.mix import ALERTS, LIMIT, Request

SCHEMA = IndexSchema.from_json(TRANSCRIPT_SCHEMA)
REL_TOL = 1e-6


def parse(query) -> A.Node:
    return (A.parse_string(query, SCHEMA) if isinstance(query, str)
            else A.parse_json(query, SCHEMA))


# ------------------------------------------------------------ engine side
def engine_answer(req: Request, result) -> dict:
    """Canonical form of what the engine returned for ``req``."""
    if req.kind == "paged":
        p1, p2 = result
        return {"hits": _hits(p1["docs"]) + _hits(p2["docs"])}
    if req.kind == "string":
        return {"hits": _hits(result),
                "snippets": _snippets_ok(req.body, result)}
    out = {"hits": _hits(result["docs"])}
    if "aggs" in req.body:
        out["aggs"] = _engine_aggs(result["aggs"])
    return out


def _hits(docs: list[dict]) -> list[list]:
    return [[int(d["docid"]), float(d["score"])] for d in docs]


def _snippets_ok(query: str, docs: list[dict]) -> bool:
    # every hit of a plain-term query must carry a highlighted snippet;
    # prefix expansion highlights best-effort, so there a snippet may
    # be missing but never lack its highlight
    plain = "*" not in query
    return all((s is None and not plain) or (isinstance(s, str) and "<b>" in s)
               for s in (d["snippet"] for d in docs))


def _engine_aggs(aggs: dict) -> dict:
    out = {}
    for name, body in aggs.items():
        if "buckets" in body:
            out[name] = {_bucket_key(b["key"]): int(b["doc_count"])
                         for b in body["buckets"] if b["doc_count"]}
        else:
            out[name] = {k: (None if body[k] is None else float(body[k]))
                         for k in ("count", "min", "max", "avg", "sum")}
    return out


def _bucket_key(key) -> str:
    if isinstance(key, dict):  # composite: one "r" source
        return str(key["r"])
    if isinstance(key, (int, float)):  # histogram
        return str(float(key))
    return str(key)


# ------------------------------------------------------------ oracle side
class PrefixOracle(OracleIndex):
    """The oracle over the first ``n`` docs of a larger oracle: the index
    snapshot a reader saw before later micro-batches were committed."""

    def __init__(self, full: OracleIndex, n: int):
        # shares the full oracle's tokenized postings instead of running
        # OracleIndex.__init__, which would tokenize the corpus again
        self.docs = full.docs[:n]
        self.N = n
        self.field_tokenizers = full.field_tokenizers
        self.doclen = full.doclen
        self.total_tokens = {
            f: sum(full.doclen.get((f, d), 0) for d in range(n))
            for f in full.field_tokenizers}
        self.postings = _PrefixPostings(full.postings, n)


class _PrefixPostings(dict):
    """The postings of docids < n, filtered on first access (the oracle
    reads postings only through ``get`` and ``items``)."""

    def __init__(self, full: dict, n: int):
        super().__init__()
        self.full, self.n = full, n

    def get(self, key, default=None):
        if key not in self.full:
            return default
        if not dict.__contains__(self, key):
            dict.__setitem__(self, key, {d: p for d, p in self.full[key].items()
                                         if d < self.n})
        return dict.__getitem__(self, key)

    def items(self):
        return ((k, self.get(k)) for k in self.full)


def oracle_answer(oracle: OracleIndex, rows: pd.DataFrame, req: Request,
                  oracle2: OracleIndex | None = None) -> dict:
    """``oracle2``: the snapshot a paged request's second page read, when
    a commit landed between its two calls."""
    if req.kind == "paged":
        node = parse(req.body["query"])
        page1 = oracle.top_k(node, LIMIT)
        page2 = []
        if len(page1) == LIMIT:
            d, s = page1[-1]
            ranked = (oracle2 or oracle).top_k(node, 1 << 30)
            page2 = [(d2, s2) for d2, s2 in ranked
                     if s2 < s or (s2 == s and d2 > d)][:LIMIT]
        return {"hits": _pairs(page1 + page2)}
    if req.kind == "string":
        return {"hits": _pairs(oracle.top_k(parse(req.body), LIMIT)),
                "snippets": True}
    node = parse(req.body["query"])
    out = {"hits": _pairs(oracle.top_k(node, LIMIT,
                                       sort_by=req.body.get("sort_by")))}
    if "aggs" in req.body:
        matched = rows.iloc[sorted(oracle.score(node))]
        out["aggs"] = _pandas_aggs(matched, req.body["aggs"])
    return out


def _pairs(items) -> list[list]:
    return [[int(d), float(s)] for d, s in items]


def _pandas_aggs(matched: pd.DataFrame, aggs: dict) -> dict:
    out = {}
    for name, spec in aggs.items():
        (kind, body), = spec.items()
        if kind == "terms":
            out[name] = {str(k): int(v) for k, v in
                         matched.groupby(body["field"]).size().items()}
        elif kind == "composite":
            field = body["sources"][0]["r"]["terms"]["field"]
            out[name] = {str(k): int(v) for k, v in
                         matched.groupby(field).size().items()}
        elif kind == "histogram":
            step = body["interval"]
            keys = np.floor(matched[body["field"]] / step) * step
            out[name] = {str(float(k)): int(v)
                         for k, v in keys.value_counts().items()}
        elif kind == "stats":
            col = matched[body["field"]]
            out[name] = {"count": float(len(col)),
                         "min": float(col.min()) if len(col) else None,
                         "max": float(col.max()) if len(col) else None,
                         "avg": float(col.mean()) if len(col) else None,
                         "sum": float(col.sum())}
        else:
            raise ValueError(kind)
    return out


def percolate_expected(oracle: OracleIndex, rows: pd.DataFrame,
                       lo: int, hi: int) -> set[tuple]:
    """(conv_id, turn_idx, alert) for every doc in [lo, hi) an alert matches."""
    out = set()
    for name, q in ALERTS.items():
        for d in oracle.score(parse(q)):
            if lo <= d < hi:
                out.add((rows.conv_id.iat[d], int(rows.turn_idx.iat[d]), name))
    return out


# ------------------------------------------------------------ comparison
def same(got, want) -> bool:
    if isinstance(want, dict):
        return (isinstance(got, dict) and got.keys() == want.keys()
                and all(same(got[k], want[k]) for k in want))
    if isinstance(want, list):
        return (isinstance(got, list) and len(got) == len(want)
                and all(same(g, w) for g, w in zip(got, want)))
    if isinstance(want, float) and isinstance(got, (int, float)):
        return math.isclose(got, want, rel_tol=REL_TOL, abs_tol=1e-9)
    return got == want


class AnswerBook:
    """Expected answers for one generated corpus, computed by the oracle
    on first need and cached on disk per seed and request."""

    def __init__(self, tag: str, rows: pd.DataFrame):
        self.rows = rows
        self.path = os.path.join(CACHE, f"answers-{tag}.json")
        self.cache: dict = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.cache = json.load(fh)
        self._full: OracleIndex | None = None
        self._views: dict[int, OracleIndex] = {}
        self.dirty = False

    def oracle(self, n: int) -> OracleIndex:
        if self._full is None:
            self._full = OracleIndex(self.rows.to_dict("records"),
                                     FIELD_TOKENIZERS)
        if n == len(self.rows):
            return self._full
        if n not in self._views:
            self._views[n] = PrefixOracle(self._full, n)
        return self._views[n]

    def search(self, req: Request, n: int, n2: int | None = None) -> dict:
        """Expected answer on the snapshot of the first ``n`` docs (``n2``:
        the second page's snapshot of a paged request)."""
        n2 = n if n2 is None else n2
        key = f"q{n}-{n2}:{req.key}"
        if key not in self.cache:
            self.cache[key] = oracle_answer(self.oracle(n), self.rows.iloc[:n],
                                            req, self.oracle(n2))
            self.dirty = True
        return self.cache[key]

    def percolate(self, lo: int, hi: int) -> set[tuple]:
        key = f"p{lo}-{hi}"
        if key not in self.cache:
            self.cache[key] = sorted(
                list(t) for t in percolate_expected(self.oracle(len(self.rows)),
                                                     self.rows, lo, hi))
            self.dirty = True
        return {tuple(t) for t in self.cache[key]}

    def save(self) -> None:
        if not self.dirty:
            return
        os.makedirs(CACHE, exist_ok=True)
        tmp = self.path + f".{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(self.cache, fh)
        os.replace(tmp, self.path)
