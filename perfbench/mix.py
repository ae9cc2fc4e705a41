"""The search-mix request shapes and the saved alert queries.

A request is drawn per family.  Half the requests repeat a small hot
set (asked once in the warm-up pass); the rest are fresh requests whose
terms are drawn anew."""

from __future__ import annotations

import dataclasses
import json
import random

from sonar_tantivy_spark.sources.transcripts import VOCAB_SIZE, _vocab

# Zipf rank bands of the 50k-word vocabulary (rank 1 = most frequent)
BANDS = {"hot": (1, 20), "mid": (100, 1000), "rare": (2000, 8000)}
MARKERS = ["hello", "world", "needle", "stems", "trendalpha", "the", "mundo"]

FAMILIES = [  # interleaved so that any prefix mixes cheap and costly shapes
    "term_hot", "agg_terms_stats", "phrase_slop", "term_mid", "search_after",
    "wildcard", "agg_histogram", "term_rare", "span_near", "string_snippet",
    "sort_ts", "term_marker", "agg_composite", "bool_must", "bool_msm",
    "term_ts_range",
]
# the small hot set the even slots repeat
HOT_FAMILIES = ["term_mid", "bool_msm", "string_snippet", "agg_terms_stats"]
AGG_FAMILIES = {"agg_terms_stats", "agg_histogram", "agg_composite"}
LIMIT = 10

# alert queries of the bench.py percolate shapes
ALERTS: dict[str, object] = {
    "alert_hello": {"term": {"text": "hello"}},
    "alert_phrase": '"hello world"~2',
    "alert_bool": {"bool": {"must": [{"term": {"text": "world"}}],
                            "must_not": [{"term": {"text": "mundo"}}]}},
    "alert_prefix": "hell*",
    "alert_terms": {"terms": {"text": ["needle", "mundo"]}},
    "alert_span": {"span_near": {"clauses": [
        {"span_term": {"text": "hello"}},
        {"span_or": {"clauses": [{"span_term": {"text": "world"}},
                                 {"span_term": {"text": "mundo"}}]}}],
        "slop": 2}},
    "alert_tool": {"exists": {"field": "tool"}},
    "alert_msm": {"bool": {"should": [{"term": {"text": "hello"}},
                                      {"term": {"text": "world"}},
                                      {"term": {"text": "needle"}}],
                           "minimum_should_match": 2}},
}


@dataclasses.dataclass
class Request:
    family: str
    kind: str        # "json" | "string" (Index.query + snippet) | "paged"
    body: object     # query_json envelope, or grammar string
    repeat: bool
    bands: list[str]  # band of every drawn term

    @property
    def key(self) -> str:
        return f"{self.kind}:{json.dumps(self.body, sort_keys=True)}"


class RequestMaker:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.vocab = _vocab()

    def word(self, band: str) -> str:
        if band == "marker":
            return self.rng.choice(MARKERS)
        lo, hi = BANDS[band]
        return self.vocab[min(self.rng.randint(lo, hi), VOCAB_SIZE) - 1]

    def make(self, family: str, repeat: bool = False) -> Request:
        bands: list[str] = []

        def w(band: str) -> str:
            bands.append(band)
            return self.word(band)

        def env(query: dict, **extra) -> dict:
            return {"query": query, "limit": LIMIT, **extra}

        r = self.rng
        if family in ("term_hot", "term_mid", "term_rare", "term_marker"):
            body = env({"term": {"text": w(family[5:])}})
        elif family == "bool_msm":
            body = env({"bool": {"should": [
                {"term": {"text": w("hot")}}, {"term": {"text": w("mid")}},
                {"term": {"text": w("marker")}}],
                "minimum_should_match": 2}})
        elif family == "bool_must":
            # the rare term misses most blocks: absence-proof block skips
            body = env({"bool": {"must": [
                {"term": {"text": w("hot")}}, {"term": {"text": w("rare")}}]}})
        elif family == "phrase_slop":
            body = env({"phrase": {"text": {
                "terms": [w("hot"), w("hot")], "slop": r.randint(1, 3)}}})
        elif family == "wildcard":
            word = w("mid")
            body = env({"wildcard": {"text": word[:4] + "?" + word[5:7] + "*"}})
        elif family == "string_snippet":
            word = w("mid")
            q = r.choice([f"+{w('hot')} {word}", f"{word[:5]}*",
                          f'"{w("hot")} {word}"~3'])
            return Request(family, "string", q, repeat, bands)
        elif family == "span_near":
            body = env({"span_near": {"clauses": [
                {"span_term": {"text": w("hot")}},
                {"span_or": {"clauses": [{"span_term": {"text": w("hot")}},
                                         {"span_term": {"text": w("mid")}}]}}],
                "slop": r.randint(1, 4), "in_order": r.random() < 0.5}})
        elif family == "term_ts_range":
            day = r.randint(2, 20)
            body = env({"bool": {"must": [{"term": {"text": w("hot")}}],
                                 "filter": [{"range": {"ts": {
                                     "gte": f"2026-01-{day:02d} 00:00:00",
                                     "lt": f"2026-01-{day + 5:02d} 00:00:00"}}}]}})
        elif family == "sort_ts":
            body = env({"term": {"text": w("mid")}}, sort_by="ts")
        elif family == "search_after":
            return Request(family, "paged",
                           env({"term": {"text": w(r.choice(["hot", "mid"]))}}),
                           repeat, bands)
        elif family == "agg_terms_stats":
            body = env({"term": {"text": w("mid")}}, aggs={
                "roles": {"terms": {"field": "role"}},
                "idx": {"stats": {"field": "turn_idx"}}})
        elif family == "agg_histogram":
            body = env({"term": {"text": w("mid")}}, aggs={
                "h": {"histogram": {"field": "turn_idx", "interval": 4}}})
        elif family == "agg_composite":
            body = env({"term": {"text": w("marker")}}, aggs={
                "c": {"composite": {"sources": [
                    {"r": {"terms": {"field": "role"}}}], "size": 10}}})
        else:
            raise ValueError(family)
        return Request(family, "json", body, repeat, bands)


class Schedule:
    """Endless request stream shared by the client threads.

    Even slots repeat the hot set in turn; odd slots are fresh requests
    whose family cycles through FAMILIES in a fixed order.  The order is
    the same for every seed (the seed draws the terms), so runs of equal
    length ask the same family mix."""

    def __init__(self, seed: int):
        self.maker = RequestMaker(seed)
        self.hot = [self.maker.make(f, repeat=True) for f in HOT_FAMILIES]
        self.i = 0

    def next(self) -> Request:
        i, self.i = self.i, self.i + 1
        if i % 2 == 0:
            return self.hot[(i // 2) % len(self.hot)]
        return self.maker.make(FAMILIES[(i // 2) % len(FAMILIES)])
