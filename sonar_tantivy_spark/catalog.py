"""IndexCatalog / Index — the engine's Python API.

Mirrors the reference's Node API surface 1:1 so its e2e tests port
directly (/root/reference/src-nodejs/catalog.js:14-129):

    IndexCatalog.open_or_create(name, schema) / create / has / delete
    Index.add(docs) / add_segments(segments, source) / segment_info()
    Index.query(str, limit=10, snippet_field=None)
    Index.query_json(search_dict)
    IndexCatalog.multi_query(query, index_names)   # limit 100/index

The RPC/NDJSON layer of the reference (src-rust/rpc.rs, src-nodejs/rpc.js)
is intentionally gone — the API is in-process, backed by a SparkSession.
"""

from __future__ import annotations

import itertools
import math
import threading
from functools import partial
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sonar_tantivy_spark.operators.build import build_segments
from sonar_tantivy_spark.operators.search import Searcher, collect_terms
from sonar_tantivy_spark.operators.snippet import (
    collect_positive_terms,
    generate_fragments,
    generate_snippet,
)
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.plans.schema import IndexSchema
from sonar_tantivy_spark.pool import run_all
from sonar_tantivy_spark.sources.tableio import FsStorage, MemStorage, key_filter

DEFAULT_QUERY_LIMIT = 10  # handles.rs:143 unwrap_or(10)
MULTI_QUERY_LIMIT = 100  # index.rs:141 hardcoded per-index limit


def _seed_key(s: Searcher, docid: int) -> tuple[str, int]:
    """(segment_id, local docid) of one GLOBAL docid; KeyError when it
    is out of range."""
    rows = s._ids_rows([docid])
    if not rows:
        raise KeyError(f"docid {docid} out of range")
    return rows[0]


class _SnapshotSlot:
    """The latest-snapshot Searcher of one index name, shared by every
    Index the catalog hands out for it — the reference's one reader per
    IndexHandle, reloaded only on commit (index.rs:18-21, 214-225)."""

    def __init__(self):
        self._lock = threading.Lock()
        # (schema json, latest Searcher)
        self._entry: tuple[str, Searcher] | None = None

    def searcher(self, index: "Index", manifest: dict, key: tuple) -> Searcher:
        """The shared Searcher when its snapshot key and schema match,
        else a new one for ``manifest``, published as the latest."""
        with self._lock:
            e = self._entry
            if e is not None and e[1]._cache_key == key \
                    and e[0] == index._schema_json:
                return e[1]
            s = Searcher(index.spark, index.schema, index.storage, manifest)
            s._cache_key = key
            self._entry = (index._schema_json, s)
            return s


class Index:
    def __init__(self, spark: SparkSession, name: str, storage,
                 slot: _SnapshotSlot | None = None):
        self.spark = spark
        self.name = name
        self.storage = storage
        self._schema_json = storage.schema_json()
        self.schema = IndexSchema.from_json(self._schema_json)
        self._batch_counter = 0
        # the snapshot this handle last read; ``slot`` shares Searchers
        # between the handles of one catalog index
        self._searcher: Searcher | None = None
        self._slot = slot if slot is not None else _SnapshotSlot()

    # ------------------------------------------------------------- ingest
    def add(self, docs: list[dict]) -> None:
        """Batch-append + commit: one new segment per batch, docids in
        insertion order (index.rs:167-193 semantics).  Values are coerced
        to the schema types (date accepts ISO strings / datetimes, like
        the reference's JSON ingest) under an EXPLICIT Spark schema — no
        inference, so all-None columns and string dates can't mistype."""
        if not docs:
            return
        from datetime import datetime

        from pyspark.sql import types as T

        rows = []
        for i, d in enumerate(docs):
            self.schema.warn_unknown(list(d.keys()))
            row = {}
            for f in self.schema.fields:
                v = d.get(f.name)
                if v is not None and f.type == "date" \
                        and not isinstance(v, datetime):
                    v = datetime.fromisoformat(str(v).replace("T", " "))
                if v is not None and f.type == "dense_vector":
                    if f.dims is not None and len(v) != f.dims:
                        raise A.QueryError(
                            f"dense_vector {f.name!r} expects {f.dims} "
                            f"dims, got {len(v)}")
                    v = [float(x) for x in v]
                row[f.name] = v
            row["__ord"] = i
            rows.append(row)
        struct = T.StructType(
            [T.StructField(f.name, f.spark_type, True)
             for f in self.schema.fields]
            + [T.StructField("__ord", T.LongType(), False)])
        sdf = self.spark.createDataFrame(rows, struct)  # RPC-parity path
        self.add_df(sdf, order_cols=["__ord"], num_segments=1)

    def add_df(
        self,
        df: DataFrame,
        *,
        order_cols: list[str],
        seg_size: int | None = None,
        num_segments: int | None = None,
        epoch: str | None = None,
        n_hint: int | None = None,
    ) -> list[dict]:
        """Bulk ingest — the distributed build pipeline (SURVEY.md §3.3).

        ``n_hint``: known/estimated row count — lets the build size its
        task count to the batch (micro-batch streaming path)."""
        if epoch is None:
            self._batch_counter += 1
            epoch = f"{self.storage.new_epoch()}b{self._batch_counter}"
        return build_segments(
            self.spark, df, self.schema, self.storage,
            order_cols=order_cols, seg_size=seg_size,
            num_segments=num_segments, epoch=epoch, n_hint=n_hint,
        )

    # ----------------------------------------------------------- segments
    def segment_info(self) -> list[dict]:
        """meta.json segment list analog (catalog.js:97-100)."""
        return [
            {"segment_id": s["segment_id"], "max_doc": s["max_doc"]}
            for s in self.storage.manifest()["segments"]
        ]

    def add_segments(self, segments: list[dict], source: "Index") -> None:
        """Register segments built by ANOTHER index — a pure metadata
        commit, the reference's distributed-build primitive
        (index.rs:293-324; e2e test/segments.js:27-40).  Duplicate
        segment_ids raise ``SegmentExistsError("Segment exists.")``."""
        src = {s["segment_id"]: s for s in source.storage.manifest()["segments"]}
        metas = []
        for seg in segments:
            sid = seg["segment_id"]
            if sid not in src:
                raise KeyError(f"unknown source segment {sid!r}")
            metas.append(src[sid])
        if isinstance(self.storage, MemStorage) and isinstance(source.storage, MemStorage):
            # RAM indexes: share the cached tables
            for key, df in source.storage._tables.items():
                self.storage._tables.setdefault(key, df)
        self.storage.append_segments(metas)

    # -------------------------------------------------------------- query
    def searcher(self) -> Searcher:
        """Reused until the manifest changes — the analog of
        ReloadPolicy::OnCommit reader caching (index.rs:214-225).  The
        cache key is the full segment list (not just the opstamp):
        compaction swaps segments without moving the opstamp.  On a key
        change the handle adopts its catalog slot's Searcher for the new
        snapshot (built and published there on a miss), so every handle
        on an unchanged manifest shares one reader and its memos."""
        m = self.storage.manifest()
        key = (m["opstamp"], m.get("del_opstamp", 0),
               tuple(s["segment_id"] for s in m["segments"]))
        cached = self._searcher
        if cached is None or cached._cache_key != key:
            cached = self._searcher = self._slot.searcher(self, m, key)
        return cached

    def query(
        self,
        query: str,
        limit: int = DEFAULT_QUERY_LIMIT,
        snippet_field: str | None = None,
    ) -> list[dict]:
        """String-grammar search → [{score, doc, snippet}]
        (handles.rs:139-156 → index.rs:246-284)."""
        node = self._resolve_mlt(A.parse_string(query, self.schema))
        s = self.searcher()
        hits = s.top_k_pruned(node, limit=limit)  # block-max default path
        results = s.retrieve(hits)
        if snippet_field:
            terms = collect_positive_terms(node).get(snippet_field, set())
            # expansion clauses (prefix/regex/fuzzy) highlight their
            # matched dictionary terms, capped best-effort
            terms = terms | s.expand_snippet_terms(node, snippet_field)
            tok = self.schema.tokenizer_for(snippet_field)
            for r in results:
                vals = r["doc"].get(snippet_field, [])
                r["snippet"] = generate_snippet(vals[0] if vals else None, terms, tok)
        return results

    def query_json(self, search: dict) -> dict:
        """Structured toshi DSL (query.rs:14-28 → search.rs:10-103):
        {"query": {...}, "limit": k, "sort_by": field, "facets": {field: [roots]}}
        → {"docs": [{score, doc}], "facets": {...}}.

        BEYOND-REFERENCE extensions, both ES request-shaped:

        * ``"offset"`` (alias ``"from"``): pagination — skip the first
          N hits.  Executes as a depth-(offset+limit) top-k (the ES
          deep-pagination cost model: page P costs P*k, which is why
          this is bounded to small offsets by DEFAULT_QUERY_LIMIT-style
          sanity rather than a cursor), then slices driver-side.
        * ``"aggs"``: search aggregations (terms / histogram /
          date_histogram / stats / percentiles / cardinality) over the
          FULL match set — see Searcher.aggregations for the DSL and
          the single-join execution shape.
        * ``"search_after"``: ``[last_score, last_docid]`` from the
          previous page's final hit — cursor pagination.  Unlike
          offset this is a pure filter on the sort key (page P never
          pays a depth-(P·k) top-k), the shape that pages a 100 TB
          index to exhaustion; composes with block-max pruning (see
          Searcher.top_k_pruned).  Mutually exclusive with offset,
          per the ES rule.
        * ``"min_score"``: drop hits scoring below the threshold (ES
          semantics).  Applied to the score-ordered depth window before
          the offset slice — exact under score ordering; refused with
          sort_by.  A page may come back short when the threshold trims
          inside the window (the caller asked for a floor, not a fill).
        * ``"track_total_hits"``: add ``{"total": {"value": N,
          "relation": "eq"}}`` — an EXACT count-collector pass (ES caps
          at 10k/"gte" by default; the engine's count is one pruned
          projection, so exact is affordable).
        """
        body = search.get("query")
        knn = search.get("knn")
        if knn is not None:
            return self._knn_search(search, knn, body)
        sugg = search.get("suggest")
        if body is None:
            if sugg:
                # ES suggest-only request: no query, no hits — just the
                # suggesters (the spell-correct round-trip clients make)
                return {"docs": [], "facets": {},
                        "suggest": self._run_suggest(sugg)}
            raise A.QueryError("Empty Query Provided")  # search.rs:100-102
        node = self._resolve_mlt(A.parse_json(body, self.schema))
        hl = search.get("highlight")
        # ES post_filter: hits are trimmed by an extra filter AFTER
        # aggs/facets/total are computed over the UNFILTERED query match
        # set (the faceted-navigation contract).  The hit side composes
        # as bool{must: [query], filter: [pf]} — the engine's filter
        # clauses are non-scoring left-semi joins, so scores stay the
        # query's own.  Highlighting reads the QUERY node (post_filter
        # terms never highlight, the ES rule).
        pf = search.get("post_filter")
        hits_node = node
        if pf is not None:
            if search.get("rescore") or search.get("collapse"):
                raise A.QueryError(
                    "post_filter cannot combine with rescore/collapse "
                    "here")
            # resolve index-dependent nodes (terms lookup / mlt / ...)
            # inside the post_filter too — they need the same seed-read
            # rewrite the query slot gets (ADVICE r5)
            hits_node = A.BoolQ(
                must=[node],
                filter=[self._resolve_mlt(A.parse_json(pf, self.schema))])
        src = search.get("_source")
        inc = exc = None
        if isinstance(src, list):
            inc = {str(x) for x in src}
        elif isinstance(src, dict):
            bad = set(src) - {"includes", "excludes"}
            if bad:
                raise A.QueryError(
                    f"_source accepts includes/excludes, got {sorted(bad)}")
            inc = set(src.get("includes") or []) or None
            exc = set(src.get("excludes") or [])
        elif src is not None and not isinstance(src, bool):
            raise A.QueryError(
                "_source must be a bool, a field list, or "
                "{includes/excludes}")

        def _apply_source(docs: list) -> None:
            # after highlight: ES highlights regardless of _source
            if src is None or src is True:
                return
            for d in docs:
                if src is False:
                    d["doc"] = {}
                else:
                    d["doc"] = {
                        k: v for k, v in d["doc"].items()
                        if (inc is None or k in inc)
                        and (exc is None or k not in exc)}
        min_score = search.get("min_score")
        if min_score is not None:
            min_score = float(min_score)
            if search.get("sort_by"):
                # a score threshold under field ordering cannot be
                # applied to the returned page (filtered docs are
                # replaced by deeper ones in SORT order, not score
                # order) — refuse rather than return a silently short
                # or wrong page; ES allows it by filtering the full
                # match set, a cost this engine only pays when asked
                raise A.QueryError(
                    "min_score cannot combine with sort_by here")
        if min_score is not None and search.get("rescore"):
            # ES's MinimumScoreCollector filters on the QUERY-phase
            # score before rescoring; applying the threshold to the
            # rescored window score would silently deviate — refuse,
            # consistent with the sort_by/facets/aggs refusals
            # (ADVICE r5)
            raise A.QueryError(
                "min_score cannot combine with rescore here (ES filters "
                "on the pre-rescore query score)")
        track = bool(search.get("track_total_hits", False))
        if min_score is not None and (search.get("facets")
                                      or search.get("aggs") or track):
            # ES's MinimumScoreCollector filters docs BEFORE the aggs
            # collectors and the total-hits counter; this engine applies
            # min_score to the hit window only — refuse the combination
            # rather than return totals/facets that silently include
            # sub-threshold docs
            raise A.QueryError(
                "min_score cannot combine with facets/aggs/"
                "track_total_hits here (the threshold would not reach "
                "them — ES filters all collectors)")
        total = None
        if track:
            # exact distributed count of the match set (the reference's
            # count collector; ES default caps at 10k/"gte" — this
            # engine's count is one pruned-projection aggregation, so
            # exact/"eq" is affordable and more useful).  Counts the
            # QUERY node (post_filter never shrinks totals, the ES
            # rule) — already resolved, so no second mget/expansion.
            total = {"value": int(self._count_node(node)),
                     "relation": "eq"}

        def _done(res: dict) -> dict:
            if hl:
                self._apply_highlight(res["docs"], node, hl)
            _apply_source(res["docs"])
            if total is not None:
                res["total"] = total
            if sugg:
                res["suggest"] = self._run_suggest(sugg)
            return res

        def _page(docs: list) -> list:
            # ES min_score: the threshold applies to the MATCH SET,
            # then from/size — under score ordering the depth-k window
            # is score-sorted, so filtering it before the offset slice
            # is exact (a sub-threshold hit can never precede a
            # super-threshold one)
            if min_score is not None:
                docs = [d for d in docs if d["score"] >= min_score]
            return docs[offset:]

        limit = int(search.get("limit", DEFAULT_QUERY_LIMIT))
        offset = int(search.get("offset", search.get("from", 0)))
        if offset < 0:
            raise A.QueryError("offset must be >= 0")
        after = search.get("search_after")
        if after is not None:
            if offset:
                raise A.QueryError(
                    "search_after cannot be combined with offset/from")
            if not isinstance(after, (list, tuple)) or len(after) != 2:
                raise A.QueryError(
                    "search_after expects [last_score, last_docid]")
            after = (float(after[0]), int(after[1]))
        depth = offset + limit
        s = self.searcher()
        sort_by = search.get("sort_by")
        facets = search.get("facets") or {}
        aggs = search.get("aggs") or {}
        if (facets or aggs) and (search.get("rescore")
                                 or search.get("collapse")):
            # refuse rather than silently dropping one of them — the
            # ES composition rules here are subtle enough that a quiet
            # wrong answer is worse than an error
            raise A.QueryError(
                "rescore/collapse cannot combine with facets/aggs here")
        if facets or aggs:
            # MultiCollector (search.rs:32-42): facet counting and
            # aggregations need ALL matches (segment pruning is
            # invalid), so persist ONE scored scan and feed every
            # collector from it — one pass over the postings, like the
            # reference's single-pass MultiCollector
            cand = s.candidates(node).persist()
            try:
                # the hit page, facet counts and aggregations are
                # independent collectors over the SAME persisted scan —
                # run them as concurrent Spark jobs (a small thread
                # pool) so the tiny top-k job's tail overlaps the agg
                # jobs instead of serializing one barrier per collector
                def _hits() -> list:
                    # post_filter: the persisted cand frame is the
                    # AGGS-side match set; the trimmed hit side runs its
                    # own (pruned-eligible) plan
                    hits = (s.top_k(node, limit=depth, sort_by=sort_by,
                                    cands=cand, after=after)
                            if pf is None else
                            s.top_k(hits_node, limit=depth,
                                    sort_by=sort_by, after=after))
                    return s.retrieve(hits)

                def _facets() -> dict:
                    # reference quirks (search.rs:32-42, 89-98): one facet
                    # field, and only the FIRST requested root's counts
                    # return
                    field = next(iter(facets))
                    roots = list(facets[field] or [])
                    counts = s.facet_counts(node, field, roots=roots,
                                            cands=cand).collect()
                    key = "facet" if roots else field
                    return {field: {r[key]: r["count"] for r in counts}}

                collectors = {"docs": _hits}
                if facets:
                    collectors["facets"] = _facets
                if aggs:
                    collectors["aggs"] = partial(s.aggregations, node, aggs,
                                                 cand)
                out: dict[str, Any] = {"docs": None, "facets": {}}
                out.update(zip(collectors, run_all(collectors.values(), 3)))
                out["docs"] = _page(out["docs"])
                return _done(out)
            finally:
                cand.unpersist()
        rescore = search.get("rescore")
        if rescore:
            if sort_by or after is not None:
                raise A.QueryError(
                    "rescore cannot combine with sort_by/search_after "
                    "(the ES rule: rescoring reorders the window)")
            hits = self._rescored_hits(s, node, rescore, depth)
            return _done({"docs": _page(s.retrieve(hits)), "facets": {}})
        collapse = search.get("collapse")
        if collapse:
            if after is not None:
                raise A.QueryError(
                    "collapse cannot combine with search_after here")
            hits = self._collapsed_hits(s, node, collapse, depth, sort_by)
            return _done({"docs": _page(s.retrieve(hits)), "facets": {}})
        # BM25-bound pruning is invalid under sort-by-field ordering;
        # the sorted collector prunes on the sort field's zone maps.
        # sort_by + search_after takes the exact sorted plan (the
        # cursor filter composes with zone-map pruning too, but that
        # combination is rare enough not to thread it through)
        if sort_by:
            hits = (s.top_k(hits_node, limit=depth, sort_by=sort_by,
                            after=after)
                    if after is not None else
                    s.top_k_sorted_pruned(hits_node, limit=depth,
                                          sort_by=sort_by))
        else:
            hits = s.top_k_pruned(hits_node, limit=depth, after=after)
        return _done({"docs": _page(s.retrieve(hits)), "facets": {}})

    def _knn_hits(self, knn: dict, k: int):
        """Exact-cosine top-k over a dense_vector column (ES 8 ``knn``
        shape: field / query_vector / k / num_candidates).  The vector
        column lives in the doc store, so this is ONE docs scan with
        the similarity as JVM column math (zip_with + aggregate — no
        UDF) → TakeOrderedAndProject.  Exact by construction, so
        num_candidates (an HNSW recall/latency dial) is accepted and
        ignored.  Score = (1 + cosine) / 2, the ES cosine rule; docid
        ties break ascending like every other collector.  The IVF/LSH
        accelerations live in operators/ann.py for corpus-scale
        retrieval pipelines — this surface pins exactness."""
        field = knn.get("field")
        qv = knn.get("query_vector")
        fdef = self.schema.field(field) if field else None
        if fdef is None or fdef.type != "dense_vector":
            raise A.QueryError(
                f"knn field {field!r} must be a dense_vector field")
        if not qv:
            raise A.QueryError("knn needs a non-empty query_vector")
        if fdef.dims is not None and len(qv) != fdef.dims:
            raise A.QueryError(
                f"knn query_vector has {len(qv)} dims, field expects "
                f"{fdef.dims}")
        s = self.searcher()
        docs = s._table("docs")
        if docs is None or field not in docs.columns:
            return s._empty(), s
        lit_v = F.array(*[F.lit(float(x)) for x in qv])
        qnorm = math.sqrt(sum(float(x) ** 2 for x in qv))
        if qnorm == 0.0:
            raise A.QueryError("knn query_vector must have nonzero norm")
        col = F.col(field).cast("array<double>")
        dot = F.aggregate(F.zip_with(col, lit_v, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        dnorm = F.sqrt(F.aggregate(
            F.transform(col, lambda a: a * a),
            F.lit(0.0), lambda acc, x: acc + x))
        score = F.when(dnorm > 0.0,
                       (F.lit(1.0) + dot / (dnorm * F.lit(qnorm)))
                       / F.lit(2.0)).otherwise(F.lit(0.0))
        cand = (docs.filter(F.col(field).isNotNull())
                .select("segment_id", "docid", score.alias("score")))
        tomb = s._tombstones()
        if tomb is not None:
            cand = cand.join(tomb, on=["segment_id", "docid"],
                             how="left_anti")
        base_pairs: list = []
        for sid, b in s.bases.items():
            base_pairs.extend([F.lit(sid), F.lit(int(b))])
        gid = (F.element_at(F.create_map(*base_pairs),
                            F.col("segment_id")) + F.col("docid"))
        hits = (cand.withColumn("docid_g", gid.cast("long"))
                .orderBy(F.desc("score"), F.asc("docid_g")).limit(k))
        return hits, s

    def _knn_search(self, search: dict, knn: dict,
                    body: "dict | None") -> dict:
        """ES 8 knn search: ``knn`` alone → vector top-k; ``knn`` +
        ``query`` → RRF fusion of the two rankings (the ES 8.8+
        ``rank.rrf`` retriever: rrf = Σ 1/(rank_constant + rank), the
        same fuser as the ft_rrf_hybrid contract query).  Each leg is
        an independent bounded top-k — BM25 through the block-max
        pruned path, knn through the doc-store scan — so the fuser
        joins 2×depth rows and never touches the corpus."""
        k = int(knn.get("k", search.get("limit", DEFAULT_QUERY_LIMIT)))
        if k <= 0:
            raise A.QueryError("knn k must be >= 1")
        hits, s = self._knn_hits(knn, k)
        if body is None:
            return {"docs": s.retrieve(hits), "facets": {}}
        rank = (search.get("rank") or {}).get("rrf") or {}
        rc = int(rank.get("rank_constant", 60))
        window = int(rank.get("rank_window_size", max(k, 10)))
        node = self._resolve_mlt(A.parse_json(body, self.schema))
        bm = s.top_k_pruned(node, limit=window).collect()
        kn = self._knn_hits(knn, window)[0].collect()
        rrf: dict[int, float] = {}
        for leg in (bm, kn):
            for i, r in enumerate(leg):
                g = int(r["docid_g"])
                rrf[g] = rrf.get(g, 0.0) + 1.0 / (rc + i + 1)
        top = sorted(rrf.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        got = {int(h["docid"]): h for h in self.mget([g for g, _ in top])}
        return {"docs": [
            {"score": float(sc), "doc": got[g]["doc"], "docid": g,
             "snippet": None}
            for g, sc in top if got.get(g, {}).get("found")],
            "facets": {}}

    def _apply_highlight(self, docs: list[dict], node: "A.Node",
                         hl: dict) -> None:
        """ES ``highlight`` block: per stored analyzed field, up to
        ``number_of_fragments`` non-overlapping ``fragment_size``-char
        fragments with matched terms wrapped in pre/post tags (ES
        defaults <em>/</em>).  Post-processing over the ≤k retrieved
        hits only — same bounded cost as snippets; expansion clauses
        (prefix/regex/fuzzy) highlight their matched dictionary terms
        through the same capped termdict read the snippet path uses.
        Hits with no highlightable fragment get no ``highlight`` key
        for that field, the ES omission rule."""
        fields_spec = hl.get("fields") or {}
        if not fields_spec:
            raise A.QueryError("highlight needs a non-empty fields map")
        pre = (hl.get("pre_tags") or ["<em>"])[0]
        post = (hl.get("post_tags") or ["</em>"])[0]
        s = self.searcher()
        pos_terms = collect_positive_terms(node)
        for fname, spec in fields_spec.items():
            fdef = self.schema.field(fname)
            if fdef is None or not fdef.stored or fdef.tokenizer is None:
                raise A.QueryError(
                    f"highlight field {fname!r} must be a stored "
                    "analyzed text field")
            spec = spec or {}
            fsize = int(spec.get("fragment_size", 150))
            nfrag = int(spec.get("number_of_fragments", 1))
            terms = set(pos_terms.get(fname, set()))
            terms |= s.expand_snippet_terms(node, fname)
            tok = self.schema.tokenizer_for(fname)
            for d in docs:
                vals = d["doc"].get(fname, [])
                frags = generate_fragments(
                    vals[0] if vals else None, terms, tok,
                    max_chars=fsize, number_of_fragments=nfrag,
                    pre_tag=pre, post_tag=post)
                if frags:
                    d.setdefault("highlight", {})[fname] = frags

    def scan_df(self, query: "str | dict",
                with_stored: bool = False) -> DataFrame:
        """The FULL match set as a DataFrame (docid, score[, stored
        fields]) — the pagination-free export shape.  No top-k, no
        collect: candidates stay distributed, the global docid is
        column math over the segment base map, and stored fields come
        in through ONE equi-join against the doc store.  This is how a
        100 TB match set leaves the index (feed it to a writer /
        downstream pipeline); for human-sized pages use query_json's
        search_after."""
        node = self._parse_any(query)
        s = self.searcher()
        cand = s.candidates(node)
        base_pairs: list = []
        for sid, b in s.bases.items():
            base_pairs.extend([F.lit(sid), F.lit(int(b))])
        gid = (F.element_at(F.create_map(*base_pairs),
                            F.col("segment_id")) + F.col("docid"))
        if not with_stored:
            return cand.select(gid.alias("docid"), "score")
        docs = s._table("docs")
        stored = [f.name for f in self.schema.fields
                  if f.stored and f.name in docs.columns]
        return (cand.join(docs.select("segment_id", "docid", *stored),
                          on=["segment_id", "docid"], how="left")
                .select(gid.alias("docid"), "score", *stored))

    def _collapsed_hits(self, s, node: "A.Node", collapse: dict,
                        depth: int, sort_by: str | None):
        """ES field collapsing: one hit per distinct value of
        ``collapse.field`` — the group's best doc under the active
        order (BM25, or ``sort_by``'s fast-field value), then the
        normal top-k over the group winners.  The canonical transcript
        ask: "best matching TURN per CONVERSATION".

        Block-max pruning is INVALID here (a segment whose best doc
        loses globally can still win its group), so the full candidate
        set flows: one equi-join to the doc store for the collapse
        field, one window (hash-partitioned BY THE GROUP KEY — each
        group's row_number computes locally after one shuffle, no
        global sort), rank-1 rows into the usual
        TakeOrderedAndProject.  Docs with a null collapse value form
        one null group (the ES doc-values behavior)."""
        f = collapse.get("field") if isinstance(collapse, dict) else None
        if not f:
            raise A.QueryError("collapse needs a field")
        fdef = self.schema.field(f)
        if fdef is None or not fdef.stored:
            raise A.QueryError(f"collapse field {f!r} is not stored")
        from pyspark.sql import Window

        cand = s.with_global_docid(s.candidates(node))
        sdef = self.schema.field(sort_by) if sort_by else None
        if sdef is not None and sdef.fast and sdef.stored:
            cols = sorted({f, sort_by})
            docs = s._table("docs").select("segment_id", "docid", *cols)
            cand = (cand.join(docs, on=["segment_id", "docid"])
                    .withColumn("score", F.col(sort_by).cast("double")))
            if sort_by != f:
                cand = cand.drop(sort_by)
        else:
            docs = s._table("docs").select("segment_id", "docid", f)
            cand = cand.join(docs, on=["segment_id", "docid"])
        w = Window.partitionBy(f).orderBy(F.desc("score"), F.asc("docid_g"))
        return (cand.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn", f)
                .orderBy(F.desc("score"), F.asc("docid_g")).limit(depth))

    _RESCORE_MODES = {
        "total": lambda p, r: p + r,
        "multiply": lambda p, r: p * r,
        "max": max, "min": min,
        "avg": lambda p, r: (p + r) / 2.0,
    }

    def _rescored_hits(self, s, node: "A.Node", rescore: dict,
                       depth: int):
        """ES ``rescore``: re-rank the top-``window_size`` primary hits
        with a (typically more expensive) secondary query::

            {"window_size": W, "query": {
                "rescore_query": {...}, "query_weight": qw,
                "rescore_query_weight": rw, "score_mode": "total"}}

        new score = mode(qw·primary, rw·secondary) for window docs the
        secondary matches, qw·primary otherwise (the ES contract); the
        window re-sorts by (new score desc, docid asc) and the page is
        cut from it.  Execution: the primary window comes off the
        normal block-max-pruned top-k; the secondary query's candidates
        are pushdown-FILTERED TO THE WINDOW KEYS before collection —
        the same ≤window bounded-fetch shape as retrieve — so the
        expensive clause (usually a phrase) scores W docs, never the
        corpus.  That boundedness is exactly why ES exposes rescore
        instead of telling users to put the phrase in a should clause:
        cost is O(window), independent of corpus size."""
        spec = rescore.get("query") or {}
        rnode_body = spec.get("rescore_query")
        if not rnode_body:
            raise A.QueryError("rescore needs query.rescore_query")
        window = int(rescore.get("window_size", 10))
        if window <= 0:
            raise A.QueryError("rescore window_size must be > 0")
        qw = float(spec.get("query_weight", 1.0))
        rw = float(spec.get("rescore_query_weight", 1.0))
        mode = str(spec.get("score_mode", "total"))
        combine = self._RESCORE_MODES.get(mode)
        if combine is None:
            raise A.QueryError(f"unknown rescore score_mode {mode!r}")
        rnode = self._resolve_mlt(A.parse_json(rnode_body, self.schema))
        window = max(window, depth)  # ES requires from+size <= window
        hits_df = s.top_k_pruned(node, limit=window)
        rows = hits_df.collect()
        if not rows:
            return hits_df
        rcands = s.candidates(rnode)
        cond = None
        by_seg: dict[str, list[int]] = {}
        for r in rows:
            by_seg.setdefault(r["segment_id"], []).append(r["docid"])
        for sid, ids in by_seg.items():
            c = (F.col("segment_id") == sid) & F.col("docid").isin(ids)
            cond = c if cond is None else (cond | c)
        rsc = {(r["segment_id"], r["docid"]): float(r["score"])
               for r in rcands.filter(cond).collect()}
        rescored = []
        for r in rows:
            p = qw * float(r["score"])
            sec = rsc.get((r["segment_id"], r["docid"]))
            ns = combine(p, rw * sec) if sec is not None else p
            rescored.append({"segment_id": r["segment_id"],
                             "docid": r["docid"], "score": ns,
                             "docid_g": r["docid_g"]})
        rescored.sort(key=lambda r: (-r["score"], r["docid_g"]))
        return self.spark.createDataFrame(rescored[:depth], hits_df.schema)

    def count(self, query: str | dict) -> int:
        """Total matching-doc count — the tantivy Count-collector analog.
        Skips scoring entirely: zero-bound segments are dropped
        driver-side (block-max absence proofs), and the surviving
        candidate set is counted without the top-k sort or the docs-table
        retrieval join."""
        return self._count_node(self._parse_any(query))

    def _count_node(self, node: "A.Node") -> int:
        """count() on an already-parsed-and-resolved node — so callers
        holding one (track_total_hits) don't pay a second parse +
        index-dependent resolution (a second terms-lookup mget / MLT
        seed read / span_multi termdict expansion)."""
        s = self.searcher()
        bounds = s._segment_bounds(node)
        if bounds is not None:
            live = {sid for sid, b in bounds.items() if b > 0.0}
            if not live:
                return 0
            if len(live) < len(s.segments):
                s = s._restricted(live)
        return s.candidates(node).count()

    def explain(self, query: str | dict) -> dict:
        """Operability surface: what WOULD this query do, without running
        it.  Returns the parsed AST, the exact physical plan Spark would
        execute for the candidate set (explain 'formatted' — PushedFilters
        / PartitionFilters visible), and the per-segment score upper
        bounds the block-max pruner would use, with the segments already
        provably empty (bound 0.0) called out.  Cost: driver-side stats
        lookups only (tiny pushdown-filtered termdict scans, memoized per
        searcher) — the postings are never scanned."""
        node = self._resolve_mlt(
            A.parse_string(query, self.schema)
            if isinstance(query, str)
            else A.parse_json(query, self.schema)
        )
        s = self.searcher()
        cands = s.candidates(node)
        plan = self.spark._sc._jvm.PythonSQLUtils.explainString(
            cands._jdf.queryExecution(), "formatted")
        bounds = s._segment_bounds(node)
        out: dict[str, Any] = {
            "ast": repr(node),
            "plan": plan,
            "segments_total": len(s.segments),
            "boundable": bounds is not None,
        }
        if bounds is not None:
            out["segment_bounds"] = dict(sorted(bounds.items()))
            out["provably_empty_segments"] = sorted(
                sid for sid, b in bounds.items() if b == 0.0)
        return out

    def query_df(self, query: str | dict, limit: int = DEFAULT_QUERY_LIMIT) -> DataFrame:
        """DataFrame-returning variant (for pipelines / the driver contract)."""
        node = self._resolve_mlt(
            A.parse_string(query, self.schema)
            if isinstance(query, str)
            else A.parse_json(query, self.schema)
        )
        s = self.searcher()
        return s.top_k_pruned(node, limit=limit)

    # ------------------------------------------------------------ deletes
    # BEYOND-REFERENCE: tantivy exposes delete_term but the reference
    # never wired it (no delete handler in main.rs:34-43).  Semantics
    # pinned here (documented deviations from tantivy, which re-densifies
    # docids at merge):
    #   * visibility: immediate on commit — every query/count/facet path
    #     anti-joins the tombstone set (search.py _without_tombstones).
    #   * docids are STABLE forever: compaction purges deleted rows but
    #     never re-densifies, so global docids and the bit-identity of
    #     surviving hits hold across delete+compact.
    #   * BM25 stats: num_docs/avgdl are docid-space stats and do NOT
    #     shrink on delete (scores of surviving docs never move until a
    #     compaction); per-term dfs DO reclaim at compaction because the
    #     termdict re-aggregates from live postings.
    #   * concurrency: manifest commits are read-modify-write — same
    #     single-writer assumption as add_df/compaction (and as the
    #     reference's single-process writer, index.rs:167-193).  Don't
    #     interleave deletes with a live streaming-ingest sink from
    #     another thread.
    def _commit_tombstones(self, cand: DataFrame) -> int:
        """Persist (segment_id, docid) tombstones idempotently; returns
        the number of NEWLY deleted docs."""
        from pyspark.sql import functions as F

        s = self.searcher()
        live = cand.select("segment_id", "docid").distinct()
        t = s._tombstones()
        if t is not None:
            live = live.join(t, on=["segment_id", "docid"], how="left_anti")
        live = live.persist()
        try:
            n = live.count()
            if n == 0:
                return 0
            epoch = f"{self.storage.new_epoch()}del"
            self.storage.write_table(live, epoch, "tombstones")
        finally:
            live.unpersist()
        m = self.storage.manifest()
        m.setdefault("tombstones", []).append({"epoch": epoch, "n": int(n)})
        m["del_opstamp"] = int(m.get("del_opstamp", 0)) + 1
        self.storage.write_manifest(m)
        return int(n)

    def delete_docs(self, docids: list[int]) -> int:
        """Delete by GLOBAL docid (the ``docid`` field of query hits).
        Driver-side list — for mass deletions use delete_term /
        delete_by_query, which stay distributed end-to-end."""
        if not docids:
            return 0
        s = self.searcher()
        ordered = sorted(s.bases.items(), key=lambda kv: kv[1])
        max_docs = {seg["segment_id"]: int(seg["max_doc"])
                    for seg in s.segments}
        rows = []
        for d in docids:
            sid = None
            for seg_id, base in ordered:
                if d >= base:
                    sid, local = seg_id, d - base
            # bound-check against the owning segment's max_doc: an
            # out-of-range docid (>= num_docs) must be a no-op, not a
            # phantom tombstone inflating the delete count / num_deleted
            if sid is not None and local < max_docs.get(sid, 0):
                rows.append((sid, local))
        if not rows:
            return 0
        df = self.spark.createDataFrame(rows, "segment_id string, docid long")
        return self._commit_tombstones(df)

    def delete_term(self, field: str, term: str) -> int:
        """tantivy ``delete_term`` analog: tombstone every doc whose
        ``field`` contains the EXACT indexed term (pass the analyzed
        form — a Term, not query text; tantivy semantics)."""
        from pyspark.sql import functions as F  # noqa: F401

        s = self.searcher()
        p = s._postings_for(field, term)
        if p is None:
            return 0
        return self._commit_tombstones(p.select("segment_id", "docid"))

    def delete_by_query(self, query: str | dict) -> int:
        """Tombstone every doc matching a full query (string grammar or
        JSON DSL) — the generalization tantivy gained as
        delete_query; free here because deletion consumes the same
        candidate compilation as search."""
        node = self._resolve_mlt(
            A.parse_string(query, self.schema)
            if isinstance(query, str)
            else A.parse_json(query, self.schema)
        )
        s = self.searcher()
        return self._commit_tombstones(
            s.candidates(node).select("segment_id", "docid"))

    def suggest(self, field: str, text: str, size: int = 5,
                max_dist: int = 2, mode: str = "missing") -> dict:
        """ES term suggester (``suggest`` with a ``term`` block;
        BEYOND-REFERENCE): per whitespace token of ``text``, dictionary
        terms within OSA edit distance ``max_dist``, ordered by
        (distance asc, df desc, term asc), top ``size`` each.

        ``mode`` is the ES suggest_mode:

          * ``missing`` (default) — suggest only for tokens absent from
            the index (df 0);
          * ``popular``           — only suggestions MORE frequent than
            the token itself;
          * ``always``            — suggest for every token.

        Execution shape: per token, one pushdown-filtered termdict scan
        behind the same JVM Levenshtein prefilter + Arrow-batched exact
        OSA pass fuzzy queries use (functions/strdist.py) — the Python
        hop touches only near-miss dictionary terms, never postings;
        per-term dfs come summed across segments.  Tokens are
        case-folded, never stemmed (the suggester corrects what the
        user TYPED; ES applies the suggest analyzer similarly).
        Returns {token: [{"text", "score", "freq"}]} with score =
        1 − dist/len(token) (ES-ish normalized similarity)."""
        from sonar_tantivy_spark.functions.strdist import (
            jvm_prefilter,
            make_osa_udf,
        )

        if mode not in ("missing", "popular", "always"):
            raise A.QueryError(f"unknown suggest_mode {mode!r}")
        if self.schema.field(field) is None or max_dist < 1:
            raise A.QueryError("suggest needs an indexed field and "
                               "max_dist >= 1")
        s = self.searcher()
        td = s._table("termdict")
        out: dict[str, list] = {}
        tokens = [t.lower() for t in str(text).split()]
        dfs = s.term_dfs({(field, t) for t in tokens})
        for tok in tokens:
            own_df = dfs.get((field, tok), 0)
            if mode == "missing" and own_df > 0:
                out[tok] = []
                continue
            if td is None:
                out[tok] = []
                continue
            cand = (
                td.filter(F.col("field") == field)
                .filter(jvm_prefilter(F.col("term"), tok, max_dist))
                .groupBy("term").agg(F.sum("df").alias("freq"))
                .withColumn("dist", make_osa_udf(tok)(F.col("term")))
                .filter((F.col("dist") <= max_dist) & (F.col("dist") > 0))
            )
            if mode == "popular":
                cand = cand.filter(F.col("freq") > own_df)
            rows = (cand.orderBy(F.asc("dist"), F.desc("freq"),
                                 F.asc("term"))
                    .limit(size).collect())
            out[tok] = [
                {"text": r["term"],
                 "score": round(1.0 - r["dist"] / max(1, len(tok)), 4),
                 "freq": int(r["freq"])}
                for r in rows]
        return out

    def suggest_phrase(self, field: str, text: str, size: int = 3,
                       max_dist: int = 2, cand_size: int = 3,
                       alpha: float = 0.4) -> list[dict]:
        """ES phrase suggester (``suggest`` with a ``phrase`` block;
        BEYOND-REFERENCE): whole-phrase did-you-mean.  Per whitespace
        token, correction candidates come from the term suggester's
        OSA machinery (the typed token always stays a candidate, so
        the original phrase is in the ranking and callers can compare
        the winners' scores against it); candidate phrases are every
        combination,
        scored by an add-α-smoothed bigram language model over the
        INDEXED corpus and returned as the top ``size``
        ``[{"text", "score"}]`` (score = log-probability).  The input
        phrase stays in the ranking — like ES without ``collate``;
        callers compare the winners' scores against the original's to
        decide whether to rewrite.

        LM: ``log P(w1..wn) = log Pu(w1) + Σ log Pb(wi | wi-1)`` with
        ``Pu(w) = (C(w)+α)/(N+αV)`` and
        ``Pb(b|a) = (C(a,b)+α)/(C(a)+αV)``; C(w) is the corpus term
        frequency, C(a,b) the ADJACENCY count (b at position p+1 after
        a), V the field's dictionary size, N ≈ avgdl·num_docs (the
        quantized-fieldnorm estimate — deterministic, and a constant
        offset across candidates so ranks never depend on it).

        Execution shape (100 TB story): candidate generation is the
        term suggester's pushdown-filtered termdict scans; unigram
        counts are ONE postings scan filtered to the ≤ k·(cand+1)
        candidate terms; bigram counts are ONE self-join of two
        pushdown-filtered postings scans on (segment_id, docid),
        restricted to the allowed adjacent candidate pairs by a literal
        IN before the aggregation — candidate-bounded, never an
        all-pairs join; combination enumeration is driver-side over
        ≤ (cand+1)^tokens phrases, capped by trimming per-token lists.
        Reference has no suggester; Lucene semantics per ES
        phrase-suggester docs (direct generator + smoothed LM)."""
        fdef = self.schema.field(field)
        if fdef is None or not fdef.has_positions:
            raise A.QueryError(
                "suggest_phrase needs a position-indexed field")
        if alpha <= 0:
            raise A.QueryError("alpha must be > 0")
        tokens = [t.lower() for t in str(text).split()]
        if not tokens or len(tokens) > 8:
            raise A.QueryError("suggest_phrase takes 1..8 tokens")
        s = self.searcher()
        dfs = s.term_dfs({(field, t) for t in tokens})
        sugg = self.suggest(field, text, size=cand_size,
                            max_dist=max_dist, mode="always")
        cands: list[list[str]] = []
        for tok in tokens:
            # the typed token ALWAYS stays a candidate (even out of
            # dictionary — smoothing scores it) so the original phrase
            # is in the ranking and callers can compare against it
            c = [tok] + [o["text"] for o in sugg.get(tok, [])]
            cands.append(list(dict.fromkeys(c)))
        # cap the driver-side enumeration: trim the longest lists first
        combos = 1
        for c in cands:
            combos *= len(c)
        while combos > 256:
            longest = max(range(len(cands)), key=lambda i: len(cands[i]))
            combos //= len(cands[longest])
            cands[longest] = cands[longest][:-1]
            combos *= len(cands[longest])
        all_terms = sorted({t for c in cands for t in c})
        td = s._table("termdict")
        p = s._table("postings")
        if td is None or p is None:
            return []
        vocab = int(td.filter(F.col("field") == field)
                    .select("term").distinct().count())
        base = p.filter((F.col("field") == field)
                        & F.col("term").isin(all_terms))
        uni = {r["term"]: int(r["c"]) for r in
               base.groupBy("term").agg(F.sum("tf").alias("c")).collect()}
        # allowed adjacent candidate pairs, as '\x00'-joined literals
        pairs: set[tuple[str, str]] = set()
        for i in range(len(tokens) - 1):
            pairs.update((a, b) for a in cands[i] for b in cands[i + 1])
        bi: dict[tuple[str, str], int] = {}
        if pairs:
            lhs = base.select("segment_id", "docid",
                              F.col("term").alias("__a"),
                              F.col("positions").alias("__pa"))
            rhs = base.select("segment_id", "docid",
                              F.col("term").alias("__b"),
                              F.col("positions").alias("__pb"))
            key = F.concat_ws("\x00", F.col("__a"), F.col("__b"))
            allowed = [f"{a}\x00{b}" for a, b in sorted(pairs)]
            adj = F.size(F.array_intersect(
                F.transform("__pa", lambda x: x + 1), F.col("__pb")))
            rows = (lhs.join(rhs, on=["segment_id", "docid"])
                    .filter(key.isin(allowed))
                    .select("__a", "__b", adj.alias("__m"))
                    .filter(F.col("__m") > 0)
                    .groupBy("__a", "__b").agg(F.sum("__m").alias("c"))
                    .collect())
            bi = {(r["__a"], r["__b"]): int(r["c"]) for r in rows}
        n_total = max(1.0, s.avgdl(field) * s.num_docs)
        av = alpha * max(1, vocab)

        def lp(phrase: tuple[str, ...]) -> float:
            score = math.log((uni.get(phrase[0], 0) + alpha)
                             / (n_total + av))
            for a, b in zip(phrase, phrase[1:]):
                score += math.log((bi.get((a, b), 0) + alpha)
                                  / (uni.get(a, 0) + av))
            return score

        scored = sorted(
            ((" ".join(ph), lp(ph)) for ph in itertools.product(*cands)),
            key=lambda t: (-t[1], t[0]))
        return [{"text": t, "score": round(sc, 6)}
                for t, sc in scored[:size]]

    def validate(self, query: str | dict) -> dict:
        """ES ``_validate/query`` analog: parse (and compile-check) a
        query WITHOUT executing it.  Returns {"valid": bool,
        "error": str | None}; never raises.  Cost: parsing + logical
        compilation only — no Spark job runs (compilation is lazy)."""
        try:
            node = (A.parse_string(query, self.schema)
                    if isinstance(query, str)
                    else A.parse_json(query, self.schema))
            for f in sorted({fld for fld, _t in collect_terms(node)}):
                if self.schema.field(f) is None:
                    raise A.QueryError(f"unknown field {f!r}")
            self.searcher()._cand_opt(node)  # lazy: plans, never runs
            return {"valid": True, "error": None}
        except Exception as e:  # noqa: BLE001 — the API contract is no-raise
            return {"valid": False, "error": str(e)}

    SPAN_EXPAND_CAP = 128

    def _span_expand_terms(self, field: str,
                           m: "A.SpanExpand") -> list[str]:
        """Expand a span_multi marker against the term dictionary: ONE
        pushdown-filtered termdict scan (prefix → StartsWith reaches
        the parquet reader; regex → anchored rlike), distinct terms in
        ascending order.  Raises past SPAN_EXPAND_CAP — the Lucene
        TooManyClauses contract: a span chain over hundreds of
        alternatives is a different (and worse) query than the user
        meant, so fail loudly rather than silently truncate."""
        s = self.searcher()
        td = s._table("termdict")
        if td is None:
            return []
        base = td.filter(F.col("field") == field)
        if m.kind == "prefix":
            base = base.filter(F.col("term").startswith(m.value))
        else:
            base = base.filter(F.col("term").rlike(f"^(?:{m.value})$"))
        rows = (base.select("term").distinct().orderBy("term")
                .limit(self.SPAN_EXPAND_CAP + 1).collect())
        if len(rows) > self.SPAN_EXPAND_CAP:
            raise A.QueryError(
                f"span_multi pattern {m.value!r} expands past "
                f"{self.SPAN_EXPAND_CAP} dictionary terms — narrow it")
        return [r["term"] for r in rows]

    def _run_suggest(self, spec: dict) -> dict:
        """ES ``suggest`` envelope block: named suggesters resolved to
        the engine's term / phrase / completion implementations —
        {"name": {"text": t, "term": {"field": f, ...}}} or
        {"phrase": {...}} or {"prefix": p, "completion": {...}}.
        Pure routing: each suggester keeps its own documented execution
        shape (bounded termdict scans, never postings)."""
        if not isinstance(spec, dict) or not spec:
            raise A.QueryError("suggest needs named suggester blocks")
        out: dict = {}
        for name, blk in spec.items():
            if not isinstance(blk, dict):
                raise A.QueryError(f"suggest {name!r}: not an object")
            kinds = [k for k in ("term", "phrase", "completion")
                     if k in blk]
            if len(kinds) != 1:
                raise A.QueryError(
                    f"suggest {name!r}: exactly one of term/phrase/"
                    f"completion required")
            kind = kinds[0]
            b = blk[kind] or {}
            f = b.get("field")
            if not f:
                raise A.QueryError(f"suggest {name!r}: missing field")
            size = int(b.get("size", 5))
            if kind == "term":
                text = blk.get("text")
                if not text:
                    raise A.QueryError(f"suggest {name!r}: missing text")
                out[name] = self.suggest(
                    f, str(text), size=size,
                    max_dist=int(b.get("max_edits", 2)),
                    mode=str(b.get("suggest_mode", "missing")))
            elif kind == "phrase":
                text = blk.get("text")
                if not text:
                    raise A.QueryError(f"suggest {name!r}: missing text")
                out[name] = self.suggest_phrase(f, str(text), size=size)
            else:
                prefix = blk.get("prefix", blk.get("text"))
                if not prefix:
                    raise A.QueryError(
                        f"suggest {name!r}: completion needs a prefix")
                out[name] = self.suggest_completion(f, str(prefix),
                                                    size=size)
        return out

    def search_template(self, template: dict) -> dict:
        """ES ``_search/template`` analog (mustache subset): ``source``
        is a search envelope — a dict or a JSON string — with
        ``{{param}}`` placeholders; ``params`` supplies values.
        Substitution follows the mustache-in-JSON rule ES uses: the
        template text carries its own quoting, so a string parameter
        is inserted raw (``"{{q}}"`` in the source becomes ``"hello"``)
        and numbers/booleans/null render as JSON literals.  Sections,
        partials, and ``{{#toJson}}`` are not supported (rejected by
        the leftover-placeholder check, never silently dropped).  Pure
        parse-time sugar: the substituted envelope runs through
        query_json unchanged."""
        import json as _json
        import re as _re

        src = template.get("source")
        if src is None:
            raise A.QueryError("search_template needs a source")
        text = src if isinstance(src, str) else _json.dumps(src)
        params = template.get("params") or {}

        def _sub(m: "_re.Match") -> str:
            # ONE regex pass over the template (mustache semantics:
            # parameter VALUES are inserted literally, never
            # re-expanded — sequential str.replace would re-substitute
            # a value containing {{...}} and falsely reject literal
            # braces in values)
            # mustache trims whitespace around the key: {{ q }} == {{q}}
            # (ADVICE r5)
            k = m.group(1).strip()
            if k not in params:
                raise A.QueryError(
                    f"search_template: unbound placeholder {k!r}")
            v = params[k]
            if isinstance(v, str):
                return _json.dumps(v)[1:-1]  # escape, drop the quotes
            return _json.dumps(v)

        text = _re.sub(r"\{\{([^{}]*)\}\}", _sub, text)
        try:
            body = _json.loads(text)
        except ValueError as e:
            raise A.QueryError(
                f"search_template: substituted source is not valid "
                f"JSON ({e})")
        return self.query_json(body)

    def field_caps(self, fields: list[str] | None = None) -> dict:
        """ES ``_field_caps`` analog: per-field capability map from the
        schema.  ``searchable`` = indexed; ``aggregatable`` = stored
        (this engine's aggregations read stored fields) or fast;
        types use the ES names (text / keyword for raw-tokenized /
        long / double / date / binary / dense_vector)."""
        type_map = {"i64": "long", "u64": "long", "f64": "double",
                    "date": "date", "bytes": "binary",
                    "dense_vector": "dense_vector", "facet": "keyword"}
        out: dict = {}
        for f in self.schema.fields:
            if fields is not None and f.name not in fields:
                continue
            if f.type in ("text", "string"):
                es_t = "keyword" if (f.tokenizer == "raw"
                                     or not f.indexed) else "text"
            else:
                es_t = type_map.get(f.type, f.type)
            out[f.name] = {es_t: {
                "type": es_t,
                "searchable": bool(f.indexed),
                "aggregatable": bool(f.stored or f.fast),
            }}
        return {"fields": out}

    def msearch(self, searches: list[dict]) -> list[dict]:
        """ES ``_msearch`` analog: N search envelopes against this
        index in one call, results in request order.  Runs the bodies
        as CONCURRENT Spark jobs (same rationale as multi_query —
        serial looping is pure added latency on a cluster that can
        interleave)."""
        return run_all([partial(self.query_json, s) for s in searches], 8)

    def num_deleted(self) -> int:
        """Live tombstone count (rows for already-compacted segments
        excluded)."""
        s = self.searcher()
        t = s._tombstones()
        return 0 if t is None else t.count()

    def more_like_this(
        self,
        docid: int,
        field: str,
        *,
        top_terms: int = 5,
        min_df: int = 2,
        limit: int = DEFAULT_QUERY_LIMIT,
    ) -> list[dict]:
        """Find documents similar to the one at global ``docid``:
        Lucene/Elasticsearch MoreLikeThis re-expressed as pure query
        composition.  BEYOND-REFERENCE extension; everything it touches
        is existing machinery, so the scores are plain BM25.

        1. Read the seed doc's (term, tf) rows.  Fast path (what
           Lucene MLT itself does): point-read the STORED field from
           the doc store (``Searcher.fetch_stored``: docids are
           monotonic within each segment's files, so one row group is
           decoded, with no Spark job) and re-analyze it driver-side
           with the field's own tokenizer (one doc, identical analyzer
           = identical tf).
           Fallback for non-stored / non-string fields: a filtered
           postings scan.  (Postings files are sorted by (field, term,
           docid), so a docid predicate there cannot prune row groups
           — at 1M+ turns the old postings seed read cost seconds,
           the doc-store read is milliseconds.)
        2. Rank its terms by tf·idf, deterministic tie-break on the
           term string; keep ``top_terms``.  Terms with df < ``min_df``
           are skipped first (Lucene MLT's minDocFreq): the seed's
           df-1 terms are its highest-idf terms but can never match
           any OTHER document, so keeping them would crowd the seed
           query with no-ops.
        3. Run the should-OR of those terms through the normal
           block-max-pruned top-k path and drop the seed itself.
        """
        terms = self._mlt_terms(docid, field, top_terms, min_df)
        if not terms:
            return []
        from pyspark.sql import functions as F

        s = self.searcher()
        node = A.BoolQ(should=[A.TermQ(field, t) for t in terms])
        hits = (
            s.top_k_pruned(node, limit=limit + 1)
            .filter(F.col("docid_g") != docid)
            .orderBy(F.desc("score"), F.asc("docid_g")).limit(limit)
        )
        return s.retrieve(hits)

    def _mlt_terms(self, docid: int, field: str,
                   top_terms: int, min_df: int) -> list[str]:
        """Seed-term extraction shared by Index.more_like_this and the
        MltQ query-node resolution (steps 1-2 of the MLT docstring)."""
        from pyspark.sql import functions as F

        from sonar_tantivy_spark.functions import bm25

        s = self.searcher()
        # an id past the last segment must error, never silently seed
        # nothing
        sid, local = _seed_key(s, docid)
        seed = None
        fd = self.schema.field(field)
        if fd is not None and fd.stored and fd.tokenizer is not None:
            text = s.fetch_stored([(sid, local)], [field]).get(
                (sid, local), {}).get(field)
            if isinstance(text, str):
                from collections import Counter

                from sonar_tantivy_spark import analyzer

                seed = [{"term": t, "tf": c} for t, c in
                        Counter(analyzer.analyze_terms(
                            text, fd.tokenizer)).items()]
        if seed is None:
            p = s._table("postings")
            if p is None:
                return []
            seed = (
                p.filter((F.col("segment_id") == sid)
                         & (F.col("docid") == local)
                         & (F.col("field") == field))
                .select("term", "tf").collect()
            )
        if not seed:
            return []
        dfs = s.term_dfs({(field, r["term"]) for r in seed})
        ranked = sorted(
            ((int(r["tf"] or 1)
              * bm25.idf(dfs.get((field, r["term"]), 0), s.num_docs),
              r["term"]) for r in seed
             if dfs.get((field, r["term"]), 0) >= min_df),
            key=lambda x: (-x[0], x[1]),
        )
        return [t for _, t in ranked[:top_terms]]

    def _resolve_mlt(self, node: "A.Node") -> "A.Node":
        """Rewrite MltQ nodes (needs the index: seed read + dfs) into
        BoolQ(should=[seed terms], must_not=[IdsQ([seed])]) — the ES
        include=false rule — so more_like_this composes anywhere a
        query does.  Empty seed → a pure-negative bool, which matches
        nothing (the tantivy pin)."""
        import dataclasses

        if isinstance(node, A.MltQ):
            terms = self._mlt_terms(node.like_docid, node.field,
                                    node.top_terms, node.min_df)
            return A.BoolQ(
                should=[A.TermQ(node.field, t) for t in terms],
                must_not=[A.IdsQ([node.like_docid])])
        if isinstance(node, A.TermsLookupQ):
            # terms lookup (TermsLookupQ docstring): one bounded mget
            # read of the source doc, its path values become a plain
            # TermSetQ under the terms-query verbatim/case-fold rule;
            # missing doc or empty values -> match nothing (ES rule)
            got = self.mget([node.docid])[0]
            vals = got["doc"].get(node.path) if got["found"] else None
            if not vals:
                return A.BoolQ()
            tok = self.schema.tokenizer_for(node.field)
            terms = [str(v) if tok == "raw" else str(v).lower()
                     for v in vals]
            return A.TermSetQ(node.field, list(dict.fromkeys(terms)))
        if isinstance(node, A.SpanNearQ) \
                and any(isinstance(c, A.SpanExpand) for c in node.clauses):
            import dataclasses as _dc
            clauses: list = []
            for c in node.clauses:
                if isinstance(c, A.SpanExpand):
                    terms = self._span_expand_terms(node.field, c)
                    if not terms:
                        return A.BoolQ()  # dead clause: span matches nothing
                    clauses.append(tuple(terms))
                else:
                    clauses.append(c)
            return _dc.replace(node, clauses=clauses)
        if isinstance(node, A.SpanFirstQ):
            import dataclasses as _dc
            child = self._resolve_mlt(node.child)
            if not isinstance(child, A.SpanNearQ):
                return child  # resolution collapsed it to match-nothing
            return _dc.replace(node, child=child)
        if isinstance(node, A.PinnedQ):
            import dataclasses as _dc
            return _dc.replace(
                node, organic=self._resolve_mlt(node.organic))
        if isinstance(node, A.ScriptScoreQ):
            import dataclasses as _dc
            return _dc.replace(node, child=self._resolve_mlt(node.child))
        if isinstance(node, A.BoolQ):
            return dataclasses.replace(
                node,
                must=[self._resolve_mlt(c) for c in node.must],
                must_not=[self._resolve_mlt(c) for c in node.must_not],
                should=[self._resolve_mlt(c) for c in node.should],
                filter=[self._resolve_mlt(c) for c in node.filter])
        if isinstance(node, A.DisMaxQ):
            return dataclasses.replace(
                node, queries=[self._resolve_mlt(c) for c in node.queries])
        if isinstance(node, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
            return dataclasses.replace(
                node, child=self._resolve_mlt(node.child))
        if isinstance(node, A.BoostingQ):
            return dataclasses.replace(
                node, positive=self._resolve_mlt(node.positive),
                negative=self._resolve_mlt(node.negative))
        return node

    def termvectors(self, docid: int, field: str) -> list[dict]:
        """ES ``_termvectors`` analog (BEYOND-REFERENCE): the per-term
        view of ONE document — ``[{"term", "tf", "positions", "df"}]``
        sorted by term.  Same bounded seed read as more_like_this: a
        STORED analyzed field is point-read off the doc store (one row
        group, no Spark job) and is re-analyzed
        driver-side with the field's own tokenizer — identical
        analyzer, identical tf/positions; non-stored fields fall back
        to a filtered postings scan.  dfs are summed across segments
        via one pushdown-filtered termdict scan.  Total data touched:
        one document plus ≤ |doc terms| dictionary rows — never a
        corpus-wide job."""
        from pyspark.sql import functions as F

        s = self.searcher()
        sid, local = _seed_key(s, docid)
        rows: list[dict] | None = None
        fd = self.schema.field(field)
        if fd is not None and fd.stored and fd.tokenizer is not None:
            text = s.fetch_stored([(sid, local)], [field]).get(
                (sid, local), {}).get(field)
            if isinstance(text, str):
                from sonar_tantivy_spark import analyzer

                pos: dict[str, list[int]] = {}
                for i, t in enumerate(analyzer.analyze_terms(
                        text, fd.tokenizer)):
                    pos.setdefault(t, []).append(i)
                rows = [{"term": t, "tf": len(p), "positions": p}
                        for t, p in pos.items()]
        if rows is None:
            p = s._table("postings")
            if p is None:
                return []
            rows = [{"term": r["term"], "tf": int(r["tf"] or 1),
                     "positions": list(r["positions"] or [])}
                    for r in p.filter(
                        (F.col("segment_id") == sid)
                        & (F.col("docid") == local)
                        & (F.col("field") == field))
                    .select("term", "tf", "positions").collect()]
        if not rows:
            return []
        dfs = s.term_dfs({(field, r["term"]) for r in rows})
        for r in rows:
            r["df"] = int(dfs.get((field, r["term"]), 0))
        return sorted(rows, key=lambda r: r["term"])

    # -------------------------------------------------------- percolator
    def _parse_any(self, query: "str | dict") -> "A.Node":
        node = (A.parse_string(query, self.schema) if isinstance(query, str)
                else A.parse_json(query, self.schema))
        return self._resolve_mlt(node)

    def register_query(self, name: str, query: "str | dict") -> None:
        """Save a query for percolation (the ES percolator-document
        analog).  Parsed AND validated now — unsupported shapes (ids,
        OSA fuzzy) fail at registration, never at batch time.  The
        registry is one atomic JSON commit beside the manifest; it is a
        saved-SEARCH store (at most thousands of entries), never data."""
        from sonar_tantivy_spark.operators.percolate import (
            validate_for_percolation,
        )

        node = self._parse_any(query)
        validate_for_percolation(node, self.schema)
        reg = self.storage.read_aux("percolator.json", {})
        reg[name] = {"query": query}
        self.storage.write_aux("percolator.json", reg)

    def unregister_query(self, name: str) -> bool:
        reg = self.storage.read_aux("percolator.json", {})
        if name not in reg:
            return False
        del reg[name]
        self.storage.write_aux("percolator.json", reg)
        return True

    def registered_queries(self) -> dict:
        """name → the saved query (verbatim grammar string / JSON DSL)."""
        reg = self.storage.read_aux("percolator.json", {})
        return {k: v["query"] for k, v in sorted(reg.items())}

    def percolate(self, df: DataFrame, keep_cols: "list[str] | None" = None,
                  explode: bool = True) -> DataFrame:
        """Which registered queries match each row of ``df``?  Map-only
        (one Arrow tokenize pass per referenced field + one projection
        of compiled JVM predicates — no shuffle, no index access), so
        the SAME call percolates a streaming DataFrame: alerting is
        ``idx.percolate(readStream_df).writeStream...``.  Membership
        parity with the search path is pinned in tests/test_percolate.py.
        See operators/percolate.py for the execution-shape contract."""
        from sonar_tantivy_spark.operators.percolate import percolate_df

        nodes = {name: self._parse_any(q)
                 for name, q in self.registered_queries().items()}
        return percolate_df(df, self.schema, nodes,
                            keep_cols=keep_cols, explode=explode)

    # ------------------------------------------------------ ES admin APIs
    def analyze(self, text: str, field: str | None = None,
                tokenizer: str | None = None) -> list[dict]:
        """ES ``_analyze`` analog: run a field's analyzer (or an explicit
        tokenizer name) over ``text`` → [{"token", "position"}].  Pure
        driver-side — the SAME tokenize the build pipeline ships to
        executors, so what this returns is exactly what gets indexed
        (positions keep RemoveLongFilter gaps, the tantivy rule)."""
        from sonar_tantivy_spark import analyzer as an

        if tokenizer is None:
            if field is None:
                raise A.QueryError("analyze needs a field or a tokenizer")
            fdef = self.schema.field(field)
            if fdef is None or fdef.tokenizer is None:
                raise A.QueryError(
                    f"field {field!r} is not an analyzed text field")
            tokenizer = fdef.tokenizer
        if tokenizer not in an.TOKENIZERS:
            raise A.QueryError(f"unknown tokenizer {tokenizer!r}")
        return [{"token": t, "position": p}
                for t, p in an.tokenize(text, tokenizer)]

    def mget(self, docids: list[int]) -> list[dict]:
        """ES ``_mget`` analog: stored fields for a list of GLOBAL
        docids, in request order, missing ids reported not dropped —
        [{"docid", "found", "doc"}].  One doc-store point read for the
        whole batch (the retrieve shape: ≤ |ids| row-group reads, no
        Spark job); deleted docs are reported missing, looked up in
        the tombstone ledger only when the snapshot has deletes."""
        s = self.searcher()
        # _ids_rows returns (segment_id, local) pairs for LIVE in-range
        # ids — invert to docid_g → (sid, local)
        pairs = s._ids_rows(list(dict.fromkeys(docids)))
        by_g: dict[int, tuple[str, int]] = {}
        for sid, local in pairs:
            by_g[int(s.bases[sid] + local)] = (sid, local)
        keys = list(by_g.values())
        if keys and s.tombstone_meta:
            dead = {(r["segment_id"], r["docid"]) for r in
                    s._tombstones().filter(key_filter(keys)).collect()}
            keys = [k for k in keys if k not in dead]
        out_rows = s.stored_docs(keys)
        results = []
        for g in docids:
            key = by_g.get(int(g))
            doc = out_rows.get(key) if key is not None else None
            results.append({"docid": int(g), "found": doc is not None,
                            "doc": doc if doc is not None else {}})
        return results

    def suggest_completion(self, field: str, prefix: str,
                           size: int = 5) -> list[dict]:
        """Completion suggester: dictionary terms extending ``prefix``,
        weighted by global df — [{"text", "df"}] by (df DESC, term ASC).
        ES's completion runs over a dedicated weighted FST field; the
        engine's analog weights by corpus doc-frequency, which is the
        useful default when the corpus IS the suggestion source.  ONE
        pushdown-filtered termdict scan (StartsWith prunes row groups
        over (field, term)-sorted segments), dfs summed across segments
        — postings never touched.  Tombstoned docs release their df at
        compaction (the documented deletes rule)."""
        if not prefix:
            return []
        s = self.searcher()
        td = s._table("termdict")
        if td is None:
            return []
        rows = (td.filter((F.col("field") == field)
                          & F.col("term").startswith(prefix.lower()))
                .groupBy("term").agg(F.sum("df").alias("df"))
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(size).collect())
        return [{"text": r["term"], "df": int(r["df"])} for r in rows]


class IndexCatalog:
    """Named indexes under one base path (index.rs:18-21, 49-87)."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        self._ram: dict[str, MemStorage] = {}
        # one latest-snapshot reader per resolved index name
        self._slots: dict[str, _SnapshotSlot] = {}
        self._slots_lock = threading.Lock()

    def _slot(self, name: str) -> _SnapshotSlot:
        with self._slots_lock:
            return self._slots.setdefault(name, _SnapshotSlot())

    def _drop_slot(self, name: str) -> None:
        """Forget ``name``'s reader: a re-created index (possibly with
        another schema) must never adopt it.  Handles opened before keep
        the old slot, so they cannot publish into the new one."""
        with self._slots_lock:
            self._slots.pop(name, None)

    def _storage(self, name: str):
        if name in self._ram:
            return self._ram[name]
        return FsStorage(self.base_path, name)

    def create_index(self, name: str, schema: str | list, ram: bool = False) -> Index:
        schema_json = (
            schema if isinstance(schema, str) else IndexSchema(
                IndexSchema.from_json(schema).fields
            ).to_json()
        )
        IndexSchema.from_json(schema_json)  # validate
        storage = MemStorage(name) if ram else FsStorage(self.base_path, name)
        if storage.exists():
            raise FileExistsError(f"index {name!r} already exists")
        if name in self.aliases():
            raise FileExistsError(f"{name!r} is an alias")  # ES rule
        storage.create(schema_json)
        if ram:
            self._ram[name] = storage
        self._drop_slot(name)
        return Index(self.spark, name, storage, self._slot(name))

    # ---------------------------------------------------------- aliases
    def _aliases_path(self) -> str:
        import os

        return os.path.join(self.base_path, "_aliases.json")

    def aliases(self) -> dict[str, str]:
        """alias → index name (ES index-alias analog; persisted at the
        catalog base path, one atomic JSON commit per change)."""
        import json
        import os

        p = self._aliases_path()
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return json.load(fh)

    def _write_aliases(self, aliases: dict[str, str]) -> None:
        import json
        import os

        os.makedirs(self.base_path, exist_ok=True)
        tmp = self._aliases_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(aliases, fh, sort_keys=True)
        os.replace(tmp, self._aliases_path())  # atomic, like the manifest

    def set_alias(self, alias: str, index_name: str) -> None:
        """Point ``alias`` at ``index_name`` (create or repoint).  The
        ES zero-downtime reindex pattern: build ``idx_v2``, repoint the
        alias, drop ``idx_v1`` — readers never see a missing index."""
        if not self._storage(index_name).exists():
            raise KeyError(f"no such index {index_name!r}")
        if self._storage(alias).exists():
            raise FileExistsError(
                f"{alias!r} names a real index, cannot alias over it")
        a = self.aliases()
        a[alias] = index_name
        self._write_aliases(a)

    def delete_alias(self, alias: str) -> None:
        a = self.aliases()
        if alias in a:
            del a[alias]
            self._write_aliases(a)

    def _resolve(self, name: str) -> str:
        """One level of alias indirection (no chains — ES rejects an
        alias pointing at an alias, so do we by construction: set_alias
        requires a REAL target index)."""
        if self._storage(name).exists():
            return name
        return self.aliases().get(name, name)

    def has(self, name: str) -> bool:
        return self._storage(self._resolve(name)).exists()

    def open(self, name: str) -> Index:
        name = self._resolve(name)
        storage = self._storage(name)
        if not storage.exists():
            raise KeyError(f"no such index {name!r}")
        return Index(self.spark, name, storage, self._slot(name))

    def open_or_create(self, name: str, schema: str | list, ram: bool = False) -> Index:
        if self.has(name):
            return self.open(name)
        return self.create_index(name, schema, ram=ram)

    def delete(self, name: str) -> None:
        self._storage(name).delete()
        self._ram.pop(name, None)
        self._drop_slot(name)
        # ES rule: deleting an index drops the aliases that point at it
        a = self.aliases()
        live = {k: v for k, v in a.items() if v != name}
        if len(live) != len(a):
            self._write_aliases(live)

    def multi_query(self, query: str, names: list[str]) -> dict[str, list[dict]]:
        """Same string query over N indexes; per-index limit 100, no
        snippets, results grouped per index (index.rs:131-146).

        Per-index queries run as CONCURRENT Spark jobs (the scheduler
        interleaves them across executors) — the reference loops
        serially, but nothing in its contract requires that, and at many
        indexes the serial loop is pure added latency."""
        idxs = {n: self.open(n) for n in names}
        return dict(zip(idxs, run_all(
            [partial(i.query, query, limit=MULTI_QUERY_LIMIT)
             for i in idxs.values()], 8)))

    def list_indexes(self) -> list[str]:
        """All committed index names under the base path (ES _cat/indices
        analog, names only) — directories with a manifest.json; RAM
        indexes are per-process and don't appear."""
        import os

        if not os.path.isdir(self.base_path):
            return []
        return sorted(
            d for d in os.listdir(self.base_path)
            if os.path.isfile(os.path.join(self.base_path, d,
                                           "manifest.json")))

    def reindex(self, src_name: str, dst_name: str,
                query: "str | dict | None" = None,
                num_segments: int | None = None) -> int:
        """ES ``_reindex`` analog: re-ingest ``src``'s STORED fields into
        ``dst`` (which must already exist — its schema defines the new
        analysis, the ES contract: reindex copies _source, it never
        copies the inverted index).  ``query`` optionally restricts the
        copied set through the normal search path's candidate compiler
        — pushdown-filtered, never a scored top-k.

        Fully distributed: ONE doc-store scan (+ a semi-join against the
        query candidates and the tombstone anti-join), then the standard
        build pipeline; order is preserved by the source's global docid
        rank carried as an internal order column that build_segments
        drops before the row store.  Columns map by NAME; source
        columns the destination schema lacks are warned-and-dropped,
        destination fields the source lacks index as missing — both the
        ES rule.  Returns the number of documents written."""
        src, dst = self.open(src_name), self.open(dst_name)
        s = src.searcher()
        docs = s._table("docs")
        if docs is None:
            return 0
        tomb = s._tombstones()
        if tomb is not None:
            docs = docs.join(tomb, on=["segment_id", "docid"], how="left_anti")
        if query is not None:
            node = src._parse_any(query)
            cand = s.candidates(node).select("segment_id", "docid")
            docs = docs.join(cand, on=["segment_id", "docid"], how="left_semi")
        # global source order: base(segment) + local docid, carried as a
        # non-schema order column (dropped from dst's row store)
        base_pairs: list = []
        for sid, b in s.bases.items():
            base_pairs.extend([F.lit(sid), F.lit(int(b))])
        ord_col = (F.element_at(F.create_map(*base_pairs),
                                F.col("segment_id")) + F.col("docid"))
        stored = [f.name for f in src.schema.fields
                  if f.stored and f.name in docs.columns]
        out = docs.withColumn("__src_ord", ord_col).select("__src_ord",
                                                           *stored)
        n = out.count()
        if n == 0:
            return 0
        dst.add_df(out, order_cols=["__src_ord"],
                   num_segments=num_segments, n_hint=n)
        return n
