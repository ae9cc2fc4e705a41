"""Query execution — compile the AST to DataFrame programs.

The reference executes queries through one ``searcher.search`` pass with a
MultiCollector (top-k + optional sorted-top-k + facets,
/root/reference/src-rust/search.rs:10-103; string entry index.rs:246-284).
Here every query compiles to a declarative Spark plan:

  Term      → postings scan filtered (field, term)  [predicate pushdown +
              row-group skip on the term-sorted parquet] → BM25 column math
  Boolean   → bool-of-terms: ONE postings scan filtered to the term set,
              per-term idf as a literal map, must-ness summed per doc;
              a rare must-term semi-join-filters the scan before the
              aggregation shuffle (skew guard).  General shapes: must =
              inner joins on (segment, docid); must_not = left_anti;
              should = union + groupBy-sum (score = Σ per-clause scores
              in clause order ⟨tantivy BooleanWeight⟩, optional shoulds
              added to must rows)
  Phrase    → per-term postings joined on (segment, docid), adjacency via
              chained array_intersect(transform(prev, p → p+1), next);
              tf = phrase frequency, idf = Σ term idfs ⟨tantivy PhraseWeight⟩
  Fuzzy     → termdict expansion with levenshtein(term, q) <= d (OSA via
              a JVM prefilter + Arrow pass when transposition=true),
              union of per-term postings (the FST automaton analog)
  Regex     → termdict rlike expansion, constant score 1.0 ⟨tantivy⟩
  Range     → docs-table fast-field filter (+ __tsbucket hive-partition
              predicate), constant score 1.0 ⟨tantivy⟩
  Boost     → child's score × literal ⟨tantivy BoostQuery⟩
  All       → every doc, score 1.0 ⟨tantivy AllQuery⟩
  top-k     → orderBy(score desc, global docid asc).limit(k) — Spark's
              TakeOrderedAndProject is a distributed early-exit top-k;
              the DEFAULT path is block-max segment pruning (top_k_pruned)

Global BM25 stats (N, df, avgdl) aggregate over ALL manifest segments
(SURVEY.md §2.9); per-term idf is resolved driver-side from one
dictionary lookup (Searcher._term_rows — on disk a pyarrow read of the
termdict files, no Spark job) and folded into the score expression as a
literal.
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict, defaultdict
from functools import partial
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sonar_tantivy_spark.functions import bm25
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.plans.schema import IndexSchema
from sonar_tantivy_spark.pool import run_all

# Skew-guard broadcast budget: the rare-term (segment_id, docid) key set is
# ~16 B/row on the wire (short segment id + long), so cap by BYTES, not rows
# — at cluster scale a row cap alone admits tens of MB per query.
_BYTES_PER_KEY = 16
_BCAST_KEY_BYTES_CAP = 8 << 20  # 8 MiB → ≤ ~512k keys
# Rare-term broadcast guard, ONE rule for the phrase and scored-bool
# paths (they used ad-hoc 8×/32× spreads until r4).  Swept on planted
# skew corpora at 160k and 640k docs (tools/sweep_skew_guard.py): the
# guard's cost is a second tiny scan of the rare postings plus a
# broadcast build; its win is the hot-side BYTES kept out of the
# aggregation exchange.  The sweep shows the crossover is governed by
# those absolute bytes, NOT by the df ratio: phrase (positions-carrying
# rows, ~64 B on the exchange) breaks even at hot df ≈ 100k, the bool
# path's narrow (segment, docid, score) rows (~16 B) need ~4× more
# rows.  So the guard fires when (a) the rare side broadcasts under the
# byte cap, (b) the spread is ≥ 8× (below that the semi-join filters
# too little to matter at any size), and (c) the estimated exchange
# savings clear _SKEW_MIN_SAVED_BYTES — which at 100 TB scale is
# cleared by any real needle-AND-haystack query and at pytest scale
# correctly keeps the guard off.
_SKEW_SPREAD = 8
_SKEW_MIN_SAVED_BYTES = 6 << 20
_PHRASE_ROW_BYTES = 64  # (segment, docid, positions[]) exchange row
_BOOL_ROW_BYTES = 16    # (segment, docid, score) exchange row

# Entries per snapshot memo (per-term dfs, per-segment max-tf maps,
# any-field dfs, resolved ids).  A catalog keeps one Searcher per index
# alive for as long as its snapshot is current, so the memo is an LRU
# bounded here rather than growing with query history.
_MEMO_CAP = 4096
_UNSET = object()


def _broadcastable(n_keys: int | None) -> bool:
    """The one broadcast gate: may a (segment_id, docid) key set of
    ``n_keys`` rows be broadcast?  ``None`` is an unbounded set."""
    return n_keys is not None \
        and n_keys * _BYTES_PER_KEY <= _BCAST_KEY_BYTES_CAP


def _skew_guarded(target: DataFrame, scan: DataFrame, sums: dict, pred,
                  row_bytes: int, rare_from=None) -> DataFrame:
    """The rare-clause skew guard (intersect from the smallest set): the
    rarest clause bounds the match set, so when its keys broadcast, the
    df spread is at least _SKEW_SPREAD and the exchange bytes saved
    clear _SKEW_MIN_SAVED_BYTES, semi-join ``target`` against that
    clause's keys (``scan`` narrowed by ``pred(clause)``); else return
    ``target`` as is.  ``sums`` maps each clause to its df (summed over
    its alternatives), ``row_bytes`` is the exchange row width.  Only
    clauses in ``rare_from`` (default: all) may be the rare one, but
    the spread is measured over every clause."""
    rare_from = list(sums) if rare_from is None else rare_from
    if len(sums) < 2 or not rare_from:
        return target
    rare = min(rare_from, key=sums.__getitem__)
    hot = max(sums.values())
    if not (_broadcastable(sums[rare]) and sums[rare] * _SKEW_SPREAD <= hot
            and hot * row_bytes >= _SKEW_MIN_SAVED_BYTES):
        return target
    rare_keys = scan.filter(pred(rare)).select("segment_id", "docid")
    return target.join(F.broadcast(rare_keys), on=["segment_id", "docid"],
                       how="left_semi")


class _Memo:
    """Lock-guarded LRU of per-snapshot lookups, shared by every
    request reading one Searcher.  Callers build each value completely
    and publish it with ``put_many``: a concurrent reader sees either
    no entry or a whole one, never a half-filled map."""

    def __init__(self):
        self.cap = _MEMO_CAP
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._d)

    def get_many(self, keys: list) -> dict:
        with self._lock:
            out = {}
            for k in keys:
                if k in self._d:
                    self._d.move_to_end(k)
                    out[k] = self._d[k]
            return out

    def put_many(self, items: dict) -> None:
        with self._lock:
            for k, v in items.items():
                self._d[k] = v
                self._d.move_to_end(k)
            while len(self._d) > self.cap:
                self._d.popitem(last=False)


def _clause_sum(rows: DataFrame, *aggs: Column) -> DataFrame:
    """Per (segment_id, docid), sum the clause scores of ``rows``
    (segment_id, docid, score, __ci) IN CLAUSE ORDER ``__ci`` — a left
    fold from 0.0, the same order the oracle adds in.  Float addition
    is not associative, so a plain ``F.sum`` follows Spark's row
    arrival order and can leave two docs with equal clause scores
    1 ulp apart, breaking their docid tie-break.  ``aggs`` ride the
    same aggregation."""
    return (rows.groupBy("segment_id", "docid")
            .agg(F.array_sort(F.collect_list(F.struct("__ci", "score")))
                 .alias("__cs"), *aggs)
            .withColumn("score", F.aggregate(
                "__cs", F.lit(0.0), lambda acc, x: acc + x["score"]))
            .drop("__cs"))


def _union_clauses(frames: list[DataFrame]) -> DataFrame:
    """Union clause candidate frames, each row tagged with its clause
    index ``__ci`` for _clause_sum."""
    tagged = [c.select("segment_id", "docid", "score",
                       F.lit(i).alias("__ci"))
              for i, c in enumerate(frames)]
    out = tagged[0]
    for c in tagged[1:]:
        out = out.unionByName(c)
    return out


class Searcher:
    """One index snapshot: manifest segments + lazily loaded tables.

    Safe to share between threads: an IndexCatalog hands the same
    Searcher to every request on an unchanged manifest.  Memoized
    lookups live in one bounded ``_Memo``; per-request output
    (``last_prune``) is per thread."""

    def __init__(self, spark: SparkSession, schema: IndexSchema, storage,
                 manifest: dict | None = None):
        self.spark = spark
        self.schema = schema
        self.storage = storage
        self.manifest = storage.manifest() if manifest is None else manifest
        self.segments = self.manifest["segments"]
        # docid bases follow manifest order — tantivy's (segment_ord, docid)
        self.bases: dict[str, int] = {}
        acc = 0
        for s in self.segments:
            self.bases[s["segment_id"]] = acc
            acc += s["max_doc"]
        self.num_docs = acc
        self._tables: dict[str, DataFrame | None] = {}
        # tombstone ledger: [{"epoch": ..., "n": ...}] manifest entries
        # (catalog.py delete_docs/delete_term); rows for retired
        # segment_ids are inert (filtered against live bases)
        self.tombstone_meta = self.manifest.get("tombstones", [])
        self._tomb = _UNSET
        self._seg_by_id = {s["segment_id"]: s for s in self.segments}
        self._memo = _Memo()
        self._prune_local = threading.local()
        # restricted searchers (_restricted) only
        self._parent: Searcher | None = None
        self._block_pred: Column | None = None

    @property
    def last_prune(self) -> dict:
        """Skip stats of this thread's last top_k_pruned /
        top_k_sorted_pruned call (requests sharing the Searcher each
        read their own)."""
        try:
            return self._prune_local.stats
        except AttributeError:
            raise AttributeError("last_prune") from None

    @last_prune.setter
    def last_prune(self, stats: dict) -> None:
        self._prune_local.stats = stats

    def _memoized(self, kind: str, keys, compute) -> dict:
        """key → value for ``keys``: hits from the snapshot memo, the
        misses from ONE ``compute(missing) -> {key: value}`` call,
        published whole.  Callers on a restricted searcher delegate to
        the parent first, so every entry is a whole-snapshot value."""
        keys = list(keys)
        got = self._memo.get_many([(kind, k) for k in keys])
        out = {k: got[(kind, k)] for k in keys if (kind, k) in got}
        missing = [k for k in keys if k not in out]
        if missing:
            fresh = compute(missing)
            self._memo.put_many({(kind, k): v for k, v in fresh.items()})
            out.update(fresh)
        return out

    # ---------------------------------------------------------------- stats
    def avgdl(self, field: str) -> float:
        total = sum(
            s["field_stats"].get(field, {}).get("total_tokens", 0) for s in self.segments
        )
        return (total / self.num_docs) if self.num_docs else 1.0

    def _table(self, name: str) -> DataFrame | None:
        if not self.segments:
            return None
        if name not in self._tables:
            parent = self._parent
            if parent is not None:
                # restricted searcher: reuse the parent's DataFrame (its
                # FileIndex listing is already built — re-reading the
                # paths would re-list every file per query, which at many
                # time-partitions costs seconds) and prune by segment
                sids = [s["segment_id"] for s in self.segments]
                self._tables[name] = parent._table(name).filter(
                    F.col("segment_id").isin(sids))
            else:
                self._tables[name] = self.storage.load_table(
                    self.spark, name, self.segments)
        df = self._tables[name]
        if name == "postings":
            # block-granular WAND predicate (set by top_k_pruned on a
            # restricted searcher): (segment_id, docid-range) disjuncts
            # that reach the parquet reader as row-group prunable filters
            if self._block_pred is not None:
                df = df.filter(self._block_pred)
        return df

    def _empty(self) -> DataFrame:
        # JVM-side empty relation (spark.range(0)), NOT createDataFrame([]):
        # the latter is a Python-RDD scan that defeats whole-stage codegen
        # and empty-relation propagation when it ends up inside a plan.
        return self.spark.range(0).select(
            F.lit("").alias("segment_id"),
            F.col("id").alias("docid"),
            F.lit(0.0).alias("score"),
        )

    def _term_rows(self, pairs) -> dict[tuple[str, str], tuple]:
        """(field, term) → its dictionary rows, one per segment holding
        it: (segment_id, df, max_tf, {block: max_tf} or None when the
        epoch predates the block-granular termdict).  The one dictionary
        lookup behind term_dfs / seg_max_tfs / seg_block_mtfs: misses
        are read in ONE storage call (on disk a pyarrow read of the
        termdict files, no Spark job) and memoized per snapshot, so a
        repeated term never re-reads the termdict.  Restricted searchers
        read through to the parent (whole-snapshot rows)."""
        if self._parent is not None:
            return self._parent._term_rows(pairs)
        if not self.segments:
            return {p: () for p in pairs}
        return self._memoized(
            "td", pairs, lambda missing: self.storage.termdict_rows(
                self.spark, self.segments, missing, self._memoized))

    def term_dfs(self, pairs: set[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """Global doc-freq per (field, term): the per-segment dfs of
        _term_rows, summed."""
        if not pairs or not self.segments:
            return {}
        return {p: sum(r[1] for r in rows)
                for p, rows in self._term_rows(pairs).items()}

    # ------------------------------------------------------------- scoring
    def _score_col(self, field: str, idf: float, tf_col: Column) -> Column:
        avgdl = self.avgdl(field)
        dl = F.element_at(_norm_array(), F.col("norm_id") + 1).cast("double")
        tf = tf_col.cast("double")
        denom = tf + F.lit(bm25.K1) * (F.lit(1.0 - bm25.B) + F.lit(bm25.B / avgdl) * dl)
        return (F.lit(idf * (bm25.K1 + 1.0)) * tf / denom).alias("score")

    # ------------------------------------------------------------ snippets
    def expand_snippet_terms(self, node: A.Node, field: str,
                             cap: int = 64) -> set[str]:
        """Dictionary terms the EXPANSION clauses (prefix / regex /
        fuzzy) of ``node`` can match on ``field`` — so snippets can
        highlight them (collect_positive_terms only sees literal
        terms).  Capped per clause: highlighting is best-effort, and a
        broad ``a*`` must not collect an unbounded dictionary slice
        driver-side.  A prefix clause is a dictionary range read (the
        first ``cap`` terms in term order; on disk no Spark job);
        regex and fuzzy clauses take one pushdown-filtered termdict
        scan each.  must_not clauses never highlight (tantivy
        semantics)."""
        clauses: list[A.Node] = []

        def walk(n: A.Node) -> None:
            if isinstance(n, (A.PrefixQ, A.RegexQ, A.FuzzyQ)) \
                    and n.field == field:
                clauses.append(n)
            elif isinstance(n, A.PhrasePrefixQ) and n.field == field:
                clauses.append(A.PrefixQ(n.field, n.prefix))
            elif isinstance(n, A.DisMaxQ):
                for c in n.queries:
                    walk(c)
            elif isinstance(n, A.BoolQ):
                for c in n.must + n.should:  # must_not: skip
                    walk(c)
            elif isinstance(n, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
                walk(n.child)
            elif isinstance(n, A.BoostingQ):
                walk(n.positive)  # negative clauses never highlight

        walk(node)
        if not clauses or not self.segments:
            return set()
        out: set[str] = set()
        for c in clauses:
            if isinstance(c, A.PrefixQ):
                out.update(self.storage.termdict_prefix(
                    self.spark, self.segments, field, c.prefix, cap,
                    self._memoized))
                continue
            td = self._table("termdict")
            if td is None:  # every segment is a ghost
                continue
            terms = td.filter(F.col("field") == field)
            if isinstance(c, A.RegexQ):
                terms = terms.filter(
                    F.col("term").rlike("^(?:" + c.pattern + ")$"))
                lit = regex_literal_prefix(c.pattern)
                if lit:  # same pushdown as _cand_regex
                    terms = terms.filter(F.col("term").startswith(lit))
            else:  # FuzzyQ — JVM prefilter is exact for transposition=False
                # and a superset otherwise (fine for highlighting)
                terms = terms.filter(
                    F.levenshtein(F.col("term"), F.lit(c.term))
                    <= c.distance + (1 if c.transposition else 0))
            out.update(r["term"] for r in
                       terms.select("term").distinct().limit(cap).collect())
        return out

    # ----------------------------------------------------------- tombstones
    def _tombstones(self) -> DataFrame | None:
        """(segment_id, docid) rows deleted since the last full
        compaction, filtered to live segments; None when the index has
        no deletes (the common case — zero per-query overhead).  Built
        locally and published in one assignment, so a concurrent request
        never reads the ledger as loaded-but-empty."""
        if self._tomb is not _UNSET:
            return self._tomb
        df = None
        if self.tombstone_meta:
            parts = [
                self.storage.read_epoch_table(self.spark, e["epoch"],
                                              "tombstones")
                .select("segment_id", "docid")
                for e in self.tombstone_meta
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            df = df.filter(F.col("segment_id").isin(list(self.bases)))
        self._tomb = df
        return df

    def _without_tombstones(self, cand: DataFrame) -> DataFrame:
        """Anti-join the delete set — tantivy's alive-bitset filter at
        the scorer level.  Applied ONCE at the top of every candidate
        compilation (equivalent: deleted docs can never appear in any
        clause's output, and BM25 stats don't depend on the match set).
        Broadcast when the ledger's total row count fits the byte cap;
        at larger delete volumes it degrades to a shuffled anti-join
        and the real fix is a compaction."""
        t = self._tombstones()
        if t is None:
            return cand
        n = sum(e.get("n", 0) for e in self.tombstone_meta)
        if _broadcastable(n):
            t = F.broadcast(t)
        return cand.join(t, on=["segment_id", "docid"], how="left_anti")

    # -------------------------------------------------------- candidate sets
    def candidates(self, node: A.Node, dfs: dict | None = None) -> DataFrame:
        """Compile to DF(segment_id, docid, score) with unique (seg, docid)."""
        out = self._cand_opt(node, dfs)
        return self._empty() if out is None else self._without_tombstones(out)

    def _cand_opt(self, node: A.Node, dfs: dict | None = None) -> DataFrame | None:
        """Like ``candidates`` but returns None for a provably-empty clause
        (zero-df term), so boolean compilation can drop the clause instead
        of unioning/joining an empty relation — a zero-df should-clause
        costs nothing, and a zero-df must-clause short-circuits the whole
        query, exactly like tantivy's EmptyScorer."""
        if dfs is None:
            dfs = self.term_dfs(collect_terms(node))
        if isinstance(node, A.TermQ):
            return self._cand_term(node, dfs)
        if isinstance(node, A.PhraseQ):
            return self._cand_phrase(node, dfs)
        if isinstance(node, A.BoolQ):
            return self._cand_bool(node, dfs)
        if isinstance(node, A.FuzzyQ):
            return self._cand_fuzzy(node)
        if isinstance(node, A.RegexQ):
            return self._cand_regex(node)
        if isinstance(node, A.PrefixQ):
            return self._cand_prefix(node)
        if isinstance(node, A.RangeQ):
            return self._cand_range(node)
        if isinstance(node, A.AllQ):
            return self._cand_all()
        if isinstance(node, A.TermSetQ):
            return self._cand_term_set(node, dfs)
        if isinstance(node, A.ExistsQ):
            return self._cand_exists(node)
        if isinstance(node, A.IdsQ):
            return self._cand_ids(node)
        if isinstance(node, A.DisMaxQ):
            return self._cand_dismax(node, dfs)
        if isinstance(node, A.PhrasePrefixQ):
            return self._cand_phrase_prefix(node, dfs)
        if isinstance(node, A.SpanNearQ):
            return self._cand_span(node, dfs)
        if isinstance(node, A.SpanFirstQ):
            return self._cand_span(node.child, dfs, first_end=node.end)
        if isinstance(node, A.SpanNotQ):
            return self._cand_span_not(node, dfs)
        if isinstance(node, A.SpanContainQ):
            return self._cand_span_contain(node, dfs)
        if isinstance(node, A.PinnedQ):
            return self._cand_pinned(node, dfs)
        if isinstance(node, A.ScriptScoreQ):
            return self._cand_script_score(node, dfs)
        if isinstance(node, A.CombinedFieldsQ):
            return self._cand_combined_fields(node, dfs)
        if isinstance(node, A.RankFeatureQ):
            return self._cand_rank_feature(node)
        if isinstance(node, A.DistanceFeatureQ):
            return self._cand_distance_feature(node)
        if isinstance(node, A.BoostQ):
            child = self._cand_opt(node.child, dfs)
            if child is None:
                return None
            return child.withColumn(
                "score", F.col("score") * F.lit(float(node.boost)))
        if isinstance(node, A.ConstScoreQ):
            # match set = the child's, score = the constant.  The child's
            # score column is overwritten (never multiplied), so Catalyst
            # prunes the child's scoring arithmetic out of the plan —
            # a constant_score-wrapped term compiles to the same
            # filter-project scan a bare filter would.
            child = self._cand_opt(node.child, dfs)
            if child is None:
                return None
            return child.withColumn("score", F.lit(float(node.boost)))
        if isinstance(node, A.FunctionScoreQ):
            return self._cand_function_score(node, dfs)
        if isinstance(node, A.BoostingQ):
            # match set = positive's; one LEFT join against the negative
            # match keys flags demoted docs (the must_not left-anti's
            # scoring sibling) — the negative side compiles to its
            # cheapest shape since only its keys survive
            pos = self._cand_opt(node.positive, dfs)
            if pos is None:
                return None
            neg = self._cand_opt(node.negative, dfs)
            if neg is None:  # zero-df negative: nothing to demote
                return pos
            negk = (neg.select("segment_id", "docid")
                    .withColumn("__neg", F.lit(True)))
            nb = float(node.negative_boost)
            return (pos.join(negk, on=["segment_id", "docid"], how="left")
                    .withColumn("score",
                                F.when(F.col("__neg"),
                                       F.col("score") * F.lit(nb))
                                .otherwise(F.col("score")))
                    .drop("__neg"))
        raise A.QueryError(f"cannot compile {type(node).__name__}")

    def _function_col(self, fn: dict) -> Column:
        """One score function → its per-doc multiplier/addend column
        (doc-store columns already joined in)."""
        import math as _m

        if fn["kind"] == "random_score":
            # deterministic per (seed, field value), uniform-ish in
            # [0, 1): Knuth multiplicative mix, exact int64 column math
            # (the ast._validate_function pin) — no UDF, no RNG state.
            # Overflow pin: value and seed reduce mod 2^31 BEFORE the
            # multiply and each product reduces mod 2^32 before the sum
            # — (2^31-1)*2654435761 < 2^63 keeps ANSI mode happy for
            # ANY field magnitude (epoch-millis included), and by the
            # modular identity the result is unchanged for in-range
            # inputs the old direct form handled
            v = F.pmod(F.coalesce(F.col(fn["field"]).cast("long"),
                                  F.lit(0)), F.lit(2147483648))
            sp = (int(fn["seed"]) % 2147483648) * 2246822519 % 4294967296
            mix = F.pmod(F.pmod(v * F.lit(2654435761), F.lit(4294967296))
                         + F.lit(sp), F.lit(4294967296))
            return mix.cast("double") / F.lit(4294967296.0)
        if fn["kind"] == "field_value_factor":
            v = F.coalesce(F.col(fn["field"]).cast("double"),
                           F.lit(fn["missing"]))
            x = F.lit(fn["factor"]) * v
            if fn["modifier"] == "log1p":
                return F.log(F.lit(1.0) + x)
            if fn["modifier"] == "sqrt":
                return F.sqrt(x)
            return x
        # gauss decay: exp(-(max(|v-o|-offset, 0))^2 / (2 sigma^2)),
        # sigma^2 = -scale^2 / (2 ln decay) — the ES formula; for date
        # fields v and origin are epoch SECONDS (scale/offset too)
        if fn["is_date"]:
            v = F.col(fn["field"]).cast("timestamp").cast("double")
            o = F.to_timestamp(F.lit(str(fn["origin"]))).cast("double")
        else:
            v = F.col(fn["field"]).cast("double")
            o = F.lit(float(fn["origin"]))
        sigma2 = -(fn["scale"] ** 2) / (2.0 * _m.log(fn["decay"]))
        dist = F.greatest(F.abs(v - o) - F.lit(fn["offset"]), F.lit(0.0))
        # a null doc value decays fully distant in ES only with a
        # "missing" param it doesn't have — pin multiplier 1.0 (neutral)
        return F.coalesce(F.exp(-(dist * dist) / F.lit(2.0 * sigma2)),
                          F.lit(1.0))

    def _cand_function_score(self, node: A.FunctionScoreQ,
                             dfs: dict) -> DataFrame | None:
        """FunctionScoreQ: the child's candidates joined ONCE to the doc
        store for every function field (equi-join on the physical key,
        hash join at any scale), score functions computed as JVM column
        math (no UDF), combined per score_mode, applied per boost_mode.
        Match set unchanged — a doc with a null function field gets the
        function's ``missing``/neutral value, never dropped."""
        child = self._cand_opt(node.child, dfs)
        if child is None:
            return None
        fields = sorted({fn["field"] for fn in node.functions})
        docs = self._table("docs")
        if docs is None:
            return None
        j = child.join(docs.select("segment_id", "docid", *fields),
                       on=["segment_id", "docid"], how="left")
        cols = [self._function_col(fn) for fn in node.functions]
        fs = cols[0]
        for c in cols[1:]:
            fs = (fs * c) if node.score_mode == "multiply" else (fs + c)
        if node.boost_mode == "multiply":
            score = F.col("score") * fs
        elif node.boost_mode == "sum":
            score = F.col("score") + fs
        else:  # replace
            score = fs
        return j.withColumn("score", score).drop(*fields)

    def _postings_for(self, field: str, term: str) -> DataFrame | None:
        p = self._table("postings")
        if p is None:
            return None
        return p.filter((F.col("field") == field) & (F.col("term") == term))

    def _cand_term(self, node: A.TermQ, dfs: dict) -> DataFrame | None:
        df_t = dfs.get((node.field, node.term), 0)
        if df_t == 0:
            return None
        idf = bm25.idf(df_t, self.num_docs)
        p = self._postings_for(node.field, node.term)
        if p is None:
            return None
        # tf is NULL for record='basic' fields (docids only) — score as 1
        return p.select(
            "segment_id", "docid",
            self._score_col(node.field, idf, F.coalesce(F.col("tf"), F.lit(1))),
        )

    def _cand_phrase(self, node: A.PhraseQ, dfs: dict) -> DataFrame | None:
        """Single-scan phrase plan: ONE postings scan filtered to the term
        set, grouped per (segment, docid) into a term→positions map, with
        adjacency checked by the chained array_intersect.  Replaces the
        old k-scan shuffle-join chain (k scans + k-1 exchanges) with one
        scan + one aggregation exchange regardless of phrase length.

        Skew guard (same as the bool fast path at _cand_bool_terms_fast):
        the rarest term bounds the match set, so when its df is small and
        the spread is large ("rare AND the"-shaped phrases), a broadcast
        semi-join on its docids keeps the hot terms' postings out of the
        exchange entirely — the aggregation shuffle carries positions
        arrays, so pre-filtering it matters even more here than for the
        scored bool scan."""
        terms = node.terms
        if not terms:
            return None
        if len(terms) == 1:
            return self._cand_term(A.TermQ(node.field, terms[0]), dfs)
        if any(dfs.get((node.field, t), 0) == 0 for t in terms):
            return None
        uterms = list(dict.fromkeys(terms))
        p = self._table("postings")
        if p is None:
            return None
        scan = p.filter(
            (F.col("field") == node.field) & F.col("term").isin(uterms))
        # the broadcast build reads the same term-set-filtered scan
        # narrowed to the rare term
        scan = _skew_guarded(
            scan, scan, {t: dfs[(node.field, t)] for t in uterms},
            lambda t: F.col("term") == t, _PHRASE_ROW_BYTES)
        agg = (
            scan.groupBy("segment_id", "docid")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("term", "positions"))).alias("__pos"),
                F.first("norm_id").alias("norm_id"),
                F.count("*").alias("__nt"),
            )
            # postings are unique per (field, term, docid): the row count
            # IS the distinct-term count, so this is the AND over terms
            .filter(F.col("__nt") == len(uterms))
        )
        # adjacency chain: positions of term_i must equal p0+i; repeated
        # phrase terms read the same positions array at different offsets
        match = F.element_at(F.col("__pos"), F.lit(terms[0]))
        slop = int(getattr(node, "slop", 0) or 0)
        in_order = bool(getattr(node, "in_order", True))
        for t in terms[1:]:
            if slop == 0:
                match = F.array_intersect(
                    F.transform(match, lambda x: x + 1),
                    F.element_at(F.col("__pos"), F.lit(t)),
                )
            elif in_order:
                # sloppy chain (ordered within-window): keep positions q
                # of the next term with p < q <= p + 1 + slop for some
                # surviving p.  slop=0 would reduce to the intersect
                # above; the quadratic per-pair work is bounded by
                # per-doc tf, and the plan stays the same single
                # scan + one aggregation exchange.
                prev = match
                match = F.filter(
                    F.element_at(F.col("__pos"), F.lit(t)),
                    lambda q: F.exists(
                        prev, lambda p: (q > p) & (q <= p + 1 + slop)),
                )
            else:
                # Lucene-style transposing window (in_order=False): keep
                # q with |q - (p + 1)| <= slop and q != p — for 2-term
                # phrases exactly Lucene's matchLength rule ("b a"
                # matches "a b"~2, never ~1); documented per-pair
                # generalization for k > 2 (plans/ast.py).  Same plan
                # shape as the ordered chain.
                prev = match
                match = F.filter(
                    F.element_at(F.col("__pos"), F.lit(t)),
                    lambda q: F.exists(
                        prev, lambda p: (q != p)
                        & (q >= p + 1 - slop) & (q <= p + 1 + slop)),
                )
        agg = agg.withColumn("__m", match).filter(F.size("__m") > 0)
        idf_sum = sum(bm25.idf(dfs[(node.field, t)], self.num_docs) for t in terms)
        return agg.select(
            "segment_id", "docid",
            self._score_col(node.field, idf_sum, F.size("__m")),
        )

    def _cand_span(self, node: "A.SpanNearQ", dfs: dict,
                   first_end: int | None = None) -> DataFrame | None:
        """span_near / span_or / span_term / span_first — the phrase
        plan generalized to per-clause ALTERNATIVES: ONE postings scan
        filtered to every live alternative term, grouped per (segment,
        docid) into a term→positions map; each clause's position set is
        the (sorted, deduped) union of its alternatives' arrays, and the
        chain is the SAME per-adjacent-pair window as PhraseQ slop
        (ordered or Lucene-transposing per ``in_order``).  ``first_end``
        implements span_first: final chain positions p must satisfy
        span end p + 1 <= end.

        Scale shape is identical to the phrase path — one scan + one
        aggregation exchange regardless of clause count, with the same
        rare-clause broadcast skew guard (clause df = Σ alternative
        dfs).  Scoring: tf = surviving final-clause positions,
        idf = Σ idf over every live alternative (the Lucene SpanWeight
        rule of summing the stats of all involved terms)."""
        if any(isinstance(c, A.SpanExpand) for c in node.clauses):
            # span_multi markers are index-resolved BEFORE execution
            # (catalog.py _resolve_mlt / _span_expand_terms); reaching
            # here unresolved means a caller bypassed the rewrite pass
            raise A.QueryError(
                "span_multi clause was not resolved — run the query "
                "through Index.query/query_json, not a raw Searcher")
        clauses = [tuple(c) for c in node.clauses]
        if not clauses:
            return None
        live: list[tuple[str, ...]] = []
        for c in clauses:
            alts = tuple(t for t in dict.fromkeys(c)
                         if dfs.get((node.field, t), 0) > 0)
            if not alts:
                return None  # a clause with no live alternative → no match
            live.append(alts)
        uterms = list(dict.fromkeys(t for c in live for t in c))
        p = self._table("postings")
        if p is None:
            return None
        scan = p.filter(
            (F.col("field") == node.field) & F.col("term").isin(uterms))
        scan = _skew_guarded(
            scan, scan, {i: sum(dfs[(node.field, t)] for t in c)
                         for i, c in enumerate(live)},
            lambda i: F.col("term").isin(list(live[i])), _PHRASE_ROW_BYTES)
        agg = scan.groupBy("segment_id", "docid").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))).alias("__pos"),
            F.first("norm_id").alias("norm_id"),
        )

        def clause_pos(alts: tuple[str, ...]):
            arrs = [
                F.coalesce(F.element_at(F.col("__pos"), F.lit(t)),
                           F.array().cast("array<int>"))
                for t in alts
            ]
            if len(arrs) == 1:
                return arrs[0]
            return F.array_sort(F.array_distinct(F.concat(*arrs)))

        # every clause must be present in the doc (the AND); with
        # alternatives the phrase path's row-count trick doesn't apply,
        # so filter on each clause's (possibly union) array directly
        for alts in live:
            agg = agg.filter(F.size(clause_pos(alts)) > 0)
        match = clause_pos(live[0])
        slop = int(node.slop or 0)
        for alts in live[1:]:
            prev = match
            nxt = clause_pos(alts)
            if node.in_order:
                match = F.filter(nxt, lambda q: F.exists(
                    prev, lambda p: (q > p) & (q <= p + 1 + slop)))
            else:
                match = F.filter(nxt, lambda q: F.exists(
                    prev, lambda p: (q != p)
                    & (q >= p + 1 - slop) & (q <= p + 1 + slop)))
        if first_end is not None:
            # Lucene SpanFirstQuery: span END <= end; the chain's final
            # position p is the last token, so the span end is p + 1
            match = F.filter(match, lambda q: q + 1 <= F.lit(first_end))
        agg = agg.withColumn("__m", match).filter(F.size("__m") > 0)
        idf_sum = sum(bm25.idf(dfs[(node.field, t)], self.num_docs)
                      for c in live for t in c)
        return agg.select(
            "segment_id", "docid",
            self._score_col(node.field, idf_sum, F.size("__m")),
        )

    def _cand_span_not(self, node: "A.SpanNotQ",
                       dfs: dict) -> DataFrame | None:
        """span_not (single-clause include/exclude, SpanNotQ docstring):
        include position p survives iff no exclude position q lies in
        [p - pre, p + post].  ONE postings scan over include+exclude
        alternatives, same single-aggregation plan as _cand_span; an
        all-absent EXCLUDE degenerates to the plain include span (no
        second scan), an all-absent include is an exact no-match.
        Scoring: tf = surviving include positions, idf = Σ over live
        INCLUDE alternatives only (Lucene SpanNotQuery scores from the
        include spans; exclusion never contributes stats)."""
        inc = tuple(t for t in dict.fromkeys(node.include)
                    if dfs.get((node.field, t), 0) > 0)
        if not inc:
            return None
        exc = tuple(t for t in dict.fromkeys(node.exclude)
                    if dfs.get((node.field, t), 0) > 0)
        uterms = list(dict.fromkeys(inc + exc))
        p = self._table("postings")
        if p is None:
            return None
        scan = p.filter(
            (F.col("field") == node.field) & F.col("term").isin(uterms))
        agg = scan.groupBy("segment_id", "docid").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))).alias("__pos"),
            F.first("norm_id").alias("norm_id"),
        )

        def upos(alts: tuple[str, ...]):
            arrs = [
                F.coalesce(F.element_at(F.col("__pos"), F.lit(t)),
                           F.array().cast("array<int>"))
                for t in alts
            ]
            if len(arrs) == 1:
                return arrs[0]
            return F.array_sort(F.array_distinct(F.concat(*arrs)))

        match = upos(inc)
        if exc:
            ex, pre, post = upos(exc), int(node.pre), int(node.post)
            match = F.filter(match, lambda q: ~F.exists(
                ex, lambda e: (e >= q - pre) & (e <= q + post)))
        agg = agg.withColumn("__m", match).filter(F.size("__m") > 0)
        idf_sum = sum(bm25.idf(dfs[(node.field, t)], self.num_docs)
                      for t in inc)
        return agg.select(
            "segment_id", "docid",
            self._score_col(node.field, idf_sum, F.size("__m")),
        )

    def _cand_span_contain(self, node: "A.SpanContainQ",
                           dfs: dict) -> DataFrame | None:
        """span_containing / span_within (SpanContainQ docstring): the
        BIG side is a RIGID (slop=0, in-order) chain, so its surviving
        span for a final position q is exactly [q − (k−1), q]; the
        LITTLE side is a single-clause union of alternatives.
        containing keeps big spans enclosing >= 1 little position;
        within keeps little positions inside >= 1 big span.

        Plan shape: ONE postings scan filtered to big+little terms →
        one (segment, docid) aggregation into a term→positions map →
        higher-order array predicates — identical cost envelope to the
        phrase/span_near path (one scan + one exchange regardless of
        clause count), with the same rare-clause broadcast skew guard
        over ALL clauses including little.  Scoring per Lucene:
        containing scores from big, within from little."""
        big = node.big
        blive: list[tuple[str, ...]] = []
        for c in big.clauses:
            alts = tuple(t for t in dict.fromkeys(c)
                         if dfs.get((node.field, t), 0) > 0)
            if not alts:
                return None  # a dead big clause → no big span exists
            blive.append(alts)
        little = tuple(t for t in dict.fromkeys(node.little)
                       if dfs.get((node.field, t), 0) > 0)
        if not little:
            return None  # containment needs the little span to exist
        uterms = list(dict.fromkeys(
            [t for c in blive for t in c] + list(little)))
        p = self._table("postings")
        if p is None:
            return None
        scan = p.filter(
            (F.col("field") == node.field) & F.col("term").isin(uterms))
        all_clauses = blive + [little]
        scan = _skew_guarded(
            scan, scan, {i: sum(dfs[(node.field, t)] for t in c)
                         for i, c in enumerate(all_clauses)},
            lambda i: F.col("term").isin(list(all_clauses[i])),
            _PHRASE_ROW_BYTES)
        agg = scan.groupBy("segment_id", "docid").agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))).alias("__pos"),
            F.first("norm_id").alias("norm_id"),
        )

        def clause_pos(alts: tuple[str, ...]):
            arrs = [
                F.coalesce(F.element_at(F.col("__pos"), F.lit(t)),
                           F.array().cast("array<int>"))
                for t in alts
            ]
            if len(arrs) == 1:
                return arrs[0]
            return F.array_sort(F.array_distinct(F.concat(*arrs)))

        for alts in all_clauses:
            agg = agg.filter(F.size(clause_pos(alts)) > 0)
        # rigid big chain: strict adjacency (slop 0, ordered)
        bmatch = clause_pos(blive[0])
        for alts in blive[1:]:
            prev = bmatch
            nxt = clause_pos(alts)
            bmatch = F.filter(
                nxt, lambda q: F.exists(prev, lambda pp: q == pp + 1))
        k = len(blive)
        lpos = clause_pos(little)
        if node.mode == "containing":
            match = F.filter(bmatch, lambda q: F.exists(
                lpos, lambda pp: (pp >= q - F.lit(k - 1)) & (pp <= q)))
            score_terms = [t for c in blive for t in c]
        else:  # within
            bfinal = bmatch
            match = F.filter(lpos, lambda pp: F.exists(
                bfinal, lambda q: (pp >= q - F.lit(k - 1)) & (pp <= q)))
            score_terms = list(little)
        agg = agg.withColumn("__m", match).filter(F.size("__m") > 0)
        idf_sum = sum(bm25.idf(dfs[(node.field, t)], self.num_docs)
                      for t in score_terms)
        return agg.select(
            "segment_id", "docid",
            self._score_col(node.field, idf_sum, F.size("__m")),
        )

    def _cand_fuzzy(self, node: A.FuzzyQ) -> DataFrame | None:
        """Termdict expansion — the FST-automaton analog.  Like tantivy's
        AutomatonWeight, matches are constant-score 1.0.

        ``transposition=false`` → plain JVM ``levenshtein``;
        ``transposition=true``  → Damerau semantics (swap = 1 edit,
        search.rs:48): JVM prefilter (lev <= 2d, |len diff| <= d) then an
        exact Arrow-batched OSA pass over the few surviving dictionary
        terms (functions/strdist.py)."""
        td = self._table("termdict")
        if td is None:
            return None
        terms_df = td.filter(F.col("field") == node.field)
        if node.prefix_length > 0:
            # ES/Lucene prefix_length: candidates share the query term's
            # first P chars verbatim (pin: whole-string distance still
            # applies beyond the shared prefix).  StartsWith pushes into
            # the (field, term)-sorted termdict scan — the expansion
            # reads one prefix range, not the dictionary.
            terms_df = terms_df.filter(F.col("term").startswith(
                node.term[:node.prefix_length]))
        if node.transposition:
            from sonar_tantivy_spark.functions.strdist import (
                jvm_prefilter,
                make_osa_udf,
            )

            osa_udf = make_osa_udf(node.term)
            terms_df = (
                terms_df.filter(
                    jvm_prefilter(F.col("term"), node.term, node.distance))
                .filter(osa_udf(F.col("term")) <= node.distance)
            )
        else:
            terms_df = terms_df.filter(
                F.levenshtein(F.col("term"), F.lit(node.term)) <= node.distance)
        terms_df = terms_df.select("term").distinct()
        p = self._table("postings").filter(F.col("field") == node.field)
        cand = p.join(F.broadcast(terms_df), on="term", how="left_semi")
        return (
            cand.select("segment_id", "docid").distinct()
            .withColumn("score", F.lit(1.0))
        )

    def _cand_regex(self, node: A.RegexQ) -> DataFrame | None:
        td = self._table("termdict")
        if td is None:
            return None
        p = self._table("postings")
        cond = (F.col("field") == node.field) \
            & F.col("term").rlike("^(?:" + node.pattern + ")$")
        # literal-prefix pushdown: matching is ANCHORED, so every hit
        # must start with the pattern's guaranteed literal head (e.g.
        # 'he.*o' → 'he').  StartsWith is a pushdown-able parquet
        # predicate over the (field, term)-sorted termdict — the regex
        # then evaluates only within the prefix's row-group range
        # instead of the whole dictionary, the same reason _cand_prefix
        # beats a dictionary join (q25_wildcard was the slowest bench
        # class at 4× corpus before this).
        lit = regex_literal_prefix(node.pattern)
        if lit:
            cond = cond & F.col("term").startswith(lit)
        terms_df = td.filter(cond).select("term").distinct()
        cand = p.filter(F.col("field") == node.field).join(
            F.broadcast(terms_df), on="term", how="left_semi"
        )
        return (
            cand.select("segment_id", "docid").distinct()
            .withColumn("score", F.lit(1.0))
        )

    def _cand_prefix(self, node: A.PrefixQ) -> DataFrame | None:
        """Constant-score prefix match, straight off the POSTINGS scan —
        no termdict expansion join at all.  ``StartsWith`` is a
        pushdown-able parquet predicate and postings are sorted by
        (field, term) within every segment file, so the scan skips all
        row groups whose term min/max excludes the prefix range — the
        reason this beats compiling to RegexQ (termdict scan + semi
        join) and the shape that survives a 100x scale-up: cost tracks
        the prefix's posting volume, not the dictionary size."""
        p = self._table("postings")
        if p is None or not node.prefix:
            return None
        cand = p.filter((F.col("field") == node.field)
                        & F.col("term").startswith(node.prefix))
        return (
            cand.select("segment_id", "docid").distinct()
            .withColumn("score", F.lit(1.0))
        )

    def _cand_term_set(self, node: A.TermSetQ, dfs: dict) -> DataFrame | None:
        """ES ``terms`` / tantivy TermSetQuery — constant score 1.0 for
        docs holding ANY of the terms.  ONE postings scan with an In
        predicate (pushdown-able, and postings sort by (field, term)
        within segments, so row-group min/max skips non-matching
        stretches exactly as for a single term).  The per-term dfs are
        already resolved with the rest of the query's stats, so a set
        whose terms all have df=0 short-circuits to None without a
        scan — tantivy's EmptyScorer analog."""
        live = [t for t in node.terms if dfs.get((node.field, t), 0) > 0]
        if not live:
            return None
        p = self._table("postings")
        if p is None:
            return None
        cand = p.filter((F.col("field") == node.field)
                        & F.col("term").isin(live))
        return (cand.select("segment_id", "docid").distinct()
                .withColumn("score", F.lit(1.0)))

    def _cand_exists(self, node: A.ExistsQ) -> DataFrame | None:
        """ES ``exists`` — constant score 1.0 for docs with ANY value in
        the field.  Indexed fields: postings presence (one field-equality
        pushdown scan; a doc with at least one token has at least one
        posting).  Stored-only fields: doc-store isNotNull scan — the
        only shape that can see never-tokenized values."""
        fdef = self.schema.field(node.field)
        if fdef is not None and fdef.indexed:
            p = self._table("postings")
            if p is None:
                return None
            return (p.filter(F.col("field") == node.field)
                    .select("segment_id", "docid").distinct()
                    .withColumn("score", F.lit(1.0)))
        docs = self._table("docs")
        if docs is None or fdef is None or node.field not in docs.columns:
            return None
        return (docs.filter(F.col(node.field).isNotNull())
                .select("segment_id", "docid")
                .withColumn("score", F.lit(1.0)))

    def _cand_rank_feature(self, node: "A.RankFeatureQ") \
            -> DataFrame | None:
        """rank_feature (RankFeatureQ docstring): ONE doc-store scan
        with an isNotNull pushdown filter, the saturating function as
        JVM column math in the same projection — no postings touched,
        no UDF, no join.  Values clamp to >= 0 (ES features are
        non-negative); score = boost · S(v)."""
        docs = self._table("docs")
        if docs is None or node.field not in docs.columns:
            return None
        col = F.col(node.field)
        v = F.greatest(col.cast("double"), F.lit(0.0))
        if node.fn == "saturation":
            s = v / (v + F.lit(float(node.pivot)))
        elif node.fn == "log":
            s = F.log(F.lit(float(node.scaling_factor)) + v)
        elif node.fn == "sigmoid":
            ve = F.pow(v, F.lit(float(node.exponent)))
            s = ve / (ve + F.lit(float(node.pivot)
                                 ** float(node.exponent)))
        else:  # linear
            s = v
        return (docs.filter(col.isNotNull())
                .select("segment_id", "docid",
                        (F.lit(float(node.boost)) * s).alias("score")))

    def _cand_distance_feature(self, node: "A.DistanceFeatureQ") \
            -> DataFrame | None:
        """distance_feature (DistanceFeatureQ docstring): ONE doc-store
        scan, score = boost · pivot / (pivot + |v − origin|) as column
        math.  Date fields compare in epoch seconds (pivot unit pin
        shared with the gauss function)."""
        docs = self._table("docs")
        if docs is None or node.field not in docs.columns:
            return None
        col = F.col(node.field)
        if node.is_date:
            v = col.cast("timestamp").cast("double")
            origin = (F.lit(str(node.origin)).cast("timestamp")
                      .cast("double"))
        else:
            v = col.cast("double")
            origin = F.lit(float(node.origin))
        dist = F.abs(v - origin)
        pivot = F.lit(float(node.pivot))
        return (docs.filter(col.isNotNull())
                .select("segment_id", "docid",
                        (F.lit(float(node.boost)) * pivot
                         / (pivot + dist)).alias("score")))

    def _ids_rows(self, values: list[int]) -> list[tuple[str, int]]:
        """Map GLOBAL docids to live (segment_id, local docid) pairs.
        Same base-walk + max_doc bound-check as catalog.delete_docs
        (out-of-range ids are ES-silently dropped, never phantom
        rows).  Driver-side, bounded by the user's explicit id list."""
        ordered = sorted(self.bases.items(), key=lambda kv: kv[1])
        max_docs = {s["segment_id"]: int(s["max_doc"])
                    for s in self.segments}
        rows: list[tuple[str, int]] = []
        for d in values:
            sid, local = None, -1
            for seg_id, base in ordered:
                if d >= base:
                    sid, local = seg_id, d - base
            if sid is not None and 0 <= local < max_docs.get(sid, 0):
                rows.append((sid, local))
        return rows

    def _ids_rows_memo(self, values: list[int]) -> list[tuple[str, int]]:
        """_ids_rows over the whole snapshot, memoized per id list (the
        ids absence proof evaluates it once per pruning unit)."""
        if self._parent is not None:
            return self._parent._ids_rows_memo(values)
        key = tuple(values)
        return self._memoized(
            "ids", [key], lambda _: {key: self._ids_rows(values)})[key]

    def _cand_ids(self, node: A.IdsQ) -> DataFrame | None:
        """ES ``ids`` — constant score 1.0 by direct docid lookup.
        The ONLY zero-scan query node: the candidate set IS a literal
        local frame (no postings, no termdict, no doc store), so at
        100 TB it costs exactly the tombstone anti-join every query
        pays.  Resolution happens on the driver against the manifest
        (already in memory); the frame is bounded by the user's id
        list, the same contract as catalog.delete_docs."""
        rows = self._ids_rows(node.values)
        if not rows:
            return None
        return (self.spark.createDataFrame(
                    rows, "segment_id string, docid long")
                .withColumn("score", F.lit(1.0)))

    @staticmethod
    def _script_col(script: str, env: dict) -> Column:
        """Translate the validated script_score expression (the SAME
        safe arithmetic subset _script_eval accepts, already
        shape-checked at parse by ast._script_score_fields) into ONE
        JVM Column expression — whole-stage-codegen'd, no UDF.
        Division/modulo by zero yields null (Spark semantics, the
        pinned gap rule)."""
        import ast as pyast
        tree = pyast.parse(script, mode="eval")

        def ev(n) -> Column:
            if isinstance(n, pyast.Expression):
                return ev(n.body)
            if isinstance(n, pyast.Constant):
                return F.lit(float(n.value))
            if isinstance(n, pyast.Name):
                return env[n.id]
            if isinstance(n, pyast.UnaryOp):
                return -ev(n.operand)
            a, b = ev(n.left), ev(n.right)
            if isinstance(n.op, pyast.Add):
                return a + b
            if isinstance(n.op, pyast.Sub):
                return a - b
            if isinstance(n.op, pyast.Mult):
                return a * b
            if isinstance(n.op, pyast.Div):
                # ANSI mode (Spark 4 default) makes `/` THROW on zero;
                # try_divide yields null → coalesced 0.0 downstream
                return F.try_divide(a, b)
            if isinstance(n.op, pyast.Mod):
                # C-style remainder (sign of the DIVIDEND — Spark's
                # try_mod / Painless %); the oracle mirrors with
                # math.fmod, NOT Python's floor-mod
                return F.try_mod(a, b)
            # `**`: a negative base with a fractional exponent has no
            # real result — Spark pow yields NaN, which would sort
            # ABOVE every real score in the descending top-k; nanvl
            # folds it into the same 0.0 gap rule as division by zero
            return F.nanvl(F.pow(a, b), F.lit(None).cast("double"))
        return ev(tree)

    def _cand_script_score(self, node: "A.ScriptScoreQ",
                           dfs: dict) -> DataFrame | None:
        """script_score (ScriptScoreQ docstring): the child's
        candidates joined ONCE to the doc store for the referenced
        fields (skipped entirely for _score-only scripts), then the
        expression as one codegen'd column; null results (division by
        zero) coalesce to 0.0 — match set unchanged, the
        function_score contract."""
        child = self._cand_opt(node.child, dfs)
        if child is None:
            return None
        j = child
        if node.fields:
            docs = self._table("docs")
            if docs is None:
                return None
            j = child.join(
                docs.select("segment_id", "docid", *node.fields),
                on=["segment_id", "docid"], how="left")
        env = {"_score": F.col("score")}
        for f in node.fields:
            env[f] = F.coalesce(F.col(f).cast("double"), F.lit(0.0))
        score = F.coalesce(self._script_col(node.script, env),
                           F.lit(0.0))
        return j.withColumn("score", score).drop(*node.fields)

    def _cand_pinned(self, node: "A.PinnedQ",
                     dfs: dict) -> DataFrame | None:
        """pinned (PinnedQ docstring): a literal driver-built frame of
        the live pinned ids scored PINNED_BASE / (1 + rank) (zero-scan, the
        ids-query machinery) unioned with the organic candidates minus
        the pinned keys.  The pinned side is bounded by the user's id
        list, so the anti-filter is a tiny literal NOT IN pushed into
        the organic frame — never a join; the ordinary top-k sort then
        yields the pin-first layout."""
        rows = self._ids_rows(node.ids)
        # keep list ORDER for the rank scores: _ids_rows resolves in
        # input order, dropping dead ids — re-rank over survivors.
        # DELETED ids must drop HERE too: scoring before the downstream
        # tombstone anti-join would let a dead pin consume a rank and
        # shift every survivor's PINNED_BASE/(1+i) score away from the
        # documented re-rank-over-survivors rule (and the oracle).  One
        # bounded probe (|ids| literal keys vs the tombstone frame),
        # only when deletes exist.
        tomb = self._tombstones()
        if rows and tomb is not None:
            lit = self.spark.createDataFrame(
                rows, "segment_id string, docid long")
            dead = {(r["segment_id"], int(r["docid"]))
                    for r in tomb.join(F.broadcast(lit),
                                       on=["segment_id", "docid"],
                                       how="left_semi").collect()}
            if dead:
                rows = [p for p in rows if (p[0], p[1]) not in dead]
        pinned = None
        if rows:
            scored = [(sid, local, float(A.PINNED_BASE / (1.0 + i)))
                      for i, (sid, local) in enumerate(rows)]
            pinned = self.spark.createDataFrame(
                scored, "segment_id string, docid long, score double")
        organic = self._cand_opt(node.organic, dfs)
        if organic is not None and rows:
            keep_out = [(sid, local) for sid, local in rows]
            cond = None
            for sid, local in keep_out:
                c = (F.col("segment_id") == sid) & (F.col("docid") == local)
                cond = c if cond is None else (cond | c)
            organic = organic.filter(~cond)
        if pinned is None:
            return organic
        if organic is None:
            return pinned
        return pinned.unionByName(organic.select(
            "segment_id", "docid", "score"))

    def _any_field_dfs(self, fnames: list[str],
                       terms: list[str]) -> dict[str, int]:
        """Exact any-field df: distinct docs holding the term in >= 1
        of ``fnames`` (the per-field sum is only an upper bound — a doc
        holding the term in two fields counts once).  One countDistinct
        job for the misses, memoized per snapshot."""
        if self._parent is not None:
            return self._parent._any_field_dfs(fnames, terms)
        fkey = tuple(sorted(fnames))

        def compute(missing: list) -> dict:
            rows = (self._table("postings")
                    .filter(F.col("field").isin(fnames)
                            & F.col("term").isin([t for _, t in missing]))
                    .groupBy("term")
                    .agg(F.countDistinct("segment_id", "docid")
                         .alias("df")).collect())
            got = {r["term"]: int(r["df"]) for r in rows}
            return {k: got.get(k[1], 0) for k in missing}

        got = self._memoized("cfdf", [(fkey, t) for t in terms], compute)
        return {t: got[(fkey, t)] for t in terms}

    def _cand_combined_fields(self, node: "A.CombinedFieldsQ",
                              dfs: dict) -> DataFrame | None:
        """combined_fields (CombinedFieldsQ docstring — BM25F with
        shared k1/b).  Plan: ONE postings scan filtered to the
        (field-set, term-set) cross — per (segment, docid) the matched
        terms collect into an in-row entry list carrying w_f·tf (one
        aggregation exchange); the blended doc length comes from ONE
        doclens scan aggregated per (segment, docid) over the queried
        fields (its own narrow exchange — 3 columns, and unavoidable:
        Lucene's norm sum spans fields the matched term does NOT occur
        in); the join between the two reuses the aggregations' hash
        partitioning, so no third exchange.  Per-term blended tf /
        minimum_should_match / the final BM25F sum are in-row
        higher-order expressions — JVM column math, no UDF.  The exact
        any-field df per term is one countDistinct aggregation
        collected driver-side (k rows, memoized per searcher snapshot
        like term_dfs)."""
        if not node.terms:
            return None
        fnames = [f for f, _ in node.fields]
        any_df0 = {t: sum(dfs.get((f, t), 0) for f in fnames)
                   for t in node.terms}
        if node.operator == "and" \
                and any(any_df0[t] == 0 for t in node.terms):
            return None
        live = [t for t in node.terms if any_df0[t] > 0]
        if not live or len(live) < node.min_should:
            return None
        p = self._table("postings")
        dlens = self._table("doclens")
        if p is None or dlens is None:
            return None

        def w_col() -> Column:
            w = F.when(F.col("field") == node.fields[0][0],
                       F.lit(node.fields[0][1]))
            for f, wt in node.fields[1:]:
                w = w.when(F.col("field") == f, F.lit(wt))
            return w.otherwise(F.lit(0.0))

        df_any = self._any_field_dfs(fnames, live)

        scan = p.filter(F.col("field").isin(fnames)
                        & F.col("term").isin(live))
        entries = (
            scan.groupBy("segment_id", "docid")
            .agg(F.collect_list(F.struct(
                F.col("term").alias("t"),
                (w_col() * F.coalesce(F.col("tf"), F.lit(1))
                 .cast("double")).alias("wtf"))).alias("__e")))
        decoded = F.element_at(_norm_array(),
                               F.col("norm_id") + 1).cast("double")
        bdl_src = dlens.filter(F.col("field").isin(fnames))
        # candidate-bounded norm blend: the blend only matters for docs
        # holding >= 1 query term, but the agg below would otherwise
        # exchange EVERY doc's per-field norms (corpus-wide — the cost
        # that dominated the q35 bench class).  When the candidate
        # postings volume fits the broadcast cap, semi-join the doclens
        # scan down to candidate docs first, turning the norm exchange
        # from O(corpus) into O(matches); hot-term queries past the cap
        # keep the full agg (a 100-TB corpus-wide hash agg is still one
        # map-side-combinable exchange — safe, just not minimal).
        cand_rows = sum(df_any[t] for t in live) * len(fnames)
        if _broadcastable(cand_rows):
            bdl_src = bdl_src.join(
                F.broadcast(scan.select("segment_id", "docid")),
                on=["segment_id", "docid"], how="left_semi")
        bdl = (bdl_src
               .groupBy("segment_id", "docid")
               .agg(F.sum(w_col() * decoded).alias("__bdl")))
        j = entries.join(bdl, on=["segment_id", "docid"])

        nt = F.size(F.array_distinct(
            F.transform(F.col("__e"), lambda e: e["t"])))
        if node.operator == "and":
            j = j.filter(nt == len(live))
        elif node.min_should > 0:
            j = j.filter(nt >= node.min_should)

        avgdl_b = sum(w * self.avgdl(f) for f, w in node.fields)
        denom_norm = F.lit(bm25.K1) * (
            F.lit(1.0 - bm25.B)
            + F.lit(bm25.B / avgdl_b) * F.col("__bdl"))
        score: Column | None = None
        for t in live:
            idf = bm25.idf(df_any[t], self.num_docs)
            btf = F.aggregate(
                F.filter(F.col("__e"), lambda e: e["t"] == F.lit(t)),
                F.lit(0.0), lambda acc, e: acc + e["wtf"])
            s_t = F.when(
                btf > 0,
                F.lit(idf * (bm25.K1 + 1.0)) * btf / (btf + denom_norm)
            ).otherwise(F.lit(0.0))
            score = s_t if score is None else score + s_t
        return j.select("segment_id", "docid", score.alias("score"))

    def _cand_dismax(self, node: A.DisMaxQ, dfs: dict) -> DataFrame | None:
        """Lucene DisjunctionMaxQuery: union the clause candidate sets,
        then per doc score = max + tie_breaker * (sum - max).  Same
        plan family as the generic bool-should path (clause frames →
        one union → one aggregation exchange); provably-empty clauses
        drop out for free."""
        subs = [s for s in (self._cand_opt(c, dfs) for c in node.queries)
                if s is not None]
        if not subs:
            return None
        if len(subs) == 1:
            return subs[0]
        tie = float(node.tie_breaker)
        agg = _clause_sum(_union_clauses(subs), F.max("score").alias("__mx"))
        return agg.select(
            "segment_id", "docid",
            (F.col("__mx")
             + F.lit(tie) * (F.col("score") - F.col("__mx"))).alias("score"))

    def _cand_phrase_prefix(self, node: A.PhrasePrefixQ,
                            dfs: dict) -> DataFrame | None:
        """ES ``match_phrase_prefix`` — the exact-phrase single-scan plan
        with the LAST slot matched by any dictionary term starting with
        ``prefix``.  ONE postings scan filtered to (term IN exact) OR
        startswith(prefix) — both predicates push into the parquet scan
        over the (field, term)-sorted postings, so cost tracks the
        matched posting volume, never the dictionary size (no termdict
        expansion join, the same 100x-safe shape as _cand_prefix).
        Expansion-query rule: constant score 1.0."""
        terms = node.terms
        if not terms or not node.prefix:
            return None
        if any(dfs.get((node.field, t), 0) == 0 for t in terms):
            return None
        uterms = list(dict.fromkeys(terms))
        p = self._table("postings")
        if p is None:
            return None
        scan = p.filter(
            (F.col("field") == node.field)
            & (F.col("term").isin(uterms)
               | F.col("term").startswith(node.prefix)))
        is_exact = F.col("term").isin(uterms)
        agg = (
            scan.groupBy("segment_id", "docid")
            .agg(
                F.map_from_entries(F.collect_list(
                    F.when(is_exact, F.struct("term", "positions"))
                    .otherwise(None))).alias("__pos"),
                # postings are unique per (field, term, docid), so the
                # conditional count IS the distinct exact-term count
                F.sum(F.when(is_exact, 1).otherwise(0)).alias("__nt"),
                F.array_sort(F.flatten(F.collect_list(
                    F.when(F.col("term").startswith(node.prefix),
                           F.col("positions"))
                    .otherwise(F.array().cast("array<int>"))))).alias("__pp"),
            )
            .filter((F.col("__nt") == len(uterms)) & (F.size("__pp") > 0))
        )
        match = F.element_at(F.col("__pos"), F.lit(terms[0]))
        for t in terms[1:]:
            match = F.array_intersect(
                F.transform(match, lambda x: x + 1),
                F.element_at(F.col("__pos"), F.lit(t)))
        # final slot: a prefix-matched position adjacent to the chain
        match = F.array_intersect(
            F.transform(match, lambda x: x + 1), F.col("__pp"))
        return (agg.withColumn("__m", match).filter(F.size("__m") > 0)
                .select("segment_id", "docid")
                .withColumn("score", F.lit(1.0)))

    def _cand_range(self, node: A.RangeQ) -> DataFrame | None:
        docs = self._table("docs")
        if docs is None:
            return None
        fdef = self.schema.field(node.field)
        is_date = fdef is not None and fdef.type == "date"
        col = F.col(node.field)
        if is_date:
            def cv(v: Any) -> Column:
                return F.lit(v).cast(T.TimestampType())
        else:
            def cv(v: Any) -> Column:
                return F.lit(v)
        cond = F.lit(True)
        if node.gte is not None:
            cond = cond & (col >= cv(node.gte))
        if node.gt is not None:
            cond = cond & (col > cv(node.gt))
        if node.lte is not None:
            cond = cond & (col <= cv(node.lte))
        if node.lt is not None:
            cond = cond & (col < cv(node.lt))
        # hive-partition pruning: the docs table is partitioned by a
        # time bucket of its date field (build.py) — add the equivalent
        # bucket-prefix predicate so Catalyst prunes whole partition
        # directories before the scan.  Conservative: only for cleanly
        # ISO-formatted bounds; the exact filter above stays regardless.
        if is_date and "__tsbucket" in docs.columns:
            import re as _re

            # bucket granularity is recorded per segment at build; only
            # filter when every segment agrees (mixed granularities would
            # make prefix comparisons unsound)
            fmts = {s.get("tsbucket_fmt") for s in self.segments}
            plen = {"yyyy": 4, "yyyy-MM": 7, "yyyy-MM-dd": 10}.get(
                next(iter(fmts)) if len(fmts) == 1 else None)

            def bucket(v: Any) -> str | None:
                if plen is None:
                    return None
                s = str(v)
                pats = {4: r"^\d{4}", 7: r"^\d{4}-\d{2}",
                        10: r"^\d{4}-\d{2}-\d{2}"}
                # 'b' prefix matches the stored partition values (build.py)
                return "b" + s[:plen] if _re.match(pats[plen], s) else None

            lo = bucket(node.gte if node.gte is not None else node.gt)
            hi = bucket(node.lte if node.lte is not None else node.lt)
            if lo is not None:
                cond = cond & (F.col("__tsbucket") >= lo)
            if hi is not None:
                # '~' sorts after digits/'-': keeps every bucket that
                # shares the boundary prefix, at any finer granularity
                cond = cond & (F.col("__tsbucket") <= hi + "~")
        return docs.filter(cond).select(
            "segment_id", "docid", F.lit(1.0).alias("score")
        )

    def _cand_all(self) -> DataFrame | None:
        docs = self._table("docs")
        if docs is None:
            return None
        return docs.select("segment_id", "docid", F.lit(1.0).alias("score"))

    def _cand_bool_terms_fast(self, node: A.BoolQ,
                              dfs: dict) -> DataFrame | None | bool:
        """Single-scan plan for bool-of-terms: when every positive clause
        is a plain TermQ, ONE postings scan filtered to the term set
        replaces k scans + (k-1) joins/unions — per-term idf folds in as
        a literal map keyed on (field, term), must-ness is a row
        indicator summed per doc (postings are unique per (field, term,
        docid), so the sum IS the matched-must count).  Returns False
        when the shape doesn't qualify (caller falls back)."""
        if not (node.must or node.should):
            return False
        if getattr(node, "filter", None):
            return False  # filter clauses take the general semi-join path
        for c in node.must + node.should:
            if not isinstance(c, A.TermQ):
                return False
        must_pairs = [(c.field, c.term) for c in node.must]
        should_pairs = [(c.field, c.term) for c in node.should]
        if len(set(must_pairs)) != len(must_pairs) or \
                len(set(should_pairs)) != len(should_pairs) or \
                set(must_pairs) & set(should_pairs):
            return False  # duplicate clauses each score in tantivy
        if any(dfs.get(p, 0) == 0 for p in must_pairs):
            return None  # a zero-df must empties the conjunction
        should_pairs = [p for p in should_pairs if dfs.get(p, 0) > 0]
        msm = int(getattr(node, "min_should", 0) or 0)
        if msm > len(should_pairs):
            return None  # fewer live shoulds than the minimum → no match
        pairs = must_pairs + should_pairs
        if not pairs:
            return None
        if len(pairs) == 1 and not node.must_not:
            return False  # single term: the plain term plan is identical
        p = self._table("postings")
        if p is None:
            return None
        cond = None
        for f, t in pairs:
            c = (F.col("field") == f) & (F.col("term") == t)
            cond = c if cond is None else (cond | c)
        key = F.concat(F.col("field"), F.lit("\x00"), F.col("term"))
        idf_pairs: list[Column] = []
        must_flag_pairs: list[Column] = []
        bb_pairs: list[Column] = []
        ci_pairs: list[Column] = []
        for i, (f, t) in enumerate(pairs):
            idf = bm25.idf(dfs[(f, t)], self.num_docs)
            idf_pairs.extend([F.lit(f + "\x00" + t),
                              F.lit(idf * (bm25.K1 + 1.0))])
            must_flag_pairs.extend(
                [F.lit(f + "\x00" + t), F.lit(1 if (f, t) in must_pairs else 0)])
            ci_pairs.extend([F.lit(f + "\x00" + t), F.lit(i)])
        for f in sorted({f for f, _ in pairs}):
            bb_pairs.extend([F.lit(f), F.lit(bm25.B / self.avgdl(f))])
        idf_k = F.element_at(F.create_map(*idf_pairs), key)
        is_must = F.element_at(F.create_map(*must_flag_pairs), key)
        b_over_avgdl = F.element_at(F.create_map(*bb_pairs), F.col("field"))
        dl = F.element_at(_norm_array(), F.col("norm_id") + 1).cast("double")
        tf = F.coalesce(F.col("tf"), F.lit(1)).cast("double")
        denom = tf + F.lit(bm25.K1) * (F.lit(1.0 - bm25.B) + b_over_avgdl * dl)
        scored = p.filter(cond).select(
            "segment_id", "docid",
            (idf_k * tf / denom).alias("score"),
            is_must.alias("__m"),
            F.element_at(F.create_map(*ci_pairs), key).alias("__ci"),
        )
        # skew guard: a rare must-term bounds the result set, so when the
        # df spread is large (e.g. needle AND the/role:tool), semi-join
        # the scan against the rare term's docids BEFORE the aggregation
        # shuffle — a broadcast hash filter that keeps the hot term's
        # billions of non-matching postings out of the exchange entirely.
        # Only a must pair can be the rare one, but the spread counts
        # every pair; the broadcast build reuses the cond-filtered scan
        scored = _skew_guarded(
            scored, p.filter(cond), {q: dfs[q] for q in pairs},
            lambda q: (F.col("field") == q[0]) & (F.col("term") == q[1]),
            _BOOL_ROW_BYTES, rare_from=must_pairs)
        out = _clause_sum(scored, F.sum("__m").alias("__nm"),
                          F.count("*").alias("__nt"))
        if must_pairs:
            out = out.filter(F.col("__nm") == len(must_pairs))
        if msm > 0:
            # matched-should count = total matched pairs − matched musts
            # (postings are unique per (field, term, docid))
            out = out.filter(F.col("__nt") - F.col("__nm") >= msm)
        out = out.drop("__nm", "__nt")
        for c in node.must_not:
            mn = self._cand_opt(c, dfs)
            if mn is not None:
                out = out.join(mn.select("segment_id", "docid"),
                               on=["segment_id", "docid"], how="left_anti")
        return out

    def _cand_bool(self, node: A.BoolQ, dfs: dict) -> DataFrame | None:
        fast = self._cand_bool_terms_fast(node, dfs)
        if fast is not False:
            return fast
        # a zero-df must-clause empties the whole conjunction; zero-df
        # should/must_not clauses are simply dropped from the plan
        musts = [self._cand_opt(c, dfs) for c in node.must]
        if node.must and any(m is None for m in musts):
            return None
        shoulds = [s for s in (self._cand_opt(c, dfs) for c in node.should)
                   if s is not None]
        mnots = [m for m in (self._cand_opt(c, dfs) for c in node.must_not)
                 if m is not None]
        msm = int(getattr(node, "min_should", 0) or 0)
        if msm > len(shoulds):
            return None  # fewer live shoulds than the minimum → no match
        filts = [self._cand_opt(c, dfs)
                 for c in getattr(node, "filter", [])]
        if getattr(node, "filter", []) and any(f is None for f in filts):
            return None  # an empty filter clause empties the conjunction

        def _apply_filters(df: DataFrame) -> DataFrame:
            # non-scoring constraints: LEFT-SEMI joins — the filter
            # candidates never enter the scoring aggregation
            for f in filts:
                df = df.join(f.select("segment_id", "docid"),
                             on=["segment_id", "docid"], how="left_semi")
            return df

        if musts:
            out = musts[0]
            for i, m in enumerate(musts[1:], 1):
                m = m.withColumnRenamed("score", f"__s{i}")
                out = out.join(m, on=["segment_id", "docid"], how="inner")
                out = out.withColumn(
                    "score", F.col("score") + F.col(f"__s{i}")
                ).drop(f"__s{i}")
            out = _apply_filters(out)  # shrink before the should joins
            # optional shoulds contribute score to docs already matching
            # musts; with minimum_should_match, count the non-null joins
            if msm > 0:
                out = out.withColumn("__smc", F.lit(0))
            for i, s in enumerate(shoulds):
                s = s.withColumnRenamed("score", f"__o{i}")
                out = out.join(s, on=["segment_id", "docid"], how="left")
                if msm > 0:
                    out = out.withColumn(
                        "__smc", F.col("__smc")
                        + F.col(f"__o{i}").isNotNull().cast("int"))
                out = out.withColumn(
                    "score", F.col("score") + F.coalesce(F.col(f"__o{i}"), F.lit(0.0))
                ).drop(f"__o{i}")
            if msm > 0:
                out = out.filter(F.col("__smc") >= msm).drop("__smc")
        elif shoulds and filts and msm == 0:
            # Lucene rule: a required (filter) clause makes shoulds
            # purely optional — the match set is the filter
            # intersection, shoulds only add score
            out = filts[0].select("segment_id", "docid")
            for f in filts[1:]:
                out = out.join(f.select("segment_id", "docid"),
                               on=["segment_id", "docid"], how="left_semi")
            out = out.withColumn("score", F.lit(0.0))
            for i, s in enumerate(shoulds):
                s = s.withColumnRenamed("score", f"__o{i}")
                out = out.join(s, on=["segment_id", "docid"], how="left")
                out = out.withColumn(
                    "score", F.col("score") + F.coalesce(F.col(f"__o{i}"), F.lit(0.0))
                ).drop(f"__o{i}")
        elif shoulds:
            out = shoulds[0]
            if len(shoulds) > 1:  # single clause is already (seg, docid)-unique
                # each clause's candidate set is (seg, docid)-unique, so
                # the row count IS the matched-should count
                out = _clause_sum(_union_clauses(shoulds),
                                  F.count("*").alias("__smc"))
                if msm > 0:
                    out = out.filter(F.col("__smc") >= msm)
                out = out.drop("__smc")
            out = _apply_filters(out)
        elif filts:
            # only-filter bool: matches the filter intersection with
            # constant score 0.0 (ES filter-context semantics)
            out = filts[0].select("segment_id", "docid")
            for f in filts[1:]:
                out = out.join(f.select("segment_id", "docid"),
                               on=["segment_id", "docid"], how="left_semi")
            out = out.withColumn("score", F.lit(0.0))
        else:
            return None  # only-must_not (or all-empty) matches nothing ⟨tantivy⟩

        for mn in mnots:
            out = out.join(
                mn.select("segment_id", "docid"),
                on=["segment_id", "docid"], how="left_anti",
            )
        return out

    # ------------------------------------------------------------ execution
    def with_global_docid(self, cands: DataFrame) -> DataFrame:
        """Global docid = manifest base + local docid.  For moderate segment
        counts this is a pure literal map expression — no join, no Python-
        backed DataFrame to broadcast, no dynamic-pruning subquery."""
        if len(self.bases) <= 4096:
            pairs: list[Column] = []
            for sid, base in self.bases.items():
                pairs.extend([F.lit(sid), F.lit(base)])
            base_col = F.element_at(F.create_map(*pairs), F.col("segment_id"))
            return cands.withColumn("docid_g", base_col + F.col("docid"))
        rows = [(sid, base) for sid, base in self.bases.items()]
        bases_df = self.spark.createDataFrame(rows, "segment_id string, base long")
        return cands.join(F.broadcast(bases_df), on="segment_id").withColumn(
            "docid_g", F.col("base") + F.col("docid")
        ).drop("base")

    @staticmethod
    def _after_pred(value_col: Column, after: tuple) -> Column:
        """Rows strictly AFTER the cursor in (value desc, docid_g asc)
        order — the ES ``search_after`` predicate.  A pure filter on the
        sort key, so unlike offset pagination the execution cost of page
        P does not grow with P (no depth-(P·k) top-k): the shape that
        stays correct when a 100 TB index is paged to exhaustion."""
        s, d = float(after[0]), int(after[1])
        return (value_col < F.lit(s)) | (
            (value_col == F.lit(s)) & (F.col("docid_g") > F.lit(d)))

    def top_k(
        self,
        node: A.Node,
        limit: int = 10,
        sort_by: str | None = None,
        cands: DataFrame | None = None,
        after: tuple | None = None,
    ) -> DataFrame:
        """DF(segment_id, docid, docid_g, score) of the top ``limit`` hits.

        ``sort_by`` mirrors TopDocs::order_by_u64_field: honored only for a
        fast AND stored field (search.rs:23-25), silently falling back to
        BM25 score otherwise.  When the sorted collector is used, the hit
        *score* is the fast-field value itself, not BM25 — search.rs:67-77
        maps ``(score, doc)`` with ``score as f32`` straight off the u64
        collector.

        ``cands``: precomputed ``candidates(node)`` — the MultiCollector
        path persists one scored scan and feeds both the top-k and the
        facet counts from it.

        ``after``: ES search_after cursor, the previous page's last
        (score, docid_g) — restricts to rows strictly after it in the
        collector's total order (BM25 score or the fast-field value,
        whichever this call sorts by)."""
        if cands is None:
            cands = self.candidates(node)
        cands = self.with_global_docid(cands)
        fdef = self.schema.field(sort_by) if sort_by else None
        if fdef is not None and fdef.fast and fdef.stored:
            docs = self._table("docs").select("segment_id", "docid", sort_by)
            # the fast-field join scans the (big) docs table; when the
            # candidate set is provably small (df-bounded under the
            # shared broadcast byte cap — VERDICT r5: the old flat 2M-row
            # bound allowed ~32 MB+ broadcasts), broadcast it so the
            # docs side never shuffles
            if _broadcastable(self._cand_size_bound(node)):
                cands = F.broadcast(cands)
            cands = cands.join(docs, on=["segment_id", "docid"])
            if after is not None:
                cands = cands.filter(
                    self._after_pred(F.col(sort_by).cast("double"), after))
            return (
                cands.orderBy(F.desc(sort_by), F.asc("docid_g")).limit(limit)
                .withColumn("score", F.col(sort_by).cast("double"))
                .drop(sort_by)
            )
        if after is not None:
            cands = cands.filter(self._after_pred(F.col("score"), after))
        return cands.orderBy(F.desc("score"), F.asc("docid_g")).limit(limit)

    def _cand_size_bound(self, node: A.Node) -> int | None:
        """Upper bound on the candidate count, from driver-side dfs;
        None = unbounded/unknown (AllQ, range, fuzzy, regex)."""
        if isinstance(node, A.TermQ):
            return self.term_dfs({(node.field, node.term)}).get(
                (node.field, node.term), 0)
        if isinstance(node, A.PhraseQ):
            if not node.terms:
                return 0
            dfs = self.term_dfs({(node.field, t) for t in node.terms})
            return min(dfs.get((node.field, t), 0) for t in node.terms)
        if isinstance(node, A.TermSetQ):
            dfs = self.term_dfs({(node.field, t) for t in node.terms})
            return sum(dfs.get((node.field, t), 0) for t in node.terms)
        if isinstance(node, A.PhrasePrefixQ):
            if not node.terms:
                return None  # pure prefix expansion — unbounded
            dfs = self.term_dfs({(node.field, t) for t in node.terms})
            return min(dfs.get((node.field, t), 0) for t in node.terms)
        if isinstance(node, A.SpanNearQ):
            if not node.clauses:
                return 0
            dfs = self.term_dfs(
                {(node.field, t) for c in node.clauses for t in c})
            # the match set is bounded by the sparsest clause's union
            return min(sum(dfs.get((node.field, t), 0) for t in c)
                       for c in node.clauses)
        if isinstance(node, A.SpanFirstQ):
            return self._cand_size_bound(node.child)
        if isinstance(node, A.SpanNotQ):
            # exclusion only shrinks: bounded by the include union
            dfs = self.term_dfs({(node.field, t) for t in node.include})
            return sum(dfs.get((node.field, t), 0) for t in node.include)
        if isinstance(node, A.PinnedQ):
            b = self._cand_size_bound(node.organic)
            return None if b is None else b + len(node.ids)
        if isinstance(node, A.ScriptScoreQ):
            return self._cand_size_bound(node.child)
        if isinstance(node, A.CombinedFieldsQ):
            # per-term any-field df <= the per-field sum; or-mode sums
            # terms, and-mode is bounded by the scarcest term
            dfs = self.term_dfs({(f, t) for f, _ in node.fields
                                 for t in node.terms})
            per_term = [sum(dfs.get((f, t), 0) for f, _ in node.fields)
                        for t in node.terms]
            if not per_term:
                return 0
            return (min(per_term) if node.operator == "and"
                    else sum(per_term))
        if isinstance(node, A.SpanContainQ):
            # both sides must occur: min(big's sparsest clause, little)
            dfs = self.term_dfs(
                {(node.field, t) for c in node.big.clauses for t in c}
                | {(node.field, t) for t in node.little})
            bbound = min(sum(dfs.get((node.field, t), 0) for t in c)
                         for c in node.big.clauses)
            lbound = sum(dfs.get((node.field, t), 0)
                         for t in node.little)
            return min(bbound, lbound)
        if isinstance(node, A.DisMaxQ):
            subs = [self._cand_size_bound(c) for c in node.queries]
            if any(b is None for b in subs):
                return None
            return sum(subs)
        if isinstance(node, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
            return self._cand_size_bound(node.child)
        if isinstance(node, A.BoostingQ):
            return self._cand_size_bound(node.positive)
        if isinstance(node, A.BoolQ):
            musts = [self._cand_size_bound(c) for c in node.must]
            known = [b for b in musts if b is not None]
            if known:  # intersection ≤ the smallest bounded must clause
                return min(known)
            if node.must or not node.should:
                return None
            shoulds = [self._cand_size_bound(c) for c in node.should]
            if any(b is None for b in shoulds):
                return None
            return sum(shoulds)
        return None

    # ------------------------------------------------- block-max pruning
    def term_upper_bound(self, field: str, term: str, seg_max_tf: int,
                         idf: float) -> float:
        """Max possible BM25 contribution of ``term`` for any doc in a
        segment with the given max term frequency (dl → 0 minimizes the
        norm denominator) — the block-max value of WAND, kept per
        (segment, term) in the termdict (SURVEY.md §4)."""
        denom = seg_max_tf + bm25.K1 * (1.0 - bm25.B)
        return idf * (bm25.K1 + 1.0) * seg_max_tf / denom

    def _restricted(self, keep: set[str]) -> "Searcher":
        """A searcher over a SUBSET of segments that keeps GLOBAL
        statistics (num_docs, avgdl, and every memoized per-term
        lookup, which it reads through to the parent), so scores match
        the full-index execution exactly."""
        sub = Searcher.__new__(Searcher)
        sub.spark = self.spark
        sub.schema = self.schema
        sub.storage = self.storage
        sub.manifest = self.manifest
        sub.segments = [s for s in self.segments if s["segment_id"] in keep]
        sub.bases = {sid: b for sid, b in self.bases.items() if sid in keep}
        sub.num_docs = self.num_docs
        sub.tombstone_meta = self.tombstone_meta
        sub._tomb = _UNSET
        sub._seg_by_id = {s["segment_id"]: s for s in sub.segments}
        sub._memo = self._memo
        sub._prune_local = threading.local()
        sub._tables = {}
        sub._parent = self  # reuse loaded tables (see _table)
        sub._block_pred = None
        full, n = self.segments, self.num_docs
        sub.avgdl = lambda field, _s=full, _n=n: (
            sum(x["field_stats"].get(field, {}).get("total_tokens", 0)
                for x in _s) / _n if _n else 1.0
        )
        return sub

    def seg_max_tfs(self, pairs: set[tuple[str, str]]) -> dict:
        """(field, term) → {segment_id: max_tf} (see _term_rows)."""
        return {p: {r[0]: r[2] for r in rows}
                for p, rows in self._term_rows(pairs).items()}

    def seg_block_mtfs(self, pairs: set[tuple[str, str]]) -> dict:
        """(field, term) → {segment_id: {block: max_tf}} (no entry for a
        segment whose epoch predates the block-granular termdict)."""
        return {p: {r[0]: r[3] for r in rows if r[3] is not None}
                for p, rows in self._term_rows(pairs).items()}

    def _segment_bounds(self, node: A.Node) -> dict[str, float] | None:
        """Per-segment upper bound of ``node``'s score, or None when the
        shape can't be bounded."""
        pairs = collect_terms(node)
        dfs = self.term_dfs(pairs)  # also warms the cache for _restricted
        idfs = {p: bm25.idf(d, self.num_docs) for p, d in dfs.items() if d > 0}
        per_seg_mtf = self.seg_max_tfs(pairs)
        mtf = {
            (sid, f, t): v
            for (f, t), seg_map in per_seg_mtf.items()
            for sid, v in seg_map.items()
        }
        out: dict[str, float] = {}
        for s in self.segments:
            b = self._node_bound(node, s["segment_id"], idfs, mtf)
            if b is None:
                return None
            out[s["segment_id"]] = b
        return out

    def _range_bound(self, node: A.RangeQ, sid: str) -> float:
        """Zone-map absence proof: 0.0 when the range is provably
        disjoint with the segment's [min, max] for the field (stats
        written at build, build.py), else the constant-score 1.0.
        Conservative: any parse/format doubt returns 1.0."""
        meta = self._seg_by_id.get(sid)
        st = meta["field_stats"].get(node.field) if meta else None
        if not st or "min" not in st:
            return 1.0
        fdef = self.schema.field(node.field)
        is_date = fdef is not None and fdef.type == "date"

        def conv(v: Any):
            if v is None:
                return None
            if is_date:
                from datetime import datetime
                try:
                    return datetime.fromisoformat(str(v).replace("T", " "))
                except ValueError:
                    return None
            try:
                return float(v)
            except (TypeError, ValueError):
                return None

        lo, hi = conv(st["min"]), conv(st["max"])
        if lo is None or hi is None:
            return 1.0
        g_incl, g_excl = conv(node.gte), conv(node.gt)
        l_incl, l_excl = conv(node.lte), conv(node.lt)
        if (node.gte is not None and g_incl is None) or \
           (node.gt is not None and g_excl is None) or \
           (node.lte is not None and l_incl is None) or \
           (node.lt is not None and l_excl is None):
            return 1.0  # unparseable bound → never prune
        if g_incl is not None and hi < g_incl:
            return 0.0
        if g_excl is not None and hi <= g_excl:
            return 0.0
        if l_incl is not None and lo > l_incl:
            return 0.0
        if l_excl is not None and lo >= l_excl:
            return 0.0
        return 1.0

    def _node_bound(self, node: A.Node, sid: str, idfs: dict,
                    mtf: dict) -> float | None:
        """Max possible score of ``node`` for any doc in segment ``sid``.
        0.0 is a PROOF of no match (a required/only term is absent from
        the segment); None means the shape isn't boundable."""
        if isinstance(node, A.TermQ):
            m = mtf.get((sid, node.field, node.term), 0)
            idf = idfs.get((node.field, node.term), 0.0)
            if m == 0 or idf <= 0.0:
                return 0.0
            return self.term_upper_bound(node.field, node.term, m, idf)
        if isinstance(node, A.PhraseQ):
            if not node.terms:
                return 0.0
            mtfs = [mtf.get((sid, node.field, t), 0) for t in node.terms]
            if min(mtfs) == 0:
                return 0.0  # absence proof holds for any slop
            # exact phrase (slop=0): the adjacency chain pins a distinct
            # position of EVERY term per match, so phrase freq <= min
            # per-term tf.  Sloppy phrase scores the surviving-position
            # count of the LAST term (_cand_phrase __m), and one
            # predecessor position can validate up to 1+slop successor
            # positions — min over all terms is NOT an upper bound there;
            # the surviving set is a subset of the last term's postings,
            # so its max_tf is.
            slop = int(getattr(node, "slop", 0) or 0)
            m = mtfs[-1] if slop > 0 else min(mtfs)
            idf_sum = sum(idfs.get((node.field, t), 0.0) for t in node.terms)
            denom = m + bm25.K1 * (1.0 - bm25.B)
            return idf_sum * (bm25.K1 + 1.0) * m / denom
        if isinstance(node, A.CombinedFieldsQ):
            # per term: blended tf <= Σ_f w_f·max_tf_f; df_any >= every
            # per-field df, so idf(df_any) <= min available per-field
            # idf; dl -> 0 minimizes the norm denominator.  and-mode:
            # a term absent from every queried field in the segment is
            # an exact absence proof; or-mode needs ALL terms absent.
            total = 0.0
            dead = 0
            for t in node.terms:
                btf = sum(w * mtf.get((sid, f, t), 0)
                          for f, w in node.fields)
                if btf <= 0:
                    dead += 1
                    continue
                idf_b = min((idfs[(f, t)] for f, _ in node.fields
                             if (f, t) in idfs), default=0.0)
                total += (idf_b * (bm25.K1 + 1.0) * btf
                          / (btf + bm25.K1 * (1.0 - bm25.B)))
            if dead and node.operator == "and":
                return 0.0
            if dead == len(node.terms):
                return 0.0
            return total
        if isinstance(node, A.SpanFirstQ):
            # the end-filter only SHRINKS the match set; the child's
            # bound (and its absence proof) carries over unchanged
            return self._node_bound(node.child, sid, idfs, mtf)
        if isinstance(node, A.SpanNotQ):
            # include absent from the segment → exact absence proof;
            # exclusion only shrinks, so tf ⊆ the include union's
            # postings — bound by Σ include alternatives' max_tf.
            # Exclude terms contribute NOTHING (neither idf nor bound).
            imtf = sum(mtf.get((sid, node.field, t), 0)
                       for t in node.include)
            if imtf == 0:
                return 0.0
            idf_sum = sum(idfs.get((node.field, t), 0.0)
                          for t in node.include)
            denom = imtf + bm25.K1 * (1.0 - bm25.B)
            return idf_sum * (bm25.K1 + 1.0) * imtf / denom
        if isinstance(node, A.SpanContainQ):
            # absence proof: any big clause OR the little clause absent
            # from the segment → no containment can exist there
            bmtfs = [sum(mtf.get((sid, node.field, t), 0) for t in c)
                     for c in node.big.clauses]
            lmtf = sum(mtf.get((sid, node.field, t), 0)
                       for t in node.little)
            if min(bmtfs) == 0 or lmtf == 0:
                return 0.0
            if node.mode == "containing":
                # tf = surviving big spans ⊆ the big chain's final-
                # clause postings (rigid chain: same last-clause rule
                # as SpanNearQ); idf over big's alternatives
                m = bmtfs[-1]
                idf_sum = sum(idfs.get((node.field, t), 0.0)
                              for c in node.big.clauses for t in c)
            else:
                # tf = surviving little positions ⊆ little's postings
                m = lmtf
                idf_sum = sum(idfs.get((node.field, t), 0.0)
                              for t in node.little)
            denom = m + bm25.K1 * (1.0 - bm25.B)
            return idf_sum * (bm25.K1 + 1.0) * m / denom
        if isinstance(node, A.SpanNearQ):
            if not node.clauses:
                return 0.0
            # per-clause presence: a clause whose every alternative is
            # absent from the segment is an exact absence proof
            cmtfs = [sum(mtf.get((sid, node.field, t), 0) for t in c)
                     for c in node.clauses]
            if min(cmtfs) == 0:
                return 0.0
            # tf = surviving final-clause positions ⊆ the union of the
            # LAST clause's alternatives' postings (the sloppy-phrase
            # rule generalized: a predecessor can validate up to 1+slop
            # successors, so min-over-clauses is NOT a bound; the
            # last-clause union sum is)
            m = cmtfs[-1]
            idf_sum = sum(idfs.get((node.field, t), 0.0)
                          for c in node.clauses for t in c)
            denom = m + bm25.K1 * (1.0 - bm25.B)
            return idf_sum * (bm25.K1 + 1.0) * m / denom
        if isinstance(node, A.BoolQ):
            total = 0.0
            for c in node.must:
                b = self._node_bound(c, sid, idfs, mtf)
                if b is None:
                    return None
                if b == 0.0:
                    return 0.0  # a must-clause provably can't match here
                total += b
            for c in getattr(node, "filter", []):
                # filters add NO score, so an unboundable filter is
                # simply ignorable (it only shrinks the match set) —
                # but a 0.0 bound is still an absence PROOF
                b = self._node_bound(c, sid, idfs, mtf)
                if b == 0.0:
                    return 0.0
            should_sum = 0.0
            should_live = 0  # clauses not PROVABLY absent (bound != 0)
            for c in node.should:
                b = self._node_bound(c, sid, idfs, mtf)
                if b is None:
                    return None
                if b != 0.0:
                    should_live += 1
                should_sum += b
            msm = int(getattr(node, "min_should", 0) or 0)
            if 0 < msm and should_live < msm:
                return 0.0  # can't reach minimum_should_match here
            if not node.must:
                if getattr(node, "filter", []) and should_sum == 0.0:
                    # filter-only bool (or all shoulds absent with
                    # msm=0): real matches exist at score 0.0 — a 0.0
                    # return would read as an absence PROOF and drop
                    # units that do match; unboundable instead
                    return None
                return should_sum  # 0.0 when every should is absent
            return total + should_sum  # must_not only shrinks the match set
        if isinstance(node, A.RangeQ):
            return self._range_bound(node, sid)  # zone-map absence proof
        if isinstance(node, A.IdsQ):
            # exact absence proof from the manifest alone: a unit
            # holding none of the requested ids cannot match.  ``sid``
            # is either a segment_id or a (segment_id, block) pair
            # (block-granular WAND, _prune_units) — blocks span local
            # docids [b*block_docs, (b+1)*block_docs), so the proof
            # stays exact at block granularity too.

            rows = self._ids_rows_memo(node.values)
            seg, blk = sid if isinstance(sid, tuple) else (sid, None)
            if blk is None:
                return 1.0 if any(s == seg for s, _ in rows) else 0.0
            bd = (self._seg_by_id.get(seg) or {}).get("block_docs")
            if not bd:
                return 1.0 if any(s == seg for s, _ in rows) else 0.0
            return 1.0 if any(s == seg and d // bd == blk
                              for s, d in rows) else 0.0
        if isinstance(node, (A.AllQ, A.FuzzyQ, A.RegexQ, A.PrefixQ,
                             A.ExistsQ)):
            return 1.0  # constant-score; cheap absence proof unavailable
        if isinstance(node, A.TermSetQ):
            # constant-score, but the per-term stats give a real absence
            # proof: no member term in the segment → no match
            if all(mtf.get((sid, node.field, t), 0) == 0
                   for t in node.terms):
                return 0.0
            return 1.0
        if isinstance(node, A.PhrasePrefixQ):
            # any exact term absent → no match (the prefix slot can't
            # rescue a missing chain term); prefix expansion itself has
            # no per-segment stats, so presence caps at the constant
            if any(mtf.get((sid, node.field, t), 0) == 0
                   for t in node.terms):
                return 0.0
            return 1.0
        if isinstance(node, A.DisMaxQ):
            best, total = 0.0, 0.0
            for c in node.queries:
                b = self._node_bound(c, sid, idfs, mtf)
                if b is None:
                    return None
                best = max(best, b)
                total += b
            if best == 0.0:
                return 0.0  # every clause provably absent
            return best + float(node.tie_breaker) * (total - best)
        if isinstance(node, A.BoostQ):
            if node.boost <= 0:
                # boost=0 zeroes the SCORE, not the match set: a bound of
                # 0.0 would read as an absence proof and drop segments
                # that do contain matches (count() / low-k correctness)
                return None
            b = self._node_bound(node.child, sid, idfs, mtf)
            return None if b is None else b * node.boost
        if isinstance(node, A.ConstScoreQ):
            # score is exactly ``boost`` for every match, so the child's
            # bound matters only as an ABSENCE proof (child bound 0.0 →
            # no matches here).  Same boost<=0 trap as BoostQ: a 0.0
            # return must mean "provably no match", never "score is 0".
            b = self._node_bound(node.child, sid, idfs, mtf)
            if b == 0.0:
                return 0.0
            return float(node.boost) if node.boost > 0 else None
        if isinstance(node, (A.FunctionScoreQ, A.ScriptScoreQ)):
            # match set = the child's, so a child 0.0 is still an
            # absence PROOF; the transformed score itself is unboundable
            # (field_value_factor / an arbitrary script has no a-priori
            # ceiling) → None keeps the exact plan, never a wrong prune
            b = self._node_bound(node.child, sid, idfs, mtf)
            if b == 0.0:
                return 0.0
            return None
        if isinstance(node, A.BoostingQ):
            # negative_boost <= 1 only ever shrinks scores, so the
            # positive child's bound (and its absence proof) carries
            return self._node_bound(node.positive, sid, idfs, mtf)
        return None

    def _term_cover(self, node: A.Node) -> bool:
        """True when every possible match of ``node`` must contain at
        least one collected (field, term) pair — the applicability
        condition for block-granular pruning: only then is the union of
        blocks where a query term appears guaranteed to contain every
        candidate doc.  Range/All/Fuzzy/Regex clauses can match docs
        holding none of the collected terms, so they break cover unless
        a covered must-clause constrains the match set."""
        if isinstance(node, (A.TermQ, A.PhraseQ, A.TermSetQ)):
            return True
        if isinstance(node, A.CombinedFieldsQ):
            # a match holds >= 1 query term in >= 1 queried field, and
            # collect_terms emits the full (field x term) cross
            return bool(node.terms)
        if isinstance(node, A.PhrasePrefixQ):
            # every match holds all the exact chain terms; the prefix
            # slot adds matches only WITH them, so cover holds whenever
            # the chain is non-empty
            return bool(node.terms)
        if isinstance(node, A.DisMaxQ):
            # a match satisfies >= 1 clause: covered iff EVERY clause is
            return all(self._term_cover(c) for c in node.queries)
        if isinstance(node, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ,
                             A.ScriptScoreQ)):
            return self._term_cover(node.child)
        if isinstance(node, A.BoostingQ):
            return self._term_cover(node.positive)  # match set = positive's
        if isinstance(node, A.BoolQ):
            if any(self._term_cover(c)
                   for c in node.must + getattr(node, "filter", [])):
                return True
            # shoulds cover only when every match must contain one:
            # required iff there is no must/filter clause (Lucene rule)
            # — minimum_should_match >= 1 also forces one
            required = (not node.must and not getattr(node, "filter", [])) \
                or int(getattr(node, "min_should", 0) or 0) >= 1
            return bool(node.should) and required and \
                all(self._term_cover(c) for c in node.should)
        return False

    def _prune_units(self, node: A.Node, live: list[str],
                     bounds: dict[str, float], idfs: dict):
        """(units, blocks_total, blocks_zero) — the pruning units of a
        scored query at the FINEST boundable granularity.  A unit is
        ``(sid, blk, lo, hi, bound)``: one docid block (blk =
        docid // block_docs, per-block max-tf from the termdict, bounded
        by the same _node_bound math) when the segment carries block
        metadata AND the query is term-covered; else the whole segment
        (blk/lo/hi = None, segment bound).  Zero-bound blocks are
        absence PROOFS (a required term never appears in the block) and
        are dropped here, counted in ``blocks_zero``.  Units are emitted
        in (segment, block) order so downstream stable sorts reproduce
        the segment-granular behavior exactly when every segment is a
        single block.  Mirrors tantivy's per-posting-block max-tf skips
        (reference: searcher.search behind
        /root/reference/src-rust/index.rs:260) at the docid-range
        granularity parquet row-group stats can actually prune."""
        by_id = self._seg_by_id
        cover = self._term_cover(node)
        pairs = collect_terms(node)
        bmtf = self.seg_block_mtfs(pairs) if cover else {}
        smtf = self.seg_max_tfs(pairs) if pairs else {}
        units: list[tuple] = []
        btotal = bzero = 0
        for sid in live:
            bd = by_id[sid].get("block_docs")
            seg_maps = {p: bmtf.get(p, {}).get(sid) for p in pairs} \
                if cover else {}
            if not cover or not bd or \
                    all(m is None for m in seg_maps.values()):
                # unit element 5 is the LIVE-TERM SIGNATURE: the set of
                # query (field, term) pairs present in the unit.  The
                # probe gate compares bounds only within one signature
                # class (see top_k_pruned) — a bound gap between units
                # holding different term SETS is compositional, not a
                # tf burst, and θ almost never clears it.
                sig = frozenset(
                    p for p in pairs if smtf.get(p, {}).get(sid, 0) > 0)
                units.append((sid, None, None, None, bounds[sid], sig))
                continue
            blks = sorted({b for m in seg_maps.values() if m for b in m})
            bunits = []
            unboundable = False
            for b in blks:
                mtf_b = {((sid, b), f, t):
                         (seg_maps.get((f, t)) or {}).get(b, 0)
                         for (f, t) in pairs}
                bound = self._node_bound(node, (sid, b), idfs, mtf_b)
                if bound is None:
                    unboundable = True
                    break
                if bound <= 0.0:
                    continue  # absence proof: a must-term misses the block
                sig = frozenset(
                    p for p in pairs if mtf_b.get(((sid, b),) + p, 0) > 0)
                bunits.append((sid, b, b * bd, (b + 1) * bd - 1, bound, sig))
            if unboundable:
                sig = frozenset(
                    p for p in pairs if smtf.get(p, {}).get(sid, 0) > 0)
                units.append((sid, None, None, None, bounds[sid], sig))
                continue
            btotal += len(blks)
            bzero += len(blks) - len(bunits)
            units.extend(bunits)
        return units, btotal, bzero

    @staticmethod
    def _units_pred(units: list[tuple], complement: dict | None = None,
                    max_ranges: int = 64):
        """(predicate | None, partial) — OR of per-segment membership /
        docid-range disjuncts selecting exactly the given units.  Block
        units of one segment merge into sorted docid ranges; when a
        segment needs more than ``max_ranges`` disjuncts the predicate
        degrades to ``segment AND NOT <complement's ranges>`` (the
        complement = the ranges this scan must EXCLUDE, i.e. the probe's
        units — over-scanning sub-θ blocks is correct, double-scanning
        probed docids would duplicate rows), keeping the Catalyst
        expression tree bounded no matter how many blocks a 100×-scale
        segment holds.  ``partial`` is False when every unit is a whole
        segment (predicate adds nothing over segment restriction)."""
        by_seg: dict[str, list] = {}
        for u in units:
            by_seg.setdefault(u[0], []).append(u)
        parts = []
        partial = False
        for sid, us in by_seg.items():
            if any(u[1] is None for u in us):
                parts.append(F.col("segment_id") == F.lit(sid))
                continue
            partial = True
            ranges: list[list[int]] = []
            for _, _, lo, hi, *_ in sorted(us, key=lambda u: u[2]):
                if ranges and ranges[-1][1] + 1 == lo:
                    ranges[-1][1] = hi
                else:
                    ranges.append([lo, hi])
            seg_eq = F.col("segment_id") == F.lit(sid)
            comp = (complement or {}).get(sid)
            if len(ranges) > max_ranges:
                if comp is not None:
                    # NOT <probed ranges>: over-scans sub-θ blocks
                    # (harmless — their docs provably miss the cutoff)
                    # but still excludes probed docids exactly
                    npred = None
                    for lo, hi in comp:
                        r = (F.col("docid") >= F.lit(lo)) & \
                            (F.col("docid") <= F.lit(hi))
                        npred = r if npred is None else (npred | r)
                    parts.append(seg_eq & ~npred)
                else:
                    # nothing probed in this segment: widen to the hull
                    # (pure over-scan of dropped blocks, still exact)
                    lo, hi = ranges[0][0], ranges[-1][1]
                    parts.append(seg_eq & (F.col("docid") >= F.lit(lo))
                                 & (F.col("docid") <= F.lit(hi)))
                continue
            rpred = None
            for lo, hi in ranges:
                r = (F.col("docid") >= F.lit(lo)) & \
                    (F.col("docid") <= F.lit(hi))
                rpred = r if rpred is None else (rpred | r)
            parts.append(seg_eq & rpred)
        if not parts:
            return None, partial
        pred = parts[0]
        for p in parts[1:]:
            pred = pred | p
        return pred, partial

    def top_k_pruned(self, node: A.Node, limit: int = 10,
                     after: tuple | None = None) -> DataFrame:
        """Block-max-WAND-style top-k — the DEFAULT scored-query path.

        1. Bound every segment's best possible score (term/phrase/bool
           shapes; constant-score clauses bound at 1.0).  Zero-bound
           segments are provably empty and drop immediately.
        2. Probe: run the FULL query on the best-bounded ~quarter of the
           remaining segments; its k-th score θ is a valid lower bound of
           the global k-th score (a subset's top-k is dominated by the
           global top-k under the same (score desc, docid asc) order).
        3. Skip every other segment whose bound < θ; score the survivors;
           merge probe rows (collected, ≤ k) with the survivor top-k and
           re-sort.  Results are identical to the unpruned plan — parity
           is asserted in tests; the win is that hot-term queries never
           scan segments that cannot reach the cutoff.

        ``after`` (ES search_after cursor) composes with pruning
        soundly: every unit bound is an upper bound on UNFILTERED
        scores, hence on the filtered subset's too, and θ comes from
        the probe's own cursor-filtered top-k — so "bound < θ" still
        proves an unprobed unit holds no page member.  Absence proofs
        (bound 0.0) are filter-independent.

        Pruning is UNIT-granular: a unit is one docid BLOCK when the
        segment carries block-max metadata and the query is term-covered
        (within-segment pruning — the granularity that still
        discriminates when compaction leaves few huge segments), else
        the whole segment.  When every segment is a single block the
        behavior is bit-identical to segment-granular pruning.

        ``self.last_prune`` records {segments_total, segments_skipped,
        theta, blocks_total, blocks_skipped} for benchmarking.  Falls
        back to the exact plan for unboundable shapes.
        """
        import math as _math

        stats = {"segments_total": len(self.segments),
                 "segments_skipped": 0, "theta": 0.0,
                 "blocks_total": 0, "blocks_skipped": 0}
        self.last_prune = stats
        if not self.segments:
            return self.top_k(node, limit=limit, after=after)
        bounds = self._segment_bounds(node)
        if bounds is None:
            return self.top_k(node, limit=limit, after=after)
        live = [s["segment_id"] for s in self.segments
                if bounds[s["segment_id"]] > 0.0]
        if not live:
            stats["segments_skipped"] = len(self.segments)
            return self.with_global_docid(self._empty())
        pairs = collect_terms(node)
        idfs = {p: bm25.idf(d, self.num_docs)
                for p, d in self.term_dfs(pairs).items() if d > 0}
        units, btotal, bzero = self._prune_units(node, live, bounds, idfs)
        stats["blocks_total"], stats["blocks_skipped"] = btotal, bzero
        if not units:
            stats["segments_skipped"] = len(self.segments)
            return self.with_global_docid(self._empty())
        live_segs: list[str] = []
        seen: set[str] = set()
        for u in units:
            if u[0] not in seen:
                seen.add(u[0])
                live_segs.append(u[0])
        stats["segments_skipped"] = len(self.segments) - len(live_segs)
        # probe gating: the θ-probe costs a SECOND Spark job (probe +
        # survivors), so it must only fire when the bound distribution
        # shows real skip POTENTIAL.  A raw spread test is not enough:
        # block-granular max-tf bounds are noisy on uniform corpora
        # (small blocks → high max-tf variance), so multi-term queries
        # showed >5% spread, fired the probe, and skipped ~nothing —
        # paying 2x latency for zero benefit (measured: q3_or 1.33s
        # plain vs 2.90s probed, 5/80 blocks skipped).  The separating
        # signal is BIMODALITY, not spread: BM25 saturation compresses
        # all bounds toward idf·(k1+1) (max-tf 1 already bounds at
        # ~0.77 of max-tf 6), so uniform noise forms one tight cluster
        # with tiny adjacent gaps, while a genuine hot band splits the
        # sorted bounds with one large gap.  Probe only when the
        # largest adjacent gap is ≥10% of the max bound AND at least a
        # quarter of the units sit below it (θ must have enough mass
        # to rule out to repay the second job).  Absence-proof skips
        # (zero-bound segments AND blocks) already applied above and
        # stay unconditional.
        ub = sorted((u[4] for u in units), reverse=True)
        u_max = ub[0]
        gap, gap_idx = 0.0, 0
        for i in range(1, len(ub)):
            g = ub[i - 1] - ub[i]
            if g > gap:
                gap, gap_idx = g, i
        below_gap = len(ub) - gap_idx if gap_idx else 0

        # signature refinement (round 5): the gap must exist WITHIN one
        # live-term-signature class, not merely BETWEEN classes.  A
        # cross-class gap is compositional — e.g. bool-should with a
        # rare third term under minimum_should_match splits the bounds
        # into {all 3 terms live} vs {2 live} clusters 40% apart, but θ
        # (a real k-th score, where tf≈1 and dl≈avgdl) sits BELOW the
        # 2-term cluster's saturation bound, so the probe paid a second
        # job to skip ~nothing (measured: q19_msm 2.89s probed vs 1.49s
        # plain, 2/77 blocks skipped).  A genuine burst varies max_tf
        # WITHIN one signature (q15_trend: same term everywhere, tf 8
        # vs 1), where real burst scores approach the bound and θ
        # clears the cold cluster.  Single-signature queries (term,
        # phrase, must-conjunctions after absence proofs) reduce to the
        # round-4 gate exactly.
        def _bimodal(vals: list) -> bool:
            if len(vals) < 2:
                return False
            vs = sorted(vals, reverse=True)
            g, gi = 0.0, 0
            for i in range(1, len(vs)):
                d = vs[i - 1] - vs[i]
                if d > g:
                    g, gi = d, i
            below = len(vs) - gi if gi else 0
            return g >= 0.1 * vs[0] and below >= max(2, len(vs) // 4)

        by_sig: dict = {}
        for u in units:
            by_sig.setdefault(u[5], []).append(u[4])
        sig_bimodal = any(_bimodal(v) for v in by_sig.values())
        if len(units) < 2 or gap < 0.1 * u_max \
                or below_gap < max(2, len(units) // 4) or not sig_bimodal:
            if stats["segments_skipped"] == 0 and bzero == 0:
                return self.top_k(node, limit=limit, after=after)
            sub = self._restricted(set(live_segs))
            # absence-proof block predicate: zero-bound blocks contain
            # no matches, so skipping them is an I/O optimization, not
            # a correctness need — only pay the OR-of-docid-ranges
            # predicate when the dead mass is worth it (a sparse 5/80
            # predicate measured SLOWER than scanning through the dead
            # blocks: q4_must 0.81s vs 0.50s)
            if bzero >= max(2, btotal // 4):
                pred, partial = self._units_pred(units)
                if partial and pred is not None:
                    sub._block_pred = pred
            else:
                stats["blocks_skipped"] = 0
            return sub.top_k(node, limit=limit, after=after)
        order = sorted(units, key=lambda u: -u[4])
        n_probe = max(1, min(_math.ceil(len(order) / 4), 32))
        probe = order[:n_probe]
        probe_ranges: dict[str, list] = {}
        for sid, b, lo, hi, *_ in probe:
            if b is not None:
                probe_ranges.setdefault(sid, []).append([lo, hi])
        psub = self._restricted({u[0] for u in probe})
        ppred, ppartial = self._units_pred(probe)
        if ppartial and ppred is not None:
            psub._block_pred = ppred
        probe_df = psub.top_k(node, limit=limit, after=after)
        probe_rows = probe_df.collect()
        theta = min(r["score"] for r in probe_rows) \
            if len(probe_rows) >= limit else 0.0
        stats["theta"] = theta
        rest = order[n_probe:]
        survivors = [u for u in rest if u[4] >= theta]
        stats["blocks_skipped"] = bzero + sum(
            1 for u in rest if u[1] is not None and u[4] < theta)
        scanned = {u[0] for u in probe} | {u[0] for u in survivors}
        stats["segments_skipped"] = len(self.segments) - len(scanned)
        if not survivors:
            # θ ruled out every unprobed unit: the collected probe rows
            # ARE the global top-k — sort driver-side, no extra job
            rows = sorted(probe_rows,
                          key=lambda r: (-r["score"], r["docid_g"]))[:limit]
            return (self.spark.createDataFrame(rows, probe_df.schema)
                    if rows else probe_df)
        out = (self.spark.createDataFrame(probe_rows, probe_df.schema)
               if probe_rows else None)
        ssub = self._restricted({u[0] for u in survivors})
        spred, spartial = self._units_pred(survivors, complement=probe_ranges)
        # the predicate is MANDATORY whenever a probed segment also has
        # surviving block units — rescanning probed docids would emit
        # duplicate rows into the union
        if spartial and spred is not None:
            ssub._block_pred = spred
        surv_df = ssub.top_k(node, limit=limit, after=after)
        out = surv_df if out is None else out.unionByName(surv_df)
        return out.orderBy(F.desc("score"), F.asc("docid_g")).limit(limit)

    def _sort_bound(self, sort_by: str, sid: str) -> float | None:
        """Zone-map upper bound of ``sort_by`` in a segment, in the SAME
        double domain as the sorted collector's score (epoch seconds for
        date fields).  The ISO zone-map string is interpreted in the
        SPARK SESSION timezone — naive ``.timestamp()`` would use the OS
        zone and shift the bound by the offset whenever the two differ
        (e.g. session UTC on a non-UTC host), pruning segments that hold
        true top-k rows.  None = no stats / no resolvable tz → unprunable."""
        meta = self._seg_by_id.get(sid)
        st = meta["field_stats"].get(sort_by) if meta else None
        if not st or "max" not in st:
            return None
        fdef = self.schema.field(sort_by)
        if fdef is not None and fdef.type == "date":
            # preferred: the tz-independent epoch bound written at build
            # (exactly the cast-to-double domain the collector scores in)
            if "max_epoch" in st:
                try:
                    return float(st["max_epoch"])
                except (TypeError, ValueError):
                    return None
            # older manifests: the ISO string was rendered by PySpark's
            # collect() in the BUILD DRIVER'S OS zone (TimestampType.
            # fromInternal uses datetime.fromtimestamp — NOT the session
            # timezone), so naive .timestamp() (this OS's zone) recovers
            # the true epoch exactly when build and query drivers share
            # an OS zone — the only case a legacy manifest can support;
            # new builds always carry the epoch bounds above
            from datetime import datetime

            try:
                return datetime.fromisoformat(
                    str(st["max"]).replace("T", " ")).timestamp()
            except ValueError:
                return None
        v = st["max"]
        try:
            return float(v)
        except (TypeError, ValueError):
            return None

    def top_k_sorted_pruned(self, node: A.Node, limit: int = 10,
                            sort_by: str | None = None) -> DataFrame:
        """Segment pruning for the SORTED collector: BM25 bounds are
        invalid under sort-by-field ordering, but the zone maps give the
        max possible sort value per segment.  Probe the best-bounded
        quarter; its k-th sort value θ lower-bounds the global k-th, so
        segments whose max < θ cannot contribute — at scale a ts-desc
        'latest matching turns' query touches only the newest segments.
        Results are bit-identical to the unpruned sorted plan (pytest).
        ``self.last_prune`` records the skip stats, like top_k_pruned."""
        stats = {"segments_total": len(self.segments),
                 "segments_skipped": 0, "theta": 0.0}
        self.last_prune = stats
        fdef = self.schema.field(sort_by) if sort_by else None
        sorted_path = fdef is not None and fdef.fast and fdef.stored
        if not sorted_path or len(self.segments) < 2:
            return self.top_k(node, limit=limit, sort_by=sort_by)
        bounds: dict[str, float] = {}
        for s in self.segments:
            b = self._sort_bound(sort_by, s["segment_id"])
            if b is None:  # a segment without stats defeats the bound
                return self.top_k(node, limit=limit, sort_by=sort_by)
            bounds[s["segment_id"]] = b
        import math as _math

        order = sorted(bounds, key=lambda sid: -bounds[sid])
        n_probe = max(1, _math.ceil(len(order) / 4))
        probe = order[:n_probe]
        probe_df = self._restricted(set(probe)).top_k(
            node, limit=limit, sort_by=sort_by)
        probe_rows = probe_df.collect()
        if len(probe_rows) >= limit:
            theta = min(r["score"] for r in probe_rows)
            stats["theta"] = theta
            survivors = [sid for sid in order[n_probe:]
                         if bounds[sid] >= theta]
        else:  # probe under-filled: no valid cutoff, scan the rest
            survivors = list(order[n_probe:])
        stats["segments_skipped"] = \
            len(self.segments) - n_probe - len(survivors)
        if not survivors:
            # every unprobed segment is ruled out: the collected probe
            # rows ARE the global top-k — sort driver-side, no extra job
            rows = sorted(probe_rows,
                          key=lambda r: (-r["score"], r["docid_g"]))[:limit]
            return (self.spark.createDataFrame(rows, probe_df.schema)
                    if rows else probe_df)
        out = (self.spark.createDataFrame(probe_rows, probe_df.schema)
               if probe_rows else None)
        surv_df = self._restricted(set(survivors)).top_k(
            node, limit=limit, sort_by=sort_by)
        out = surv_df if out is None else out.unionByName(surv_df)
        return out.orderBy(F.desc("score"), F.asc("docid_g")).limit(limit)

    def facet_counts(self, node: A.Node, facet_field: str,
                     roots: list[str] | None = None,
                     cands: DataFrame | None = None) -> DataFrame:
        """Facet counts for the matching docs.

        With ``roots`` (the requested facet values, search.rs:34-37 →
        ``col.add_facet(&term)``): hierarchical semantics — facet values
        are ``/a/b`` paths, and the result counts the IMMEDIATE children
        of ``roots[0]`` (the reference returns only the first requested
        root's counts, search.rs:89-98).  A doc counts toward child
        ``/a/b`` when its facet value is ``/a/b`` or any deeper
        descendant.  Without roots: flat value counts (legacy shape).
        """
        if cands is None:
            cands = self.candidates(node)
        docs = self._table("docs").select("segment_id", "docid", facet_field)
        matched = cands.join(docs, on=["segment_id", "docid"])
        if not roots:
            return matched.groupBy(facet_field).agg(F.count("*").alias("count"))
        root = roots[0].rstrip("/")
        depth = len(root.split("/"))  # '/en' → 2: next component index
        col = F.col(facet_field)
        child = F.concat(F.lit(root + "/"),
                         F.element_at(F.split(col, "/"), depth + 1))
        return (
            matched.filter(col.startswith(root + "/"))
            .groupBy(child.alias("facet")).agg(F.count("*").alias("count"))
        )

    _CALENDAR_INTERVALS = ("minute", "hour", "day", "week", "month",
                           "quarter", "year")

    def aggregations(self, node: A.Node, aggs: dict,
                     cands: DataFrame | None = None) -> dict:
        """ES-style search aggregations over the FULL match set of
        ``node`` (BEYOND-REFERENCE — toshi exposes only the facet
        collector, search.rs:32-42; these are the next collectors an ES
        user reaches for).  ``aggs`` is the ES request shape::

            {name: {"terms":          {"field": f, "size": 10}},
             name: {"histogram":      {"field": f, "interval": 50}},
             name: {"date_histogram": {"field": f, "calendar_interval": "day"}},
             name: {"stats":          {"field": f}},
             name: {"percentiles":    {"field": f, "percents": [..],
                                       "approx": False}},
             name: {"cardinality":    {"field": f, "exact": False}},
             name: {"avg"|"sum"|"min"|"max"|"value_count": {"field": f}},
             name: {"missing":        {"field": f}},
             name: {"filters":        {"filters": {fname: {..query..}}}},
             name: {"rare_terms":     {"field": f, "max_doc_count": 1}},
             name: {"multi_terms":    {"terms": [{"field": f}, ..]}},
             name: {"adjacency_matrix": {"filters": {fname: {..}}}},
             name: {"weighted_avg":   {"value": {"field": v},
                                       "weight": {"field": w}}},
             name: {"median_absolute_deviation": {"field": f}},
             name: {"boxplot":        {"field": f}},
             name: {"string_stats":   {"field": f,
                                       "show_distribution": False}}}

        Bucket aggs (terms / histogram / date_histogram / composite /
        multi_terms, and the one-bucket global / sampler) take metric
        sub-aggs (avg/sum/min/max/value_count/stats/cardinality) via an
        in-body or ES-sibling ``"aggs"`` block — computed as extra
        expressions in the bucket's own groupBy (one hash aggregation,
        zero additional passes); a terms agg additionally takes ONE
        ``top_hits`` sub-agg (per-bucket document fetch).

        Execution shape (the part that must survive 100×): ONE equi-join
        of the candidate set to the doc store on (segment_id, docid) —
        a hash join on the index's physical key, never a collect — then
        one hash aggregation per requested agg, each with map-side
        partial aggregation.  The joined frame is persisted across aggs
        so the postings scan and join run once, mirroring the
        reference's single-pass MultiCollector.  Aggregations see ALL
        matches, so segment pruning is invalid here (same rule as
        facets); callers pass the unpruned candidate set.

        ``percentiles`` defaults to EXACT interpolated percentiles
        (deterministic, oracle-matchable); pass ``"approx": true`` for
        the sketch path (percentile_approx — the 100 TB default, one
        pass, bounded memory).  ``cardinality`` defaults to the HLL
        sketch (approx_count_distinct, the ES semantics and the shape
        that scales); ``"exact": true`` switches to an exact distinct
        count."""
        # accept the ES sibling shape {kind: {...}, "aggs": {...}} by
        # folding the sub-agg block into the kind body (the in-body
        # form {"terms": {..., "aggs": {...}}} stays supported)
        norm: dict = {}
        for name, spec in aggs.items():
            if isinstance(spec, dict) and len(spec) == 2 and "aggs" in spec:
                (kind, body), = ((k, v) for k, v in spec.items()
                                 if k != "aggs")
                if not isinstance(body, dict):
                    raise A.QueryError(f"agg {name!r}: expected a dict body")
                body = dict(body)
                body["aggs"] = spec["aggs"]
                norm[name] = {kind: body}
            else:
                norm[name] = spec
        fields: set[str] = set()
        runnable: list[tuple[str, Any]] = []
        siblings: list[tuple[str, Any]] = []
        for name, spec in norm.items():
            if not isinstance(spec, dict) or len(spec) != 1:
                raise A.QueryError(f"agg {name!r}: expected one agg kind")
            (kind, body), = spec.items()
            family = self._AGG_FAMILIES.get(kind)
            if family is None:
                raise A.QueryError(f"agg {name!r}: unknown kind {kind!r}")
            if isinstance(body, dict) and "aggs" in body \
                    and kind not in self._SUB_AGG_KINDS:
                raise A.QueryError(
                    f"agg {name!r}: {kind} takes no sub-aggs; they are "
                    f"only supported under bucket aggs "
                    f"({'/'.join(self._SUB_AGG_KINDS)})")
            need, run = family(self, name, kind, body or {}, norm)
            fields.update(need)
            # sibling pipeline aggs run over the other aggs' REDUCED
            # buckets — deferred until every parent has its output
            (siblings if kind in self._SIBLING_KINDS
             else runnable).append((name, run))
        if cands is None:
            cands = self.candidates(node)
        keys = cands.select("segment_id", "docid")
        if fields:
            docs = self._table("docs").select(
                "segment_id", "docid", *sorted(fields))
            # when the match set is provably small (df-bounded under the
            # broadcast byte cap), broadcast the key side so the (big)
            # doc store is probed in place instead of shuffled — the
            # same gate as every other key-set join in this module
            if _broadcastable(self._cand_size_bound(node)):
                keys = F.broadcast(keys)
            matched = keys.join(docs, on=["segment_id", "docid"]).persist()
        else:  # no agg reads a stored field: no doc-store join at all
            matched = keys.persist()
        try:
            # independent aggs are submitted concurrently (guide §2.6) —
            # each is its own small Spark job over the shared persisted
            # ``matched`` frame, so overlapping them fills the cluster
            # instead of serializing one job barrier per agg
            results = run_all(
                [partial(run, matched, cands) for _, run in runnable], 4)
            out = {name: r for (name, _), r in zip(runnable, results)}
            for name, reduce in siblings:
                out[name] = reduce(out)
            return out
        finally:
            matched.unpersist()

    # ----------------------------------------------------- agg families
    # One family per agg kind (or group of kinds), looked up in
    # _AGG_FAMILIES.  ``family(self, name, kind, body, aggs)`` raises
    # QueryError on a bad body and returns ``(fields, run)``: the stored
    # fields joined into ``matched`` and ``run(matched, cands) -> dict``,
    # which closes over what validation parsed.  Sibling pipeline
    # families return ``reduce(out) -> dict`` instead.

    _NUMERIC = ("i64", "u64", "f64")

    def _agg_field(self, name: str, f, types: tuple = (), need: str = "",
                   where: str = ""):
        """The check every agg runs on a field it reads from the doc
        store: ``f`` is a stored field and, given ``types``, of one of
        them (ES typing rules — fail at parse time instead of as an
        executor-side ANSI cast error).  ``need`` names what needs the
        type; ``where`` prefixes the sub-agg or source the field is in."""
        fdef = self.schema.field(f) if f else None
        if fdef is None or not fdef.stored:
            raise A.QueryError(
                f"agg {name!r}: {where}field {f!r} is not a stored field")
        if types and fdef.type not in types:
            what = "numeric" if types == self._NUMERIC else types[0]
            raise A.QueryError(
                f"agg {name!r}: {where}{need} needs a {what} field, "
                f"{f!r} is {fdef.type}")
        return fdef

    def _field_of(self, name: str, kind: str, body: dict,
                  types: tuple = ()) -> str:
        """``body["field"]`` of a single-field agg, checked by
        _agg_field."""
        f = body.get("field")
        if not f:
            raise A.QueryError(f"agg {name!r}: missing field")
        self._agg_field(name, f, types, kind)
        return f

    def _bucket_rows(self, frame: DataFrame, keys: list,
                     metrics: list[tuple[str, str, str]]) -> DataFrame:
        """The one hash aggregation of a bucket agg: docs missing any
        key field fall out (ES rule — no null bucket), then ONE groupBy
        on the ``keys`` columns ([(field, key column)]) carrying the
        count and the metric sub-aggs."""
        for f, _ in keys:
            frame = frame.filter(F.col(f).isNotNull())
        return frame.groupBy(*[k for _, k in keys]).agg(
            F.count("*").alias("doc_count"), *self._metric_exprs(metrics))

    def _one_bucket(self, frame: DataFrame,
                    metrics: list[tuple[str, str, str]]) -> dict:
        """A one-bucket agg (global, sampler) over its own key frame:
        the metric sub-aggs' fields join in, then count + metrics in ONE
        aggregation."""
        mfields = sorted({f for _, _, f in metrics})
        if mfields:
            docs = self._table("docs").select(
                "segment_id", "docid", *mfields)
            frame = frame.join(docs, on=["segment_id", "docid"])
        row = frame.agg(F.count("*").alias("doc_count"),
                        *self._metric_exprs(metrics)).collect()[0]
        return {"doc_count": int(row["doc_count"]),
                **self._shape_metrics(metrics, row)}

    def _filter_keys(self, name: str, kind: str, body: dict) -> dict:
        """The named filter queries of a filters / adjacency_matrix
        body, parsed here so a bad one fails before any Spark work; at
        run time each one's candidate keys meet the match keys in a
        left-semi join."""
        flt = body.get("filters")
        if not isinstance(flt, dict) or not flt:
            raise A.QueryError(
                f"agg {name!r}: {kind} needs a dict of named filter "
                f"queries")
        return {fname: A.parse_json(q, self.schema)
                for fname, q in flt.items()}

    def _numeric_parts(self, name: str, kind: str, body: dict,
                       parts: tuple[str, str]) -> list[str]:
        """``body[part]["field"]`` for each of the two parts of a
        two-field numeric agg (weighted_avg, t_test)."""
        out = []
        for part in parts:
            pf = (body.get(part) or {}).get("field")
            if not pf:
                raise A.QueryError(
                    f"agg {name!r}: {kind} needs {parts[0]}.field and "
                    f"{parts[1]}.field")
            self._agg_field(name, pf, self._NUMERIC, kind)
            out.append(pf)
        return out

    def _agg_terms(self, name, kind, body, aggs):
        f = self._field_of(name, kind, body)
        metrics, th, pipes = self._check_sub_aggs(
            name, body, top_hits_ok=True, pipes_ok=True)
        size = int(body.get("size", 10))
        # ES order knob: _count (default) / _key / a single-value metric
        # sub-agg's name; all resolve to a column of the SAME one hash
        # aggregation, so ordering by a metric costs nothing extra — the
        # ordered limit stays TakeOrderedAndProject
        order = body.get("order") or {"_count": "desc"}
        if not isinstance(order, dict) or len(order) != 1:
            raise A.QueryError(f"agg {name!r}: order is {{path: asc|desc}}")
        (okey, odir), = order.items()
        desc = str(odir).lower() == "desc"
        if okey == "_count":
            ocols = [F.desc("doc_count") if desc else F.asc("doc_count"),
                     F.asc("key")]
        elif okey == "_key":
            ocols = [F.desc("key") if desc else F.asc("key")]
        else:
            mi = next((i for i, (sn, mk, _) in enumerate(metrics)
                       if sn == okey and mk not in ("stats",)), None)
            if mi is None:
                raise A.QueryError(
                    f"agg {name!r}: order key {okey!r} is not _count/_key/"
                    f"a single-value metric sub-agg")
            oc = F.col(f"__s{mi}_value")
            ocols = [oc.desc_nulls_last() if desc else oc.asc_nulls_last(),
                     F.asc("key")]
        mdc = int(body.get("min_doc_count", 1))

        def run(matched, cands):
            grouped = self._bucket_rows(
                matched, [(f, F.col(f).alias("key"))], metrics)
            if mdc > 1:
                grouped = grouped.filter(F.col("doc_count") >= mdc)
            rows = grouped.orderBy(*ocols).limit(size).collect()
            buckets = [{"key": r["key"], "doc_count": r["doc_count"],
                        **self._shape_metrics(metrics, r)} for r in rows]
            buckets = self._apply_pipes(name, buckets, pipes)
            if th and buckets:
                th_name, th_size = th
                per_key = self._bucket_top_hits(
                    cands, f, [b["key"] for b in buckets], th_size)
                for b in buckets:
                    b[th_name] = {"hits": per_key.get(b["key"], [])}
            return {"buckets": buckets}
        return [f, *(sf for _, _, sf in metrics)], run

    def _agg_histogram(self, name, kind, body, aggs):
        f = self._field_of(name, kind, body, self._NUMERIC)
        metrics, _, pipes = self._check_sub_aggs(name, body, pipes_ok=True)
        interval = float(body["interval"])
        if interval <= 0:
            raise A.QueryError(f"agg {name!r}: interval must be > 0")
        key = (F.floor(F.col(f).cast("double") / interval)
               * interval).alias("key")
        mdc = int(body.get("min_doc_count", 1))

        def run(matched, cands):
            grouped = self._bucket_rows(matched, [(f, key)], metrics)
            if mdc > 1:
                grouped = grouped.filter(F.col("doc_count") >= mdc)
            rows = grouped.orderBy("key").collect()
            buckets = [{"key": float(r["key"]), "doc_count": r["doc_count"],
                        **self._shape_metrics(metrics, r)} for r in rows]
            if mdc == 0 and len(buckets) > 1:
                # ES min_doc_count=0: fill interior gaps with empty
                # buckets (doc_count 0, metrics null) — a driver-side
                # pass over the REDUCED bucket list; this is what makes
                # derivative / moving_fn see evenly spaced buckets
                filled, expect = [], buckets[0]["key"]
                nulls = defaultdict(lambda: None)
                for b in buckets:
                    while b["key"] - expect > interval / 2:
                        filled.append({"key": expect, "doc_count": 0,
                                       **self._shape_metrics(metrics, nulls)})
                        expect += interval
                    filled.append(b)
                    expect = b["key"] + interval
                buckets = filled
            return {"buckets": self._apply_pipes(name, buckets, pipes)}
        return [f, *(sf for _, _, sf in metrics)], run

    def _agg_date_histogram(self, name, kind, body, aggs):
        # date_histogram: ONE hash aggregation on date_trunc(unit).
        # ES auto_date_histogram: pick the smallest calendar interval
        # keeping bucket count <= ``buckets``.  ONE min/max aggregation
        # sizes the span driver-side against a pinned seconds-per-unit
        # ladder (month=30d, year=365d — an estimate is fine: it only
        # picks the unit; the buckets themselves come from exact
        # date_trunc), then the same one-hash-agg plan on the chosen unit.
        auto = kind == "auto_date_histogram"
        f = self._field_of(name, kind, body, ("date",))
        metrics, _, pipes = self._check_sub_aggs(name, body, pipes_ok=True)
        unit = str(body.get("calendar_interval", "day")).lower()
        if auto:
            target = int(body.get("buckets", 10))
            if target < 1:
                raise A.QueryError(f"agg {name!r}: buckets must be >= 1")
        elif unit not in self._CALENDAR_INTERVALS:
            raise A.QueryError(f"agg {name!r}: unsupported calendar_interval")

        def run(matched, cands):
            u, col = unit, F.col(f)
            if auto:
                span_r = matched.filter(col.isNotNull()).agg(
                    F.min(col).alias("lo"), F.max(col).alias("hi")
                ).collect()[0]
                ladder = [("second", 1), ("minute", 60), ("hour", 3600),
                          ("day", 86400), ("month", 2592000),
                          ("year", 31536000)]
                u = "year"
                if span_r["lo"] is not None:
                    span = (span_r["hi"] - span_r["lo"]).total_seconds()
                    u = next((lu for lu, secs in ladder
                              if span / secs + 1 <= target), u)
            rows = (self._bucket_rows(
                matched, [(f, F.date_trunc(u, col).alias("key"))], metrics)
                .orderBy("key").collect())
            buckets = [{"key_as_string": r["key"].isoformat(),
                        "doc_count": r["doc_count"],
                        **self._shape_metrics(metrics, r)} for r in rows]
            if auto:
                return {"interval": u, "buckets": buckets}
            return {"buckets": self._apply_pipes(name, buckets, pipes)}
        return [f, *(sf for _, _, sf in metrics)], run

    def _agg_rare_terms(self, name, kind, body, aggs):
        # ES rare_terms: the LONG TAIL — buckets whose doc_count <=
        # max_doc_count, ordered count-asc then key-asc.  ES bounds
        # memory with a cuckoo filter; the engine's exact equivalent is
        # the one hash aggregation + a driver-bounded limit (max_buckets,
        # default 1000) so the driver never materialises an unbounded
        # tail at corpus scale.
        f = self._field_of(name, kind, body)
        mdc = int(body.get("max_doc_count", 1))
        cap = int(body.get("max_buckets", 1000))

        def run(matched, cands):
            rows = (self._bucket_rows(matched, [(f, F.col(f).alias("key"))],
                                      [])
                    .filter(F.col("doc_count") <= mdc)
                    .orderBy(F.asc("doc_count"), F.asc("key"))
                    .limit(cap).collect())
            return {"buckets": [{"key": r["key"],
                                 "doc_count": int(r["doc_count"])}
                                for r in rows]}
        return [f], run

    def _agg_composite(self, name, kind, body, aggs):
        # ES composite agg: deterministic multi-source key paging.  ONE
        # hash aggregation on the source tuple (map-side partials), then
        # the after-key predicate prunes BEFORE the ordered limit — page
        # N costs one agg + top-size under the key's total order, never
        # a depth-(N·size) re-rank, which is what pages a 100 TB match
        # set to exhaustion.
        sources = body.get("sources")
        if not isinstance(sources, list) or not sources:
            raise A.QueryError(
                f"agg {name!r}: composite needs a sources list")
        keys, snames = [], []
        for s in sources:
            if not isinstance(s, dict) or len(s) != 1:
                raise A.QueryError(
                    f"agg {name!r}: each composite source is "
                    f"{{name: {{'terms': {{'field': ..}}}}}}")
            (sname, sspec), = s.items()
            sf = (sspec or {}).get("terms", {}).get("field") \
                if isinstance(sspec, dict) else None
            if not sf:
                raise A.QueryError(
                    f"agg {name!r}: composite source {sname!r}: only "
                    f"terms sources are supported")
            self._agg_field(name, sf, where=f"composite source {sname!r}: ")
            keys.append((sf, F.col(sf).alias(sname)))
            snames.append(sname)
        metrics, _, pipes = self._check_sub_aggs(name, body, pipes_ok=True)
        size = int(body.get("size", 10))
        after = body.get("after")
        pred = None
        if after:  # ES: missing any source → out (_bucket_rows)
            if set(after) != set(snames):
                raise A.QueryError(
                    f"agg {name!r}: after key must name every source")
            eq = None
            for sn in snames:  # strict lexicographic >
                gt = F.col(sn) > F.lit(after[sn])
                step = gt if eq is None else eq & gt
                pred = step if pred is None else pred | step
                e = F.col(sn) == F.lit(after[sn])
                eq = e if eq is None else eq & e

        def run(matched, cands):
            g = self._bucket_rows(matched, keys, metrics)
            if pred is not None:
                g = g.filter(pred)
            rows = (g.orderBy(*[F.asc(sn) for sn in snames])
                    .limit(size).collect())
            buckets = [{"key": {sn: r[sn] for sn in snames},
                        "doc_count": int(r["doc_count"]),
                        **self._shape_metrics(metrics, r)} for r in rows]
            # the page cursor is the last composite bucket, whatever a
            # pipeline (bucket_selector / bucket_sort) keeps of the page
            res: dict = {}
            if len(buckets) == size:
                res["after_key"] = dict(buckets[-1]["key"])
            return {"buckets": self._apply_pipes(name, buckets, pipes),
                    **res}
        return [*(sf for sf, _ in keys), *(sf for _, _, sf in metrics)], run

    def _agg_multi_terms(self, name, kind, body, aggs):
        # ES multi_terms: buckets keyed by a TUPLE of field values — the
        # same ONE hash aggregation as terms (groupBy on the tuple),
        # metric sub-aggs riding it; a doc missing ANY key field falls
        # out (ES rule)
        tlist = body.get("terms")
        if not isinstance(tlist, list) or len(tlist) < 2:
            raise A.QueryError(
                f"agg {name!r}: multi_terms needs a list of >= 2 "
                f"{{'field': ..}} terms")
        keys = []
        for i, t in enumerate(tlist):
            tf = (t or {}).get("field") if isinstance(t, dict) else None
            if not tf:
                raise A.QueryError(
                    f"agg {name!r}: each multi_terms term is {{'field': ..}}")
            self._agg_field(name, tf)
            keys.append((tf, F.col(tf).alias(f"__k{i}")))
        metrics, _, pipes = self._check_sub_aggs(name, body, pipes_ok=True)
        size = int(body.get("size", 10))
        kn = [f"__k{i}" for i in range(len(keys))]

        def run(matched, cands):
            rows = (self._bucket_rows(matched, keys, metrics)
                    .orderBy(F.desc("doc_count"), *[F.asc(k) for k in kn])
                    .limit(size).collect())
            return {"buckets": self._apply_pipes(name, [
                {"key": [r[k] for k in kn],
                 "key_as_string": "|".join(str(r[k]) for k in kn),
                 "doc_count": int(r["doc_count"]),
                 **self._shape_metrics(metrics, r)} for r in rows], pipes)}
        return [*(tf for tf, _ in keys), *(sf for _, _, sf in metrics)], run

    def _agg_global(self, name, kind, body, aggs):
        # ES global agg: one bucket over the WHOLE index, ignoring the
        # query — only meaningful with sub-aggs.  It runs off its own
        # all-docs candidate keys (tombstone-filtered like every other
        # surface), not ``matched``
        metrics, _, _ = self._check_sub_aggs(name, body)
        return (), lambda matched, cands: self._one_bucket(
            self.candidates(A.AllQ()).select("segment_id", "docid"), metrics)

    def _agg_sampler(self, name, kind, body, aggs):
        # ES sampler agg: sub-aggs over the best-scoring shard_size docs
        # PER SHARD.  The engine's shard is the segment: ONE window over
        # the scored candidate set (rank by score desc, docid asc within
        # each segment — deterministic where ES is
        # shard-layout-dependent), then the doc-store join and one
        # aggregation over the sample only.  The window is
        # hash-partitioned by segment_id and top-k bounded, so no
        # executor ever sorts more than one segment's matches.
        # diversified_sampler: same plan with ONE extra window ranked
        # per (segment, dedup-field value) — keep max_docs_per_value best
        # per value BEFORE the shard_size cut (the ES de-duplication
        # order); the dedup field joins in ahead of the windows, null
        # values are exempt from the cap (the ES rule: docs missing the
        # field are not de-duplicated).
        ss = int(body.get("shard_size", 100))
        if ss <= 0:
            raise A.QueryError(f"agg {name!r}: sampler shard_size must be > 0")
        divf, mdv = None, 1
        if kind == "diversified_sampler":
            divf = body.get("field")
            self._agg_field(name, divf, where=f"{kind} dedup ")
            mdv = int(body.get("max_docs_per_value", 1))
            if mdv < 1:
                raise A.QueryError(
                    f"agg {name!r}: max_docs_per_value must be >= 1")
        metrics, _, _ = self._check_sub_aggs(name, body)

        def run(matched, cands):
            from pyspark.sql import Window

            sample = cands.select("segment_id", "docid", "score")
            if divf is not None:
                ddocs = self._table("docs").select(
                    "segment_id", "docid", divf)
                sample = sample.join(
                    ddocs, on=["segment_id", "docid"], how="left")
                wv = Window.partitionBy("segment_id", divf).orderBy(
                    F.desc("score"), F.asc("docid"))
                sample = (sample
                          .withColumn("__rv", F.row_number().over(wv))
                          .filter(F.col(divf).isNull()
                                  | (F.col("__rv") <= mdv))
                          .drop("__rv", divf))
            w = Window.partitionBy("segment_id").orderBy(
                F.desc("score"), F.asc("docid"))
            sample = (sample.withColumn("__r", F.row_number().over(w))
                      .filter(F.col("__r") <= ss).drop("__r"))
            return self._one_bucket(sample, metrics)
        return (), run  # fields join off the SAMPLE frame, not matched

    def _agg_filters(self, name, kind, body, aggs):
        # ES filters agg: one named bucket per sub-query, each bucket
        # counts matched docs ALSO matching the filter — a left-semi join
        # of the (persisted) match keys against the filter's candidate
        # keys, so each filter costs one postings scan, never a rescore
        # of the main query
        nodes = self._filter_keys(name, kind, body)

        def run(matched, cands):
            mkeys = matched.select("segment_id", "docid")
            buckets = {}
            for fname, sub in nodes.items():
                skeys = self.candidates(sub).select("segment_id", "docid")
                buckets[fname] = {"doc_count": int(
                    mkeys.join(skeys, on=["segment_id", "docid"],
                               how="left_semi").count())}
            return {"buckets": buckets}
        return (), run

    def _agg_adjacency_matrix(self, name, kind, body, aggs):
        # ES adjacency_matrix: one bucket per named filter (matched ∩
        # filter) plus one per PAIR ("a&b" = matched ∩ a ∩ b).  Each
        # filter costs one postings scan for its candidate keys; the
        # intersections are key-only hash joins — never a rescore of the
        # main query.  Filter count is tiny (ES caps at 100), so the
        # pair loop is bounded.
        nodes = self._filter_keys(name, kind, body)
        amp = next((n for n in nodes if "&" in n), None)
        if amp is not None:
            raise A.QueryError(
                f"agg {name!r}: filter name {amp!r} may not contain '&' "
                f"(the intersection separator)")

        def run(matched, cands):
            mkeys = matched.select("segment_id", "docid")
            fkeys: dict[str, DataFrame] = {}
            try:
                for fname in sorted(nodes):
                    fkeys[fname] = (
                        self.candidates(nodes[fname])
                        .select("segment_id", "docid")
                        .join(mkeys, on=["segment_id", "docid"],
                              how="left_semi").persist())
                buckets = []
                names = sorted(fkeys)
                for fname in names:
                    n = int(fkeys[fname].count())
                    if n:
                        buckets.append({"key": fname, "doc_count": n})
                for i, a in enumerate(names):
                    for bn in names[i + 1:]:
                        n = int(fkeys[a].join(
                            fkeys[bn], on=["segment_id", "docid"],
                            how="left_semi").count())
                        if n:  # ES omits empty intersections
                            buckets.append({"key": f"{a}&{bn}",
                                            "doc_count": n})
                return {"buckets": buckets}
            finally:
                for df in fkeys.values():
                    df.unpersist()
        return (), run

    def _agg_top_metrics(self, name, kind, body, aggs):
        # ES top_metrics: the metric fields of the top ``size`` docs
        # under an explicit field sort — ONE TakeOrderedAndProject over
        # the matched frame (never a full sort), docid tie-break pinned
        # for determinism
        mlist = body.get("metrics")
        if isinstance(mlist, dict):
            mlist = [mlist]
        srt = body.get("sort")
        if not isinstance(mlist, list) or not mlist \
                or not isinstance(srt, dict) or len(srt) != 1:
            raise A.QueryError(
                f"agg {name!r}: top_metrics needs metrics "
                f"[{{'field': ..}}] and sort {{field: asc|desc}}")
        (sfield, sdir), = srt.items()
        sdir = str(sdir).lower()
        if sdir not in ("asc", "desc"):
            raise A.QueryError(f"agg {name!r}: sort direction must be asc|desc")
        mfields = [m.get("field") for m in mlist]
        for mf in mfields + [sfield]:
            self._agg_field(name, mf)
        size = int(body.get("size", 1))

        def run(matched, cands):
            sc = F.col(sfield)
            rows = (matched.filter(sc.isNotNull())
                    .orderBy(sc.desc() if sdir == "desc" else sc.asc(),
                             F.asc("segment_id"), F.asc("docid"))
                    .limit(size).collect())
            return {"top": [{"sort": [r[sfield]],
                             "metrics": {mf: r[mf] for mf in mfields}}
                            for r in rows]}
        return mfields + [sfield], run

    def _agg_t_test(self, name, kind, body, aggs):
        # ES t_test agg: Student's t statistic between two numeric
        # fields — ONE aggregation of count/avg/var_samp (paired: over
        # the per-row difference; unpaired: per field), driver-side
        # arithmetic on the 1-row result.  Pinned: rows missing either
        # field drop (the ES paired rule, applied to both modes so a/b
        # stay comparable).
        ttype = str(body.get("type", "heteroscedastic"))
        if ttype not in ("paired", "homoscedastic", "heteroscedastic"):
            raise A.QueryError(
                f"agg {name!r}: t_test type must be paired/"
                f"homoscedastic/heteroscedastic")
        fa, fb = self._numeric_parts(name, kind, body, ("a", "b"))

        def run(matched, cands):
            va = F.col(fa).cast("double")
            vb = F.col(fb).cast("double")
            both = matched.filter(va.isNotNull() & vb.isNotNull())
            if ttype == "paired":
                d = va - vb
                r = both.agg(F.count(d).alias("n"), F.avg(d).alias("m"),
                             F.var_samp(d).alias("v")).collect()[0]
                n = int(r["n"])
                t = (None if n < 2 or not r["v"]
                     else float(r["m"]) / math.sqrt(float(r["v"]) / n))
                return {"value": t}
            r = both.agg(
                F.count(va).alias("na"), F.avg(va).alias("ma"),
                F.var_samp(va).alias("va"),
                F.count(vb).alias("nb"), F.avg(vb).alias("mb"),
                F.var_samp(vb).alias("vb")).collect()[0]
            na, nb = int(r["na"]), int(r["nb"])
            if na < 2 or nb < 2 or r["va"] is None or r["vb"] is None:
                return {"value": None}
            if ttype == "homoscedastic":
                sp2 = (((na - 1) * float(r["va"])
                        + (nb - 1) * float(r["vb"])) / (na + nb - 2))
                den = math.sqrt(sp2 * (1.0 / na + 1.0 / nb))
            else:  # heteroscedastic (Welch)
                den = math.sqrt(float(r["va"]) / na + float(r["vb"]) / nb)
            return {"value": ((float(r["ma"]) - float(r["mb"])) / den
                              if den else None)}
        return [fa, fb], run

    def _agg_matrix_stats(self, name, kind, body, aggs):
        # ES matrix_stats: per-field moments + pairwise covariance/
        # correlation over rows holding EVERY field (the ES
        # listwise-deletion rule) — ONE aggregation carrying all the
        # moment expressions (map-side partials; O(k²) expressions for k
        # fields, k is tiny).  Variance/covariance are SAMPLE (n-1) like
        # ES; skewness/kurtosis follow Spark's population definitions
        # (g1, g2 excess) — pinned here, asserted vs numpy in pytest.
        mfields = body.get("fields")
        if not isinstance(mfields, list) or len(mfields) < 2:
            raise A.QueryError(f"agg {name!r}: matrix_stats needs >= 2 fields")
        for mf in mfields:
            self._agg_field(name, mf, self._NUMERIC, kind)

        def run(matched, cands):
            cols = {mf: F.col(mf).cast("double") for mf in mfields}
            b = matched
            for mf in mfields:
                b = b.filter(cols[mf].isNotNull())
            exprs = [F.count("*").alias("n")]
            for mf in mfields:
                exprs += [F.avg(cols[mf]).alias(f"m__{mf}"),
                          F.var_samp(cols[mf]).alias(f"v__{mf}"),
                          F.skewness(cols[mf]).alias(f"s__{mf}"),
                          F.kurtosis(cols[mf]).alias(f"k__{mf}")]
            for i, fa in enumerate(mfields):
                for fb in mfields[i + 1:]:
                    exprs += [F.covar_samp(cols[fa], cols[fb])
                              .alias(f"c__{fa}__{fb}"),
                              F.corr(cols[fa], cols[fb])
                              .alias(f"r__{fa}__{fb}")]
            r = b.agg(*exprs).collect()[0]
            n = int(r["n"])

            def _f(key):
                return None if r[key] is None else float(r[key])

            def _pair(pre, fa, fb, diag):
                if fa == fb:
                    return diag
                a, b = sorted((fa, fb), key=mfields.index)  # as aliased
                return _f(f"{pre}__{a}__{b}")
            return {"doc_count": n, "fields": [
                {"name": mf, "count": n, "mean": _f(f"m__{mf}"),
                 "variance": _f(f"v__{mf}"), "skewness": _f(f"s__{mf}"),
                 "kurtosis": _f(f"k__{mf}"),
                 "covariance": {fo: _pair("c", mf, fo, _f(f"v__{mf}"))
                                for fo in mfields},
                 "correlation": {fo: _pair("r", mf, fo, 1.0)
                                 for fo in mfields}}
                for mf in mfields]}
        return mfields, run

    def _agg_weighted_avg(self, name, kind, body, aggs):
        # ES weighted_avg: sum(v*w)/sum(w) over rows where BOTH are
        # present — one aggregation, map-side partials; null value with
        # present weight counts the weight only if value_missing is set
        # (not supported: nulls drop, the ES default)
        fv, fw = self._numeric_parts(name, kind, body, ("value", "weight"))

        def run(matched, cands):
            vf = F.col(fv).cast("double")
            wf = F.col(fw).cast("double")
            r = (matched.filter(vf.isNotNull() & wf.isNotNull())
                 .agg(F.sum(vf * wf).alias("vw"), F.sum(wf).alias("w"))
                 .collect()[0])
            return {"value": (None if r["w"] is None or r["w"] == 0
                              else float(r["vw"]) / float(r["w"]))}
        return [fv, fw], run

    def _agg_metric(self, name, kind, body, aggs):
        # the top-level form of the metric sub-aggs: the same
        # expressions (_metric_exprs / _shape_metrics) over the whole
        # match set as one bucket; exact cardinality is the exception
        f = self._field_of(name, kind, body, self._NUMERIC
                           if kind in self._NUMERIC_METRICS else ())
        exact = kind == "cardinality" and body.get("exact")
        metrics = [(name, kind, f)]

        def run(matched, cands):
            if exact:
                return {"value": int(matched.agg(
                    F.count_distinct(F.col(f)).alias("v")).collect()[0]["v"])}
            row = matched.agg(*self._metric_exprs(metrics)).collect()[0]
            return self._shape_metrics(metrics, row)[name]
        return [f], run

    def _agg_extended_stats(self, name, kind, body, aggs):
        f = self._field_of(name, kind, body, self._NUMERIC)

        def run(matched, cands):
            col = F.col(f)
            v = col.cast("double")
            r = matched.agg(
                F.count(col).alias("count"),
                F.min(col).alias("min"), F.max(col).alias("max"),
                F.avg(col).alias("avg"), F.sum(col).alias("sum"),
                F.sum(v * v).alias("sum_of_squares"),
                F.var_pop(v).alias("variance"),
                F.stddev_pop(v).alias("std_deviation"),
            ).collect()[0]
            return r.asDict()
        return [f], run

    def _agg_range(self, name, kind, body, aggs):
        # ES range agg: [from, to) buckets, overlapping allowed — ONE
        # pass, each bucket a conditional sum
        f = self._field_of(name, kind, body, self._NUMERIC)
        ranges = body.get("ranges") or []
        if not ranges:
            raise A.QueryError(f"agg {name!r}: range needs ranges")
        col = F.col(f)
        v = col.cast("double")
        exprs, keys = [], []
        for i, rg in enumerate(ranges):
            lo, hi = rg.get("from"), rg.get("to")
            if lo is None and hi is None:
                raise A.QueryError(f"agg {name!r}: a range needs from/to")
            c = col.isNotNull()
            if lo is not None:
                c = c & (v >= float(lo))
            if hi is not None:
                c = c & (v < float(hi))
            exprs.append(F.sum(F.when(c, 1).otherwise(0)).alias(f"r{i}"))
            keys.append(f"{lo if lo is not None else '*'}-"
                        f"{hi if hi is not None else '*'}")

        def run(matched, cands):
            r = matched.agg(*exprs).collect()[0]
            return {"buckets": [
                {"key": k, "from": rg.get("from"), "to": rg.get("to"),
                 "doc_count": int(r[f"r{i}"])}
                for i, (k, rg) in enumerate(zip(keys, ranges))]}
        return [f], run

    def _agg_percentile_ranks(self, name, kind, body, aggs):
        f = self._field_of(name, kind, body, self._NUMERIC)
        vals = [float(x) for x in body.get("values") or []]
        if not vals:
            raise A.QueryError(f"agg {name!r}: percentile_ranks needs values")

        def run(matched, cands):
            v = F.col(f).cast("double")
            r = matched.filter(F.col(f).isNotNull()).agg(*[
                (F.lit(100.0) * F.avg(F.when(v <= x, 1.0).otherwise(0.0)))
                .alias(f"p{i}") for i, x in enumerate(vals)]).collect()[0]
            return {"values": {
                str(x): None if r[f"p{i}"] is None else float(r[f"p{i}"])
                for i, x in enumerate(vals)}}
        return [f], run

    def _agg_percentiles(self, name, kind, body, aggs):
        f = self._field_of(name, kind, body, self._NUMERIC)
        pcts = [float(p) for p in
                body.get("percents", [1, 5, 25, 50, 75, 95, 99])]
        fn = F.percentile_approx if body.get("approx") else F.percentile

        def run(matched, cands):
            fracs = F.array(*[F.lit(p / 100.0) for p in pcts])
            r = matched.agg(
                fn(F.col(f).cast("double"), fracs).alias("v")).collect()[0]
            vals = r["v"] or [None] * len(pcts)
            return {"values": {str(p): None if v is None else float(v)
                               for p, v in zip(pcts, vals)}}
        return [f], run

    def _agg_missing(self, name, kind, body, aggs):
        # ES missing agg: matched docs WITHOUT the field — the
        # complement of every other agg's null rule
        f = self._field_of(name, kind, body)
        return [f], lambda matched, cands: {"doc_count": int(
            matched.filter(F.col(f).isNull()).count())}

    def _agg_median_absolute_deviation(self, name, kind, body, aggs):
        # ES MAD: median(|x - median(x)|).  Exact by default (two
        # percentile passes over the persisted match frame —
        # deterministic, oracle-matchable); "approx": true switches both
        # passes to percentile_approx (one-pass sketch each, the 100 TB
        # default, same rationale as percentiles).
        f = self._field_of(name, kind, body, self._NUMERIC)
        fn = F.percentile_approx if body.get("approx") else F.percentile

        def run(matched, cands):
            v = F.col(f).cast("double")
            m = matched.agg(fn(v, F.lit(0.5)).alias("m")).collect()[0]["m"]
            if m is None:
                return {"value": None}
            r = matched.agg(fn(F.abs(v - F.lit(float(m))), F.lit(0.5))
                            .alias("mad")).collect()[0]["mad"]
            return {"value": None if r is None else float(r)}
        return [f], run

    def _agg_boxplot(self, name, kind, body, aggs):
        # ES boxplot: min / q1 / q2 / q3 / max — ONE aggregation (exact
        # interpolated percentiles by default; "approx": true for the
        # sketch path)
        f = self._field_of(name, kind, body, self._NUMERIC)
        fn = F.percentile_approx if body.get("approx") else F.percentile

        def run(matched, cands):
            v = F.col(f).cast("double")
            r = matched.agg(
                F.min(v).alias("mn"), F.max(v).alias("mx"),
                fn(v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
                .alias("q")).collect()[0]
            q = r["q"] or [None, None, None]
            return {"min": r["mn"], "max": r["mx"],
                    "q1": q[0], "q2": q[1], "q3": q[2]}
        return [f], run

    def _agg_string_stats(self, name, kind, body, aggs):
        # ES string_stats: count / min_length / max_length / avg_length
        # in ONE aggregation; with "show_distribution": true also the
        # Shannon entropy of the CHARACTER distribution — a second
        # aggregation over exploded characters (distributed char-
        # frequency count; cardinality = alphabet size, so the reduce is
        # trivially bounded)
        f = self._field_of(name, kind, body, ("text",))

        def run(matched, cands):
            col = F.col(f)
            ln = F.length(col)
            r = matched.agg(
                F.count(col).alias("count"),
                F.min(ln).alias("min_length"), F.max(ln).alias("max_length"),
                F.avg(ln.cast("double")).alias("avg_length"),
            ).collect()[0]
            st = r.asDict()
            if body.get("show_distribution"):
                cf = (matched.filter(col.isNotNull())
                      .select(F.explode(F.split(col, "")).alias("ch"))
                      .filter(F.col("ch") != "")
                      .groupBy("ch").agg(F.count("*").alias("n")))
                tot = cf.agg(F.sum("n").alias("t")).collect()[0]["t"]
                ent = 0.0
                if tot:
                    probs = cf.select((F.col("n").cast("double")
                                       / float(tot)).alias("p")).collect()
                    ent = -sum(p["p"] * math.log2(p["p"]) for p in probs)
                st["entropy"] = ent
            return st
        return [f], run

    def _agg_sibling(self, name, kind, body, aggs):
        # ES sibling pipeline aggs (max/min/avg/sum/stats _bucket): a
        # pure reduce over the parent's final bucket list
        # ("parent>path") — no distributed work, like the parent
        # pipeline aggs in _apply_pipes
        path = body.get("buckets_path", "")
        parent, _, sub = path.partition(">")
        if ">" not in path or parent not in aggs:
            raise A.QueryError(
                f"agg {name!r}: {kind} needs buckets_path "
                f"'<sibling bucket agg>>metric'")
        pkind = next(iter(aggs[parent]))
        if pkind not in ("terms", "histogram", "date_histogram",
                         "composite"):
            raise A.QueryError(
                f"agg {name!r}: buckets_path parent {parent!r} is not a "
                f"bucket agg")

        def reduce(out: dict) -> dict:
            bl = out[parent].get("buckets") or []
            pairs = [(b.get("key", b.get("key_as_string")),
                      self._bpath(b, sub or "doc_count")) for b in bl]
            vv = [v for _, v in pairs if v is not None]
            n = len(vv)
            st = {"count": n,
                  "min": min(vv) if vv else None,
                  "max": max(vv) if vv else None,
                  "avg": sum(vv) / n if n else None,
                  "sum": sum(vv) if vv else None}
            if kind in ("max_bucket", "min_bucket"):
                best = st["max" if kind == "max_bucket" else "min"]
                return {"keys": [k for k, v in pairs if vv and v == best],
                        "value": best}
            if kind in ("avg_bucket", "sum_bucket"):
                return {"value": st["avg" if kind == "avg_bucket" else "sum"]}
            if kind == "percentiles_bucket":
                # exact linear-interpolated percentiles over the reduced
                # bucket values (ES uses the same exact method here —
                # the input is already tiny)
                pcts = [float(p) for p in
                        body.get("percents", [1, 5, 25, 50, 75, 95, 99])]
                sv = sorted(vv)
                vals_out = {}
                for p in pcts:
                    if not sv:
                        vals_out[str(p)] = None
                        continue
                    pos = (p / 100.0) * (len(sv) - 1)
                    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
                    vals_out[str(p)] = sv[lo] + (sv[hi] - sv[lo]) * (pos - lo)
                return {"values": vals_out}
            if kind == "extended_stats_bucket":
                mean = st["avg"]
                var = sum((x - mean) ** 2 for x in vv) / n if n else None
                st.update({
                    "sum_of_squares": sum(x * x for x in vv) if vv else None,
                    "variance": var,
                    "std_deviation": (math.sqrt(var)
                                      if var is not None else None)})
            return st  # stats_bucket / extended_stats_bucket
        return (), reduce

    # the kinds whose family reads an ``aggs`` sub-agg block
    _SUB_AGG_KINDS = ("terms", "histogram", "date_histogram", "composite",
                      "multi_terms", "global", "sampler",
                      "diversified_sampler")
    _SUBAGG_METRICS = ("avg", "sum", "min", "max", "value_count",
                       "stats", "cardinality")
    _NUMERIC_METRICS = ("avg", "sum", "min", "max", "stats")

    def _check_sub_aggs(self, name: str, body: dict,
                        top_hits_ok: bool = False, pipes_ok: bool = False) \
            -> tuple[list[tuple[str, str, str]], tuple[str, int] | None,
                     list[tuple[str, str, dict]]]:
        """Parse and check the ES sub-agg block of a bucket agg (one
        level), by the same rules under every parent::

            {"terms": {"field": f, "aggs": {
                "mean_v":  {"avg": {"field": g}},
                "seen":    {"cardinality": {"field": h}},
                "best":    {"top_hits": {"size": 3}}}}}

        Metric sub-aggs (avg/sum/min/max/value_count/stats/cardinality)
        compute IN THE SAME groupBy as the bucket — extra agg
        expressions riding the one hash aggregation, zero additional
        passes; each reads a stored field, a numeric one for
        avg/sum/min/max/stats.  top_hits is the exception (per-bucket
        document fetch, terms-only: ``top_hits_ok``); pipeline sub-aggs
        reduce an ordered bucket list (``pipes_ok``).  Returns
        (metrics, top_hits, pipes): metrics is [(sub_name, kind,
        field)], top_hits is (sub_name, size) or None, pipes is
        [(sub_name, kind, body)] for _apply_pipes."""
        metrics: list[tuple[str, str, str]] = []
        top_hits: tuple[str, int] | None = None
        pipes: list[tuple[str, str, dict]] = []
        for sub_name, sub_spec in (body.get("aggs") or {}).items():
            if not isinstance(sub_spec, dict) or len(sub_spec) != 1:
                raise A.QueryError(
                    f"agg {name!r}: sub-agg {sub_name!r}: expected one "
                    f"agg kind")
            (skind, sbody), = sub_spec.items()
            if skind == "top_hits":
                if top_hits is not None:
                    raise A.QueryError(
                        f"agg {name!r}: at most one top_hits sub-agg")
                top_hits = (sub_name, int((sbody or {}).get("size", 3)))
            elif skind in self._SUBAGG_METRICS:
                sf = (sbody or {}).get("field")
                if not sf:
                    raise A.QueryError(
                        f"agg {name!r}: sub-agg {sub_name!r}: missing field")
                metrics.append((sub_name, skind, sf))
            elif skind in self._PIPE_KINDS:
                self._check_pipe(f"agg {name!r}: sub-agg {sub_name!r}:",
                                 skind, sbody or {})
                pipes.append((sub_name, skind, sbody or {}))
            else:
                raise A.QueryError(
                    f"agg {name!r}: sub-agg {sub_name!r}: unsupported "
                    f"kind {skind!r} (metrics "
                    f"{'/'.join(self._SUBAGG_METRICS)}, pipeline "
                    f"{'/'.join(self._PIPE_KINDS)}, or top_hits)")
        if top_hits is not None and not top_hits_ok:
            raise A.QueryError(
                f"agg {name!r}: a top_hits sub-agg is only supported "
                f"under a terms agg")
        if pipes and not pipes_ok:
            raise A.QueryError(
                f"agg {name!r}: pipeline sub-aggs need a bucket agg parent")
        for sub_name, skind, sf in metrics:
            self._agg_field(name, sf, self._NUMERIC
                            if skind in self._NUMERIC_METRICS else (),
                            skind, f"sub-agg {sub_name!r}: ")
        return metrics, top_hits, pipes

    _PIPE_KINDS = ("cumulative_sum", "derivative", "moving_fn",
                   "bucket_sort", "serial_diff", "bucket_script",
                   "bucket_selector")
    _SIBLING_KINDS = ("max_bucket", "min_bucket", "avg_bucket",
                      "sum_bucket", "stats_bucket",
                      "extended_stats_bucket", "percentiles_bucket")
    _MOVING_FNS = {"avg": lambda xs: sum(xs) / len(xs), "sum": sum,
                   "min": min, "max": max}

    @staticmethod
    def _script_eval(script: str, variables: dict | None):
        """Evaluate an ES bucket_script/bucket_selector arithmetic
        expression over named buckets_path variables — a SAFE subset
        (numbers, names, + - * / % **, unary -, comparisons, and/or,
        parens) walked via the ``ast`` module; nothing else parses, so
        no attribute access / calls / imports can reach eval.  ES runs
        Painless here; every published bucket_script example is plain
        arithmetic, which this covers.  ``variables=None`` validates
        the script shape at parse time (names unchecked); any operand
        missing (None) makes the whole expression None — the ES
        skip-bucket gap policy."""
        import ast as pyast
        try:
            tree = pyast.parse(script, mode="eval")
        except SyntaxError as e:
            raise A.QueryError(f"bucket script {script!r}: {e.msg}")
        _BIN = {pyast.Add: lambda a, b: a + b,
                pyast.Sub: lambda a, b: a - b,
                pyast.Mult: lambda a, b: a * b,
                pyast.Div: lambda a, b: a / b if b else None,
                pyast.Mod: lambda a, b: a % b if b else None,
                pyast.Pow: lambda a, b: a ** b}
        _CMP = {pyast.Gt: lambda a, b: a > b,
                pyast.GtE: lambda a, b: a >= b,
                pyast.Lt: lambda a, b: a < b,
                pyast.LtE: lambda a, b: a <= b,
                pyast.Eq: lambda a, b: a == b,
                pyast.NotEq: lambda a, b: a != b}

        def ev(n):
            if isinstance(n, pyast.Expression):
                return ev(n.body)
            if isinstance(n, pyast.Constant) \
                    and isinstance(n.value, (int, float)):
                return float(n.value)
            if isinstance(n, pyast.Name):
                if variables is None:
                    return 1.0  # validation walk: shape only
                if n.id not in variables:
                    raise A.QueryError(
                        f"bucket script: unknown variable {n.id!r} "
                        f"(not in buckets_path)")
                return variables[n.id]
            if isinstance(n, pyast.UnaryOp) \
                    and isinstance(n.op, pyast.USub):
                v = ev(n.operand)
                return None if v is None else -v
            if isinstance(n, pyast.UnaryOp) \
                    and isinstance(n.op, pyast.Not):
                v = ev(n.operand)
                return None if v is None else (not v)
            if isinstance(n, pyast.BinOp) and type(n.op) in _BIN:
                a, b = ev(n.left), ev(n.right)
                if a is None or b is None:
                    return None
                return _BIN[type(n.op)](a, b)
            if isinstance(n, pyast.Compare) and len(n.ops) == 1 \
                    and type(n.ops[0]) in _CMP:
                a, b = ev(n.left), ev(n.comparators[0])
                if a is None or b is None:
                    return None
                return _CMP[type(n.ops[0])](a, b)
            if isinstance(n, pyast.BoolOp):
                vs = [ev(v) for v in n.values]
                if any(v is None for v in vs):
                    return None
                return (all(vs) if isinstance(n.op, pyast.And)
                        else any(vs))
            raise A.QueryError(
                f"bucket script {script!r}: unsupported syntax "
                f"(arithmetic/comparisons over buckets_path names only)")
        return ev(tree)

    @classmethod
    def _check_pipe(cls, at: str, skind: str, sbody: dict) -> None:
        """Fail-fast checks of one PIPELINE sub-agg of a bucket agg
        (``at`` names it in errors) — ES parent pipeline aggregations.
        These never touch the doc store: like ES's coordinating-node
        reduce phase they run over the bucket agg's ALREADY-REDUCED
        bucket list (cardinality = #buckets, bounded by size/interval —
        never #docs), so they are pure driver-side post-passes
        (_apply_pipes) and add zero distributed work at any corpus
        scale."""
        if skind == "moving_fn":
            if str(sbody.get("fn", "avg")) not in cls._MOVING_FNS:
                raise A.QueryError(
                    f"{at} moving_fn fn must be one of "
                    f"{'/'.join(sorted(cls._MOVING_FNS))}")
            if int(sbody.get("window", 5)) <= 0:
                raise A.QueryError(f"{at} window must be > 0")
        if skind == "bucket_sort":
            for s in sbody.get("sort") or []:
                if not isinstance(s, dict) or len(s) != 1:
                    raise A.QueryError(
                        f"{at} each sort entry is {{path: {{'order': ..}}}}")
        if skind == "serial_diff" and int(sbody.get("lag", 1)) <= 0:
            raise A.QueryError(f"{at} lag must be > 0")
        if skind in ("bucket_script", "bucket_selector"):
            bp = sbody.get("buckets_path")
            if not isinstance(bp, dict) or not bp:
                raise A.QueryError(
                    f"{at} {skind} needs buckets_path as {{var: path}}")
            if not sbody.get("script"):
                raise A.QueryError(f"{at} {skind} needs a script")
            cls._script_eval(str(sbody["script"]), None)  # shape

    @staticmethod
    def _bpath(bucket: dict, path: str):
        """Resolve an ES ``buckets_path`` against one reduced bucket:
        ``doc_count``/``_count``, ``_key``, a metric sub-agg name
        (→ its ``value``), or ``name.stat`` for a stats sub-agg."""
        parts = str(path).split(".")
        head = parts[0]
        if head in ("doc_count", "_count"):
            v = bucket["doc_count"]
        elif head == "_key":
            v = bucket.get("key", bucket.get("key_as_string"))
        else:
            m = bucket.get(head)
            if not isinstance(m, dict):
                raise A.QueryError(
                    f"buckets_path {path!r}: no metric {head!r} in bucket")
            v = m[parts[1]] if len(parts) > 1 else m.get("value")
        return None if v is None else float(v)

    @classmethod
    def _bucket_script(cls, pbody: dict, bucket: dict):
        """A bucket_script / bucket_selector script over one bucket's
        buckets_path variables."""
        return cls._script_eval(str(pbody["script"]), {
            var: cls._bpath(bucket, p)
            for var, p in pbody["buckets_path"].items()})

    @classmethod
    def _apply_pipes(cls, name: str, buckets: list[dict],
                     pipes: list[tuple[str, str, dict]]) -> list[dict]:
        """Execute parent pipeline aggs over the reduced bucket list —
        the ES reduce-phase semantics, driver-side by design (input is
        ≤ size/interval buckets, not documents):

        - cumulative_sum: running total of buckets_path, every bucket
        - derivative: bucket[i] − bucket[i−1]; FIRST bucket gets no
          value (the ES contract — there is nothing to diff against)
        - moving_fn: fn over the window [i−window+shift, i+shift) of
          prior values (ES default shift=0 excludes the current
          bucket, so bucket 0 is null); fn ∈ avg/sum/min/max
        - bucket_sort: applied LAST — re-sorts the final bucket list
          by buckets_path keys and truncates with from/size (ES: a
          reduce-phase sort, never a re-aggregation)"""
        sorts: list[dict] = []
        selectors: list[dict] = []
        for sub_name, pkind, pbody in pipes:
            if pkind == "bucket_sort":
                sorts.append(pbody)
                continue
            if pkind == "bucket_selector":
                selectors.append(pbody)
                continue
            if pkind == "bucket_script":
                # ES bucket_script: per-bucket arithmetic over named
                # metric paths; any missing operand skips the bucket
                # (gap policy), matching the Painless null semantics
                for b in buckets:
                    v = cls._bucket_script(pbody, b)
                    if v is not None:
                        b[sub_name] = {"value": float(v)}
                continue
            path = pbody.get("buckets_path", "doc_count")
            vals = [cls._bpath(b, path) for b in buckets]
            if pkind == "cumulative_sum":
                run = 0.0
                for b, v in zip(buckets, vals):
                    run += (v or 0.0)
                    b[sub_name] = {"value": run}
            elif pkind == "moving_fn":
                w = int(pbody.get("window", 5))
                shift = int(pbody.get("shift", 0))
                fn = cls._MOVING_FNS[str(pbody.get("fn", "avg"))]
                for i, b in enumerate(buckets):
                    lo = max(0, i - w + shift)
                    hi = max(0, min(len(buckets), i + shift))
                    win = [v for v in vals[lo:hi] if v is not None]
                    b[sub_name] = {"value": fn(win) if win else None}
            else:  # derivative / serial_diff
                # ES serial_diff: bucket[i] − bucket[i−lag]; the first
                # `lag` buckets get no value (nothing to diff against);
                # derivative is serial_diff at lag 1
                lag = (int(pbody.get("lag", 1))
                       if pkind == "serial_diff" else 1)
                for i, b in enumerate(buckets):
                    if i >= lag and vals[i] is not None \
                            and vals[i - lag] is not None:
                        b[sub_name] = {"value": vals[i] - vals[i - lag]}
        for pbody in selectors:
            # ES bucket_selector: keep buckets whose script is truthy;
            # missing operands (gap policy "skip") DROP the bucket —
            # applied before bucket_sort, like ES's reduce order
            buckets = [b for b in buckets if cls._bucket_script(pbody, b)]
        for pbody in sorts:
            for s in reversed(pbody.get("sort") or []):
                (path, sb), = s.items()
                desc = str((sb or {}).get("order", "asc")).lower() == "desc"
                buckets.sort(  # stable → reversed spec = multi-key sort
                    key=lambda b: ((v := cls._bpath(b, path)) is None,
                                   0.0 if v is None else v),
                    reverse=desc)
            frm = int(pbody.get("from", 0))
            size = pbody.get("size")
            buckets = (buckets[frm:frm + int(size)]
                       if size is not None else buckets[frm:])
        return buckets

    @staticmethod
    def _metric_exprs(metrics: list[tuple[str, str, str]]) -> list:
        """Grouped-agg expressions for metric sub-aggs — appended to the
        bucket groupBy so Catalyst runs them with map-side partial
        aggregation in the bucket's single shuffle."""
        exprs = []
        for i, (_, kind, f) in enumerate(metrics):
            c = F.col(f)
            if kind == "stats":
                exprs += [F.count(c).alias(f"__s{i}_count"),
                          F.min(c).alias(f"__s{i}_min"),
                          F.max(c).alias(f"__s{i}_max"),
                          F.avg(c).alias(f"__s{i}_avg"),
                          F.sum(c).alias(f"__s{i}_sum")]
            elif kind == "value_count":
                exprs.append(F.count(c).alias(f"__s{i}_value"))
            elif kind == "cardinality":
                exprs.append(F.approx_count_distinct(c)
                             .alias(f"__s{i}_value"))
            else:  # avg / sum / min / max
                exprs.append(getattr(F, kind)(c).alias(f"__s{i}_value"))
        return exprs

    @staticmethod
    def _shape_metrics(metrics: list[tuple[str, str, str]], row) -> dict:
        """Lift the __s{i}_* columns of one bucket row into the ES
        response shape ({"value": v} per metric, the 5-key dict for
        stats).  Nulls stay null (empty bucket / all-null field)."""
        out: dict = {}
        for i, (sub_name, kind, _) in enumerate(metrics):
            if kind == "stats":
                out[sub_name] = {k: row[f"__s{i}_{k}"] for k in
                                 ("count", "min", "max", "avg", "sum")}
            elif kind in ("value_count", "cardinality"):
                v = row[f"__s{i}_value"]
                out[sub_name] = {"value": None if v is None else int(v)}
            else:
                out[sub_name] = {"value": row[f"__s{i}_value"]}
        return out

    def _bucket_top_hits(self, cands: DataFrame, field: str,
                         keys: list, size: int) -> dict:
        """Per-bucket top documents (ES top_hits): ONE window
        hash-partitioned by the bucket key over the scored candidates
        joined to the doc store, rank <= size kept — Catalyst pushes
        the rank filter into WindowGroupLimit (map-side top-k per
        group), so no partition ever sorts a whole bucket.  Restricted
        to the ALREADY-SELECTED buckets (a literal IN over <= size
        keys), then the <= buckets*size winners fetch stored fields
        through the normal bounded retrieve."""
        from pyspark.sql import Window

        g = self.with_global_docid(cands)
        docs = self._table("docs").select("segment_id", "docid", field)
        j = (g.join(docs, on=["segment_id", "docid"])
             .filter(F.col(field).isin(list(keys))))
        w = Window.partitionBy(field).orderBy(
            F.desc("score"), F.asc("docid_g"))
        top = (j.withColumn("__rn", F.row_number().over(w))
               .filter(F.col("__rn") <= size)
               .orderBy(field, "__rn"))
        rows = top.collect()
        fetched = self.retrieve_rows(rows)
        per_key: dict = {}
        for r, hit in zip(rows, fetched):
            per_key.setdefault(r[field], []).append(hit)
        return per_key

    def _sig_terms(self, name, kind, body, aggs):
        """ES ``significant_terms`` with the JLH heuristic (_jlh) over an
        indexed field.  It runs off the POSTINGS (term space), not the
        doc store: ONE postings scan (field-equality pushdown)
        left-semi-joined to the matched keys on (segment_id, docid) →
        per-term hash-agg, joined to the termdict's summed dfs for the
        background — no driver loop, both sides partition by term.
        Background dfs are tombstone-stale until compaction (the
        engine-wide stats rule, catalog.py num_deleted docs)."""
        f = body.get("field")
        fdef = self.schema.field(f) if f else None
        if not f:
            raise A.QueryError(f"agg {name!r}: missing field")
        if fdef is None or not fdef.indexed:
            raise A.QueryError(
                f"agg {name!r}: significant_terms needs an indexed field, "
                f"{f!r} is not")
        size = int(body.get("size", 10))

        def run(matched, cands):
            m_count = matched.count()
            if m_count == 0:
                return {"doc_count": 0, "buckets": []}
            p = self._table("postings")
            if p is None:  # no segments: no postings, no termdict
                return {"doc_count": m_count, "buckets": []}
            fg = (p.filter(F.col("field") == f)
                  .join(matched, on=["segment_id", "docid"], how="left_semi")
                  .groupBy("term").agg(F.count("*").alias("fg")))
            return self._jlh(fg, f, m_count, size)
        return (), run

    def _sig_text(self, name, kind, body, aggs):
        """ES ``significant_text``: JLH like significant_terms, but the
        FOREGROUND counts come from re-ANALYZING the stored text of the
        matched docs with the field's own build tokenizer (Arrow-batched
        — the same UDF the indexer runs), not from postings — so the
        field must be stored AND carry a tokenizer; the background stays
        the termdict (the field is indexed here — ES supports
        un-indexed text, this engine's background statistics come from
        its own postings).  What that buys over significant_terms on
        this engine is ``filter_duplicate_text``: boilerplate/
        retweet-style copies are collapsed to ONE doc per distinct text
        (md5 window, first (segment, docid) kept — the ES near-dup
        filter pinned to exact dedup) BEFORE counting, so a duplicated
        passage cannot fake significance.  Foreground M = deduped
        matched docs; background = the termdict's summed dfs over the
        WHOLE index (undeduped — the ES asymmetry, documented).  One
        doc-store join (its own, off the match keys) + one tokenize
        projection + one per-term hash-agg; both JLH sides partition by
        term."""
        f = body.get("field")
        fdef = self.schema.field(f) if f else None
        if not f:
            raise A.QueryError(f"agg {name!r}: missing field")
        if fdef is None or not fdef.stored \
                or not fdef.indexed or fdef.tokenizer is None:
            raise A.QueryError(
                f"agg {name!r}: significant_text needs a stored indexed "
                f"text field, {f!r} is not one")
        size = int(body.get("size", 10))
        fdt = bool(body.get("filter_duplicate_text", False))

        def run(matched, cands):
            from sonar_tantivy_spark.operators.build import (
                make_tokenize_udf,
            )

            docs = self._table("docs")
            if docs is None:  # no segments: no doc store, no termdict
                return {"doc_count": 0, "buckets": []}
            fgdocs = matched.select("segment_id", "docid").join(
                docs.select("segment_id", "docid", f),
                on=["segment_id", "docid"])
            if fdt:
                from pyspark.sql import Window
                w = Window.partitionBy(F.md5(F.coalesce(
                    F.col(f), F.lit("")))).orderBy(
                    F.asc("segment_id"), F.asc("docid"))
                fgdocs = (fgdocs.withColumn("__r", F.row_number().over(w))
                          .filter(F.col("__r") == 1).drop("__r"))
            fgdocs = fgdocs.persist()
            try:
                m_count = fgdocs.count()
                if m_count == 0:
                    return {"doc_count": 0, "buckets": []}
                tok = make_tokenize_udf(self.schema.tokenizer_for(f))
                fg = (fgdocs
                      .select(F.explode(F.array_distinct(
                          tok(F.coalesce(F.col(f), F.lit("")))["terms"]))
                          .alias("term"))
                      .groupBy("term").agg(F.count("*").alias("fg")))
                return self._jlh(fg, f, m_count, size)
            finally:
                fgdocs.unpersist()
        return (), run

    def _jlh(self, fg: DataFrame, field: str, m_count: int,
             size: int) -> dict:
        """The JLH tail significant_terms and significant_text share:
        for each term of ``field`` in ``fg`` (term, fg), foreground rate
        fg/M (M = ``m_count`` matched docs) vs background rate bg/N (the
        termdict's summed dfs / num_docs); score = (fg/M − bg/N) ·
        (fg/M)/(bg/N) for terms over-represented in the match set, 0
        otherwise — the top ``size`` by score."""
        bg = (self._table("termdict").filter(F.col("field") == field)
              .groupBy("term").agg(F.sum("df").alias("bg")))
        n = float(self.num_docs)
        fgp = F.col("fg").cast("double") / float(m_count)
        bgp = F.col("bg").cast("double") / n
        score = (fgp - bgp) * (fgp / bgp)
        rows = (fg.join(bg, on="term")
                .withColumn("score", score)
                .filter(F.col("score") > 0.0)
                .orderBy(F.desc("score"), F.asc("term"))
                .limit(size).collect())
        return {"doc_count": m_count, "buckets": [
            {"key": r["term"], "doc_count": int(r["fg"]),
             "bg_count": int(r["bg"]), "score": float(r["score"])}
            for r in rows]}

    # every agg kind → its family (see "agg families" above)
    _AGG_FAMILIES = {
        "terms": _agg_terms, "histogram": _agg_histogram,
        "date_histogram": _agg_date_histogram,
        "auto_date_histogram": _agg_date_histogram,
        "rare_terms": _agg_rare_terms, "composite": _agg_composite,
        "multi_terms": _agg_multi_terms, "global": _agg_global,
        "sampler": _agg_sampler, "diversified_sampler": _agg_sampler,
        "filters": _agg_filters, "adjacency_matrix": _agg_adjacency_matrix,
        "top_metrics": _agg_top_metrics, "t_test": _agg_t_test,
        "matrix_stats": _agg_matrix_stats, "weighted_avg": _agg_weighted_avg,
        **dict.fromkeys(_SUBAGG_METRICS, _agg_metric),
        "extended_stats": _agg_extended_stats, "range": _agg_range,
        "percentile_ranks": _agg_percentile_ranks,
        "percentiles": _agg_percentiles, "missing": _agg_missing,
        "median_absolute_deviation": _agg_median_absolute_deviation,
        "boxplot": _agg_boxplot, "string_stats": _agg_string_stats,
        "significant_terms": _sig_terms, "significant_text": _sig_text,
        **dict.fromkeys(_SIBLING_KINDS, _agg_sibling),
    }

    def fetch_stored(self, keys, fields) -> dict[tuple[str, int], dict]:
        """Stored ``fields`` of ``keys`` ((segment_id, local docid)
        pairs) → {key: {field: value}} — the doc store point read
        (index.rs:275 ``searcher.doc(addr)``).  On disk it reads the
        hit segments' parquet files directly, with no Spark job; keys
        of ghost or unknown segments are simply absent."""
        if self._parent is not None:
            return self._parent.fetch_stored(keys, fields)
        return self.storage.fetch_rows(self.spark, "docs", self.segments,
                                       list(keys), list(fields),
                                       self._memoized)

    def stored_docs(self, keys) -> dict[tuple[str, int], dict]:
        """{key: doc} for ``keys``: every non-null stored field, each
        value wrapped in a list (the reference's multi-value doc
        shape)."""
        stored = [f.name for f in self.schema.fields if f.stored]
        return {
            key: {k: v if isinstance(v, list) else [v]
                  for k, v in row.items() if v is not None}
            for key, row in self.fetch_stored(keys, stored).items()
        }

    def retrieve(self, hits: DataFrame) -> list[dict]:
        """Fetch stored fields for top-k rows (k ≤ 100: collect the keys,
        then one point read — index.rs:274-281 analog)."""
        return self.retrieve_rows(hits.collect())

    def retrieve_rows(self, rows: list) -> list[dict]:
        """``retrieve`` over already-collected hit rows (segment_id,
        docid, score, docid_g)."""
        docs = self.stored_docs([(r["segment_id"], r["docid"]) for r in rows])
        return [
            {"score": float(r["score"]),
             "doc": docs.get((r["segment_id"], r["docid"]), {}),
             "docid": int(r["docid_g"]), "snippet": None}
            for r in rows
        ]


def regex_literal_prefix(pattern: str) -> str:
    """The GUARANTEED literal head of an anchored regex — every string
    the (anchored) pattern accepts starts with it.  Conservative by
    construction: stops at the first metacharacter, character-class
    escape, or any char followed by a quantifier (which could repeat or
    vanish), so the returned prefix never excludes a true match.  Used
    to push a StartsWith predicate under the termdict regex scan."""
    meta = set(".^$*+?{}[]|()")
    out: list[str] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            nxt = pattern[i + 1]
            if nxt.isalnum():  # \d, \w, \b... — a class, not a literal
                break
            lit, i = nxt, i + 2
        elif ch not in meta:
            lit, i = ch, i + 1
        else:
            break
        if i < n and pattern[i] in "*+?{":
            break  # quantified char: optional/repeated — not guaranteed
        out.append(lit)
    return "".join(out)


def collect_terms(node: A.Node) -> set[tuple[str, str]]:
    """All (field, term) pairs needing idf stats — resolved in one job."""
    out: set[tuple[str, str]] = set()
    if isinstance(node, A.TermQ):
        out.add((node.field, node.term))
    elif isinstance(node, A.PhraseQ):
        out.update((node.field, t) for t in node.terms)
    elif isinstance(node, A.TermSetQ):
        out.update((node.field, t) for t in node.terms)
    elif isinstance(node, A.PhrasePrefixQ):
        # the prefix slot expands in-scan; only the exact terms have
        # per-term stats (df=0 short-circuit + segment absence proofs)
        out.update((node.field, t) for t in node.terms)
    elif isinstance(node, A.SpanNearQ):
        out.update((node.field, t) for c in node.clauses for t in c)
    elif isinstance(node, A.SpanFirstQ):
        out.update(collect_terms(node.child))
    elif isinstance(node, A.SpanNotQ):
        # include AND exclude need dfs (the exclude's df gates whether
        # its postings join the scan); idf uses include only
        out.update((node.field, t) for t in node.include + node.exclude)
    elif isinstance(node, A.SpanContainQ):
        out.update((node.field, t)
                   for c in node.big.clauses for t in c)
        out.update((node.field, t) for t in node.little)
    elif isinstance(node, A.PinnedQ):
        out.update(collect_terms(node.organic))
    elif isinstance(node, A.ScriptScoreQ):
        out.update(collect_terms(node.child))
    elif isinstance(node, A.CombinedFieldsQ):
        out.update((f, t) for f, _ in node.fields for t in node.terms)
    elif isinstance(node, A.DisMaxQ):
        for c in node.queries:
            out.update(collect_terms(c))
    elif isinstance(node, A.BoolQ):
        for c in (node.must + node.must_not + node.should
                  + getattr(node, "filter", [])):
            out.update(collect_terms(c))
    elif isinstance(node, A.BoostQ):
        out.update(collect_terms(node.child))
    elif isinstance(node, A.ConstScoreQ):
        out.update(collect_terms(node.child))
    elif isinstance(node, A.FunctionScoreQ):
        out.update(collect_terms(node.child))
    elif isinstance(node, A.BoostingQ):
        out.update(collect_terms(node.positive))
        out.update(collect_terms(node.negative))
    return out


_NORM_ARRAY_CACHE: Column | None = None


def _norm_array() -> Column:
    global _NORM_ARRAY_CACHE
    if _NORM_ARRAY_CACHE is None:
        _NORM_ARRAY_CACHE = F.array(*[F.lit(v) for v in bm25.FIELDNORM_TABLE])
    return _NORM_ARRAY_CACHE
