"""ES-style percolator: reverse search over REGISTERED queries.

The ES percolator stores queries in an index and asks, per incoming
document, "which saved queries match this doc?" — the primitive behind
saved searches, alerting, and routing.  BEYOND-REFERENCE (toshi exposes
no percolate endpoint); semantics follow the ES percolate query with
this engine's documented query pins (phrase-slop per-adjacent-pair
windows, tantivy pure-negative bool = empty, expansion queries
constant-score — scoring is irrelevant here, percolation is boolean
membership).

Spark-first execution shape
---------------------------
ES percolation is per-doc candidate pruning + per-doc evaluation.  The
Spark inversion: queries are FEW (a saved-search registry; at most
thousands) and docs are MANY, so

1. ONE Arrow-batched pandas UDF pass per referenced text field builds
   an in-row ``term -> sorted positions`` map (``analyze_token``, the
   same analyzer kernel the index build uses) — zero shuffle, no joins;
2. every registered query compiles ONCE (driver-side) to a JVM Column
   predicate over those maps + the raw doc columns — term lookups are
   ``map[key] IS NOT NULL``, phrase/span chains are the IDENTICAL
   higher-order-function window chains the search path uses
   (operators/search.py _cand_phrase/_cand_span), ranges are plain
   column compares;
3. the matched-query set is one ``array(when(pred, name)...)`` +
   ``filter`` — the whole percolation is a single map-only projection
   (no exchange, no collect), so it runs unchanged over a streaming
   DataFrame (readStream -> percolate -> writeStream alerting) and
   scales with doc volume only: 100 TB of docs percolate as a map-only
   scan; query count only widens the projection.

Membership parity with the search path is pinned by pytest
(tests/test_percolate.py): for every supported node shape,
``percolate(corpus)`` marks doc d for query q  <=>  d is in the
engine's full hit set for q on an index of the same corpus.

Supported nodes: term, terms (set), bool (must/should/must_not/filter
+ minimum_should_match), phrase (slop, in_order), match_phrase_prefix,
prefix, wildcard (parse-time rewrite), regexp (anchored, per the
termdict rule), fuzzy with transpositions=false (OSA == Levenshtein
there; the JVM levenshtein IS the exact check), exists, range, all,
constant_score / boost (membership = child's), boosting (membership =
positive's — negative only demotes scores), dis_max (membership =
clause union), function_score (membership = child's), span family.
Rejected at REGISTRATION time with a clear QueryError: ids (unindexed
docs have no docids), fuzzy with transpositions=true (needs the OSA
scorer, not expressible as a JVM predicate).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.plans.schema import IndexSchema

_TEXTY = (A.TermQ, A.PhraseQ, A.PrefixQ, A.TermSetQ, A.PhrasePrefixQ,
          A.SpanNearQ, A.SpanNotQ, A.FuzzyQ, A.RegexQ)
# node kinds whose compiled match reads map keys or raw columns, never
# position arrays: positions_plan gives them no terms
_KEY_ONLY = (A.TermQ, A.TermSetQ, A.PrefixQ, A.RegexQ, A.FuzzyQ,
             A.ExistsQ, A.RangeQ, A.AllQ)


def _tmap_udf(tokenizer: str, pos_terms: frozenset | None = None):
    """Arrow-batched text -> {term: [positions]} map builder (in-row:
    a doc's positions never leave its row, so this is map-only).

    Same memoized analyze chain as the build pipeline's per-doc
    postings UDF (build.py make_perdoc_postings_udf): the original
    token is the memo key, so byte-length check + lowercase + stem cost
    ~one dict hit per occurrence — the distinct-token working set
    dominates, not token volume.

    ``pos_terms`` is the position-pruning plan (positions_plan): the
    compiled predicates read POSITION ARRAYS only for phrase/span chain
    terms, which are known at registration — every other key only needs
    to EXIST in the map (term/terms/prefix/regex/fuzzy/exists are key
    lookups).  With a set, non-chain terms carry an empty array, so the
    Arrow transfer back to the JVM shrinks from O(tokens) ints per doc
    to O(chain-term occurrences); None keeps full positions (needed
    under phrase_prefix, which expands against arbitrary keys).
    Membership output is bit-identical either way (pinned by the
    test_percolate parity suite)."""
    from pyspark.sql.functions import pandas_udf

    _MAP_T = T.MapType(T.StringType(), T.ArrayType(T.IntegerType()))

    if tokenizer == "raw":
        @pandas_udf(_MAP_T)
        def tmap_raw(texts: pd.Series) -> pd.Series:
            return pd.Series([
                {} if t is None or t == "" else {t: [0]} for t in texts])

        return tmap_raw

    from sonar_tantivy_spark.analyzer import _TOKEN_RE, analyze_token

    findall = _TOKEN_RE.findall
    do_stem = tokenizer == "en_stem"
    memo: dict[str, str | None] = {}
    _no_pos: list[int] = []  # shared empty positions value

    @pandas_udf(_MAP_T)
    def tmap(texts: pd.Series) -> pd.Series:
        out = []
        memo_get = memo.get
        keep = pos_terms
        for text in texts:
            d: dict[str, list[int]] = {}
            if text is not None:
                for pos, tok in enumerate(findall(text)):
                    a = memo_get(tok, "\x00")
                    if a == "\x00":
                        a = memo[tok] = analyze_token(tok, do_stem)
                    if a is None:
                        continue
                    if keep is not None and a not in keep:
                        if a not in d:
                            d[a] = _no_pos
                        continue
                    lst = d.get(a)
                    if lst is None or lst is _no_pos:
                        d[a] = [pos]
                    else:
                        lst.append(pos)
            out.append(d)
        return pd.Series(out)

    return tmap


def referenced_text_fields(node: A.Node, schema: IndexSchema) -> set[str]:
    """Indexed fields whose term/position map the predicate needs."""
    out: set[str] = set()

    def walk(n: A.Node) -> None:
        if isinstance(n, _TEXTY):
            out.add(n.field)
        elif isinstance(n, A.SpanFirstQ):
            walk(n.child)
        elif isinstance(n, A.ExistsQ):
            f = schema.field(n.field)
            if f is not None and f.indexed and f.tokenizer is not None:
                out.add(n.field)
        elif isinstance(n, A.BoolQ):
            for c in n.must + n.must_not + n.should + n.filter:
                walk(c)
        elif isinstance(n, A.DisMaxQ):
            for c in n.queries:
                walk(c)
        elif isinstance(n, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
            walk(n.child)
        elif isinstance(n, A.BoostingQ):
            walk(n.positive)
            walk(n.negative)

    walk(node)
    return out


def positions_plan(queries: dict[str, A.Node],
                   schema: IndexSchema) -> dict[str, frozenset | None]:
    """Per referenced text field: the set of analyzed terms whose
    POSITION ARRAYS the compiled predicates will read (phrase / span
    chains), or None when the field must keep full positions (a
    phrase_prefix reads positions of arbitrary prefix-matched keys).
    Fields referenced only by key-lookup shapes get an empty set —
    their maps carry keys with empty position arrays.  Fails closed: a
    node kind this walk does not know keeps full positions on every
    text field it references."""
    out: dict[str, frozenset | None] = {}
    acc: dict[str, set | None] = {}

    def _add(field: str, terms) -> None:
        cur = acc.setdefault(field, set())
        if cur is not None:
            cur.update(terms)

    def walk(n: A.Node) -> None:
        if isinstance(n, A.PhraseQ):
            _add(n.field, n.terms)
        elif isinstance(n, A.PhrasePrefixQ):
            acc[n.field] = None  # expands against arbitrary keys
        elif isinstance(n, A.SpanNearQ):
            for c in n.clauses:
                _add(n.field, c)
        elif isinstance(n, A.SpanFirstQ):
            walk(n.child)
        elif isinstance(n, A.SpanNotQ):
            _add(n.field, n.include)
            _add(n.field, n.exclude)
        elif isinstance(n, A.BoolQ):
            for c in n.must + n.must_not + n.should + n.filter:
                walk(c)
        elif isinstance(n, A.DisMaxQ):
            for c in n.queries:
                walk(c)
        elif isinstance(n, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
            walk(n.child)
        elif isinstance(n, A.BoostingQ):
            walk(n.positive)
            walk(n.negative)
        elif not isinstance(n, _KEY_ONLY):
            for f in referenced_text_fields(n, schema):
                acc[f] = None

    for node in queries.values():
        walk(node)
    for f in {ff for node in queries.values()
              for ff in referenced_text_fields(node, schema)}:
        terms = acc.get(f, set())
        out[f] = None if terms is None else frozenset(terms)
    return out


def validate_for_percolation(node: A.Node, schema: IndexSchema) -> None:
    """Reject, AT REGISTRATION, queries percolation cannot answer.
    A clear error when the query is saved beats a late AnalysisException
    when the first batch arrives."""
    if isinstance(node, A.IdsQ):
        raise A.QueryError(
            "ids queries cannot be percolated: incoming documents are "
            "not indexed and have no docids")
    if isinstance(node, A.FuzzyQ) and node.transposition:
        raise A.QueryError(
            "fuzzy with transpositions=true cannot be percolated "
            "(needs the OSA scorer); use transpositions=false")
    for f in referenced_text_fields(node, schema):
        fdef = schema.field(f)
        if fdef is None or not fdef.indexed or fdef.tokenizer is None:
            raise A.QueryError(
                f"field {f!r} is not an indexed text field")
    if isinstance(node, A.BoolQ):
        for c in node.must + node.must_not + node.should + node.filter:
            validate_for_percolation(c, schema)
    elif isinstance(node, A.DisMaxQ):
        for c in node.queries:
            validate_for_percolation(c, schema)
    elif isinstance(node, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
        validate_for_percolation(node.child, schema)
    elif isinstance(node, A.BoostingQ):
        validate_for_percolation(node.positive, schema)
        validate_for_percolation(node.negative, schema)
    elif isinstance(node, A.SpanFirstQ):
        validate_for_percolation(node.child, schema)


def _empty() -> Column:
    """The empty position array.  Built per use: a module-level Column
    would need an active SparkSession at import time."""
    return F.array().cast("array<int>")


class _Compiler:
    """AST node -> boolean Column over __tmap_* + raw doc columns."""

    def __init__(self, schema: IndexSchema,
                 tmap: Callable[[str], Column]):
        self.schema = schema
        self.tmap = tmap

    # position array for one analyzed term (empty when absent)
    def _pos(self, field: str, term: str) -> Column:
        return F.coalesce(self.tmap(field).getItem(term), _empty())

    def _has(self, field: str, term: str) -> Column:
        return self.tmap(field).getItem(term).isNotNull()

    def _chain(self, field: str, clause_pos: list[Column],
               slop: int, in_order: bool) -> Column:
        """Surviving final-clause positions under the engine's
        per-adjacent-pair window pin (search.py _cand_phrase/_cand_span:
        slop=0 -> shifted intersect; ordered -> p < q <= p+1+slop;
        transposing -> |q-(p+1)| <= slop and q != p)."""
        m = clause_pos[0]
        for nxt in clause_pos[1:]:
            if slop == 0 and in_order:
                m = F.array_intersect(F.transform(m, lambda x: x + 1), nxt)
            elif in_order:
                prev = m
                m = F.filter(nxt, lambda q: F.exists(
                    prev, lambda p: (q > p) & (q <= p + 1 + slop)))
            else:
                prev = m
                m = F.filter(nxt, lambda q: F.exists(
                    prev, lambda p: (q != p)
                    & (q >= p + 1 - slop) & (q <= p + 1 + slop)))
        return m

    def compile(self, node: A.Node) -> Column:
        if isinstance(node, A.TermQ):
            return self._has(node.field, node.term)
        if isinstance(node, A.TermSetQ):
            if not node.terms:
                return F.lit(False)
            out = self._has(node.field, node.terms[0])
            for t in node.terms[1:]:
                out = out | self._has(node.field, t)
            return out
        if isinstance(node, A.PrefixQ):
            if not node.prefix:
                return F.lit(False)
            return F.exists(F.map_keys(self.tmap(node.field)),
                            lambda k: k.startswith(node.prefix))
        if isinstance(node, A.RegexQ):
            # same anchoring as the termdict scan (_cand_regex)
            pat = "^(?:" + node.pattern + ")$"
            return F.exists(F.map_keys(self.tmap(node.field)),
                            lambda k: k.rlike(pat))
        if isinstance(node, A.FuzzyQ):
            # transpositions=false only (validated): OSA == Levenshtein
            d = int(node.distance)
            pfx = node.term[:int(getattr(node, "prefix_length", 0))]
            return F.exists(
                F.map_keys(self.tmap(node.field)),
                lambda k: k.startswith(pfx)
                & (F.levenshtein(k, F.lit(node.term)) <= d))
        if isinstance(node, A.PhraseQ):
            terms = node.terms
            if not terms:
                return F.lit(False)
            if len(terms) == 1:
                return self._has(node.field, terms[0])
            pos = [self._pos(node.field, t) for t in terms]
            m = self._chain(node.field, pos,
                            int(getattr(node, "slop", 0) or 0),
                            bool(getattr(node, "in_order", True)))
            return F.size(m) > 0
        if isinstance(node, A.PhrasePrefixQ):
            if not node.prefix:
                return F.lit(False)
            keys = F.map_keys(self.tmap(node.field))
            pfx_pos = F.array_sort(F.flatten(F.filter(
                F.transform(keys, lambda k: F.when(
                    k.startswith(node.prefix),
                    F.element_at(self.tmap(node.field), k))
                    .otherwise(_empty())),
                lambda a: F.size(a) > 0)))
            pos = [self._pos(node.field, t) for t in node.terms]
            pos.append(pfx_pos)
            m = self._chain(node.field, pos, 0, True)
            return F.size(m) > 0
        if isinstance(node, A.SpanNearQ):
            return F.size(self._span_chain(node)) > 0
        if isinstance(node, A.SpanFirstQ):
            end = int(node.end)
            m = self._span_chain(node.child)
            return F.size(F.filter(m, lambda q: q + 1 <= end)) > 0
        if isinstance(node, A.SpanNotQ):
            inc = self._union_pos(node.field, node.include)
            ex = self._union_pos(node.field, node.exclude)
            pre, post = int(node.pre), int(node.post)
            m = F.filter(inc, lambda q: ~F.exists(
                ex, lambda e: (e >= q - pre) & (e <= q + post)))
            return F.size(m) > 0
        if isinstance(node, A.ExistsQ):
            fdef = self.schema.field(node.field)
            if fdef is not None and fdef.indexed and fdef.tokenizer is not None:
                return F.size(F.map_keys(self.tmap(node.field))) > 0
            return F.col(node.field).isNotNull()
        if isinstance(node, A.RangeQ):
            fdef = self.schema.field(node.field)
            is_date = fdef is not None and fdef.type == "date"
            col = F.col(node.field)

            def cv(v):
                return F.lit(v).cast(T.TimestampType()) if is_date else F.lit(v)

            cond = F.lit(True)
            if node.gte is not None:
                cond = cond & (col >= cv(node.gte))
            if node.gt is not None:
                cond = cond & (col > cv(node.gt))
            if node.lte is not None:
                cond = cond & (col <= cv(node.lte))
            if node.lt is not None:
                cond = cond & (col < cv(node.lt))
            return cond
        if isinstance(node, A.AllQ):
            return F.lit(True)
        if isinstance(node, A.BoolQ):
            return self._bool(node)
        if isinstance(node, A.DisMaxQ):
            if not node.queries:
                return F.lit(False)
            out = self.compile(node.queries[0])
            for c in node.queries[1:]:
                out = out | self.compile(c)
            return out
        if isinstance(node, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
            return self.compile(node.child)
        if isinstance(node, A.BoostingQ):
            # negative only demotes; membership is exactly positive's
            return self.compile(node.positive)
        raise A.QueryError(
            f"cannot percolate {type(node).__name__}")

    def _union_pos(self, field: str, alts) -> Column:
        arrs = [self._pos(field, t) for t in dict.fromkeys(alts)]
        if not arrs:
            return _empty()
        if len(arrs) == 1:
            return arrs[0]
        return F.array_sort(F.array_distinct(F.concat(*arrs)))

    def _span_chain(self, node: A.SpanNearQ) -> Column:
        pos = [self._union_pos(node.field, c) for c in node.clauses]
        if not pos:
            return _empty()
        return self._chain(node.field, pos, int(node.slop),
                           bool(node.in_order))

    def _bool(self, node: A.BoolQ) -> Column:
        # tantivy pin: a bool with no positive clause matches nothing,
        # even when every must_not clause is false (search path parity)
        if not (node.must or node.filter or node.should):
            return F.lit(False)
        cond = F.lit(True)
        for c in node.must + node.filter:
            cond = cond & self.compile(c)
        for c in node.must_not:
            cond = cond & ~self.compile(c)
        if node.should:
            ms = int(node.min_should or 0)
            if ms <= 0:
                # ES default: shoulds optional iff a must/filter exists
                ms = 0 if (node.must or node.filter) else 1
            if ms > 0:
                n_match = sum(
                    (self.compile(c).cast("int") for c in node.should),
                    F.lit(0))
                cond = cond & (n_match >= ms)
        return cond


def percolate_df(df: DataFrame, schema: IndexSchema,
                 queries: dict[str, A.Node],
                 keep_cols: list[str] | None = None,
                 explode: bool = True) -> DataFrame:
    """Match every registered query against every row of ``df``.

    One pandas-UDF tokenize pass per REFERENCED text field + one
    projection — map-only, streaming-safe.  ``explode=True`` returns
    (keep_cols..., query_name) pairs (docs matching nothing disappear,
    the alerting shape); ``explode=False`` returns every doc with its
    ``matched_queries`` array (the ES response shape)."""
    fields: set[str] = set()
    for node in queries.values():
        fields |= referenced_text_fields(node, schema)
    pos_plan = positions_plan(queries, schema)
    out = df
    for f in sorted(fields):
        out = out.withColumn(
            f"__tmap_{f}",
            _tmap_udf(schema.tokenizer_for(f),
                      pos_terms=pos_plan.get(f))(F.col(f)))

    comp = _Compiler(schema, lambda f: F.col(f"__tmap_{f}"))
    matched = F.array_compact(F.array(*[
        F.when(comp.compile(node), F.lit(name)).otherwise(F.lit(None))
        for name, node in sorted(queries.items())
    ])) if queries else F.array().cast("array<string>")

    keep = keep_cols if keep_cols is not None else df.columns
    out = out.withColumn("matched_queries", matched).select(
        *keep, "matched_queries")
    if not explode:
        return out
    return (out.select(*keep,
                       F.explode("matched_queries").alias("query_name")))
