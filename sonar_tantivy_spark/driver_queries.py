"""Driver-contract queries: each operator from SURVEY.md §2 (plus the
training-data-pipeline operators) expressed twice —

  * a Spark DataFrame program over the driver's parquet tables
    (documents / embeddings / events), using the engine's real analyzer
    and BM25 math, and
  * an equivalent ANSI-SQL oracle string for DuckDB.

Both sides quantize doc lengths through the SAME fieldnorm table and
order top-k by (round(score, 7) DESC, id ASC) so the top-k boundary is
deterministic across engines; emitted scores are rounded to 4 decimals.

The ``documents`` corpus is lowercase single-space ASCII (31-word
vocabulary), so the SQL oracle tokenizes with string_split and applies
the Porter2 stem map as an inline VALUES table computed from the same
stemmer the engine uses.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sonar_tantivy_spark.functions import bm25
from sonar_tantivy_spark.functions.porter2 import stem
from sonar_tantivy_spark.operators.build import make_tokenize_udf

K1, B = bm25.K1, bm25.B

# Porter2 stems for the documents vocabulary (only non-fixed-points).
_DOC_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
STEM_MAP = {w: stem(w) for w in _DOC_VOCAB if stem(w) != w}

_CACHE: dict[str, dict] = {}


def clear_cache() -> None:
    """Unpersist and drop every cached full-text intermediate.  A
    long-lived session that touches many sf_dirs would otherwise grow
    executor storage without bound (the persisted postings / doclen /
    termdf per sf_dir are never evicted); the contract runner calls this
    between sf_dirs."""
    for key in list(_CACHE):
        t = _CACHE.pop(key)
        for name in ("postings", "doclen", "termdf"):
            df = t.get(name)
            if df is not None:
                df.unpersist()


# ---------------------------------------------------------------- Spark side
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ft(spark: SparkSession, sf_dir: str) -> dict:
    """Shared full-text intermediates (postings / doclens / stats),
    persisted once per sf_dir within the session."""
    key = f"{sf_dir}::{id(spark)}"
    if key in _CACHE:
        return _CACHE[key]
    docs = _docs(spark, sf_dir)
    udf = make_tokenize_udf("en_stem")
    toks = (
        docs.select("doc_id", udf(F.col("text")).alias("tk"))
        .select("doc_id",
                F.explode(F.arrays_zip(F.col("tk.terms"), F.col("tk.poss"))).alias("e"))
        .select("doc_id", F.col("e.terms").alias("term"), F.col("e.poss").alias("pos"))
    )
    postings = (
        toks.groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("tf"),
             F.sort_array(F.collect_list("pos")).alias("positions"))
        .persist()
    )
    norm_rows = [
        (nid, lo, bm25.FIELDNORM_TABLE[nid + 1] if nid < 255 else (1 << 62))
        for nid, lo in enumerate(bm25.FIELDNORM_TABLE)
    ]
    norm_df = spark.createDataFrame(norm_rows, "norm_id int, lo long, hi long")
    doclen = (
        postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("len"))
        .join(F.broadcast(norm_df),
              on=(F.col("len") >= F.col("lo")) & (F.col("len") < F.col("hi")))
        .select("doc_id", "len", F.col("lo").alias("dl"))
        .persist()
    )
    n_docs = docs.count()
    total_tokens = doclen.agg(F.sum("len")).collect()[0][0]
    avgdl = float(total_tokens) / n_docs
    termdf = postings.groupBy("term").agg(F.count("*").cast("long").alias("df")).persist()
    out = {"docs": docs, "postings": postings, "doclen": doclen,
           "termdf": termdf, "N": n_docs, "avgdl": avgdl}
    _CACHE[key] = out
    return out


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, score) — per-term BM25 with quantized doc length."""
    t = _ft(spark, sf_dir)
    n, avgdl = float(t["N"]), t["avgdl"]
    idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    p = t["postings"].join(t["termdf"], on="term").join(t["doclen"], on="doc_id")
    tf = F.col("tf").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B / avgdl) * F.col("dl").cast("double"))
    return p.select("doc_id", "term", (idf * F.lit(K1 + 1.0) * tf / denom).alias("score"))


def _topk(df: DataFrame, score_col: str = "score", id_col: str = "doc_id",
          k: int = 10) -> DataFrame:
    return (
        df.orderBy(F.desc(F.round(F.col(score_col), 7)), F.asc(id_col)).limit(k)
        .withColumn(score_col, F.round(F.col(score_col), 4))
    )


# full-text ---------------------------------------------------------------
def q_ft_term_bm25(spark, sf_dir):
    return _topk(_scored(spark, sf_dir).filter(F.col("term") == "valu")
                 .select("doc_id", "score"))


def q_ft_bool_must(spark, sf_dir):
    s = _scored(spark, sf_dir)
    a = s.filter(F.col("term") == "tabl").select("doc_id", F.col("score").alias("sa"))
    b = s.filter(F.col("term") == "row").select("doc_id", F.col("score").alias("sb"))
    return _topk(a.join(b, on="doc_id").select(
        "doc_id", (F.col("sa") + F.col("sb")).alias("score")))


def q_ft_bool_should(spark, sf_dir):
    s = _scored(spark, sf_dir).filter(F.col("term").isin("tabl", "row"))
    return _topk(s.groupBy("doc_id").agg(F.sum("score").alias("score")))


def q_ft_bool_msm(spark, sf_dir):
    """Bool should-OR of ('tabl', 'row', 'hash') with
    minimum_should_match=2 (round-5 surface; toshi BoolQuery carries
    the field, semantics are the ES/Lucene contract): a doc matches iff
    >= 2 of the clauses match; score stays the plain sum over ALL
    matching clauses.  Engine analog: search.py _cand_bool(_terms_fast)
    __smc counting."""
    s = _scored(spark, sf_dir).filter(
        F.col("term").isin("tabl", "row", "hash"))
    return _topk(
        s.groupBy("doc_id")
        .agg(F.sum("score").alias("score"), F.count("*").alias("nm"))
        .filter(F.col("nm") >= 2).drop("nm"))


def q_ft_bool_filter(spark, sf_dir):
    """Bool must 'tabl' + FILTER 'hash' (round-5 surface; ES filter
    context, toshi reserves the key): the filter constrains the match
    set but contributes nothing to the score — hits score exactly as
    the bare term query.  Engine analog: search.py _cand_bool
    _apply_filters (left-semi join, filter never enters the scoring
    aggregation)."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "tabl") \
        .select("doc_id", "score")
    fl = t["postings"].filter(F.col("term") == "hash").select("doc_id")
    return _topk(s.join(fl, on="doc_id", how="left_semi"))


def q_ft_must_not(spark, sf_dir):
    s = _scored(spark, sf_dir)
    pos = s.filter(F.col("term") == "tabl").select("doc_id", "score")
    neg = _ft(spark, sf_dir)["postings"].filter(F.col("term") == "slow").select("doc_id")
    return _topk(pos.join(neg, on="doc_id", how="left_anti"))


def q_ft_phrase(spark, sf_dir):
    t = _ft(spark, sf_dir)
    p = t["postings"]
    a = p.filter(F.col("term") == "tabl").select("doc_id", F.col("positions").alias("pa"))
    b = p.filter(F.col("term") == "hash").select("doc_id", F.col("positions").alias("pb"))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.array_intersect(F.transform("pa", lambda x: x + 1), F.col("pb"))
    ).filter(F.size("m") > 0)
    n, avgdl = float(t["N"]), t["avgdl"]
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin("tabl", "hash")).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in ("tabl", "hash"))
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B / avgdl) * F.col("dl").cast("double"))
    return _topk(j.select("doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_span_near(spark, sf_dir):
    """span_near [span_term 'tabl', span_or('row','hash')] slop=2
    ordered (Lucene span semantics, engine pin at plans/ast.py
    SpanNearQ): clause-1 positions are the union of the alternatives'
    arrays; a position q survives iff some 'tabl' position p has
    p < q <= p + 1 + slop; tf = surviving positions, idf = Σ over the
    live alternatives.  One postings scan + one aggregation exchange
    at any scale (operators/search.py _cand_span)."""
    t = _ft(spark, sf_dir)
    p, slop = t["postings"], 2
    a = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pa"))
    b = (p.filter(F.col("term").isin("row", "hash"))
         .groupBy("doc_id")
         .agg(F.array_sort(F.array_distinct(
             F.flatten(F.collect_list("positions")))).alias("pb")))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.filter("pb", lambda q: F.exists(
            "pa", lambda pp: (q > pp) & (q <= pp + 1 + slop)))
    ).filter(F.size("m") > 0)
    terms = ("tabl", "row", "hash")
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin(*terms)).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in terms if x in dfs)
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B)
                              + F.lit(B / t["avgdl"]) * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_span_first(spark, sf_dir):
    """span_first(span_term 'valu', end=4): matches whose span END
    (position + 1 for a single term) is <= 4 — the Lucene
    SpanFirstQuery rule; tf = qualifying positions."""
    t = _ft(spark, sf_dir)
    end = 4
    j = (t["postings"].filter(F.col("term") == "valu")
         .withColumn("m", F.filter("positions", lambda q: q + 1 <= F.lit(end)))
         .filter(F.size("m") > 0))
    df_t = t["termdf"].filter(F.col("term") == "valu").collect()
    idf = bm25.idf(df_t[0]["df"], t["N"]) if df_t else 0.0
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B)
                              + F.lit(B / t["avgdl"]) * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_span_within(spark, sf_dir):
    """span_within: little = span_term 'row' inside big = the RIGID
    chain [span_term 'tabl', span_or('row','hash')] (slop 0, ordered —
    the engine's parse-time pin, plans/ast.py SpanContainQ: rigid
    chains are the only shape whose span extents are exact).  A big
    span ending at q covers [q−1, q]; a little 'row' position survives
    iff it falls inside one — positions hold one token each, so that
    means 'row' IS the chain's second slot with 'tabl' at q−1.
    tf = surviving little positions, idf = the LITTLE term only
    (Lucene SpanWithinQuery scores from little).  One postings scan +
    one aggregation exchange at any scale
    (operators/search.py _cand_span_contain)."""
    t = _ft(spark, sf_dir)
    p = t["postings"]
    a = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pa"))
    b = (p.filter(F.col("term").isin("row", "hash"))
         .groupBy("doc_id")
         .agg(F.array_sort(F.array_distinct(
             F.flatten(F.collect_list("positions")))).alias("pb")))
    little = p.filter(F.col("term") == "row").select(
        "doc_id", F.col("positions").alias("pl"))
    j = (a.join(b, on="doc_id").join(little, on="doc_id")
         .withColumn("ends", F.filter("pb", lambda q: F.exists(
             "pa", lambda pp: q == pp + 1)))
         .withColumn("m", F.filter("pl", lambda pp: F.exists(
             "ends", lambda q: (pp >= q - 1) & (pp <= q))))
         .filter(F.size("m") > 0))
    df_t = t["termdf"].filter(F.col("term") == "row").collect()
    idf = bm25.idf(df_t[0]["df"], t["N"]) if df_t else 0.0
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B)
                              + F.lit(B / t["avgdl"])
                              * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_intervals(spark, sf_dir):
    """ES ``intervals`` query, all_of {tabl, row} max_gaps=2 UNORDERED
    (round-5 surface): the rewrite layer compiles intervals onto the
    span machinery (plans/ast.py _intervals_node → SpanNearQ), so this
    pins the unordered per-adjacent-pair window the rewrite produces:
    a 'row' position q survives iff some 'tabl' position p has q != p
    and |q − (p+1)| <= 2; tf = surviving positions, idf = both terms.
    Same one-scan + one-exchange plan as the span family."""
    t = _ft(spark, sf_dir)
    p, slop = t["postings"], 2
    a = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pa"))
    b = p.filter(F.col("term") == "row").select(
        "doc_id", F.col("positions").alias("pb"))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.filter("pb", lambda q: F.exists(
            "pa", lambda pp: (q != pp) & (q >= pp + 1 - slop)
            & (q <= pp + 1 + slop)))
    ).filter(F.size("m") > 0)
    terms = ("tabl", "row")
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin(*terms)).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in terms if x in dfs)
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B)
                              + F.lit(B / t["avgdl"])
                              * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_span_not(spark, sf_dir):
    """span_not: include 'valu' positions surviving unless a 'tabl'
    position lies in [p-1, p+2] (pre=1, post=2 — exact Lucene
    single-term-span semantics, plans/ast.py SpanNotQ); tf = survivors,
    idf = the include term only (exclusion contributes no stats).  One
    postings scan + one left join on doc_id at any scale."""
    t = _ft(spark, sf_dir)
    p, pre, post = t["postings"], 1, 2
    a = p.filter(F.col("term") == "valu").select(
        "doc_id", F.col("positions").alias("pa"))
    b = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pb"))
    j = a.join(b, on="doc_id", how="left").withColumn(
        "m", F.when(F.col("pb").isNull(), F.col("pa")).otherwise(
            F.filter("pa", lambda q: ~F.exists(
                "pb", lambda e: (e >= q - pre) & (e <= q + post))))
    ).filter(F.size("m") > 0)
    df_t = t["termdf"].filter(F.col("term") == "valu").collect()
    idf = bm25.idf(df_t[0]["df"], t["N"]) if df_t else 0.0
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B)
                              + F.lit(B / t["avgdl"]) * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_percolate(spark, sf_dir):
    """Percolation (reverse search, ES percolate-query shaped): three
    SAVED queries — a term, an ordered sloppy phrase, a bool with a
    must_not — evaluated against every document in ONE map-only pass
    (operators/percolate.py: one Arrow tokenize per referenced field +
    compiled JVM predicates, zero exchanges; the same transform
    percolates a readStream for alerting).  Output = the (doc,
    saved-query) alert pairs."""
    from sonar_tantivy_spark.operators.percolate import percolate_df
    from sonar_tantivy_spark.plans import ast as A
    from sonar_tantivy_spark.plans.schema import IndexSchema

    schema = IndexSchema.from_json(
        '[{"name": "text", "type": "text", "options": {"indexing": '
        '{"record": "position", "tokenizer": "en_stem"}, "stored": true}}]')
    saved = {
        "perc_term": A.TermQ("text", "valu"),
        "perc_slop": A.PhraseQ("text", ["valu", "tabl"], slop=2),
        "perc_bool": A.BoolQ(must=[A.TermQ("text", "row")],
                             must_not=[A.TermQ("text", "hash")]),
    }
    out = percolate_df(_docs(spark, sf_dir), schema, saved,
                       keep_cols=["doc_id"])
    return out.orderBy("doc_id", "query_name")


def q_ft_all(spark, sf_dir):
    """AllQuery: every document, constant score 1.0, docid tie-break
    (tantivy AllQuery semantics, search.rs:60)."""
    return (_docs(spark, sf_dir)
            .select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id").limit(10))


def q_ft_phrase3(spark, sf_dir):
    """3-term phrase — generalized adjacency chain over the CACHED
    postings' position arrays (no second tokenizer pass; the engine's
    own plan shape, search.py _cand_phrase)."""
    t = _ft(spark, sf_dir)
    terms = ("slow", "hash", "batch")
    p = t["postings"]
    parts = [
        p.filter(F.col("term") == term)
        .select("doc_id", F.col("positions").alias(f"p{i}"))
        for i, term in enumerate(terms)
    ]
    j = parts[0].join(parts[1], on="doc_id").join(parts[2], on="doc_id")
    m = F.array_intersect(F.transform("p0", lambda x: x + 1), F.col("p1"))
    m = F.array_intersect(F.transform(m, lambda x: x + 1), F.col("p2"))
    adj = (j.withColumn("ptf", F.size(m).cast("int"))
           .filter(F.col("ptf") > 0).select("doc_id", "ptf"))
    n, avgdl = float(t["N"]), t["avgdl"]
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin(*terms)).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in terms)
    j = adj.join(t["doclen"], on="doc_id")
    tf = F.col("ptf").cast("double")
    denom = tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B / avgdl) * F.col("dl").cast("double"))
    return _topk(j.select("doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_boost(spark, sf_dir):
    """Grammar `valu^2 spark`: BoostQuery multiplies the clause score
    before the should-sum (tantivy BoostQuery via the ^ suffix)."""
    s = _scored(spark, sf_dir).filter(F.col("term").isin("valu", "spark"))
    boosted = F.when(F.col("term") == "valu",
                     F.col("score") * 2).otherwise(F.col("score"))
    return _topk(s.select("doc_id", boosted.alias("score"))
                 .groupBy("doc_id").agg(F.sum("score").alias("score")))


def q_ft_grammar_group(spark, sf_dir):
    """Grammar `(tabl OR row) AND spark`: parenthesized should-group as a
    must clause — docs need >=1 of {tabl, row} AND spark; score = group
    sum + spark score."""
    s = _scored(spark, sf_dir)
    grp = (s.filter(F.col("term").isin("tabl", "row"))
           .groupBy("doc_id").agg(F.sum("score").alias("gs")))
    sp = s.filter(F.col("term") == "spark").select("doc_id",
                                                   F.col("score").alias("ss"))
    return _topk(grp.join(sp, on="doc_id")
                 .select("doc_id", (F.col("gs") + F.col("ss")).alias("score")))


def q_ft_termdict(spark, sf_dir):
    return _ft(spark, sf_dir)["termdf"].select("term", "df")


def q_ft_stats(spark, sf_dir):
    t = _ft(spark, sf_dir)
    return t["doclen"].agg(
        F.count("*").cast("long").alias("num_docs"),
        F.sum("len").cast("long").alias("total_tokens"),
        F.round(F.sum("len") / F.count("*"), 6).alias("avgdl"),
    )


def q_ft_sort_fast_field(spark, sf_dir):
    t = _ft(spark, sf_dir)
    cand = t["postings"].filter(F.col("term") == "queri").select("doc_id")
    d = t["docs"].join(cand, on="doc_id").select("doc_id", "n_chars")
    return d.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(10)


def q_ft_range_filter_term(spark, sf_dir):
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "spark")
    rng = t["docs"].filter(F.col("n_chars").between(150, 400)).select("doc_id")
    # bool(must=[term, range]): range clause contributes constant 1.0
    return _topk(s.join(rng, on="doc_id").select(
        "doc_id", (F.col("score") + F.lit(1.0)).alias("score")))


def q_ft_regex(spark, sf_dir):
    p = _ft(spark, sf_dir)["postings"]
    return (p.filter(F.col("term").rlike("^(?:ta.*)$")).select("doc_id").distinct()
            .orderBy("doc_id"))


def q_ft_fuzzy(spark, sf_dir):
    p = _ft(spark, sf_dir)["postings"]
    return (p.filter(F.levenshtein(F.col("term"), F.lit("tabel")) <= 1)
            .select("doc_id").distinct().orderBy("doc_id"))


def q_ft_fuzzy_transposition(spark, sf_dir):
    """Fuzzy with transposition=true (swap = 1 edit, search.rs:48):
    'tbal' matches the stem 'tabl' at distance 1 only under Damerau —
    plain Levenshtein distance is 2, so transposition=false returns
    nothing here.  Same shape as the engine path: JVM prefilter over
    distinct terms, exact Arrow-batched OSA on the survivors."""
    from sonar_tantivy_spark.functions.strdist import jvm_prefilter, make_osa_udf

    t = _ft(spark, sf_dir)
    terms = (t["termdf"].select("term")
             .filter(jvm_prefilter(F.col("term"), "tbal", 1))
             .filter(make_osa_udf("tbal")(F.col("term")) <= 1))
    return (t["postings"].join(F.broadcast(terms), on="term", how="left_semi")
            .select("doc_id").distinct().orderBy("doc_id"))


def q_ft_facets(spark, sf_dir):
    t = _ft(spark, sf_dir)
    cand = t["postings"].filter(F.col("term") == "valu").select("doc_id")
    return (t["docs"].join(cand, on="doc_id")
            .groupBy("source").agg(F.count("*").cast("long").alias("cnt")))


def q_ft_facet_hierarchical(spark, sf_dir):
    """Hierarchical FacetCollector semantics (search.rs:32-42, 89-98):
    facet paths '/<lang>/<source>', requested root '/en' → counts of the
    immediate children '/en/<source>' among docs matching term 'valu'."""
    t = _ft(spark, sf_dir)
    cand = t["postings"].filter(F.col("term") == "valu").select("doc_id")
    path = F.concat(F.lit("/"), F.col("lang"), F.lit("/"), F.col("source"))
    d = t["docs"].join(cand, on="doc_id").withColumn("fpath", path)
    child = F.concat(F.lit("/en/"), F.element_at(F.split("fpath", "/"), 3))
    return (d.filter(F.col("fpath").startswith("/en/"))
            .groupBy(child.alias("facet"))
            .agg(F.count("*").cast("long").alias("cnt")))


# dedup --------------------------------------------------------------------
def q_dd_exact_fingerprint(spark, sf_dir):
    """Bag-of-words fingerprint dedup: md5 over the sorted distinct term
    set; groups with >1 member are near-dup clusters (exact hash-groupBy
    dedup at scale)."""
    p = _ft(spark, sf_dir)["postings"]
    fp = p.groupBy("doc_id").agg(
        F.md5(F.concat_ws(",", F.sort_array(F.collect_set("term")))).alias("fingerprint"))
    return (fp.groupBy("fingerprint").agg(F.count("*").cast("long").alias("cnt"))
            .filter(F.col("cnt") > 1))


def _text_groups(spark, sf_dir):
    """(doc_id, rep): exact-duplicate groups keyed by md5(text); rep =
    min doc_id of the group.  The collapse step that removes the
    hot-bucket quadratic from every pair generator: a crawl-scale corpus
    contains boilerplate duplicated millions of times, and a band bucket
    holding k mutually-identical docs would emit k(k-1)/2 pairs.
    Instead, banding / winnowing / verification run on representatives
    only, and members re-attach as O(k) star edges (rep, member).
    Identical text => identical shingles / minhash signatures / winnow
    minima, so the collapsed edge set connects exactly the same
    components as all-pairs would (dd_dup_clusters output is unchanged
    — pinned by tests/test_dedup_collapse.py).  Plan shape: one
    groupBy(md5) shuffle + one equi-join back on the fingerprint; a
    1M-member group is a 1M x 1 join, linear."""
    d = _docs(spark, sf_dir).select("doc_id", F.md5("text").alias("tfp"))
    reps = d.groupBy("tfp").agg(F.min("doc_id").alias("rep"))
    return d.join(reps, on="tfp").select("doc_id", "rep")


def _shingles(spark, sf_dir, reps=None):
    """3-gram token shingles per doc (distinct).  With ``reps`` (a
    (doc_id) DataFrame), only those docs are shingled — the
    exact-dup-collapse path."""
    docs = _docs(spark, sf_dir)
    if reps is not None:
        docs = docs.join(reps, on="doc_id")
    # guard: sequence(0, size-3) on a <3-token doc would count DOWN
    # (Spark's sequence auto-negates the step) and index past the array
    toks = (docs.select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= 3))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")
        ).alias("shingle"),
    ).distinct()
    return sh


N_MINHASH = 16  # 8 bands x 2 rows
N_BANDS = 8


def _minhash_sigs(spark, sf_dir, reps=None):
    """(doc_id, band, bsig): 16 MinHash values (min over shingles of
    md5(shingle||'|'||h)) grouped into 8 bands of 2 rows; a band's
    signature is the concat of its two minima.  Banding theory: a pair
    with Jaccard J collides in a band w.p. J^2, in >=1 of 8 bands w.p.
    1-(1-J^2)^8 (~0.90 at J=0.5, 1.0 for exact dups)."""
    sh = _shingles(spark, sf_dir, reps)
    # hash fan-out as a literal-array explode: pure projection, no join
    hs = F.explode(F.array(*[F.lit(i) for i in range(N_MINHASH)])).alias("h")
    mh = (
        sh.select("doc_id", "shingle", hs)
        .groupBy("doc_id", "h")
        .agg(F.min(F.md5(F.concat(F.col("shingle"), F.lit("|"),
                                  F.col("h").cast("string")))).alias("mh"))
    )
    return (
        mh.withColumn("band", (F.col("h") / 2).cast("int"))
        .groupBy("doc_id", "band")
        .agg(F.concat(
            F.min(F.when(F.col("h") % 2 == 0, F.col("mh"))),
            F.min(F.when(F.col("h") % 2 == 1, F.col("mh")))).alias("bsig"))
    )


def _collapsed_band_pairs(spark, sf_dir):
    """Shared collapse-then-band plan: returns (rep_pairs, stars, reps)
    where rep_pairs = (d1, d2, n_bands) between exact-dup
    REPRESENTATIVES sharing a band signature, and stars = (d1=rep,
    d2=member) edges for every non-representative member whose group
    produced a band signature (i.e. has >= 1 shingle) — exactly the
    groups whose members the old all-pairs plan would have paired.
    rep < member always (rep = group min), so d1 < d2 holds."""
    g = _text_groups(spark, sf_dir)
    reps = g.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    sig = _minhash_sigs(spark, sf_dir, reps)
    a, b = sig.alias("a"), sig.alias("b")
    rep_pairs = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bsig") == F.col("b.bsig"),
                      F.col("a.doc_id") < F.col("b.doc_id")])
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").cast("long").alias("n_bands"))
    )
    sig_docs = sig.select("doc_id").distinct().withColumnRenamed("doc_id", "rep")
    stars = (g.filter(F.col("doc_id") != F.col("rep"))
             .join(sig_docs, on="rep")
             .select(F.col("rep").alias("d1"), F.col("doc_id").alias("d2")))
    return rep_pairs, stars, reps


def q_dd_minhash_bands(spark, sf_dir):
    """MinHash+LSH candidate pairs with EXACT-DUP COLLAPSE: banding runs
    on one representative per identical-text group; members re-attach as
    star edges (rep, member, n_bands=8 — exact dups collide in every
    band).  A bucket of k identical docs therefore emits k-1 edges, not
    k(k-1)/2 — the 100 TB boilerplate case.  Bucket-join on (band,
    bsig) between representatives — never an all-pairs comparison."""
    rep_pairs, stars, _ = _collapsed_band_pairs(spark, sf_dir)
    return rep_pairs.unionByName(
        stars.withColumn("n_bands", F.lit(N_BANDS).cast("long")))


def q_dd_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard verification, CANDIDATE-BOUNDED and
    exact-dup-collapsed: only representative pairs surfaced by the
    MinHash bands are verified (never the all-pairs shingle self-join —
    at 100 TB that is O(sum df^2) on hot shingles); star edges join the
    output with jaccard = 1.0 by construction (identical text =>
    identical shingle sets).  Exact duplicates collide in every band, so
    J=1 pairs are never lost; J>=0.5 pairs surface w.p. ~0.90 per the
    banding curve."""
    rep_pairs, stars, reps = _collapsed_band_pairs(spark, sf_dir)
    cand = rep_pairs.select("d1", "d2")
    sh = _shingles(spark, sf_dir, reps)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        cand.join(a, on="d1").join(b, on=["d2", "shingle"])
        .groupBy("d1", "d2").agg(F.count("*").alias("i"))
    )
    verified = (
        inter.join(sizes.withColumnRenamed("doc_id", "d1")
                   .withColumnRenamed("sz", "sza"), on="d1")
        .join(sizes.withColumnRenamed("doc_id", "d2")
              .withColumnRenamed("sz", "szb"), on="d2")
        .withColumn("jaccard",
                    F.round(F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")), 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("d1", "d2", "jaccard")
    )
    return verified.unionByName(stars.withColumn("jaccard", F.lit(1.0)))


def q_dd_incremental_dedup(spark, sf_dir):
    """Incremental (cross-snapshot) near-dup dedup — the shape a GROWING
    100 TB corpus actually needs: a NEW batch (doc_id >= split, split =
    half the corpus here) is deduped against the EXISTING corpus and
    against its own earlier rows WITHOUT ever re-pairing old x old.
    Candidate volume is O(new-side band collisions): the band self-join
    keeps the full signature table on the build side but FILTERS the
    probe side to the new batch, so the old corpus is touched once as a
    lookup, never re-paired — per-ingest cost tracks the batch, not the
    corpus.  Verified (exact Jaccard >= 0.5, candidate-bounded) drops
    keep the FIRST occurrence by doc_id; output = (dropped new doc,
    dup_of = smallest verified partner).

    Scale caveats, stated not hidden: (a) the old side is assumed
    already deduped — the invariant this operator itself maintains, so
    old-side exact-dup groups don't exist; (b) a huge exact-dup group
    WITHIN one new batch still pairs quadratically here — the
    _collapsed_band_pairs machinery (dd_minhash_bands) is the drop-in
    fix when batches carry massive boilerplate groups."""
    docs = _docs(spark, sf_dir)
    split = (int(docs.agg(F.max("doc_id")).first()[0]) + 1) // 2
    sig = _minhash_sigs(spark, sf_dir)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bsig") == F.col("b.bsig"),
                      F.col("a.doc_id") < F.col("b.doc_id")])
        .filter(F.col("b.doc_id") >= F.lit(split))  # probe side = NEW only
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
    )
    sh = _shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sh.select(F.col("doc_id").alias("d1"), "shingle")
    sb = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (cand.join(sa, on="d1").join(sb, on=["d2", "shingle"])
             .groupBy("d1", "d2").agg(F.count("*").alias("i")))
    ver = (
        inter.join(sizes.withColumnRenamed("doc_id", "d1")
                   .withColumnRenamed("sz", "sza"), on="d1")
        .join(sizes.withColumnRenamed("doc_id", "d2")
              .withColumnRenamed("sz", "szb"), on="d2")
        .filter(F.round(F.col("i") / (F.col("sza") + F.col("szb")
                                      - F.col("i")), 4) >= 0.5)
    )
    return (ver.groupBy(F.col("d2").alias("doc_id"))
            .agg(F.min("d1").alias("dup_of"))
            .orderBy("doc_id"))


def q_dd_dup_clusters(spark, sf_dir):
    """Duplicate-cluster resolution: connected components over the
    verified Jaccard pairs (J >= 0.5 edges), cluster id = min doc_id in
    the component.  Uses alternating large-star/small-star
    (operators/cc.py — O(log² n) rounds regardless of chain diameter,
    one-round-deep lineage via localCheckpoint, exact convergence
    check), replacing the r2 min-label loop whose round count scaled
    with graph diameter.  Output: (doc_id, cluster) for every doc that
    appears in at least one duplicate pair."""
    from sonar_tantivy_spark.operators.cc import connected_components

    edges = q_dd_jaccard_pairs(spark, sf_dir).select("d1", "d2")
    labels, _rounds = connected_components(edges, "d1", "d2")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("cluster").cast("long").alias("cluster"))


def q_dd_embed_dup_clusters(spark, sf_dir):
    """SemDeDup-style embedding duplicate clusters: connected components
    over the verified cosine near-dup pairs (LSH-bucketed candidates →
    exact-cosine ≥ 0.45 edges), cluster id = min vec_id.  The same
    large-star/small-star operator as the text-side dd_dup_clusters —
    one CC implementation serves both modalities, so their cluster
    semantics can't drift.  Output: (vec_id, cluster) for every vector
    in at least one near-dup pair."""
    from sonar_tantivy_spark.operators.cc import connected_components

    edges = q_dd_embed_cosine_pairs(spark, sf_dir).select("v1", "v2")
    labels, _rounds = connected_components(edges, "v1", "v2")
    return labels.select(F.col("node").alias("vec_id"),
                         F.col("cluster").cast("long").alias("cluster"))


def q_dd_keep_representative(spark, sf_dir):
    """Cluster → keep/drop decision (the curation step AFTER
    clustering — RefinedWeb/C4 keep one document per near-dup family):
    every clustered doc gets its cluster label and a ``keep`` flag;
    the representative is the LONGEST doc (n_chars desc, doc_id asc
    tie-break).  Unclustered docs never enter this surface (they are
    trivially kept) — the join and window touch only the clustered
    subset, a tiny fraction of any real corpus.

    Scale shape: cluster labels come from the CC operator (O(log² n)
    rounds); ONE equi-join to the doc store for the length column and
    ONE window hash-partitioned by cluster (bounded by the largest
    cluster, which exact-dup collapse already capped — see
    _collapsed_band_pairs); no global sort."""
    from pyspark.sql import Window

    labels = q_dd_dup_clusters(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (labels.join(d, "doc_id")
            .withColumn("__rn", F.row_number().over(w))
            .select("doc_id", "cluster",
                    (F.col("__rn") == 1).alias("keep")))


def q_dd_simhash(spark, sf_dir):
    """16-bit SimHash over tf-weighted term hashes (md5-derived bits)."""
    p = _ft(spark, sf_dir)["postings"]
    h = p.withColumn("hv", F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long"))
    acc = None
    for i in range(16):
        bit = F.shiftright(F.col("hv"), i).bitwiseAND(F.lit(1))
        contrib = F.sum((bit * 2 - 1) * F.col("tf"))
        acc = [contrib.alias(f"b{i}")] if acc is None else acc + [contrib.alias(f"b{i}")]
    g = h.groupBy("doc_id").agg(*acc)
    sim = None
    for i in range(16):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return g.select("doc_id", sim.cast("long").alias("simhash16"))


# similarity search ---------------------------------------------------------
def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dot_lit(col, vec):
    lit = F.array(*[F.lit(float(x)) for x in vec])
    prod = F.zip_with(F.transform(col, lambda x: x.cast("double")), lit,
                      lambda a, b: a * b)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 against the vec_id=0 query vector."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    qn = math.sqrt(sum(float(x) * float(x) for x in q))
    dot = _dot_lit(F.col("embedding"), q)
    nrm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    out = (emb.filter(F.col("vec_id") != 0)
           .select("vec_id", (dot / (nrm * F.lit(qn))).alias("cos")))
    return (out.orderBy(F.desc(F.round("cos", 7)), F.asc("vec_id")).limit(5)
            .withColumn("cos", F.round("cos", 4)))


def q_ann_lsh_bucket(spark, sf_dir):
    """LSH-bucketed ANN with multiprobe: 8 tables x 7 hyperplane sign
    bits (planes = vectors 1..56, deterministic), candidates = Hamming<=1
    probe buckets per table (a literal filter on the scan, no join),
    exact cosine top-5 inside — operators/ann.py; recall@5 = 0.83 at 41%
    scanned vs the exact baseline at sf0.1 (measured in bench.py)."""
    from sonar_tantivy_spark.operators import ann

    return ann.lsh_topk(_emb(spark, sf_dir), 0, 5)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (oracle-checkable sampled-centroid variant):
    K = 2^ceil(log2(2·√N)) sampled centroids (vectors 100..100+K-1),
    every vector SPILLED into its top-3 cells by cosine (pure column
    math), query scans only its max(2, K//8) nearest cells via a
    literal ``cell IN (...)`` filter (partition pruning with a
    cell-partitioned table), candidates de-duplicated, exact cosine
    top-5 inside — operators/ann.py.  The shipped default adds
    Lloyd-trained centroids (ann.IvfIndex, benchmarked in bench.py:
    recall@5 0.84 at 38% scanned on uniform sf0.1 vectors)."""
    from sonar_tantivy_spark.operators import ann

    return ann.ivf_topk(_emb(spark, sf_dir), 0, 5)


N_LSH_TABLES = 8
N_LSH_PLANES = 3  # per table; planes = vectors 1..24 (deterministic)


def _vec_groups(spark, sf_dir):
    """(vec_id, rep): exact-duplicate vector groups (grouped by the
    embedding value itself — float equality on both engines); rep = min
    vec_id.  Same collapse as _text_groups: mass-duplicated documents
    carry identical embeddings, and an LSH bucket of k identical vectors
    would emit k(k-1)/2 pairs.  At-scale swap: group by a binary hash of
    the vector instead of the raw array to shrink the shuffle key."""
    e = _emb(spark, sf_dir)
    reps = e.groupBy("embedding").agg(F.min("vec_id").alias("rep"))
    return e.join(reps, on="embedding").select("vec_id", "rep")


def q_dd_embed_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs, LSH-BUCKETED and EXACT-DUP
    COLLAPSED: only one representative per identical-vector group enters
    the tables; members re-attach as star edges (rep, member, cos=1.0 by
    construction), gated on the rep having a positive norm (a zero
    vector has undefined cosine and never pairs — matches the all-pairs
    behaviour).  Representatives pair only when sharing a
    hyperplane-sign bucket in >=1 of 8 tables (3 planes each), then
    verify with exact cosine >= 0.45.  Every join is an equi-join on a
    bucket signature — never the all-pairs cross join, which is the
    100 TB killer.  At this corpus's threshold the 8x3 config surfaces
    every brute-force pair (recall measured 14/14 at sf0.01)."""
    emb = _emb(spark, sf_dir)
    g = _vec_groups(spark, sf_dir)
    planes = {r["vec_id"]: r["embedding"] for r in
              emb.filter(F.col("vec_id").between(1, N_LSH_TABLES * N_LSH_PLANES))
              .collect()}
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    rep_ids = g.filter(F.col("vec_id") == F.col("rep")).select("vec_id")
    # zero-norm vectors have undefined cosine and can never reach the
    # >= 0.45 filter; dropping them here avoids an ANSI divide-by-zero
    e = (emb.join(rep_ids, on="vec_id")
         .select("vec_id", v.alias("v"), nrm.alias("nrm"), "embedding")
         .filter(F.col("nrm") > 0))
    stars = (g.filter(F.col("vec_id") != F.col("rep"))
             .join(emb.select(F.col("vec_id").alias("rep"), nrm.alias("rnrm")),
                   on="rep")
             .filter(F.col("rnrm") > 0)
             .select(F.col("rep").alias("v1"), F.col("vec_id").alias("v2"),
                     F.lit(1.0).alias("cos")))
    for t in range(N_LSH_TABLES):
        bits = [
            F.when(_dot_lit(F.col("embedding"),
                            planes[t * N_LSH_PLANES + i + 1]) >= 0,
                   F.lit("1")).otherwise(F.lit("0"))
            for i in range(N_LSH_PLANES)
        ]
        e = e.withColumn(f"b{t}", F.concat(*bits))
    e = e.drop("embedding").persist()
    cand = None
    for t in range(N_LSH_TABLES):
        a = e.select(F.col("vec_id").alias("v1"), F.col(f"b{t}").alias("bk"))
        b = e.select(F.col("vec_id").alias("v2"), F.col(f"b{t}").alias("bk"))
        part = a.join(b, on="bk").filter(F.col("v1") < F.col("v2")) \
            .select("v1", "v2")
        cand = part if cand is None else cand.unionByName(part)
    cand = cand.distinct()
    ea = e.select(F.col("vec_id").alias("v1"), F.col("v").alias("va"),
                  F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("v2"), F.col("v").alias("vb"),
                  F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    pairs = (cand.join(ea, on="v1").join(eb, on="v2")
             .select("v1", "v2", (dot / (F.col("na") * F.col("nb"))).alias("cos")))
    verified = (pairs.filter(F.round("cos", 4) >= 0.45)
                .select("v1", "v2", F.round("cos", 4).alias("cos")))
    return verified.unionByName(stars)


# text analysis --------------------------------------------------------------
# Stopword profiles for the langid heuristic: the top function words of 8
# languages (public knowledge).  Prediction = argmax of per-language
# stopword-hit ratio, 'unk' below a 5% floor; ties break in LANG_ORDER.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ich", "ein", "zu",
           "mit"],
    "fr": ["le", "la", "les", "et", "un", "une", "est", "que", "pour", "dans"],
    "es": ["el", "los", "las", "y", "un", "una", "es", "por", "con", "para"],
    "it": ["il", "di", "che", "per", "non", "sono", "con", "della", "anche",
           "come"],
    "pt": ["o", "os", "um", "uma", "não", "para", "com", "mais", "como",
           "mas"],
    "nl": ["het", "een", "van", "ik", "niet", "dat", "op", "aan", "zijn",
           "voor"],
    "sv": ["och", "att", "det", "som", "en", "på", "är", "av", "för", "med"],
}
LANG_ORDER = ["en", "de", "fr", "es", "it", "pt", "nl", "sv"]
LANGID_FLOOR = 0.05

# Gopher-style quality rules (Rae et al. 2021, public): each doc scores
# the fraction of rules passed; gopher_pass = all rules pass.
#   R1 token count in [20, 100000]      R2 mean word length in [3, 10]
#   R3 distinct-word ratio >= 0.2       R4 >= 2 stopword hits (en list)
#   R5 symbol-word ratio <= 0.1 ('#'/'...' words)
N_QUALITY_RULES = 5


def q_tx_token_count(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))


# BPE-style pre-tokenizer pattern (GPT-2-like word/number/punct split,
# restricted to the regex subset Java and RE2 treat identically)
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def q_tx_token_count_bpe(spark, sf_dir):
    """Token counting with a BPE-ish pre-tokenizer regex (letters runs /
    digit runs / single punctuation) — the LLM-training token estimate,
    alongside the whitespace count."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_count("text", F.lit(BPE_PATTERN)).cast("long")
        .alias("n_bpe_tokens"))


def _quality_passed_expr() -> F.Column:
    """Count of Gopher-style rules passed, over a df with columns
    ``text`` and ``w`` (whitespace-split tokens)."""
    n = F.size("w").cast("double")
    nd = F.size(F.array_distinct("w")).cast("double")
    stops = LANG_STOPWORDS["en"]
    stop = F.size(F.filter("w", lambda x: x.isin(stops))).cast("double")
    # single-space-joined text: sum(word lengths) = len(text) - (n - 1)
    mean_wl = (F.length("text").cast("double") - n + F.lit(1.0)) / n
    sym = F.size(F.filter(
        "w", lambda x: x.startswith("#") | x.startswith("..."))).cast("double")
    rules = [
        (n >= 20) & (n <= 100000),
        (mean_wl >= 3.0) & (mean_wl <= 10.0),
        (nd / n) >= 0.2,
        stop >= 2,
        (sym / n) <= 0.1,
    ]
    return sum(F.when(r, 1).otherwise(0) for r in rules)


def _langid_expr() -> F.Column:
    """Stopword-profile language prediction over a df with column ``w``:
    per-language hit ratio, argmax with a 5% floor, first-in-LANG_ORDER
    tie-break."""
    n = F.size("w").cast("double")

    def hits(sw):  # one-arg lambda (a 2-arg lambda would get the index)
        return F.size(F.filter("w", lambda x: x.isin(sw))).cast("double")

    ratios = {lang: hits(sw) / n for lang, sw in LANG_STOPWORDS.items()}
    best = F.greatest(*[ratios[lg] for lg in LANG_ORDER])
    pred = F.lit("unk")
    for lang in reversed(LANG_ORDER):  # build so earlier langs win ties
        pred = F.when((ratios[lang] >= best) & (best >= LANGID_FLOOR),
                      lang).otherwise(pred)
    return pred


def q_tx_quality(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text",
                                    F.split("text", " ").alias("w"))
    passed = _quality_passed_expr()
    return d.select(
        "doc_id",
        F.round(passed.cast("double") / N_QUALITY_RULES, 4).alias("quality"),
        (passed == N_QUALITY_RULES).alias("gopher_pass"),
    )


def q_tx_langid(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    return d.select("doc_id", _langid_expr().alias("lang_pred"))


def _bag_fingerprint_expr() -> F.Column:
    """Bag-of-words md5 over a df with column ``w`` — shared by
    tx_fingerprint and the pl_clean_corpus dedup stage so they cannot
    drift."""
    return F.md5(F.concat_ws(",", F.sort_array(F.array_distinct("w"))))


def q_tx_fingerprint(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    return d.select("doc_id", _bag_fingerprint_expr().alias("fingerprint"))


def q_tx_repetition(spark, sf_dir):
    """Gopher-style repetition signal: the duplicate-3-gram fraction of
    each document (1 − distinct/total over word trigrams), the standard
    detector for looped/boilerplate generations.  Pure column math on
    the token array (sequence → transform → array_distinct) — no
    explode, no shuffle; docs under 3 tokens score 0."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(" ", F.element_at("w", i),
                              F.element_at("w", i + 1),
                              F.element_at("w", i + 2)))
    total = (n - 2).cast("double")
    frac = (total - F.size(F.array_distinct(grams)).cast("double")) / total
    return d.select(
        "doc_id",
        F.when(n < 3, F.lit(0.0)).otherwise(F.round(frac, 4))
        .alias("dup_trigram_frac"))


DECON_GRAM = 5  # word n-gram size for contamination matching
DECON_BENCH_MOD = 10  # doc_id % 10 == 0 → the held-out "benchmark" set


def q_pl_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    word 5-gram with a held-out evaluation set (here: doc_id % 10 == 0,
    a deterministic pseudo-benchmark).  The at-scale shape: per-doc
    grams as column math (no tokenizer shuffle), benchmark grams
    deduped, ONE equi-join on the gram string + count — never a
    text-vs-text comparison or cross join; at 100 TB the benchmark side
    is tiny and broadcasts.  Output: every non-benchmark doc with the
    number of distinct shared 5-grams and the contamination flag."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    grams = F.when(n < DECON_GRAM, F.array()).otherwise(F.transform(
        F.sequence(F.lit(1), n - (DECON_GRAM - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", i + k) for k in range(DECON_GRAM)])))
    # per-doc dedup happens INSIDE the row (array_distinct) — a global
    # (doc_id, gram) distinct would shuffle the full corpus gram stream,
    # the avoidable 100 TB cost; only the tiny benchmark side needs a
    # cross-doc distinct
    g = d.select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
    is_bench = F.col("doc_id") % DECON_BENCH_MOD == 0
    bench = g.filter(is_bench).select("gram").distinct()
    hits = (g.filter(~is_bench)
            .join(bench, on="gram")
            .groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shared")))
    base = d.select("doc_id").filter(~is_bench)
    return (base.join(hits, on="doc_id", how="left")
            .select("doc_id",
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                    .alias("n_shared"),
                    (F.coalesce("n_shared", F.lit(0)) > 0)
                    .alias("contaminated")))


def q_pl_clean_corpus(spark, sf_dir):
    """Capstone training-data pipeline: Gopher-quality filter + English
    langid + exact dedup (bag-of-words fingerprint, lowest doc_id kept)
    + token budget, COMPOSED THE WAY IT MUST RUN AT 100 TB — every
    per-doc signal (quality rules, langid ratios, fingerprint, token
    count) is computed in ONE scan of documents as pure column math;
    the only shuffle is the dedup's window-min over fingerprint.  No
    joins between signal stages, no second scan (plan-asserted in
    tests/test_dedup_plans.py)."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select("doc_id", "text",
                                    F.split("text", " ").alias("w"))
    sig = d.select(
        "doc_id",
        (_quality_passed_expr() == N_QUALITY_RULES).alias("gopher_pass"),
        _langid_expr().alias("lang_pred"),
        _bag_fingerprint_expr().alias("fingerprint"),
        F.size("w").cast("long").alias("n_tokens"))
    keep = sig.filter(F.col("gopher_pass") & (F.col("lang_pred") == "en"))
    canon = F.min("doc_id").over(Window.partitionBy("fingerprint"))
    return (keep.withColumn("canon", canon)
            .filter(F.col("doc_id") == F.col("canon"))
            .select("doc_id", "n_tokens"))


def q_pl_sample_mix(spark, sf_dir):
    """Training-mix sampling: deterministic per-source rates (sources
    0-4 keep 100%, 5-9 keep ~50%, 10+ keep ~25%) via a content-stable
    hash — include doc iff the first 4 hex chars of md5(doc_id) fall
    under the source's threshold.  No RNG: re-runs, retries, and
    different partitionings all pick the SAME rows (the property that
    makes a 100 TB sampling job resumable and its output reproducible).
    Pure row-local column math — no shuffle at all."""
    d = _docs(spark, sf_dir)
    idx = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    # 'g' sorts above every hex digit, so rate-1.0 sources always pass;
    # sources without a srcN suffix get no opinion -> keep (rate 1.0),
    # mirrored by the oracle's TRY_CAST NULL branch
    thr = (F.when(idx.isNull(), F.lit("g"))
           .when(idx < 5, F.lit("g"))
           .when(idx < 10, F.lit("8000"))
           .otherwise(F.lit("4000")))
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return d.filter(h < thr).select("doc_id", "source")


WINNOW_K = 4  # token-gram width of the rolling hash
WINNOW_W = 5  # winnowing window (consecutive k-gram hashes)


def _winnow_minima(spark, sf_dir, reps=None):
    """(doc_id, mh): the distinct selected window-min hashes per doc —
    the winnowing fingerprint SET (shared by tx_winnow_fingerprint and
    dd_winnow_pairs).  Docs shorter than k+w-1 tokens yield no windows
    and drop out (oracle agrees).  With ``reps`` only those docs are
    fingerprinted (the exact-dup-collapse path of dd_winnow_pairs;
    tx_winnow_fingerprint keeps the full corpus)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    if reps is not None:
        docs = docs.join(reps, on="doc_id")
    d = (docs
         .select("doc_id", F.split("text", " ").alias("w"))
         .filter(F.size("w") >= WINNOW_K))
    grams = F.expr(
        f"transform(sequence(0, size(w) - {WINNOW_K}), "
        f"i -> concat_ws(' ', slice(w, i + 1, {WINNOW_K})))")
    sh = d.select("doc_id", F.posexplode(grams).alias("pos", "g"))
    sh = sh.select("doc_id", "pos", F.md5("g").alias("h"))
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    per_doc = Window.partitionBy("doc_id")
    wmin = sh.select(
        "doc_id", "pos", F.min("h").over(win).alias("mh"),
        F.max("pos").over(per_doc).alias("mp"))
    return (wmin.filter(F.col("pos") <= F.col("mp") - (WINNOW_W - 1))
            .select("doc_id", "mh").distinct())


def q_tx_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprint (Schleimer et al. MOSS scheme):
    rolling hash = md5 over 4-token grams at each position, keep the
    minimum hash of every window of 5 consecutive grams, fingerprint =
    md5 of the sorted distinct selected hashes.  Unlike tx_fingerprint
    (bag-of-words) this is position-sensitive and robust to partial
    overlap — the standard near-dup/plagiarism sketch.  All column math
    + one per-doc window function."""
    return _winnow_minima(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").alias("n_fp"),
        F.md5(F.concat_ws(",", F.sort_array(F.collect_set("mh"))))
        .alias("winnow_fp"))


WINNOW_MIN_SHARED = 3


def q_dd_winnow_pairs(spark, sf_dir):
    """MOSS-style near-dup candidates: pairs of docs sharing >= 3
    selected winnowing hashes.  A shared hash means a shared k-gram that
    BOTH docs' windows selected — by the winnowing guarantee any common
    substring of >= w+k-1 tokens forces one, so long-overlap pairs are
    never missed.  Plan: equi-join on the hash (window minima are
    near-unique, so no hot-key blowup), count per pair — candidate-
    bounded like the MinHash path, never an all-pairs join.
    EXACT-DUP COLLAPSED: identical texts have identical winnow-minima
    sets, so only one representative per md5(text) group enters the
    hash join; members re-attach as star edges (rep, member) with
    n_shared = the group's full fingerprint count (every selected hash
    is shared), gated on n_shared >= 3 like any other pair — a k-member
    boilerplate group emits k-1 edges instead of k(k-1)/2."""
    g = _text_groups(spark, sf_dir)
    reps = g.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    sel = _winnow_minima(spark, sf_dir, reps)
    a = sel.select(F.col("doc_id").alias("d1"), "mh")
    b = sel.select(F.col("doc_id").alias("d2"), "mh")
    rep_pairs = (a.join(b, on="mh")
                 .filter(F.col("d1") < F.col("d2"))
                 .groupBy("d1", "d2")
                 .agg(F.count("*").cast("long").alias("n_shared"))
                 .filter(F.col("n_shared") >= WINNOW_MIN_SHARED))
    nfp = (sel.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_shared"))
           .withColumnRenamed("doc_id", "rep"))
    stars = (g.filter(F.col("doc_id") != F.col("rep"))
             .join(nfp, on="rep")
             .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
             .select(F.col("rep").alias("d1"), F.col("doc_id").alias("d2"),
                     "n_shared"))
    return rep_pairs.unionByName(stars)


# binary payload metadata -----------------------------------------------------
def q_mm_binary_meta(spark, sf_dir):
    """Opaque-binary column plumbing: payload byte length + a
    deterministic frame count derived from it (no media decoding)."""
    d = _docs(spark, sf_dir)
    nb = F.octet_length("text").cast("long")
    return d.select(
        "doc_id", nb.alias("n_bytes"), (nb % 7 + 1).cast("long").alias("n_frames"))


# events (micro-batch analogs of the streaming ops) ---------------------------
def _epoch_naive(col):
    """Seconds since epoch of a naive (NTZ) timestamp, computed from local
    components — invariant to the Spark session timezone, matching
    DuckDB's naive epoch(ts)."""
    return (
        F.unix_date(F.to_date(col)) * F.lit(86400)
        + F.hour(col) * 3600 + F.minute(col) * 60 + F.second(col)
    ).cast("long")


def q_ev_windowed_counts(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    win = (F.floor(_epoch_naive(F.col("ts")) / 3600) * 3600).cast("long")
    return (ev.groupBy(win.alias("window_epoch"), "event_type")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.round(F.avg("value"), 4).alias("avg_value")))


def q_ev_rollup_daily(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: the DAY resolution
    derives from the HOURLY windowed counts (never from raw events) —
    the multi-resolution rollup pattern where each coarser tier
    re-aggregates the next finer one, so refreshing a day touches 24
    hourly rows instead of the raw table."""
    hourly = q_ev_windowed_counts(spark, sf_dir)
    day = (F.floor(F.col("window_epoch") / 86400) * 86400).cast("long")
    return (hourly.groupBy(day.alias("day_epoch"), "event_type")
            .agg(F.sum("cnt").cast("long").alias("cnt")))


def q_ev_value_quantiles(spark, sf_dir):
    """Per-event-type value quantiles (exact interpolated percentile —
    Spark `percentile`, matching DuckDB quantile_cont bit-for-bit at
    round-4).  The hypertable 'metrics rollup' companion: one hash-agg
    shuffle on event_type; for 100 TB pipelines swap `percentile` for
    `percentile_approx` (t-digest sketch, mergeable map-side) and accept
    a documented tolerance — the exact form is the correctness oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
        F.round(F.max("value"), 4).alias("vmax"),
        F.count("*").cast("long").alias("cnt")))


def q_ev_sessionize(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _epoch_naive(F.col("ts"))
    gap = e - F.lag(e).over(w)
    marked = ev.withColumn("new_s", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    return (marked.groupBy("user_id")
            .agg(F.sum("new_s").cast("long").alias("n_sessions"),
                 F.count("*").cast("long").alias("n_events")))


FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW_S = 86400  # each step must convert within 24 h of the prior


def q_ev_funnel(spark, sf_dir):
    """Ordered funnel conversion: per user, the earliest time each
    stage was reached IN ORDER and WITHIN the conversion window
    (view → click within 24 h → purchase within 24 h of the click),
    then users-reaching-stage counts (sf0.01: 150 → 150 → 60 → 25).

    Scale shape: ONE shuffle on user_id; the three stage times are
    window minimums over the same partitioning (Catalyst reuses the
    exchange), each stage constrained to events after the previous
    stage's time — never a per-stage self-join, never an ordered
    collect_list in Python."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id")
    base = ev.select("user_id", "event_type",
                     _epoch_naive(F.col("ts")).alias("e"))
    # sequential projections, each stage's window min conditioned on the
    # PREVIOUS stage's column — three stacked window operators over one
    # user_id exchange, not nested windows and not three self-joins
    base = base.withColumn("t1", F.min(F.when(
        F.col("event_type") == FUNNEL_STAGES[0], F.col("e"))).over(w))
    base = base.withColumn("t2", F.min(F.when(
        (F.col("event_type") == FUNNEL_STAGES[1])
        & (F.col("e") > F.col("t1"))
        & (F.col("e") <= F.col("t1") + FUNNEL_WINDOW_S),
        F.col("e"))).over(w))
    base = base.withColumn("t3", F.min(F.when(
        (F.col("event_type") == FUNNEL_STAGES[2])
        & (F.col("e") > F.col("t2"))
        & (F.col("e") <= F.col("t2") + FUNNEL_WINDOW_S),
        F.col("e"))).over(w))
    per_user = (base.groupBy("user_id")
                .agg(F.max("t1").alias("t1"), F.max("t2").alias("t2"),
                     F.max("t3").alias("t3")))
    return per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.count("t1").cast("long").alias("reached_view"),
        F.count("t2").cast("long").alias("reached_click"),
        F.count("t3").cast("long").alias("reached_purchase"))


def q_ev_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen day (cohort),
    counted as retained on each later day they were active.  Output:
    (cohort_day, day_offset, n_users) — the classic retention triangle.
    Two hash-agg shuffles (first-seen per user, then cohort×offset
    counts); no joins (the cohort day rides along via a window min)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = (F.floor(_epoch_naive(F.col("ts")) / 86400) * 86400).cast("long")
    w = Window.partitionBy("user_id")
    cohort = F.min(day).over(w)
    return (ev.select("user_id", day.alias("day"), cohort.alias("cohort_day"))
            .distinct()
            .groupBy("cohort_day",
                     ((F.col("day") - F.col("cohort_day")) / 86400)
                     .cast("long").alias("day_offset"))
            .agg(F.count("*").cast("long").alias("n_users")))


def q_ev_asof_join(spark, sf_dir):
    """AS-OF join: every 'error' event gets the same user's most recent
    preceding non-error action (type, ts, gap).  Implemented the way it
    must run at 100 TB — NOT as a range join (which Spark plans as a
    broadcast-nested-loop or an inequality sort-merge that explodes on
    hot users) but as the union+window pattern: tag action rows, sort
    each user's merged stream once, carry the latest action forward
    with last(ignorenulls) over an unbounded-preceding frame, keep the
    error rows.  ONE shuffle on user_id, no join operator at all; ties
    at identical ts resolve action-before-error (inclusive as-of), then
    event_id — a total order, so results are deterministic."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_err = F.col("event_type") == "error"
    tagged = ev.select(
        "event_id", "ts", "user_id", "event_type",
        F.when(~is_err, F.col("event_type")).alias("a_type"),
        F.when(~is_err, F.col("ts")).alias("a_ts"),
    )
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts"), is_err.cast("int"), F.col("event_id"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = tagged.select(
        "event_id", "ts", "user_id", "event_type",
        F.last("a_type", ignorenulls=True).over(w).alias("prev_type"),
        F.last("a_ts", ignorenulls=True).over(w).alias("prev_ts"),
    )
    return (carried.filter(F.col("event_type") == "error")
            .select("event_id", "user_id", "prev_type", "prev_ts",
                    (_epoch_naive(F.col("ts"))
                     - _epoch_naive(F.col("prev_ts"))).alias("gap_s")))


TFIDF_TOPK = 3  # keywords kept per document


def q_tx_tfidf_topk(spark, sf_dir):
    """TF-IDF keyword extraction: the top-3 highest-scoring terms per
    document (smoothed idf ln((N+1)/(df+0.5)), rank window per doc).
    Reuses the shared analyzed postings/termdict intermediates — at
    scale the term→df side is the (tiny) termdict, broadcastable, and
    the rank window partitions by doc_id so per-task state is one
    document's term list."""
    from pyspark.sql import Window

    t = _ft(spark, sf_dir)
    n = float(t["N"])
    s = (F.col("tf").cast("double")
         * F.log((F.lit(n) + 1.0) / (F.col("df").cast("double") + 0.5)))
    scored = (t["postings"].join(F.broadcast(t["termdf"]), on="term")
              .select("doc_id", "term", s.alias("s")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc(F.round(F.col("s"), 7)), F.asc("term"))
    return (scored.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= TFIDF_TOPK)
            .select("doc_id", "term", F.round("s", 4).alias("tfidf"), "rk"))


PACK_BUDGET = 512   # tokens per training sequence
PACK_SHARD = 8192   # docs per packing shard (bounds window-task state)


def q_pl_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing (the concat-and-chunk layout LLM
    training uses): within each (source, shard) the docs are laid out
    in doc_id order on a token tape and cut every PACK_BUDGET tokens;
    a doc's sequence is the bin its first token falls in.  Bins never
    span shards BY DESIGN — that is what makes the op embarrassingly
    parallel at 100 TB: the only shuffle is one exchange on
    (source, shard), each window task holds ≤ PACK_SHARD rows, and
    adding data never re-packs old shards (append-only friendly).
    Deterministic: no RNG, ordering is (doc_id) within shard."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    d = d.withColumn("shard", (F.col("doc_id") / PACK_SHARD).cast("long"))
    w = (Window.partitionBy("source", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    d = d.withColumn("bin", F.floor(start / PACK_BUDGET)) \
         .withColumn("seq_off", (start % PACK_BUDGET).cast("long"))
    seq_id = F.concat_ws("#", "source", F.col("shard").cast("string"),
                         F.col("bin").cast("string"))
    return d.select("doc_id", seq_id.alias("seq_id"), "seq_off", "n_tokens")


CHUNK_SIZE = 64    # tokens per chunk
CHUNK_STRIDE = 48  # chunk start spacing (=> 16-token overlap)


def q_pl_chunk_docs(spark, sf_dir):
    """Overlapping fixed-size chunking (RAG / context-window prep):
    every doc is cut into CHUNK_SIZE-token windows starting every
    CHUNK_STRIDE tokens, last chunk keeps the tail.  Pure per-doc
    column math (sequence → slice → posexplode) — no shuffle, no UDF;
    at 100 TB this is a map-only pass whose output partitioning
    inherits the input's."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    last_start = F.when(n <= CHUNK_SIZE, F.lit(0)).otherwise(
        F.floor((n - CHUNK_SIZE + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)))
    starts = F.transform(F.sequence(F.lit(0), last_start),
                         lambda i: i * CHUNK_STRIDE)
    return (d.select("doc_id", "w",
                     F.posexplode(starts).alias("chunk_idx", "st"))
            .select(
                "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"),
                F.size(F.slice("w", F.col("st") + 1, CHUNK_SIZE)).cast("long")
                .alias("n_chunk_tokens"),
                F.concat_ws(
                    " ", F.slice("w", F.col("st") + 1, CHUNK_SIZE))
                .alias("chunk_text")))


def q_ev_json_props(spark, sf_dir):
    """JSON property extraction + aggregation: parse the ``props`` JSON
    column (get_json_object — JVM-side Jackson path, no Python), pull
    ``$.k`` as a number, and aggregate per event type.  Covers the
    json-functions surface over semi-structured event payloads; a
    map + hash-agg plan that is trivially partition-parallel."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("cnt"),
                 F.round(F.avg("k"), 4).alias("k_avg"),
                 F.min("k").alias("k_min"),
                 F.max("k").alias("k_max")))


SLOP = 1             # window slack for ft_phrase_slop
USLOP = 2            # window slack for ft_phrase_slop_unordered (>=2
                     # so transposed "tabl valu" occurrences match)
MLT_TERMS = 3        # seed terms for ft_more_like_this


def q_ft_prefix(spark, sf_dir):
    """Prefix query (``b*``): constant-score match straight off the
    postings with a StartsWith predicate — no termdict expansion, the
    predicate pushes to the parquet scan (engine analog:
    search.py _cand_prefix)."""
    p = _ft(spark, sf_dir)["postings"]
    return (p.filter(F.col("term").startswith("b"))
            .select("doc_id").distinct().orderBy("doc_id"))


def q_ft_phrase_slop(spark, sf_dir):
    """Sloppy phrase ``"value table"~1`` — ordered within-window match:
    a position q of the second term survives iff some position p of the
    first satisfies p < q <= p + 1 + slop; phrase-tf = surviving-q
    count.  Same single-scan chain as the engine's _cand_phrase slop
    branch, scored like an exact phrase (idf sum over the terms)."""
    t = _ft(spark, sf_dir)
    p = t["postings"]
    a = p.filter(F.col("term") == "valu").select(
        "doc_id", F.col("positions").alias("pa"))
    b = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pb"))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.filter(
            F.col("pb"),
            lambda q: F.exists(
                F.col("pa"), lambda pp: (q > pp) & (q <= pp + 1 + SLOP))),
    ).filter(F.size("m") > 0)
    n, avgdl = float(t["N"]), t["avgdl"]
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin("valu", "tabl")).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in ("valu", "tabl"))
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B / avgdl) * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_phrase_slop_unordered(spark, sf_dir):
    """Transposing sloppy phrase ``{"terms": ["value", "table"],
    "slop": 2, "in_order": false}`` — Lucene 2-term rule: a position q
    of the second term survives iff some position p of the first has
    q != p and |q - (p + 1)| <= slop (a transposition costs 2);
    phrase-tf = surviving-q count.  Same single-scan chain as the
    engine's _cand_phrase unordered branch."""
    t = _ft(spark, sf_dir)
    p = t["postings"]
    a = p.filter(F.col("term") == "valu").select(
        "doc_id", F.col("positions").alias("pa"))
    b = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pb"))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.filter(
            F.col("pb"),
            lambda q: F.exists(
                F.col("pa"),
                lambda pp: (q != pp) & (q >= pp + 1 - USLOP)
                & (q <= pp + 1 + USLOP))),
    ).filter(F.size("m") > 0)
    n, avgdl = float(t["N"]), t["avgdl"]
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin("valu", "tabl")).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in ("valu", "tabl"))
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B / avgdl) * F.col("dl").cast("double"))
    return _topk(j.select(
        "doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom).alias("score")))


def q_ft_more_like_this(spark, sf_dir):
    """MoreLikeThis as query composition: rank seed doc 0's terms by
    tf*idf (rounded to 7, term-asc tie-break, df >= 2 — a df-1 term can
    only ever match the seed itself), take the top 3, score their
    should-OR with BM25 over everyone else, top-10.  Engine analog:
    catalog.py Index.more_like_this."""
    t = _ft(spark, sf_dir)
    seed_tf = {r["term"]: int(r["tf"]) for r in
               t["postings"].filter(F.col("doc_id") == 0)
               .select("term", "tf").collect()}
    dfs = {r["term"]: int(r["df"]) for r in t["termdf"].collect()}
    ranked = sorted(
        ((round(tf * bm25.idf(dfs[term], t["N"]), 7), term)
         for term, tf in seed_tf.items() if dfs[term] >= 2),
        key=lambda x: (-x[0], x[1]))
    top = [term for _, term in ranked[:MLT_TERMS]]
    sc = _scored(spark, sf_dir).filter(
        F.col("term").isin(top) & (F.col("doc_id") != 0))
    return _topk(sc.groupBy("doc_id").agg(F.sum("score").alias("score")))


DISMAX_TIE = 0.3     # tie_breaker for ft_dismax


def q_ft_terms_set(spark, sf_dir):
    """ES ``terms`` set query over {'valu', 'spark'} (round-5 surface;
    tantivy TermSetQuery analog): constant score 1.0 for any doc
    holding >= 1 of the terms, docid tie-break.  Engine analog:
    search.py _cand_term_set — ONE postings scan with an In predicate
    (pushdown-able over (field, term)-sorted postings), never a
    termdict expansion join."""
    t = _ft(spark, sf_dir)
    return (t["postings"].filter(F.col("term").isin("valu", "spark"))
            .select("doc_id").distinct()
            .withColumn("score", F.lit(1.0))
            .orderBy("doc_id").limit(10))


def q_ft_dismax(spark, sf_dir):
    """Lucene DisjunctionMaxQuery over terms ('tabl', 'row') with
    tie_breaker=0.3 (round-5 surface): per doc score = max(clause
    scores) + 0.3 * (sum - max) — best-field semantics where the
    bool-should sum would let two mediocre fields outrank one strong
    one.  Engine analog: search.py _cand_dismax (clause-frame union ->
    one aggregation exchange, same plan family as the generic bool)."""
    s = _scored(spark, sf_dir).filter(F.col("term").isin("tabl", "row"))
    agg = s.groupBy("doc_id").agg(
        F.max("score").alias("mx"), F.sum("score").alias("sm"))
    return _topk(agg.select(
        "doc_id",
        (F.col("mx") + DISMAX_TIE * (F.col("sm") - F.col("mx")))
        .alias("score")))


def q_ft_phrase_prefix(spark, sf_dir):
    """ES ``match_phrase_prefix`` "slow ha*" (round-5 surface): exact
    term 'slow' adjacent to ANY dictionary term starting with 'ha';
    constant score 1.0 (the engine's expansion-query rule, shared with
    prefix/fuzzy/regex).  Engine analog: search.py _cand_phrase_prefix
    — ONE postings scan filtered to (term IN exact) OR
    startswith(prefix), both pushdown predicates; the prefix slot's
    positions union in-row, so cost tracks posting volume, not
    dictionary size."""
    t = _ft(spark, sf_dir)
    p = t["postings"]
    a = p.filter(F.col("term") == "slow").select(
        "doc_id", F.col("positions").alias("pa"))
    b = (p.filter(F.col("term").startswith("ha"))
         .groupBy("doc_id")
         .agg(F.array_sort(F.flatten(F.collect_list("positions")))
              .alias("pb")))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.array_intersect(
            F.transform("pa", lambda x: x + 1), F.col("pb"))
    ).filter(F.size("m") > 0)
    return (j.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id").limit(10))


CONST_BOOST = 1.7    # constant_score boost for ft_const_score
PAGE_SIZE = 10       # page size for ft_page2 (ES from/size)
HIST_INTERVAL = 100  # n_chars histogram interval for ft_agg_histogram
PCTS = (0.25, 0.5, 0.75, 0.99)  # ft_agg_percentiles fractions


def q_ft_wildcard(spark, sf_dir):
    """ES ``wildcard`` query ``s?a*`` (round-5 surface): ``?`` = one
    char, ``*`` = any run, translated to an anchored term-dictionary
    regex with literal runs escaped (engine analog:
    plans/ast.py _wildcard_node -> search.py _cand_regex; a pure
    trailing-star pattern rewrites to the cheaper PrefixQ pushdown
    instead, covered by ft_prefix).  Constant-score expansion-query
    rule: DISTINCT matching docs."""
    p = _ft(spark, sf_dir)["postings"]
    return (p.filter(F.col("term").rlike("^(?:s.a.*)$"))
            .select("doc_id").distinct().orderBy("doc_id"))


def q_ft_const_score(spark, sf_dir):
    """ES ``constant_score`` wrapping a term filter (round-5 surface;
    Lucene ConstantScoreQuery): match set = the filter's, every hit
    scored exactly ``boost`` — the child's BM25 arithmetic is REPLACED,
    not multiplied (that's BoostQ), so Catalyst prunes the scoring
    columns and the plan collapses to the bare filter scan (engine
    analog: search.py _cand_opt ConstScoreQ branch,
    plan-asserted in tests/test_query_surfaces6.py)."""
    p = _ft(spark, sf_dir)["postings"]
    return (p.filter(F.col("term") == "tabl")
            .select("doc_id").distinct()
            .withColumn("score", F.lit(CONST_BOOST))
            .orderBy("doc_id").limit(10))


IDS_SET = (3, 57, 211, 499, 1_000_000_000)  # last id is out of range


def q_ft_ids(spark, sf_dir):
    """ES ``ids`` query (round-5 surface): match documents by explicit
    docid at constant score 1.0; unknown / out-of-range ids silently
    drop (ES rule), docid order.  Engine analog: search.py _cand_ids —
    the only ZERO-SCAN query node (no postings, no termdict, no doc
    store: a literal driver-built frame bounded by the user's id list,
    with an exact per-segment AND per-block manifest absence proof in
    _node_bound), so at 100 TB it costs exactly the tombstone anti-join
    every query pays."""
    return (_docs(spark, sf_dir)
            .filter(F.col("doc_id").isin(*IDS_SET))
            .select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id"))


def q_ft_match_and(spark, sf_dir):
    """ES ``match`` query "value group" with operator=and (round-5
    surface): the text analyzes to stems ('valu', 'group') compiled as
    bool musts — scores sum, both terms required.  Engine analog:
    plans/ast.py parse_json 'match' branch -> the existing single-scan
    bool fast path."""
    s = _scored(spark, sf_dir)
    a = s.filter(F.col("term") == "valu").select(
        "doc_id", F.col("score").alias("sa"))
    b = s.filter(F.col("term") == "group").select(
        "doc_id", F.col("score").alias("sb"))
    return _topk(a.join(b, on="doc_id").select(
        "doc_id", (F.col("sa") + F.col("sb")).alias("score")))


def q_ft_page2(spark, sf_dir):
    """Pagination (ES ``from``/``size``; round-5 surface): page 2 of
    the ft_term_bm25 ranking — hits 11-20 under the same
    (score desc, docid asc) total order.  The engine executes a
    depth-(offset+limit) top-k then slices (catalog.py query_json
    'offset'), the ES deep-pagination cost model; here the depth-20
    prefix is ranked with a window over the term's match set (driver
    contract shape — the match set is one term's postings, top-k
    bounded)."""
    from pyspark.sql import Window

    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    w = Window.orderBy(F.desc(F.round(F.col("score"), 7)), F.asc("doc_id"))
    return (s.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > PAGE_SIZE)
                    & (F.col("rn") <= 2 * PAGE_SIZE))
            .select("doc_id", F.round("score", 4).alias("score"),
                    F.col("rn").cast("long").alias("rn")))


def q_ft_search_after(spark, sf_dir):
    """Cursor pagination (ES ``search_after``; round-5 surface): page 2
    of the ft_term_bm25 ranking fetched through the cursor predicate —
    rows strictly after page 1's last (score, doc_id) in the
    (score desc, doc_id asc) total order.  Must equal ft_page2's rows
    (same truth, different mechanism); unlike offset the execution is
    a pure sort-key filter, so page P never pays a depth-(P·k) top-k —
    the shape that pages a 100 TB index to exhaustion (engine analog:
    search.py Searcher._after_pred, composed with block-max pruning in
    top_k_pruned)."""
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu") \
        .select("doc_id", F.round(F.col("score"), 7).alias("s7"))
    page1 = s.orderBy(F.desc("s7"), F.asc("doc_id")).limit(PAGE_SIZE)
    cur = page1.orderBy(F.asc("s7"), F.desc("doc_id")).limit(1) \
        .select(F.col("s7").alias("cs"), F.col("doc_id").alias("cd"))
    nxt = s.crossJoin(F.broadcast(cur)).filter(
        (F.col("s7") < F.col("cs"))
        | ((F.col("s7") == F.col("cs")) & (F.col("doc_id") > F.col("cd"))))
    return (nxt.orderBy(F.desc("s7"), F.asc("doc_id")).limit(PAGE_SIZE)
            .select("doc_id", F.round("s7", 4).alias("score")))


def _agg_matched(spark, sf_dir, term="valu"):
    """Docs matching a term query — the match set every ft_agg_*
    aggregation runs over (ES aggs see ALL matches, so no top-k
    pruning; engine analog: Searcher.aggregations' single
    candidates->doc-store equi-join)."""
    t = _ft(spark, sf_dir)
    cand = t["postings"].filter(F.col("term") == term).select("doc_id")
    return t["docs"].join(cand, on="doc_id")


def q_ft_agg_terms(spark, sf_dir):
    """ES ``terms`` aggregation on ``source`` over the 'valu' match set
    (round-5 surface): bucket per value, doc_count, ordered
    (doc_count desc, key asc), top 10 buckets.  Engine analog:
    search.py Searcher.aggregations 'terms' — one hash aggregation
    with map-side partials after the single doc-store join."""
    return (_agg_matched(spark, sf_dir)
            .groupBy(F.col("source").alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("key")).limit(10))


def q_ft_agg_stats(spark, sf_dir):
    """ES ``stats`` aggregation on ``n_chars`` over the 'valu' match
    set: count/min/max/avg/sum in ONE hash aggregation (engine analog:
    Searcher.aggregations 'stats')."""
    return _agg_matched(spark, sf_dir).agg(
        F.count("n_chars").cast("long").alias("cnt"),
        F.min("n_chars").cast("long").alias("min_c"),
        F.max("n_chars").cast("long").alias("max_c"),
        F.round(F.avg("n_chars"), 4).alias("avg_c"),
        F.sum("n_chars").cast("long").alias("sum_c"))


def q_ft_agg_histogram(spark, sf_dir):
    """ES ``histogram`` aggregation (interval 100) on ``n_chars`` over
    the 'valu' match set: bucket key = floor(v/interval)*interval,
    empty buckets omitted (the engine's choice — ES min_doc_count=1
    shape), ordered by key.  Engine analog: Searcher.aggregations
    'histogram'."""
    key = (F.floor(F.col("n_chars") / HIST_INTERVAL)
           * HIST_INTERVAL).cast("double").alias("key")
    return (_agg_matched(spark, sf_dir).groupBy(key)
            .agg(F.count("*").cast("long").alias("doc_count"))
            .orderBy("key"))


def q_ft_agg_percentiles(spark, sf_dir):
    """ES ``percentiles`` aggregation on ``n_chars`` over the 'valu'
    match set — the contract pins the EXACT interpolated path
    (deterministic, oracle = DuckDB quantile_cont); the engine's
    default at scale is the same call and its opt-in sketch path
    (percentile_approx) is pytest-covered with an error envelope
    instead of a hash gate.  Engine analog: Searcher.aggregations
    'percentiles'."""
    m = _agg_matched(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    return m.agg(*[
        F.round(F.percentile(v, F.lit(p)), 4).alias(f"p{int(p * 100)}")
        for p in PCTS])


def q_ft_agg_cardinality(spark, sf_dir):
    """ES ``cardinality`` aggregation over the 'valu' match set — the
    contract pins the EXACT distinct counts on two fields (oracle =
    COUNT(DISTINCT ..)); the engine default is the HLL sketch
    (approx_count_distinct), pytest-covered within its error envelope
    (tests/test_query_surfaces6.py::test_aggs_approx_paths).  Engine
    analog: Searcher.aggregations 'cardinality'."""
    return _agg_matched(spark, sf_dir).agg(
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct("lang").cast("long").alias("n_langs"))


def q_ft_agg_top_hits(spark, sf_dir):
    """ES ``top_hits`` sub-agg under a terms agg (round-5 surface):
    per source, the 2 best-scoring 'valu' docs under
    (score desc, doc_id asc) — flat (key, doc_id, score, rn) rows for
    the oracle.  Engine analog: search.py _bucket_top_hits — ONE
    window hash-partitioned by the bucket key; Catalyst pushes the
    rank filter into WindowGroupLimit (map-side top-k per group,
    plan-asserted for the same shape in PLANS.md collapse_by_conv)."""
    from pyspark.sql import Window

    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "source"), on="doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc(F.round(F.col("score"), 7)), F.asc("doc_id"))
    return (j.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .select(F.col("source").alias("key"), "doc_id",
                    F.round("score", 4).alias("score"),
                    F.col("rn").cast("long").alias("rn")))


def q_ft_agg_extstats(spark, sf_dir):
    """ES ``extended_stats`` over the 'valu' match set (round-5
    surface): stats + sum_of_squares / population variance / population
    std-deviation (the ES definitions), ONE hash aggregation.  Engine
    analog: Searcher.aggregations 'extended_stats'."""
    m = _agg_matched(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    return m.agg(
        F.count("n_chars").cast("long").alias("cnt"),
        F.min("n_chars").cast("long").alias("min_c"),
        F.max("n_chars").cast("long").alias("max_c"),
        F.round(F.avg("n_chars"), 4).alias("avg_c"),
        F.sum("n_chars").cast("long").alias("sum_c"),
        F.round(F.sum(v * v), 4).alias("sos"),
        F.round(F.var_pop(v), 4).alias("var_c"),
        F.round(F.stddev_pop(v), 4).alias("std_c"))


def q_ft_agg_range(spark, sf_dir):
    """ES ``range`` aggregation over the 'valu' match set (round-5
    surface): [from, to) buckets on n_chars, overlap-safe — ONE pass,
    each bucket a conditional sum (no per-bucket scan).  Engine analog:
    Searcher.aggregations 'range'."""
    m = _agg_matched(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    return m.agg(
        F.sum(F.when(v < 200, 1).otherwise(0)).cast("long").alias("r_lo"),
        F.sum(F.when((v >= 200) & (v < 400), 1).otherwise(0))
        .cast("long").alias("r_mid"),
        F.sum(F.when(v >= 400, 1).otherwise(0)).cast("long").alias("r_hi"))


def q_ft_agg_pct_ranks(spark, sf_dir):
    """ES ``percentile_ranks`` over the 'valu' match set (round-5
    surface): percent of matched docs with n_chars <= {200, 400} —
    exact (the engine computes it as one conditional-average pass; ES
    approximates via t-digest).  Engine analog: Searcher.aggregations
    'percentile_ranks'."""
    m = _agg_matched(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    return m.agg(*[
        F.round(F.lit(100.0)
                * F.avg(F.when(v <= x, 1.0).otherwise(0.0)), 4)
        .alias(f"p{x}")
        for x in (200, 400)])


def q_ft_agg_subagg(spark, sf_dir):
    """Metric sub-aggregations riding a terms bucket (round-5 surface):
    terms on ``source`` over the 'valu' match set with avg(n_chars)
    and value_count(lang) computed IN THE SAME groupBy — the engine
    executes sub-agg metrics as extra expressions in the bucket's one
    hash aggregation (search.py _metric_exprs), zero additional
    passes; this pins that single-shuffle shape's values."""
    return (_agg_matched(spark, sf_dir)
            .groupBy(F.col("source").alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"),
                 F.round(F.avg("n_chars"), 4).alias("avg_c"),
                 F.count("lang").cast("long").alias("n_lang"))
            .orderBy(F.desc("doc_count"), F.asc("key")).limit(10))


def q_ft_agg_filters(spark, sf_dir):
    """ES ``filters`` aggregation (round-5 surface): named buckets,
    each counting 'valu' matches that ALSO match the filter term — the
    engine left-semi-joins the persisted match keys against each
    filter's candidates (search.py aggregations 'filters'); here the
    same two semi-joins, one row per named bucket."""
    m = _agg_matched(spark, sf_dir).select("doc_id")
    p = _ft(spark, sf_dir)["postings"]
    parts = []
    for name in ("hash", "tabl"):
        k = p.filter(F.col("term") == name).select("doc_id")
        parts.append(
            m.join(k, on="doc_id", how="left_semi")
            .agg(F.count("*").cast("long").alias("doc_count"))
            .select(F.lit(name).alias("filter_name"), "doc_count"))
    return parts[0].unionByName(parts[1])


def _hist_buckets(spark, sf_dir):
    """The ft_agg_histogram bucket table (key, doc_count) — the parent
    every pipeline-agg contract query reduces over.  Bucket cardinality
    is bounded by the value range / interval, never by corpus size, so
    everything downstream of this frame is reduce-phase work."""
    key = (F.floor(F.col("n_chars") / HIST_INTERVAL)
           * HIST_INTERVAL).cast("double").alias("key")
    return (_agg_matched(spark, sf_dir).groupBy(key)
            .agg(F.count("*").cast("long").alias("doc_count")))


def q_ft_agg_cumsum(spark, sf_dir):
    """ES ``cumulative_sum`` pipeline agg over the n_chars histogram
    (round-5 surface): running total of doc_count in bucket-key order.
    Engine analog: search.py _apply_pipes 'cumulative_sum' — a
    driver-side reduce over the ALREADY-AGGREGATED bucket list (ES
    runs pipeline aggs on the coordinating node for the same reason);
    here the same math as one window over the tiny bucket table."""
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    return (_hist_buckets(spark, sf_dir)
            .select("key", "doc_count",
                    F.sum("doc_count").over(w).cast("double").alias("cum"))
            .orderBy("key"))


def q_ft_agg_derivative(spark, sf_dir):
    """ES ``derivative`` pipeline agg over the n_chars histogram
    (round-5 surface): doc_count[i] − doc_count[i−1]; the first bucket
    has no derivative (the ES contract) so it is absent from the flat
    contract rows.  Engine analog: search.py _apply_pipes
    'derivative'."""
    w = Window.orderBy("key")
    return (_hist_buckets(spark, sf_dir)
            .select("key", "doc_count",
                    (F.col("doc_count")
                     - F.lag("doc_count").over(w)).cast("double")
                    .alias("deriv"))
            .filter(F.col("deriv").isNotNull())
            .orderBy("key"))


def q_ft_agg_moving_fn(spark, sf_dir):
    """ES ``moving_fn`` (unweightedAvg, window 3) over the n_chars
    histogram (round-5 surface): avg of the 3 PRIOR buckets' doc_count
    — ES default shift=0 excludes the current bucket, so bucket 0 is
    null and absent here.  Engine analog: search.py _apply_pipes
    'moving_fn' (window semantics pinned by
    tests/test_pipeline_aggs.py::test_moving_fn_window_semantics)."""
    w = Window.orderBy("key").rowsBetween(-3, -1)
    return (_hist_buckets(spark, sf_dir)
            .select("key", "doc_count",
                    F.round(F.avg(F.col("doc_count").cast("double"))
                            .over(w), 4).alias("mv"))
            .filter(F.col("mv").isNotNull())
            .orderBy("key"))


def q_ft_agg_bucket_sort(spark, sf_dir):
    """ES ``bucket_sort`` pipeline agg (round-5 surface): the n_chars
    histogram re-sorted by (doc_count desc, key asc) and truncated to
    3 — a reduce-phase sort of the bucket list, never a re-aggregation.
    Engine analog: search.py _apply_pipes 'bucket_sort' (applied LAST,
    after value-producing pipes)."""
    return (_hist_buckets(spark, sf_dir)
            .orderBy(F.desc("doc_count"), F.asc("key")).limit(3))


def q_ft_agg_sibling(spark, sf_dir):
    """ES sibling pipeline aggs (round-5 surface): max_bucket /
    avg_bucket / sum_bucket over the n_chars histogram's doc_counts in
    ONE row — max value + its first key (ES returns all arg-keys; the
    contract pins the minimum for a flat row), mean and total bucket
    size.  Engine analog: search.py aggregations' deferred sibling
    loop."""
    b = _hist_buckets(spark, sf_dir)
    mx = b.agg(F.max("doc_count").alias("mxv"))
    arg = (b.join(F.broadcast(mx), on=(F.col("doc_count") == F.col("mxv")))
           .agg(F.min("key").alias("max_key"),
                F.first(F.col("mxv").cast("double"), ignorenulls=True)
                .alias("max_count")))
    stats = b.agg(F.round(F.avg("doc_count"), 4).alias("avg_count"),
                  F.sum("doc_count").cast("double").alias("sum_count"))
    return arg.crossJoin(F.broadcast(stats)) \
        .select("max_key", "max_count", "avg_count", "sum_count")


COMPOSITE_PAGE = 10  # ft_agg_composite page size


def q_ft_agg_composite(spark, sf_dir):
    """ES ``composite`` agg page 2 (round-5 surface): buckets keyed by
    (source, lang), ordered by the full key tuple asc, rows 11–20 —
    the after-key cursor page.  The ENGINE pages with a strict
    lexicographic after-key predicate BEFORE the ordered limit
    (search.py aggregations 'composite': one hash-agg + top-size per
    page, never a depth-(N·size) re-rank — the shape that pages a
    100 TB match set; paging covered by tests/test_pipeline_aggs.py::
    test_composite_paging_covers_all_buckets); the contract pins page
    2's values via the equivalent rank window."""
    g = (_agg_matched(spark, sf_dir)
         .filter(F.col("source").isNotNull() & F.col("lang").isNotNull())
         .groupBy("source", "lang")
         .agg(F.count("*").cast("long").alias("doc_count")))
    w = Window.orderBy(F.asc("source"), F.asc("lang"))
    return (g.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") > COMPOSITE_PAGE)
                    & (F.col("rn") <= 2 * COMPOSITE_PAGE))
            .select("source", "lang", "doc_count"))


def q_ft_agg_multi_terms(spark, sf_dir):
    """ES ``multi_terms`` aggregation (round-5 surface): buckets keyed
    by the (source, lang) TUPLE over the 'valu' match set, doc_count +
    avg(n_chars) metric sub-agg riding the SAME one hash aggregation,
    ordered (doc_count desc, key asc), top 10.  Engine analog:
    Searcher.aggregations 'multi_terms' (search.py) — docs missing ANY
    key field fall out (the ES rule)."""
    return (_agg_matched(spark, sf_dir)
            .filter(F.col("source").isNotNull() & F.col("lang").isNotNull())
            .groupBy("source", "lang")
            .agg(F.count("*").cast("long").alias("doc_count"),
                 F.round(F.avg("n_chars"), 4).alias("avg_c"))
            .orderBy(F.desc("doc_count"), F.asc("source"), F.asc("lang"))
            .limit(10))


def q_ft_agg_weighted_avg(spark, sf_dir):
    """ES ``weighted_avg`` (round-5 surface): sum(v*w)/sum(w) over the
    'valu' match set with v = n_chars and w = 1 + doc_id % 5 (a
    deterministic synthetic weight — the table has one numeric column,
    so the weight is derived; the engine path takes two stored
    fields).  ONE aggregation, map-side partials.  Engine analog:
    Searcher.aggregations 'weighted_avg'."""
    m = _agg_matched(spark, sf_dir)
    w = (F.lit(1) + F.col("doc_id") % 5).cast("double")
    v = F.col("n_chars").cast("double")
    return m.agg(F.round(F.sum(v * w) / F.sum(w), 4).alias("wavg"))


def q_ft_agg_rare_terms(spark, sf_dir):
    """ES ``rare_terms`` (round-5 surface): the LONG TAIL of n_chars
    values in the 'valu' match set — buckets with doc_count <= 1,
    ordered (doc_count asc, key asc), driver-bounded at 20 (the
    engine's max_buckets cap: ES bounds rare_terms memory with a
    cuckoo filter; the exact engine equivalent is one hash aggregation
    + a bounded ordered limit, so the driver never materialises an
    unbounded tail).  Engine analog: Searcher.aggregations
    'rare_terms'."""
    return (_agg_matched(spark, sf_dir)
            .groupBy(F.col("n_chars").alias("key"))
            .agg(F.count("*").cast("long").alias("doc_count"))
            .filter(F.col("doc_count") <= 1)
            .orderBy(F.asc("doc_count"), F.asc("key"))
            .limit(20))


def q_ft_agg_mad(spark, sf_dir):
    """ES ``median_absolute_deviation`` (round-5 surface): exact
    median(|n_chars − median(n_chars)|) over the 'valu' match set —
    two exact interpolated-percentile passes (the engine default;
    "approx": true switches both to the one-pass sketch at 100 TB).
    Engine analog: Searcher.aggregations 'median_absolute_deviation'."""
    m = _agg_matched(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    med = m.agg(F.percentile(v, F.lit(0.5)).alias("m"))
    return (m.crossJoin(F.broadcast(med))
            .agg(F.round(F.percentile(F.abs(v - F.col("m")), F.lit(0.5)),
                         4).alias("mad_v")))


def q_ft_agg_boxplot(spark, sf_dir):
    """ES ``boxplot`` (round-5 surface): min/q1/q2/q3/max of n_chars
    over the 'valu' match set in ONE aggregation — exact interpolated
    quartiles (deterministic, oracle-matchable; "approx": true is the
    sketch path).  Engine analog: Searcher.aggregations 'boxplot'."""
    m = _agg_matched(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    return m.agg(
        F.min(v).alias("mn"),
        F.round(F.percentile(v, F.lit(0.25)), 4).alias("q1"),
        F.round(F.percentile(v, F.lit(0.5)), 4).alias("q2"),
        F.round(F.percentile(v, F.lit(0.75)), 4).alias("q3"),
        F.max(v).alias("mx"))


def q_ft_agg_string_stats(spark, sf_dir):
    """ES ``string_stats`` (round-5 surface): count / min_length /
    max_length / avg_length of ``text`` over the 'valu' match set in
    ONE aggregation (the entropy extension is engine-side behind
    show_distribution — a second bounded char-frequency aggregation).
    Engine analog: Searcher.aggregations 'string_stats'."""
    m = _agg_matched(spark, sf_dir)
    ln = F.length("text")
    return m.agg(
        F.count("text").cast("long").alias("cnt"),
        F.min(ln).cast("long").alias("min_len"),
        F.max(ln).cast("long").alias("max_len"),
        F.round(F.avg(ln.cast("double")), 4).alias("avg_len"))


def q_ft_agg_adjacency(spark, sf_dir):
    """ES ``adjacency_matrix`` (round-5 surface): named filter buckets
    'hash' and 'tabl' over the 'valu' match set plus their pairwise
    intersection 'hash&tabl' — each filter one postings scan for its
    doc keys, intersections key-only semi-joins (never a rescore of
    the main query).  Engine analog: Searcher.aggregations
    'adjacency_matrix'."""
    m = _agg_matched(spark, sf_dir).select("doc_id")
    p = _ft(spark, sf_dir)["postings"]
    keys = {name: p.filter(F.col("term") == name).select("doc_id")
            for name in ("hash", "tabl")}
    parts = []
    for name in ("hash", "tabl"):
        parts.append(
            m.join(keys[name], on="doc_id", how="left_semi")
            .agg(F.count("*").cast("long").alias("doc_count"))
            .select(F.lit(name).alias("key"), "doc_count"))
    both = (m.join(keys["hash"], on="doc_id", how="left_semi")
            .join(keys["tabl"], on="doc_id", how="left_semi")
            .agg(F.count("*").cast("long").alias("doc_count"))
            .select(F.lit("hash&tabl").alias("key"), "doc_count"))
    out = parts[0].unionByName(parts[1]).unionByName(both)
    return out.orderBy("key")


def q_ft_agg_serial_diff(spark, sf_dir):
    """ES ``serial_diff`` pipeline agg, lag 2, over the n_chars
    histogram (round-5 surface): doc_count[i] − doc_count[i−2]; the
    first two buckets carry no value (nothing to diff against) so they
    are absent from the flat contract rows.  Engine analog: search.py
    _apply_pipes 'serial_diff' — a driver-side reduce over the
    already-aggregated bucket list."""
    w = Window.orderBy("key")
    return (_hist_buckets(spark, sf_dir)
            .select("key", "doc_count",
                    (F.col("doc_count")
                     - F.lag("doc_count", 2).over(w)).cast("double")
                    .alias("sdiff"))
            .filter(F.col("sdiff").isNotNull())
            .orderBy("key"))


def q_ft_agg_bucket_script(spark, sf_dir):
    """ES ``bucket_script`` pipeline agg over the n_chars histogram
    (round-5 surface): per-bucket arithmetic doc_count / avg_c * 100
    over named buckets_path variables — the engine evaluates a SAFE
    arithmetic-only Painless subset driver-side over the reduced
    bucket list (search.py _script_eval).  Here the same expression as
    column math over the tiny bucket frame."""
    key = (F.floor(F.col("n_chars") / HIST_INTERVAL)
           * HIST_INTERVAL).cast("double").alias("key")
    b = (_agg_matched(spark, sf_dir).groupBy(key)
         .agg(F.count("*").cast("long").alias("doc_count"),
              F.avg(F.col("n_chars").cast("double")).alias("avg_c")))
    return (b.select("key", "doc_count",
                     F.round(F.col("doc_count") / F.col("avg_c") * 100,
                             4).alias("ratio"))
            .orderBy("key"))


def q_ft_agg_bucket_selector(spark, sf_dir):
    """ES ``bucket_selector`` pipeline agg over the n_chars histogram
    (round-5 surface): keep buckets whose doc_count >= 40 — the engine
    filters the reduced bucket list with the same safe script
    evaluator (gap policy: missing operand drops the bucket).  Here
    the equivalent HAVING."""
    return (_hist_buckets(spark, sf_dir)
            .filter(F.col("doc_count") >= 40)
            .orderBy("key"))


def q_ft_agg_pct_bucket(spark, sf_dir):
    """ES ``percentiles_bucket`` sibling pipeline agg (round-5
    surface): exact interpolated p50/p90 of the n_chars histogram's
    doc_counts — a reduce over the ALREADY-REDUCED bucket list
    (cardinality = #buckets, never #docs).  Engine analog: search.py
    sibling loop 'percentiles_bucket'."""
    b = _hist_buckets(spark, sf_dir)
    v = F.col("doc_count").cast("double")
    return b.agg(
        F.round(F.percentile(v, F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile(v, F.lit(0.9)), 4).alias("p90"))


def q_ft_agg_extstats_bucket(spark, sf_dir):
    """ES ``extended_stats_bucket`` sibling pipeline agg (round-5
    surface): count/min/max/avg/sum + sum_of_squares / population
    variance / population std-dev over the n_chars histogram's
    doc_counts.  Engine analog: search.py sibling loop
    'extended_stats_bucket'."""
    b = _hist_buckets(spark, sf_dir)
    v = F.col("doc_count").cast("double")
    return b.agg(
        F.count("*").cast("long").alias("cnt"),
        F.min(v).alias("mn"), F.max(v).alias("mx"),
        F.round(F.avg(v), 4).alias("avg_n"),
        F.sum(v).alias("sum_n"),
        F.round(F.sum(v * v), 4).alias("sos"),
        F.round(F.var_pop(v), 4).alias("var_n"),
        F.round(F.stddev_pop(v), 4).alias("std_n"))


RRF_K = 60       # reciprocal-rank-fusion constant (the ES default)
RRF_DEPTH = 50   # per-ranking window handed to the fuser


def q_ft_rrf_hybrid(spark, sf_dir):
    """Hybrid lexical+vector retrieval with reciprocal rank fusion
    (round-5 surface; the ES 8.x RRF retriever shape): BM25 top-50 for
    'valu' fused with exact-cosine top-50 against the vec_id=0 query
    vector (ids align doc_id↔vec_id), rrf = Σ 1/(60+rank) over the
    rankings that contain the id, final top 10.

    100 TB shape: each leg is an independent bounded top-k (BM25 rides
    the block-max pruned path in the engine; the vector leg is the ANN
    operator family), and the fuser only ever sees 2×RRF_DEPTH rows —
    a driver-trivial full-outer join of two k-row frames, broadcast
    both sides.  Fusing never touches the corpus."""
    # lexical leg: BM25 ranking, deterministic (score desc, doc_id asc)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    wl = Window.orderBy(F.desc(F.round(F.col("score"), 7)),
                        F.asc("doc_id"))
    lex = (s.withColumn("r", F.row_number().over(wl))
           .filter(F.col("r") <= RRF_DEPTH)
           .select(F.col("doc_id").alias("id"), F.col("r").alias("rl")))
    # vector leg: exact cosine vs the vec_id=0 embedding
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    qn = float(sum(float(x) * float(x) for x in q)) ** 0.5
    dot = _dot_lit(F.col("embedding"), q)
    nrm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x))
    cos = (dot / (nrm * F.lit(qn))).alias("cos")
    wv = Window.orderBy(F.desc(F.round(F.col("cos"), 7)), F.asc("vec_id"))
    vec = (emb.filter(F.col("vec_id") != 0).select("vec_id", cos)
           .withColumn("r", F.row_number().over(wv))
           .filter(F.col("r") <= RRF_DEPTH)
           .select(F.col("vec_id").alias("id"), F.col("r").alias("rv")))
    fused = (lex.join(vec, on="id", how="full_outer")
             .select("id",
                     (F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rl")),
                                 F.lit(0.0))
                      + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rv")),
                                   F.lit(0.0))).alias("rrf")))
    return (fused.orderBy(F.desc(F.round("rrf", 9)), F.asc("id")).limit(10)
            .select(F.col("id").alias("doc_id"),
                    F.round("rrf", 6).alias("rrf")))


BOOSTING_NB = 0.3    # ft_boosting negative_boost


def q_ft_boosting(spark, sf_dir):
    """ES boosting query (round-5 surface): BM25 matches of 'tabl'
    with docs ALSO matching 'slow' demoted by negative_boost=0.3 —
    kept in the result, unlike must_not (engine analog: search.py
    BoostingQ compile — ONE left join against the negative keys, the
    must_not left-anti's scoring sibling)."""
    s = _scored(spark, sf_dir)
    pos = s.filter(F.col("term") == "tabl").select("doc_id", "score")
    neg = (_ft(spark, sf_dir)["postings"]
           .filter(F.col("term") == "slow")
           .select("doc_id").withColumn("__neg", F.lit(True)))
    demoted = (pos.join(neg, on="doc_id", how="left")
               .select("doc_id",
                       F.when(F.col("__neg"),
                              F.col("score") * F.lit(BOOSTING_NB))
                       .otherwise(F.col("score")).alias("score")))
    return _topk(demoted)


FVF_FACTOR = 0.01    # ft_function_fvf: log1p(0.01 * n_chars)
GAUSS_ORIGIN = 300.0  # ft_function_gauss decay center on n_chars
GAUSS_SCALE = 150.0
GAUSS_SIGMA2 = (GAUSS_SCALE ** 2) / (2.0 * math.log(2.0))  # decay 0.5


def q_ft_function_fvf(spark, sf_dir):
    """ES function_score / field_value_factor (round-5 surface): the
    'valu' BM25 score multiplied by log1p(0.01 · n_chars) — the
    "longer documents rank a bit higher" shape.  Engine analog:
    search.py _cand_function_score — candidates equi-joined ONCE to
    the doc store, the function as JVM column math (no UDF), WAND
    correctly bypassed (transformed scores are unboundable)."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "n_chars"), on="doc_id")
    return _topk(j.select(
        "doc_id",
        (F.col("score")
         * F.log(F.lit(1.0) + F.lit(FVF_FACTOR) * F.col("n_chars")))
        .alias("score")))


def q_ft_function_gauss(spark, sf_dir):
    """ES function_score / gauss decay (round-5 surface): the 'valu'
    BM25 score multiplied by exp(−|n_chars−300|² / (2σ²)) with
    σ² = scale²/(2 ln 2) (decay 0.5 at distance=scale) — the distance/
    recency-boost shape (on dates the engine uses epoch seconds, same
    formula).  Engine analog as ft_function_fvf."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "n_chars"), on="doc_id")
    dist = F.abs(F.col("n_chars").cast("double") - F.lit(GAUSS_ORIGIN))
    mult = F.exp(-(dist * dist) / F.lit(2.0 * GAUSS_SIGMA2))
    return _topk(j.select("doc_id", (F.col("score") * mult).alias("score")))


def q_ft_rank_feature(spark, sf_dir):
    """ES ``rank_feature`` (round-5 surface): the canonical composition
    — BM25 'valu' hits plus a saturation feature signal on n_chars
    summed in (bool must + rank_feature should): score = bm25 +
    2·n/(n+300).  The feature term is ONE doc-store column projection
    (no postings, no UDF — operators/search.py _cand_rank_feature);
    here the same math after the scored join."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "n_chars"), on="doc_id")
    v = F.greatest(F.col("n_chars").cast("double"), F.lit(0.0))
    feat = F.lit(2.0) * v / (v + F.lit(300.0))
    return _topk(j.select("doc_id",
                          (F.col("score") + feat).alias("score")))


def q_ft_distance_feature(spark, sf_dir):
    """ES ``distance_feature`` (round-5 surface): boost·pivot /
    (pivot + |n_chars − 300|) with boost 3, pivot 50 — the proximity-
    boost shape, ONE doc-store scan with the score as column math
    (operators/search.py _cand_distance_feature); top 10 by
    (score desc, doc_id)."""
    t = _ft(spark, sf_dir)
    v = F.col("n_chars").cast("double")
    score = F.lit(3.0) * F.lit(50.0) / (F.lit(50.0)
                                        + F.abs(v - F.lit(300.0)))
    return _topk(t["docs"].filter(F.col("n_chars").isNotNull())
                 .select("doc_id", score.alias("score")))


PINNED_IDS = [5, 123]  # ft_pinned curated ids (one likely non-matching)


def q_ft_pinned(spark, sf_dir):
    """ES ``pinned`` query (round-5 surface): docids 5 and 123 rank
    first in list order at PINNED_BASE/(1+rank), organic 'valu' BM25
    hits follow minus the pinned ids.  The engine unions a literal
    zero-scan pinned frame with the anti-filtered organic candidates
    (operators/search.py _cand_pinned); here the same union over the
    scored contract frame."""
    from sonar_tantivy_spark.plans.ast import PINNED_BASE

    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    organic = (s.filter(~F.col("doc_id").isin(PINNED_IDS))
               .select("doc_id", "score"))
    pinned = spark.createDataFrame(
        [(int(d), float(PINNED_BASE / (1.0 + i)))
         for i, d in enumerate(PINNED_IDS)], "doc_id long, score double")
    return _topk(pinned.unionByName(organic))


def q_ft_script_score(spark, sf_dir):
    """ES ``script_score`` (round-5 surface): BM25 'valu' hits rescored
    by the arithmetic script ``_score * 2 + n_chars / 500`` — the safe
    Painless subset translated to ONE whole-stage-codegen'd JVM column
    over the child's candidates joined once to the doc store
    (operators/search.py _cand_script_score / _script_col); here the
    same math after the scored join."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "n_chars"), on="doc_id")
    script = (F.col("score") * F.lit(2.0)
              + F.coalesce(F.col("n_chars").cast("double"), F.lit(0.0))
              / F.lit(500.0))
    return _topk(j.select("doc_id", script.alias("score")))


def q_ft_random_score(spark, sf_dir):
    """ES ``random_score`` function (round-5 surface): BM25 'valu' hits
    multiplied by the deterministic Knuth-mix random in [0,1) — r =
    ((n_chars·2654435761 + seed·2246822519) mod 2³²)/2³², seed 7; the
    engine computes the identical int64 column math inside
    function_score (operators/search.py _function_col), oracle-matchable
    where ES's internal murmur is not."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "n_chars"), on="doc_id")
    mix = F.pmod(F.col("n_chars").cast("long") * F.lit(2654435761)
                 + F.lit(7 * 2246822519), F.lit(4294967296))
    r = mix.cast("double") / F.lit(4294967296.0)
    return _topk(j.select("doc_id", (F.col("score") * r).alias("score")))


CF_SPLIT = 8        # head = first 8 tokens, body = the rest
CF_W = {"head": 2.0, "body": 1.0}
CF_TERMS = ["valu", "scan"]


def q_ft_combined_fields(spark, sf_dir):
    """ES ``combined_fields`` / Lucene BM25F (round-5 surface): the
    documents text split into two pseudo-fields (head = first
    CF_SPLIT tokens ^2, body = the rest ^1) and the query terms scored
    against the blend — per term btf = Σ_f w_f·tf_f, blended QUANTIZED
    norm bdl = Σ_f w_f·dl_f over the fields the doc has tokens in,
    blended avgdl = Σ_f w_f·avgdl_f, idf from the exact any-field df
    (the engine's pinned deviation from Lucene's pseudo-collection
    approximation; operators/search.py _cand_combined_fields runs the
    same math over real per-field postings/doclens)."""
    docs = _docs(spark, sf_dir)
    udf = make_tokenize_udf("en_stem")
    toks = (
        docs.select("doc_id", udf(F.col("text")).alias("tk"))
        .select("doc_id",
                F.explode(F.arrays_zip(F.col("tk.terms"),
                                       F.col("tk.poss"))).alias("e"))
        .select("doc_id", F.col("e.terms").alias("term"),
                F.col("e.poss").alias("pos"))
        .withColumn("fld", F.when(F.col("pos") < CF_SPLIT,
                                  F.lit("head")).otherwise(F.lit("body")))
    )
    w = F.when(F.col("fld") == "head",
               F.lit(CF_W["head"])).otherwise(F.lit(CF_W["body"]))
    norm_rows = [
        (nid, lo, bm25.FIELDNORM_TABLE[nid + 1] if nid < 255 else (1 << 62))
        for nid, lo in enumerate(bm25.FIELDNORM_TABLE)
    ]
    norm_df = spark.createDataFrame(norm_rows, "norm_id int, lo long, hi long")
    flen = toks.groupBy("doc_id", "fld").agg(
        F.count("*").cast("long").alias("len"))
    fdl = (flen.join(F.broadcast(norm_df),
                     on=(F.col("len") >= F.col("lo"))
                     & (F.col("len") < F.col("hi")))
           .select("doc_id", "fld", F.col("lo").alias("dl")))
    n = docs.count()
    avg_rows = flen.groupBy("fld").agg(F.sum("len").alias("s")).collect()
    avgdl_b = sum(CF_W[r["fld"]] * float(r["s"]) / n for r in avg_rows)
    bdl = fdl.groupBy("doc_id").agg(
        F.sum(w * F.col("dl").cast("double")).alias("bdl"))
    sub = (toks.filter(F.col("term").isin(CF_TERMS))
           .groupBy("doc_id", "fld", "term")
           .agg(F.count("*").cast("double").alias("tf")))
    btf = sub.groupBy("doc_id", "term").agg(
        F.sum(w * F.col("tf")).alias("btf"))
    dfany = {r["term"]: int(r["df"]) for r in
             sub.groupBy("term").agg(
                 F.countDistinct("doc_id").alias("df")).collect()}
    idf_col = F.lit(0.0)
    for t in CF_TERMS:
        idf_col = F.when(F.col("term") == t,
                         F.lit(bm25.idf(dfany.get(t, 0), n))) \
            .otherwise(idf_col)
    j = btf.join(bdl, on="doc_id")
    s_t = (idf_col * F.lit(K1 + 1.0) * F.col("btf")
           / (F.col("btf") + F.lit(K1) * (F.lit(1.0 - B)
              + F.lit(B / avgdl_b) * F.col("bdl"))))
    per_doc = j.groupBy("doc_id").agg(F.sum(s_t).alias("score"))
    return _topk(per_doc)


def q_ft_collapse(spark, sf_dir):
    """ES field collapsing (round-5 surface): term 'valu' collapsed by
    ``source`` — one hit per source, the group's best
    (score desc, doc_id asc) doc, then the usual top-10.  Engine
    analog: catalog.py _collapsed_hits — full candidate set (pruning
    is invalid: a group winner can lose globally), one doc-store
    equi-join for the group key, one window hash-partitioned BY THE
    KEY (each group ranks locally after a single shuffle), rank-1 rows
    into TakeOrderedAndProject."""
    from pyspark.sql import Window

    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    j = s.join(t["docs"].select("doc_id", "source"), on="doc_id")
    w = Window.partitionBy("source").orderBy(
        F.desc(F.round(F.col("score"), 7)), F.asc("doc_id"))
    return _topk(j.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == 1).select("doc_id", "score"))


SUGGEST_K = 5        # suggestions per token for ft_suggest


def q_ft_suggest(spark, sf_dir):
    """ES term suggester (round-5 surface): for the misspelled tokens
    'tabel' and 'stram', dictionary terms within OSA distance 2,
    scored 1 − dist/len(token), top 5 per token by (score desc,
    freq desc, term asc).  Engine analog: catalog.py Index.suggest —
    per token ONE pushdown-filtered termdict scan behind the JVM
    Levenshtein prefilter, Arrow-batched exact OSA on the near-miss
    survivors only, dfs summed across segments; postings are never
    touched."""
    from sonar_tantivy_spark.functions.strdist import (
        jvm_prefilter,
        make_osa_udf,
    )

    t = _ft(spark, sf_dir)
    outs = []
    for tok in ("tabel", "stram"):
        c = (t["termdf"]
             .filter(jvm_prefilter(F.col("term"), tok, 2))
             .withColumn("dist", make_osa_udf(tok)(F.col("term")))
             .filter((F.col("dist") <= 2) & (F.col("dist") > 0))
             .select(F.lit(tok).alias("token"),
                     F.col("term").alias("suggestion"),
                     F.col("df").cast("long").alias("freq"),
                     F.round(F.lit(1.0) - F.col("dist") / len(tok), 4)
                     .alias("score")))
        outs.append(c.orderBy(F.desc("score"), F.desc("freq"),
                              F.asc("suggestion")).limit(SUGGEST_K))
    return outs[0].unionByName(outs[1])


RESCORE_W = 20       # rescore window for ft_rescore
RESCORE_RW = 2.0     # rescore_query_weight


def q_ft_rescore(spark, sf_dir):
    """ES ``rescore`` (round-5 surface): the top-20 'valu' hits
    re-ranked by the phrase "valu tabl" at weight 2 (score_mode total,
    query_weight 1) — the classic cheap-term-then-expensive-phrase
    pattern.  new = primary + 2·phrase for window docs the phrase
    matches, primary otherwise; page = top-10 of the re-sorted window.
    Engine analog: catalog.py _rescored_hits — the window comes off the
    block-max-pruned top-k and the phrase candidates are
    pushdown-filtered to the ≤W window keys before collection, so the
    expensive clause scores W docs, never the corpus."""
    t = _ft(spark, sf_dir)
    s = _scored(spark, sf_dir).filter(F.col("term") == "valu")
    win = (s.orderBy(F.desc(F.round(F.col("score"), 7)), F.asc("doc_id"))
           .limit(RESCORE_W).select("doc_id", "score"))
    p = t["postings"]
    a = p.filter(F.col("term") == "valu").select(
        "doc_id", F.col("positions").alias("pa"))
    b = p.filter(F.col("term") == "tabl").select(
        "doc_id", F.col("positions").alias("pb"))
    j = a.join(b, on="doc_id").withColumn(
        "m", F.array_intersect(F.transform("pa", lambda x: x + 1),
                               F.col("pb"))
    ).filter(F.size("m") > 0)
    n, avgdl = float(t["N"]), t["avgdl"]
    dfs = {r["term"]: r["df"] for r in
           t["termdf"].filter(F.col("term").isin("valu", "tabl")).collect()}
    idf_sum = sum(bm25.idf(dfs[x], t["N"]) for x in ("valu", "tabl"))
    j = j.join(t["doclen"], on="doc_id")
    tf = F.size("m").cast("double")
    denom = tf + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B / avgdl) * F.col("dl").cast("double"))
    ph = j.select("doc_id", (F.lit(idf_sum * (K1 + 1.0)) * tf / denom)
                  .alias("ph"))
    comb = win.join(ph, on="doc_id", how="left").select(
        "doc_id",
        (F.col("score")
         + F.coalesce(F.lit(RESCORE_RW) * F.col("ph"), F.lit(0.0)))
        .alias("score"))
    return _topk(comb)


def q_ft_agg_sig_terms(spark, sf_dir):
    """ES ``significant_terms`` (JLH) over the 'valu' match set
    (round-5 surface): per term, foreground rate fg/M (matched docs
    holding it) vs background rate bg/N (global df); JLH score =
    (fg/M − bg/N) · (fg/M)/(bg/N), over-represented terms only,
    ordered (score desc, term asc), top 10.  Engine analog:
    search.py Searcher._sig_terms — one postings scan semi-joined to
    the matched keys, one hash-agg per side, a term-partitioned join;
    no driver loop."""
    t = _ft(spark, sf_dir)
    p = t["postings"]
    matched = p.filter(F.col("term") == "valu").select("doc_id")
    m = matched.count()
    n = float(t["N"])
    fg = (p.join(F.broadcast(matched), on="doc_id", how="left_semi")
          .groupBy("term").agg(F.count("*").alias("fg")))
    joined = fg.join(t["termdf"], on="term")
    fgp = F.col("fg").cast("double") / float(m)
    bgp = F.col("df").cast("double") / n
    score = (fgp - bgp) * (fgp / bgp)
    return (joined.withColumn("score", F.round(score, 4))
            .filter(F.col("score") > 0.0)
            .orderBy(F.desc(F.round(score, 7)), F.asc("term"))
            .limit(10)
            .select("term", F.col("fg").cast("long").alias("doc_count"),
                    F.col("df").cast("long").alias("bg_count"), "score"))


def q_ft_agg_sig_text(spark, sf_dir):
    """ES ``significant_text`` with filter_duplicate_text (round-5
    surface): the 'valu' match set deduped to ONE doc per distinct text
    (min doc_id per md5 — the documents corpus carries planted exact
    duplicates, so the dedup genuinely changes M), then the same JLH as
    significant_terms over the deduped foreground; background = the
    undeduped whole-corpus dfs (the ES asymmetry).  Engine analog:
    search.py Searcher._sig_text — re-analyzed stored text, md5-window
    dedup, per-term hash-agg."""
    t = _ft(spark, sf_dir)
    p = t["postings"]
    docs = t["docs"]
    matched = p.filter(F.col("term") == "valu").select("doc_id")
    reps = (docs.join(F.broadcast(matched), on="doc_id", how="left_semi")
            .groupBy(F.md5(F.coalesce(F.col("text"), F.lit(""))))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    m = reps.count()
    n = float(t["N"])
    fg = (p.join(F.broadcast(reps), on="doc_id", how="left_semi")
          .groupBy("term").agg(F.count("*").alias("fg")))
    joined = fg.join(t["termdf"], on="term")
    fgp = F.col("fg").cast("double") / float(m)
    bgp = F.col("df").cast("double") / n
    score = (fgp - bgp) * (fgp / bgp)
    return (joined.withColumn("score", F.round(score, 4))
            .filter(F.col("score") > 0.0)
            .orderBy(F.desc(F.round(score, 7)), F.asc("term"))
            .limit(10)
            .select("term", F.col("fg").cast("long").alias("doc_count"),
                    F.col("df").cast("long").alias("bg_count"), "score"))


PARA_W = 10          # paragraph-proxy width (corpus has no newlines)
QUOTA_K = 25         # per-source quota for pl_domain_quota
QUOTA_SALT = 8       # MINIMUM salt fan-out for the two-phase exact
                     # top-K; the effective fan-out scales with the
                     # cluster (see _quota_salt) so the hottest domain
                     # puts ~|domain|/parallelism rows through any one
                     # phase-1 sort partition at any cluster size


def _quota_salt(spark) -> int:
    """Salt fan-out for the two-phase quota: max(QUOTA_SALT,
    defaultParallelism).  The OUTPUT is salt-invariant — phase 1 keeps
    the top-K of every salt bucket, a superset of the global top-K, so
    phase 2's result equals the single-window rank for ANY fan-out —
    which is what lets the fan-out track cluster size instead of being
    pinned by the oracle."""
    try:
        return max(QUOTA_SALT, int(spark.sparkContext.defaultParallelism))
    except Exception:
        return QUOTA_SALT
XENT_GRAM = 3        # word n-gram order for the corpus LM
ZSCORE_THRESH = 2.0  # |z| flag threshold for ev_zscore_anomaly


def q_dd_para_dup(spark, sf_dir):
    """Paragraph-level exact dedup signal (RefinedWeb-style): split each
    document into paragraphs, hash each one, count cross-document
    occurrences, and report every document's duplicated-paragraph
    fraction.  The synthetic corpus is newline-free, so contiguous
    10-word segments stand in for ``\\n\\n`` paragraphs; at real scale
    the splitter is ``split(text, '\\n\\n')`` and nothing else changes.

    Plan shape: one documents scan -> in-row md5 per segment (no
    explode until the hash, so shuffle width is 32 hex chars per
    paragraph, not the text) -> hash-agg on the paragraph hash ->
    equi-join back -> per-doc hash-agg.  Hot boilerplate paragraphs are
    the skew case: the count side is pre-aggregated to one row per
    distinct hash, so the join fans out only on the document side where
    the rows genuinely exist, and AQE skew-join splits oversized
    partitions."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    idx = F.sequence(F.lit(0), F.floor((n - 1) / PARA_W).cast("int"))
    paras = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice("w", i * PARA_W + 1,
                                                      PARA_W))))
    s = d.select("doc_id", F.explode(paras).alias("ph"))
    c = s.groupBy("ph").agg(F.count_distinct("doc_id").alias("nd"))
    return (s.join(c, "ph")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_paras"),
                 F.round(F.avg(F.when(F.col("nd") > 1, 1.0).otherwise(0.0)),
                         4).alias("dup_para_frac")))


def q_pl_domain_quota(spark, sf_dir):
    """Per-domain quota sampling: keep at most QUOTA_K documents per
    source, chosen by a deterministic hash order (md5 of doc_id) so the
    sample is reproducible and unbiased by ingestion order — the
    standard per-domain cap of web-corpus curation (C4/mC4 keep-at-most
    pattern).

    Exact two-phase top-K so no single reducer ever sorts a whole
    domain: phase 1 ranks within (source, salt) — any one sort
    partition holds ~1/salt of even the hottest domain — and keeps K
    rows per salt; phase 2 ranks the surviving <= salt*K rows per
    source.  Identical output to a single-window rank (the oracle) for
    ANY fan-out (phase 1 keeps a superset of the global top-K), so the
    fan-out scales with the cluster (_quota_salt: max(8,
    defaultParallelism)) instead of being a fixed constant that would
    leave |domain|/8 rows in one phase-1 partition at 1000 executors;
    the phase-2 shuffle still carries only K*salt rows per domain
    regardless of domain size."""
    from pyspark.sql import Window
    salt_n = _quota_salt(spark)
    d = _docs(spark, sf_dir).select(
        "doc_id", "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.pmod(F.hash("doc_id"), F.lit(salt_n)).alias("salt"))
    w1 = Window.partitionBy("source", "salt").orderBy("h", "doc_id")
    s1 = (d.withColumn("r1", F.row_number().over(w1))
          .filter(F.col("r1") <= QUOTA_K))
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    return (s1.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= QUOTA_K)
            .select("doc_id", "source",
                    F.col("rk").cast("long").alias("rank_in_source")))


def q_tx_lm_xent(spark, sf_dir):
    """Perplexity-proxy quality score (CCNet-style, with the corpus
    itself as the language model): each document's cross-entropy under
    the corpus word-trigram distribution.  Low xent = typical text,
    high xent = outlier — the shape of the KenLM-perplexity filter
    with the LM replaced by an in-corpus trigram table so the operator
    is self-contained and oracle-checkable.

    Two hash-aggs and one equi-join on ``xxhash64(gram)``.  The
    trigram-count table is NOT broadcastable at scale — distinct
    word-trigrams grow ~linearly with corpus size — so the join is a
    shuffle equi-join (AQE still broadcasts it at small SF); hashing
    the gram to 64 bits BEFORE the aggs keeps full gram strings out of
    both shuffles (8-byte keys vs ~30-byte strings; collision odds at
    even 10^12 distinct grams are ~n²/2^65, far below the corpus's own
    bit-error rate).  The per-doc aggregation is map-side combinable.
    Docs shorter than the gram order are excluded (no grams, no
    distribution)."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    grams = F.transform(
        F.sequence(F.lit(1), n - (XENT_GRAM - 1)),
        lambda i: F.concat_ws(" ", F.slice("w", i, XENT_GRAM)))
    g = (d.filter(n >= XENT_GRAM)
         .select("doc_id", F.explode(grams).alias("gram"))
         .select("doc_id", F.xxhash64("gram").alias("gh")))
    counts = g.groupBy("gh").agg(F.count("*").cast("double").alias("c"))
    tot = counts.agg(F.sum("c").alias("ct"))
    return (g.join(counts, "gh").crossJoin(F.broadcast(tot))
            .select("doc_id", F.log(F.col("c") / F.col("ct")).alias("lp"))
            .groupBy("doc_id")
            .agg(F.round(-F.avg("lp"), 4).alias("xent"),
                 F.count("*").cast("long").alias("n_grams")))


def q_pl_split_hash(spark, sf_dir):
    """Deterministic train/val/test split (90/5/5) by content-free hash
    of the doc key — the standard leakage-safe split for training
    corpora: membership depends only on doc_id, so re-runs, re-shards,
    and incremental arrivals land every doc in the same split with no
    global coordination.  Map-only, zero shuffle at any scale.

    The bucket is the first 4 hex chars of md5(doc_id) compared
    LEXICALLY against hex literals (equal-length hex strings sort like
    their values — 0xE666/65536 = 0.8999.., 0xF333/65536 = 0.9500..),
    which keeps the Spark plan and the DuckDB oracle bit-identical
    without a shared integer-hash function."""
    d = _docs(spark, sf_dir)
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (F.when(h4 < "e666", "train")
             .when(h4 < "f333", "val")
             .otherwise("test"))
    return d.select("doc_id", split.alias("split"), h4.alias("bucket"))


NGRAM_TOP = 50       # corpus-level top-N bigrams for tx_ngram_freq


def q_tx_ngram_freq(spark, sf_dir):
    """Corpus-level bigram frequency table, top-50 — the corpus-stats
    staple behind vocabulary builds, collocation mining, and
    boilerplate spotting.  Explode adjacent word pairs → one hash-agg
    (map-side combinable: the shuffle carries (gram, partial-count),
    never rows) → TakeOrdered 50.  At 100 TB the agg width is the
    distinct-bigram count, not the corpus; the final top-N is a k=50
    TakeOrderedAndProject, not a global sort."""
    d = _docs(spark, sf_dir).select(F.split("text", " ").alias("w"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.concat_ws(" ", F.slice("w", i, 2)))
    g = d.filter(F.size("w") >= 2).select(F.explode(grams).alias("gram"))
    return (g.groupBy("gram").agg(F.count("*").cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("gram")).limit(NGRAM_TOP))


DSIR_BUCKETS = 65536   # hashed-feature space: 4 hex chars of md5(gram)
DSIR_ALPHA = 1.0       # Laplace smoothing for bucket probabilities


def q_pl_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-document log
    importance weight of the RAW pool against a TARGET distribution,
    over hashed n-gram features.  Docs whose feature mix looks like
    the target (here: the ``lang = 'en'`` slice) get high weights;
    resampling by these weights is the paper's data-selection recipe.

      logw(d) = Σ_b c_d[b] · [log p̂_t(b) − log p̂_r(b)],
      p̂(b) = (C[b] + α) / (N + α·B)        (Laplace, α=1)

    Features are unigrams + adjacent bigrams hashed into B=65536
    buckets (first 4 hex chars of md5 — the same engine-portable
    bucketing as pl_split_hash).  THE SCALE POINT: hashing bounds the
    target/raw statistics table at B rows regardless of corpus size —
    unlike raw n-gram tables (see tx_lm_xent's non-broadcastable gram
    counts), the bucket stats are genuinely broadcast-safe at 100 TB,
    so the per-doc join is a broadcast hash join and the only shuffle
    is the per-doc bucket-count hash-agg (map-side combinable).
    Everything else is column math."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.split("text", " ").alias("w"))
    n = F.size("w")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.slice("w", i, 2)))
    grams = (F.when(n >= 2, F.concat(F.col("w"), bigrams))
             .otherwise(F.col("w")))
    g = (d.select("doc_id", "lang", F.explode(grams).alias("gram"))
         .select("doc_id", "lang",
                 F.substring(F.md5("gram"), 1, 4).alias("b")))
    doc_counts = (g.groupBy("doc_id", "b")
                  .agg(F.count("*").cast("double").alias("c")))
    stats = (g.groupBy("b")
             .agg(F.count("*").cast("double").alias("rc"),
                  F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
                  .cast("double").alias("tc")))
    tot = stats.agg(F.sum("rc").alias("rn"), F.sum("tc").alias("tn"))
    a, ab = float(DSIR_ALPHA), float(DSIR_ALPHA * DSIR_BUCKETS)
    lr = (F.log((F.col("tc") + a) / (F.col("tn") + ab))
          - F.log((F.col("rc") + a) / (F.col("rn") + ab)))
    return (doc_counts.join(F.broadcast(stats), "b")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.col("c") * lr), 4).alias("logw"),
                 F.sum("c").cast("long").alias("n_feats")))


WINDOW_W = 8         # token width for dd_window_dup substring windows


SEMDEDUP_K = 8       # k-means clusters for dd_semdedup_kmeans
SEMDEDUP_ITERS = 4   # fixed Lloyd's iterations (determinism)
SEMDEDUP_TAU = 0.45  # within-cluster cosine threshold (same family as
                     # dd_embed_cosine_pairs)


def q_dd_semdedup_kmeans(spark, sf_dir):
    """SemDeDup proper (Abbas et al. 2023): k-means-cluster the
    embeddings, then near-dup ONLY within clusters — keep = no
    cluster-mate with cosine >= tau and a smaller vec_id (the paper's
    keep-one rule, id-deterministic).  Output: (vec_id, cluster, keep)
    for every vector.

    100 TB shape: clustering is operators/embed.kmeans_fit (map-only
    assign + driver-combined partial sums per iteration, nothing
    shuffles); the pair stage self-joins ON THE CLUSTER ID — candidate
    volume is Σ|cluster|², bounded by raising k with n (the paper runs
    k ≈ √n; here k is fixed small because the corpus is), never the
    all-pairs cross join.  Zero-norm vectors have undefined cosine and
    are always kept.

    NO SQL ORACLE (the contract's sanctioned exemption for iterative
    algorithms — k-means is a fixed-point loop): the driver records a
    rows-only check; the semantics are pinned instead by
    tests/test_kmeans.py (numpy same-algorithm clustering replica) and
    tests/test_semdedup.py (brute-force keep-set replica)."""
    from sonar_tantivy_spark.operators.embed import kmeans_fit

    emb = _emb(spark, sf_dir)
    _, assigned = kmeans_fit(emb, SEMDEDUP_K, n_iter=SEMDEDUP_ITERS)
    v = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    e = assigned.select("vec_id", "cluster", v.alias("v"),
                        nrm.alias("nrm")).persist()
    a = (e.filter(F.col("nrm") > 0)
         .select("cluster", F.col("vec_id").alias("v1"),
                 F.col("v").alias("va"), F.col("nrm").alias("na")))
    b = (e.filter(F.col("nrm") > 0)
         .select("cluster", F.col("vec_id").alias("v2"),
                 F.col("v").alias("vb"), F.col("nrm").alias("nb")))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    dropped = (a.join(b, on="cluster")
               .filter(F.col("v1") > F.col("v2"))  # smaller-id mate wins
               .filter(F.round(dot / (F.col("na") * F.col("nb")), 4)
                       >= SEMDEDUP_TAU)
               .select(F.col("v1").alias("vec_id")).distinct())
    return (e.select("vec_id", "cluster")
            .join(dropped.withColumn("keep", F.lit(False)),
                  on="vec_id", how="left")
            .select("vec_id", F.col("cluster").cast("int").alias("cluster"),
                    F.coalesce("keep", F.lit(True)).alias("keep"))
            .orderBy("vec_id"))


def q_dd_window_dup(spark, sf_dir):
    """Exact-substring duplication signal (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" shape,
    suffix-array dedup re-expressed for Spark): slide a stride-1
    window of WINDOW_W tokens over every document, hash each window,
    and report per document how much of it is covered by windows that
    occur MORE THAN ONCE anywhere in the corpus — including repeats
    inside the same document, which suffix-array dedup also removes.
    Unlike dd_para_dup's non-overlapping paragraph proxy, overlapping
    windows catch duplicated spans at ANY alignment.

    Plan shape: one documents scan -> in-row md5 per window (hashes
    are built BEFORE the explode, so the shuffle carries 32-hex-char
    digests, not text; xxhash64 is the documented 100 TB swap for a
    4x narrower shuffle) -> hash-agg on the window hash (map-side
    combinable) -> equi-join back -> per-doc hash-agg.  The count
    side is pre-aggregated to one row per distinct window, so hot
    boilerplate windows fan out only on the document side and AQE
    skew-join splits oversized partitions — the same skew story as
    dd_para_dup, at stride-1 resolution."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    wins = F.transform(
        F.sequence(F.lit(1), n - (WINDOW_W - 1)),
        lambda i: F.md5(F.concat_ws(" ", F.slice("w", i, WINDOW_W))))
    s = (d.filter(n >= WINDOW_W)
         .select("doc_id", F.explode(wins).alias("wh")))
    c = s.groupBy("wh").agg(F.count("*").alias("c"))
    return (s.join(c, "wh")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_windows"),
                 F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                  .cast("long").alias("n_dup"),
                 F.round(F.avg(F.when(F.col("c") > 1, 1.0).otherwise(0.0)),
                         4).alias("dup_frac")))


def q_tx_line_dedup(spark, sf_dir):
    """Intra-document duplicate-line removal (the RefinedWeb/CCNet
    boilerplate pass that DROPS repeated lines within a page — nav
    bars, cookie banners, footers — keeping each line's FIRST
    occurrence in order).  The synthetic corpus is newline-free, so
    contiguous PARA_W-word segments stand in for lines, as in
    dd_para_dup; at real scale the splitter is split(text, '\\n').

    Map-only at any scale — zero shuffle, zero explode: segments are
    built and deduplicated entirely in-row with higher-order array
    functions.  First-occurrence keep is expressed as
    filter(segs, (s, i) -> array_position(segs, s) == i + 1) —
    array_position returns the FIRST index, so later duplicates drop;
    the O(k^2) scan is per-document segment count (tiny), never
    data-sized.  Output pins the cleaned text so the contract checks
    the transform itself, not just counts."""
    d = _docs(spark, sf_dir).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w")
    idx = F.sequence(F.lit(0), F.floor((n - 1) / PARA_W).cast("int"))
    segs = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice("w", i * PARA_W + 1, PARA_W)))
    d = d.select("doc_id", segs.alias("segs"))
    kept = F.filter(
        "segs", lambda s, i: F.array_position("segs", s) == i + F.lit(1))
    return d.select(
        "doc_id",
        F.size("segs").cast("long").alias("n_segs"),
        (F.size("segs") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("clean_text"))


def q_ev_zscore_anomaly(spark, sf_dir):
    """Daily per-type volume anomaly detection: z-score each
    (event_type, day) count against that type's all-days mean/stddev,
    flag |z| >= 2.  The ops-monitoring staple over event streams; two
    hash-aggs plus a window over the tiny (type, day) rollup — the raw
    table is touched once, all heavy lifting is map-side combinable,
    and the window partitions are days-per-type (never data-sized)."""
    from pyspark.sql import Window
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    day = (F.floor(_epoch_naive(F.col("ts")) / 86400) * 86400).cast("long")
    daily = (ev.groupBy(day.alias("day_epoch"), "event_type")
             .agg(F.count("*").cast("long").alias("cnt")))
    w = Window.partitionBy("event_type")
    mu = F.avg("cnt").over(w)
    sd = F.stddev_samp("cnt").over(w)
    z = F.when(sd > 0, (F.col("cnt") - mu) / sd).otherwise(F.lit(0.0))
    return daily.select(
        "event_type", "day_epoch", "cnt",
        F.round(z, 4).alias("z"),
        (F.abs(z) >= ZSCORE_THRESH).alias("is_anomaly"))


def q_tx_normalize(spark, sf_dir):
    """Unicode normalization pass (NFC + control strip + whitespace
    squash) via the vectorized Arrow UDF in functions/textnorm.py —
    the mandatory stage-0 of a cleaning pipeline, here reporting
    whether each doc changed and its normalized length.  Map-only; the
    UDF runs once per Arrow batch, not per row.  (The synthetic corpus
    is already clean ASCII, so `changed` is expected all-false here —
    the messy-input behavior is pinned by tests/test_textnorm.py
    against the pure-Python reference.)"""
    from sonar_tantivy_spark.functions import textnorm
    d = _docs(spark, sf_dir)
    norm = textnorm.normalize_text(F.col("text"))
    return d.select(
        "doc_id",
        (norm != F.col("text")).alias("changed"),
        F.length(norm).cast("long").alias("n_chars_norm"))


# Registry order note (round 6): the driver's correctness artifact
# records the FIRST 50 entries, and rounds 1-5 only ever witnessed
# the original first 50 — so the round-4/5 surfaces (aggs, ids,
# combined_fields, script_score, collapse, rescore, semdedup, dsir,
# ...) are rotated to the front.  Pure reordering: every query and
# its oracle SQL are unchanged.
QUERIES = {
    "ft_ids": q_ft_ids,
    "ft_combined_fields": q_ft_combined_fields,
    "ft_script_score": q_ft_script_score,
    "ft_collapse": q_ft_collapse,
    "ft_rescore": q_ft_rescore,
    "ft_agg_terms": q_ft_agg_terms,
    "ft_agg_stats": q_ft_agg_stats,
    "ft_agg_histogram": q_ft_agg_histogram,
    "ft_agg_percentiles": q_ft_agg_percentiles,
    "ft_agg_cardinality": q_ft_agg_cardinality,
    "ft_agg_sig_terms": q_ft_agg_sig_terms,
    "ft_agg_sig_text": q_ft_agg_sig_text,
    "ft_agg_extstats": q_ft_agg_extstats,
    "ft_agg_top_hits": q_ft_agg_top_hits,
    "ft_agg_range": q_ft_agg_range,
    "ft_agg_pct_ranks": q_ft_agg_pct_ranks,
    "ft_agg_subagg": q_ft_agg_subagg,
    "ft_agg_filters": q_ft_agg_filters,
    "ft_agg_cumsum": q_ft_agg_cumsum,
    "ft_agg_derivative": q_ft_agg_derivative,
    "ft_agg_moving_fn": q_ft_agg_moving_fn,
    "ft_agg_bucket_sort": q_ft_agg_bucket_sort,
    "ft_agg_sibling": q_ft_agg_sibling,
    "ft_agg_composite": q_ft_agg_composite,
    "ft_agg_multi_terms": q_ft_agg_multi_terms,
    "ft_agg_weighted_avg": q_ft_agg_weighted_avg,
    "ft_agg_rare_terms": q_ft_agg_rare_terms,
    "ft_agg_mad": q_ft_agg_mad,
    "ft_agg_boxplot": q_ft_agg_boxplot,
    "ft_agg_string_stats": q_ft_agg_string_stats,
    "ft_agg_adjacency": q_ft_agg_adjacency,
    "ft_agg_serial_diff": q_ft_agg_serial_diff,
    "ft_agg_bucket_script": q_ft_agg_bucket_script,
    "ft_agg_bucket_selector": q_ft_agg_bucket_selector,
    "ft_agg_pct_bucket": q_ft_agg_pct_bucket,
    "ft_agg_extstats_bucket": q_ft_agg_extstats_bucket,
    "dd_semdedup_kmeans": q_dd_semdedup_kmeans,
    "pl_dsir_weights": q_pl_dsir_weights,
    "ft_prefix": q_ft_prefix,
    "ft_phrase_slop": q_ft_phrase_slop,
    "ft_phrase_slop_unordered": q_ft_phrase_slop_unordered,
    "ft_more_like_this": q_ft_more_like_this,
    "ft_terms_set": q_ft_terms_set,
    "ft_dismax": q_ft_dismax,
    "ft_phrase_prefix": q_ft_phrase_prefix,
    "ft_wildcard": q_ft_wildcard,
    "ft_const_score": q_ft_const_score,
    "ft_boosting": q_ft_boosting,
    "ft_rrf_hybrid": q_ft_rrf_hybrid,
    "ft_suggest": q_ft_suggest,
    "ev_sessionize": q_ev_sessionize,
    "ev_value_quantiles": q_ev_value_quantiles,
    "ev_funnel": q_ev_funnel,
    "ev_retention": q_ev_retention,
    "ev_asof_join": q_ev_asof_join,
    "tx_repetition": q_tx_repetition,
    "pl_decontaminate": q_pl_decontaminate,
    "tx_tfidf_topk": q_tx_tfidf_topk,
    "pl_pack_sequences": q_pl_pack_sequences,
    "pl_chunk_docs": q_pl_chunk_docs,
    "ev_json_props": q_ev_json_props,
    "ft_match_and": q_ft_match_and,
    "ft_page2": q_ft_page2,
    "ft_search_after": q_ft_search_after,
    "ft_function_fvf": q_ft_function_fvf,
    "ft_function_gauss": q_ft_function_gauss,
    "ft_rank_feature": q_ft_rank_feature,
    "ft_pinned": q_ft_pinned,
    "ft_random_score": q_ft_random_score,
    "ft_distance_feature": q_ft_distance_feature,
    "dd_para_dup": q_dd_para_dup,
    "pl_domain_quota": q_pl_domain_quota,
    "tx_lm_xent": q_tx_lm_xent,
    "ev_zscore_anomaly": q_ev_zscore_anomaly,
    "tx_normalize": q_tx_normalize,
    "pl_split_hash": q_pl_split_hash,
    "tx_ngram_freq": q_tx_ngram_freq,
    "dd_window_dup": q_dd_window_dup,
    "tx_line_dedup": q_tx_line_dedup,
    "ft_term_bm25": q_ft_term_bm25,
    "ft_bool_must": q_ft_bool_must,
    "ft_bool_should": q_ft_bool_should,
    "ft_bool_msm": q_ft_bool_msm,
    "ft_bool_filter": q_ft_bool_filter,
    "ft_must_not": q_ft_must_not,
    "ft_phrase": q_ft_phrase,
    "ft_span_near": q_ft_span_near,
    "ft_span_first": q_ft_span_first,
    "ft_span_not": q_ft_span_not,
    "ft_span_within": q_ft_span_within,
    "ft_intervals": q_ft_intervals,
    "ft_percolate": q_ft_percolate,
    "ft_all": q_ft_all,
    "ft_phrase3": q_ft_phrase3,
    "ft_boost": q_ft_boost,
    "ft_grammar_group": q_ft_grammar_group,
    "ft_termdict": q_ft_termdict,
    "ft_stats": q_ft_stats,
    "ft_sort_fast_field": q_ft_sort_fast_field,
    "ft_range_filter_term": q_ft_range_filter_term,
    "ft_regex": q_ft_regex,
    "ft_fuzzy": q_ft_fuzzy,
    "ft_fuzzy_transposition": q_ft_fuzzy_transposition,
    "ft_facets": q_ft_facets,
    "ft_facet_hierarchical": q_ft_facet_hierarchical,
    "dd_exact_fingerprint": q_dd_exact_fingerprint,
    "dd_minhash_bands": q_dd_minhash_bands,
    "dd_jaccard_pairs": q_dd_jaccard_pairs,
    "dd_dup_clusters": q_dd_dup_clusters,
    "dd_incremental_dedup": q_dd_incremental_dedup,
    "dd_keep_representative": q_dd_keep_representative,
    "dd_simhash": q_dd_simhash,
    "dd_embed_cosine_pairs": q_dd_embed_cosine_pairs,
    "dd_embed_dup_clusters": q_dd_embed_dup_clusters,
    "ann_cosine_topk": q_ann_cosine_topk,
    "ann_lsh_bucket": q_ann_lsh_bucket,
    "ann_ivf_topk": q_ann_ivf_topk,
    "tx_token_count": q_tx_token_count,
    "tx_token_count_bpe": q_tx_token_count_bpe,
    "tx_quality": q_tx_quality,
    "tx_langid": q_tx_langid,
    "tx_fingerprint": q_tx_fingerprint,
    "tx_winnow_fingerprint": q_tx_winnow_fingerprint,
    "dd_winnow_pairs": q_dd_winnow_pairs,
    "pl_clean_corpus": q_pl_clean_corpus,
    "pl_sample_mix": q_pl_sample_mix,
    "mm_binary_meta": q_mm_binary_meta,
    "ev_windowed_counts": q_ev_windowed_counts,
    "ev_rollup_daily": q_ev_rollup_daily,
}


# ------------------------------------------------------------- DuckDB oracle
def _sql_in_list(words: list[str]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def _quality_sql() -> str:
    """Gopher-rule oracle — same 5 rules as q_tx_quality."""
    stops = _sql_in_list(LANG_STOPWORDS["en"])
    return f"""SELECT doc_id, round(passed / {N_QUALITY_RULES}.0, 4) AS quality,
passed = {N_QUALITY_RULES} AS gopher_pass
FROM (SELECT doc_id,
   (CASE WHEN n BETWEEN 20 AND 100000 THEN 1 ELSE 0 END
  + CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1 ELSE 0 END
  + CASE WHEN nd / n >= 0.2 THEN 1 ELSE 0 END
  + CASE WHEN stop >= 2 THEN 1 ELSE 0 END
  + CASE WHEN sym / n <= 0.1 THEN 1 ELSE 0 END) AS passed
 FROM (SELECT doc_id,
         len(w)::DOUBLE AS n,
         len(list_distinct(w))::DOUBLE AS nd,
         len(list_filter(w, x -> x IN ({stops})))::DOUBLE AS stop,
         (length(text)::DOUBLE - len(w) + 1.0) / len(w) AS mwl,
         len(list_filter(w, x -> starts_with(x, '#')
                                 OR starts_with(x, '...')))::DOUBLE AS sym
       FROM (SELECT doc_id, text, string_split(text, ' ') AS w
             FROM documents)))"""


def _langid_sql() -> str:
    """Stopword-profile langid oracle — same profiles, floor, and
    tie-break order as q_tx_langid."""
    ratio_cols = ", ".join(
        f"len(list_filter(w, x -> x IN ({_sql_in_list(LANG_STOPWORDS[lg])})))"
        f"::DOUBLE / len(w) AS r_{lg}"
        for lg in LANG_ORDER)
    gm = "greatest(" + ", ".join(f"r_{lg}" for lg in LANG_ORDER) + ")"
    cases = "\n".join(
        f"  WHEN r_{lg} >= gm AND gm >= {LANGID_FLOOR} THEN '{lg}'"
        for lg in LANG_ORDER)
    return f"""SELECT doc_id, CASE
{cases}
  ELSE 'unk' END AS lang_pred
FROM (SELECT doc_id, {gm} AS gm, * FROM
  (SELECT doc_id, {ratio_cols}
   FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)))"""


def _sql_prefix() -> str:
    stem_values = ", ".join(f"('{w}', '{s}')" for w, s in sorted(STEM_MAP.items()))
    norm_values = ", ".join(
        f"({nid}, {lo}, {bm25.FIELDNORM_TABLE[nid + 1] if nid < 255 else (1 << 62)})"
        for nid, lo in enumerate(bm25.FIELDNORM_TABLE)
    )
    return f"""WITH stem_map(raw, stemmed) AS (VALUES {stem_values}),
splitted AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
toks0 AS (SELECT doc_id, unnest(arr) AS raw, generate_subscripts(arr, 1) - 1 AS pos
          FROM splitted),
toks AS (SELECT t.doc_id, coalesce(m.stemmed, t.raw) AS term, t.pos
         FROM toks0 t LEFT JOIN stem_map m ON t.raw = m.raw),
postings AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
norms(norm_id, dl, dl_next) AS (VALUES {norm_values}),
doclen AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
dlq AS (SELECT d.doc_id, d.len, n.dl FROM doclen d
        JOIN norms n ON d.len >= n.dl AND d.len < n.dl_next),
stats AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                 (SELECT sum(len)::DOUBLE FROM doclen)
                   / (SELECT count(*) FROM documents) AS avgdl),
tdf AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
scored AS (SELECT p.doc_id, p.term,
                  ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)) * {K1 + 1.0} * p.tf
                  / (p.tf + {K1} * ({1.0 - B} + {B} * q.dl / s.avgdl)) AS score
           FROM postings p JOIN tdf t USING (term) JOIN dlq q USING (doc_id)
           CROSS JOIN stats s),
sh AS (SELECT DISTINCT t1.doc_id, t1.raw || ' ' || t2.raw || ' ' || t3.raw AS shingle
       FROM toks0 t1
       JOIN toks0 t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       JOIN toks0 t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2)
"""


# MinHash band signatures (16 hashes → 8 bands × 2 rows), shared by the
# dd_minhash_bands / dd_jaccard_pairs / dd_dup_clusters oracles —
# identical math to the Spark side (md5 over 'shingle|h'), with the same
# exact-dup collapse: signatures for representatives (min doc_id per
# md5(text) group) only; members re-attach as ``stars`` edges gated on
# the rep having produced a signature (>= 1 shingle).
_MINHASH_SIG_SQL = f""", grp AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents),
mh AS (
  SELECT doc_id, h, min(md5(shingle || '|' || h::VARCHAR)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range({N_MINHASH})) AS h)
  WHERE doc_id IN (SELECT doc_id FROM grp WHERE doc_id = rep)
  GROUP BY doc_id, h),
msig AS (
  SELECT doc_id, (h // 2)::INT AS band,
         min(CASE WHEN h % 2 = 0 THEN mh END)
           || min(CASE WHEN h % 2 = 1 THEN mh END) AS bsig
  FROM mh GROUP BY doc_id, h // 2),
stars AS (
  SELECT rep AS d1, doc_id AS d2 FROM grp
  WHERE doc_id <> rep AND rep IN (SELECT DISTINCT doc_id FROM msig))"""

# MinHash-verified pair generation + CC transitive closure — shared by
# the dd_dup_clusters and dd_keep_representative oracles (one source of
# truth for the edge semantics; the final SELECT differs)
_DUP_CLUSTER_CTES = _MINHASH_SIG_SQL + """,
cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM msig a JOIN msig b
            ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.d1, c.d2, count(*) AS i
          FROM cands c
          JOIN sh a ON a.doc_id = c.d1
          JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
          GROUP BY c.d1, c.d2),
jp AS (SELECT d1, d2
       FROM inter JOIN sizes sa ON sa.doc_id = d1
                  JOIN sizes sb ON sb.doc_id = d2
       WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5
       UNION ALL SELECT d1, d2 FROM stars),
edges AS (SELECT d1, d2 FROM jp UNION SELECT d2 AS d1, d1 AS d2 FROM jp),
reach(doc, r) AS (
  SELECT d1, d1 FROM edges
  UNION
  SELECT e.d2, r.r FROM reach r JOIN edges e ON e.d1 = r.doc)"""


def _embed_lsh_pairs_sql() -> str:
    """LSH-bucketed embed-cosine pairs oracle: 8 tables x 3 planes
    (planes = vectors 1..24), union of same-bucket REPRESENTATIVE pairs
    (exact-dup collapse: rep = min vec_id per identical embedding),
    exact-cosine verification, plus (rep, member, 1.0) star edges gated
    on positive rep norm — mirrors q_dd_embed_cosine_pairs."""
    sig_cols = []
    for t in range(N_LSH_TABLES):
        bits = " || ".join(
            f"CASE WHEN list_dot_product(e.v, (SELECT v FROM pl WHERE "
            f"vec_id = {t * N_LSH_PLANES + i + 1})) >= 0 THEN '1' ELSE '0' END"
            for i in range(N_LSH_PLANES))
        sig_cols.append(f"({bits}) AS b{t}")
    unions = "\nUNION\n".join(
        f"SELECT a.vec_id AS v1, b.vec_id AS v2 FROM sig a "
        f"JOIN sig b ON a.b{t} = b.b{t} AND a.vec_id < b.vec_id"
        for t in range(N_LSH_TABLES))
    return f"""WITH e0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         min(vec_id) OVER (PARTITION BY embedding) AS rep
  FROM embeddings),
pl AS (SELECT vec_id, v FROM e0
       WHERE vec_id BETWEEN 1 AND {N_LSH_TABLES * N_LSH_PLANES}),
e AS (SELECT vec_id, v FROM e0 WHERE vec_id = rep),
vstars AS (SELECT rep AS v1, vec_id AS v2 FROM e0
           WHERE vec_id <> rep
             AND rep IN (SELECT vec_id FROM e WHERE list_dot_product(v, v) > 0)),
sig AS (SELECT e.vec_id, {', '.join(sig_cols)} FROM e),
cand AS ({unions}),
pairs AS (SELECT c.v1, c.v2,
  list_dot_product(a.v, b.v)
    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM cand c JOIN e a ON a.vec_id = c.v1 JOIN e b ON b.vec_id = c.v2)
SELECT v1, v2, cos FROM (
  SELECT v1, v2, round(cos, 4) AS cos FROM pairs WHERE round(cos, 4) >= 0.45
  UNION ALL
  SELECT v1, v2, 1.0 AS cos FROM vstars)"""


def _simhash_sql() -> str:
    bits = ", ".join(
        f"sum((((hv >> {i}) & 1)::BIGINT * 2 - 1) * tf) AS b{i}" for i in range(16)
    )
    val = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))
    return f"""SELECT doc_id, ({val})::BIGINT AS simhash16 FROM (
  SELECT doc_id, {bits} FROM (
    SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 8))::UBIGINT AS hv FROM postings
  ) GROUP BY doc_id)"""


_ANN_PREFIX = """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
c AS (SELECT e.vec_id,
             list_dot_product(e.v, q.qv)
               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos,
             e.v
      FROM e CROSS JOIN q WHERE e.vec_id <> 0)
"""


def _winnow_sel_sql(collapse: bool = False) -> str:
    """Shared winnowing CTEs ending in ``sel(doc_id, mh)`` — the
    selected window-min hash set, mirroring _winnow_minima.  With
    ``collapse`` only exact-dup representatives (min doc_id per
    md5(text)) are fingerprinted and a ``grp`` CTE is exposed for star
    edges — the dd_winnow_pairs path."""
    k, w = WINNOW_K, WINNOW_W
    joins = "\n       ".join(
        f"JOIN toks t{i} ON t1.doc_id = t{i}.doc_id AND t{i}.pos = t1.pos + {i - 1}"
        for i in range(2, k + 1))
    gram = " || ' ' || ".join(f"t{i}.raw" for i in range(1, k + 1))
    grp = """grp AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM documents),
""" if collapse else ""
    rep_filter = ("\n    AND doc_id IN (SELECT doc_id FROM grp WHERE doc_id = rep)"
                  if collapse else "")
    return f"""WITH {grp}splitted AS (
  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
  WHERE len(string_split(text, ' ')) >= {k}{rep_filter}),
toks AS (SELECT doc_id, unnest(arr) AS raw,
                generate_subscripts(arr, 1) - 1 AS pos FROM splitted),
sh AS (SELECT t1.doc_id, t1.pos, md5({gram}) AS h
       FROM toks t1
       {joins}),
wmin AS (SELECT doc_id, pos,
                min(h) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mh,
                max(pos) OVER (PARTITION BY doc_id) AS mp
         FROM sh),
sel AS (SELECT DISTINCT doc_id, mh FROM wmin WHERE pos <= mp - {w - 1})
"""


def _winnow_sql() -> str:
    """Winnowing fingerprint oracle: md5 of the sorted distinct minima."""
    return _winnow_sel_sql() + """SELECT doc_id, count(*)::BIGINT AS n_fp,
       md5(string_agg(mh, ',' ORDER BY mh)) AS winnow_fp
FROM sel GROUP BY doc_id"""


def _winnow_pairs_sql() -> str:
    """dd_winnow_pairs oracle: representative pairs sharing >=
    WINNOW_MIN_SHARED selected hashes, plus exact-dup star edges
    (rep, member, n_fp of the group) under the same >= threshold."""
    return _winnow_sel_sql(collapse=True) + f""", nfp AS (
  SELECT doc_id, count(*)::BIGINT AS n FROM sel GROUP BY doc_id)
SELECT d1, d2, n_shared FROM (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS n_shared
  FROM sel a JOIN sel b ON a.mh = b.mh AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
  UNION ALL
  SELECT g.rep AS d1, g.doc_id AS d2, f.n AS n_shared
  FROM grp g JOIN nfp f ON f.doc_id = g.rep
  WHERE g.doc_id <> g.rep AND f.n >= {WINNOW_MIN_SHARED})"""


def _ann_ivf_sql() -> str:
    """IVF-flat oracle mirroring operators/ann.py (sampled-centroid
    variant): K = 2^ceil(log2(2·√N)) centroids = vectors
    CENTROID_BASE..+K-1, every vector SPILLED into its top-ASSIGN cells
    (cosine round 7, ties -> lowest cell id), query probes its
    max(2, K//8) nearest cells, candidates de-duplicated, exact cosine
    top-5 within the probed cells.  K and nprobe are computed from
    count(*) in-SQL so the oracle follows the same corpus-scaling
    formulas as default_n_cells/default_nprobe."""
    from sonar_tantivy_spark.operators.ann import ASSIGN, CENTROID_BASE
    lo = CENTROID_BASE
    return _ANN_PREFIX + f""",
params0 AS (SELECT GREATEST(16, CAST(pow(2, ceil(log2(GREATEST(1,
                2 * CAST(floor(sqrt(count(*))) AS INT))))) AS INT)) AS kc
            FROM embeddings),
params AS (SELECT kc, GREATEST(2, kc // 8) AS np FROM params0),
cent AS (SELECT vec_id - {lo} AS cid, v AS cv
         FROM e WHERE vec_id BETWEEN {lo}
                              AND {lo} - 1 + (SELECT kc FROM params)),
sc AS (SELECT e.vec_id, cent.cid,
              round(list_dot_product(e.v, cent.cv)
                / (sqrt(list_dot_product(e.v, e.v))
                   * sqrt(list_dot_product(cent.cv, cent.cv))), 7) AS cs
       FROM e CROSS JOIN cent),
assign AS (SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cs DESC, cid) AS rn FROM sc)
    WHERE rn <= {ASSIGN}),
qc AS (SELECT cid AS cell FROM (
    SELECT cent.cid,
           row_number() OVER (ORDER BY
             round(list_dot_product(q.qv, cent.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(cent.cv, cent.cv))), 7) DESC,
             cent.cid) AS rn
    FROM cent CROSS JOIN q) WHERE rn <= (SELECT np FROM params)),
cand AS (SELECT DISTINCT assign.vec_id
         FROM assign JOIN qc ON qc.cell = assign.cell)
SELECT c.vec_id, round(c.cos, 4) AS cos
FROM c JOIN cand ON cand.vec_id = c.vec_id
ORDER BY round(c.cos, 7) DESC, c.vec_id LIMIT 5"""


def _ann_lsh_sql() -> str:
    """Multiprobe LSH oracle mirroring operators/ann.py: N_TABLES x
    N_PLANES sign bits (planes = vectors 1..T*P); a vector is a
    candidate when its bucket agrees with the query's bucket on
    >= P-1 bits (Hamming<=1) in any table."""
    from sonar_tantivy_spark.operators.ann import N_PLANES, N_TABLES

    def sig(src, prefix):
        cols = []
        for t in range(N_TABLES):
            bits = " || ".join(
                f"CASE WHEN list_dot_product({src}, (SELECT v FROM pl WHERE "
                f"vec_id = {t * N_PLANES + i + 1})) >= 0 THEN '1' ELSE '0' END"
                for i in range(N_PLANES))
            cols.append(f"({bits}) AS {prefix}{t}")
        return ", ".join(cols)

    match = " OR ".join(
        "(" + " + ".join(
            f"CASE WHEN substr(s.eb{t}, {i + 1}, 1) = substr(qs.qb{t}, {i + 1}, 1) "
            f"THEN 1 ELSE 0 END"
            for i in range(N_PLANES)) + f") >= {N_PLANES - 1}"
        for t in range(N_TABLES))
    return f"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
pl AS (SELECT vec_id, v FROM e WHERE vec_id BETWEEN 1 AND {N_TABLES * N_PLANES}),
sig AS (SELECT e.vec_id, e.v, {sig('e.v', 'eb')} FROM e),
qsig AS (SELECT {sig('q.qv', 'qb')} FROM q),
cand AS (SELECT s.vec_id, s.v FROM sig s CROSS JOIN qsig qs
         WHERE s.vec_id <> 0 AND ({match})),
scored AS (SELECT c.vec_id,
             list_dot_product(c.v, q.qv)
               / (sqrt(list_dot_product(c.v, c.v))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS cos
           FROM cand c CROSS JOIN q)
SELECT vec_id, round(cos, 4) AS cos FROM scored
ORDER BY round(cos, 7) DESC, vec_id LIMIT 5"""


# Queries registered WITHOUT a SQL oracle — the contract's sanctioned
# exemption for iterative / fixed-point algorithms the driver checks
# rows-only.  Every name here must justify itself in its docstring and
# carry a pytest replica pinning the semantics instead.
NO_ORACLE = frozenset({
    "dd_semdedup_kmeans",  # k-means is a fixed-point loop; pinned by
                           # tests/test_kmeans.py + tests/test_semdedup.py
})


def oracle_sql() -> dict[str, str]:
    pre = _sql_prefix()
    return {
        "ft_term_bm25": pre + """SELECT doc_id, round(score, 4) AS score FROM scored
WHERE term = 'valu' ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_bool_must": pre + """SELECT a.doc_id, round(a.score + b.score, 4) AS score
FROM scored a JOIN scored b USING (doc_id)
WHERE a.term = 'tabl' AND b.term = 'row'
ORDER BY round(a.score + b.score, 7) DESC, a.doc_id LIMIT 10""",
        "ft_bool_should": pre + """SELECT doc_id, round(sum(score), 4) AS score
FROM scored WHERE term IN ('tabl', 'row') GROUP BY doc_id
ORDER BY round(sum(score), 7) DESC, doc_id LIMIT 10""",
        "ft_bool_msm": pre + """SELECT doc_id, round(sum(score), 4) AS score
FROM scored WHERE term IN ('tabl', 'row', 'hash') GROUP BY doc_id
HAVING count(*) >= 2
ORDER BY round(sum(score), 7) DESC, doc_id LIMIT 10""",
        "ft_bool_filter": pre + """SELECT doc_id, round(score, 4) AS score
FROM scored WHERE term = 'tabl'
  AND doc_id IN (SELECT doc_id FROM postings WHERE term = 'hash')
ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_must_not": pre + """SELECT doc_id, round(score, 4) AS score FROM scored
WHERE term = 'tabl'
  AND doc_id NOT IN (SELECT doc_id FROM postings WHERE term = 'slow')
ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_phrase": pre + """, adj AS (
  SELECT a.doc_id, count(*) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'tabl' AND b.term = 'hash' GROUP BY a.doc_id),
idfs AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
         FROM tdf t CROSS JOIN stats s WHERE t.term IN ('tabl', 'hash'))
SELECT j.doc_id,
       round(i.idf_sum * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf_sum * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_all": """SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
ORDER BY doc_id LIMIT 10""",
        "ft_phrase3": pre + """, adj3 AS (
  SELECT a.doc_id, count(*) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
  WHERE a.term = 'slow' AND b.term = 'hash' AND c.term = 'batch'
  GROUP BY a.doc_id),
idfs3 AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
          FROM tdf t CROSS JOIN stats s WHERE t.term IN ('slow', 'hash', 'batch'))
SELECT j.doc_id,
       round(i.idf_sum * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj3 j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs3 i
ORDER BY round(i.idf_sum * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_boost": pre + """SELECT doc_id,
round(sum(CASE WHEN term = 'valu' THEN 2 * score ELSE score END), 4) AS score
FROM scored WHERE term IN ('valu', 'spark') GROUP BY doc_id
ORDER BY round(sum(CASE WHEN term = 'valu' THEN 2 * score ELSE score END), 7)
  DESC, doc_id LIMIT 10""",
        "ft_grammar_group": pre + """, grp AS (
  SELECT doc_id, sum(score) AS gs FROM scored
  WHERE term IN ('tabl', 'row') GROUP BY doc_id),
sp AS (SELECT doc_id, score AS ss FROM scored WHERE term = 'spark')
SELECT doc_id, round(gs + ss, 4) AS score FROM grp JOIN sp USING (doc_id)
ORDER BY round(gs + ss, 7) DESC, doc_id LIMIT 10""",
        "ft_terms_set": pre + """SELECT DISTINCT doc_id,
CAST(1.0 AS DOUBLE) AS score
FROM postings WHERE term IN ('valu', 'spark')
ORDER BY doc_id LIMIT 10""",
        "ft_ids": f"""SELECT doc_id, CAST(1.0 AS DOUBLE) AS score
FROM documents WHERE doc_id IN {IDS_SET} ORDER BY doc_id""",
        "ft_dismax": pre + f"""SELECT doc_id,
round(max(score) + {DISMAX_TIE} * (sum(score) - max(score)), 4) AS score
FROM scored WHERE term IN ('tabl', 'row') GROUP BY doc_id
ORDER BY round(max(score) + {DISMAX_TIE} * (sum(score) - max(score)), 7)
  DESC, doc_id LIMIT 10""",
        "ft_phrase_prefix": pre + """SELECT DISTINCT a.doc_id,
CAST(1.0 AS DOUBLE) AS score
FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = 'slow' AND b.term LIKE 'ha%'
ORDER BY a.doc_id LIMIT 10""",
        "ft_wildcard": pre + """SELECT DISTINCT doc_id FROM postings
WHERE regexp_full_match(term, 's.a.*') ORDER BY doc_id""",
        "ft_const_score": pre + f"""SELECT DISTINCT doc_id,
CAST({CONST_BOOST} AS DOUBLE) AS score
FROM postings WHERE term = 'tabl' ORDER BY doc_id LIMIT 10""",
        "ft_match_and": pre + """SELECT a.doc_id, round(a.score + b.score, 4) AS score
FROM scored a JOIN scored b USING (doc_id)
WHERE a.term = 'valu' AND b.term = 'group'
ORDER BY round(a.score + b.score, 7) DESC, a.doc_id LIMIT 10""",
        "ft_page2": pre + f"""SELECT doc_id, round(score, 4) AS score,
row_number() OVER (ORDER BY round(score, 7) DESC, doc_id) AS rn
FROM scored WHERE term = 'valu'
ORDER BY round(score, 7) DESC, doc_id
LIMIT {PAGE_SIZE} OFFSET {PAGE_SIZE}""",
        "ft_search_after": pre + f""", s7s AS (
  SELECT doc_id, round(score, 7) AS s7 FROM scored WHERE term = 'valu'),
cur AS (
  SELECT s7 AS cs, doc_id AS cd FROM (
    SELECT * FROM s7s ORDER BY s7 DESC, doc_id LIMIT {PAGE_SIZE})
  ORDER BY s7 ASC, doc_id DESC LIMIT 1)
SELECT s.doc_id, round(s.s7, 4) AS score FROM s7s s, cur
WHERE s.s7 < cur.cs OR (s.s7 = cur.cs AND s.doc_id > cur.cd)
ORDER BY s.s7 DESC, s.doc_id LIMIT {PAGE_SIZE}""",
        "ft_agg_terms": pre + """SELECT d.source AS key,
count(*)::BIGINT AS doc_count
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
GROUP BY d.source ORDER BY doc_count DESC, key LIMIT 10""",
        "ft_agg_stats": pre + """SELECT count(n_chars)::BIGINT AS cnt,
min(n_chars)::BIGINT AS min_c, max(n_chars)::BIGINT AS max_c,
round(avg(n_chars), 4) AS avg_c, sum(n_chars)::BIGINT AS sum_c
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_histogram": pre + f"""SELECT
(floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE AS key,
count(*)::BIGINT AS doc_count
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
GROUP BY key ORDER BY key""",
        "ft_agg_percentiles": pre + f"""SELECT
{', '.join(f'round(quantile_cont(n_chars, {p}), 4) AS p{int(p * 100)}'
           for p in PCTS)}
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_cardinality": pre + """SELECT
count(DISTINCT source)::BIGINT AS n_sources,
count(DISTINCT lang)::BIGINT AS n_langs
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_sig_terms": pre + """, matched AS (
  SELECT doc_id FROM postings WHERE term = 'valu'),
m AS (SELECT count(*)::DOUBLE AS m FROM matched),
fg AS (SELECT term, count(*)::BIGINT AS fg FROM postings
       WHERE doc_id IN (SELECT doc_id FROM matched) GROUP BY term),
jlh AS (
  SELECT f.term, f.fg, t.df,
         (f.fg / m.m - t.df::DOUBLE / s.n)
           * (f.fg / m.m) / (t.df::DOUBLE / s.n) AS raw
  FROM fg f JOIN tdf t USING (term) CROSS JOIN m CROSS JOIN stats s)
SELECT term, fg AS doc_count, df AS bg_count, round(raw, 4) AS score
FROM jlh WHERE round(raw, 4) > 0
ORDER BY round(raw, 7) DESC, term LIMIT 10""",
        "ft_agg_sig_text": pre + """, matched AS (
  SELECT DISTINCT doc_id FROM postings WHERE term = 'valu'),
reps AS (SELECT min(doc_id) AS doc_id FROM documents
         WHERE doc_id IN (SELECT doc_id FROM matched)
         GROUP BY md5(coalesce(text, ''))),
m2 AS (SELECT count(*)::DOUBLE AS m FROM reps),
fg2 AS (SELECT term, count(*)::BIGINT AS fg FROM postings
        WHERE doc_id IN (SELECT doc_id FROM reps) GROUP BY term),
jlh2 AS (
  SELECT f.term, f.fg, t.df,
         (f.fg / m2.m - t.df::DOUBLE / s.n)
           * (f.fg / m2.m) / (t.df::DOUBLE / s.n) AS raw
  FROM fg2 f JOIN tdf t USING (term) CROSS JOIN m2 CROSS JOIN stats s)
SELECT term, fg AS doc_count, df AS bg_count, round(raw, 4) AS score
FROM jlh2 WHERE round(raw, 4) > 0
ORDER BY round(raw, 7) DESC, term LIMIT 10""",
        "ft_rescore": pre + f""", win AS (
  SELECT doc_id, score FROM scored WHERE term = 'valu'
  ORDER BY round(score, 7) DESC, doc_id LIMIT {RESCORE_W}),
adjr AS (
  SELECT a.doc_id, count(*) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'valu' AND b.term = 'tabl' GROUP BY a.doc_id),
idfr AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
         FROM tdf t CROSS JOIN stats s WHERE t.term IN ('valu', 'tabl')),
phr AS (
  SELECT j.doc_id, i.idf_sum * 2.2 * j.ptf
         / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)) AS ph
  FROM adjr j JOIN dlq q USING (doc_id) CROSS JOIN stats s
  CROSS JOIN idfr i)
SELECT w.doc_id,
       round(w.score + coalesce({RESCORE_RW} * p.ph, 0), 4) AS score
FROM win w LEFT JOIN phr p USING (doc_id)
ORDER BY round(w.score + coalesce({RESCORE_RW} * p.ph, 0), 7) DESC, w.doc_id
LIMIT 10""",
        "ft_suggest": pre + f"""SELECT * FROM (
  SELECT 'tabel' AS token, term AS suggestion, df::BIGINT AS freq,
         round(1.0 - damerau_levenshtein(term, 'tabel') / 5.0, 4) AS score
  FROM tdf WHERE damerau_levenshtein(term, 'tabel') BETWEEN 1 AND 2
  ORDER BY score DESC, freq DESC, suggestion LIMIT {SUGGEST_K})
UNION ALL
SELECT * FROM (
  SELECT 'stram' AS token, term AS suggestion, df::BIGINT AS freq,
         round(1.0 - damerau_levenshtein(term, 'stram') / 5.0, 4) AS score
  FROM tdf WHERE damerau_levenshtein(term, 'stram') BETWEEN 1 AND 2
  ORDER BY score DESC, freq DESC, suggestion LIMIT {SUGGEST_K})""",
        "ft_collapse": pre + """SELECT doc_id, round(score, 4) AS score FROM (
  SELECT s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY round(s.score, 7) DESC, s.doc_id) AS rn
  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu')
WHERE rn = 1 ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_agg_top_hits": pre + """SELECT key, doc_id, score, rn FROM (
  SELECT d.source AS key, s.doc_id, round(s.score, 4) AS score,
         row_number() OVER (PARTITION BY d.source
                            ORDER BY round(s.score, 7) DESC, s.doc_id)
           ::BIGINT AS rn
  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu')
WHERE rn <= 2""",
        "ft_agg_extstats": pre + """SELECT count(n_chars)::BIGINT AS cnt,
min(n_chars)::BIGINT AS min_c, max(n_chars)::BIGINT AS max_c,
round(avg(n_chars), 4) AS avg_c, sum(n_chars)::BIGINT AS sum_c,
round(sum(n_chars::DOUBLE * n_chars), 4) AS sos,
round(var_pop(n_chars::DOUBLE), 4) AS var_c,
round(stddev_pop(n_chars::DOUBLE), 4) AS std_c
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_range": pre + """SELECT
sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)::BIGINT AS r_lo,
sum(CASE WHEN n_chars >= 200 AND n_chars < 400 THEN 1 ELSE 0 END)::BIGINT
  AS r_mid,
sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END)::BIGINT AS r_hi
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_pct_ranks": pre + """SELECT
round(100.0 * avg(CASE WHEN n_chars <= 200 THEN 1.0 ELSE 0.0 END), 4)
  AS p200,
round(100.0 * avg(CASE WHEN n_chars <= 400 THEN 1.0 ELSE 0.0 END), 4)
  AS p400
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_subagg": pre + """SELECT d.source AS key,
count(*)::BIGINT AS doc_count, round(avg(d.n_chars), 4) AS avg_c,
count(d.lang)::BIGINT AS n_lang
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
GROUP BY d.source ORDER BY doc_count DESC, key LIMIT 10""",
        "ft_agg_filters": pre + """SELECT 'hash' AS filter_name,
count(*)::BIGINT AS doc_count FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  AND doc_id IN (SELECT doc_id FROM postings WHERE term = 'hash')
UNION ALL
SELECT 'tabl' AS filter_name, count(*)::BIGINT AS doc_count
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  AND doc_id IN (SELECT doc_id FROM postings WHERE term = 'tabl')""",
        "ft_agg_cumsum": pre + f"""SELECT key, doc_count,
sum(doc_count) OVER (ORDER BY key
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS cum
FROM (SELECT (floor(n_chars / {HIST_INTERVAL})
              * {HIST_INTERVAL})::DOUBLE AS key,
             count(*)::BIGINT AS doc_count
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
      GROUP BY key)
ORDER BY key""",
        "ft_agg_derivative": pre + f"""SELECT key, doc_count, deriv
FROM (SELECT key, doc_count,
             (doc_count - lag(doc_count) OVER (ORDER BY key))::DOUBLE
               AS deriv
      FROM (SELECT (floor(n_chars / {HIST_INTERVAL})
                    * {HIST_INTERVAL})::DOUBLE AS key,
                   count(*)::BIGINT AS doc_count
            FROM documents
            WHERE doc_id IN (SELECT doc_id FROM postings
                             WHERE term = 'valu')
            GROUP BY key))
WHERE deriv IS NOT NULL ORDER BY key""",
        "ft_agg_moving_fn": pre + f"""SELECT key, doc_count, mv
FROM (SELECT key, doc_count,
             round(avg(doc_count::DOUBLE) OVER (ORDER BY key
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS mv
      FROM (SELECT (floor(n_chars / {HIST_INTERVAL})
                    * {HIST_INTERVAL})::DOUBLE AS key,
                   count(*)::BIGINT AS doc_count
            FROM documents
            WHERE doc_id IN (SELECT doc_id FROM postings
                             WHERE term = 'valu')
            GROUP BY key))
WHERE mv IS NOT NULL ORDER BY key""",
        "ft_agg_bucket_sort": pre + f"""SELECT
(floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE AS key,
count(*)::BIGINT AS doc_count
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
GROUP BY key ORDER BY doc_count DESC, key LIMIT 3""",
        "ft_agg_sibling": pre + f""", h AS (
  SELECT (floor(n_chars / {HIST_INTERVAL})
          * {HIST_INTERVAL})::DOUBLE AS key,
         count(*)::BIGINT AS doc_count
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  GROUP BY key)
SELECT (SELECT min(key) FROM h
        WHERE doc_count = (SELECT max(doc_count) FROM h)) AS max_key,
       (SELECT max(doc_count) FROM h)::DOUBLE AS max_count,
       (SELECT round(avg(doc_count), 4) FROM h) AS avg_count,
       (SELECT sum(doc_count) FROM h)::DOUBLE AS sum_count""",
        "ft_agg_composite": pre + f"""SELECT source, lang, doc_count
FROM (SELECT source, lang, count(*)::BIGINT AS doc_count,
             row_number() OVER (ORDER BY source, lang) AS rn
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
        AND source IS NOT NULL AND lang IS NOT NULL
      GROUP BY source, lang)
WHERE rn > {COMPOSITE_PAGE} AND rn <= {2 * COMPOSITE_PAGE}""",
        "ft_agg_multi_terms": pre + """SELECT d.source AS source,
d.lang AS lang, count(*)::BIGINT AS doc_count,
round(avg(d.n_chars), 4) AS avg_c
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  AND d.source IS NOT NULL AND d.lang IS NOT NULL
GROUP BY d.source, d.lang
ORDER BY doc_count DESC, source, lang LIMIT 10""",
        "ft_agg_weighted_avg": pre + """SELECT
round(sum(n_chars * (1 + doc_id % 5)) / sum(1 + doc_id % 5), 4) AS wavg
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_rare_terms": pre + """SELECT n_chars AS key,
count(*)::BIGINT AS doc_count
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
GROUP BY n_chars HAVING count(*) <= 1
ORDER BY doc_count, key LIMIT 20""",
        "ft_agg_mad": pre + """SELECT round(mad(n_chars), 4) AS mad_v
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_boxplot": pre + """SELECT min(n_chars)::DOUBLE AS mn,
round(quantile_cont(n_chars, 0.25), 4) AS q1,
round(quantile_cont(n_chars, 0.50), 4) AS q2,
round(quantile_cont(n_chars, 0.75), 4) AS q3,
max(n_chars)::DOUBLE AS mx
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_string_stats": pre + """SELECT count(text)::BIGINT AS cnt,
min(length(text))::BIGINT AS min_len,
max(length(text))::BIGINT AS max_len,
round(avg(length(text)), 4) AS avg_len
FROM documents
WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')""",
        "ft_agg_adjacency": pre + """, m AS (
  SELECT doc_id FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')),
hk AS (SELECT doc_id FROM postings WHERE term = 'hash'),
tk AS (SELECT doc_id FROM postings WHERE term = 'tabl')
SELECT * FROM (
  SELECT 'hash' AS key, count(*)::BIGINT AS doc_count FROM m
  WHERE doc_id IN (SELECT doc_id FROM hk)
  UNION ALL
  SELECT 'tabl', count(*)::BIGINT FROM m
  WHERE doc_id IN (SELECT doc_id FROM tk)
  UNION ALL
  SELECT 'hash&tabl', count(*)::BIGINT FROM m
  WHERE doc_id IN (SELECT doc_id FROM hk)
    AND doc_id IN (SELECT doc_id FROM tk)
) ORDER BY key""",
        "ft_agg_serial_diff": pre + f""", hb AS (
  SELECT (floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE
         AS key, count(*)::BIGINT AS doc_count
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  GROUP BY key)
SELECT key, doc_count,
       (doc_count - lag(doc_count, 2) OVER (ORDER BY key))::DOUBLE
       AS sdiff
FROM hb QUALIFY sdiff IS NOT NULL ORDER BY key""",
        "ft_agg_bucket_script": pre + f""", hb AS (
  SELECT (floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE
         AS key, count(*)::BIGINT AS doc_count, avg(n_chars) AS avg_c
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  GROUP BY key)
SELECT key, doc_count, round(doc_count / avg_c * 100, 4) AS ratio
FROM hb ORDER BY key""",
        "ft_agg_bucket_selector": pre + f""", hb AS (
  SELECT (floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE
         AS key, count(*)::BIGINT AS doc_count
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  GROUP BY key)
SELECT key, doc_count FROM hb WHERE doc_count >= 40 ORDER BY key""",
        "ft_agg_pct_bucket": pre + f""", hb AS (
  SELECT (floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE
         AS key, count(*)::BIGINT AS doc_count
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  GROUP BY key)
SELECT round(quantile_cont(doc_count, 0.5), 4) AS p50,
       round(quantile_cont(doc_count, 0.9), 4) AS p90
FROM hb""",
        "ft_agg_extstats_bucket": pre + f""", hb AS (
  SELECT (floor(n_chars / {HIST_INTERVAL}) * {HIST_INTERVAL})::DOUBLE
         AS key, count(*)::BIGINT AS doc_count
  FROM documents
  WHERE doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  GROUP BY key)
SELECT count(*)::BIGINT AS cnt,
       min(doc_count)::DOUBLE AS mn, max(doc_count)::DOUBLE AS mx,
       round(avg(doc_count), 4) AS avg_n,
       sum(doc_count)::DOUBLE AS sum_n,
       round(sum((doc_count * doc_count)::DOUBLE), 4) AS sos,
       round(var_pop(doc_count), 4) AS var_n,
       round(stddev_pop(doc_count), 4) AS std_n
FROM hb""",
        "ft_rrf_hybrid": pre + f""", lex AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY round(score, 7) DESC, doc_id) AS rl
  FROM scored WHERE term = 'valu'
  QUALIFY rl <= {RRF_DEPTH}),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS id,
         row_number() OVER (
           ORDER BY round(list_cosine_similarity(
             e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 7) DESC,
           vec_id) AS rv
  FROM embeddings e CROSS JOIN qv q
  WHERE e.vec_id <> 0
  QUALIFY rv <= {RRF_DEPTH})
SELECT id AS doc_id, round(rrf, 6) AS rrf
FROM (SELECT coalesce(l.id, v.id) AS id,
             coalesce(1.0 / ({RRF_K} + l.rl), 0.0)
               + coalesce(1.0 / ({RRF_K} + v.rv), 0.0) AS rrf
      FROM lex l FULL OUTER JOIN vec v ON l.id = v.id)
ORDER BY round(rrf, 9) DESC, id LIMIT 10""",
        "ft_boosting": pre + f"""SELECT doc_id,
round(CASE WHEN doc_id IN (SELECT doc_id FROM postings
                           WHERE term = 'slow')
           THEN score * {BOOSTING_NB} ELSE score END, 4) AS score
FROM scored WHERE term = 'tabl'
ORDER BY round(CASE WHEN doc_id IN (SELECT doc_id FROM postings
                                    WHERE term = 'slow')
                    THEN score * {BOOSTING_NB} ELSE score END, 7) DESC,
         doc_id LIMIT 10""",
        "ft_function_fvf": pre + f"""SELECT s.doc_id,
round(s.score * ln(1.0 + {FVF_FACTOR} * d.n_chars), 4) AS score
FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu'
ORDER BY round(s.score * ln(1.0 + {FVF_FACTOR} * d.n_chars), 7) DESC,
         s.doc_id LIMIT 10""",
        "ft_function_gauss": pre + f"""SELECT s.doc_id,
round(s.score * exp(-pow(abs(d.n_chars - {GAUSS_ORIGIN}), 2)
                    / (2.0 * {GAUSS_SIGMA2!r})), 4) AS score
FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu'
ORDER BY round(s.score * exp(-pow(abs(d.n_chars - {GAUSS_ORIGIN}), 2)
                             / (2.0 * {GAUSS_SIGMA2!r})), 7) DESC,
         s.doc_id LIMIT 10""",
        "ft_pinned": pre + """, pins AS (
  SELECT * FROM (VALUES (5::BIGINT, 1.7014124e38),
                        (123::BIGINT, 1.7014124e38 / 2)) p(doc_id, score)),
organic AS (
  SELECT doc_id, score FROM scored
  WHERE term = 'valu' AND doc_id NOT IN (5, 123)),
unioned AS (SELECT * FROM pins UNION ALL SELECT * FROM organic)
SELECT doc_id, round(score, 4) AS score FROM unioned
ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_script_score": pre + """SELECT s.doc_id,
round(s.score * 2.0 + coalesce(d.n_chars, 0) / 500.0, 4) AS score
FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu'
ORDER BY round(s.score * 2.0 + coalesce(d.n_chars, 0) / 500.0, 7) DESC,
         s.doc_id LIMIT 10""",
        "ft_combined_fields": pre + f""", ftoks AS (
  SELECT doc_id, term,
         CASE WHEN pos < {CF_SPLIT} THEN 'head' ELSE 'body' END AS fld
  FROM toks),
cfw(fld, w) AS (VALUES ('head', {CF_W['head']!r}), ('body', {CF_W['body']!r})),
flen AS (SELECT doc_id, fld, count(*) AS len FROM ftoks GROUP BY doc_id, fld),
fdl AS (SELECT l.doc_id, l.fld, n.dl FROM flen l
        JOIN norms n ON l.len >= n.dl AND l.len < n.dl_next),
cavg AS (SELECT sum(w.w * a.avgdl) AS avgdl_b FROM
         (SELECT fld, sum(len)::DOUBLE
                      / (SELECT count(*) FROM documents) AS avgdl
          FROM flen GROUP BY fld) a JOIN cfw w USING (fld)),
cbdl AS (SELECT d.doc_id, sum(w.w * d.dl) AS bdl
         FROM fdl d JOIN cfw w USING (fld) GROUP BY d.doc_id),
fsub AS (SELECT doc_id, fld, term, count(*) AS tf FROM ftoks
         WHERE term IN ('valu', 'scan') GROUP BY doc_id, fld, term),
cbtf AS (SELECT doc_id, term, sum(w.w * tf) AS btf
         FROM fsub JOIN cfw w USING (fld) GROUP BY doc_id, term),
cdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM fsub GROUP BY term),
cfs AS (SELECT b.doc_id,
               sum(ln(1 + ((SELECT count(*) FROM documents) - f.df + 0.5)
                          / (f.df + 0.5))
                   * {K1 + 1.0} * b.btf
                   / (b.btf + {K1} * ({1.0 - B}
                                      + {B} * d.bdl / c.avgdl_b))) AS score
        FROM cbtf b JOIN cdf f USING (term) JOIN cbdl d USING (doc_id)
        CROSS JOIN cavg c GROUP BY b.doc_id)
SELECT doc_id, round(score, 4) AS score FROM cfs
ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_random_score": pre + """, rnd AS (
  SELECT s.doc_id,
         s.score * (((CAST(d.n_chars AS BIGINT) * 2654435761
                      + 7 * 2246822519) % 4294967296)
                    / 4294967296.0) AS score
  FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu')
SELECT doc_id, round(score, 4) AS score FROM rnd
ORDER BY round(score, 7) DESC, doc_id LIMIT 10""",
        "ft_rank_feature": pre + """SELECT s.doc_id,
round(s.score + 2.0 * greatest(d.n_chars, 0)
                / (greatest(d.n_chars, 0) + 300.0), 4) AS score
FROM scored s JOIN documents d USING (doc_id) WHERE s.term = 'valu'
ORDER BY round(s.score + 2.0 * greatest(d.n_chars, 0)
               / (greatest(d.n_chars, 0) + 300.0), 7) DESC,
         s.doc_id LIMIT 10""",
        "ft_distance_feature": pre + """SELECT doc_id,
round(3.0 * 50.0 / (50.0 + abs(n_chars - 300.0)), 4) AS score
FROM documents WHERE n_chars IS NOT NULL
ORDER BY round(3.0 * 50.0 / (50.0 + abs(n_chars - 300.0)), 7) DESC,
         doc_id LIMIT 10""",
        "ft_termdict": pre + "SELECT term, df FROM tdf",
        "ft_stats": pre + """SELECT count(*)::BIGINT AS num_docs,
sum(len)::BIGINT AS total_tokens, round(sum(len)::DOUBLE / count(*), 6) AS avgdl
FROM doclen""",
        "ft_sort_fast_field": pre + """SELECT d.doc_id, d.n_chars FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'queri')
ORDER BY d.n_chars DESC, d.doc_id LIMIT 10""",
        "ft_range_filter_term": pre + """SELECT s.doc_id, round(s.score + 1.0, 4) AS score
FROM scored s JOIN documents d USING (doc_id)
WHERE s.term = 'spark' AND d.n_chars BETWEEN 150 AND 400
ORDER BY round(s.score + 1.0, 7) DESC, s.doc_id LIMIT 10""",
        "ft_regex": pre + """SELECT DISTINCT doc_id FROM postings
WHERE regexp_full_match(term, 'ta.*') ORDER BY doc_id""",
        "ft_fuzzy": pre + """SELECT DISTINCT doc_id FROM postings
WHERE levenshtein(term, 'tabel') <= 1 ORDER BY doc_id""",
        "ft_fuzzy_transposition": pre + """SELECT DISTINCT doc_id FROM postings
WHERE damerau_levenshtein(term, 'tbal') <= 1 ORDER BY doc_id""",
        "ft_facets": pre + """SELECT d.source, count(*)::BIGINT AS cnt FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
GROUP BY d.source""",
        "ft_facet_hierarchical": pre + """SELECT
'/en/' || string_split('/' || d.lang || '/' || d.source, '/')[3] AS facet,
count(*)::BIGINT AS cnt
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM postings WHERE term = 'valu')
  AND ('/' || d.lang || '/' || d.source) LIKE '/en/%'
GROUP BY 1""",
        "dd_exact_fingerprint": pre + """SELECT fingerprint, count(*)::BIGINT AS cnt FROM (
  SELECT doc_id, md5(string_agg(term, ',' ORDER BY term)) AS fingerprint
  FROM postings GROUP BY doc_id)
GROUP BY fingerprint HAVING count(*) > 1""",
        "dd_incremental_dedup": pre + f""", mhx AS (
  SELECT doc_id, h, min(md5(shingle || '|' || h::VARCHAR)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(range({N_MINHASH})) AS h)
  GROUP BY doc_id, h),
msigx AS (
  SELECT doc_id, (h // 2)::INT AS band,
         min(CASE WHEN h % 2 = 0 THEN mh END)
           || min(CASE WHEN h % 2 = 1 THEN mh END) AS bsig
  FROM mhx GROUP BY doc_id, h // 2),
sp AS (SELECT ((max(doc_id) + 1) // 2) AS split FROM documents),
candx AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM msigx a JOIN msigx b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
  WHERE b.doc_id >= (SELECT split FROM sp)),
sizesx AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
interx AS (
  SELECT c.d1, c.d2, count(*) AS i FROM candx c
  JOIN sh a ON a.doc_id = c.d1
  JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  GROUP BY c.d1, c.d2),
verx AS (
  SELECT d1, d2 FROM interx
  JOIN sizesx sa ON sa.doc_id = d1
  JOIN sizesx sb ON sb.doc_id = d2
  WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5)
SELECT d2 AS doc_id, min(d1) AS dup_of FROM verx GROUP BY d2
ORDER BY d2""",
        "dd_minhash_bands": pre + _MINHASH_SIG_SQL + f"""
SELECT d1, d2, n_bands FROM (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS n_bands
  FROM msig a JOIN msig b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  UNION ALL
  SELECT d1, d2, {N_BANDS}::BIGINT AS n_bands FROM stars)""",
        "dd_jaccard_pairs": pre + _MINHASH_SIG_SQL + """,
cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
          FROM msig a JOIN msig b
            ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT c.d1, c.d2, count(*) AS i
          FROM cands c
          JOIN sh a ON a.doc_id = c.d1
          JOIN sh b ON b.doc_id = c.d2 AND b.shingle = a.shingle
          GROUP BY c.d1, c.d2)
SELECT d1, d2, jaccard FROM (
  SELECT d1, d2, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
  WHERE round(i / (sa.sz + sb.sz - i), 4) >= 0.5
  UNION ALL
  SELECT d1, d2, 1.0 AS jaccard FROM stars)""",
        # recursive CTE = the oracle for the iterative min-label CC;
        # WITH -> WITH RECURSIVE on the shared prefix
        "dd_dup_clusters": (pre + _DUP_CLUSTER_CTES + """
SELECT doc AS doc_id, min(r)::BIGINT AS cluster
FROM reach GROUP BY doc""").replace("WITH ", "WITH RECURSIVE ", 1),
        "dd_keep_representative": (pre + _DUP_CLUSTER_CTES + """,
labels AS (SELECT doc AS doc_id, min(r)::BIGINT AS cluster
           FROM reach GROUP BY doc)
SELECT l.doc_id, l.cluster,
       (row_number() OVER (PARTITION BY l.cluster
                           ORDER BY d.n_chars DESC, l.doc_id) = 1) AS keep
FROM labels l JOIN documents d USING (doc_id)"""
                                   ).replace("WITH ", "WITH RECURSIVE ", 1),
        "dd_simhash": pre + _simhash_sql(),
        "dd_embed_cosine_pairs": _embed_lsh_pairs_sql(),
        # min-label transitive closure over the same pair query (nested
        # WITH inside the recursive CTE is valid DuckDB)
        "dd_embed_dup_clusters": f"""WITH RECURSIVE jp AS ({_embed_lsh_pairs_sql()}),
edges AS (SELECT v1 AS d1, v2 AS d2 FROM jp UNION SELECT v2, v1 FROM jp),
reach(node, r) AS (
  SELECT d1, d1 FROM edges
  UNION
  SELECT e.d2, r.r FROM reach r JOIN edges e ON e.d1 = r.node)
SELECT node AS vec_id, min(r)::BIGINT AS cluster FROM reach GROUP BY node""",
        "ann_cosine_topk": _ANN_PREFIX + """SELECT vec_id, round(cos, 4) AS cos FROM c
ORDER BY round(cos, 7) DESC, vec_id LIMIT 5""",
        "ann_lsh_bucket": _ann_lsh_sql(),
        "ann_ivf_topk": _ann_ivf_sql(),
        "tx_token_count": """SELECT doc_id,
len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents""",
        "tx_token_count_bpe": f"""SELECT doc_id,
len(regexp_extract_all(text, '{BPE_PATTERN}'))::BIGINT AS n_bpe_tokens
FROM documents""",
        "tx_quality": _quality_sql(),
        "tx_langid": _langid_sql(),
        "tx_fingerprint": """SELECT doc_id,
md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ','))
  AS fingerprint FROM documents""",
        "tx_winnow_fingerprint": _winnow_sql(),
        "dd_winnow_pairs": _winnow_pairs_sql(),
        "pl_sample_mix": r"""SELECT doc_id, source FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
  CASE WHEN TRY_CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) IS NULL THEN 'g'
       WHEN TRY_CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) < 5 THEN 'g'
       WHEN TRY_CAST(regexp_extract(source, 'src(\d+)', 1) AS INT) < 10 THEN '8000'
       ELSE '4000' END""",
        "pl_clean_corpus": f"""WITH q AS ({_quality_sql()}),
l AS ({_langid_sql()}),
ft AS (SELECT doc_id,
  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ','))
    AS fingerprint,
  len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents),
keep AS (SELECT ft.doc_id, ft.fingerprint, ft.n_tokens
         FROM ft JOIN q USING (doc_id) JOIN l USING (doc_id)
         WHERE q.gopher_pass AND l.lang_pred = 'en'),
sel AS (SELECT doc_id, n_tokens,
               min(doc_id) OVER (PARTITION BY fingerprint) AS canon
        FROM keep)
SELECT doc_id, n_tokens FROM sel WHERE doc_id = canon""",
        "mm_binary_meta": """SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes,
(octet_length(encode(text)) % 7 + 1)::BIGINT AS n_frames FROM documents""",
        "ev_windowed_counts": """SELECT
(floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_epoch, event_type,
count(*)::BIGINT AS cnt, round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2""",
        "ev_rollup_daily": """SELECT
(floor(epoch(ts) / 86400) * 86400)::BIGINT AS day_epoch, event_type,
count(*)::BIGINT AS cnt
FROM events GROUP BY 1, 2""",
        "ev_value_quantiles": """SELECT event_type,
round(quantile_cont(value, 0.5), 4) AS p50,
round(quantile_cont(value, 0.95), 4) AS p95,
round(max(value), 4) AS vmax,
count(*)::BIGINT AS cnt
FROM events GROUP BY event_type""",
        "ev_sessionize": """WITH o AS (
  SELECT user_id, floor(epoch(ts))::BIGINT AS e,
         lag(floor(epoch(ts))::BIGINT)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
  FROM events)
SELECT user_id,
sum(CASE WHEN pe IS NULL OR e - pe > 1800 THEN 1 ELSE 0 END)::BIGINT AS n_sessions,
count(*)::BIGINT AS n_events
FROM o GROUP BY user_id""",
        "ev_funnel": f"""WITH base AS (
  SELECT user_id, event_type, floor(epoch(ts))::BIGINT AS e FROM events),
s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN e END)
              OVER (PARTITION BY user_id) AS t1 FROM base),
s2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND e > t1
                          AND e <= t1 + {FUNNEL_WINDOW_S} THEN e END)
              OVER (PARTITION BY user_id) AS t2 FROM s1),
s3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND e > t2
                          AND e <= t2 + {FUNNEL_WINDOW_S} THEN e END)
              OVER (PARTITION BY user_id) AS t3 FROM s2),
pu AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
       FROM s3 GROUP BY user_id)
SELECT count(*)::BIGINT AS n_users,
       count(t1)::BIGINT AS reached_view,
       count(t2)::BIGINT AS reached_click,
       count(t3)::BIGINT AS reached_purchase
FROM pu""",
        "ev_retention": """WITH d AS (
  SELECT DISTINCT user_id,
         (floor(epoch(ts) / 86400) * 86400)::BIGINT AS day,
         min((floor(epoch(ts) / 86400) * 86400)::BIGINT)
           OVER (PARTITION BY user_id) AS cohort_day
  FROM events)
SELECT cohort_day,
       ((day - cohort_day) / 86400)::BIGINT AS day_offset,
       count(*)::BIGINT AS n_users
FROM d GROUP BY 1, 2""",
        # as-of oracle: the same union+window construction (inclusive
        # as-of, action-before-error at ts ties, event_id total order)
        "ev_asof_join": """WITH t AS (
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_type <> 'error' THEN event_type END AS a_type,
         CASE WHEN event_type <> 'error' THEN ts END AS a_ts
  FROM events),
w AS (
  SELECT event_id, ts, user_id, event_type,
         last_value(a_type IGNORE NULLS) OVER win AS prev_type,
         last_value(a_ts IGNORE NULLS) OVER win AS prev_ts
  FROM t
  WINDOW win AS (PARTITION BY user_id
                 ORDER BY ts, (event_type = 'error'), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, prev_type, prev_ts,
       floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT AS gap_s
FROM w WHERE event_type = 'error'""",
        "tx_repetition": """WITH d AS (
  SELECT doc_id, str_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, len(w) AS n,
         list_transform(generate_series(1, len(w) - 2),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS grams
  FROM d)
SELECT doc_id,
       CASE WHEN n < 3 THEN 0.0
            ELSE round((CAST(len(grams) AS DOUBLE)
                        - CAST(len(list_distinct(grams)) AS DOUBLE))
                       / CAST(len(grams) AS DOUBLE), 4)
       END AS dup_trigram_frac
FROM g""",
        "pl_decontaminate": f"""WITH d AS (
  SELECT doc_id, str_split(text, ' ') AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           generate_series(1, len(w) - {DECON_GRAM - 1}),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                || ' ' || w[i+4])) AS gram
  FROM d WHERE len(w) >= {DECON_GRAM}),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0),
hits AS (SELECT g.doc_id, count(*)::BIGINT AS n_shared
         FROM g JOIN bench USING (gram)
         WHERE g.doc_id % {DECON_BENCH_MOD} <> 0
         GROUP BY g.doc_id)
SELECT d.doc_id, coalesce(hits.n_shared, 0)::BIGINT AS n_shared,
       coalesce(hits.n_shared, 0) > 0 AS contaminated
FROM d LEFT JOIN hits ON hits.doc_id = d.doc_id
WHERE d.doc_id % {DECON_BENCH_MOD} <> 0""",
        "tx_tfidf_topk": pre + f"""SELECT doc_id, term, round(s, 4) AS tfidf, rk
FROM (SELECT doc_id, term, s,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY round(s, 7) DESC, term) AS rk
      FROM (SELECT p.doc_id, p.term,
                   p.tf * ln((s.n + 1.0) / (t.df + 0.5)) AS s
            FROM postings p JOIN tdf t USING (term) CROSS JOIN stats s))
WHERE rk <= {TFIDF_TOPK}""",
        "pl_pack_sequences": f"""WITH d AS (
  SELECT doc_id, source,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         (doc_id // {PACK_SHARD})::BIGINT AS shard
  FROM documents),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS st
      FROM d)
SELECT doc_id,
       source || '#' || shard::VARCHAR
              || '#' || (st // {PACK_BUDGET})::VARCHAR AS seq_id,
       (st % {PACK_BUDGET})::BIGINT AS seq_off, n_tokens
FROM c""",
        "pl_chunk_docs": f"""WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w, len(string_split(text, ' ')) AS n
  FROM documents),
s AS (SELECT doc_id, w, n,
             list_transform(generate_series(0,
               CASE WHEN n <= {CHUNK_SIZE} THEN 0
                    ELSE (n - {CHUNK_SIZE} + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}
               END), i -> i * {CHUNK_STRIDE}) AS starts
      FROM d),
x AS (SELECT doc_id, w, n, unnest(starts) AS st,
             (generate_subscripts(starts, 1) - 1)::BIGINT AS chunk_idx
      FROM s)
SELECT doc_id, chunk_idx,
       (least(st + {CHUNK_SIZE}, n) - st)::BIGINT AS n_chunk_tokens,
       array_to_string(w[st + 1 : least(st + {CHUNK_SIZE}, n)], ' ') AS chunk_text
FROM x""",
        "ev_json_props": """SELECT event_type, count(*)::BIGINT AS cnt,
round(avg(json_extract_string(props, '$.k')::BIGINT), 4) AS k_avg,
min(json_extract_string(props, '$.k')::BIGINT) AS k_min,
max(json_extract_string(props, '$.k')::BIGINT) AS k_max
FROM events GROUP BY event_type""",
        "ft_prefix": pre + """SELECT DISTINCT doc_id FROM postings
WHERE term LIKE 'b%' ORDER BY doc_id""",
        "ft_phrase_slop": pre + f""", adj AS (
  SELECT a.doc_id, count(DISTINCT b.pos) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + {1 + SLOP}
  WHERE a.term = 'valu' AND b.term = 'tabl' GROUP BY a.doc_id),
idfs AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
         FROM tdf t CROSS JOIN stats s WHERE t.term IN ('valu', 'tabl'))
SELECT j.doc_id,
       round(i.idf_sum * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf_sum * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_phrase_slop_unordered": pre + f""", adj AS (
  SELECT a.doc_id, count(DISTINCT b.pos) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id
             AND b.pos <> a.pos AND abs(b.pos - a.pos - 1) <= {USLOP}
  WHERE a.term = 'valu' AND b.term = 'tabl' GROUP BY a.doc_id),
idfs AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
         FROM tdf t CROSS JOIN stats s WHERE t.term IN ('valu', 'tabl'))
SELECT j.doc_id,
       round(i.idf_sum * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf_sum * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_span_near": pre + """, adj AS (
  SELECT b.doc_id, count(DISTINCT b.pos) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + 3
  WHERE a.term = 'tabl' AND b.term IN ('row', 'hash') GROUP BY b.doc_id),
idfs AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
         FROM tdf t CROSS JOIN stats s WHERE t.term IN ('tabl', 'row', 'hash'))
SELECT j.doc_id,
       round(i.idf_sum * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf_sum * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_span_within": pre + """, adj AS (
  SELECT b.doc_id, count(DISTINCT b.pos) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'tabl' AND b.term = 'row' GROUP BY b.doc_id),
idfs AS (SELECT ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)) AS idf
         FROM tdf t CROSS JOIN stats s WHERE t.term = 'row')
SELECT j.doc_id,
       round(i.idf * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_intervals": pre + """, adj AS (
  SELECT b.doc_id, count(DISTINCT b.pos) AS ptf FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id
             AND b.pos != a.pos
             AND b.pos >= a.pos - 1 AND b.pos <= a.pos + 3
  WHERE a.term = 'tabl' AND b.term = 'row' GROUP BY b.doc_id),
idfs AS (SELECT sum(ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5))) AS idf_sum
         FROM tdf t CROSS JOIN stats s WHERE t.term IN ('tabl', 'row'))
SELECT j.doc_id,
       round(i.idf_sum * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf_sum * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_span_not": pre + """, inc AS (
  SELECT doc_id, pos FROM toks WHERE term = 'valu'),
adj AS (
  SELECT i.doc_id, count(*) AS ptf FROM inc i
  WHERE NOT EXISTS (
    SELECT 1 FROM toks e WHERE e.doc_id = i.doc_id AND e.term = 'tabl'
      AND e.pos >= i.pos - 1 AND e.pos <= i.pos + 2)
  GROUP BY i.doc_id),
idfs AS (SELECT ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)) AS idf
         FROM tdf t CROSS JOIN stats s WHERE t.term = 'valu')
SELECT j.doc_id,
       round(i.idf * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_percolate": pre + """, m1 AS (
  SELECT DISTINCT doc_id, 'perc_term' AS query_name FROM toks
  WHERE term = 'valu'),
m2 AS (
  SELECT DISTINCT a.doc_id, 'perc_slop' AS query_name FROM toks a
  JOIN toks b ON a.doc_id = b.doc_id
             AND b.pos > a.pos AND b.pos <= a.pos + 3
  WHERE a.term = 'valu' AND b.term = 'tabl'),
m3 AS (
  SELECT doc_id, 'perc_bool' AS query_name
  FROM (SELECT DISTINCT doc_id FROM toks WHERE term = 'row')
  WHERE doc_id NOT IN (SELECT doc_id FROM toks WHERE term = 'hash'))
SELECT doc_id, query_name FROM (
  SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3)
ORDER BY doc_id, query_name""",
        "ft_span_first": pre + """, adj AS (
  SELECT doc_id, count(*) AS ptf FROM toks
  WHERE term = 'valu' AND pos + 1 <= 4 GROUP BY doc_id),
idfs AS (SELECT ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)) AS idf
         FROM tdf t CROSS JOIN stats s WHERE t.term = 'valu')
SELECT j.doc_id,
       round(i.idf * 2.2 * j.ptf
             / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 4) AS score
FROM adj j JOIN dlq q USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs i
ORDER BY round(i.idf * 2.2 * j.ptf
               / (j.ptf + 1.2 * (0.25 + 0.75 * q.dl / s.avgdl)), 7) DESC, j.doc_id
LIMIT 10""",
        "ft_more_like_this": pre + f""", seedw AS (
  SELECT p.term, round(p.tf * ln(1 + (s.n - t.df + 0.5) / (t.df + 0.5)), 7) AS w
  FROM postings p JOIN tdf t USING (term) CROSS JOIN stats s
  WHERE p.doc_id = 0 AND t.df >= 2),
seed AS (SELECT term FROM seedw ORDER BY w DESC, term LIMIT {MLT_TERMS})
SELECT doc_id, round(sum(score), 4) AS score FROM scored
WHERE term IN (SELECT term FROM seed) AND doc_id <> 0
GROUP BY doc_id
ORDER BY round(sum(score), 7) DESC, doc_id LIMIT 10""",
        "dd_para_dup": f"""WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(0, (len(w) - 1) // {PARA_W}),
           i -> md5(array_to_string(
                  w[i * {PARA_W} + 1 :
                    least((i + 1) * {PARA_W}, len(w))], ' ')))) AS ph
  FROM d),
c AS (SELECT ph, count(DISTINCT doc_id) AS nd FROM s GROUP BY ph)
SELECT s.doc_id, count(*)::BIGINT AS n_paras,
       round(avg(CASE WHEN c.nd > 1 THEN 1.0 ELSE 0.0 END), 4)
         AS dup_para_frac
FROM s JOIN c USING (ph) GROUP BY s.doc_id""",
        "pl_domain_quota": f"""SELECT doc_id, source, rank_in_source
FROM (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(doc_id::VARCHAR), doc_id)
               AS rank_in_source
      FROM documents)
WHERE rank_in_source <= {QUOTA_K}""",
        "tx_lm_xent": f"""WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, len(w) - {XENT_GRAM - 1}),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
  FROM d WHERE len(w) >= {XENT_GRAM}),
c AS (SELECT gram, count(*)::DOUBLE AS c FROM g GROUP BY gram),
t AS (SELECT sum(c) AS ct FROM c)
SELECT g.doc_id, round(-avg(ln(c.c / t.ct)), 4) AS xent,
       count(*)::BIGINT AS n_grams
FROM g JOIN c USING (gram) CROSS JOIN t
GROUP BY g.doc_id""",
        "ev_zscore_anomaly": f"""WITH daily AS (
  SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS day_epoch,
         event_type, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2),
z AS (
  SELECT event_type, day_epoch, cnt,
         CASE WHEN stddev_samp(cnt) OVER (PARTITION BY event_type) > 0
              THEN (cnt - avg(cnt) OVER (PARTITION BY event_type))
                   / stddev_samp(cnt) OVER (PARTITION BY event_type)
              ELSE 0.0 END AS zraw
  FROM daily)
SELECT event_type, day_epoch, cnt, round(zraw, 4) AS z,
       abs(zraw) >= {ZSCORE_THRESH} AS is_anomaly
FROM z""",
        "tx_normalize": """SELECT doc_id,
trim(regexp_replace(regexp_replace(nfc_normalize(text),
     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
     '\\s+', ' ', 'g')) <> text AS changed,
length(trim(regexp_replace(regexp_replace(nfc_normalize(text),
     '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
     '\\s+', ' ', 'g')))::BIGINT AS n_chars_norm
FROM documents""",
        "pl_split_hash": """SELECT doc_id,
CASE WHEN substring(md5(doc_id::VARCHAR), 1, 4) < 'e666' THEN 'train'
     WHEN substring(md5(doc_id::VARCHAR), 1, 4) < 'f333' THEN 'val'
     ELSE 'test' END AS split,
substring(md5(doc_id::VARCHAR), 1, 4) AS bucket
FROM documents""",
        "pl_dsir_weights": f"""WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, lang, substring(md5(gram), 1, 4) AS b
  FROM (SELECT doc_id, lang, unnest(
          CASE WHEN len(w) >= 2
               THEN list_concat(w, list_transform(
                      generate_series(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1]))
               ELSE w END) AS gram
        FROM d)),
dc AS (SELECT doc_id, b, count(*)::DOUBLE AS c FROM g GROUP BY 1, 2),
st AS (SELECT b, count(*)::DOUBLE AS rc,
              sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS tc
       FROM g GROUP BY b),
t AS (SELECT sum(rc) AS rn, sum(tc) AS tn FROM st)
SELECT dc.doc_id,
       round(sum(dc.c * (ln((st.tc + {DSIR_ALPHA}) / (t.tn + {DSIR_ALPHA * DSIR_BUCKETS}))
                       - ln((st.rc + {DSIR_ALPHA}) / (t.rn + {DSIR_ALPHA * DSIR_BUCKETS})))), 4) AS logw,
       sum(dc.c)::BIGINT AS n_feats
FROM dc JOIN st USING (b) CROSS JOIN t
GROUP BY dc.doc_id""",
        "tx_ngram_freq": f"""WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
t AS (SELECT doc_id, unnest(w) AS tok,
             generate_subscripts(w, 1) AS pos FROM d),
g AS (
  SELECT a.tok || ' ' || b.tok AS gram
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
SELECT gram, count(*)::BIGINT AS cnt FROM g GROUP BY gram
ORDER BY cnt DESC, gram LIMIT {NGRAM_TOP}""",
        "dd_window_dup": f"""WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, unnest(list_transform(
           generate_series(1, len(w) - {WINDOW_W - 1}),
           i -> md5(array_to_string(w[i:i+{WINDOW_W - 1}], ' ')))) AS wh
  FROM d WHERE len(w) >= {WINDOW_W}),
c AS (SELECT wh, count(*) AS c FROM s GROUP BY wh)
SELECT s.doc_id, count(*)::BIGINT AS n_windows,
       sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
       round(avg(CASE WHEN c.c > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_frac
FROM s JOIN c USING (wh) GROUP BY s.doc_id""",
        "tx_line_dedup": f"""WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
seg AS (
  SELECT doc_id,
         unnest(generate_series(1, ((len(w) - 1) // {PARA_W}) + 1)) AS i,
         unnest(list_transform(
           generate_series(1, ((len(w) - 1) // {PARA_W}) + 1),
           i -> array_to_string(
                  w[(i-1)*{PARA_W}+1:least(i*{PARA_W}, len(w))],
                  ' '))) AS s
  FROM d),
fo AS (SELECT doc_id, s, min(i) AS fi, count(*) AS c
       FROM seg GROUP BY doc_id, s)
SELECT doc_id, sum(c)::BIGINT AS n_segs,
       (sum(c) - count(*))::BIGINT AS n_removed,
       string_agg(s, ' ' ORDER BY fi) AS clean_text
FROM fo GROUP BY doc_id""",
    }
