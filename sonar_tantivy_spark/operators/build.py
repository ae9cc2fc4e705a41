"""Index-build pipeline — the Spark-native analog of ``add_documents``
(/root/reference/src-rust/index.rs:167-193: docs → tantivy Documents →
single writer commit producing immutable segments).

Dataflow (SURVEY.md §3.3), all declarative except two Arrow hops:

    docs DF
      → repartitionByRange(order_cols) + sortWithinPartitions   (stable order)
      → global dense docid via per-partition offsets (mapInPandas — the
        Arrow-native zipWithIndex; deterministic because partitions are
        range-ordered and sorted)
      → seg = docid // seg_size  (segment membership is a pure function of
        the data, so re-runs rebuild byte-identical segments → resumable)
      → docs table (local docid = docid - seg*seg_size)
      → tokenize via vectorized pandas UDF (en_stem/default), JVM explode;
        raw-tokenizer fields need no Python at all
      → groupBy(segment, field, term, docid): tf + positions
      → doclens = groupBy(segment, field, docid).sum(tf)  (fieldnorm counts
        post-filter tokens, so Σtf IS the doc length — no second pass)
      → norm_id via broadcast range-join against the 256-entry fieldnorm
        table (SURVEY.md §2.9), denormalized into postings so queries skip
        a doclens join
      → termdict = groupBy(segment, field, term): df, max_tf (WAND bound)
      → sorted parquet per segment + atomic manifest commit

Scale notes (100 TB target):
  * every shuffle is keyed on (segment_id, field, term[, docid]) — segment
    size bounds per-task state; stop-word skew is bounded by segment size,
    and the posting rows for a hot term stay (term,docid)-keyed (never a
    single giant group) until the final within-partition sort;
  * parquet files within a segment are sorted by (field, term, docid) so a
    pushed ``term = X`` predicate prunes row groups via min/max stats;
  * the tokenizer UDF is the only Python in the pipeline, Arrow-batched,
    with an lru-cached stemmer (cost ≈ distinct terms, not tokens).
"""

from __future__ import annotations

import math
import time

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from sonar_tantivy_spark.analyzer import tokenize as _tokenize_py
from sonar_tantivy_spark.functions.bm25 import fieldnorm_id_col
from sonar_tantivy_spark.plans.ast import QueryError
from sonar_tantivy_spark.plans.schema import IndexSchema
from sonar_tantivy_spark.pool import jobs

_TOKENS_TYPE = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("poss", T.ArrayType(T.IntegerType()), False),
    ]
)

# Per-doc postings as flat parallel arrays: ~2.5× cheaper to convert to
# Arrow than an array<struct<...>> of per-term dicts.
_PERDOC_TYPE = T.StructType(
    [
        T.StructField("dl", T.IntegerType(), False),
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
        T.StructField("poss", T.ArrayType(T.ArrayType(T.IntegerType())), False),
    ]
)


BLOCK_DOCS = 4096  # docids per block-max block (see block_docs())


def block_docs() -> int:
    """Docids per block-max block.  tantivy keeps one max-tf per posting
    BLOCK (128 docs); the Spark analog keeps one per docid range so the
    query planner can skip ranges of a big compacted segment that
    provably cannot reach the top-k cutoff — the within-segment
    granularity segment-level bounds lose at scale (few huge segments
    after compaction).  Env STSPARK_BLOCK_DOCS overrides (tests use
    small blocks on tiny corpora)."""
    import os

    try:
        return max(1, int(os.environ.get("STSPARK_BLOCK_DOCS", BLOCK_DOCS)))
    except ValueError:
        return BLOCK_DOCS


def termdict_from_postings(postings_df: DataFrame) -> DataFrame:
    """Aggregate the termdict — df / max_tf / total_tf plus the
    per-block max-tf map (blk = docid // block_docs()) — from a postings
    DataFrame.  Shared by the build pipeline and both merge paths so
    compacted segments carry the same block-max metadata as fresh ones.
    Two-level aggregation: the per-block partial combines map-side, the
    second level folds blocks into one map row per (segment, field,
    term)."""
    bd = block_docs()
    tf1 = F.coalesce(F.col("tf"), F.lit(1))
    b1 = (
        postings_df
        .withColumn("blk", (F.col("docid") / F.lit(bd)).cast("int"))
        .groupBy("segment_id", "field", "term", "blk")
        .agg(F.count("*").cast("long").alias("df_b"),
             F.max(tf1).alias("mtf_b"),
             F.sum(tf1).cast("long").alias("ttf_b"))
    )
    return (
        b1.groupBy("segment_id", "field", "term")
        .agg(F.sum("df_b").cast("long").alias("df"),
             F.max("mtf_b").alias("max_tf"),
             F.sum("ttf_b").cast("long").alias("total_tf"),
             F.map_from_entries(
                 F.sort_array(F.collect_list(F.struct("blk", "mtf_b"))))
             .alias("block_mtf"))
    )


def make_tokenize_udf(tokenizer: str):
    """Arrow-vectorized analyzer: string column → struct(terms, poss)."""

    @F.pandas_udf(_TOKENS_TYPE)
    def _udf(texts: pd.Series) -> pd.DataFrame:
        terms_out, poss_out = [], []
        for text in texts:
            pairs = _tokenize_py(text, tokenizer) if text is not None else []
            terms_out.append([t for t, _ in pairs])
            poss_out.append([p for _, p in pairs])
        return pd.DataFrame({"terms": terms_out, "poss": poss_out})

    return _udf


def make_perdoc_postings_udf(tokenizer: str):
    """Arrow-vectorized analyzer + per-doc inverted grouping.

    All tokens of a document arrive in one value, so (term → tf, positions)
    is grouped INSIDE the Arrow batch — the engine never shuffles the raw
    token stream.  This mirrors tantivy's in-memory per-segment postings
    builder and removes the groupBy(term, docid) shuffle entirely.
    Output: struct(dl, postings: array<struct(term, tf, positions)>).
    """

    from sonar_tantivy_spark.analyzer import _TOKEN_RE, analyze_token

    findall = _TOKEN_RE.findall
    do_stem = tokenizer == "en_stem"
    # memo: original token → analyzed term (None = dropped by RemoveLong).
    # Keyed pre-lowercase so the whole analyze chain is one dict hit for
    # repeated tokens — cost scales with distinct tokens, not occurrences.
    memo: dict[str, str | None] = {}

    @F.pandas_udf(_PERDOC_TYPE)
    def _udf(texts: pd.Series) -> pd.DataFrame:
        dls, terms_o, tfs_o, poss_o = [], [], [], []
        memo_get = memo.get
        for text in texts:
            groups: dict[str, list[int]] = {}
            dl = 0
            if text is not None:
                for pos, tok in enumerate(findall(text)):
                    a = memo_get(tok, "\x00")
                    if a == "\x00":
                        a = memo[tok] = analyze_token(tok, do_stem)
                    if a is None:
                        continue
                    dl += 1
                    g = groups.get(a)
                    if g is None:
                        groups[a] = [pos]
                    else:
                        g.append(pos)
            dls.append(dl)
            terms_o.append(list(groups.keys()))
            pvals = list(groups.values())
            tfs_o.append([len(v) for v in pvals])
            poss_o.append(pvals)
        return pd.DataFrame(
            {"dl": dls, "terms": terms_o, "tfs": tfs_o, "poss": poss_o})

    return _udf


def _assign_docids(df: DataFrame, order_cols: list[str], parallelism: int,
                   n_hint: int | None = None) -> DataFrame:
    """Dense global docid by stable (order_cols) ordering (SURVEY.md §1.3).

    Range-partition + in-partition sort, then offsets from per-partition
    counts (tiny collect) and an Arrow pass assigning base+row_number.
    The global rank is invariant to the sampled range boundaries, so
    docids are stable across parallelism levels and re-runs.
    """
    # over-partition 4x the core count: build tasks (tokenize UDF + sort +
    # parquet encode) have skewed durations, and one straggler task at
    # parts==cores idles the whole cluster for its tail — measured as
    # long 1-4-busy-core stretches.  ~4 waves of smaller tasks amortize it.
    parts = max(1, 4 * parallelism)
    if n_hint is not None:
        # micro-batch adaptation: per-task fixed cost (Arrow batch setup,
        # parquet writer open/close, dynamic-partition commit of tiny
        # files) dominates when rows/task drops too low — the measured
        # wall floor on 30k-turn streaming batches.  Docids stay correct
        # at ANY partition count (rank is partitioning-invariant), so a
        # caller that knows n collapses to ~2500 rows/task; builds at or
        # above ~2500*4*cores rows keep the straggler-amortizing 4x.
        parts = max(1, min(parts, math.ceil(n_hint / 2500)))
    ranked = (
        df.repartitionByRange(parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {r["__pid"]: r["cnt"] for r in
              ranked.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # JVM-only rank: monotonically_increasing_id is consecutive-from-zero
    # within each partition (pid << 33 | row#), and the rows are already in
    # sorted order within range-ordered partitions, so
    # global rank = offset[pid] + (mid & (2^33 - 1)) — no Arrow roundtrip.
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    if len(offsets) <= 4096:
        pairs: list = []
        for pid, off in offsets.items():
            pairs.extend([F.lit(pid), F.lit(off)])
        offset_col = F.element_at(F.create_map(*pairs), F.col("__pid"))
        out = ranked.withColumn(
            "docid_g", (offset_col + local).cast("long")).drop("__pid")
    else:
        # cluster scale: tens of thousands of partitions would make the
        # literal map unlintable for codegen — broadcast-join the offsets
        off_df = ranked.sparkSession.createDataFrame(
            list(offsets.items()), "__pid int, __off long")
        out = (
            ranked.withColumn("__local", local)
            .join(F.broadcast(off_df), on="__pid")
            .withColumn("docid_g", (F.col("__off") + F.col("__local")).cast("long"))
            .drop("__pid", "__off", "__local")
        )
    return out, ranked, acc


def build_segments(
    spark: SparkSession,
    docs_df: DataFrame,
    schema: IndexSchema,
    storage,
    *,
    order_cols: list[str],
    seg_size: int | None = None,
    num_segments: int | None = None,
    epoch: str | None = None,
    n_hint: int | None = None,
) -> list[dict]:
    """Tokenize + build postings/doclens/termdict/docs for one batch and
    commit the new segments to the manifest.  Returns the segment metas.

    Resume: segments whose ``segment_id`` is already committed are skipped
    (input pruned by docid range) — duplicate registration is impossible
    by construction, mirroring index.rs:314-316.
    """
    # the zone maps read a date field as epoch seconds, which a
    # zone-less TIMESTAMP_NTZ has none of; fail before any table is
    # written rather than at the zone-map cast after all four are
    for f in schema.fields:
        if f.type == "date" and f.name in docs_df.columns and \
                isinstance(docs_df.schema[f.name].dataType,
                           T.TimestampNTZType):
            raise QueryError(
                f"date field {f.name!r} is TIMESTAMP_NTZ; cast it to "
                f"TIMESTAMP (which zone an NTZ value means is the "
                f"caller's choice)")
    t0 = time.time()
    phase_walls: dict[str, float] = {}
    _tp = [t0]

    def _phase(name: str) -> None:
        now = time.time()
        phase_walls[name] = round(now - _tp[0], 2)
        _tp[0] = now

    if epoch is None:
        epoch = storage.new_epoch() if hasattr(storage, "new_epoch") else "e0"
    parallelism = spark.sparkContext.defaultParallelism

    schema_cols = [f.name for f in schema.fields]
    keep = [c for c in docs_df.columns if c in schema_cols or c in order_cols]
    schema.warn_unknown([c for c in docs_df.columns if c not in keep])
    docs_df = docs_df.select(*keep)

    with_id, ranked_cache, n = _assign_docids(docs_df, order_cols,
                                              parallelism, n_hint=n_hint)
    _phase("docid_assign")
    if n == 0:
        ranked_cache.unpersist()
        return []
    if seg_size is None:
        if num_segments is None:
            num_segments = 1
        seg_size = math.ceil(n / num_segments)
    num_segments = math.ceil(n / seg_size)

    seg_ids = {i: f"{epoch}-{i:05d}" for i in range(num_segments)}
    committed = storage.committed_segment_ids()
    todo = [i for i in range(num_segments) if seg_ids[i] not in committed]
    if not todo:
        ranked_cache.unpersist()
        return []
    if len(todo) < num_segments:  # resume: prune already-committed ranges
        cond = None
        for i in todo:
            c = (F.col("docid_g") >= i * seg_size) & (F.col("docid_g") < (i + 1) * seg_size)
            cond = c if cond is None else (cond | c)
        with_id = with_id.filter(cond)

    # docs_tbl is a map-only projection over the already-persisted ranked
    # cache — persisting it again would double-materialize the corpus
    # (memory + one extra pass), which measurably hurts build scaling.
    seg_expr = (F.col("docid_g") / F.lit(seg_size)).cast("int")
    sid_expr = F.concat(F.lit(f"{epoch}-"), F.lpad(seg_expr.cast("string"), 5, "0"))
    docs_tbl = with_id.withColumn("segment_id", sid_expr).withColumn(
        "docid", (F.col("docid_g") % F.lit(seg_size)).cast("long")
    ).drop("docid_g")
    # order_cols that are NOT schema fields (e.g. reindex's internal
    # source-docid rank) exist only to make docid assignment
    # deterministic — they never enter the row store
    docs_tbl = docs_tbl.drop(
        *[c for c in order_cols if c not in schema_cols])

    # time-partition the docs row store on the first date field (the
    # Iceberg ts-partitioning analog, SURVEY.md §4): range queries prune
    # whole files instead of scanning every doc.  Granularity ADAPTS to
    # the batch's time span: partition-dir counts must stay bounded
    # because the dynamic-partition commit is a DRIVER-side serial pass —
    # thousands of tiny dirs add a fixed non-scaling cost to every build
    # (measured: it alone dropped 4→16-core scaling efficiency ~0.2).
    # Override with SPARK_GRAFT_TS_BUCKET=day|month|year.
    docs_part_cols = ["segment_id"]
    date_fields = [f.name for f in schema.fields
                   if f.type == "date" and f.name in docs_tbl.columns]
    tsbucket_fmt = None
    if date_fields:
        import os as _os
        choice = _os.environ.get("SPARK_GRAFT_TS_BUCKET")
        fmts = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}
        if choice in fmts:
            tsbucket_fmt = fmts[choice]
        else:
            span = with_id.agg(
                F.min(date_fields[0]).alias("lo"),
                F.max(date_fields[0]).alias("hi")).head()
            lo, hi = span["lo"], span["hi"]
            days = ((hi - lo).days if lo is not None and hi is not None
                    else 0)
            tsbucket_fmt = ("yyyy" if days > 1825  # > 5y span: ≤ ~60 dirs
                            else "yyyy-MM" if days > 93
                            else "yyyy-MM-dd")
        # constant 'b' prefix keeps the partition VALUE a string: bare
        # '2026' / '2026-01-02' values would be type-inferred as INT/DATE
        # partition columns and break the string-prefix pruning predicate
        docs_tbl = docs_tbl.withColumn(
            "__tsbucket",
            F.concat(F.lit("b"),
                     F.date_format(F.col(date_fields[0]), tsbucket_fmt)))
        docs_part_cols.append("__tsbucket")

    # ---- per-doc postings: one Arrow pass per analyzed field; the
    # (term → tf, positions) grouping happens inside the UDF batch, so the
    # raw token stream is NEVER shuffled.  Raw-tokenizer fields need no
    # Python at all.  Nothing array-heavy is ever persisted to the columnar
    # cache (that anti-scales badly); the postings parquet write IS the
    # materialization, and doclens/termdict aggregate from the written
    # files — pure JVM scans, no second UDF pass.
    perdoc_parts: list[DataFrame] = []
    for f in schema.indexed_fields:
        if f.name not in docs_tbl.columns:
            continue
        if schema.tokenizer_for(f.name) == "raw":
            perdoc_parts.append(
                docs_tbl.where(F.col(f.name).isNotNull()).select(
                    "segment_id",
                    "docid",
                    F.lit(f.name).alias("field"),
                    F.lit(1).alias("dl"),
                    F.array(F.col(f.name).cast("string")).alias("terms"),
                    F.array(F.lit(1)).alias("tfs"),
                    F.array(F.array(F.lit(0))).alias("poss"),
                )
            )
        else:
            udf = make_perdoc_postings_udf(schema.tokenizer_for(f.name))
            perdoc_parts.append(
                docs_tbl.select(
                    "segment_id", "docid", udf(F.col(f.name).cast("string")).alias("tk")
                ).select(
                    "segment_id",
                    "docid",
                    F.lit(f.name).alias("field"),
                    F.col("tk.dl").alias("dl"),
                    F.col("tk.terms").alias("terms"),
                    F.col("tk.tfs").alias("tfs"),
                    F.col("tk.poss").alias("poss"),
                )
            )
    if not perdoc_parts:
        raise ValueError("schema has no indexed fields")
    perdoc = perdoc_parts[0]
    for p in perdoc_parts[1:]:
        perdoc = perdoc.unionByName(p)
    perdoc = perdoc.withColumn("norm_id", fieldnorm_id_col(F.col("dl")))

    # record-granularity degradation (fixtures.js:22 / tantivy
    # IndexRecordOption): 'position' keeps tf+positions, 'freq' drops
    # positions, 'basic' drops tf too (docids only).  Dropped columns are
    # NULL for the field's rows — parquet stores an all-NULL column as a
    # pure RLE definition-level run, i.e. effectively zero bytes, so a
    # freq/basic field pays no positions storage or shuffle width.  The
    # exact per-(doc, field) token count rides along as ``dl`` so doclens
    # and fieldnorms stay exact even when tf is dropped.
    rec = {f.name: (f.record or "position") for f in schema.indexed_fields}
    basic_fields = sorted(n for n, r in rec.items() if r == "basic")
    nopos_fields = sorted(n for n, r in rec.items() if r in ("basic", "freq"))
    tf_expr: Column = F.col("e.tfs")
    if basic_fields:
        tf_expr = F.when(F.col("field").isin(basic_fields),
                         F.lit(None)).otherwise(tf_expr)
    pos_expr: Column = F.col("e.poss")
    if nopos_fields:
        pos_expr = F.when(F.col("field").isin(nopos_fields),
                          F.lit(None)).otherwise(pos_expr)

    postings = perdoc.select(
        "segment_id", "field", "docid", "dl", "norm_id",
        F.explode(F.arrays_zip("terms", "tfs", "poss")).alias("e"),
    ).select(
        "segment_id", "field",
        F.col("e.terms").alias("term"),
        F.col("docid"),
        tf_expr.cast("int").alias("tf"),
        pos_expr.alias("positions"),
        F.col("dl"),
        "norm_id",
    )

    # ---- writes.  One UDF pass total: postings lands first, then
    # doclens/termdict aggregate from the WRITTEN parquet (columnar scans
    # with only the needed columns — cheaper than caching nested arrays).
    # Independent writes run as CONCURRENT Spark jobs (thread pool): the
    # docs write overlaps the postings job, and doclens/termdict overlap
    # each other — their small shuffles would otherwise serialize 3 job
    # barriers while most executor cores idle.
    with jobs(2) as submit:
        fut_docs = submit(
            storage.write_table,
            docs_tbl.sortWithinPartitions("segment_id", "docid"), epoch, "docs",
            tuple(docs_part_cols),
        )
        storage.write_table(
            postings.sortWithinPartitions("segment_id", "field", "term", "docid"),
            epoch, "postings",
        )
        _phase("postings_write")
        postings_r = storage.read_epoch_table(spark, epoch, "postings")

        # len from the carried exact dl (NOT sum(tf): tf is NULL for
        # record='basic' fields, and dl is exact for every granularity)
        doclens = postings_r.groupBy("segment_id", "field", "docid").agg(
            F.min("dl").cast("long").alias("len"),
            F.min("norm_id").alias("norm_id"),
        )
        fut_doclens = submit(
            storage.write_table,
            doclens.sortWithinPartitions("segment_id", "field", "docid"),
            epoch, "doclens",
        )
        termdict = termdict_from_postings(postings_r)
        storage.write_table(
            termdict.sortWithinPartitions("segment_id", "field", "term"),
            epoch, "termdict",
        )
        _phase("termdict_write")
        fut_doclens.result()
        _phase("doclens_write")
        fut_docs.result()
        _phase("docs_write")
    doclens_r = storage.read_epoch_table(spark, epoch, "doclens")

    # ---- per-segment stats → manifest metas (tiny collect: segs × fields)
    stats = {
        (r["segment_id"], r["field"]): (r["total_tokens"], r["docs_with_field"])
        for r in doclens_r.groupBy("segment_id", "field")
        .agg(F.sum("len").alias("total_tokens"), F.count("*").alias("docs_with_field"))
        .collect()
    }

    # zone maps: per-segment min/max of every numeric/date fast field —
    # the segment-granular analog of Iceberg partition stats.  Range
    # clauses whose bounds are disjoint with a segment's [min, max] prove
    # the segment empty and the query planner skips its scan entirely
    # (search.py _node_bound).  One tiny aggregate over the written docs.
    zone: dict[str, dict[str, tuple]] = {}
    zone_fields = [f for f in schema.fast_fields if f.name in docs_tbl.columns]
    if zone_fields:
        docs_r = storage.read_epoch_table(spark, epoch, "docs")
        aggs = []
        for f in zone_fields:
            aggs.append(F.min(f.name).alias(f"__min_{f.name}"))
            aggs.append(F.max(f.name).alias(f"__max_{f.name}"))
            if f.type == "date":
                # tz-independent epoch-second bounds alongside the ISO
                # strings: cast-to-double is the exact domain the sorted
                # collector scores in, so the zone map stays correct no
                # matter what session timezone builds or queries the
                # index (ADVICE r2 — the ISO strings are rendered in the
                # BUILD session's zone and can shift bounds otherwise)
                aggs.append(F.min(F.col(f.name).cast("double"))
                            .alias(f"__mine_{f.name}"))
                aggs.append(F.max(F.col(f.name).cast("double"))
                            .alias(f"__maxe_{f.name}"))
        for r in docs_r.groupBy("segment_id").agg(*aggs).collect():
            per = {}
            for f in zone_fields:
                lo, hi = r[f"__min_{f.name}"], r[f"__max_{f.name}"]
                if lo is None:
                    continue
                if hasattr(lo, "isoformat"):
                    lo, hi = lo.isoformat(sep=" "), hi.isoformat(sep=" ")
                if f.type == "date":
                    per[f.name] = (lo, hi, r[f"__mine_{f.name}"],
                                   r[f"__maxe_{f.name}"])
                else:
                    per[f.name] = (lo, hi)
            zone[r["segment_id"]] = per
    ranked_cache.unpersist()

    wall = time.time() - t0
    _phase("stats_collect")
    metas, metrics = [], []
    for i in todo:
        sid = seg_ids[i]
        max_doc = min(seg_size, n - i * seg_size)
        field_stats = {
            f: {"total_tokens": v[0], "docs_with_field": v[1]}
            for (s, f), v in stats.items()
            if s == sid
        }
        for fname, bounds in zone.get(sid, {}).items():
            st = field_stats.setdefault(fname, {})
            st["min"], st["max"] = bounds[0], bounds[1]
            if len(bounds) == 4:  # date fields: tz-independent epochs
                st["min_epoch"], st["max_epoch"] = bounds[2], bounds[3]
        tables = {}
        if hasattr(storage, "segment_dir"):
            tables = {t: storage.segment_dir(epoch, t, sid)
                      for t in ("docs", "postings", "doclens", "termdict")}
        meta = {"segment_id": sid, "max_doc": max_doc,
                "field_stats": field_stats, "tables": tables, "epoch": epoch,
                "block_docs": block_docs()}
        if tsbucket_fmt is not None:
            meta["tsbucket_fmt"] = tsbucket_fmt
        metas.append(meta)
        metrics.append(
            {"segment_id": sid, "num_docs": max_doc, "epoch": epoch,
             "build_wall_s": round(wall, 3),
             "docs_per_sec_batch": round(n / wall, 1),
             "phase_walls_s": phase_walls}
        )
    storage.append_segments(metas)
    storage.log_metrics(metrics)
    return metas
