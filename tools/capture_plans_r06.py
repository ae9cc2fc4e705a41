"""Round-6 plan evidence: capture ``explain("formatted")`` for the
query surfaces the optimization round touched, so plans/r06/ holds a
before/after pair per surface.

Usage:  python tools/capture_plans_r06.py <suffix>
        (suffix = "before" | "after"; run once in a worktree at the
        round-start commit, once at the optimized HEAD)

Surfaces captured (the ones whose PHYSICAL PLAN the round changed):
  * agg_doc_join   — the aggregations doc-store join for the q27-shaped
                     request (round 6 broadcast-gates the key side)
  * composite_agg  — the q31 composite-agg frame over the same join
  * sort_ts_topk   — the fast-field sorted top-k (broadcast bound now
                     tied to the shared byte cap)
  * percolate      — the map-only percolation projection (UDF internals
                     changed; the plan must STAY a single
                     ArrowEvalPython pass, zero exchanges)

The frames are built through the engine's own entry points/helpers;
where a surface only exists inside a collecting method (aggregations),
the identical frame is reconstructed with the same helpers and gate
expressions the engine uses — the plan shape is what is being pinned.
"""

from __future__ import annotations

import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def fmt(df) -> str:
    buf = io.StringIO()
    old = sys.stdout
    sys.stdout = buf
    try:
        df.explain("formatted")
    finally:
        sys.stdout = old
    return buf.getvalue()


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "after"
    out_dir = sys.argv[2] if len(sys.argv) > 2 \
        else os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    turns = int(os.environ.get("PLANS_TURNS", "30000"))

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from sonar_tantivy_spark import IndexCatalog
    from sonar_tantivy_spark.operators.merge import compact_to
    from sonar_tantivy_spark.plans import ast as A
    from sonar_tantivy_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA, generate_transcripts)

    base = tempfile.mkdtemp(prefix="stspark-plans-r06-")
    cat = IndexCatalog(spark, base)
    idx = cat.create_index("plans", TRANSCRIPT_SCHEMA)
    idx.add_df(spark.createDataFrame(generate_transcripts(turns)),
               order_cols=["conv_id", "turn_idx"], seg_size=5000)
    compact_to(idx, 3)
    s = idx.searcher()

    def write(name: str, text: str) -> None:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print("wrote", path)

    # ---- agg doc join (q27 shape): candidate keys joined to the doc
    # store on (segment_id, docid), feeding the terms/stats aggs
    # the key-side broadcast gate exists only in the round-6 engine —
    # the "before" run reproduces the round-5 join verbatim (plain
    # keys.join(docs)), the "after" run the gated broadcast, each
    # copied from the aggregations() code of the respective tree
    node = A.parse_json({"term": {"text": "the"}}, idx.schema)
    cand = s.candidates(node)
    keys = cand.select("segment_id", "docid")
    docs = s._table("docs").select("segment_id", "docid", "role", "turn_idx")
    from sonar_tantivy_spark.operators.search import _broadcastable
    gate_broadcast = suffix != "before" \
        and _broadcastable(s._cand_size_bound(node))
    if gate_broadcast:
        keys = F.broadcast(keys)
    matched = keys.join(docs, on=["segment_id", "docid"])
    terms_agg = (matched.filter(F.col("role").isNotNull())
                 .groupBy(F.col("role").alias("key"))
                 .agg(F.count("*").alias("doc_count"),
                      F.avg("turn_idx").alias("__s0_value"))
                 .orderBy(F.desc("doc_count"), F.asc("key")).limit(10))
    write("q27_agg_doc_join", fmt(terms_agg))

    # ---- composite agg (q31 shape)
    comp_docs = s._table("docs").select("segment_id", "docid", "role", "tool")
    ckeys = cand.select("segment_id", "docid")
    if gate_broadcast:
        ckeys = F.broadcast(ckeys)
    cm = (ckeys.join(comp_docs, on=["segment_id", "docid"])
          .filter(F.col("role").isNotNull() & F.col("tool").isNotNull())
          .groupBy(F.col("role").alias("r"), F.col("tool").alias("t"))
          .agg(F.count("*").alias("doc_count"))
          .orderBy(F.asc("r"), F.asc("t")).limit(2))
    write("q31_composite_agg", fmt(cm))

    # ---- sorted fast-field top-k (q14 shape) — engine entry point
    write("q14_sort_ts_topk",
          fmt(s.top_k(node, limit=10, sort_by="ts")))

    # ---- percolation projection (map-only pin)
    for pname, pq in {
        "alert_hello": {"term": {"text": "hello"}},
        "alert_phrase": '"hello world"~2',
        "alert_prefix": "hell*",
    }.items():
        idx.register_query(pname, pq)
    corpus = spark.createDataFrame(generate_transcripts(2000))
    write("percolate", fmt(idx.percolate(corpus, keep_cols=["conv_id"])))

    spark.stop()


if __name__ == "__main__":
    main()
