"""Scale-shape guards for the dedup pipeline: the verification queries
must be candidate-bounded — no cartesian product or nested-loop join may
appear in their physical plans (the 100 TB failure mode the round-1
review flagged)."""

import pytest

from sonar_tantivy_spark import driver_queries as dq

SF = "/root/testdata/sf0.001"

BANNED = ("CartesianProduct", "BroadcastNestedLoopJoin")


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", [
    "dd_minhash_bands", "dd_jaccard_pairs", "dd_embed_cosine_pairs",
    "ann_lsh_bucket", "ann_ivf_topk", "dd_exact_fingerprint", "dd_simhash",
])
def test_no_all_pairs_plan(spark, name):
    df = dq.QUERIES[name](spark, SF)
    plan = _physical_plan(df)
    for banned in BANNED:
        assert banned not in plan, f"{name} plans an all-pairs join:\n{plan}"


def test_jaccard_is_candidate_bounded(spark):
    """Every verified Jaccard pair must come out of the MinHash candidate
    set (subset relation, not just plan shape)."""
    cands = {(r["d1"], r["d2"]) for r in
             dq.QUERIES["dd_minhash_bands"](spark, SF).collect()}
    pairs = {(r["d1"], r["d2"]) for r in
             dq.QUERIES["dd_jaccard_pairs"](spark, SF).collect()}
    assert pairs <= cands


def test_exact_duplicates_never_lost(spark):
    """J=1.0 pairs collide in every MinHash band, so exact duplicates
    survive candidate bounding by construction."""
    rows = dq.QUERIES["dd_jaccard_pairs"](spark, SF).collect()
    exact = [r for r in rows if r["jaccard"] == 1.0]
    bands = {(r["d1"], r["d2"]): r["n_bands"] for r in
             dq.QUERIES["dd_minhash_bands"](spark, SF).collect()}
    for r in exact:
        assert bands[(r["d1"], r["d2"])] == dq.N_BANDS


def test_ivf_probe_is_literal_filter(spark, tmp_path):
    """The IVF probe set must reach the scan as a literal cell IN (...)
    filter, never a join against the centroid table — and on a
    cell-partitioned table (the at-scale layout) it must show up as
    PartitionFilters, i.e. genuine file pruning to nprobe/K of the
    data."""
    from pyspark.sql import functions as F

    from sonar_tantivy_spark.operators import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _physical_plan(ann.ivf_topk(emb, 0, 5))
    assert " IN (" in plan, plan
    assert "Join" not in plan, plan

    # at-scale layout: assignment materialized once (spilled: one row
    # per vector×cell), table partitioned by cell -> the probe filter
    # prunes partitions at file-listing time
    cents = ann.centroid_vecs(emb)
    path = str(tmp_path / "emb_ivf")
    ann.ivf_assign(emb, cents).write.partitionBy("cell").parquet(path)
    stored = spark.read.parquet(path)
    q = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    probes = ann._probe_cells(q, cents, ann.default_nprobe(len(cents)))
    pruned = stored.filter(F.col("cell").isin(probes))
    pplan = _physical_plan(pruned)
    assert "PartitionFilters" in pplan and "cell" in pplan, pplan
    n_all, n_probed = stored.count(), pruned.count()
    assert 0 < n_probed < n_all
    # end-to-end: top-k served FROM the partitioned layout must equal
    # the on-the-fly plan (the stored table already carries `cell`)
    from_stored = ann.ivf_topk(stored, 0, 5, cents=cents)
    on_the_fly = ann.ivf_topk(emb, 0, 5, cents=cents)
    assert from_stored.collect() == on_the_fly.collect()


def test_ivf_trained_probe_no_join(spark):
    """The trained index's probe must also be a literal filter on the
    scan (arrays_overlap against a literal cell array), never a join."""
    from sonar_tantivy_spark.operators import ann

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = ann.IvfIndex.build(emb)
    plan = _physical_plan(idx.topk(0, 5))
    assert "arrays_overlap" in plan, plan
    assert "Join" not in plan, plan


def test_lsh_recall_floor(spark):
    """Multiprobe-LSH recall@5 at the swept 8×7 default must hold its
    floor at well under half the corpus scanned (deterministic corpus →
    deterministic 0.74 @ 41% at this sf; 0.83 @ 41% at sf0.1 in bench)."""
    from sonar_tantivy_spark.operators.ann import measure_recall

    m = measure_recall(spark, SF, n_queries=10, k=5)
    assert m["recall_at_k"] >= 0.7, m
    assert m["cand_frac"] < 0.5, m


def test_ivf_recall_floor(spark):
    """Trained-IVF recall@5 vs the exact baseline on the
    adversarially-uniform synthetic embeddings must clear the 0.8
    target at well under half the corpus scanned — the r2 verdict bar
    (was 0.5 at the old fixed-16-cell config)."""
    from sonar_tantivy_spark.operators.ann import measure_recall_ivf

    m = measure_recall_ivf(spark, SF, n_queries=10, k=5)
    assert m["recall_at_k"] >= 0.8, m
    assert m["cand_frac"] < 0.45, m


def test_recall_pools_surface_every_failure_and_unpersist(spark,
                                                         monkeypatch):
    """Both recall harnesses wait on every per-query job: two failing
    queries both surface (one raised, the other attached as a note), and
    the frame they persisted is released on the failure path too."""
    from sonar_tantivy_spark.operators import ann

    seen = {}
    lsh_topk, ivf_topk = ann.lsh_topk, ann.IvfIndex.topk

    def failing_lsh(emb_df, qid, *a, **kw):
        seen["lsh"] = emb_df
        if qid in (0, 2):
            raise RuntimeError(f"lsh query {qid} failed")
        return lsh_topk(emb_df, qid, *a, **kw)

    def failing_ivf(self, qid, *a, **kw):
        seen["ivf"] = self.assigned
        if qid in (0, 2):
            raise RuntimeError(f"ivf query {qid} failed")
        return ivf_topk(self, qid, *a, **kw)

    monkeypatch.setattr(ann, "lsh_topk", failing_lsh)
    monkeypatch.setattr(ann.IvfIndex, "topk", failing_ivf)
    for tag, measure in (("lsh", ann.measure_recall),
                         ("ivf", ann.measure_recall_ivf)):
        with pytest.raises(RuntimeError) as ei:
            measure(spark, SF, n_queries=3, k=5)
        report = " ".join([str(ei.value),
                           *getattr(ei.value, "__notes__", [])])
        assert f"{tag} query 0 failed" in report, report
        assert f"{tag} query 2 failed" in report, report
        level = seen[tag].storageLevel
        assert not (level.useMemory or level.useDisk), (tag, level)


def test_clean_corpus_single_scan(spark):
    """The composed cleaning pipeline must read documents ONCE (all
    per-doc signals in one projection) and shuffle ONCE (the dedup
    window) — no joins between signal stages."""
    df = dq.QUERIES["pl_clean_corpus"](spark, SF)
    plan = _physical_plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_minhash_recall_vs_bruteforce(spark):
    """Measured recall of the candidate-bounded pipeline against the
    ground truth an all-pairs brute force would find: every true J>=0.5
    pair (DuckDB shingle self-join, acceptable at test scale only) must
    be surfaced by the MinHash bands and survive verification.  The
    banding curve predicts p(candidate) ~ 1-(1-J^2)^8 > 0.999 for the
    J>=0.89 pairs present in the corpus."""
    import duckdb

    truth_sql = f"""
WITH splitted AS (SELECT doc_id, string_split(text,' ') AS arr
                  FROM '{SF}/documents.parquet'),
toks AS (SELECT doc_id, unnest(arr) AS raw,
                generate_subscripts(arr,1)-1 AS pos FROM splitted),
sh AS (SELECT DISTINCT t1.doc_id, t1.raw || ' ' || t2.raw || ' ' || t3.raw AS shingle
       FROM toks t1 JOIN toks t2 ON t1.doc_id=t2.doc_id AND t2.pos=t1.pos+1
                    JOIN toks t3 ON t1.doc_id=t3.doc_id AND t3.pos=t1.pos+2),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
          FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1,2)
SELECT d1, d2 FROM inter
JOIN sizes sa ON sa.doc_id=d1 JOIN sizes sb ON sb.doc_id=d2
WHERE round(i/(sa.sz+sb.sz-i),4) >= 0.5"""
    truth = {(d1, d2) for d1, d2 in duckdb.sql(truth_sql).fetchall()}
    got = {(r["d1"], r["d2"]) for r in
           dq.QUERIES["dd_jaccard_pairs"](spark, SF).collect()}
    assert truth, "corpus must contain planted near-dups"
    missed = truth - got
    assert not missed, f"bands missed true pairs: {sorted(missed)}"
    assert got <= truth  # verification step admits no false positives


def test_winnow_pairs_cover_jaccard_pairs(spark):
    """The winnowing guarantee: a pair sharing a long substring run
    shares selected hashes, so the verified high-J Jaccard pairs (all
    J>=0.89 in this corpus) must be a subset of the winnow candidates —
    and the plan must stay an equi-join, never all-pairs."""
    plan = _physical_plan(dq.QUERIES["dd_winnow_pairs"](spark, SF))
    for banned in BANNED:
        assert banned not in plan, plan
    winnow = {(r["d1"], r["d2"]) for r in
              dq.QUERIES["dd_winnow_pairs"](spark, SF).collect()}
    jacc = {(r["d1"], r["d2"]) for r in
            dq.QUERIES["dd_jaccard_pairs"](spark, SF).collect()}
    nfp = {r["doc_id"]: r["n_fp"] for r in
           dq.QUERIES["tx_winnow_fingerprint"](spark, SF).collect()}
    # docs long enough to carry >= threshold hashes must all surface;
    # shorter docs (n_fp < 3: ~10-token texts) are below the candidate
    # threshold by construction — exact-dup fingerprinting covers them
    long_pairs = {(a, b) for a, b in jacc
                  if nfp.get(a, 0) >= dq.WINNOW_MIN_SHARED
                  and nfp.get(b, 0) >= dq.WINNOW_MIN_SHARED}
    assert long_pairs and long_pairs <= winnow
    assert len(jacc - long_pairs) <= 3  # the short-doc tail is small


def test_exact_topk_batch_matches_per_query(spark):
    """The one-job recall ground truth (exact_topk_batch, round-6
    measurement optimization) must select exactly the ids the per-query
    exact_topk path selects, for every query."""
    from pyspark.sql import functions as F

    from sonar_tantivy_spark.operators.ann import exact_topk, exact_topk_batch

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qvecs = {r["vec_id"]: r["embedding"] for r in
             emb.filter(F.col("vec_id") < 6).collect()}
    batch = exact_topk_batch(emb, qvecs, k=5)
    for qid, qv in qvecs.items():
        per_query = {r["vec_id"] for r in
                     exact_topk(emb, qid, 5, qvec=qv).collect()}
        assert batch[qid] == per_query, (qid, batch[qid], per_query)
