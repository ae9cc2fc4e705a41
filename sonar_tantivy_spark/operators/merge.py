"""Segment compaction — the engine's merge policy.

tantivy merges segments in the background (LogMergePolicy, implied by the
commit path /root/reference/src-rust/index.rs:186-191); at 10^12-turn
scale explicit compaction is required (SURVEY.md §2.8.3).  Here a merge
is an explicit Spark job, and there is ONE rewrite routine (_rewrite):
it reads the postings/docs/doclens/termdict partitions of a contiguous
run of manifest segments split into chunks, re-bases each old segment's
local docids into its chunk's docid space, purges tombstoned rows,
sort-merges on (segment_id, field, term, docid), writes each chunk as
one new segment of one new epoch, and swaps the manifest atomically.
The entry points only choose the chunks — the merge policy: compact()
is one chunk, compact_to(n) is n balanced chunks of the whole manifest,
tiered_compact() picks the cheapest window or the most-deleted segment.

Because the run is contiguous in manifest order, every document keeps its
GLOBAL docid (base + local is unchanged), so query results — including
score tie-breaks — are bit-identical before and after compaction; the
test suite asserts this.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sonar_tantivy_spark.operators.build import (
    block_docs, termdict_from_postings)
from sonar_tantivy_spark.pool import jobs


def compact_to(index, target_segments: int = 1) -> list[dict]:
    """Merge the manifest down to ~``target_segments`` segments in ONE
    Spark pass.

    tantivy's LogMergePolicy never collapses a big index to ONE segment;
    at 10^12 turns neither should we — several large segments keep query
    scans partition-parallel and give the block-max segment pruning
    (search.py) something to skip.  Chunks are contiguous in manifest
    order and balanced by doc count, so global docids are preserved and
    results stay bit-identical (asserted in tests).

    All merged segments land in ONE new epoch, hive-partitioned by the
    new segment_id: queries then read a single parquet root per table
    (partition-pruned) instead of a union of per-merge epochs — this is
    both the faster merge (one pass over the data, not one per chunk)
    and the faster query plan (one scan node).
    """
    manifest = index.storage.manifest()
    segs = manifest["segments"]
    if len(segs) <= target_segments:
        return []
    per = math.ceil(sum(s["max_doc"] for s in segs) / max(1, target_segments))
    chunks: list[list[dict]] = [[]]
    acc = 0
    for s in segs:
        if acc >= per and chunks[-1]:
            chunks.append([])
            acc = 0
        chunks[-1].append(s)
        acc += s["max_doc"]
    return _rewrite(index, manifest, 0, chunks, clear_ledger=True)


def compact(index, segment_ids: list[str] | None = None) -> dict:
    """Merge a contiguous run of segments (default: all) into one.

    Returns the new segment meta.  Raises ``ValueError`` when there is
    nothing to merge or ``segment_ids`` is not a contiguous run in
    manifest order.
    """
    manifest = index.storage.manifest()
    segs = manifest["segments"]
    order = [s["segment_id"] for s in segs]
    if segment_ids is None:
        segment_ids = order if len(segs) > 1 else []
    if not segment_ids:
        raise ValueError("nothing to compact")
    idxs = sorted(order.index(sid) for sid in segment_ids)
    if idxs != list(range(idxs[0], idxs[-1] + 1)):
        raise ValueError("can only compact a contiguous manifest run")
    run = segs[idxs[0]: idxs[-1] + 1]
    return _rewrite(index, manifest, idxs[0], [run],
                    clear_ledger=len(run) == len(segs))[0]


def tiered_compact(index, max_segments: int, *,
                   max_deleted_frac: float | None = 0.25) -> dict | None:
    """LogMergePolicy-style incremental merge for long-running streams:
    when the manifest exceeds ``max_segments``, merge ONLY the cheapest
    contiguous window (the adjacent run with the fewest total docs) down
    to the cap — instead of rewriting the whole index like compact_to.
    Small fresh micro-batch segments at the manifest tail merge among
    themselves; a big head segment is rewritten only when it is itself
    the cheapest choice, so total rewrite bytes grow ~log-fashion with
    stream length rather than linearly per trigger.  Same bit-identity
    guarantees as compact() (contiguous run, docid bases preserved).

    Second trigger — DELETE PRESSURE (tantivy's LogMergePolicy weighs
    deletes the same way): even under the segment cap, a segment whose
    live tombstones cover ≥ ``max_deleted_frac`` of its docs is
    rewritten in place (a contiguous run of one), purging its deleted
    rows and rebuilding its termdict/block bounds from the survivors.
    Without this, a heavily-tombstoned index pays the per-query
    anti-join forever and its block max-tf bounds / dfs stay
    stale-loose (valid — conservative — but pruning degrades).  The
    pressure metric counts only tombstones for LIVE segments, so rows
    already purged by an earlier partial merge exert no pressure.
    Pass ``max_deleted_frac=None`` to disable.

    Returns the new segment meta, or None when neither trigger fires."""
    max_segments = max(1, max_segments)  # cap of 0 means "one segment"
    manifest = index.storage.manifest()
    segs = manifest["segments"]
    n = len(segs)
    if n > max_segments:
        w = n - max_segments + 1  # merging w adjacent segments hits the cap
        sizes = [s["max_doc"] for s in segs]
        best = min(range(n - w + 1), key=lambda i: sum(sizes[i:i + w]))
        return compact(index, [s["segment_id"] for s in segs[best:best + w]])
    if max_deleted_frac is None or not manifest.get("tombstones") or not segs:
        return None
    # per-segment live-tombstone counts: one tiny distributed agg over
    # the ledger (≤ one row per segment collected)
    t = index.searcher()._tombstones()
    if t is None:
        return None
    per = {r["segment_id"]: r["n"]
           for r in t.groupBy("segment_id").agg(F.count("*").alias("n"))
                     .collect()}
    if not per:
        return None
    frac, i = max(
        (per.get(s["segment_id"], 0) / max(1, s["max_doc"]), i)
        for i, s in enumerate(segs))
    if frac < max_deleted_frac:
        return None
    # when the rewritten segment held every live tombstone, the same
    # commit clears the now-inert ledger
    return _rewrite(index, manifest, i, [[segs[i]]],
                    clear_ledger=set(per) <= {segs[i]["segment_id"]})[0]


def _rewrite(index, manifest: dict, start: int, chunks: list[list[dict]],
             clear_ledger: bool) -> list[dict]:
    """Rewrite the contiguous manifest run that starts at ``start`` and
    is split into ``chunks`` as one new segment per chunk, all in ONE
    new epoch hive-partitioned by the new segment_id, then commit the
    swap in one manifest write.  ``clear_ledger``: every live tombstone
    lies in the run, so the purge leaves the delete ledger inert and the
    commit drops it.  Returns the new segment metas, in order."""
    storage, spark = index.storage, index.spark
    run = [s for chunk in chunks for s in chunk]
    epoch = storage.new_epoch()
    new_sids = [f"{epoch}-m{i:05d}" for i in range(len(chunks))]

    # each old segment's docid offset inside its chunk, and its chunk
    sid_pairs: list = []
    off_pairs: list = []
    for new_sid, chunk in zip(new_sids, chunks):
        off = 0
        for s in chunk:
            sid_pairs.extend([F.lit(s["segment_id"]), F.lit(new_sid)])
            off_pairs.extend([F.lit(s["segment_id"]), F.lit(off)])
            off += s["max_doc"]
    off_col = F.element_at(F.create_map(*off_pairs), F.col("segment_id"))
    # one chunk: a literal, so Spark folds it out of the sort keys
    new_sid_col = F.lit(new_sids[0]) if len(chunks) == 1 else \
        F.element_at(F.create_map(*sid_pairs), F.col("segment_id"))

    tomb = _tombstones_for(index, {s["segment_id"] for s in run})

    def rebased(table: str):
        df = storage.load_table(spark, table, run)
        if tomb is not None:
            # purge deleted rows (tantivy reclaims at merge); docids are
            # NOT re-densified, so surviving global ids stay stable
            df = df.join(tomb, on=["segment_id", "docid"], how="left_anti")
        return (
            df.withColumn("docid", (off_col + F.col("docid")).cast("long"))
            .withColumn("segment_id", new_sid_col)
        )

    docs = rebased("docs")
    docs_parts = ("segment_id", "__tsbucket") \
        if "__tsbucket" in docs.columns else ("segment_id",)
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    # the docs / postings / doclens rewrites are INDEPENDENT (each reads
    # its own source table), so they run as concurrent Spark jobs from a
    # thread pool (guide §2.6) — the small docs/doclens jobs back-fill
    # the cores the big postings shuffle leaves idle instead of adding
    # two serial job barriers.  Only the termdict rebuild (which reads
    # the WRITTEN postings) stays ordered after the postings write.
    with jobs(2) as submit:
        submit(storage.write_table, docs.sortWithinPartitions("docid"),
               epoch, "docs", docs_parts)
        submit(storage.write_table,
               rebased("doclens").sortWithinPartitions(
                   "segment_id", "field", "docid"),
               epoch, "doclens")
        # one range partition per core: with segment_id leading the range
        # keys, partitions are contiguous per segment, so each segment gets
        # ~(cores / n_segments) large sorted files — fewer file opens per
        # query scan than the build's task-parallel layout.  docid in the
        # range key is the skew guard: RangePartitioner may then place
        # boundaries INSIDE a hot term (stop words have df ~ num_docs),
        # splitting its postings across tasks instead of melting one
        # executor — the salted-repartition analog, without a synthetic
        # salt column.  Term-level file pruning survives: adjacent files
        # just share one boundary term in their min/max.
        storage.write_table(
            rebased("postings").repartitionByRange(
                parallelism, "segment_id", "field", "term", "docid",
            ).sortWithinPartitions("segment_id", "field", "term", "docid"),
            epoch, "postings",
        )
        # termdict re-aggregates from the WRITTEN merged postings (not the
        # old termdicts): docids were rebased, so the per-block max-tf maps
        # must be rebuilt on the new docid space — one columnar aggregate
        # over (segment_id, field, term, docid, tf), the same cost class as
        # the build's own termdict job.
        if storage.has_epoch_table(epoch, "postings"):
            # persist the aggregated termdict: repartitionByRange's
            # sampling pass would otherwise run the whole two-level
            # aggregation a second time just to pick range boundaries
            merged_td = termdict_from_postings(
                storage.read_epoch_table(spark, epoch, "postings")).persist()
            try:
                storage.write_table(
                    merged_td.repartitionByRange(
                        parallelism, "segment_id", "field", "term"
                    ).sortWithinPartitions("field", "term"),
                    epoch, "termdict",
                )
            finally:
                merged_td.unpersist()

    metas = []
    for new_sid, chunk in zip(new_sids, chunks):
        # a fully-tombstoned chunk wrote no rows: its meta is a GHOST
        # (max_doc kept so later segments' docid bases don't shift; no
        # table paths, so readers skip it)
        meta = {
            "segment_id": new_sid,
            "max_doc": sum(s["max_doc"] for s in chunk),
            "field_stats": _merge_field_stats(chunk),
            "tables": storage.segment_tables(epoch, new_sid),
            "epoch": epoch,
            "block_docs": block_docs(),
        }
        fmts = {s.get("tsbucket_fmt") for s in chunk}
        if len(fmts) == 1 and None not in fmts:
            meta["tsbucket_fmt"] = next(iter(fmts))
        metas.append(meta)
    # atomic manifest swap: replace the run with the merged segments
    manifest["segments"][start:start + len(run)] = metas
    _retire_epochs(manifest, run)
    if clear_ledger and manifest.get("tombstones"):
        # drop the inert ledger so vacuum can reclaim the tombstone
        # epochs and queries skip the anti-join
        manifest["tombstones"] = []
        manifest["del_opstamp"] = int(manifest.get("del_opstamp", 0)) + 1
    storage.write_manifest(manifest)
    return metas


def _tombstones_for(index, run_sids: set[str]):
    """Tombstone rows touching the segments being merged (None when the
    index has no delete ledger) — merge purges these rows so the new
    segments carry no deletes."""
    t = index.searcher()._tombstones()
    if t is None:
        return None
    return t.filter(F.col("segment_id").isin(sorted(run_sids)))


def _retire_epochs(manifest: dict, replaced_segments: list[dict]) -> None:
    """Record the ingest epochs whose segments a compaction replaced.
    This is the replay ledger for streaming: a crashed-and-replayed
    micro-batch must still be recognized as already-ingested even after
    its original segments were merged away (incremental.py)."""
    retired = set(manifest.get("retired_epochs", []))
    retired |= {s.get("epoch") for s in replaced_segments if s.get("epoch")}
    manifest["retired_epochs"] = sorted(retired)


def _merge_field_stats(run: list[dict]) -> dict:
    field_stats: dict[str, dict] = {}
    for s in run:
        for fld, st in s["field_stats"].items():
            agg = field_stats.setdefault(fld, {})
            if "total_tokens" in st:
                agg["total_tokens"] = agg.get("total_tokens", 0) + st["total_tokens"]
                agg["docs_with_field"] = (
                    agg.get("docs_with_field", 0) + st["docs_with_field"])
            if "min" in st:  # zone maps: union of ranges (ISO strings
                # compare lexicographically = chronologically)
                agg["min"] = st["min"] if "min" not in agg \
                    else min(agg["min"], st["min"])
                agg["max"] = st["max"] if "max" not in agg \
                    else max(agg["max"], st["max"])
            if "min_epoch" in st:  # date fields: tz-independent epochs
                agg["min_epoch"] = st["min_epoch"] if "min_epoch" not in agg \
                    else min(agg["min_epoch"], st["min_epoch"])
                agg["max_epoch"] = st["max_epoch"] if "max_epoch" not in agg \
                    else max(agg["max_epoch"], st["max_epoch"])
            elif "min" in st:
                # a pre-epoch-format input: a merged epoch range built
                # from only SOME inputs would understate the true max
                # and let the sorted collector prune a segment holding
                # true top-k rows — poison the epochs for this field so
                # the merged segment falls back to the ISO strings
                agg["__no_epoch"] = True
    for agg in field_stats.values():
        if agg.pop("__no_epoch", False):
            agg.pop("min_epoch", None)
            agg.pop("max_epoch", None)
    return field_stats


def vacuum(index) -> list[str]:
    """Garbage-collect epoch data directories no longer referenced by
    the manifest — the cleanup pass compaction deliberately defers (the
    atomic manifest swap must land before any old file dies, so a reader
    holding the previous snapshot never sees missing files; run vacuum
    once those readers are gone).

    Only touches THIS index's ``data/`` tree.  Caveat (documented, not
    detected): ``add_segments`` registration shares absolute paths, so
    if another index references this index's segments, vacuum here would
    break it — in a shared deployment run vacuum only on indexes whose
    segments were never cross-registered, or GC at the catalog level.
    Returns the removed epoch directory names.
    """
    storage = index.storage
    return storage.drop_unreferenced_epochs(storage.manifest())
