"""Segment compaction — the engine's merge policy.

tantivy merges segments in the background (LogMergePolicy, implied by the
commit path /root/reference/src-rust/index.rs:186-191); at 10^12-turn
scale explicit compaction is required (SURVEY.md §2.8.3).  Here a merge
is an explicit Spark job: read the postings/docs/doclens/termdict
partitions of a contiguous run of manifest segments, re-base the local
docids into one merged docid space, sort-merge on (field, term, docid),
write one new segment, and swap the manifest atomically.

Because the run is contiguous in manifest order, every document keeps its
GLOBAL docid (base + local is unchanged), so query results — including
score tie-breaks — are bit-identical before and after compaction; the
test suite asserts this.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

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
    storage = index.storage
    manifest = storage.manifest()
    segs = manifest["segments"]
    if len(segs) <= target_segments:
        return []
    total = sum(s["max_doc"] for s in segs)
    per = math.ceil(total / max(1, target_segments))

    # chunk the contiguous manifest run; remember each old segment's
    # (new segment ordinal, docid offset inside it)
    assign: dict[str, tuple[int, int]] = {}
    chunks: list[list[dict]] = [[]]
    acc = 0
    for s in segs:
        if acc >= per and chunks[-1]:
            chunks.append([])
            acc = 0
        assign[s["segment_id"]] = (len(chunks) - 1, acc)
        chunks[-1].append(s)
        acc += s["max_doc"]

    epoch = storage.new_epoch()
    new_sids = {i: f"{epoch}-m{i:05d}" for i in range(len(chunks))}
    spark = index.spark

    sid_pairs: list = []
    off_pairs: list = []
    for old_sid, (ci, off) in assign.items():
        sid_pairs.extend([F.lit(old_sid), F.lit(new_sids[ci])])
        off_pairs.extend([F.lit(old_sid), F.lit(off)])
    new_sid_col = F.element_at(F.create_map(*sid_pairs), F.col("segment_id"))
    off_col = F.element_at(F.create_map(*off_pairs), F.col("segment_id"))

    tomb = _tombstones_for(index, {s["segment_id"] for s in segs})

    def rebased(table: str):
        df = storage.load_table(spark, table, segs)
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
        # docid in the range key is the skew guard (see compact())
        # one range partition per core: with segment_id leading the range
        # keys, partitions are contiguous per segment, so each segment gets
        # ~(cores / n_segments) large sorted files — fewer file opens per
        # query scan than the build's task-parallel layout
        storage.write_table(
            rebased("postings").repartitionByRange(
                max(1, spark.sparkContext.defaultParallelism),
                "segment_id", "field", "term", "docid",
            ).sortWithinPartitions("segment_id", "field", "term", "docid"),
            epoch, "postings",
        )
        # termdict re-aggregates from the WRITTEN merged postings (not the
        # old termdicts): docids were rebased, so the per-block max-tf maps
        # must be rebuilt on the new docid space — one columnar aggregate
        # over (segment_id, field, term, docid, tf), the same cost class as
        # the build's own termdict job.
        from sonar_tantivy_spark.operators.build import (
            block_docs, termdict_from_postings)

        any_postings = any(
            _segment_has_data(storage, epoch, "postings", new_sids[ci])
            for ci in range(len(chunks)))
        if any_postings:
            # persist the aggregated termdict: repartitionByRange's
            # sampling pass would otherwise run the whole two-level
            # aggregation a second time just to pick range boundaries
            merged_td = termdict_from_postings(
                storage.read_epoch_table(spark, epoch, "postings")).persist()
            try:
                storage.write_table(
                    merged_td.repartitionByRange(
                        max(1, spark.sparkContext.defaultParallelism),
                        "segment_id", "field", "term"
                    ).sortWithinPartitions("field", "term"),
                    epoch, "termdict",
                )
            finally:
                merged_td.unpersist()

    metas = []
    for ci, chunk in enumerate(chunks):
        meta = {
            "segment_id": new_sids[ci],
            "max_doc": sum(s["max_doc"] for s in chunk),
            "field_stats": _merge_field_stats(chunk),
            "tables": {t: storage.segment_dir(epoch, t, new_sids[ci])
                       for t in ("docs", "postings", "doclens", "termdict")
                       if _segment_has_data(storage, epoch, t, new_sids[ci])}
            if hasattr(storage, "segment_dir") else {},
            "epoch": epoch,
            "block_docs": block_docs(),
        }
        fmts = {s.get("tsbucket_fmt") for s in chunk}
        if len(fmts) == 1 and None not in fmts:
            meta["tsbucket_fmt"] = next(iter(fmts))
        metas.append(meta)
    manifest["segments"] = metas
    _retire_epochs(manifest, segs)
    # every old segment was replaced and its deleted rows purged: the
    # whole tombstone ledger is now inert — drop it so vacuum can
    # reclaim the tombstone epochs and queries skip the anti-join
    if manifest.get("tombstones"):
        manifest["tombstones"] = []
        manifest["del_opstamp"] = int(manifest.get("del_opstamp", 0)) + 1
    if hasattr(storage, "_write_json"):
        storage._write_json("manifest.json", manifest)
    else:
        storage._manifest = manifest
    return metas


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
    storage = index.storage
    manifest = storage.manifest()
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
    meta = compact(index, [segs[i]["segment_id"]])
    if set(per) <= {segs[i]["segment_id"]}:
        # the rewritten segment held every live tombstone: the ledger is
        # now inert — clear it so queries skip the anti-join and vacuum
        # can reclaim the tombstone epochs (same bookkeeping as the
        # full-index branch in compact())
        manifest = storage.manifest()
        if manifest.get("tombstones"):
            manifest["tombstones"] = []
            manifest["del_opstamp"] = int(manifest.get("del_opstamp", 0)) + 1
            if hasattr(storage, "_write_json"):
                storage._write_json("manifest.json", manifest)
            else:
                storage._manifest = manifest
    return meta


def _segment_has_data(storage, epoch: str, table: str, sid: str) -> bool:
    """Did the merge write any rows for this (segment, table)?  False
    for a fully-tombstoned chunk — its meta becomes a GHOST (max_doc
    kept so later segments' docid bases don't shift; no table paths, so
    readers skip it and schema inference never sees an empty dir)."""
    if hasattr(storage, "segment_dir"):
        return os.path.isdir(storage.segment_dir(epoch, table, sid))
    df = storage._tables.get((epoch, table))
    return df is not None and bool(
        df.filter(F.col("segment_id") == sid).take(1))


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
    import shutil

    storage = index.storage
    if not hasattr(storage, "root"):
        return []  # RAM index: nothing on disk
    data_dir = os.path.join(storage.root, "data")
    if not os.path.isdir(data_dir):
        return []
    live: set[str] = set()
    manifest = storage.manifest()
    for s in manifest["segments"]:
        for path in s.get("tables", {}).values():
            # <root>/data/<epoch>/<table>/segment_id=<sid>
            rel = os.path.relpath(path, data_dir)
            live.add(rel.split(os.sep)[0])
    # tombstone epochs stay live while the delete ledger references
    # them (a full compaction clears the ledger, then vacuum reclaims)
    for t in manifest.get("tombstones", []):
        live.add(t["epoch"])
    removed = []
    for epoch_dir in sorted(os.listdir(data_dir)):
        if epoch_dir not in live:
            shutil.rmtree(os.path.join(data_dir, epoch_dir), ignore_errors=True)
            removed.append(epoch_dir)
    return removed


def compact(index, segment_ids: list[str] | None = None) -> dict:
    """Merge a contiguous run of segments (default: all) into one.

    Returns the new segment meta.  Raises if ``segment_ids`` is not a
    contiguous prefix-run in manifest order.
    """
    storage = index.storage
    manifest = storage.manifest()
    segs = manifest["segments"]
    if len(segs) < 2 and segment_ids is None:
        raise ValueError("nothing to compact")
    if segment_ids is None:
        run = segs
        start = 0
    else:
        order = [s["segment_id"] for s in segs]
        idxs = sorted(order.index(sid) for sid in segment_ids)
        if idxs != list(range(idxs[0], idxs[-1] + 1)):
            raise ValueError("can only compact a contiguous manifest run")
        start = idxs[0]
        run = segs[idxs[0]: idxs[-1] + 1]

    # docid re-base: offset of each old segment inside the merged segment
    offsets: dict[str, int] = {}
    acc = 0
    for s in run:
        offsets[s["segment_id"]] = acc
        acc += s["max_doc"]
    max_doc = acc
    epoch = storage.new_epoch()
    new_sid = f"{epoch}-merged"

    spark = index.spark
    pairs = []
    for sid, off in offsets.items():
        pairs.extend([F.lit(sid), F.lit(off)])
    off_col = F.element_at(F.create_map(*pairs), F.col("segment_id"))

    tomb = _tombstones_for(index, {s["segment_id"] for s in run})

    def rebased(table: str):
        df = storage.load_table(spark, table, run)
        if tomb is not None:
            df = df.join(tomb, on=["segment_id", "docid"], how="left_anti")
        return (
            df.withColumn("docid", (off_col + F.col("docid")).cast("long"))
            .withColumn("segment_id", F.lit(new_sid))
        )

    merged_docs = rebased("docs")
    docs_parts = ("segment_id", "__tsbucket") \
        if "__tsbucket" in merged_docs.columns else ("segment_id",)
    # independent rewrites run as concurrent Spark jobs, exactly like
    # compact_to: docs/doclens back-fill the postings shuffle's idle
    # cores; only the termdict (reads the written postings) is ordered
    with jobs(2) as submit:
        submit(storage.write_table, merged_docs.sortWithinPartitions("docid"),
               epoch, "docs", docs_parts)
        submit(storage.write_table,
               rebased("doclens").sortWithinPartitions("field", "docid"),
               epoch, "doclens")
        # docid in the range key is the skew guard: RangePartitioner may
        # then place boundaries INSIDE a hot term (stop words have df ~
        # num_docs), splitting its postings across tasks instead of
        # melting one executor — the salted-repartition analog, without a
        # synthetic salt column.  Term-level file pruning survives:
        # adjacent files just share one boundary term in their min/max.
        storage.write_table(
            rebased("postings").repartitionByRange(
                max(1, 2 * spark.sparkContext.defaultParallelism),
                "field", "term", "docid",
            ).sortWithinPartitions("field", "term", "docid"),
            epoch, "postings",
        )
        # termdict re-aggregates from the WRITTEN merged postings so the
        # per-block max-tf maps are rebuilt on the rebased docid space
        from sonar_tantivy_spark.operators.build import (
            block_docs, termdict_from_postings)

        if _segment_has_data(storage, epoch, "postings", new_sid):
            # persist: repartitionByRange's sampling pass must not run
            # the two-level aggregation twice
            merged_td = termdict_from_postings(
                storage.read_epoch_table(spark, epoch, "postings")).persist()
            try:
                storage.write_table(
                    merged_td.repartitionByRange(
                        max(1, spark.sparkContext.defaultParallelism),
                        "field", "term"
                    ).sortWithinPartitions("field", "term"),
                    epoch, "termdict",
                )
            finally:
                merged_td.unpersist()

    field_stats = _merge_field_stats(run)

    tables = {}
    if hasattr(storage, "segment_dir"):
        tables = {t: storage.segment_dir(epoch, t, new_sid)
                  for t in ("docs", "postings", "doclens", "termdict")
                  if _segment_has_data(storage, epoch, t, new_sid)}
    meta = {"segment_id": new_sid, "max_doc": max_doc,
            "field_stats": field_stats, "tables": tables, "epoch": epoch,
            "block_docs": block_docs()}
    fmts = {s.get("tsbucket_fmt") for s in run}
    if len(fmts) == 1 and None not in fmts:
        meta["tsbucket_fmt"] = next(iter(fmts))

    # atomic manifest swap: replace the run with the merged segment in place
    new_segs = segs[:start] + [meta] + segs[start + len(run):]
    manifest["segments"] = new_segs
    _retire_epochs(manifest, run)
    if manifest.get("tombstones") and len(run) == len(segs):
        # full-index merge: every tombstoned row was purged above
        manifest["tombstones"] = []
        manifest["del_opstamp"] = int(manifest.get("del_opstamp", 0)) + 1
    if hasattr(storage, "_write_json"):
        storage._write_json("manifest.json", manifest)
    else:
        storage._manifest = manifest
    return meta
