"""Index storage — parquet segment tables + an atomic JSON manifest.

This is the engine's stand-in for an Iceberg catalog (none is available
in this sandbox): each index is a directory of immutable per-segment
parquet partitions plus a ``manifest.json`` that is rewritten atomically
(tmp file + ``os.replace``) — the exact analog of the reference's
``save_metas`` atomic ``meta.json`` rewrite
(/root/reference/src-rust/index.rs:331-336).

Layout:

    <base>/<index>/
      schema.json
      manifest.json            # {"opstamp": N, "segments": [SegmentMeta...]}
      metrics.jsonl            # per-segment build lineage + throughput
      data/<epoch>/<table>/segment_id=<sid>/*.parquet

SegmentMeta = {"segment_id", "max_doc", "field_stats": {field:
{"total_tokens": n, "docs_with_field": n}}, "tables": {table:
partition-dir path}}.  Paths are absolute, so registering a segment
built by ANOTHER index is a pure metadata commit — the analog of the
reference's ``add_segment`` (index.rs:293-324), whose distributed-build
intent is documented at main.rs:7-17.  Duplicate segment registration is
rejected (index.rs:314-316), which is also what makes re-runs idempotent.

Docid model: tables store per-segment-local dense docids; the global
docid of a row is ``manifest-order cumulative base + local docid``,
mirroring tantivy's (segment, u32 docid) addressing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any, Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = ("docs", "postings", "doclens", "termdict")


class SegmentExistsError(RuntimeError):
    pass


def key_filter(keys: list[tuple[str, int]]) -> Column:
    """OR of per-segment ``docid IN (...)`` predicates over ``keys``."""
    by_seg: dict[str, list[int]] = {}
    for sid, d in keys:
        by_seg.setdefault(sid, []).append(d)
    cond = None
    for sid, ids in by_seg.items():
        c = (F.col("segment_id") == sid) & F.col("docid").isin(ids)
        cond = c if cond is None else (cond | c)
    return cond


def _data_files(root: str) -> list[str]:
    """Data files under a partition directory, listed the way Spark's
    file index does: hidden names (``.``-prefixed, e.g. checksums) and
    ``_``-prefixed names without ``=`` (``_SUCCESS``, ``_temporary``)
    are skipped; ``k=v`` sub-partitions (``__tsbucket=...``) are
    descended."""
    out: list[str] = []
    for name in sorted(os.listdir(root)):
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        path = os.path.join(root, name)
        if os.path.isdir(path):
            out.extend(_data_files(path))
        else:
            out.append(path)
    return out


def _footers(part_dir: str) -> list[tuple[str, Any, list, list]]:
    """(path, footer, column names, per-row-group docid (min, max)) for
    every data file of one segment partition; a bound is None when the
    writer kept no statistics (the row group is then always read)."""
    out = []
    for path in _data_files(part_dir):
        meta = pq.read_metadata(path)
        names = meta.schema.to_arrow_schema().names
        ci = names.index("docid")
        ranges = []
        for i in range(meta.num_row_groups):
            st = meta.row_group(i).column(ci).statistics
            ranges.append((st.min, st.max) if st is not None
                          and st.has_min_max else (None, None))
        out.append((path, meta, names, ranges))
    return out


def _py_values(col: pa.ChunkedArray, binary_as_bytes: bool) -> list:
    """Python values of one column, as ``DataFrame.collect()`` returns
    them: timestamps through ``TimestampType.fromInternal`` on UTC
    microseconds (Python's local zone, like PySpark), binary as
    ``bytes`` or ``bytearray`` per Spark's binaryAsBytes setting."""
    t = col.type
    if pa.types.is_timestamp(t):
        conv = T.TimestampType().fromInternal
        micros = col.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
        return [None if v is None else conv(v) for v in micros.to_pylist()]
    vals = col.to_pylist()
    if not binary_as_bytes and (pa.types.is_binary(t)
                                or pa.types.is_large_binary(t)):
        return [None if v is None else bytearray(v) for v in vals]
    return vals


class FsStorage:
    def __init__(self, base_path: str, name: str):
        self.base_path = base_path
        self.name = name
        self.root = os.path.join(base_path, name)

    # -- catalog ----------------------------------------------------------
    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.root, "manifest.json"))

    def create(self, schema_json: str) -> None:
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, "schema.json"), "w") as fh:
            fh.write(schema_json)
        self._write_json("manifest.json", {"opstamp": 0, "segments": []})

    def delete(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)

    def schema_json(self) -> str:
        with open(os.path.join(self.root, "schema.json")) as fh:
            return fh.read()

    # -- manifest ---------------------------------------------------------
    def manifest(self) -> dict:
        with open(os.path.join(self.root, "manifest.json")) as fh:
            return json.load(fh)

    def _write_json(self, rel: str, obj: Any) -> None:
        path = os.path.join(self.root, rel)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(obj, fh, indent=1)
        os.replace(tmp, path)  # atomic on POSIX

    def committed_segment_ids(self) -> set[str]:
        return {s["segment_id"] for s in self.manifest()["segments"]}

    def append_segments(self, metas: list[dict]) -> None:
        """Atomic manifest commit; rejects duplicate segment ids with the
        reference's error message (index.rs:314-316)."""
        m = self.manifest()
        existing = {s["segment_id"] for s in m["segments"]}
        for meta in metas:
            if meta["segment_id"] in existing:
                raise SegmentExistsError("Segment exists.")
            existing.add(meta["segment_id"])
            m["segments"].append(meta)
            m["opstamp"] += meta["max_doc"]  # reference bumps opstamp by max_doc
        self._write_json("manifest.json", m)

    def log_metrics(self, rows: list[dict]) -> None:
        with open(os.path.join(self.root, "metrics.jsonl"), "a") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    # -- auxiliary JSON blobs (percolator registry, ...) -------------------
    def read_aux(self, rel: str, default: Any) -> Any:
        path = os.path.join(self.root, rel)
        if not os.path.exists(path):
            return default
        with open(path) as fh:
            return json.load(fh)

    def write_aux(self, rel: str, obj: Any) -> None:
        self._write_json(rel, obj)  # same atomic replace as the manifest

    # -- data -------------------------------------------------------------
    def epoch_dir(self, epoch: str, table: str) -> str:
        return os.path.join(self.root, "data", epoch, table)

    def segment_dir(self, epoch: str, table: str, segment_id: str) -> str:
        return os.path.join(self.epoch_dir(epoch, table), f"segment_id={segment_id}")

    def new_epoch(self) -> str:
        return f"e{int(time.time() * 1000):x}-{os.getpid():x}"

    def write_table(self, df: DataFrame, epoch: str, table: str,
                    partition_cols: tuple = ("segment_id",)) -> None:
        """One Spark job writes all segments of this epoch, hive-partitioned
        by segment_id (partition pruning at read) — plus any extra
        partition columns (e.g. the docs table's time bucket)."""
        # dynamic overwrite: a resumed build rewrites only the segment
        # partitions it produced, never clobbering committed siblings.
        # parquet v2 + zstd: sorted (term, docid) runs get
        # DELTA_BINARY_PACKED / RLE pages — the columnar analog of
        # tantivy's delta+bitpacked postings blocks (measured 79->48 MB
        # and ~30% faster to encode vs v1+snappy on real postings).
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("parquet.writer.version", "v2")
            .option("compression", "zstd")
            .partitionBy(*partition_cols)
            .parquet(self.epoch_dir(epoch, table))
        )

    def read_epoch_table(self, spark: SparkSession, epoch: str, table: str) -> DataFrame:
        """Read back a just-written epoch table (pre-commit, build-internal)."""
        base = self.epoch_dir(epoch, table)
        return spark.read.option("basePath", base).parquet(base)

    def load_table(
        self, spark: SparkSession, table: str, segments: list[dict]
    ) -> DataFrame | None:
        """Union per-epoch reads, pruned to the manifest's segment set.

        Reading whole epoch base dirs (not individual partition dirs) keeps
        the hive-style ``segment_id`` partition column and lets Catalyst
        prune partitions from a pushed ``segment_id IN (...)`` filter.
        """
        by_base: dict[str, list[str]] = {}
        for s in segments:
            # ghost segments (fully-deleted content purged at merge)
            # keep max_doc for stable docid bases but carry no data
            part_dir = s["tables"].get(table)
            if part_dir is None:
                continue
            base = os.path.dirname(part_dir.rstrip("/"))
            by_base.setdefault(base, []).append(s["segment_id"])
        out: DataFrame | None = None
        for base, sids in by_base.items():
            df = (
                spark.read.option("basePath", base)
                .parquet(base)
                .filter(F.col("segment_id").isin(sids))
            )
            # allowMissingColumns: table schemas EVOLVE (termdict grew a
            # block_mtf column in r4) and epochs are immutable — an index
            # built before the change that gains new segments afterward
            # has mixed-schema epochs; a strict union would throw
            # AnalysisException on every query.  Nulls flow into the
            # readers' existing column-is-absent/None fallbacks
            # (e.g. seg_max_tfs' block_mtf-is-None branch).
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True)
        return out

    def fetch_rows(
        self, spark: SparkSession, table: str, segments: list[dict],
        keys: list[tuple[str, int]], columns: list[str],
        memoized: Callable,
    ) -> dict[tuple[str, int], dict]:
        """Point read of ``keys`` (segment_id, local docid) straight from
        the parquet files — no Spark job.  Per hit segment the data
        files' docid row-group ranges come from ``memoized`` (the
        Searcher's snapshot memo, one entry per segment); only row
        groups that can hold a wanted docid are decoded, and only the
        wanted ``columns`` the file has.  A column missing from a file
        (an older epoch) is absent from its rows; keys keep the file's
        column order."""
        want: dict[str, set[int]] = {}
        for sid, d in keys:
            want.setdefault(sid, set()).add(int(d))
        dirs = {s["segment_id"]: s["tables"][table] for s in segments
                if s["segment_id"] in want and s["tables"].get(table)}
        if not dirs:
            return {}
        files = memoized(f"footers:{table}", list(dirs),
                         lambda missing: {sid: _footers(dirs[sid])
                                          for sid in missing})
        as_bytes = spark.conf.get(
            "spark.sql.execution.pyspark.binaryAsBytes", "true") == "true"
        wanted = set(columns)
        out: dict[tuple[str, int], dict] = {}
        for sid, seg_files in files.items():
            ids = want[sid]
            for path, meta, names, ranges in seg_files:
                rgs = [i for i, (lo, hi) in enumerate(ranges)
                       if lo is None or any(lo <= d <= hi for d in ids)]
                if not rgs:
                    continue
                cols = [c for c in names if c in wanted and c != "docid"]
                tbl = pq.ParquetFile(
                    path, metadata=meta, coerce_int96_timestamp_unit="us",
                ).read_row_groups(rgs, columns=["docid", *cols])
                tbl = tbl.filter(pc.is_in(tbl["docid"],
                                          pa.array(sorted(ids), pa.int64())))
                vals = [_py_values(tbl[c], as_bytes) for c in cols]
                for r, d in enumerate(tbl["docid"].to_pylist()):
                    out[(sid, d)] = {c: v[r] for c, v in zip(cols, vals)}
        return out


class MemStorage:
    """In-memory index backing for create_ram_index
    (/root/reference/src-rust/index.rs:112-117): segment tables are cached
    DataFrames, the manifest is a plain dict — no filesystem commit."""

    def __init__(self, name: str):
        self.name = name
        self._schema_json: str | None = None
        self._manifest: dict = {"opstamp": 0, "segments": []}
        self._tables: dict[tuple[str, str], DataFrame] = {}
        self.metrics: list[dict] = []
        self._aux: dict[str, Any] = {}

    def exists(self) -> bool:
        return self._schema_json is not None

    def create(self, schema_json: str) -> None:
        self._schema_json = schema_json

    def delete(self) -> None:
        for df in self._tables.values():
            df.unpersist()
        self._tables.clear()
        self._schema_json = None
        self._manifest = {"opstamp": 0, "segments": []}
        self._aux.clear()

    def schema_json(self) -> str:
        assert self._schema_json is not None
        return self._schema_json

    def manifest(self) -> dict:
        return json.loads(json.dumps(self._manifest))

    def committed_segment_ids(self) -> set[str]:
        return {s["segment_id"] for s in self._manifest["segments"]}

    def append_segments(self, metas: list[dict]) -> None:
        existing = self.committed_segment_ids()
        for meta in metas:
            if meta["segment_id"] in existing:
                raise SegmentExistsError("Segment exists.")
            existing.add(meta["segment_id"])
            self._manifest["segments"].append(meta)
            self._manifest["opstamp"] += meta["max_doc"]

    def log_metrics(self, rows: list[dict]) -> None:
        self.metrics.extend(rows)

    def read_aux(self, rel: str, default: Any) -> Any:
        return json.loads(json.dumps(self._aux.get(rel, default)))

    def write_aux(self, rel: str, obj: Any) -> None:
        self._aux[rel] = json.loads(json.dumps(obj))

    def write_table(self, df: DataFrame, epoch: str, table: str,
                    partition_cols: tuple = ("segment_id",)) -> None:
        df = df.cache()
        df.count()  # materialize now: RAM-index writes are eager commits
        self._tables[(epoch, table)] = df

    def new_epoch(self) -> str:
        return f"m{len(self._tables)}-{time.monotonic_ns():x}"

    def read_epoch_table(self, spark: SparkSession, epoch: str, table: str) -> DataFrame:
        return self._tables[(epoch, table)]

    def load_table(
        self, spark: SparkSession, table: str, segments: list[dict]
    ) -> DataFrame | None:
        out: DataFrame | None = None
        sids = [s["segment_id"] for s in segments]
        for (epoch, tbl), df in self._tables.items():
            if tbl != table:
                continue
            part = df.filter(F.col("segment_id").isin(sids))
            out = part if out is None else out.unionByName(part)
        return out

    def fetch_rows(
        self, spark: SparkSession, table: str, segments: list[dict],
        keys: list[tuple[str, int]], columns: list[str],
        memoized: Callable,
    ) -> dict[tuple[str, int], dict]:
        """Point read of ``keys`` as a pushdown-filtered Spark collect:
        RAM tables live only in the JVM, so a job is the one way in."""
        df = self.load_table(spark, table, segments)
        if df is None or not keys:
            return {}
        wanted = set(columns)
        cols = [c for c in df.columns if c in wanted]
        return {
            (r["segment_id"], r["docid"]): {c: r[c] for c in cols}
            for r in df.filter(key_filter(keys))
            .select("segment_id", "docid", *cols).collect()
        }
