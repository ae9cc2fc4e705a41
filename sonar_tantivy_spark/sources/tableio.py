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


def _footers(part_dir: str, keys: tuple[str, ...]) -> list[tuple]:
    """(path, footer, column names, per-row-group bounds) for every data
    file of one segment partition; a row group's bounds hold one
    (min, max) per ``keys`` column, (None, None) where the writer kept
    no statistics (the row group then always passes that column)."""
    out = []
    for path in _data_files(part_dir):
        meta = pq.read_metadata(path)
        names = meta.schema.to_arrow_schema().names
        cis = [names.index(k) for k in keys]
        bounds = []
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            b = []
            for ci in cis:
                st = rg.column(ci).statistics
                b.append((st.min, st.max) if st is not None
                         and st.has_min_max else (None, None))
            bounds.append(tuple(b))
        out.append((path, meta, names, bounds))
    return out


def _within(bound: tuple, v) -> bool:
    lo, hi = bound
    return lo is None or lo <= v <= hi


# the columns each point-read table's row groups are pruned on: the
# docs files are written sorted by docid, the termdict files by
# (field, term) within a segment (build.py, merge.py)
_KEYS = {"docs": ("docid",), "termdict": ("field", "term")}


def _read_pruned(table: str, segments: list[dict], memoized: Callable,
                 keep: Callable, wanted: set[str]):
    """(segment_id, arrow table) per data file of the ``segments`` that
    have ``table``, holding only the row groups whose key-column
    bounds pass ``keep(segment_id, bounds)`` and only the ``wanted``
    columns the file has, in the file's column order — no Spark job.
    The files' footers and bounds come from ``memoized`` (the Searcher's
    snapshot memo, one entry per segment); ghost segments (no ``table``
    dir) are skipped."""
    dirs = {s["segment_id"]: s["tables"][table] for s in segments
            if s["tables"].get(table)}
    if not dirs:
        return
    keys = _KEYS[table]
    files = memoized(f"footers:{table}", list(dirs),
                     lambda missing: {sid: _footers(dirs[sid], keys)
                                      for sid in missing})
    for sid, seg_files in files.items():
        for path, meta, names, bounds in seg_files:
            rgs = [i for i, b in enumerate(bounds) if keep(sid, b)]
            if rgs:
                yield sid, pq.ParquetFile(
                    path, metadata=meta, coerce_int96_timestamp_unit="us",
                ).read_row_groups(rgs, columns=[c for c in names
                                                if c in wanted])


def _td_row(sid: str, df: int, max_tf: int, bmtf) -> tuple:
    """One segment's dictionary row of a (field, term): (segment_id,
    df, max_tf, {block: max_tf} from the ``bmtf`` (block, max_tf)
    entries, or None when the epoch predates the block-granular
    termdict)."""
    return (sid, int(df), int(max_tf),
            None if bmtf is None else {int(b): int(m) for b, m in bmtf})


def _by_pair(pairs: set, rows) -> dict:
    """{(field, term): (its dictionary row per segment)} from ``rows``
    of (field, term, row); pairs with no row map to ()."""
    out: dict = {p: [] for p in pairs}
    for f, t, row in rows:
        if (f, t) in out:
            out[(f, t)].append(row)
    return {p: tuple(v) for p, v in out.items()}


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
        the parquet files — no Spark job (_read_pruned): only row groups
        that can hold a wanted docid are decoded, and only the wanted
        ``columns`` the file has.  A column missing from a file (an
        older epoch) is absent from its rows; keys keep the file's
        column order."""
        want: dict[str, set[int]] = {}
        for sid, d in keys:
            want.setdefault(sid, set()).add(int(d))
        as_bytes = spark.conf.get(
            "spark.sql.execution.pyspark.binaryAsBytes", "true") == "true"
        out: dict[tuple[str, int], dict] = {}
        for sid, tbl in _read_pruned(
                table, [s for s in segments if s["segment_id"] in want],
                memoized,
                lambda sid, b: any(_within(b[0], d) for d in want[sid]),
                {*columns, "docid"}):
            tbl = tbl.filter(pc.is_in(
                tbl["docid"], pa.array(sorted(want[sid]), pa.int64())))
            cols = [c for c in tbl.column_names if c != "docid"]
            vals = [_py_values(tbl[c], as_bytes) for c in cols]
            for r, d in enumerate(tbl["docid"].to_pylist()):
                out[(sid, d)] = {c: v[r] for c, v in zip(cols, vals)}
        return out

    def termdict_rows(
        self, spark: SparkSession, segments: list[dict],
        pairs: list[tuple[str, str]], memoized: Callable,
    ) -> dict[tuple[str, str], tuple]:
        """(field, term) → its dictionary row per segment (_td_row),
        read straight from the termdict files — no Spark job: only row
        groups whose field/term bounds can hold a wanted pair are
        decoded (_read_pruned), then filtered to the pairs."""
        pairs = set(pairs)
        fields = pa.array(sorted({f for f, _ in pairs}), pa.string())
        terms = pa.array(sorted({t for _, t in pairs}), pa.string())
        rows = []
        for sid, tbl in _read_pruned(
                "termdict", segments, memoized,
                lambda sid, b: any(_within(b[0], f) and _within(b[1], t)
                                   for f, t in pairs),
                # block_mtf is absent from epochs written before the
                # block-granular termdict
                {"field", "term", "df", "max_tf", "block_mtf"}):
            tbl = tbl.filter(pc.and_(pc.is_in(tbl["field"], fields),
                                     pc.is_in(tbl["term"], terms)))
            bmtf = (tbl["block_mtf"].to_pylist()
                    if "block_mtf" in tbl.column_names
                    else [None] * tbl.num_rows)
            rows.extend(
                (f, t, _td_row(sid, df, mtf, b)) for f, t, df, mtf, b in zip(
                    tbl["field"].to_pylist(), tbl["term"].to_pylist(),
                    tbl["df"].to_pylist(), tbl["max_tf"].to_pylist(), bmtf))
        return _by_pair(pairs, rows)

    def termdict_prefix(
        self, spark: SparkSession, segments: list[dict], field: str,
        prefix: str, cap: int, memoized: Callable,
    ) -> list[str]:
        """The first ``cap`` distinct terms of ``field`` starting with
        ``prefix``, in term order — the dictionary range [prefix,
        prefix⁺), read like termdict_rows: a row group is decoded only
        when its bounds overlap the range."""
        n = len(prefix)

        def keep(sid, b):
            (tlo, thi) = b[1]
            return _within(b[0], field) and (
                tlo is None or (thi >= prefix and tlo[:n] <= prefix))

        found: set[str] = set()
        for _, tbl in _read_pruned("termdict", segments, memoized, keep,
                                   {"field", "term"}):
            tbl = tbl.filter(pc.and_(pc.equal(tbl["field"], field),
                                     pc.starts_with(tbl["term"], prefix)))
            found.update(tbl["term"].to_pylist())
        return sorted(found)[:cap]


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

    def termdict_rows(
        self, spark: SparkSession, segments: list[dict],
        pairs: list[tuple[str, str]], memoized: Callable,
    ) -> dict[tuple[str, str], tuple]:
        """termdict_rows as ONE pushdown-filtered Spark collect."""
        pairs = set(pairs)
        df = self.load_table(spark, "termdict", segments)
        if df is None:
            return {p: () for p in pairs}
        # block maps as (block, max_tf) entries, like the file read's
        bmtf = (F.map_entries("block_mtf") if "block_mtf" in df.columns
                else F.lit(None))
        got = (df.filter(F.col("field").isin(sorted({f for f, _ in pairs}))
                         & F.col("term").isin(sorted({t for _, t in pairs})))
               .select("segment_id", "field", "term", "df", "max_tf",
                       bmtf.alias("block_mtf"))
               .collect())
        return _by_pair(pairs, [
            (r["field"], r["term"], _td_row(
                r["segment_id"], r["df"], r["max_tf"], r["block_mtf"]))
            for r in got])

    def termdict_prefix(
        self, spark: SparkSession, segments: list[dict], field: str,
        prefix: str, cap: int, memoized: Callable,
    ) -> list[str]:
        """termdict_prefix as one Spark job (first ``cap`` in term
        order, like the file read)."""
        df = self.load_table(spark, "termdict", segments)
        if df is None:
            return []
        return [r["term"] for r in
                df.filter((F.col("field") == field)
                          & F.col("term").startswith(prefix))
                .select("term").distinct().orderBy("term").limit(cap)
                .collect()]
