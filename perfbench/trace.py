"""Traced runs: benchmark-side spans around the engine's public calls,
Spark's event log for executor-side costs, and the per-layer table.

Nothing here is installed inside ``sonar_tantivy_spark``: ``Tracer.install``
replaces public functions with wrappers that record a span (name, start,
end, parent, request id) and label the calling thread's Spark jobs with
the span id.  Spans stay in memory until the run ends."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import weakref
from collections import Counter, defaultdict

from perfbench.host import now_ms

LABEL = "perfbench.span"
# build phases with their own wall in metrics.jsonl (the doclens and
# docs writes overlap the postings write and log ~0)
PHASES = ("docid_assign", "postings_write", "termdict_write", "stats_collect")
TABLES = ("docs", "postings", "doclens", "termdict")

# the per-layer table: metric -> unit
UNITS = {
    "catalog.open_ms": "ms",
    "catalog.searcher_ms": "ms",
    "catalog.searcher_reuse_ratio": "ratio",
    "catalog.query_json_ms": "ms",
    "catalog.query_ms": "ms",
    "plans.ast.parse_ms": "ms",
    "operators.search.term_dfs_ms": "ms",
    "operators.search.term_dfs_jobs": "count",
    "operators.search.top_k_ms": "ms",
    "operators.search.retrieve_ms": "ms",
    "operators.search.aggregations_ms": "ms",
    "operators.search.segments_skipped_ratio": "ratio",
    "operators.search.blocks_skipped_ratio": "ratio",
    "operators.search.jobs_per_request": "count",
    "operators.search.tasks_per_request": "count",
    "operators.search.executor_cpu_ms_per_request": "ms",
    "operators.search.task_wait_ms": "ms",
    "operators.snippet.ms": "ms",
    "operators.build.wall_s": "s",
    "operators.build.executor_cpu_s": "s",
    "operators.build.python_worker_s": "s",
    "operators.build.python_bytes_sent": "bytes",
    "operators.build.shuffle_write_bytes": "bytes",
    **{f"operators.build.phase.{p}_s": "s" for p in PHASES},
    "operators.build.jobs": "count",
    "operators.merge.wall_s": "s",
    "operators.merge.executor_cpu_s": "s",
    "operators.merge.shuffle_bytes": "bytes",
    "operators.merge.bytes_rewritten_per_live_byte": "ratio",
    "operators.merge.compactions": "count",
    "operators.percolate.wall_s": "s",
    "operators.percolate.executor_cpu_s": "s",
    "operators.percolate.python_worker_s": "s",
    "sources.tableio.manifest_reads_per_request": "count",
    "sources.tableio.manifest_ms": "ms",
    **{f"sources.tableio.bytes_written.{t}": "bytes" for t in TABLES},
    "spark.gc_ms": "ms",
    "spark.unattributed_cpu_share": "ratio",
}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.seen_searchers: weakref.WeakSet = weakref.WeakSet()
        self.searcher_calls = 0
        self.searcher_reused = 0
        self.bytes_written: Counter = Counter()
        self.merge_bytes_written = 0

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _label(self, rec: dict | None) -> None:
        self.sc.setLocalProperty(LABEL, None if rec is None else str(rec["id"]))

    @contextlib.contextmanager
    def span(self, name: str, req: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": next(self._ids), "name": name,
               "parent": parent["id"] if parent else None,
               "req": req if req is not None else (parent or {}).get("req"),
               "thread": threading.get_ident(), "start": now_ms(), "end": None}
        with self._lock:
            self.spans.append(rec)
        stack.append(rec)
        self._label(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = now_ms()
            self._label(parent)

    def current(self, name: str) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack and stack[-1]["name"] == name else None

    def inside(self, name: str) -> bool:
        return any(r["name"] == name for r in self._stack())

    # ------------------------------------------------------------ wrappers
    def wrap(self, owner, attr: str, name: str, post=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if tracer.current(name) is not None:  # recursion: one span
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if post is not None:
                post(args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.sql import DataFrame

        from sonar_tantivy_spark import catalog
        from sonar_tantivy_spark.operators import merge, search
        from sonar_tantivy_spark.plans import ast
        from sonar_tantivy_spark.sources import tableio

        Index, Searcher = catalog.Index, search.Searcher
        self.wrap(catalog.IndexCatalog, "open", "catalog.open")
        self.wrap(Index, "searcher", "catalog.searcher", post=self._on_searcher)
        self.wrap(Index, "query_json", "catalog.query_json")
        self.wrap(Index, "query", "catalog.query")
        self.wrap(ast, "parse_json", "plans.ast.parse")
        self.wrap(ast, "parse_string", "plans.ast.parse")
        self.wrap(Searcher, "term_dfs", "operators.search.term_dfs")
        for attr in ("top_k", "top_k_pruned", "top_k_sorted_pruned"):
            self.wrap(Searcher, attr, "operators.search.top_k")
        self.wrap(Searcher, "retrieve", "operators.search.retrieve")
        self.wrap(Searcher, "aggregations", "operators.search.aggregations")
        self.wrap(Searcher, "expand_snippet_terms", "operators.snippet")
        self.wrap(catalog, "generate_snippet", "operators.snippet")
        self.wrap(Index, "add_df", "operators.build")
        for attr in ("compact_to", "tiered_compact", "compact"):
            self.wrap(merge, attr, "operators.merge")
        self.wrap(tableio.FsStorage, "manifest", "sources.tableio.manifest")
        self.wrap(tableio.FsStorage, "write_table", "sources.tableio.write",
                  post=self._on_write)
        self._wrap_collect(DataFrame)
        self._wrap_submit(ThreadPoolExecutor)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _on_searcher(self, args, kwargs, out) -> None:
        with self._lock:
            self.searcher_calls += 1
            if out in self.seen_searchers:
                self.searcher_reused += 1
            else:
                self.seen_searchers.add(out)

    def _on_write(self, args, kwargs, out) -> None:
        storage, _df, epoch, table = args[:4]
        n = dir_bytes(storage.epoch_dir(epoch, table))
        with self._lock:
            self.bytes_written[table] += n
            if self.inside("operators.merge"):
                self.merge_bytes_written += n

    def _wrap_collect(self, DataFrame) -> None:
        # Searcher.retrieve collects the lazy top-k frame before fetching
        # stored fields: that first collect is the top-k's execution
        orig = DataFrame.collect
        tracer = self

        def collect(df):
            rec = tracer.current("operators.search.retrieve")
            if rec is None or rec.get("hits_collected"):
                return orig(df)
            rec["hits_collected"] = True
            with tracer.span("operators.search.top_k"):
                return orig(df)

        DataFrame.collect = collect
        self._patches.append((DataFrame, "collect", orig))

    def _wrap_submit(self, ThreadPoolExecutor) -> None:
        # Spark job labels are per thread: carry the submitting thread's
        # span into the engine's pool threads
        orig = ThreadPoolExecutor.submit
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            stack = tracer._stack()
            ctx = stack[-1] if stack else None
            if ctx is None:
                return orig(pool, fn, *args, **kwargs)

            def run(*a, **kw):
                st = tracer._stack()
                saved = st[:]
                st[:] = [ctx]
                tracer._label(ctx)
                try:
                    return fn(*a, **kw)
                finally:
                    st[:] = saved
                    tracer._label(saved[-1] if saved else None)

            return orig(pool, run, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._patches.append((ThreadPoolExecutor, "submit", orig))


# ---------------------------------------------------------------- event log
def read_jobs(log_dir: str) -> list[dict]:
    """Per-job executor totals from Spark's uncompressed event log."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names
                  if not n.startswith(".") and not n.startswith("appstatus")]
    files.sort(key=lambda p: (os.path.dirname(p),
                              int(os.path.basename(p).split("_")[1])
                              if os.path.basename(p).startswith("events_")
                              else 0))
    jobs: dict[int, dict] = {}
    latest_job: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    jobs[jid] = {"id": jid, "label": (e.get("Properties") or {})
                                 .get(LABEL), "submit": e["Submission Time"],
                                 "cpu_ms": 0.0, "tasks": 0, "gc_ms": 0.0,
                                 "shuffle_write": 0,
                                 "py_run_ms": 0.0, "py_sent": 0,
                                 "wait_ms": 0.0}
                    for sid in e["Stage IDs"]:
                        latest_job[sid] = jid
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    sid = info["Stage ID"]
                    if sid in latest_job:
                        stage_job[sid] = latest_job[sid]
                    stage_submit[sid] = info.get("Submission Time") or 0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    tm = e.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    info = e["Task Info"]
                    job["tasks"] += 1
                    job["cpu_ms"] += (tm["Executor CPU Time"]
                                      + tm["Executor Deserialize CPU Time"]) / 1e6
                    job["gc_ms"] += tm["JVM GC Time"]
                    job["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["wait_ms"] += max(0.0, info["Launch Time"]
                                          - stage_submit.get(e["Stage ID"],
                                                             info["Launch Time"]))
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name == "time to run Python workers":
                            job["py_run_ms"] += float(upd)
                        elif name == "data sent to Python workers":
                            job["py_sent"] += int(upd)
    return list(jobs.values())


# ---------------------------------------------------------------- layers
def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


class LayerTable:
    """Attributes every Spark job to a span and rolls the costs up."""

    STATS = ("cpu_ms", "tasks", "gc_ms", "shuffle_write",
             "py_run_ms", "py_sent", "wait_ms", "jobs")

    def __init__(self, tracer: Tracer, jobs: list[dict]):
        self.tracer = tracer
        self.spans = {s["id"]: s for s in tracer.spans}
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in tracer.spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.incl: dict[int, Counter] = defaultdict(Counter)
        self.total_cpu = sum(j["cpu_ms"] for j in jobs)
        self.layer_cpu = 0.0
        self.by_label = self.by_window = self.ambiguous = 0
        for job in jobs:
            span = self._attribute(job)
            if span is None:
                continue
            if not span["name"].startswith("bench."):
                self.layer_cpu += job["cpu_ms"]
            while span is not None:
                acc = self.incl[span["id"]]
                for k in self.STATS[:-1]:
                    acc[k] += job[k]
                acc["jobs"] += 1
                span = self.spans.get(span["parent"])

    def _chain(self, span: dict) -> list[int]:
        out = []
        while span is not None:
            out.append(span["id"])
            span = self.spans.get(span["parent"])
        return out

    def _attribute(self, job: dict) -> dict | None:
        if job["label"] is not None and int(job["label"]) in self.spans:
            self.by_label += 1
            return self.spans[int(job["label"])]
        # unlabeled: the innermost span open at submission, if every open
        # span lies on that one's ancestor chain
        t = job["submit"]
        open_ = [s for s in self.spans.values()
                 if s["start"] <= t <= (s["end"] or t)]
        if not open_:
            return None
        inner = max(open_, key=lambda s: s["start"])
        chain = set(self._chain(inner))
        if any(s["id"] not in chain for s in open_):
            self.ambiguous += 1
            return None
        self.by_window += 1
        return inner

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans.values() if s["name"] == name]

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def under(self, root: dict, name: str) -> list[dict]:
        """Outermost ``name`` spans in ``root``'s subtree."""
        out, todo = [], list(self.children[root["id"]])
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            else:
                todo.extend(self.children[s["id"]])
        return out

    def metrics(self, requests: list[dict], prune: dict, phases: list[dict],
                live_bytes: int) -> dict:
        """The per-layer table.  ``requests`` are the search-request root
        spans, ``prune`` the skip totals the workload read per request,
        ``phases`` the build phase walls from each index's metrics.jsonl."""
        inc = self.incl
        m: dict[str, float] = {}
        t = self.tracer
        for name in ("catalog.open", "catalog.searcher", "catalog.query_json",
                     "catalog.query"):
            m[f"{name}_ms"] = _median(map(self.dur, self.named(name)))
        m["catalog.searcher_reuse_ratio"] = (
            t.searcher_reused / t.searcher_calls if t.searcher_calls else 0.0)
        m["plans.ast.parse_ms"] = _median(map(self.dur, self.named("plans.ast.parse")))
        tdfs = self.named("operators.search.term_dfs")
        m["operators.search.term_dfs_ms"] = _median(map(self.dur, tdfs))
        m["operators.search.term_dfs_jobs"] = _mean(inc[s["id"]]["jobs"] for s in tdfs)
        m["operators.search.top_k_ms"] = _median(
            sum(map(self.dur, self.under(r, "operators.search.top_k")))
            for r in requests)
        m["operators.search.retrieve_ms"] = _median(
            self.dur(s) - sum(map(self.dur, self.under(s, "operators.search.top_k")))
            for s in self.named("operators.search.retrieve"))
        m["operators.search.aggregations_ms"] = _median(
            map(self.dur, self.named("operators.search.aggregations")))
        m["operators.search.segments_skipped_ratio"] = (
            prune["segments_skipped"] / prune["segments_total"]
            if prune["segments_total"] else 0.0)
        m["operators.search.blocks_skipped_ratio"] = (
            prune["blocks_skipped"] / prune["blocks_total"]
            if prune["blocks_total"] else 0.0)
        rq = [inc[r["id"]] for r in requests]
        m["operators.search.jobs_per_request"] = _mean(c["jobs"] for c in rq)
        m["operators.search.tasks_per_request"] = _mean(c["tasks"] for c in rq)
        m["operators.search.executor_cpu_ms_per_request"] = _mean(c["cpu_ms"] for c in rq)
        tasks = sum(c["tasks"] for c in rq)
        m["operators.search.task_wait_ms"] = (
            sum(c["wait_ms"] for c in rq) / tasks if tasks else 0.0)
        m["operators.snippet.ms"] = _median(
            sum(map(self.dur, sn)) for sn in
            (self.under(r, "operators.snippet") for r in requests) if sn)

        builds = self.named("operators.build")
        m["operators.build.wall_s"] = _median(map(self.dur, builds)) / 1e3
        m["operators.build.executor_cpu_s"] = _mean(inc[s["id"]]["cpu_ms"] for s in builds) / 1e3
        m["operators.build.python_worker_s"] = _mean(inc[s["id"]]["py_run_ms"] for s in builds) / 1e3
        m["operators.build.python_bytes_sent"] = _mean(inc[s["id"]]["py_sent"] for s in builds)
        m["operators.build.shuffle_write_bytes"] = _mean(inc[s["id"]]["shuffle_write"] for s in builds)
        for ph in PHASES:
            m[f"operators.build.phase.{ph}_s"] = _median(p.get(ph, 0.0) for p in phases)
        m["operators.build.jobs"] = _mean(inc[s["id"]]["jobs"] for s in builds)

        merges = self.named("operators.merge")
        m["operators.merge.wall_s"] = _median(map(self.dur, merges)) / 1e3
        m["operators.merge.executor_cpu_s"] = _mean(inc[s["id"]]["cpu_ms"] for s in merges) / 1e3
        m["operators.merge.shuffle_bytes"] = _mean(inc[s["id"]]["shuffle_write"] for s in merges)
        m["operators.merge.bytes_rewritten_per_live_byte"] = (
            t.merge_bytes_written / live_bytes if live_bytes else 0.0)
        m["operators.merge.compactions"] = float(len(merges))

        percs = self.named("operators.percolate")
        m["operators.percolate.wall_s"] = _median(map(self.dur, percs)) / 1e3
        m["operators.percolate.executor_cpu_s"] = _mean(inc[s["id"]]["cpu_ms"] for s in percs) / 1e3
        m["operators.percolate.python_worker_s"] = _mean(inc[s["id"]]["py_run_ms"] for s in percs) / 1e3

        m["sources.tableio.manifest_reads_per_request"] = _mean(
            len(self.under(r, "sources.tableio.manifest")) for r in requests)
        m["sources.tableio.manifest_ms"] = _median(
            map(self.dur, self.named("sources.tableio.manifest")))
        for table in TABLES:
            m[f"sources.tableio.bytes_written.{table}"] = float(t.bytes_written[table])

        m["spark.gc_ms"] = _mean(c["gc_ms"] for c in rq)
        m["spark.unattributed_cpu_share"] = (
            1.0 - self.layer_cpu / self.total_cpu if self.total_cpu else 0.0)
        return m

    def summary(self) -> dict:
        return {"jobs_by_label": self.by_label, "jobs_by_window": self.by_window,
                "jobs_ambiguous": self.ambiguous,
                "executor_cpu_s": round(self.total_cpu / 1e3, 3),
                "layer_cpu_share": round(self.layer_cpu / self.total_cpu, 4)
                if self.total_cpu else None,
                "spans": len(self.spans)}
