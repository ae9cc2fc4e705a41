"""perfbench — the repository benchmark.

    python3 perfbench/run.py --workload search-mix --seed 1 --seconds 20 --trace 0

Runs one workload against the engine on a local[4] Spark session and
prints, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer table with ``--trace 1``.  The line before
it carries the run's metadata (seed, sizes, set-up phases, workload
properties, host sys%/steal%, trace summary); every run is also appended
to ``perfbench/.results/runs.jsonl``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

ORDER = ["conv_id", "turn_idx"]
WORKLOADS = {
    # 2 closed-loop clients; every request resolves the index by name
    "search-mix": {"start_turns": 4000, "segments": 4, "target_segments": 2,
                   "clients": 2, "micro_turns": 0},
    # 1 writer committing micro-batches beside 2 readers on held handles
    "ingest-while-search": {"start_turns": 4000, "segments": 2,
                            "target_segments": 3, "clients": 2,
                            "micro_turns": 1000, "micro_batches": 2},
}
# Docids per block-max block.  The engine's default (4096) would make
# every segment of these corpora a single block, so within-segment block
# pruning could never skip; 256 gives a 2k-doc segment 8 blocks, close to
# the ~12 of a 200k-turn index compacted to 4 segments.
BLOCK_DOCS = 256
TINY = {"start_turns": 1200, "micro_turns": 200}

UNITS = {"setup_s": "s", "query_p50_ms": "ms", "queries_per_s": "1/s",
         "append_p50_s": "s", "stored_bytes_per_input_byte": "ratio"}


class Ops:
    """Attempted / failed operation counts across threads."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._lock = threading.Lock()

    def record(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.failures) < 20:
                    self.failures.append(what)


def tail_percentile(n: int) -> float:
    """p95, or the highest percentile with at least 10 samples beyond it."""
    return max(0.5, min(0.95, 1.0 - 10.0 / n)) if n else 0.95


def percentile(xs: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (q=0.5 is the median)."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def doc_count(idx) -> int:
    return sum(s["max_doc"] for s in idx.segment_info())


def live_bytes(idx) -> int:
    """Bytes of the tables the manifest references (superseded epochs
    stay on disk until a vacuum and are not counted)."""
    from perfbench.trace import dir_bytes
    return sum(dir_bytes(path) for seg in idx.storage.manifest()["segments"]
               for path in seg["tables"].values())


def build_phases(idx) -> list[dict]:
    """Per-add_df phase walls from the metrics.jsonl the build writes."""
    path = os.path.join(idx.storage.root, "metrics.jsonl")
    by_epoch: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                row = json.loads(line)
                by_epoch[row["epoch"]] = row.get("phase_walls_s", {})
    return list(by_epoch.values())


def stop_jvm() -> None:
    """End the JVM that pyspark launched, and its Python workers, and wait
    for them: a stopped session otherwise leaves them to exit after us."""
    from pyspark import SparkContext

    from perfbench.host import process_tree

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(process_tree(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


class Bench:
    def __init__(self, args):
        self.args = args
        self.iws = args.workload == "ingest-while-search"
        self.cfg = dict(WORKLOADS[args.workload])
        if args.scale == "tiny":
            self.cfg.update(TINY)
        self.ops = Ops()
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.tracer = None
        self.requests: list[dict] = []       # measured window
        self.warm_requests: list[dict] = []  # warm-up pass
        # writer-side samples; on ingest-while-search the end-to-end
        # metrics read the window's, on search-mix the set-up's
        self.writes = {"setup": self._writes(), "window": self._writes()}
        self.phase = "setup"
        self.markers: list[float] = []
        self.batches = 0
        self.input_bytes = 0
        self.setup: dict[str, float] = {}

    @staticmethod
    def _writes() -> dict:
        return {"appends": [], "merges": [], "percolates": []}

    # ----------------------------------------------------------- helpers
    def span(self, name: str, req: str | None = None):
        return (self.tracer.span(name, req) if self.tracer
                else contextlib.nullcontext())

    def read(self, path: str):
        with self.span("spark.read_input"):
            return self.spark.read.parquet(path)

    def start_spark(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the JVM's Python workers import the engine from this checkout
        os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        os.environ["STSPARK_BLOCK_DOCS"] = str(BLOCK_DOCS)
        b = (SparkSession.builder.master("local[4]")
             .appName("perfbench")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "2g")
             .config("spark.local.dir", os.path.join(self.work, "spark-local"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", log_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # ----------------------------------------------------------- writer ops
    def append(self, idx, path: str, n: int, **kw) -> None:
        df = self.read(path)
        base = doc_count(idx)
        t0 = time.perf_counter()
        with self.span("bench.append"):
            idx.add_df(df, order_cols=ORDER, **kw)
        self.writes[self.phase]["appends"].append(
            {"turns": n, "wall_s": time.perf_counter() - t0})
        self.input_bytes += os.path.getsize(path)
        got = doc_count(idx)
        self.ops.record(got == base + n, f"append: {got} docs, want {base + n}")

    def merge(self, fn, idx, target: int) -> None:
        before = doc_count(idx)
        t0 = time.perf_counter()
        with self.span("bench.merge"):
            fn(idx, target)
        self.writes[self.phase]["merges"].append(time.perf_counter() - t0)
        segs, docs = len(idx.segment_info()), doc_count(idx)
        self.ops.record(segs <= target and docs == before,
                        f"merge: {segs} segments / {docs} docs")

    def percolate(self, idx, path: str, n: int, lo: int) -> None:
        """Alert on a batch as it arrives: the saved queries' matches."""
        df = self.read(path)
        t0 = time.perf_counter()
        with self.span("bench.percolate"), self.span("operators.percolate"):
            rows = idx.percolate(df, keep_cols=ORDER).collect()
        self.writes[self.phase]["percolates"].append({
            "turns": n, "wall_s": time.perf_counter() - t0, "lo": lo,
            "hi": lo + n, "got": {(r["conv_id"], int(r["turn_idx"]),
                                   r["query_name"]) for r in rows}})

    def marker_check(self, idx, k: int, base: int, n: int) -> None:
        """The batch's marker word must be found right after its commit."""
        from perfbench.corpus import marker_word

        t0 = time.perf_counter()
        with self.span("bench.marker"):
            res = idx.query_json({"query": {"term": {"text": marker_word(
                self.args.seed, k)}}, "limit": 100})
        self.markers.append(time.perf_counter() - t0)
        got = {d["docid"] for d in res["docs"]}
        want = {base + i for i in range(0, n, 100)}
        self.ops.record(got == want, f"marker {k}: {sorted(got ^ want)[:5]}")

    # ----------------------------------------------------------- reader ops
    def request(self, resolve, c: int, req, sink: list, tag: str) -> None:
        from perfbench.mix import LIMIT

        rec = {"family": req.family, "repeat": req.repeat, "bands": req.bands,
               "req": req, "result": None}
        idx = None
        t0 = time.perf_counter()
        try:
            with self.span("bench.request", req=tag):
                idx = resolve(c)
                if req.kind == "string":
                    res = idx.query(req.body, limit=LIMIT, snippet_field="text")
                elif req.kind == "paged":
                    p1 = idx.query_json(req.body)
                    p2 = {"docs": []}
                    first = getattr(idx, "_searcher", None)
                    if first is not None:
                        rec["n_docs_page1"] = first.num_docs
                    if len(p1["docs"]) == LIMIT:
                        last = p1["docs"][-1]
                        p2 = idx.query_json({**req.body, "search_after": [
                            last["score"], last["docid"]]})
                    res = (p1, p2)
                else:
                    res = idx.query_json(req.body)
            rec["result"] = res
        except Exception:  # noqa: BLE001 - a failed request is a failed op
            rec["error"] = traceback.format_exc(limit=3)
        rec["latency_ms"] = (time.perf_counter() - t0) * 1e3
        rec["end"] = time.time()
        # the snapshot the request read: its Index's cached Searcher
        s = getattr(idx, "_searcher", None)
        if s is not None:
            rec["n_docs"] = s.num_docs
            rec["segments"] = len(s.segments)
            rec["prune"] = dict(getattr(s, "last_prune", None) or {})
        sink.append(rec)

    def clients(self, resolve, reqs, sink: list, n: int, until,
                tag: str) -> None:
        """Closed loop: ``n`` threads, each sending its next request when
        the previous one has answered, while ``until()`` holds."""
        it = iter(reqs)
        lock = threading.Lock()

        def loop(c: int) -> None:
            i = 0
            while until():
                with lock:
                    req = next(it, None)
                if req is None:
                    return
                self.request(resolve, c, req, sink, f"{tag}{c}-{i}")
                i += 1

        threads = [threading.Thread(target=loop, args=(c,)) for c in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    # ----------------------------------------------------------- the run
    def run(self) -> dict:
        from sonar_tantivy_spark import IndexCatalog
        # merge functions are looked up at call time: a traced run wraps them
        from sonar_tantivy_spark.operators import merge
        from sonar_tantivy_spark.sources.transcripts import TRANSCRIPT_SCHEMA

        from perfbench import corpus, host
        from perfbench.mix import ALERTS, Schedule

        a, cfg = self.args, self.cfg
        # inputs, cached per seed: not part of set-up time
        start_pdf, start_path = corpus.corpus("start", cfg["start_turns"], a.seed)
        micro = [corpus.corpus("mb", cfg["micro_turns"], a.seed, k)
                 for k in range(cfg.get("micro_batches", 0))]
        schedule = Schedule(a.seed)

        cpu0 = host.cpu_sample()
        rss = host.RssSampler(os.getpid())
        rss.__enter__()
        try:
            # ------------------------------------------------ set-up
            t_setup = time.perf_counter()
            self.spark = self.start_spark()
            self.setup["session_s"] = time.perf_counter() - t_setup
            if a.trace:
                from perfbench.trace import Tracer
                self.tracer = Tracer(self.spark.sparkContext)
                self.tracer.install()
            t0 = time.perf_counter()
            cat = IndexCatalog(self.spark, os.path.join(self.work, "indexes"))
            idx = cat.create_index("bench", TRANSCRIPT_SCHEMA)
            for name, q in ALERTS.items():
                idx.register_query(name, q)
            # the starting index: committed, alerted on, compacted
            n0 = len(start_pdf)
            self.append(idx, start_path, n0,
                        seg_size=math.ceil(n0 / cfg["segments"]))
            self.percolate(idx, start_path, n0, 0)
            if len(idx.segment_info()) > cfg["target_segments"]:
                self.merge(merge.compact_to, idx, cfg["target_segments"])
            self.setup["build_s"] = time.perf_counter() - t0
            # warm-up pass: the hot set once, which the window repeats
            t0 = time.perf_counter()
            if self.iws:
                # each reader thread holds one Index, opened once
                held = [cat.open("bench") for _ in range(cfg["clients"])]

                def resolve(c: int):
                    return held[c]
            else:
                def resolve(c: int):
                    return cat.open("bench")
            self.clients(resolve, schedule.hot, self.warm_requests,
                         cfg["clients"], lambda: True, "warm")
            self.setup["warm_queries_s"] = time.perf_counter() - t0
            setup_s = time.perf_counter() - t_setup

            # ------------------------------------------------ window
            self.phase = "window"
            t_win = time.time()
            deadline = t_win + a.seconds
            writer_done = threading.Event()

            def writer() -> None:
                try:
                    widx = cat.open("bench")
                    for k, (pdf, path) in enumerate(micro):
                        n, base = len(pdf), doc_count(widx)
                        self.append(widx, path, n, num_segments=1, n_hint=n)
                        self.batches += 1
                        self.marker_check(widx, k, base, n)
                        # the streaming sink's policy: merge past a cap
                        if len(widx.segment_info()) > cfg["target_segments"]:
                            self.merge(merge.tiered_compact, widx,
                                       cfg["target_segments"])
                except Exception:  # noqa: BLE001 - counted, run goes on
                    self.ops.record(False, "writer: " + traceback.format_exc(limit=3))
                finally:
                    writer_done.set()

            reqs = iter(schedule.next, None)
            if self.iws:
                # reads run through the window and all the writer's batches
                wt = threading.Thread(target=writer)
                wt.start()
                self.clients(resolve, reqs, self.requests, cfg["clients"],
                             lambda: time.time() < deadline
                             or not writer_done.is_set(), "c")
                wt.join()
            else:
                self.clients(resolve, reqs, self.requests, cfg["clients"],
                             lambda: time.time() < deadline, "c")
            window_s = max([r["end"] for r in self.requests] + [time.time()]) - t_win
            self.live = live_bytes(idx)
            self.phases = build_phases(idx)
        finally:
            if self.tracer is not None:
                self.tracer.uninstall()
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
                stop_jvm()
            rss.__exit__(None, None, None)
        return {"setup_s": setup_s, "window_s": window_s, "rss": rss.peak_mb,
                "host": host.cpu_shares(cpu0, host.cpu_sample()),
                "rows": [start_pdf] + [pdf for pdf, _ in micro[:self.batches]]}


def check(bench: Bench, out: dict) -> None:
    """Compare every search, aggregation and alert with the oracle."""
    import pandas as pd

    from perfbench.check import AnswerBook, engine_answer, same

    a = bench.args
    rows = pd.concat(out["rows"], ignore_index=True)
    cfg = bench.cfg
    book = AnswerBook(f"{a.workload}-n{cfg['start_turns']}-m{cfg['micro_turns']}"
                      f"-s{a.seed}", rows)
    if a.corrupt and bench.requests and bench.requests[0]["result"] is not None:
        bench.requests[0]["corrupt"] = True
    for rec in bench.warm_requests + bench.requests:
        if rec["result"] is None:
            bench.ops.record(False, f"{rec['family']}: {rec.get('error', '')[-300:]}")
            continue
        got = engine_answer(rec["req"], rec["result"])
        if rec.get("corrupt"):  # smoke test: the check must catch this
            got["hits"] = got["hits"][1:] + [[-1, 0.0]]
        n = rec.get("n_docs", len(out["rows"][0]))
        want = book.search(rec["req"], rec.get("n_docs_page1", n), n)
        bench.ops.record(same(got, want), f"{rec['family']}: {rec['req'].key[:200]} "
                                          f"n={n}: got {str(got)[:300]} want {str(want)[:300]}")
    for p in bench.writes["setup"]["percolates"]:
        want = book.percolate(p["lo"], p["hi"])
        bench.ops.record(p["got"] == want, f"percolate [{p['lo']},{p['hi']}): "
                                           f"{len(p['got'] ^ want)} rows differ")
    book.save()


def end_to_end(bench: Bench, out: dict) -> tuple[dict, dict]:
    lat = [r["latency_ms"] for r in bench.requests if r["result"] is not None]
    q = tail_percentile(len(lat))
    w = bench.writes["window" if bench.iws else "setup"]
    appends, merges = w["appends"], w["merges"]

    m = {
        "setup_s": out["setup_s"],
        "query_p50_ms": statistics.median(lat) if lat else 0.0,
        "queries_per_s": len(lat) / out["window_s"],
        "append_p50_s": statistics.median(x["wall_s"] for x in appends) if appends else 0.0,
        "stored_bytes_per_input_byte": bench.live / bench.input_bytes,
    }
    # too few requests per run for a real p95, the tree's RSS does not
    # repeat within a tenth, and one merge per run under concurrent reads
    # spreads by a quarter: all three are recorded, not gated
    meta = {"merge_s": statistics.median(merges) if merges else None,
            "query_tail_ms": percentile(lat, q) if lat else None,
            "tail_percentile": round(q, 4), "query_samples": len(lat),
            "peak_rss_mb": round(out["rss"], 1),
            "window_s": round(out["window_s"], 3), "appends": len(appends),
            "merges": len(merges)}
    return m, meta


def properties(bench: Bench) -> dict:
    """The workload properties this run actually had."""
    from collections import Counter

    from perfbench.mix import AGG_FAMILIES

    reqs = bench.requests
    n = len(reqs) or 1
    bands = Counter(b for r in reqs for b in r["bands"])
    nb = sum(bands.values()) or 1
    fam = Counter(r["family"] for r in reqs)
    segs = [r["segments"] for r in reqs if "segments" in r]
    scanned = [r["prune"]["segments_total"] - r["prune"]["segments_skipped"]
               for r in reqs if r.get("prune", {}).get("segments_total")]
    return {
        "requests": len(reqs),
        "repeat_share": round(sum(r["repeat"] for r in reqs) / n, 3),
        "term_band_share": {b: round(c / nb, 3) for b, c in sorted(bands.items())},
        "agg_share": round(sum(r["family"] in AGG_FAMILIES for r in reqs) / n, 3),
        "family_share": {f: round(c / n, 3) for f, c in sorted(fam.items())},
        "family_p50_ms": {f: round(statistics.median(
            r["latency_ms"] for r in reqs if r["family"] == f), 1)
            for f in sorted(fam)},
        "segments_per_request": round(statistics.mean(segs), 3) if segs else None,
        "segments_scanned_per_request": round(statistics.mean(scanned), 3)
        if scanned else None,
        "micro_batches": bench.batches,
        "marker_visible_ms": [round(x * 1e3, 1) for x in bench.markers],
    }


def prune_totals(reqs: list[dict]) -> dict:
    keys = ("segments_total", "segments_skipped", "blocks_total", "blocks_skipped")
    return {k: sum(r.get("prune", {}).get(k, 0) for r in reqs) for k in keys}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: small corpora for the smoke test")
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt one answer before checking (smoke test)")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import sonar_tantivy_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2

    bench = Bench(args)
    try:
        out = bench.run()
        check(bench, out)
        e2e, e2e_meta = end_to_end(bench, out)
        layers = trace_meta = None
        if args.trace:
            from perfbench.trace import LayerTable, read_jobs
            jobs = read_jobs(os.path.join(bench.work, "eventlog"))
            table = LayerTable(bench.tracer, jobs)
            spans_path = os.path.join(
                HERE, ".results", f"spans-{args.workload}-s{args.seed}-{os.getpid()}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            with open(spans_path, "w") as fh:
                json.dump({"spans": bench.tracer.spans, "jobs": jobs}, fh)
            roots = [s for s in bench.tracer.spans if s["name"] == "bench.request"
                     and s["req"].startswith("c")]
            layers = table.metrics(roots, prune_totals(bench.requests),
                                   bench.phases, bench.live)
            trace_meta = {**table.summary(), "spans_file": os.path.relpath(spans_path, ROOT)}
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "time": time.time(),
        "sizes": bench.cfg, "setup": {k: round(v, 3) for k, v in bench.setup.items()},
        "host": out["host"], "properties": properties(bench),
        "end_to_end": e2e, "end_to_end_meta": e2e_meta,
        "per_layer": layers, "trace_summary": trace_meta,
        "attempted": bench.ops.attempted, "failed": bench.ops.failed,
        "failures": bench.ops.failures,
    }
    os.makedirs(os.path.join(HERE, ".results"), exist_ok=True)
    with open(os.path.join(HERE, ".results", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps({"perfbench": record}))
    if args.trace:
        from perfbench.trace import UNITS as LAYER_UNITS
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": bench.ops.failed == 0,
                      "attempted": bench.ops.attempted,
                      "failed": bench.ops.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
