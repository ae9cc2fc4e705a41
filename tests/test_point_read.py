"""Stored-field point read (``Searcher.fetch_stored``): retrieve, mget,
the more-like-this seed read and termvectors take the top-k's stored
fields straight from the segment files — no Spark job on an on-disk
index — and return exactly what the Spark filter-and-collect returned.
RAM indexes keep the Spark read (their tables live only in the JVM)."""

import contextlib
import os
import time
import uuid
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators.search import Searcher
from sonar_tantivy_spark.plans import ast as A
from sonar_tantivy_spark.plans.schema import _SPARK_TYPES
from sonar_tantivy_spark.sources.tableio import FsStorage

# one stored field per schema type, with a null and edge values (a
# pre-1900 date, empty bytes, float32 vector elements).  A type added to
# the schema fails the parity test until it gets values here.
VALUES = {
    "text": ["alpha one", None, "ünïcode ✓", ""],
    "u64": [0, None, 2 ** 63 - 1, 7],
    "i64": [-5, None, 2 ** 62, 0],
    "f64": [1.5, None, -0.0, 1e300],
    "date": [datetime(1850, 3, 4, 5, 6, 7), None,
             datetime(2024, 1, 2, 3, 4, 5, 123456), datetime(1970, 1, 1)],
    "facet": ["/a/b", None, "/c", "/a"],
    "bytes": [b"\x00\xff", None, b"", bytes(range(16))],
    "dense_vector": [[0.1, 0.2], None, [1.0, -2.5], [3.25, 1e-3]],
}
TYPES = sorted(_SPARK_TYPES)
# the column the second batch lacks (mixed-epoch docs files)
MISSING = "f_i64"
TZS = ["UTC", "America/New_York", "Asia/Kolkata"]


def _options(ftype: str) -> dict:
    if ftype in ("text", "facet"):
        return {"indexing": None, "stored": True}
    if ftype == "dense_vector":
        return {"stored": True, "dims": 2}
    return {"stored": True}


SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
] + [{"name": f"f_{t}", "type": t, "options": _options(t)} for t in TYPES]


def _docs(tag: str) -> list[dict]:
    return [dict({"body": f"doc {tag} row{i}"},
                 **{f"f_{t}": VALUES[t][i] for t in TYPES})
            for i in range(len(VALUES["text"]))]


def _on_disk(idx) -> bool:
    return isinstance(idx.storage, FsStorage)


def spark_retrieve(s: Searcher, hits) -> list[dict]:
    """The Spark filter-and-collect stored-field fetch that
    ``Searcher.retrieve`` ran before the point read — the reference."""
    rows = hits.collect()
    if not rows:
        return []
    docs = s._table("docs")
    by_seg: dict[str, list[int]] = {}
    for r in rows:
        by_seg.setdefault(r["segment_id"], []).append(r["docid"])
    cond = None
    for sid, ids in by_seg.items():
        c = (F.col("segment_id") == sid) & F.col("docid").isin(ids)
        cond = c if cond is None else (cond | c)
    stored = {f.name for f in s.schema.fields if f.stored}
    fetched = {
        (d["segment_id"], d["docid"]): d.asDict()
        for d in docs.filter(cond).collect()
    }
    out = []
    for r in rows:
        drow = fetched.get((r["segment_id"], r["docid"]), {})
        doc = {
            k: [v] if not isinstance(v, list) else v
            for k, v in drow.items()
            if k in stored and v is not None
        }
        out.append(
            {"score": float(r["score"]), "doc": doc,
             "docid": int(r["docid_g"]), "snippet": None}
        )
    return out


def _typed(v):
    """``v`` with every leaf tagged by its type, so ``bytes`` never
    passes for ``bytearray`` nor ``int`` for ``float``."""
    if isinstance(v, list):
        return [_typed(x) for x in v]
    if isinstance(v, dict):
        return {k: _typed(x) for k, x in v.items()}
    return (type(v).__name__, v)


@contextlib.contextmanager
def _tz(name: str):
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


@contextlib.contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs the block starts."""
    sc = spark.sparkContext
    gid = f"point-read-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "point read")
    got: list[int] = []
    try:
        yield got
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        got.extend(sc.statusTracker().getJobIdsForGroup(gid))


def _local_hits(spark, s: Searcher, node=A.TermQ("body", "doc")):
    """The top-k rows of ``node``, collected once and handed back as an
    inline VALUES relation: collecting it again starts no job."""
    rows = s.top_k(node, limit=100).collect()
    values = ", ".join(
        f"('{r['segment_id']}', {int(r['docid'])}L, "
        f"CAST({float(r['score'])!r} AS DOUBLE), {int(r['docid_g'])}L)"
        for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} "
                     "AS t(segment_id, docid, score, docid_g)")


@pytest.fixture(scope="module", params=["fs", "ram"])
def typed_index(request, spark, tmp_path_factory):
    cat = IndexCatalog(spark, str(tmp_path_factory.mktemp("pointread")))
    idx = cat.create_index("typed", SCHEMA, ram=request.param == "ram")
    idx.add(_docs("a"))
    if request.param == "fs":
        # an epoch whose input lacks one stored column
        part = spark.createDataFrame(
            [dict(d, __ord=i) for i, d in enumerate(_docs("b"))],
            T.StructType(
                [T.StructField(f.name, f.spark_type, True)
                 for f in idx.schema.fields if f.name != MISSING]
                + [T.StructField("__ord", T.LongType(), False)]))
        part = part.drop(MISSING)
        idx.add_df(part, order_cols=["__ord"], num_segments=1)
    idx.add(_docs("c"))
    return idx


@pytest.fixture(scope="module")
def fetched(spark, typed_index):
    """tz → (point-read retrieve, Spark reference) over every doc."""
    s = typed_index.searcher()
    out = {}
    for tz in TZS:
        with _tz(tz):
            hits = _local_hits(spark, s)
            out[tz] = (s.retrieve(hits), spark_retrieve(s, hits))
    return out


@pytest.mark.parametrize("tz", TZS)
@pytest.mark.parametrize("ftype", TYPES)
def test_retrieve_matches_spark_fetch(fetched, typed_index, ftype, tz):
    got, want = fetched[tz]
    assert len(got) == len(VALUES["text"]) * (
        3 if _on_disk(typed_index) else 2)
    field = f"f_{ftype}"
    assert [_typed(h["doc"].get(field)) for h in got] == [
        _typed(h["doc"].get(field)) for h in want]
    # three non-null values per batch, in at least two batches
    assert sum(field in h["doc"] for h in got) >= 2 * 3
    assert _typed(got) == _typed(want)


def test_dates_follow_the_local_zone(fetched):
    """Both paths convert UTC microseconds in Python's local zone (the
    PySpark rule), so a zone change moves the returned wall time."""
    def first_date(tz):
        return next(h["doc"]["f_date"][0] for h in fetched[tz][0]
                    if "f_date" in h["doc"])

    assert first_date("UTC") != first_date("Asia/Kolkata")


def test_missing_column_is_absent(spark, typed_index):
    s = typed_index.searcher()
    got = {h["doc"]["body"][0]: h["doc"] for h in s.retrieve(
        _local_hits(spark, s))}
    # the column-less batch is built on disk only
    assert ("doc b row0" in got) == _on_disk(typed_index)
    if "doc b row0" in got:
        assert MISSING not in got["doc b row0"]
    assert got["doc a row0"][MISSING] == [VALUES["i64"][0]]
    assert got["doc c row0"][MISSING] == [VALUES["i64"][0]]


def test_fetch_stored_keeps_file_column_order(typed_index):
    s = typed_index.searcher()
    seg = s.segments[0]["segment_id"]
    fields = [f["name"] for f in reversed(SCHEMA)]
    row = s.fetch_stored([(seg, 0)], fields)[(seg, 0)]
    assert list(row) == [f["name"] for f in SCHEMA]


@pytest.fixture()
def small(spark, tmp_path):
    cat = IndexCatalog(spark, str(tmp_path))
    idx = cat.create_index("small", SCHEMA[:1])
    idx.add([{"body": "alpha beta gamma"}, {"body": "alpha delta"},
             {"body": "beta gamma gamma"}])
    idx.add([{"body": "alpha alpha beta"}, {"body": "gamma delta"}])
    return idx


def test_fs_point_reads_start_no_job(spark, small, tmp_path):
    s = small.searcher()
    hits = _local_hits(spark, s, A.TermQ("body", "alpha"))
    # warm the per-snapshot df memo the seed-term ranking reads
    small._mlt_terms(0, "body", 5, 1)
    small.termvectors(3, "body")
    with _jobs(spark) as jobs:
        got = s.retrieve(hits)
        found = small.mget([0, 4, 99])
        terms = small._mlt_terms(0, "body", 5, 1)
        vectors = small.termvectors(3, "body")
    assert jobs == []
    assert [h["doc"]["body"] for h in got] == [
        h["doc"]["body"] for h in spark_retrieve(s, hits)]
    assert [m["found"] for m in found] == [True, True, False]
    assert found[1]["doc"] == {"body": ["gamma delta"]}
    assert set(terms) == {"alpha", "beta", "gamma"}
    assert {v["term"]: v["tf"] for v in vectors} == {"alpha": 2, "beta": 1}

    # the counter itself: a RAM index still reads through Spark
    ram = IndexCatalog(spark, str(tmp_path / "ram")).create_index(
        "ram", SCHEMA[:1], ram=True)
    ram.add([{"body": "alpha"}])
    with _jobs(spark) as jobs:
        assert ram.mget([0])[0]["doc"] == {"body": ["alpha"]}
    assert jobs


def test_mget_reports_deleted_doc_missing(small):
    assert small.delete_docs([1]) == 1
    found = small.mget([0, 1, 2, 1])
    assert [m["found"] for m in found] == [True, False, True, False]
    assert found[1]["doc"] == {}


def test_seed_reads_keep_out_of_range_error(small):
    for bad in (-1, 5, 10 ** 9):
        with pytest.raises(KeyError):
            small.termvectors(bad, "body")
        with pytest.raises(KeyError):
            small.more_like_this(bad, "body")


def test_ghost_segment_reads_nothing(spark, small):
    base = small.searcher()
    ghost = {"segment_id": "ghost", "max_doc": 2, "tables": {},
             "field_stats": {}}
    manifest = dict(base.manifest,
                    segments=base.manifest["segments"] + [ghost])
    s = Searcher(spark, small.schema, small.storage, manifest)
    assert s.fetch_stored([("ghost", 0)], ["body"]) == {}
    real = (base.segments[0]["segment_id"], 0)
    assert s.fetch_stored([("ghost", 1), real], ["body"]) == {
        real: {"body": "alpha beta gamma"}}


def test_hidden_files_in_segment_dir_are_ignored(spark, small):
    s0 = small.searcher()
    seg = s0.segments[0]
    part = seg["tables"]["docs"]
    junk = pa.table({"body": ["WRONG"], "docid": pa.array([0], pa.int64())})
    os.makedirs(os.path.join(part, "_temporary"))
    for rel in ("_junk.parquet", ".junk.parquet",
                "_temporary/part-0.parquet"):
        pq.write_table(junk, os.path.join(part, rel))
    s = Searcher(spark, small.schema, small.storage, s0.manifest)
    key = (seg["segment_id"], 0)
    assert s.fetch_stored([key], ["body"]) == {
        key: {"body": "alpha beta gamma"}}
    hits = _local_hits(spark, s, A.TermQ("body", "beta"))
    assert s.retrieve(hits) == spark_retrieve(s, hits)
