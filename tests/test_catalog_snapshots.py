"""IndexCatalog keeps ONE latest-snapshot Searcher per index name (the
reference's reader per IndexHandle, reloaded on commit): handles on an
unchanged manifest share it, every commit replaces it, and a re-created
name never adopts the old one.  The shared Searcher serves concurrent
requests, so its memos are complete-or-absent and bounded, and
``last_prune`` is per thread."""

import sys
import threading

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators import search as S
from sonar_tantivy_spark.operators.merge import tiered_compact
from sonar_tantivy_spark.plans import ast as A

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
    {"name": "tag", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "raw"},
                 "stored": True}},
]
OTHER_SCHEMA = [
    {"name": "title", "type": "text",
     "options": {"indexing": {"record": "basic", "tokenizer": "default"},
                 "stored": True}},
]

BATCHES = [
    [{"body": "alpha beta gamma", "tag": "a"},
     {"body": "alpha delta", "tag": "b"},
     {"body": "beta gamma gamma", "tag": "a"}],
    [{"body": "alpha alpha beta", "tag": "b"},
     {"body": "gamma delta epsilon", "tag": "a"}],
    [{"body": "beta epsilon", "tag": "b"},
     {"body": "alpha gamma epsilon delta", "tag": "a"}],
]

QUERIES = [
    {"term": {"body": "alpha"}},
    {"bool": {"should": [{"term": {"body": "alpha"}},
                         {"term": {"body": "gamma"}},
                         {"term": {"body": "epsilon"}}]}},
    {"bool": {"must": [{"term": {"body": "beta"}}],
              "should": [{"term": {"body": "gamma"}}]}},
    {"phrase": {"body": ["alpha", "beta"]}},
]


@pytest.fixture()
def cat(spark, tmp_path):
    c = IndexCatalog(spark, str(tmp_path))
    idx = c.create_index("snap", SCHEMA)
    for docs in BATCHES:
        idx.add(docs)
    return c


def _hits(res: dict) -> list:
    return [(d["docid"], d["score"]) for d in res["docs"]]


def _serial(searcher: S.Searcher, q: dict, schema) -> list:
    """The answer for ``searcher``'s snapshot, from a fresh Searcher on
    the same manifest (no shared memo, one thread)."""
    s = S.Searcher(searcher.spark, searcher.schema, searcher.storage,
                   manifest=searcher.manifest)
    node = A.parse_json(q, schema)
    return [(int(r["docid_g"]), float(r["score"]))
            for r in s.top_k(node, limit=10).collect()]


def test_handles_on_unchanged_manifest_share_one_searcher(cat):
    a, b = cat.open("snap"), cat.open("snap")
    assert a is not b
    assert a.searcher() is b.searcher()
    assert cat.open_or_create("snap", SCHEMA).searcher() is a.searcher()


def test_ram_index_handles_share_one_searcher(spark, tmp_path):
    c = IndexCatalog(spark, str(tmp_path))
    first = c.create_index("ram", SCHEMA, ram=True)
    first.add(BATCHES[0])
    assert c.open("ram").searcher() is first.searcher()


def test_every_commit_replaces_the_shared_searcher(cat):
    a, b, writer = cat.open("snap"), cat.open("snap"), cat.open("snap")
    commits = [
        lambda: writer.add_df(
            writer.spark.createDataFrame(
                [("zeta alpha", "c", 0)], "body string, tag string, o long"),
            order_cols=["o"], num_segments=1),
        lambda: writer.delete_docs([0]),
        lambda: tiered_compact(writer, max_segments=2),
    ]
    for commit in commits:
        before = a.searcher()
        commit()
        after = a.searcher()
        assert after is not before
        assert b.searcher() is after  # the other handle adopts it
    # the held handle's results follow the new snapshot
    assert 0 not in {d for d, _ in _hits(
        a.query_json({"query": {"term": {"body": "alpha"}}}))}


def test_recreated_name_never_adopts_the_old_reader(spark, tmp_path):
    c = IndexCatalog(spark, str(tmp_path))
    c.create_index("x", SCHEMA)
    old = c.open("x").searcher()
    c.delete("x")
    fresh = c.create_index("x", OTHER_SCHEMA)
    s = fresh.searcher()
    # both snapshots are empty, so their manifest keys are equal
    assert s._cache_key == old._cache_key
    assert s is not old
    assert s.schema.field("title") is not None
    assert s.schema.field("body") is None
    # re-created behind this catalog's back: the schema check still holds
    other = IndexCatalog(spark, str(tmp_path))
    other.delete("x")
    other.create_index("x", SCHEMA)
    s2 = c.open("x").searcher()
    assert s2 is not s and s2.schema.field("body") is not None


def test_concurrent_readers_match_their_snapshot(cat):
    """Two readers on two handles while a third handle commits: every
    result equals the serial answer for the snapshot its handle read."""
    readers = [cat.open("snap"), cat.open("snap")]
    writer = cat.open("snap")
    schema = writer.schema
    done = threading.Event()
    seen: list[tuple] = []
    errors: list[BaseException] = []
    lock = threading.Lock()

    def read(h, offset: int) -> None:
        try:
            i = offset
            while not done.is_set() or i < offset + 2 * len(QUERIES):
                q = QUERIES[i % len(QUERIES)]
                res = h.query_json({"query": q, "limit": 10})
                with lock:
                    seen.append((h._searcher, q, _hits(res)))
                i += 1
        except Exception as e:  # noqa: BLE001 - asserted below
            errors.append(e)

    threads = [threading.Thread(target=read, args=(h, k))
               for k, h in enumerate(readers)]
    for t in threads:
        t.start()
    try:
        writer.add([{"body": "alpha gamma zeta", "tag": "c"}])
        writer.delete_docs([1])
        writer.add([{"body": "epsilon alpha beta", "tag": "c"}])
    finally:
        done.set()
        for t in threads:
            t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len({id(s) for s, _, _ in seen}) >= 2  # commits were seen
    for s, q, got in seen:
        assert got == _serial(s, q, schema), (q, s._cache_key)


def test_shared_memo_stress(cat):
    """More threads than cores fill one fresh Searcher's memos at once
    (with a short switch interval): every caller gets complete maps —
    never an entry published before it was filled."""
    idx = cat.open("snap")
    idx.delete_docs([2])
    pairs = {("body", t) for t in ("alpha", "beta", "gamma", "delta",
                                   "epsilon", "zeta")}
    ref = S.Searcher(idx.spark, idx.schema, idx.storage)
    want = (ref.term_dfs(pairs), ref.seg_max_tfs(pairs),
            ref.seg_block_mtfs(pairs))
    want_tomb = sorted(map(tuple, ref._tombstones().collect()))
    shared = S.Searcher(idx.spark, idx.schema, idx.storage)
    got: list = []
    errors: list[Exception] = []
    start = threading.Barrier(8)

    def work() -> None:
        try:
            start.wait(timeout=60)
            got.append((shared.seg_max_tfs(pairs),
                        shared.term_dfs(pairs),
                        shared.seg_block_mtfs(pairs),
                        sorted(map(tuple, shared._tombstones().collect()))))
        except Exception as e:  # noqa: BLE001 - asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 8
    for mtf, dfs, bmtf, tomb in got:
        assert (dfs, mtf, bmtf) == want
        assert tomb == want_tomb


def test_last_prune_is_per_thread(cat):
    s = cat.open("snap").searcher()
    node = A.parse_json(QUERIES[0], s.schema)
    s.top_k_pruned(node, limit=2).collect()
    mine = s.last_prune
    other: dict = {}

    def run() -> None:
        other["before"] = getattr(s, "last_prune", None)
        s.top_k_pruned(node, limit=2).collect()
        other["after"] = s.last_prune

    t = threading.Thread(target=run)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert other["before"] is None  # nothing leaks across threads
    assert other["after"] is not mine and other["after"] == mine
    assert s.last_prune is mine


def test_memo_cap_evicts_and_results_hold(cat, monkeypatch):
    idx = cat.open("snap")
    want = [_hits(idx.query_json({"query": q})) for q in QUERIES]
    monkeypatch.setattr(S, "_MEMO_CAP", 2)
    capped = IndexCatalog(idx.spark, cat.base_path).open("snap")
    s = capped.searcher()
    assert s._memo.cap == 2
    for _ in range(2):  # second pass re-computes evicted entries
        got = [_hits(capped.query_json({"query": q})) for q in QUERIES]
        assert len(s._memo) <= 2
        assert got == want
    assert capped.searcher() is s
