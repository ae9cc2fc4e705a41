"""Term dictionary lookups (``Searcher._term_rows``): term_dfs,
seg_max_tfs and seg_block_mtfs fold one memoized per-segment row list
per (field, term).  On an on-disk index the rows are read with pyarrow
straight from the termdict files — no Spark job — and must equal what
a pushdown-filtered Spark collect of the termdict returns; a RAM index
keeps one Spark collect.  Prefix snippet expansion reads the same files
as a term range."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators.search import Searcher
from sonar_tantivy_spark.plans import ast as A
from tests.test_point_read import _jobs

SCHEMA = [
    {"name": name, "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "raw"
                              if name == "tag" else "en_stem"},
                 "stored": True}}
    for name in ("body", "tag")
]
BLOCK = 2
# three batches; the first epoch's termdict loses its block_mtf column
# (the pre-block-granular shape) and its files get 2-row row groups
BATCHES = [
    [{"body": "alpha beta gamma", "tag": "x1"},
     {"body": "alpha delta pa", "tag": "x2"},
     {"body": "beta gamma gamma pb", "tag": "x1"},
     {"body": "alpha alpha pc pd", "tag": "y"}],
    [{"body": "gamma delta pe", "tag": "x1"},
     {"body": "alpha beta beta beta", "tag": "y"},
     {"body": "zeta pa pf", "tag": "x3"}],
    [{"body": "alpha gamma pg", "tag": "x2"},
     {"body": "omega pa", "tag": "x4"},
     {"body": "gamma gamma gamma ph", "tag": "y"}],
]
PAIRS = ({("body", t) for t in (
    "alpha", "beta", "gamma", "delta", "zeta", "omega", "pa", "ph",
    "absent")} | {("tag", t) for t in ("x1", "y", "x4", "alpha")}
    | {("nofield", "alpha")})


def _strip_block_mtf(part_dir):
    for path in glob.glob(os.path.join(part_dir, "*.parquet")):
        tbl = pq.read_table(path)
        pq.write_table(tbl.drop_columns(["block_mtf"]), path,
                       row_group_size=2)
        crc = os.path.join(part_dir, f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):  # Hadoop would reject the new bytes
            os.remove(crc)


def _build(cat, ram):
    idx = cat.create_index("ram" if ram else "fs", SCHEMA, ram=ram)
    for i, batch in enumerate(BATCHES):
        idx.add(batch)
        if i == 0 and not ram:
            for seg in idx.storage.manifest()["segments"]:
                _strip_block_mtf(seg["tables"]["termdict"])
    # tombstones leave the dictionary as written (dfs are compaction-stale)
    assert idx.delete_docs([0, 5]) == 2
    return idx


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    old = os.environ.get("STSPARK_BLOCK_DOCS")
    os.environ["STSPARK_BLOCK_DOCS"] = str(BLOCK)
    try:
        cat = IndexCatalog(spark, str(tmp_path_factory.mktemp("termdict")))
        return {"fs": _build(cat, False), "ram": _build(cat, True)}
    finally:
        if old is None:
            os.environ.pop("STSPARK_BLOCK_DOCS", None)
        else:
            os.environ["STSPARK_BLOCK_DOCS"] = old


def spark_lookup(s: Searcher, pairs) -> tuple:
    """(term_dfs, seg_max_tfs, seg_block_mtfs) from one Spark collect of
    the termdict — the reference the lookups must equal."""
    td = s._table("termdict")
    has_blocks = "block_mtf" in td.columns
    dfs = {p: 0 for p in pairs}
    mtfs: dict = {p: {} for p in pairs}
    blocks: dict = {p: {} for p in pairs}
    for r in td.filter(F.col("field").isin(sorted({f for f, _ in pairs}))
                       & F.col("term").isin(sorted({t for _, t in pairs}))
                       ).collect():
        p = (r["field"], r["term"])
        if p not in dfs:
            continue
        dfs[p] += int(r["df"])
        mtfs[p][r["segment_id"]] = int(r["max_tf"])
        if has_blocks and r["block_mtf"] is not None:
            blocks[p][r["segment_id"]] = {
                int(b): int(m) for b, m in r["block_mtf"].items()}
    return dfs, mtfs, blocks


def lookup(s: Searcher, pairs) -> tuple:
    return s.term_dfs(pairs), s.seg_max_tfs(pairs), s.seg_block_mtfs(pairs)


def _by_position(s: Searcher, answers: tuple) -> tuple:
    """``answers`` with segment ids replaced by manifest positions, so
    two indexes built from the same batches compare equal."""
    pos = {seg["segment_id"]: i for i, seg in enumerate(s.segments)}
    dfs, mtfs, blocks = answers
    return dfs, *({p: {pos[sid]: v for sid, v in m.items()}
                   for p, m in maps.items()} for maps in (mtfs, blocks))


@pytest.mark.parametrize("kind", ["fs", "ram"])
def test_lookup_matches_spark_collect(indexes, kind):
    idx = indexes[kind]
    s = idx.searcher()
    assert s.tombstone_meta
    got = lookup(s, PAIRS)
    assert got == spark_lookup(s, PAIRS)
    dfs, mtfs, blocks = got
    assert dfs[("body", "gamma")] == 5 and dfs[("body", "absent")] == 0
    assert dfs[("nofield", "alpha")] == 0 and mtfs[("tag", "alpha")] == {}
    assert mtfs[("body", "gamma")][s.segments[2]["segment_id"]] == 3
    first = s.segments[0]["segment_id"]
    # the stripped epoch has no block maps; the others span 2 blocks
    assert (first in blocks[("body", "alpha")]) == (kind == "ram")
    assert blocks[("body", "gamma")][s.segments[2]["segment_id"]] == {
        0: 1, 1: 3}
    # one memo kind holds the dictionary rows
    kinds = {k for k, _ in s._memo._d}
    assert "td" in kinds and not kinds & {"df", "mtf"}


def test_fs_and_ram_agree(indexes):
    fs, ram = indexes["fs"].searcher(), indexes["ram"].searcher()
    fdfs, fmtf, fblocks = _by_position(fs, lookup(fs, PAIRS))
    rdfs, rmtf, rblocks = _by_position(ram, lookup(ram, PAIRS))
    assert (fdfs, fmtf) == (rdfs, rmtf)
    # block maps agree wherever the on-disk epoch kept them
    assert fblocks == {p: {i: b for i, b in m.items() if i != 0}
                       for p, m in rblocks.items()}


def test_ghost_and_restricted_searchers(spark, indexes):
    idx = indexes["fs"]
    base = idx.searcher()
    ghost = {"segment_id": "ghost", "max_doc": 2, "tables": {},
             "field_stats": {}}
    s = Searcher(spark, idx.schema, idx.storage,
                 dict(base.manifest,
                      segments=base.manifest["segments"] + [ghost]))
    want = spark_lookup(base, PAIRS)
    assert lookup(s, PAIRS) == want
    assert all(r[0] != "ghost" for rows in s._term_rows(PAIRS).values()
               for r in rows)
    # a restricted searcher answers with whole-snapshot rows
    sub = base._restricted({base.segments[1]["segment_id"]})
    assert lookup(sub, PAIRS) == want


def test_prefix_range_read(indexes):
    got = {}
    for kind, idx in indexes.items():
        s = idx.searcher()
        got[kind] = [sorted(s.storage.termdict_prefix(
            s.spark, s.segments, "body", prefix, cap, s._memoized))
            for prefix, cap in (("p", 64), ("p", 3), ("gam", 64),
                                ("", 2), ("q", 64))]
    want = [["pa", "pb", "pc", "pd", "pe", "pf", "pg", "ph"],
            ["pa", "pb", "pc"], ["gamma"], ["alpha", "beta"], []]
    assert got["fs"] == got["ram"] == want


def test_fs_fresh_term_request_runs_only_the_top_k(spark, indexes,
                                                   monkeypatch):
    idx = indexes["fs"]
    # the snapshot before the deletes: no tombstone anti-join jobs
    base = idx.searcher()
    s = Searcher(spark, idx.schema, idx.storage,
                 dict(base.manifest, tombstones=[]))
    s.retrieve(s.top_k_pruned(A.TermQ("body", "alpha")))  # plans postings
    with _jobs(spark) as jobs:
        hits = s.retrieve(s.top_k_pruned(A.TermQ("body", "omega")))
    assert [h["doc"]["body"] for h in hits] == [["omega pa"]]
    assert len(jobs) == 1
    # no request below plans a Spark read of the dictionary: fresh
    # terms, and a prefix query's snippet expansion
    planned = []
    table = Searcher._table

    def spy(self, name):
        planned.append(name)
        return table(self, name)

    monkeypatch.setattr(Searcher, "_table", spy)
    assert [h["doc"]["body"] for h in idx.query("zeta")] == [["zeta pa pf"]]
    hits = idx.query("ze*", snippet_field="body")
    assert [h["snippet"] for h in hits] == ["<b>zeta</b> pa pf"]
    assert planned and "termdict" not in planned
    node = A.parse_string("p* OR body:de*", idx.schema)
    with _jobs(spark) as jobs:
        assert base.expand_snippet_terms(node, "body") == {
            "delta", "pa", "pb", "pc", "pd", "pe", "pf", "pg", "ph"}
    assert jobs == []
