"""What a merge writes: compact_to and compact both run the one rewrite
routine, and a merged index holds the same rows as the same corpus
built as one segment.  Also the manifest commits a merge makes, and
compact's argument checks."""

from collections import Counter

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators import merge as M
from sonar_tantivy_spark.sources import tableio
from sonar_tantivy_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)

N = 400
BLOCK = 32  # ~13 blocks per field: block_mtf maps span many blocks
TERMDICT_COLS = ("field", "term", "df", "max_tf", "total_tf", "block_mtf")


@pytest.fixture(scope="module")
def corpus():
    return generate_transcripts(N)


def _value(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _value(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_value(x) for x in v)
    return v


def _rows(idx, table: str, cols=None) -> Counter:
    """The table's rows as a multiset, segment_id left out."""
    df = idx.storage.load_table(idx.spark, table,
                                idx.storage.manifest()["segments"])
    cols = sorted(c for c in (cols or df.columns) if c != "segment_id")
    return Counter(tuple(_value(r[c]) for c in cols)
                   for r in df.select(*cols).collect())


@pytest.mark.parametrize("ram", [False, True], ids=["fs", "ram"])
def test_merged_rows_equal_a_one_segment_build(
        spark, tmp_path, corpus, monkeypatch, ram):
    monkeypatch.setenv("STSPARK_BLOCK_DOCS", str(BLOCK))
    cat = IndexCatalog(spark, str(tmp_path))

    def build(name, num_segments):
        idx = cat.create_index(name, TRANSCRIPT_SCHEMA, ram=ram)
        idx.add_df(spark.createDataFrame(corpus),
                   order_cols=["conv_id", "turn_idx"],
                   num_segments=num_segments)
        assert len(idx.segment_info()) == num_segments
        return idx

    one = build("one", 1)
    to_one, merged = build("to_one", 4), build("merged", 4)
    M.compact_to(to_one, 1)
    M.compact(merged)
    want = {t: _rows(one, t) for t in ("postings", "doclens", "docs")}
    want["termdict"] = _rows(one, "termdict", TERMDICT_COLS)
    assert sum(want["docs"].values()) == N
    for idx in (to_one, merged):
        assert len(idx.segment_info()) == 1
        for t in ("postings", "doclens", "docs"):
            assert _rows(idx, t) == want[t], t
        assert _rows(idx, "termdict", TERMDICT_COLS) == want["termdict"]


def test_compact_of_no_segments_is_rejected(spark, tmp_path, corpus):
    cat = IndexCatalog(spark, str(tmp_path))
    idx = cat.create_index("empty_run", TRANSCRIPT_SCHEMA)
    idx.add_df(spark.createDataFrame(corpus[:40]),
               order_cols=["conv_id", "turn_idx"], num_segments=2)
    before = idx.storage.manifest()
    with pytest.raises(ValueError, match="nothing to compact"):
        M.compact(idx, [])
    assert idx.storage.manifest() == before


def test_delete_pressure_merge_commits_the_manifest_once(
        spark, tmp_path, corpus, monkeypatch):
    cat = IndexCatalog(spark, str(tmp_path))
    idx = cat.create_index("pressure", TRANSCRIPT_SCHEMA)
    idx.add_df(spark.createDataFrame(corpus[:200]),
               order_cols=["conv_id", "turn_idx"], num_segments=2)
    first = idx.segment_info()[0]
    # a third of the head segment's docs: pressure on that one segment
    idx.delete_docs(list(range(first["max_doc"] // 3)))
    assert idx.storage.manifest()["tombstones"]

    # count the atomic manifest.json replacements themselves
    commits = []
    real = tableio.FsStorage._write_json

    def counted(self, rel, obj):
        if rel == "manifest.json":
            commits.append(obj)
        real(self, rel, obj)

    monkeypatch.setattr(tableio.FsStorage, "_write_json", counted)
    meta = M.tiered_compact(idx, max_segments=4)
    assert meta is not None
    assert len(commits) == 1
    m = idx.storage.manifest()
    # the rewritten segment held every tombstone: the one commit also
    # cleared the ledger
    assert m["tombstones"] == []
    assert [s["segment_id"] for s in m["segments"]][0] == \
        meta["segment_id"]
