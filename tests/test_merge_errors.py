"""A merge runs its docs / doclens rewrites beside the postings and
termdict writes; a failure in any of them must surface, also when the
main-thread write fails too (its raise must not drop a sibling's)."""

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.operators import merge as M

SCHEMA = [
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
]


@pytest.fixture()
def idx(spark, tmp_path):
    ix = IndexCatalog(spark, str(tmp_path)).create_index("m", SCHEMA)
    ix.add([{"body": "alpha beta"}, {"body": "beta gamma"}])
    ix.add([{"body": "gamma delta"}])
    ix.add([{"body": "delta alpha"}])
    return ix


def _failing(storage, monkeypatch, tables: set[str]) -> None:
    real = storage.write_table

    def write_table(df, epoch, table, *args, **kw):
        if table in tables:
            raise OSError(f"disk full writing {table}")
        return real(df, epoch, table, *args, **kw)

    monkeypatch.setattr(storage, "write_table", write_table)


@pytest.mark.parametrize("merge", [
    lambda ix: M.compact(ix),
    lambda ix: M.compact_to(ix, target_segments=1),
], ids=["compact", "compact_to"])
@pytest.mark.parametrize("tables", [{"docs"}, {"docs", "postings"}],
                         ids=["docs", "docs+postings"])
def test_every_write_error_surfaces(idx, monkeypatch, merge, tables):
    before = idx.storage.manifest()
    _failing(idx.storage, monkeypatch, tables)
    with pytest.raises(OSError) as ei:
        merge(idx)
    report = str(ei.value) + " ".join(getattr(ei.value, "__notes__", []))
    for t in tables:
        assert f"disk full writing {t}" in report
    assert idx.storage.manifest() == before  # nothing committed
