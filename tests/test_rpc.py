"""NDJSON RPC wire parity (§2.7): the ten reference methods
(/root/reference/src-rust/main.rs:34-43) over Request {id, method, msg}
→ Response {id, msg, err} framing (rpc.rs), driven through
Rpc.handle_line — the exact unit stdio_loop applies per input line.

Mirrors the reference e2e tests: test/basic.js (create → add → query →
query_json → snippet) and test/segments.js (cross-index segment
registration makes the union searchable)."""

import json

import pytest

from sonar_tantivy_spark import IndexCatalog
from sonar_tantivy_spark.rpc import Rpc

SCHEMA = [
    {"name": "title", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
    {"name": "body", "type": "text",
     "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                 "stored": True}},
    {"name": "id", "type": "text",
     "options": {"indexing": None, "stored": True}},
]


@pytest.fixture()
def rpc(spark, tmp_path):
    return Rpc(IndexCatalog(spark, str(tmp_path)))


def call(rpc, method, msg, rid=1):
    res = json.loads(rpc.handle_line(json.dumps(
        {"id": rid, "method": method, "msg": msg})))
    return res


def test_wire_lifecycle_and_query(rpc):
    r = call(rpc, "create_index", {"name": "docs", "schema": SCHEMA})
    # response id is the NEGATED request id (rpc.rs Response::ok)
    assert r == {"id": -1, "msg": {}, "err": None}
    # index_exists takes a BARE STRING msg (handles.rs:64)
    assert call(rpc, "index_exists", "docs")["msg"] is True
    assert call(rpc, "index_exists", "nope")["msg"] is False
    # documents arrive as ordered (field, value) pair lists
    docs = [
        [["title", "Hello world"], ["body", "hi first tell me more"],
         ["id", "doc1"]],
        [["title", "Goodbye moon"], ["body", "say more about the moon"],
         ["id", "doc2"]],
    ]
    r = call(rpc, "add_documents", {"index": "docs", "documents": docs})
    assert r["err"] is None
    hits = call(rpc, "query", {"index": "docs", "query": "hello"})["msg"]
    assert len(hits) == 1
    # result shape {score, doc: {field: [values]}, snippet}
    assert hits[0]["doc"]["id"][0] == "doc1"
    assert hits[0]["score"] > 0
    assert "snippet" in hits[0]
    # snippet_field wraps matches in <b> (test/basic.js:45-49)
    hits = call(rpc, "query", {"index": "docs", "query": "more",
                               "snippet_field": "body"})["msg"]
    assert any("<b>more</b>" in (h["snippet"] or "") for h in hits)
    # query_json responds with a JSON-ENCODED STRING (Res::Json HACK)
    r = call(rpc, "query_json", {
        "index": "docs",
        "search": {"query": {"term": {"title": "hello"}}, "limit": 5}})
    assert isinstance(r["msg"], str)
    decoded = json.loads(r["msg"])
    assert decoded["docs"][0]["doc"]["id"][0] == "doc1"


def test_wire_errors(rpc):
    r = call(rpc, "no_such_method", {}, rid=7)
    assert r["msg"] is None and r["err"] == "Method not found."
    assert r["id"] == -7
    r = call(rpc, "query", {"index": "ghost", "query": "x"})
    assert r["err"] is not None
    # repeated fields are rejected (Spark docs table is single-valued)
    call(rpc, "create_index", {"name": "d2", "schema": SCHEMA})
    r = call(rpc, "add_documents", {"index": "d2", "documents": [
        [["title", "a"], ["title", "b"]]]})
    assert "repeated field" in r["err"]
    # malformed line still produces a framed response
    out = json.loads(rpc.handle_line("{not json"))
    assert out["err"] is not None and out["id"] == 0


def test_wire_segment_registration(rpc):
    """test/segments.js analog: build in index1, register into index2,
    the union becomes searchable."""
    call(rpc, "create_index", {"name": "idx1", "schema": SCHEMA})
    call(rpc, "create_index", {"name": "idx2", "schema": SCHEMA})
    docs1 = [[["title", "alpha one"], ["body", "first segment doc"],
              ["id", "a1"]]]
    docs2 = [[["title", "alpha two"], ["body", "second segment doc"],
              ["id", "a2"]]]
    call(rpc, "add_documents", {"index": "idx1", "documents": docs1})
    call(rpc, "add_documents", {"index": "idx2", "documents": docs2})
    segs = json.loads(call(rpc, "query_json", {
        "index": "idx1",
        "search": {"query": {"all": {}}, "limit": 100}})["msg"])
    assert len(segs["docs"]) == 1
    # register idx1's segment into idx2 (source = Spark adaptation of
    # the reference's byte-copy step)
    manifest = rpc.catalog.open("idx1").segment_info()
    r = call(rpc, "add_segments", {
        "index": "idx2", "source": "idx1",
        "segments": [{"segment_id": s["segment_id"],
                      "max_doc": s["max_doc"]} for s in manifest]})
    assert r["err"] is None
    hits = call(rpc, "query", {"index": "idx2", "query": "alpha"})["msg"]
    assert len(hits) == 2  # union searchable (segments.js:39-40)
    # duplicate registration rejected (index.rs:314-316)
    r = call(rpc, "add_segments", {
        "index": "idx2", "source": "idx1",
        "segments": [{"segment_id": manifest[0]["segment_id"],
                      "max_doc": manifest[0]["max_doc"]}]})
    assert r["err"] is not None


def test_wire_date_fields_encode_as_iso(rpc):
    """Stored date fields come back from Spark as datetimes; both the
    response frame and query_json's JSON-encoded string carry them as
    ISO strings."""
    from sonar_tantivy_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    call(rpc, "create_index", {"name": "tx", "schema": TRANSCRIPT_SCHEMA})
    docs = [
        [["text", "deploy the build"], ["role", "user"],
         ["ts", "2026-01-02T03:04:05"], ["conv_id", "c1"], ["turn_idx", 0]],
        [["text", "build is green"], ["role", "assistant"],
         ["ts", "2026-01-02T03:05:00"], ["conv_id", "c1"], ["turn_idx", 1]],
    ]
    assert call(rpc, "add_documents",
                {"index": "tx", "documents": docs})["err"] is None
    r = call(rpc, "query", {"index": "tx", "query": "deploy"})
    assert r["err"] is None
    assert r["msg"][0]["doc"]["ts"] == ["2026-01-02T03:04:05"]
    r = call(rpc, "query_json", {"index": "tx", "search": {
        "query": {"term": {"text": "build"}}, "limit": 5}})
    assert r["err"] is None
    docs = json.loads(r["msg"])["docs"]
    assert sorted(d["doc"]["ts"][0] for d in docs) == [
        "2026-01-02T03:04:05", "2026-01-02T03:05:00"]
