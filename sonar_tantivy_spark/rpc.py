"""NDJSON-stdio RPC wire — the reference's process boundary, §2.7.

The reference is spoken to from Node.js over newline-delimited JSON on
stdin/stdout (/root/reference/src-rust/rpc.rs: Request {id, method,
msg} → Response {id, msg, err}; method registry main.rs:34-43).  The
Spark engine's primary surface is the in-process Python API, but this
module reproduces the wire so a reference client can drive the engine
unchanged: same ten methods, same request/response field names, same
quirks.

Faithful wire quirks (pinned in tests/test_rpc.py):

* ``index_exists`` / ``delete_index`` take a BARE STRING as ``msg``
  (handles.rs:50,64), not an object.
* ``add_documents`` documents arrive as ordered (field, value) PAIR
  LISTS (``Vec<Vec<(String, Value)>>``, handles.rs:73-78) — the Node
  client flattens objects, arrays become repeated fields.  Repeated
  fields are rejected here (the Spark docs table stores one value per
  column; the reference's multi-valued documents are out of scope).
* ``query_json`` responds with Res::Json(String) — a JSON-ENCODED
  STRING inside ``msg`` (handles.rs:22-23 "HACK"), not an object.
* response ``id`` is the NEGATED request id (rpc.rs:60-74,
  ``Response::ok/error`` both use ``request.id * -1``).
* the server opens the conversation by SENDING a ``hello`` request
  (id 0) that uncorks the Node client (rpc.rs:124-125, rpc.js:138).
* unknown method → err "Method not found." (rpc.rs:164-166); errors →
  ``{id, msg: null, err: "<message>"}``; unknown fields in documents
  warn-skip (index.rs:176-179) via Index.add's coercion.
"""

from __future__ import annotations

import json
import sys
from datetime import date
from typing import Any, Callable

from sonar_tantivy_spark.catalog import IndexCatalog


def _json_default(o: Any) -> str:
    """``json.dumps`` hook: ``date`` / ``datetime`` values (stored date
    fields come back from Spark as datetimes) encode as ISO strings."""
    if isinstance(o, date):
        return o.isoformat()
    raise TypeError(
        f"Object of type {type(o).__name__} is not JSON serializable")


class Rpc:
    def __init__(self, catalog: IndexCatalog):
        self.catalog = catalog
        self._methods: dict[str, Callable[[Any], Any]] = {
            "create_index": self._create_index,
            "create_ram_index": self._create_ram_index,
            "index_exists": self._index_exists,
            "add_documents": self._add_documents,
            "query": self._query,
            "query_json": self._query_json,
            "query_multi": self._query_multi,
            "add_segment": self._add_segment,
            "add_segments": self._add_segments,
            "delete_index": self._delete_index,
        }

    # ------------------------------------------------------------ framing
    def handle_line(self, line: str) -> str:
        """One NDJSON request → one NDJSON response (the unit
        stdio_loop applies per line)."""
        rid = 0
        try:
            req = json.loads(line)
            rid = int(req.get("id", 0))
            method = req.get("method", "")
            fn = self._methods.get(method)
            if fn is None:
                raise KeyError("Method not found.")
            msg = fn(req.get("msg"))
            out = {"id": -rid, "msg": msg, "err": None}
        except Exception as e:  # any handler error → err response
            out = {"id": -rid, "msg": None,
                   "err": str(e).strip("'\"")}
        return json.dumps(out, separators=(",", ":"), default=_json_default)

    def stdio_loop(self) -> None:
        # handshake: the SERVER sends a hello request first (rpc.rs:124)
        sys.stdout.write(json.dumps(
            {"id": 0, "method": "hello", "msg": None},
            separators=(",", ":")) + "\n")
        sys.stdout.flush()
        for line in sys.stdin:
            line = line.strip()
            if not line:
                continue
            sys.stdout.write(self.handle_line(line) + "\n")
            sys.stdout.flush()

    # ----------------------------------------------------------- handlers
    def _create_index(self, msg: dict) -> dict:
        self.catalog.create_index(msg["name"], msg["schema"])
        return {}

    def _create_ram_index(self, msg: dict) -> dict:
        self.catalog.create_index(msg["name"], msg["schema"], ram=True)
        return {}

    def _index_exists(self, msg: str) -> bool:
        return self.catalog.has(str(msg))

    def _delete_index(self, msg: str) -> dict:
        self.catalog.delete(str(msg))
        return {}

    @staticmethod
    def _pairs_to_doc(pairs: list) -> dict:
        doc: dict = {}
        for field, value in pairs:
            if field in doc:
                raise ValueError(
                    f"repeated field {field!r}: multi-valued documents "
                    "are not supported by the Spark docs table")
            doc[field] = value
        return doc

    def _add_documents(self, msg: dict) -> dict:
        idx = self.catalog.open(msg["index"])
        docs = [self._pairs_to_doc(p) for p in msg["documents"]]
        idx.add(docs)
        return {}

    def _query(self, msg: dict) -> list:
        idx = self.catalog.open(msg["index"])
        return idx.query(msg["query"],
                         limit=int(msg.get("limit") or 10),
                         snippet_field=msg.get("snippet_field"))

    def _query_json(self, msg: dict) -> str:
        idx = self.catalog.open(msg["index"])
        res = idx.query_json(msg["search"])
        # Res::Json(String): the reference returns the result as a
        # JSON-encoded STRING in msg, not an object (handles.rs:22-23)
        return json.dumps(res, default=_json_default)

    def _query_multi(self, msg: dict) -> list:
        res = self.catalog.multi_query(msg["query"], msg["indexes"])
        # Vec<(String, Vec<Doc>)> → tuples serialize as 2-arrays
        return [[name, hits] for name, hits in res.items()]

    def _add_segment(self, msg: dict) -> dict:
        # Spark adaptation: the reference's client byte-copies the six
        # segment files into the target index dir before registering
        # (test/segments.js:27-40); here segment parquet paths are
        # absolute in the manifest, so registration is a pure metadata
        # commit FROM a named source index — the wire gains a required
        # ``source`` field in place of the copy step.
        idx = self.catalog.open(msg["index"])
        src = self.catalog.open(msg["source"])
        idx.add_segments(
            [{"segment_id": msg["segment_id"],
              "max_doc": int(msg["max_doc"])}], src)
        return {}

    def _add_segments(self, msg: dict) -> dict:
        idx = self.catalog.open(msg["index"])
        src = self.catalog.open(msg["source"])
        idx.add_segments(msg["segments"], src)
        return {}
