"""Index schema — the reference's JSON schema format, re-hosted on Spark.

The reference creates an index from a raw JSON list of field declarations
(/root/reference/src-rust/handles.rs:42-48; example shape README.md:27-51
and test/lib/fixtures.js:15-48):

    [{"name": "body", "type": "text",
      "options": {"indexing": {"record": "position", "tokenizer": "en_stem"},
                  "stored": true}},
     {"name": "id", "type": "text", "options": {"indexing": null, "stored": true}},
     {"name": "ts", "type": "date", "options": {"fast": true, "stored": true}}]

Schemas are fixed at creation; documents with unknown fields are
warn-skipped, not errored (index.rs:176-179).
"""

from __future__ import annotations

import json
import warnings
from dataclasses import dataclass, field as dc_field

from pyspark.sql import types as T

TEXT_TYPES = {"text"}
NUMERIC_TYPES = {"u64", "i64", "f64"}
DATE_TYPES = {"date"}
# dense_vector: BEYOND-REFERENCE (the ES 8 field type backing knn
# search) — a stored float array, never tokenized, never fast/indexed;
# optional "dims" option validates ingest + query vectors
ALL_TYPES = TEXT_TYPES | NUMERIC_TYPES | DATE_TYPES | {
    "facet", "bytes", "dense_vector"}

_SPARK_TYPES = {
    "text": T.StringType(),
    "u64": T.LongType(),
    "i64": T.LongType(),
    "f64": T.DoubleType(),
    "date": T.TimestampType(),
    "facet": T.StringType(),
    "bytes": T.BinaryType(),
    "dense_vector": T.ArrayType(T.FloatType()),
}


@dataclass
class FieldDef:
    name: str
    type: str
    stored: bool = True
    indexed: bool = False
    tokenizer: str | None = None  # en_stem | default | raw (text fields)
    record: str = "position"  # basic | freq | position
    fast: bool = False
    dims: int | None = None  # dense_vector dimension check (optional)

    @property
    def spark_type(self) -> T.DataType:
        return _SPARK_TYPES[self.type]

    @property
    def has_positions(self) -> bool:
        return self.indexed and self.record == "position"


@dataclass
class IndexSchema:
    fields: list[FieldDef] = dc_field(default_factory=list)

    @classmethod
    def from_json(cls, schema_json: str | list[dict]) -> "IndexSchema":
        raw = json.loads(schema_json) if isinstance(schema_json, str) else schema_json
        fields = []
        for f in raw:
            name, ftype = f["name"], f["type"]
            if ftype not in ALL_TYPES:
                raise ValueError(f"unknown field type {ftype!r} for {name!r}")
            opts = f.get("options", {}) or {}
            fd = FieldDef(name=name, type=ftype, stored=bool(opts.get("stored", False)))
            if ftype in TEXT_TYPES or ftype == "facet":
                indexing = opts.get("indexing")
                if indexing:
                    fd.indexed = True
                    fd.tokenizer = indexing.get("tokenizer", "default")
                    fd.record = indexing.get("record", "basic")
            elif ftype == "dense_vector":
                fd.stored = True  # stored-only by construction
                d = opts.get("dims")
                fd.dims = int(d) if d is not None else None
            else:
                fd.indexed = bool(opts.get("indexed", False))
                fd.fast = bool(opts.get("fast", False))
            fields.append(fd)
        return cls(fields)

    def to_json(self) -> str:
        out = []
        for f in self.fields:
            if f.type in TEXT_TYPES or f.type == "facet":
                indexing = (
                    {"record": f.record, "tokenizer": f.tokenizer} if f.indexed else None
                )
                opts: dict = {"indexing": indexing, "stored": f.stored}
            elif f.type == "dense_vector":
                opts = {"stored": True, "dims": f.dims}
            else:
                opts = {"indexed": f.indexed, "stored": f.stored, "fast": f.fast}
            out.append({"name": f.name, "type": f.type, "options": opts})
        return json.dumps(out)

    def field(self, name: str) -> FieldDef | None:
        for f in self.fields:
            if f.name == name:
                return f
        return None

    @property
    def indexed_fields(self) -> list[FieldDef]:
        return [f for f in self.fields if f.indexed]

    @property
    def fast_fields(self) -> list[FieldDef]:
        return [f for f in self.fields if f.fast or f.type in DATE_TYPES | NUMERIC_TYPES]

    def default_search_fields(self) -> list[str]:
        """Default fields for the string grammar.

        The reference's ``ensure_query_parser`` stops at the first
        non-indexed field (index.rs:230-239) so defaults = the *prefix* of
        indexed fields.  We reproduce that exactly so string queries agree
        with the reference on its own fixtures (non-indexed fields last).
        """
        out: list[str] = []
        for f in self.fields:
            if not f.indexed:
                break
            out.append(f.name)
        return out

    def tokenizer_for(self, field_name: str) -> str:
        f = self.field(field_name)
        if f is None or not f.indexed:
            return "raw"
        if f.type == "facet":
            return "raw"  # a facet path is always one exact term
        return f.tokenizer or "default"

    def warn_unknown(self, doc_fields: list[str]) -> None:
        known = {f.name for f in self.fields}
        for k in doc_fields:
            if k not in known:
                warnings.warn(f"ignoring unknown field {k!r}", stacklevel=3)
