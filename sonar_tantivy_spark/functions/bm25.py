"""BM25 scoring math with tantivy-0.18 parity.

Constants and formulas bound by the reference wherever ``searcher.search``
scores hits (/root/reference/src-rust/index.rs:260; tantivy 0.18 defaults,
Cargo.toml:20):

    k1 = 1.2, b = 0.75
    idf(t)        = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm(d, t) = tf / (tf + k1 * (1 - b + b * dl(d) / avgdl))
    score(d, t)   = idf(t) * (k1 + 1) * tf_norm(d, t)

where ``dl`` is NOT the exact token count but the value decoded from the
1-byte fieldnorm code tantivy persists in the ``.fieldnorm`` segment file
(/root/reference/src-nodejs/catalog.js:7).  The code is exact for lengths
< 40 and geometric (3 mantissa bits ≈ ±10% relative error) beyond — an
engine scoring with exact lengths produces close-but-not-identical
scores, so both the Spark engine and the SQL oracles decode through the
same table (SURVEY.md §2.9).

Global statistics: ``N`` (docs in the searcher), ``df`` and ``avgdl``
aggregate over ALL segments of the index snapshot, never per segment.

ASSUMPTION (unverifiable in this sandbox): ``FIELDNORM_TABLE`` below is
our reconstruction of tantivy 0.18's fieldnorm code (exact below 40,
then a 3-bit-mantissa geometric code with mantissa 10..17 so the first
geometric entry continues exactly at 40 and the table stays monotone).
The reference does not vendor tantivy and this sandbox has no network
or crates access, so the table cannot be diffed against tantivy's
``src/fieldnorm/code.rs`` ``FIELD_NORMS_TABLE``.  The engine, the
pure-Python test oracle, and every DuckDB oracle SQL decode through
THIS table, so all correctness gates are internally consistent; if the
real tantivy table differs, BM25 scores for docs with >= 40 tokens
would deviate from a real tantivy build while every in-repo check still
passes.  Before claiming bit-parity against a live tantivy deployment,
regenerate golden fixtures from tantivy 0.18 and re-derive this table.
"""

from __future__ import annotations

import math
from functools import lru_cache

K1 = 1.2
B = 0.75


def _build_fieldnorm_table() -> list[int]:
    """tantivy fieldnorm decode table: id 0..255 → stored doc length.

    Exact for id < 40; beyond that a 3-bit-mantissa geometric code
    (8 steps per doubling, ~10% relative precision), monotone increasing.
    Entries are clamped to u32::MAX as the id approaches 255.
    """
    table = []
    for i in range(256):
        if i < 40:
            table.append(i)
        else:
            mantissa = 10 + (i - 40) % 8
            exponent = 2 + (i - 40) // 8
            table.append(min(mantissa << exponent, 0xFFFFFFFF))
    return table


FIELDNORM_TABLE: list[int] = _build_fieldnorm_table()


@lru_cache(maxsize=4096)
def fieldnorm_id(length: int) -> int:
    """Inverse mapping: token count → 1-byte code (largest id whose
    decoded value is <= length), mirroring tantivy's binary search."""
    if length >= FIELDNORM_TABLE[-1]:
        return 255
    lo, hi = 0, 255
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if FIELDNORM_TABLE[mid] <= length:
            lo = mid
        else:
            hi = mid - 1
    return lo


def decode_fieldnorm(norm_id: int) -> int:
    return FIELDNORM_TABLE[norm_id]


def idf(doc_freq: int, num_docs: int) -> float:
    return math.log(1.0 + (num_docs - doc_freq + 0.5) / (doc_freq + 0.5))


def score(tf: float, dl: float, avgdl: float, term_idf: float) -> float:
    """Per-term BM25 contribution for one document."""
    norm = K1 * (1.0 - B + B * dl / avgdl)
    return term_idf * (K1 + 1.0) * tf / (tf + norm)


def fieldnorm_id_col(len_col):
    """Closed-form Spark Column computing fieldnorm_id(len) — exact inverse
    of FIELDNORM_TABLE without a join: ids <40 are identity; beyond, the
    3-bit-mantissa geometric code has e = floor(log2(len/10)) and
    m = min(len >> e, 17).  (log2 is exact at the 10·2^e octave starts, so
    the floor never misses a boundary.)"""
    from pyspark.sql import functions as F

    ln = len_col.cast("double")
    e = F.floor(F.log2(ln / F.lit(10.0))).cast("int")
    m = F.least(F.floor(ln / F.pow(F.lit(2.0), e.cast("double"))).cast("int"), F.lit(17))
    geo = F.lit(40) + (e - F.lit(2)) * F.lit(8) + (m - F.lit(10))
    return (
        F.when(len_col < 40, len_col.cast("int"))
        .otherwise(F.least(geo, F.lit(255)))
        .cast("int")
    )

