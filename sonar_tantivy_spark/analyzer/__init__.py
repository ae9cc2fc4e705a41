"""Analyzer chains with tantivy-0.18 parity.

The reference binds tokenizers per field in the index schema
(/root/reference/test/lib/fixtures.js:17-47, README.md:27-51):

- ``en_stem``  = SimpleTokenizer → RemoveLongFilter(40) → LowerCaser
                 → Stemmer(English)   ⟨tantivy 0.18 en_stem chain⟩
- ``default``  = SimpleTokenizer → RemoveLongFilter(40) → LowerCaser
- ``raw``      = whole value is one token, untouched (keyword fields)

SimpleTokenizer splits on any non-alphanumeric character (Unicode
``char::is_alphanumeric`` — this excludes underscore, so the regex is
``[^\\W_]+`` rather than ``\\w+``).  RemoveLongFilter drops tokens whose
UTF-8 byte length is >= 40.  Token *positions* are assigned by the
tokenizer before filtering, so a dropped long token leaves a position
gap — this matters for phrase queries.

One kernel, ``analyze_token``, holds the per-token chain (byte cap →
lowercase → optional stem).  ``tokenize`` (query-term analysis on the
driver and the pure-Python test oracle), the build's and the
percolator's Arrow-batched UDFs and the snippet highlighter all call
it — no per-row Python UDFs in the Spark hot path (BASELINE.json:15).
"""

from __future__ import annotations

import re

from sonar_tantivy_spark.functions.porter2 import stem

# Unicode alphanumeric runs, excluding underscore (Rust char::is_alphanumeric).
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

MAX_TOKEN_BYTES = 40

TOKENIZERS = ("en_stem", "default", "raw")


def analyze_token(tok: str, do_stem: bool) -> str | None:
    """One raw tokenizer token → its analyzed term, or None when
    RemoveLongFilter drops it (UTF-8 length >= 40 bytes).

    Tokens under 10 chars skip the encode: 9 code points are at most 36
    UTF-8 bytes.  The Arrow UDFs (build, percolate) front this with a
    token → term dict; that dict lives in the UDF closure, which Spark
    unpickles once per task, so it holds one task's distinct tokens and
    needs no cap.
    """
    if len(tok) >= 10 and len(tok.encode("utf-8")) >= MAX_TOKEN_BYTES:
        return None
    low = tok.lower()
    return stem(low) if do_stem else low


def tokenize(text: str, tokenizer: str = "en_stem") -> list[tuple[str, int]]:
    """Analyze one string → list of (term, position).

    Positions are indices in the pre-filter token stream (gaps where the
    RemoveLongFilter dropped a token), matching tantivy semantics.
    """
    if text is None:
        return []
    if tokenizer == "raw":
        return [(text, 0)] if text != "" else []
    out: list[tuple[str, int]] = []
    do_stem = tokenizer == "en_stem"
    for pos, tok in enumerate(_TOKEN_RE.findall(text)):
        term = analyze_token(tok, do_stem)
        if term is not None:
            out.append((term, pos))
    return out


def analyze_terms(text: str, tokenizer: str = "en_stem") -> list[str]:
    """Terms only (used to analyze query strings)."""
    return [t for t, _ in tokenize(text, tokenizer)]
