"""One analyze kernel, four callers: ``tokenize``, the build's per-doc
postings UDF, the percolator's term-map UDF and the snippet spans must
agree term for term and position for position, on tokens around the
40-byte RemoveLongFilter cap (ASCII and 2/3/4-byte UTF-8 letters), on
``_``-joined words, digits and stemmable words."""

import re

import pytest

from sonar_tantivy_spark.analyzer import analyze_token, tokenize
from sonar_tantivy_spark.functions.porter2 import stem
from sonar_tantivy_spark.operators.build import make_perdoc_postings_udf
from sonar_tantivy_spark.operators.snippet import _spans

# (token, UTF-8 bytes): 39 is kept, 40 and 41 are dropped
CAP_TOKENS = [
    ("a" * 38 + "S", 39), ("a" * 39 + "S", 40), ("a" * 40 + "S", 41),
    ("é" * 19 + "s", 39), ("é" * 20, 40), ("é" * 20 + "s", 41),
    ("字" * 13, 39), ("字" * 13 + "a", 40), ("字" * 13 + "ab", 41),
    ("𝒜" * 9 + "abc", 39), ("𝒜" * 10, 40), ("𝒜" * 10 + "a", 41),
]
WORDS = ["𝒜" * 9, "snake_case_words", "__init__", "x86_64", "2024", "abc123",
         "3.14", "Running", "connections", "generously", "Happiness", "flies",
         "İstanbul", "STRASSE", "Straße", "ÉCOLE"]
TEXTS = [
    " ".join(t for t, _ in CAP_TOKENS),
    " ".join(WORDS),
    "Running flies " + CAP_TOKENS[1][0] + " running-flies, "
    + CAP_TOKENS[4][0] + " FLIES run",
]
TOKENIZERS = ["en_stem", "default"]


def _chain(tok: str, do_stem: bool) -> str | None:
    """The analyze chain spelled out: byte cap, lowercase, stem."""
    if len(tok.encode("utf-8")) >= 40:
        return None
    return stem(tok.lower()) if do_stem else tok.lower()


def _grouped(text: str, tokenizer: str) -> dict[str, list[int]]:
    out: dict[str, list[int]] = {}
    for term, pos in tokenize(text, tokenizer):
        out.setdefault(term, []).append(pos)
    return out


def test_cap_tokens_have_the_stated_byte_lengths():
    for tok, n in CAP_TOKENS:
        assert len(tok.encode("utf-8")) == n
        assert re.fullmatch(r"[^\W_]+", tok)


@pytest.mark.parametrize("do_stem", [True, False])
def test_kernel_matches_the_chain(do_stem):
    for tok in [t for t, _ in CAP_TOKENS] + re.findall(r"[^\W_]+",
                                                       " ".join(WORDS)):
        assert analyze_token(tok, do_stem) == _chain(tok, do_stem), tok
    for tok, n in CAP_TOKENS:
        assert (analyze_token(tok, do_stem) is None) == (n >= 40), tok


@pytest.mark.parametrize("tokenizer", TOKENIZERS)
def test_tokenize_matches_the_chain(tokenizer):
    for text in TEXTS:
        want = [(a, pos) for pos, tok in enumerate(re.findall(r"[^\W_]+", text))
                if (a := _chain(tok, tokenizer == "en_stem")) is not None]
        assert tokenize(text, tokenizer) == want


@pytest.mark.parametrize("tokenizer", TOKENIZERS)
def test_snippet_spans_match_tokenize(tokenizer):
    for text in TEXTS:
        starts = [m.start() for m in re.finditer(r"[^\W_]+", text)]
        for term, positions in _grouped(text, tokenizer).items():
            spans = _spans(text, {term}, tokenizer)
            assert len(spans) == len(tokenize(text, tokenizer))
            assert [starts.index(s) for s, _, hit in spans if hit] == positions


@pytest.mark.parametrize("tokenizer", TOKENIZERS)
def test_build_and_percolate_udfs_match_tokenize(spark, tokenizer):
    from sonar_tantivy_spark.operators.percolate import _tmap_udf

    rows = list(enumerate(TEXTS + [None, ""]))
    df = spark.createDataFrame(rows, "id int, text string")
    out = df.select(
        "id",
        make_perdoc_postings_udf(tokenizer)("text").alias("p"),
        _tmap_udf(tokenizer)("text").alias("m"),
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        text = rows[r["id"]][1]
        want = _grouped(text, tokenizer) if text else {}
        p = r["p"]
        assert p["dl"] == sum(len(v) for v in want.values())
        assert dict(zip(p["terms"], p["poss"])) == want
        assert p["tfs"] == [len(want[t]) for t in p["terms"]]
        assert dict(r["m"]) == want
