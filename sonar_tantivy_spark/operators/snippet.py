"""Snippet generation — driver-side post-processing of ≤k hit rows.

Parity target: tantivy's SnippetGenerator as exercised by the reference
(/root/reference/src-rust/index.rs:262-271, 276-279): per-hit HTML
fragment of the chosen field with matched terms wrapped in ``<b>…</b>``,
fragments ≈150 chars; e2e expectation
``'hi first tell me <b>more</b>'`` (test/basic.js:45-49).

Matching is on the analyzed form: the stored text is re-tokenized with
the field's analyzer and a token highlights when its analyzed term is in
the query term set.  The fragment is the best window of ≤``max_chars``
chars maximizing the number of matched tokens (ties → earliest window),
covering whole tokens.
"""

from __future__ import annotations

from sonar_tantivy_spark.analyzer import _TOKEN_RE, analyze_token

DEFAULT_MAX_CHARS = 150


def _spans(text: str, query_terms: set[str],
           tokenizer: str) -> list[tuple[int, int, bool]]:
    """(start, end, matched) of every token the analyzer keeps: a token
    matches when its analyzed term is in ``query_terms``."""
    do_stem = tokenizer == "en_stem"
    spans: list[tuple[int, int, bool]] = []
    for m in _TOKEN_RE.finditer(text):
        term = analyze_token(m.group(0), do_stem)
        if term is not None:
            spans.append((m.start(), m.end(), term in query_terms))
    return spans


def generate_snippet(
    text: str | None,
    query_terms: set[str],
    tokenizer: str = "en_stem",
    max_chars: int = DEFAULT_MAX_CHARS,
) -> str | None:
    if not text or not query_terms:
        return None
    spans = _spans(text, query_terms, tokenizer)
    if not any(matched for _, _, matched in spans):
        return None
    # best window of whole tokens within max_chars, maximizing matches
    best = (0, 0, -1)  # (i, j, n_matched) token index range [i, j)
    for i in range(len(spans)):
        n = 0
        for j in range(i, len(spans)):
            if spans[j][1] - spans[i][0] > max_chars:
                break
            if spans[j][2]:
                n += 1
            if n > best[2]:
                best = (i, j + 1, n)
    i, j, _ = best
    frag_start, frag_end = spans[i][0], spans[j - 1][1]
    # extend fragment to natural bounds (whole field if it fits)
    if len(text) <= max_chars:
        frag_start, frag_end = 0, len(text)
    out = []
    cursor = frag_start
    for s, e, matched in spans[i:j]:
        out.append(_escape(text[cursor:s]))
        tok = _escape(text[s:e])
        out.append(f"<b>{tok}</b>" if matched else tok)
        cursor = e
    out.append(_escape(text[cursor:frag_end]))
    return "".join(out)


def generate_fragments(
    text: str | None,
    query_terms: set[str],
    tokenizer: str = "en_stem",
    max_chars: int = DEFAULT_MAX_CHARS,
    number_of_fragments: int = 1,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
) -> list[str]:
    """ES ``highlight`` fragments: up to N NON-OVERLAPPING windows of
    ≤max_chars whole tokens, each containing ≥1 matched token, chosen
    greedily by (matched-token count DESC, earliest start) — the ES
    highlighter's observable contract without its internal scoring.
    Same analyzed-form matching and minimal HTML escaping as
    generate_snippet (tags are caller-supplied, default ES <em>)."""
    if not text or not query_terms or number_of_fragments < 1:
        return []
    spans = _spans(text, query_terms, tokenizer)
    if not any(matched for _, _, matched in spans):
        return []
    # candidate windows: for each start token, widest fit under max_chars
    cands: list[tuple[int, int, int]] = []  # (n_matched, start_i, end_j)
    for i in range(len(spans)):
        n, j_end = 0, i
        for j in range(i, len(spans)):
            if spans[j][1] - spans[i][0] > max_chars:
                break
            if spans[j][2]:
                n += 1
            j_end = j + 1
        if n > 0:
            cands.append((n, i, j_end))
    cands.sort(key=lambda c: (-c[0], c[1]))
    chosen: list[tuple[int, int]] = []
    for _, i, j in cands:
        if len(chosen) >= number_of_fragments:
            break
        if any(i < cj and ci < j for ci, cj in chosen):
            continue  # token-range overlap with an already-chosen window
        chosen.append((i, j))
    out: list[str] = []
    for i, j in sorted(chosen):
        frag, cursor = [], spans[i][0]
        for s, e, matched in spans[i:j]:
            frag.append(_escape(text[cursor:s]))
            tok = _escape(text[s:e])
            frag.append(f"{pre_tag}{tok}{post_tag}" if matched else tok)
            cursor = e
        frag.append(_escape(text[cursor:spans[j - 1][1]]))
        out.append("".join(frag))
    return out


def _escape(s: str) -> str:
    """tantivy's Snippet::to_html runs every fragment through
    htmlescape::encode_minimal before wrapping highlights — the same
    minimal entity set here, so raw '<'/'&' in stored text can never
    masquerade as (or break) the <b> markup."""
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;").replace("'", "&#x27;"))


def collect_positive_terms(node) -> dict[str, set[str]]:
    """field → analyzed terms that should highlight (must/should clauses
    only; must_not terms never highlight)."""
    from sonar_tantivy_spark.plans import ast as A

    out: dict[str, set[str]] = {}

    def walk(n, positive=True):
        if isinstance(n, A.TermQ) and positive:
            out.setdefault(n.field, set()).add(n.term)
        elif isinstance(n, A.PhraseQ) and positive:
            out.setdefault(n.field, set()).update(n.terms)
        elif isinstance(n, A.TermSetQ) and positive:
            out.setdefault(n.field, set()).update(n.terms)
        elif isinstance(n, A.PhrasePrefixQ) and positive:
            # exact chain terms highlight; the prefix slot's expansions
            # go through expand_snippet_terms like PrefixQ
            out.setdefault(n.field, set()).update(n.terms)
        elif isinstance(n, A.SpanNearQ) and positive:
            out.setdefault(n.field, set()).update(
                t for c in n.clauses for t in c)
        elif isinstance(n, A.SpanFirstQ):
            walk(n.child, positive)
        elif isinstance(n, A.SpanNotQ) and positive:
            # include terms highlight; excluded terms never do
            out.setdefault(n.field, set()).update(n.include)
        elif isinstance(n, A.DisMaxQ):
            for c in n.queries:
                walk(c, positive)
        elif isinstance(n, A.BoolQ):
            for c in n.must + n.should:
                walk(c, positive)
            # must_not: skip
        elif isinstance(n, (A.BoostQ, A.ConstScoreQ, A.FunctionScoreQ)):
            walk(n.child, positive)
        elif isinstance(n, A.BoostingQ):
            walk(n.positive, positive)  # negative: demoted, not matched

    walk(node)
    return out
