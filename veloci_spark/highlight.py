"""Snippet/highlight generation (Q20) and why-found (Q21).

The reference highlights by walking a doc's token ids and grouping hits
within ``5*2`` tokens, wrapping hits in ``<b>…</b>`` and joining snippet
groups with `` ... `` (/root/reference/src/highlight_field.rs:234-316,
defaults /root/reference/src/search/request/snippet_info.rs:15-39). Our
storage keeps the source text, so we re-tokenize the string and apply the
same algorithm — a vectorized pandas UDF over the selected docs (only the
top-k docs are ever highlighted, so this is driver-adjacent small work).
"""

from __future__ import annotations

import numpy as np

from veloci_spark.config import DEFAULT_SEPARATORS
from veloci_spark.tokenizer import tokenize

SNIPPET_WINDOW = 5          # num_words_around_snippet
SNIPPET_CONNECTOR = " ... "
HIGHLIGHT_PRE = "<b>"
HIGHLIGHT_POST = "</b>"


def highlight_text(text: str, terms, separators: str = DEFAULT_SEPARATORS,
                   window: int = SNIPPET_WINDOW,
                   max_snippets: int | None = None,
                   pre: str = HIGHLIGHT_PRE, post: str = HIGHLIGHT_POST,
                   connector: str = SNIPPET_CONNECTOR) -> str | None:
    """Highlight occurrences of ``terms`` (case-insensitive token match) in
    ``text``; returns the snippet string or None when nothing matches.
    ``window``/``pre``/``post``/``connector``/``max_snippets`` mirror the
    reference's SnippetInfo (snippet_info.rs:15-39)."""
    if not text:
        return None
    term_set = {t.lower() for t in terms}
    runs = tokenize(text, separators)
    # separator runs are ordinary tokens in the reference's stream — a
    # query for "§" highlights it (test_why_found.rs:98-107)
    hits = [i for i, (tok, _is_sep) in enumerate(runs)
            if tok.lower() in term_set]
    if not hits:
        return None
    # the reference token stream alternates token/separator, so
    # num_words_around_snippet words ≈ window*2 runs
    # (highlight_field.rs:285 "token seperator token seperator")
    around = window * 2
    # group hits: a new snippet group starts when the gap to the previous
    # hit reaches `around` runs (highlight_field.rs:17-35)
    groups: list[list[int]] = []
    prev = -around
    for h in hits:
        if h - prev >= around:
            groups.append([])
        prev = h
        groups[-1].append(h)
    if max_snippets is not None:
        groups = groups[:max_snippets]
    parts = []
    hit_set = set(hits)
    for g in groups:
        # window extent: first-around .. last+around+1 (:37-41)
        start = max(0, g[0] - around)
        end = min(len(runs), g[-1] + around + 1)
        buf = []
        for i in range(start, end):
            tok = runs[i][0]
            if i in hit_set:
                buf.append(pre + tok + post)
            else:
                buf.append(tok)
        parts.append("".join(buf))
    out = connector.join(parts)
    # ellipsis at the edges, connector verbatim (:68-83)
    if hits[0] > around:
        out = connector + out
    if hits[-1] < len(runs) - around:
        out = out + connector
    return out


def why_found_terms(index, doc_ids: list[int], leaves) -> dict[int, dict[str, list[str]]]:
    """For each doc in ``doc_ids``: which matched dictionary terms hit which
    field (/root/reference/src/search/why_found.rs:11-49). Only the segments
    containing the requested docs are read
    (:meth:`FulltextIndex.read_postings`)."""
    import pandas as pd

    from veloci_spark.vbyte import unpack_ids

    if not doc_ids:
        return {}
    segment_docs = index.manifest["segment_docs"]
    segs = sorted({d // segment_docs for d in doc_ids})
    want = np.array(sorted(doc_ids), dtype=np.int64)

    # (field, term_id) → term string, per leaf (identity leaves have no
    # postings — matched is None — and are not reported here)
    tid_term: dict[tuple[str, int], str] = {}
    for leaf in leaves:
        if leaf.matched is None:
            continue
        tid_term.update(zip(
            ((leaf.field, t) for t in leaf.matched["term_id"].tolist()),
            leaf.matched["term"].tolist()))
    if not tid_term:
        return {}
    rows = index.read_postings(
        pd.DataFrame(list(tid_term), columns=["field", "term_id"]), segs)
    out: dict[int, dict[str, list[str]]] = {int(d): {} for d in doc_ids}
    for field, tid, seg, docs_bin in zip(
            rows["field"], rows["term_id"].tolist(), rows["segment"].tolist(),
            rows["docs_bin"]):
        # past the In cap a Spark read is a (min,max) term_id range —
        # superset rows resolve to no matched term and are skipped here
        term = tid_term.get((field, tid))
        if term is None:
            continue
        docs = unpack_ids(docs_bin) + seg * segment_docs  # segment-relative
        for d in docs[np.isin(docs, want)].tolist():
            out[d].setdefault(field, []).append(term)
    for d in out:
        for f in out[d]:
            out[d][f] = sorted(set(out[d][f]))
    return out


def why_found(index, doc_ids: list[int], leaves) -> dict[int, dict[str, list[str]]]:
    """Reference-shaped why-found: for each hit doc and each matched field,
    the SOURCE TEXTS with matched terms wrapped in ``<b>…</b>``, in text
    (pos) order (/root/reference/src/search/why_found.rs:51-84 resolves the
    hit token/text ids back to highlighted field texts; e.g.
    tests/all/test_why_found.rs:66-79 expects
    ``{"url": ["https://github.com/PSeitz/<b>veloci</b>"]}``).

    A matched term equal to the WHOLE text (an untokenized value, a
    storable full-text hit, or a regex that matched the complete entry)
    wraps the entire text; token matches highlight in place with the
    field's own separators. Texts that contain no match are omitted; long
    texts window to snippets exactly like :func:`highlight_text`."""
    terms_by_doc = why_found_terms(index, doc_ids, leaves)
    if not terms_by_doc:
        return {}
    fields = sorted({f for per in terms_by_doc.values() for f in per})
    ids = [int(d) for d in doc_ids]

    texts: dict[str, dict[int, list[str]]] = {}
    flat = [f for f in fields if f not in index.values]
    if flat:
        for r in index.read_docs(ids, ["doc_id", *flat]):
            for f in flat:
                if r[f] is not None:
                    texts.setdefault(f, {})[r["doc_id"]] = [str(r[f])]
    for f in fields:
        if f not in index.values:
            continue
        vrows = sorted(
            index.read_docs(ids, ["doc_id", "pos", "value"], path=f),
            key=lambda r: (r["doc_id"], r["pos"]))
        for r in vrows:
            if r["value"] is not None:
                texts.setdefault(f, {}).setdefault(r["doc_id"], []) \
                    .append(str(r["value"]))

    out: dict[int, dict[str, list[str]]] = {}
    for d, per_field in terms_by_doc.items():
        for f, terms in per_field.items():
            seps = index.fields.get(f, {}).get("separators",
                                               DEFAULT_SEPARATORS)
            lowered = {t.lower() for t in terms}
            highlighted = []
            for text in texts.get(f, {}).get(d, []):
                if text.lower() in lowered:
                    highlighted.append(HIGHLIGHT_PRE + text + HIGHLIGHT_POST)
                    continue
                h = highlight_text(text, terms, seps)
                if h is not None:
                    highlighted.append(h)
            if highlighted:
                out.setdefault(d, {})[f] = highlighted
    return out
