"""Index/field configuration.

Mirrors the semantics of the reference field config
(/root/reference/src/create/fields_config.rs:61-111 and
/root/reference/src/metadata.rs:60-105) without copying its structure:
per-field tokenization toggle, custom separator chars, and the
``do_not_store_text_longer_than`` dictionary cutoff (default 64 bytes,
/root/reference/src/metadata.rs:66-68).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

# Default separator set — 26 chars, /root/reference/src/tokenizer/mod.rs:21-32.
DEFAULT_SEPARATORS: str = " \t\n\r:(),.…;・’—-\\[]{}<>'\"“™"

# Texts longer than this many BYTES are not stored in the term dictionary;
# they are only reachable through their tokens
# (/root/reference/src/metadata.rs:66-68, /root/reference/src/create.rs:140-159).
DEFAULT_MAX_TEXT_STORE_BYTES = 64


@dataclass(frozen=True)
class FieldConfig:
    """Per-field indexing options."""

    name: str
    tokenize: bool = True
    separators: str = DEFAULT_SEPARATORS
    max_text_store_bytes: int = DEFAULT_MAX_TEXT_STORE_BYTES
    # feature toggles (reference: src/create/features.rs:41-80)
    phrase_pairs: bool = True     # build the adjacent-pair index (phrase boost)
    token_texts: bool = True      # build term→text relation (locality boost, why-found)
    boost_from_value: bool = False  # numeric field used via boost-by-field
    # identity column: values are UNIQUE per doc (e.g. url) — the reference's
    # identity shortcut (/root/reference/src/create/create_fulltext.rs:37,
    # used /root/reference/src/search/search_field.rs:471-479). No dictionary
    # or postings are built (they would be corpus-sized); queries resolve
    # against the doc store directly with the exact-text score constant
    # (num_occurences = 1 by uniqueness).
    identity: bool = False

    @property
    def is_nested(self) -> bool:
        """Path with a 1:n segment (``meanings.eng[]``, ``tags[]``): indexed
        per VALUE with (doc_id, pos) text identity — the reference's
        json_converter value ids (SURVEY.md B10/Q7/Q8)."""
        return "[]" in self.name or "." in self.name


@dataclass(frozen=True)
class IndexConfig:
    """Whole-index build options."""

    fields: tuple[FieldConfig, ...] = (FieldConfig("text"),)
    doc_id_col: Optional[str] = None   # pre-existing doc id column, else derived
    order_col: str = "url"             # column whose global sort order defines doc_id
    segment_docs: int = 1 << 20        # target docs per segment at scale
    posting_block_docs: int = 4096     # max docs per packed posting block
    # index-time score formula packed into the postings:
    #   "veloci" (default): the reference's formula — rank-identical parity
    #     (f32 arithmetic, u32 truncation, f16 read quantization).
    #   "bm25": Okapi BM25 (k1=1.2, b=0.75, Lucene idf) — computable fully
    #     at build time because the corpus is static (df, N, avgdl known),
    #     quantized ×100 to u32; block-max WAND works unchanged.
    scoring: str = "veloci"
    # NOTE: hot-term skew needs no config knob — the segment invariant
    # (doc_id // segment_docs partitions every posting list structurally)
    # bounds any single term's per-task row count by segment_docs.

    def field(self, name: str) -> FieldConfig:
        for f in self.fields:
            if f.name == name:
                return f
        raise KeyError(f"field not indexed: {name}")

    @property
    def field_names(self) -> tuple[str, ...]:
        return tuple(f.name for f in self.fields)


def webtext_config(**kw) -> IndexConfig:
    """Config for the Common-Crawl-style webtext table
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)."""
    fields = kw.pop(
        "fields",
        (
            FieldConfig("text"),
            # url/lang: untokenized identity/facet columns (FIXTURES.md)
            FieldConfig("url", tokenize=False, phrase_pairs=False, token_texts=False,
                        max_text_store_bytes=4096, identity=True),
            FieldConfig("lang", tokenize=False, phrase_pairs=False, token_texts=False),
        ),
    )
    return IndexConfig(fields=fields, **kw)
