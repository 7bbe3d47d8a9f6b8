"""Seeded request pools for the benchmark workloads.

Query terms are drawn from frequency bands of ``synth._vocab()``. The
vocabulary does not depend on the corpus seed, and the generator samples a
word's rank as ``floor(n * u**3)`` over the *sorted* vocabulary, so a
word's expected frequency falls with its sorted position. A band is
therefore a fixed range of sorted positions: every seed draws different
words, but each word plays the same role (stopword, selective term, ...)
for every seed.

A pool entry is ``{"name": ..., "request": {...}}`` or, for entries that
exercise the query-string generator, ``{"name": ..., "query": "...",
"extras": {...}}``; :func:`to_request` turns either into an engine
request.
"""

from __future__ import annotations

import random

from veloci_spark.query import STOPWORDS, query_to_request
from veloci_spark.synth import _vocab

# [start, end) positions in the sorted vocabulary
BANDS = {
    "top": (0, 12),        # each word in roughly 15-85 % of docs
    "high": (12, 300),     # roughly 1-12 % of docs
    "mid": (300, 1500),    # roughly 0.3-1.4 % of docs
    "low": (1500, 5000),   # roughly 0.1-0.3 % of docs
}

_CONSONANTS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
# most frequent initials first: words starting with "b" take the lowest
# sorted positions, so "b" alone expands to the heaviest terms
_PREFIX1_INITIALS = "cdfg"
_PREFIX2_INITIALS = "bcd"

WORKLOADS = ("search_selective", "search_broad")


def band_words(band: str) -> list[str]:
    """Vocabulary words of a band, minus the stopwords the query-string
    generator would strip."""
    lo, hi = BANDS[band]
    return [w for w in _vocab()[lo:hi] if w not in STOPWORDS]


def band_of(word: str) -> str:
    pos = _vocab().index(word)
    for name, (lo, hi) in BANDS.items():
        if lo <= pos < hi:
            return name
    raise ValueError(f"{word!r} is in no band")


def _leaf(term: str, **opts) -> dict:
    return {"search": {"terms": [term], "path": "text", **opts}}


def _draw(rng: random.Random, band: str, k: int, min_len: int = 1) -> list[str]:
    return rng.sample([w for w in band_words(band) if len(w) >= min_len], k)


def selective_pool(seed: int) -> list[dict]:
    """Mid/low-band terms: tiny posting input, so latency is fixed cost."""
    rng = random.Random(f"selective:{seed}")
    m = _draw(rng, "mid", 8)
    lo = _draw(rng, "low", 1)
    h = _draw(rng, "high", 4)
    t = _draw(rng, "top", 1)
    en = {"search": {"terms": ["en"], "path": "lang"}}
    return [
        {"name": "exact", "request": {**_leaf(m[0]), "top": 10}},
        {"name": "filtered_or",
         "request": {"or": [_leaf(m[1]), _leaf(lo[0])], "filter": en, "top": 10}},
        {"name": "and", "request": {"and": [_leaf(h[0]), _leaf(m[2])], "top": 10}},
        {"name": "boosts",
         "request": {"or": [_leaf(m[3]), _leaf(h[1])], "top": 10,
                     "phrase_boosts": [
                         {"path": "text",
                          "search1": {"terms": [m[3]], "path": "text"},
                          "search2": {"terms": [t[0]], "path": "text"}}],
                     "boost_term": [{"terms": [h[2]], "path": "text",
                                     "boost": 5.0}],
                     "text_locality": True}},
        {"name": "paging_facet",
         "request": {**_leaf(h[3]), "top": 5, "skip": 5,
                     "facets": [{"field": "lang", "top": 5}]}},
        {"name": "query_post", "query": f"{m[4]} {m[5]}",
         "extras": {"select": ["url", "lang"], "snippets": {"field": "text"},
                    "why_found": True, "explain_hits": True}},
    ]


def broad_pool(seed: int) -> list[dict]:
    """Top-band stopwords, short prefixes, infix regex and fuzzy terms:
    dictionary expansion, per-term planning and posting decode dominate."""
    rng = random.Random(f"broad:{seed}")
    t = _draw(rng, "top", 4)
    tf = _draw(rng, "top", 1, min_len=4)
    hf = _draw(rng, "high", 1, min_len=6)
    p1 = rng.choice(_PREFIX1_INITIALS)
    # the query-string generator strips stopwords such as "do"
    p2, p2q = rng.sample([c + v for c in _PREFIX2_INITIALS for v in _VOWELS
                          if c + v not in STOPWORDS], 2)
    syl = rng.choice(_CONSONANTS) + rng.choice(_VOWELS)
    return [
        {"name": "stop_top100", "request": {**_leaf(t[0]), "top": 100}},
        {"name": "stop_or_facet",
         "request": {"or": [_leaf(t[1]), _leaf(t[2])], "top": 10,
                     "facets": [{"field": "lang", "top": 5}]}},
        {"name": "stop_and_select",
         "request": {"and": [_leaf(t[0]), _leaf(t[3])], "top": 10,
                     "select": ["url"]}},
        {"name": "prefix", "request": {**_leaf(p1, starts_with=True), "top": 10}},
        {"name": "prefix2", "request": {**_leaf(p2, starts_with=True), "top": 10}},
        {"name": "regex", "request": {**_leaf(f".*{syl}.*", is_regex=True), "top": 10}},
        {"name": "query_fuzzy_prefix", "query": f"{tf[0]}~1 {hf[0]}~2 {p2q}*"},
    ]


POOLS = {"search_selective": selective_pool, "search_broad": broad_pool}


def pool(workload: str, seed: int) -> list[dict]:
    return POOLS[workload](seed)


def to_request(entry: dict) -> dict:
    """The engine request of a pool entry; query strings go through the
    query-string generator, then take the entry's extra request keys."""
    if "request" in entry:
        return entry["request"]
    return {**query_to_request(entry["query"], search_fields=["text"]),
            **entry.get("extras", {})}


def check_request(seed: int) -> dict:
    """Exact-term request on a mid-band word, whose live hit count is checked
    across tombstoning and compaction."""
    rng = random.Random(f"check:{seed}")
    return {**_leaf(_draw(rng, "mid", 1)[0]), "top": 10}
