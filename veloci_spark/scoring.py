"""Rank-identical scoring kernels (vectorized numpy, float32).

Index-time formula — /root/reference/src/create/calculate_score.rs:34-49:

    base      = 400.0                          if exact full-text entry
              = 2000.0 / (log2(pos + 10) + 10) for a token (pos = best/first
                                               position of the token in the
                                               text, counting separator runs)
    occ_mod   = log10(num_occurences + 1000) - 2
    occ_mod  -= (occ_mod - 1) * 0.7
    len_mod   = log10(num_tokens_in_text + 10)
    len_mod  -= (len_mod - 1) * 0.7
    score     = trunc_u32(base / occ_mod / len_mod)      # f32 math, u32 cast

The exact-text entry is emitted with (pos=0, occ=text_occurrences,
num_tokens=1, is_exact) — /root/reference/src/create.rs:217-221. Duplicate
(term, doc) entries are *summed* (/root/reference/src/create.rs:388-413).

Query-time — /root/reference/src/search/search_field.rs:27-33 and :426:

    term_score = 2.0 / (distance + 0.2)               # exact ⇒ 10.0
               = 2.0 / (log2(distance + 1) + 0.2)     # prefix match
    final      = term_score * (f16(stored_u32) / 100) # float32

f16 quantization of the stored score is exact for integers ≤ 2048 which
covers every reachable single-entry score (max 400); we still round-trip
through float16 so summed entries are faithful.

All kernels also have float64 variants (`*_f64`) used only for the DuckDB
oracle comparison (DuckDB computes in double); the engine itself uses the
float32 path for reference parity.
"""

from __future__ import annotations

import re

import numpy as np

_F32 = np.float32


def index_score_u32(best_pos, num_occurences, num_tokens_in_text, is_exact) -> np.ndarray:
    """Vectorized index-time score; returns uint32 (truncated toward zero)."""
    pos = np.asarray(best_pos, dtype=_F32)
    occ = np.asarray(num_occurences, dtype=_F32)
    ntok = np.asarray(num_tokens_in_text, dtype=np.int64)
    exact = np.asarray(is_exact, dtype=bool)

    tok_base = _F32(2000.0) / (np.log2(pos + _F32(10.0)) + _F32(10.0))
    base = np.where(exact, _F32(400.0), tok_base).astype(_F32)

    occ_mod = (np.log10(occ + _F32(1000.0)) - _F32(2.0)).astype(_F32)
    occ_mod = occ_mod - (occ_mod - _F32(1.0)) * _F32(0.7)

    len_mod = np.log10((ntok + 10).astype(_F32)).astype(_F32)
    len_mod = len_mod - (len_mod - _F32(1.0)) * _F32(0.7)

    score = (base / occ_mod / len_mod).astype(_F32)
    return score.astype(np.uint32)


def index_score_u64_f64(best_pos, num_occurences, num_tokens_in_text, is_exact) -> np.ndarray:
    """float64 twin of :func:`index_score_u32` (oracle comparison only)."""
    pos = np.asarray(best_pos, dtype=np.float64)
    occ = np.asarray(num_occurences, dtype=np.float64)
    ntok = np.asarray(num_tokens_in_text, dtype=np.float64)
    exact = np.asarray(is_exact, dtype=bool)
    base = np.where(exact, 400.0, 2000.0 / (np.log2(pos + 10.0) + 10.0))
    occ_mod = np.log10(occ + 1000.0) - 2.0
    occ_mod = occ_mod - (occ_mod - 1.0) * 0.7
    len_mod = np.log10(ntok + 10.0)
    len_mod = len_mod - (len_mod - 1.0) * 0.7
    return np.trunc(base / occ_mod / len_mod).astype(np.uint64)


def term_score(distance, prefix_matches) -> np.ndarray:
    """Query-time per-matched-term score (float32)."""
    d = np.asarray(distance, dtype=_F32)
    pref = np.asarray(prefix_matches, dtype=bool)
    exact_path = _F32(2.0) / (d + _F32(0.2))
    prefix_path = _F32(2.0) / (np.log2(d + _F32(1.0)) + _F32(0.2))
    return np.where(pref, prefix_path, exact_path).astype(_F32)


def f16_roundtrip(stored_u32) -> np.ndarray:
    """f16 quantization applied when postings are read back
    (/root/reference/src/indices/persistence_score/token_to_anchor_score_vint.rs:220)."""
    return np.asarray(stored_u32, dtype=np.float16).astype(_F32)


def final_score(term_score_f32, stored_u32) -> np.ndarray:
    """final = term_score * (f16(stored)/100), float32."""
    ts = np.asarray(term_score_f32, dtype=_F32)
    return (ts * (f16_roundtrip(stored_u32) / _F32(100.0))).astype(_F32)


def boost_value_score(scores, values, fun: str = "Log10", param: float = 0.0) -> np.ndarray:
    """Boost-by-indexed-field (Q13) — semantics of the reference apply_boost
    (/root/reference/src/search/boost.rs:283-366): per hit with a boost value
    v, the score is combined with f(v + param):

        Log10    → score * log10(v + p)
        Log2     → score * log2(v + p)
        Multiply → score * (v + p)
        Add      → score + (v + p)

    float32 throughout; NaN boost values leave the score unchanged.
    """
    s = np.asarray(scores, dtype=_F32)
    v = np.asarray(values, dtype=_F32) + _F32(param)
    if fun == "Log10":
        out = s * np.log10(v, dtype=_F32)
    elif fun == "Log2":
        out = s * np.log2(v, dtype=_F32)
    elif fun == "Multiply":
        out = s * v
    elif fun == "Add":
        out = s + v
    else:
        raise ValueError(f"unknown boost_fun: {fun}")
    return np.where(np.isnan(v), s, out).astype(_F32)


class _ExprParser:
    """Mini expression DSL for score boosts — the role of the reference's
    expression language (`10 / $SCORE`, /root/reference/src/expression.rs:24-99).
    Grammar: numbers, $SCORE, $VALUE, + - * / with usual precedence, parens.
    Evaluation is vectorized float32."""

    def __init__(self, text: str):
        self.toks = re.findall(r"\$SCORE|\$VALUE|\d+\.?\d*|[()+\-*/]", text)
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else None

    def expr(self):
        node = self.term()
        while self.peek() in ("+", "-"):
            op = self.toks[self.i]
            self.i += 1
            rhs = self.term()
            node = (op, node, rhs)
        return node

    def term(self):
        node = self.atom()
        while self.peek() in ("*", "/"):
            op = self.toks[self.i]
            self.i += 1
            rhs = self.atom()
            node = (op, node, rhs)
        return node

    def atom(self):
        t = self.peek()
        if t == "(":
            self.i += 1
            node = self.expr()
            if self.peek() == ")":
                self.i += 1
            return node
        self.i += 1
        return t


def eval_boost_expression(expression: str, scores, values) -> np.ndarray:
    """Evaluate the boost expression per hit: $SCORE = current score,
    $VALUE = the boost field value. float32."""
    s = np.asarray(scores, dtype=_F32)
    v = np.asarray(values, dtype=_F32)
    ast = _ExprParser(expression).expr()

    def ev(node):
        if isinstance(node, tuple):
            op, a, b = node
            a, b = ev(a), ev(b)
            if op == "+":
                return (a + b).astype(_F32)
            if op == "-":
                return (a - b).astype(_F32)
            if op == "*":
                return (a * b).astype(_F32)
            return (a / b).astype(_F32)
        if node == "$SCORE":
            return s
        if node == "$VALUE":
            return v
        return _F32(float(node))

    out = ev(ast)
    if np.isscalar(out) or out.ndim == 0:
        out = np.full(len(s), out, dtype=_F32)
    return np.where(np.isnan(v), s, out).astype(_F32)


def levenshtein_batch(terms, query: str, max_d: int,
                      prefix: bool = False) -> np.ndarray:
    """Classic char-level Levenshtein distance of each term vs ``query``
    (the reference's fallback DP — /root/reference/src/search/search_field.rs:702-733
    — is also classic Levenshtein). Vectorized over the candidate list with a
    numpy DP over the query dimension; returns uint8 distances (255 = > cap).

    Candidates should be pre-banded by length (|len-len(query)| ≤ max_d)
    before calling; this keeps the DP matrix small.

    ``prefix``: the distance of the best PREFIX of each term instead — the
    minimum over DP rows (prefixes, the empty one included) of the last
    column, the reference's ``.starts_with()`` automaton
    (search_field.rs:80,91-94). No length band applies then; the row-min
    abort keeps the best prefix seen, since every later row is worse.
    """
    q = query
    nq = len(q)
    out = np.empty(len(terms), dtype=np.uint8)
    rng = list(range(1, nq + 1))
    for i, t in enumerate(terms):
        ns = len(t)
        if not prefix and abs(ns - nq) > max_d:
            out[i] = 255
            continue
        prev = list(range(nq + 1))
        low = nq  # best last column so far (prefix mode)
        for j, cs in enumerate(t):
            cur = [j + 1]
            append = cur.append
            best = cur[0]
            for k in rng:
                v = prev[k - 1] + (q[k - 1] != cs)
                w = prev[k] + 1
                if w < v:
                    v = w
                w = cur[k - 1] + 1
                if w < v:
                    v = w
                append(v)
                if v < best:
                    best = v
            if best > max_d:  # row-min early abort
                prev = None
                break
            prev = cur
            if cur[nq] < low:
                low = cur[nq]
        if prefix:
            out[i] = low if low <= max_d else 255
        elif prev is None:
            out[i] = 255
        else:
            d = prev[nq]
            out[i] = d if d <= 254 else 255
    return out
