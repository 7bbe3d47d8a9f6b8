"""Per-hit score explanation (Q: reference ``explain``,
/root/reference/src/search/result/explain.rs — Explain steps:
LevenshteinScore / TermToAnchor / MaxTokenToTextId / OrSumOverDistinctTerms /
NumDistintTermsBoost / Boost).

The segment kernel ranks without remembering *why*; explanation re-derives
each returned doc's score from the same inputs (matched dictionary terms ×
stored posting scores), walking the request tree with the identical float32
arithmetic — so ``steps[-1]["score"] == hit score`` exactly. Cost: the
posting rows of the matched terms in the result docs' segments
(:meth:`FulltextIndex.read_postings`), their phrase rows
(``read_phrase``) and identity leaves' doc values (``read_docs``) — top-k
docs only, never the full hit set. Each read runs with pyarrow in the
driver under the local tier's scan rule, on Spark otherwise. The per-leg
boost values keep their Spark reads (the nested ones a join): requests
with per-leg boosts take the composed path, which runs on Spark. The tree
and the matched leaves come from the planner when :func:`search.search`
passes them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

_F32 = np.float32


def _doc_leaf_entries(index, leaves, doc_ids):
    """(doc_id, leaf_id) → list of (term, term_score, stored_u32, final_f32)
    from the postings of the matched dictionary terms (identity leaves are
    resolved against the doc store)."""
    import pandas as pd

    from veloci_spark.search import (IDENTITY_STORED, _identity_scores,
                                     _match_spec, _stored_to_f32)
    from veloci_spark.vbyte import unpack_postings

    # bm25 indexes skip the f16 read quantization in the kernel
    # (search.py quantize_f16 flag) — mirror it here or bm25 stored scores
    # > 2048 would break the exact-equality invariant of the steps.
    quantize_f16 = index.manifest.get("scoring", "veloci") == "veloci"
    segment_docs = index.manifest["segment_docs"]
    segs = sorted({d // segment_docs for d in doc_ids})
    want = np.array(sorted(doc_ids), dtype=np.int64)
    out: dict[tuple[int, int], list] = {}

    tid_rows: dict[tuple[str, int], list] = {}  # (field, term_id) -> [(leaf, term, tscore)]
    for leaf in leaves:
        if leaf.matched is None:
            continue
        for tid, term, tscore in zip(leaf.matched["term_id"].tolist(),
                                     leaf.matched["term"].tolist(),
                                     leaf.matched["score"].to_numpy(_F32)):
            tid_rows.setdefault((leaf.field, tid), []).append(
                (leaf.leaf_id, term, tscore))
    if tid_rows:
        rows = index.read_postings(
            pd.DataFrame(list(tid_rows), columns=["field", "term_id"]), segs)
        for field, tid, seg, docs_bin, scores_bin in zip(
                rows["field"], rows["term_id"].tolist(),
                rows["segment"].tolist(), rows["docs_bin"],
                rows["scores_bin"]):
            # past the In cap a Spark read is a (min,max) range — superset
            # rows resolve to no matched leaf and are skipped here
            entries = tid_rows.get((field, tid))
            if not entries:
                continue
            docs, stored = unpack_postings(docs_bin, scores_bin)
            docs = docs + seg * segment_docs
            present = np.isin(docs, want)
            if not present.any():
                continue
            for leaf_id, term, tscore in entries:
                for d, s in zip(docs[present], stored[present]):
                    fin = _F32(tscore * _stored_to_f32(
                        np.array([s], dtype=np.uint32), quantize_f16)[0])
                    out.setdefault((int(d), leaf_id), []).append(
                        (term, float(tscore), int(s), float(fin)))

    # identity leaves: the doc-store value IS the dictionary entry
    for leaf in leaves:
        if leaf.matched is not None:
            continue
        rows = index.read_docs(doc_ids, ["doc_id", leaf.field])
        pos, ts, fin = _identity_scores(_match_spec(leaf.term, **leaf.opts),
                                        [r[leaf.field] for r in rows])
        for i, t, s in zip(pos, ts, fin):
            out.setdefault((int(rows[i]["doc_id"]), leaf.leaf_id), []).append(
                (rows[i][leaf.field], float(t), IDENTITY_STORED, float(s)))
    return out


def _explain_node(node, doc_id, entries, steps, leaf_map=None,
                  leg_boost_vals=None, leg_nested_vals=None,
                  nested_boost_paths=frozenset()):
    """Walk the plan tree for one doc, appending Explain steps; returns the
    node's f32 score, or None when the doc misses the subtree."""
    from veloci_spark.search import _tree_tag

    if node["op"] == "leaf":
        ents = entries.get((doc_id, node["leaf_id"]))
        if not ents:
            return None
        for term, tscore, stored, fin in ents:
            steps.append({"step": "term_to_anchor", "term": term,
                          "term_score": tscore, "index_score": stored,
                          "final_score": fin})
        best = _F32(max(_F32(f) for _t, _ts, _s, f in ents))
        # reference MaxTokenToTextId: leaf value = max over its term rows
        steps.append({"step": "max_token_to_text", "score": float(best)})
        leaf = (leaf_map or {}).get(node["leaf_id"])
        if node.get("boost") is not None:
            # leaf scalar boost — applied BEFORE the per-leg field boosts
            # (pyref leaf order; the composed path applies it in the leg
            # KERNEL and strips it from the combine tree)
            best = _F32(best * _F32(node["boost"]))
            steps.append({"step": "boost", "factor": float(node["boost"]),
                          "score": float(best)})
        if leaf is not None and leaf.field_boosts:
            # per-leg options.boost (composed path): applied to the leg's
            # hits AFTER the leaf max + scalar boost, BEFORE the tree
            # combine (_composed_search_hits: leg kernel applies the scalar
            # boost, then _apply_anchor_boosts per leg, then the
            # eval_segment combine). Same spec order, same f32 kernels.
            from veloci_spark.scoring import (boost_value_score,
                                              eval_boost_expression)

            def _one(best, spec, v):
                s_arr = np.array([best], dtype=_F32)
                v_arr = np.array([v], dtype=np.float64)
                if spec.get("expression") is not None:
                    nb = eval_boost_expression(spec["expression"], s_arr,
                                               v_arr)[0]
                else:
                    nb = boost_value_score(s_arr, v_arr,
                                           spec.get("boost_fun", "Log10"),
                                           float(spec.get("param", 0.0)))[0]
                return _F32(nb)

            for spec in leaf.field_boosts:
                if spec["path"] in nested_boost_paths:
                    # nested sibling-subfield: the kernel applies the leg's
                    # matched boost VALUES sequentially in pos order
                    # (_apply_value_boost); docs with no pairs are left
                    # untouched (left join) — no step then
                    for v in (leg_nested_vals or {}).get(
                            (doc_id, node["leaf_id"], spec["path"]), ()):
                        best = _one(best, spec, v)
                        steps.append({"step": "leg_boost",
                                      "path": spec["path"],
                                      "value": float(v),
                                      "score": float(best)})
                    continue
                v = (leg_boost_vals or {}).get((doc_id, spec["path"]),
                                               float("nan"))
                best = _one(best, spec, v)
                steps.append({"step": "leg_boost", "path": spec["path"],
                              "value": None if np.isnan(v) else float(v),
                              "score": float(best)})
        return best
    kids = [(c, _explain_node(c, doc_id, entries, steps, leaf_map,
                              leg_boost_vals, leg_nested_vals,
                              nested_boost_paths)) for c in node["children"]]
    if len(kids) == 1:
        return kids[0][1]
    if node["op"] == "and":
        if any(s is None for _c, s in kids):
            return None
        total = _F32(0.0)
        for _c, s in kids:
            total = _F32(total + s)
        steps.append({"step": "and_sum", "score": float(total)})
        return total
    # OR: max per distinct tag (ascending tag order), sum, × n_distinct²
    by_tag: dict[str, np.float32] = {}
    for c, s in kids:
        if s is None:
            continue
        t = _tree_tag(c)
        by_tag[t] = s if t not in by_tag else max(by_tag[t], s)
    if not by_tag:
        return None
    total = _F32(0.0)
    for t in sorted(by_tag):
        total = _F32(total + by_tag[t])
    steps.append({"step": "or_sum_over_distinct_terms", "score": float(total)})
    n = _F32(sum(1.0 for v in by_tag.values() if v >= _F32(1e-5)))
    total = _F32(total * n * n)
    steps.append({"step": "num_distinct_terms_boost",
                  "distinct": int(n), "score": float(total)})
    return total


def _leg_nested_boost_vals(index, leaves, doc_ids):
    """(doc_id, leaf_id, boost_path) → boost values ordered by value pos —
    the exact pair derivation of search._apply_value_boost invoked the way
    the composed path invokes it (leaves=[leaf], so dedup is per leg),
    restricted to the explained docs. One bounded join per (leaf, spec);
    the matched side is partition-pruned to the explained docs."""
    from veloci_spark.nested import path_depth, pos_level_cols
    from veloci_spark.search import _common_array_levels, _filter_term_ids

    out: dict[tuple[int, int, str], list] = {}
    want = [int(d) for d in doc_ids]
    for leaf in leaves:
        if leaf.matched is None or leaf.field not in index.values:
            continue
        tids = [int(t) for t in leaf.matched["term_id"]]
        if not tids:
            continue
        for spec in leaf.field_boosts or []:
            bpath = spec["path"]
            if bpath not in index.values:
                continue
            k = _common_array_levels(leaf.field, bpath)
            if k == 0:
                continue
            ldepth = path_depth(leaf.field)
            lvl = pos_level_cols(F.col("pos"), ldepth)[:k]
            matched = (
                _filter_term_ids(
                    index.spark,
                    index.tokentexts.where(F.col("field") == leaf.field),
                    tids)
                .where(F.col("doc_id").isin(want))
                .select("doc_id", *[lvl[i].alias(f"_k{i}") for i in range(k)])
                .distinct()
            )
            bvals = index.values[bpath].select(
                "doc_id", F.col("pos").alias("_bpos"),
                F.col("value").cast("double").alias("_bv"),
                *[F.col(f"pos_{i}").alias(f"_k{i}") for i in range(k)])
            rows = (
                matched.join(bvals, on=["doc_id"] + [f"_k{i}" for i in range(k)])
                .select("doc_id", "_bpos", "_bv")
                .dropDuplicates(["doc_id", "_bpos"])
                .orderBy("doc_id", "_bpos")
                .toPandas()
            )
            for d, g in rows.groupby("doc_id"):
                out[(int(d), leaf.leaf_id, bpath)] = [float(v) for v in g["_bv"]]
    return out


def explain_hits(index, request, doc_ids: list[int],
                 collected=None) -> dict[int, list[dict]]:
    """Per-document score derivation for the given (already-ranked) docs.
    Returns doc_id → ordered list of Explain steps; the last step's score is
    the doc's final score (pre anchor-boost).

    ``collected`` — the planner's (tree, leaves, scored leaf ids, phrase
    specs, term-boost leaves) for ``request``, as :func:`search.search`
    passes them; without it the request's leaves are matched again."""
    from veloci_spark.search import _collect_leaves
    from veloci_spark.vbyte import unpack_ids

    if collected is None:
        (tree, _filter_tree, leaves, scored_ids, phrase_specs,
         term_boost_leaves) = _collect_leaves(index, request)
    else:
        tree, leaves, scored_ids, phrase_specs, term_boost_leaves = collected
    boost_cols = {spec["path"] for l in leaves
                  for spec in (l.field_boosts or [])}
    nested_boost_paths = {c for c in boost_cols if c in index.values}
    # nested sibling-subfield per-leg boosts: per-(doc, leaf, path) ordered
    # value lists via the same position joins _apply_value_boost runs,
    # restricted to the explained docs
    leg_nested_vals = _leg_nested_boost_vals(
        index, leaves, doc_ids) if nested_boost_paths else {}
    # flat per-leg boost values for the explained docs: one bounded collect
    # (their requests take the composed path, which runs on Spark)
    leg_boost_vals: dict[tuple[int, str], float] = {}
    if boost_cols - nested_boost_paths:
        cols = sorted(boost_cols - nested_boost_paths)
        rows = (
            index.docs.where(F.col("doc_id").isin([int(d) for d in doc_ids]))
            .select("doc_id",
                    *[F.col(c).cast("double").alias(f"_b{i}")
                      for i, c in enumerate(cols)])
            .toPandas()
        )
        for i, c in enumerate(cols):
            for d, v in zip(rows["doc_id"].tolist(), rows[f"_b{i}"].tolist()):
                leg_boost_vals[(d, c)] = float(v)
    entries = _doc_leaf_entries(
        index, [l for l in leaves if l.leaf_id in scored_ids
                or l.leaf_id in {lid for lid, _ in term_boost_leaves}],
        doc_ids)

    # phrase-pair presence per doc: the pairs' packed doc lists in the
    # explained docs' segments, decoded here
    phrase_docs: dict[int, set] = {}
    if phrase_specs and doc_ids:
        segment_docs = index.manifest["segment_docs"]
        want = np.array(sorted(doc_ids), dtype=np.int64)
        spec_ix: dict[tuple, list] = {}
        for i, spec in enumerate(phrase_specs):
            spec_ix.setdefault(tuple(spec), []).append(i)
        prows = index.read_phrase(phrase_specs,
                                  {d // segment_docs for d in doc_ids})
        for f, a, b, seg, docs_bin in zip(
                prows["field"], prows["tok_a"], prows["tok_b"],
                prows["segment"].tolist(), prows["docs_bin"]):
            ix = spec_ix.get((f, a, b))
            if not ix:
                continue
            docs = unpack_ids(docs_bin) + seg * segment_docs
            for d in docs[np.isin(docs, want)].tolist():
                phrase_docs.setdefault(d, set()).update(ix)

    leaf_map = {l.leaf_id: l for l in leaves}
    out: dict[int, list[dict]] = {}
    for d in doc_ids:
        steps: list[dict] = []
        score = _explain_node(tree, int(d), entries, steps, leaf_map,
                              leg_boost_vals, leg_nested_vals,
                              nested_boost_paths)
        if score is None:
            out[int(d)] = steps
            continue
        for i in phrase_docs.get(int(d), ()):
            score = _F32(score * _F32(5.0))
            f, a, b = phrase_specs[i]
            steps.append({"step": "phrase_boost", "pair": [a, b],
                          "factor": 5.0, "score": float(score)})
        for leaf_id, factor in term_boost_leaves:
            if (int(d), leaf_id) in entries:
                score = _F32(score * _F32(factor))
                steps.append({"step": "term_boost", "factor": float(factor),
                              "score": float(score)})
        if request.get("text_locality"):
            tags = {l.tag for l in leaves
                    if l.leaf_id in scored_ids and (int(d), l.leaf_id) in entries}
            n = len(tags)
            if n >= 2:
                # factor computed first, then ONE multiply — the kernel's
                # rounding order (scores[sel] * factors)
                factor = _F32(_F32(_F32(2.0) * _F32(n)) * _F32(n))
                score = _F32(score * factor)
                steps.append({"step": "text_locality_boost", "distinct": n,
                              "factor": float(factor),
                              "score": float(score)})
        out[int(d)] = steps
    return out
