"""Minimal REST server over a FulltextIndex — the route surface of the
reference's Rocket server (/root/reference/server/rocket_server.rs:168-624):

    GET  /version
    POST /<db>/search        JSON request body (SURVEY.md §2.5 shape)
    GET  /<db>/search?query=...&top=10   query-string language
    POST /<db>/search_query_params      generator-params body
                                        (SearchQueryGeneratorParameters)
    GET  /<db>/suggest?query=...&field=text          (or fields=a,b → multi)
    POST /<db>/highlight     one RequestSearchPart body → ranked
                             [highlighted text, score, doc_id]
                             (rocket_server.rs:607; search_field.rs:233-245)
    GET  /<db>/_id/<doc_id>
    GET  /<db>/_idtree/<doc_id>   document reconstructed from the index
                                  (reference rocket_server.rs:205)
    GET  /<db>/inspect/<field>/<doc_id>   raw indexed values of one field
                                          (debug; rocket_server.rs:565)

Stdlib-only (``http.server``); one Spark session serves all requests —
Spark's FAIR scheduler can be enabled for concurrent queries. This is a
driver-side convenience front end, not a cluster service mesh.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


VERSION = "0.7-spark"  # reference /version returns "0.7" (rocket_server.rs:168)


def _set_explicit_levenshtein(node, lev: int):
    """Generator param ``levenshtein`` (explicit distance on every term,
    query_generator.rs get_levenshteinn: explicit wins over auto)."""
    if "search" in node:
        node["search"]["levenshtein_distance"] = int(lev)
        return node
    for k in ("or", "and"):
        for c in node.get(k, []):
            _set_explicit_levenshtein(c, lev)
    return node


def _query_params_to_request(idx, p: dict) -> dict:
    """SearchQueryGeneratorParameters body → engine request (the reference's
    /search_query_params route, rocket_server.rs:326-338 →
    query_generator.rs search_query). Mirrors the reference defaults:
    stopwords strip only when ``stopword_lists``/``stopwords`` is given,
    phrase boosts are OPT-IN via ``phrase_pairs`` (query_generator.rs:214)."""
    from veloci_spark.query import STOPWORD_LISTS, query_to_request

    fields = p.get("fields") or [f["name"] for f in idx.manifest["fields"]
                                 if f["tokenize"]]
    phrase_fields = [f["name"] for f in idx.manifest["fields"]
                     if f["tokenize"] and f.get("phrase_pairs")]
    kw = dict(search_fields=fields, phrase_fields=phrase_fields,
              top=p.get("top") or 10, skip=p.get("skip") or 0,
              remove_stopwords=False,
              ignore_case=p.get("ignore_case", True))
    if p.get("stopword_lists") is not None:
        kw["stopword_lists"] = [l for l in p["stopword_lists"]
                                if l.lower() in STOPWORD_LISTS]
    if p.get("stopwords"):
        kw["stopwords"] = set(p["stopwords"])
    if p.get("levenshtein_auto_limit") is not None:
        kw["levenshtein_auto_limit"] = int(p["levenshtein_auto_limit"])
    if p.get("boost_fields"):
        kw["boost_fields"] = p["boost_fields"]
    if p.get("boost_terms"):
        kw["boost_terms"] = p["boost_terms"]
    if p.get("filter"):
        kw["filter_query"] = p["filter"]
    if p.get("facets"):
        kw["facets"] = [{"field": f, "top": p.get("facetlimit") or 10}
                        for f in p["facets"]]
    req = query_to_request(p["search_term"], **kw)
    if not p.get("phrase_pairs"):
        req.pop("phrase_boosts", None)
    if p.get("levenshtein") is not None:
        _set_explicit_levenshtein(req["search_req"], int(p["levenshtein"]))
        for pb in req.get("phrase_boosts", []):
            pb["search1"]["levenshtein_distance"] = int(p["levenshtein"])
            pb["search2"]["levenshtein_distance"] = int(p["levenshtein"])
    for flag in ("why_found", "text_locality", "explain"):
        if p.get(flag):
            req["explain_hits" if flag == "explain" else flag] = True
    if p.get("select"):
        req["select"] = p["select"]
    if p.get("boost_queries"):
        # reference opt.boost_queries → request.boost verbatim
        # (query_generator.rs:67,240): boost-by-field specs
        req["boost"] = p["boost_queries"]
    return req


def _get_params_to_query_params(q: dict) -> dict:
    """GET /search query string → SearchQueryGeneratorParameters dict — the
    reference's QueryParams form mapping (rocket_server.rs:88-111): comma
    lists for fields/facets/stopword lists/select, ``field->2.0`` pairs for
    boosts, boolean flags."""
    p: dict = {"search_term": q["query"]}
    for k in ("top", "skip", "levenshtein", "levenshtein_auto_limit"):
        if k in q:
            p[k] = int(q[k])
    for k in ("fields", "facets", "stopword_lists", "stopwords", "select"):
        if k in q:
            p[k] = q[k].split(",")
    for k in ("boost_fields", "boost_terms"):
        if k in q:
            p[k] = {f: float(v) for f, v in
                    (pair.split("->", 1) for pair in q[k].split(","))}
    for k in ("why_found", "phrase_pairs", "explain", "text_locality"):
        if k in q:
            p[k] = q[k].lower() in ("1", "true", "yes")
    if "filter" in q:
        p["filter"] = q["filter"]
    if "facetlimit" in q:
        p["facetlimit"] = int(q["facetlimit"])
    return p


def _explain_plan(idx, req: dict) -> str:
    """The reference's explain_plan (rocket_server.rs:312; search.rs:137-146
    emits the plan DAG as a dot graph) — the Spark-native equivalent is the
    Catalyst physical plan of the ranked DataFrame."""
    from veloci_spark.search import search_df

    df = search_df(idx, req)
    jqe = df._jdf.queryExecution()
    jmode = (df.sparkSession._jvm.org.apache.spark.sql.execution
             .ExplainMode.fromString("formatted"))
    return jqe.explainString(jmode)


def make_handler(indices: dict):
    from veloci_spark.search import (get_doc, read_data, search, suggest,
                                     suggest_multi)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, payload):
            body = json.dumps(payload, default=str).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _index(self, db):
            idx = indices.get(db)
            if idx is None:
                self._send(404, {"error": f"unknown index: {db}"})
            return idx

        def _body(self):
            n = int(self.headers.get("Content-Length", 0))
            return json.loads(self.rfile.read(n) or b"{}")

        def do_POST(self):
            parts = urlparse(self.path).path.strip("/").split("/")
            if len(parts) not in (2, 3):
                self._send(404, {"error": "not found"})
                return
            idx = self._index(parts[0])
            if idx is None:
                return
            try:
                if parts[1:] == ["search_query_params", "explain_plan"]:
                    # rocket_server.rs:312-324: the generated request's
                    # execution plan (dot graph there; Catalyst formatted
                    # plan here)
                    req = _query_params_to_request(idx, self._body())
                    self._send(200, {"request": req,
                                     "plan": _explain_plan(idx, req)})
                    return
                if len(parts) != 2:
                    self._send(404, {"error": "not found"})
                    return
                if parts[1] == "search":
                    self._send(200, search(idx, self._body()))
                    return
                if parts[1] == "search_query_params":
                    # generator-params body (rocket_server.rs:326-338)
                    req = _query_params_to_request(idx, self._body())
                    self._send(200, search(idx, req))
                    return
                if parts[1] == "suggest":
                    # POST twin of the GET route (rocket_server.rs:576):
                    # body = one RequestSearchPart-ish dict
                    p = self._body()
                    flds = p.get("fields") or [p.get("path", "text")]
                    out = suggest_multi(idx, flds, p["terms"][0]
                                        if "terms" in p else p["query"],
                                        top=p.get("top") or 10)
                    self._send(200, {"suggestions": out})
                    return
                if parts[1] == "highlight":
                    # one RequestSearchPart → ranked highlighted stored
                    # texts (rocket_server.rs:607; search_field.rs:233-245).
                    # Scores are the engine's anchor scores — on the flat
                    # webtext schema a stored text IS the doc's field value,
                    # so text_id space and doc space coincide; nested
                    # fields return their why_found value texts.
                    p = self._body()
                    field = p["path"]
                    top = p.pop("top", None) or 10
                    skip = p.pop("skip", None) or 0
                    res = search(idx, {"search": p, "why_found": True,
                                       "top": top, "skip": skip})
                    out = []
                    for d in res["data"]:
                        for text in d.get("why_found", {}).get(field, []):
                            out.append([text, d["score"], d["doc_id"]])
                    self._send(200, out)
                    return
            except Exception as e:  # noqa: BLE001
                self._send(400, {"error": str(e)})
                return
            self._send(404, {"error": "not found"})

        def do_GET(self):
            u = urlparse(self.path)
            parts = u.path.strip("/").split("/")
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            try:
                if parts == ["version"]:
                    self._send(200, VERSION)
                    return
                if len(parts) == 4 and parts[1] == "inspect":
                    # debug read of one field's indexed values for one doc
                    # (reference inspect_data /<db>/inspect/<path>/<id>,
                    # rocket_server.rs:565-573: raw id→parent values)
                    idx = self._index(parts[0])
                    if idx is None:
                        return
                    fld, doc_id = parts[2], int(parts[3])
                    if fld in idx.values:
                        rows = sorted(idx.read_docs([doc_id], path=fld),
                                      key=lambda r: r["pos"])
                        self._send(200, [r["value"] for r in rows])
                    else:
                        doc = get_doc(idx, doc_id) or {}
                        self._send(200, [doc.get(fld)] if fld in doc else [])
                    return
                if len(parts) == 2 and parts[1] == "search":
                    # full QueryParams form (rocket_server.rs:355-360):
                    # routed through the same generator-params mapping as
                    # POST /search_query_params, so GET and POST agree on
                    # every option (incl. the reference's defaults: no
                    # stopword stripping unless lists are passed, phrase
                    # boosts opt-in)
                    idx = self._index(parts[0])
                    if idx is None:
                        return
                    req = _query_params_to_request(
                        idx, _get_params_to_query_params(q))
                    self._send(200, search(idx, req))
                    return
                if len(parts) == 2 and parts[1] == "suggest":
                    idx = self._index(parts[0])
                    if idx is None:
                        return
                    if "fields" in q:
                        out = suggest_multi(idx, q["fields"].split(","),
                                            q["query"], top=int(q.get("top", 10)))
                    else:
                        out = suggest(idx, q.get("field", "text"), q["query"],
                                      top=int(q.get("top", 10)))
                    self._send(200, {"suggestions": out})
                    return
                if len(parts) == 3 and parts[1] == "_idtree":
                    idx = self._index(parts[0])
                    if idx is None:
                        return
                    doc = read_data(idx, int(parts[2]))
                    if doc is None:
                        self._send(404, {"error": "no such doc"})
                    else:
                        doc.pop("html", None)
                        self._send(200, doc)
                    return
                if len(parts) == 3 and parts[1] == "_id":
                    idx = self._index(parts[0])
                    if idx is None:
                        return
                    doc = get_doc(idx, int(parts[2]))
                    if doc is None:
                        self._send(404, {"error": "no such doc"})
                    else:
                        doc.pop("html", None)  # binary not JSON-serializable
                        self._send(200, doc)
                    return
            except Exception as e:  # noqa: BLE001
                self._send(400, {"error": str(e)})
                return
            self._send(404, {"error": "not found"})

    return Handler


def serve(indices: dict, host: str = "127.0.0.1", port: int = 8080,
          background: bool = False) -> ThreadingHTTPServer:
    """Serve {db_name: FulltextIndex}. With ``background=True`` returns the
    server immediately (daemon thread); call ``.shutdown()`` to stop."""
    httpd = ThreadingHTTPServer((host, port), make_handler(indices))
    if background:
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        return httpd
    try:
        httpd.serve_forever()
    finally:
        httpd.server_close()
    return httpd
