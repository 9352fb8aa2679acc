"""BlackLab-Server HTTP adapter (pure stdlib).

The reference ships blacklab-server, a servlet speaking the REST API
under `/blacklab-server/<corpus>/...` (server/.../requesthandlers/
RequestHandler.java:54-73 routes; site/docs/server/rest-api/). This
module is the same protocol over `http.server`: URL routing + query-
string coercion in front of the JSON envelopes in `search.server` and
the corpus surface — no framework, no new dependency.

Scale posture: the HTTP layer is a protocol adapter, not the engine —
every request body is the O(page) envelope assembly; all heavy work is
the same DataFrame plans the library API runs. A production deployment
would put many adapter processes in front of a shared long-lived
SparkSession (or Spark Connect endpoint); the adapter itself holds no
per-corpus state beyond the Corpus handle.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from blacklab_spark.search.server import (
    docs_response, error_response, hits_response, index_metadata_response,
)

# query-string → python types for facade/envelope params
# (server/.../BlackLabServerParams.java parameter table)
_INT = {"first", "number", "wordsaroundhit", "samplenum", "maxretrieve",
        "fimatch", "n", "hitstart", "hitend", "wordstart", "wordend",
        "maxsnippets"}
_FLOAT = {"sample"}
_BOOL = {"waitfortotal", "explain", "usecache", "sensitive"}

# server-level route names: a corpus may not take these (the reference
# reserves its servlet paths the same way — a corpus named "input-formats"
# would shadow RequestHandlerListInputFormats)
RESERVED_NAMES = frozenset({"metrics", "input-formats", "cache-clear"})


def _coerce(params: dict[str, list[str]]) -> dict:
    out = {}
    for k, vs in params.items():
        v = vs[-1]
        if k in _INT:
            out[k] = int(v)
        elif k in _FLOAT:
            out[k] = float(v)
        elif k in _BOOL:
            out[k] = v.lower() in ("1", "true", "yes", "on")
        else:
            out[k] = v
    return out


class _Router:
    """Dispatch one request path against a corpus registry."""

    def __init__(self, corpora: dict, manager=None):
        from blacklab_spark.search.metrics import (
            MetricsRegistry, bind_corpus_gauges,
        )

        bad = RESERVED_NAMES.intersection(corpora)
        if bad:
            raise ValueError(
                f"corpus name(s) {sorted(bad)} shadow server routes; "
                f"reserved names: {sorted(RESERVED_NAMES)}"
            )
        self.corpora = corpora
        self.manager = manager  # IndexManager | None (user-corpus ops)
        self.metrics = MetricsRegistry()
        bind_corpus_gauges(self.metrics, corpora)

    def _known_corpus(self, name: str) -> bool:
        mgr = self.manager
        return name in self.corpora or (
            mgr is not None and name in mgr.user_corpora
        )

    def operation_label(self, path: str) -> tuple[str, str]:
        """(corpus, operation) tags for request instrumentation
        (reference RequestInstrumentationProvider derives the same pair
        from the servlet path). Doc pids and group ids are NOT part of
        the label, and an unknown first segment (scanner probes,
        /favicon.ico, typo'd corpus names) collapses to ("-",
        "unknown") — cardinality stays bounded by the endpoint set
        times the mounted-corpus set, so noisy traffic cannot grow the
        registry without bound."""
        parts = [p for p in path.strip("/").split("/") if p]
        if not parts:
            return "-", "server-info"
        if parts[0] in RESERVED_NAMES:
            return "-", parts[0]
        if not self._known_corpus(parts[0]):
            return "-", "unknown"
        if len(parts) == 1:
            return parts[0], "corpus-info"
        op = parts[1]
        if op == "docs" and len(parts) > 3:
            # contents / snippet; anything else is a 404 — one shared label
            op = f"docs-{parts[3]}" if parts[3] in (
                "contents", "snippet"
            ) else "unknown"
        elif op == "docs" and len(parts) > 2:
            op = "doc-info"
        elif op not in ("hits", "docs", "termfreq", "autocomplete",
                        "fields", "status", "cache-info", "explain",
                        "sharing"):
            op = "unknown"
        return parts[0], op

    def handle(self, path: str, q: dict, method: str = "GET",
               files=None, user: str | None = None) -> tuple[int, object]:
        from urllib.parse import unquote

        mgr = self.manager
        # split BEFORE unquoting so %2F inside a pid segment survives
        parts = [unquote(p) for p in path.strip("/").split("/") if p]
        if not parts:
            if method == "POST":
                # create user corpus (RequestHandlerCreateIndex;
                # rest-api/post.md)
                if mgr is None:
                    return 403, error_response(
                        "FORBIDDEN_REQUEST",
                        "Corpus management requires a --user-dir.",
                    )
                return mgr.create(q, user=user)
            # server info (RequestHandlerServerInfo); private corpora the
            # caller may not read are omitted, like the reference's
            # user-area listing (RequestHandlerServerInfo + User.java)
            visible = {
                n for n in self.corpora
                if mgr is None or mgr.can_access(n, user)
            }
            pending = {
                n: {"displayName": i.get("display", n), "status": "empty"}
                for n, i in (mgr.user_corpora if mgr else {}).items()
                if n not in self.corpora and mgr.can_access(n, user)
            }
            return 200, {
                "indices": {
                    **{name: {"displayName": name, "status": "available"}
                       for name in sorted(visible)},
                    **pending,
                },
                "user": {"loggedIn": user is not None,
                         **({"id": user} if user is not None else {}),
                         "canCreateIndex": mgr is not None},
            }
        if parts[0] == "metrics":
            # Prometheus scrape (reference PrometheusMetricsProvider's
            # DEFAULT_PROM_ENDPOINT "/metrics"); str body → text/plain
            return 200, self.metrics.scrape()
        if parts[0] == "input-formats":
            return self._input_formats(parts[1:], method, files)
        if parts[0] == "cache-clear":
            # RequestHandlerClearCache (server-level route,
            # RequestHandler.java:170)
            for c in self.corpora.values():
                c.cache.clear()
            return 200, {"code": "SUCCESS",
                         "message": "Cache cleared succesfully."}
        name, rest = parts[0], parts[1:]
        if mgr is not None:
            if method == "DELETE" and not rest:
                return mgr.delete(name, user=user)
            if rest[:1] == ["docs"] and method == "POST" and files:
                return mgr.add_docs(name, files, user=user)
            if rest[:1] == ["sharing"]:
                return mgr.sharing(name, q, method, user=user)
            if not mgr.can_access(name, user):
                # private user corpus, caller neither owner nor on the
                # share list (reference User.java / IndexManager
                # mayRead → NOT_AUTHORIZED)
                return 403, error_response(
                    "NOT_AUTHORIZED",
                    "You are not authorized to access this index.",
                )
        corpus = self.corpora.get(name)
        if corpus is None:
            if mgr is not None and name in mgr.user_corpora:
                # created, no documents yet
                info = mgr.user_corpora[name]
                if not rest or rest == ["status"]:
                    return 200, {"indexName": name,
                                 "displayName": info.get("display", name),
                                 "status": "empty", "tokenCount": 0,
                                 "documentFormat": info["format"]}
                return 409, error_response(
                    "INDEX_EMPTY", f"Index '{name}' has no data yet."
                )
            return 404, error_response(
                "CANNOT_OPEN_INDEX", f"Could not open index '{name}'"
            )
        try:
            return self._corpus_route(corpus, rest, q)
        except (ValueError, KeyError) as e:
            # bad pattern / unknown parameter value (BadRequest analogue)
            return 400, error_response("INVALID_QUERY", str(e))

    def _input_formats(self, rest: list[str], method: str,
                       files) -> tuple[int, object]:
        """/input-formats[/name] (RequestHandlerListInputFormats /
        AddFormat / DeleteFormat; rest-api/input-formats/)."""
        from blacklab_spark.search import manage

        mgr = self.manager
        if not rest:
            if method == "POST":
                if mgr is None:
                    return 403, error_response(
                        "FORBIDDEN_REQUEST",
                        "Format management requires a --user-dir.",
                    )
                return mgr.format_add(files)
            return 200, manage.formats_response(
                mgr.user_formats if mgr else None, can_create=mgr is not None
            )
        if method == "DELETE":
            if mgr is None:
                return 403, error_response(
                    "FORBIDDEN_REQUEST",
                    "Format management requires a --user-dir.",
                )
            return mgr.format_delete(rest[0])
        if rest[1:2] == ["xslt"]:
            # display stylesheet for the format (reference
            # RequestHandlerListInputFormats isXsltRequest)
            return manage.format_xslt(
                rest[0], mgr.user_formats if mgr else None
            )
        return manage.format_get(rest[0], mgr.user_formats if mgr else None)

    def _corpus_route(self, corpus, rest: list[str], q: dict) -> tuple[int, object]:
        if not rest:
            return 200, index_metadata_response(corpus)
        ep = rest[0]
        if ep == "hits":
            if "patt" not in q:
                return 400, error_response(
                    "NO_PATTERN_GIVEN", "Text search pattern required"
                )
            if q.pop("outputformat", None) == "csv":
                # hits-csv endpoint: facade's CSV path
                return 200, corpus.search(outputformat="csv", **q)
            # the reference's BlsCache is ON by default (usecache=no
            # disables); paging/re-sorting then reuses the hit set
            q.setdefault("usecache", True)
            return 200, hits_response(corpus, q.pop("patt"), **q)
        if ep == "docs":
            if len(rest) == 1:
                if q.pop("outputformat", None) == "csv":
                    from blacklab_spark.search.server import docs_csv

                    return 200, docs_csv(corpus, q.pop("patt", None), **q)
                q.setdefault("usecache", True)
                return 200, docs_response(corpus, q.pop("patt", None), **q)
            # /docs/<pid>[/contents] — pid is "<conv_id>/<turn_idx>"
            # with the slash URL-encoded (%2F), or a bare doc_id
            doc = self._resolve_pid(corpus, rest[1])
            if doc is None:
                return 404, error_response(
                    "DOC_NOT_FOUND", f"Document with pid '{rest[1]}' not found"
                )
            may_view = bool(corpus.meta.get("contentViewable", True))
            if len(rest) == 2:  # doc-info
                info = corpus.doc_info(doc)
                info = {k: v for k, v in info.items()
                        if k not in ("segment_id",)}
                return 200, {"docPid": rest[1],
                             "docInfo": {**{k: [str(v)] for k, v in
                                            info.items() if k != "num_tokens"},
                                         "lengthInTokens": info["num_tokens"],
                                         "mayView": may_view}}
            if rest[2] == "contents":
                if not may_view:
                    # ResultDocContents.java:122-124 index.mayView gate
                    return 403, error_response(
                        "NOT_AUTHORIZED",
                        "Viewing the full contents of this document is "
                        "not allowed. For more information, read about "
                        "'contentViewable': https://inl.github.io/BlackLab/"
                        "how-to-configure-indexing.html.",
                    )
                from blacklab_spark.search.server import doc_contents_response

                ws = q.get("wordstart", -1)
                we = q.get("wordend", -1)
                if ws < -1 or we < -1 or (we >= 0 and we <= ws):
                    # ResultDocContents.java:104-106
                    return 400, error_response(
                        "ILLEGAL_BOUNDARIES",
                        "Illegal word boundaries specified. "
                        "Please check parameters.",
                    )
                return 200, doc_contents_response(
                    corpus, doc, patt=q.get("patt"),
                    wordstart=ws, wordend=we,
                )
            if rest[2] == "snippet":
                from blacklab_spark.search.server import doc_snippet_response

                return 200, doc_snippet_response(
                    corpus, doc,
                    hitstart=q.get("hitstart"), hitend=q.get("hitend"),
                    wordstart=q.get("wordstart"), wordend=q.get("wordend"),
                    wordsaroundhit=q.get("wordsaroundhit", 5),
                )
            return 404, error_response("UNKNOWN_OPERATION", rest[2])
        if ep == "termfreq":
            from blacklab_spark.search.results import term_frequencies

            filt = q.get("filter")
            if filt:
                from blacklab_spark.cql.luceneql import parse_luceneql

                filt = parse_luceneql(filt)
            df = term_frequencies(
                corpus, filter_expr=filt,
                sensitive=q.get("sensitive", False),
                annotation=q.get("annotation", "word"),
            )
            terms = q.get("terms")
            if terms:
                want = [t.strip() for t in terms.split(",")]
                df = df.filter(df.term.isin(want))
            number = q.get("number", 20)
            rows = df.limit(q.get("first", 0) + number).collect()
            rows = rows[q.get("first", 0):]
            return 200, {"termFreq": {r["term"]: r["freq"] for r in rows}}
        if ep == "autocomplete":
            # /autocomplete/<field> or /autocomplete/contents/<annotation>
            from blacklab_spark.search.results import autocomplete

            ann = rest[2] if len(rest) > 2 else (
                rest[1] if len(rest) > 1 else "word"
            )
            if ann == "contents":
                ann = "word"
            # a METADATA field name completes its distinct values
            # (reference ResultAutocomplete.java:30-58 routes metadata
            # vs annotated-field names the same way)
            meta_src = None
            if len(rest) <= 2 and ann != "word":
                from pyspark.sql import functions as F

                from blacklab_spark.search.results import doc_key

                stats = corpus.doc_stats
                key = doc_key(ann, stats.columns)
                if key is not None:
                    meta_src = stats.select(key.cast("string").alias(ann))
            if meta_src is not None:
                pref = q.get("term", "").lower()
                vals = (
                    meta_src.filter(F.lower(F.col(ann)).startswith(pref))
                    .distinct()
                    .orderBy(ann)
                    .limit(q.get("n", 20))
                    .collect()
                )
                return 200, [r[0] for r in vals]
            df = autocomplete(corpus, q.get("term", ""), n=q.get("n", 20),
                              annotation=ann)
            return 200, [r[0] for r in df.collect()]
        if ep == "fields" and len(rest) > 1:
            # annotation names route to the annotation value list (the
            # reference's field-info page with `subprops`,
            # RequestHandlerFieldInfo / BlackLabServerParams.java:57);
            # metadata field names keep the metadata value list
            anns = corpus.fields()["annotated_field"]["annotations"]
            if rest[1] in anns:
                from blacklab_spark.search.facade import annotation_values

                return 200, annotation_values(
                    corpus, rest[1], limit=int(q.get("number", 200))
                )
            return 200, corpus.field_values(rest[1])
        if ep == "status":
            return 200, corpus.status()
        if ep == "cache-info":
            return 200, corpus.cache_info()
        if ep == "explain":
            if "patt" not in q:
                return 400, error_response(
                    "NO_PATTERN_GIVEN", "Text search pattern required"
                )
            return 200, {"explanation": {
                "originalQuery": q["patt"],
                "rewrittenQuery": corpus.explain(q["patt"]),
            }}
        return 404, error_response("UNKNOWN_OPERATION", ep)

    @staticmethod
    def _resolve_pid(corpus, pid: str):
        """pid "<conv_id>/<turn_idx>" (URL-encoded slash) or a bare
        doc_id integer → doc_id."""
        from blacklab_spark.search.facade import resolve_pid

        return resolve_pid(corpus, pid)


def make_handler(corpora: dict, manager=None):
    router = _Router(corpora, manager=manager)

    class Handler(BaseHTTPRequestHandler):
        # set by serve(); see its docstring
        trust_user_header = False

        def do_GET(self):  # noqa: N802 - stdlib API
            self._respond({})

        def do_POST(self):  # noqa: N802 - BLS accepts POSTed params
            # (large pattgapdata exceeds URL limits; reference docs:
            # rest-api hits "you should use a POST request") and
            # multipart uploads (add-to-index / add-format)
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            ctype = self.headers.get("Content-Type", "")
            extra, files = {}, None
            if "form-urlencoded" in ctype:
                extra = parse_qs(raw.decode())
            elif ctype.startswith("multipart/form-data"):
                from blacklab_spark.search.manage import parse_multipart

                fields, files = parse_multipart(raw, ctype)
                extra = {k: [v] for k, v in fields.items()}
            self._respond(extra, method="POST", files=files)

        def do_DELETE(self):  # noqa: N802 - corpus / format deletion
            self._respond({}, method="DELETE")

        def _respond(self, extra_params: dict, method: str = "GET",
                     files=None):
            import time as _time

            u = urlparse(self.path)
            t0 = _time.time()
            try:
                q = parse_qs(u.query)
                q.update(extra_params)
                # stand-in for the reference's pluggable auth
                # (AuthDebugFixed / AuthRequestAttribute read a userid
                # from the request the same way): only a server behind
                # an authenticating proxy that sets this header trusts
                # it; anywhere else any client could claim any user
                user = (
                    self.headers.get("X-BlackLab-User") or None
                    if self.trust_user_header else None
                )
                status, body = router.handle(
                    u.path, _coerce(q), method=method, files=files,
                    user=user,
                )
            except Exception as e:  # engine error → INTERNAL_ERROR envelope
                status, body = 500, error_response("INTERNAL_ERROR", str(e))
            corpus_lbl, op = router.operation_label(u.path)
            if op != "metrics":  # don't meter the scrapes themselves
                router.metrics.record_request(
                    corpus_lbl, op, status, _time.time() - t0
                )
            if isinstance(body, str):
                payload = body.encode()
                # doc-contents and format-xslt responses are served as
                # XML (the reference forces DataFormat.XML on both,
                # RequestHandlerDocContents/ListInputFormats
                # .getOverrideType: "Application expects this MIME type")
                ctype = (
                    "application/xml; charset=utf-8"
                    if op == "docs-contents" or body.startswith("<?xml")
                    else "text/plain; charset=utf-8"
                )
            else:
                payload = json.dumps(body).encode()
                ctype = "application/json; charset=utf-8"
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, fmt, *args):  # quiet by default
            pass

    return Handler


def serve(corpora: dict, port: int = 8080, host: str = "127.0.0.1",
          user_dir: str | None = None, spark=None,
          trust_user_header: bool = False):
    """Start the adapter; returns the (already started) server object.
    Call ``.shutdown()`` to stop. ThreadingHTTPServer: Spark job
    submission is thread-safe, concurrent requests just become
    concurrent Spark jobs sharing the session's scheduler.

    ``user_dir`` enables the index-management surface (create / upload /
    delete user corpora, register input formats — the reference's
    user-area, RequestHandlerCreateIndex.java etc.); without it those
    routes answer 403 like an unauthenticated reference server.

    ``trust_user_header`` takes the requesting user from the
    ``X-BlackLab-User`` header. Set it only behind a proxy that
    authenticates users and sets that header itself; otherwise every
    request is unauthenticated."""
    manager = None
    if user_dir is not None:
        from blacklab_spark.search.manage import IndexManager

        if spark is None:
            if not corpora:
                raise ValueError(
                    "user_dir requires a SparkSession: pass spark= or "
                    "mount at least one corpus"
                )
            spark = next(iter(corpora.values())).spark
        manager = IndexManager(spark, user_dir, corpora)
    handler = make_handler(corpora, manager)
    handler.trust_user_header = trust_user_header
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
