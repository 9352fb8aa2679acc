"""User-corpus + input-format management for the HTTP adapter.

The reference's blacklab-server lets authenticated users create private
corpora over HTTP, upload documents into them, share them, and register
custom input formats (server/.../requesthandlers/RequestHandlerCreateIndex.java,
RequestHandlerAddToIndex.java, RequestHandlerDeleteIndex.java,
RequestHandlerSharing.java, RequestHandlerListInputFormats.java,
RequestHandlerAddFormat.java; REST docs site/docs/server/rest-api/post.md,
corpus/docs/post.md, input-formats/*). This module is that surface for
the stdlib adapter in `webservice.py`: a directory of user indexes, a
multipart parser, and the create / add-docs / delete / sharing / format
operations — all built on the same public engine entry points the CLI
jobs use (`Corpus.build`, `index.incremental.add_documents`,
`index.ingest.read_input`, `index.xml_ingest` parse/spans).

Authentication (documented divergence, narrowed in round 5): the
reference delegates user identity to pluggable auth
(server/.../lib/User.java; AuthDebugFixed / AuthRequestAttribute read a
userid off the request). This adapter reads the ``X-BlackLab-User``
header — set by a fronting authenticating proxy — as that userid. When
a request carries a userid, corpora it creates are owned by it and are
private: only the owner may delete / add documents / manage sharing,
and only the owner or users on the persisted ``.shareWithUsers`` list
may read them (the enforcement RequestHandler.mustBeOwner /
Index.userMayRead perform in the reference). Requests without the
header behave like the reference's unauthenticated mode: they can
neither create nor read private corpora.

Scale posture: uploads land on local disk and are parsed by the SAME
distributed ingestion used for batch builds; an index "add" is an
incremental segment append (write-once segments, tombstone deletes), so
repeated uploads never rewrite existing data.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile

from blacklab_spark.search.server import error_response

# display metadata for the shipped formats (reference
# DocumentFormats.java + core/src/main/resources/formats/*.blf.yaml
# displayName/description keys)
FORMAT_INFO: dict[str, tuple[str, str]] = {
    "txt": ("plain text", "A plain old text file."),
    "csv": ("CSV (comma-separated values)",
            "Tabular format; word/lemma/pos columns."),
    "tsv": ("TSV (tab-separated values)",
            "A simple tabular format used by e.g. MS Excel."),
    "tsv-frog": ("Frog tabular output",
                 "Tab-separated output of the Frog NLP suite."),
    "jsonl": ("JSON lines", "One JSON document (turn) per line."),
    "chat": ("CHAT (Codes for the Human Analysis of Transcripts)",
             "Format for transcribed conversations (CHILDES project)."),
    "sketch-wpl": ("Sketch Engine WPL (word-per-line) input format",
                   "word, lemma and PoS codes plus punctuation, inline "
                   "tags and document metadata."),
    "xml": ("generic XML", "Word-per-element XML with attribute "
            "annotations."),
    "tei-p5": ("TEI P5, contents in text, @pos as PoS",
               "A TEI P5 variant where the contents to index are in "
               "the text element."),
    "tei-p5-legacy": ("TEI P5 (legacy), @type as PoS",
                      "Older TEI P5 variant; PoS in the type attribute."),
    "tei-p4-legacy": ("TEI P4 (legacy)", "TEI P4 variant."),
    "folia": ("FoLiA (Format for Linguistic Annotation)",
              "A rich XML annotation format developed at Radboud "
              "University Nijmegen."),
    "naf": ("NAF (NLP Annotation Format)",
            "A standoff layered annotation format."),
    "eaf": ("EAF (ELAN Annotation Format)",
            "Tier-based annotation format of the ELAN tool."),
    "tcf": ("TCF (Text Corpus Format)",
            "A text corpus format developed for WebLicht."),
    "cmdi": ("CMDI (Component MetaData Infrastructure)",
             "Metadata-only documents, linked from content corpora."),
    "testformat": ("integration-test format",
                   "The reference's own test corpus format."),
}

# a name made only of dots ('.', '..') would address the user area or
# its parent as a corpus directory
_NAME_RE = re.compile(r"^(?!\.+$)[\w.:@-]+$")


def formats_response(user_formats: dict | None = None,
                     can_create: bool = False) -> dict:
    """GET /input-formats (ResultListInputFormats.java; REST doc
    input-formats/get.md response shape)."""
    from blacklab_spark.index.ingest import READERS
    from blacklab_spark.index.xml_ingest import FORMATS

    out = {}
    for name in sorted(set(READERS) | set(FORMATS)):
        disp, desc = FORMAT_INFO.get(name, (name, ""))
        out[name] = {
            "displayName": disp,
            "description": desc,
            "configurationBased": name in FORMATS,
            "isVisible": True,
        }
    for name in user_formats or {}:
        out[name] = {
            "displayName": name,
            "description": "user-defined format",
            "configurationBased": True,
            "isVisible": True,
        }
    return {
        "user": {"loggedIn": False, "canCreateIndex": can_create},
        "supportedInputFormats": out,
    }


def _norm_xp(p: str | None) -> str:
    """XslGenerator.normalizeXpath: strip leading '.' (keep '//'),
    strip trailing './'."""
    p = (p or "").lstrip(".")
    if not p.startswith("//"):
        p = p.lstrip("/")
    return p.rstrip("./")


def _join_xp(*parts: str | None) -> str:
    """XslGenerator.joinXpath chain (no '|' handling: the config loader
    rejects unions before we get here)."""
    out = ""
    for p in parts:
        p = _norm_xp(p)
        if not p:
            continue
        if not out:
            out = p
        elif p.startswith("/"):
            out = out + p
        else:
            out = f"{out}/{p}"
    return out or "."


def _spec_xp(spec: str) -> str:
    """Engine valuePath spec back to XPath for display ('' -> '.',
    'child:a/b@c' -> 'a/b/@c', 'desc:a@c' -> './/a/@c')."""
    if not spec:
        return "."
    if spec.startswith("@"):
        return spec
    for prefix, lead in (("child:", ""), ("desc:", ".//")):
        if spec.startswith(prefix):
            body, sep, attr = spec[len(prefix):].rpartition("@")
            if not sep or "]" in attr or "=" in attr:
                body, attr = spec[len(prefix):], ""
            return lead + body + (f"/@{attr}" if attr else "")
    return spec


def generate_xslt(fmt) -> str:
    """XSLT turning a document of this XML format into the basic HTML
    view the reference's corpus-frontend consumes — a faithful
    re-expression of wslib XslGenerator.java:117-303
    generateXsltFromConfig: swallow unmatched text, <hl> -> span.hl,
    one template per word (value-of the main/word annotation, lemma as
    a data-lemma tooltip attribute), one per inline tag, the
    no-words-found namespace warning, and the namespace-stripping
    pass when the config declares no namespaces."""
    from blacklab_spark.index.xml_ingest import XmlFormat

    if not isinstance(fmt, XmlFormat):
        raise KeyError("not an XML format")
    raw = fmt.raw_paths or {}
    doc_path = raw.get("document") or f"//{fmt.document_tag}"
    container = raw.get("container") or (
        f".//{fmt.container_tag}" if fmt.container_tag else None
    )
    word_path = raw.get("word") or f".//{fmt.word_tag}"
    ns = dict(fmt.namespaces or {})
    default_ns = ns.pop("", None)
    opt_default = (
        f'xpath-default-namespace="{default_ns}" ' if default_ns else ""
    )
    ns_decls = "".join(f' xmlns:{k}="{v}"' for k, v in ns.items())
    excl = " ".join(ns)
    word_base = _join_xp(doc_path, container, word_path)

    def word_select(name: str) -> str | None:
        if name == "word" and not raw.get("ann:word"):
            return _spec_xp(fmt.word_value)
        r = raw.get(f"ann:{name}")
        if r is not None:
            return _join_xp(r[0], r[1]) if r[0] else (_norm_xp(r[1]) or ".")
        if name in fmt.annotations:
            return _spec_xp(fmt.annotations[name])
        return None

    out = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<xsl:stylesheet version="2.0" '
        f'xmlns:xsl="http://www.w3.org/1999/XSL/Transform" '
        f'{opt_default}{ns_decls} exclude-result-prefixes="{excl}">',
        '<xsl:output encoding="utf-8" method="html" '
        'omit-xml-declaration="yes" />',
        # swallow everything not explicitly matched
        "<xsl:template match='text()' priority='-10' ></xsl:template>",
        # blacklab-inserted <hl> -> span (local-name sidesteps namespaces)
        '<xsl:template match="*[local-name(.)=\'hl\']">'
        '<span class="hl"><xsl:apply-templates select="node()" /></span>'
        "</xsl:template>",
    ]
    lemma_sel = word_select("lemma")
    word_sel = word_select("word") or "."
    out.append(f'<xsl:template match="{word_base}"><span class="word">')
    if lemma_sel is not None and lemma_sel != word_sel:
        out.append(
            '<xsl:attribute name="data-toggle" select="\'tooltip\'"/>'
            '<xsl:attribute name="data-lemma">'
            f"<xsl:value-of select='{lemma_sel}'/>"
            "</xsl:attribute>"
        )
    out.append(f'<xsl:value-of select="{word_sel}"/>')
    out.append("</span><xsl:text> </xsl:text></xsl:template>")
    inline = raw.get("inline") or [
        (f".//{t}", "") for t in (fmt.inline_tags or ())
    ]
    for path, display_as in inline:
        css = display_as or re.sub(
            r"\W+", " ", re.sub(r"\b\w+:", "", path)
        ).strip().replace(" ", "-")
        out.append(
            f'<xsl:template match="{_join_xp(doc_path, container, path)}">'
            f'<span class="{css}"><xsl:apply-templates select="node()" />'
            "</span></xsl:template>"
        )
    warning = (
        "No words have been found within this entire document. This "
        "usually happens when your document contains namespaces, but the "
        "format you used to index the document doesn't use any namespaces."
    )
    out.append(
        '<xsl:template match="/" mode="pass2"><xsl:choose>'
        f'<xsl:when test="{word_base}"><xsl:apply-templates/></xsl:when>'
        f"<xsl:otherwise><xsl:text>{warning}</xsl:text></xsl:otherwise>"
        "</xsl:choose></xsl:template>"
    )
    if not fmt.namespaces:
        out.append(
            '<xsl:template match="/">'
            '<xsl:variable name="withoutNamespaces">'
            '<xsl:apply-templates select="." mode="remove-namespaces"/>'
            "</xsl:variable>"
            '<xsl:apply-templates select="$withoutNamespaces" mode="pass2"/>'
            "</xsl:template>"
            '<xsl:template match="*" mode="remove-namespaces">'
            '<xsl:element name="{local-name()}">'
            '<xsl:apply-templates select="@* | node()" mode="remove-namespaces"/>'
            "</xsl:element></xsl:template>"
            '<xsl:template match="@*" mode="remove-namespaces">'
            '<xsl:attribute name="{local-name()}">'
            '<xsl:value-of select="."/></xsl:attribute></xsl:template>'
            '<xsl:template match="comment() | text() | processing-instruction()"'
            ' mode="remove-namespaces"><xsl:copy/></xsl:template>'
        )
    else:
        out.append(
            '<xsl:template match="/">'
            '<xsl:apply-templates select="." mode="pass2"/>'
            "</xsl:template>"
        )
    out.append("</xsl:stylesheet>")
    return "".join(out)


def format_xslt(name: str, user_formats: dict | None = None):
    """GET /input-formats/<name>/xslt (RequestHandlerListInputFormats
    isXsltRequest; served as XML). Non-XML formats answer the
    reference's NOT_FOUND."""
    from blacklab_spark.index.xml_ingest import FORMATS

    fmt = None
    if user_formats and name in user_formats:
        fmt = user_formats[name][0]
    elif name in FORMATS:
        fmt = FORMATS[name]
    try:
        return 200, generate_xslt(fmt)
    except KeyError:
        return 404, error_response(
            "NOT_FOUND",
            f"The format '{name}' does not apply to XML-type documents, "
            f"and cannot be converted to XSLT.",
        )


def format_get(name: str, user_formats: dict | None = None):
    """GET /input-formats/<name> (input-formats/name/get.md)."""
    if user_formats and name in user_formats:
        return 200, {"formatName": name, "configFileType": "yaml",
                     "configFile": user_formats[name][1]}
    from blacklab_spark.index.ingest import READERS
    from blacklab_spark.index.xml_ingest import FORMATS

    if name in FORMATS:
        import dataclasses

        cfg = dataclasses.asdict(FORMATS[name])
        return 200, {"formatName": name, "configFileType": "json",
                     "configFile": json.dumps(cfg, default=str)}
    if name in READERS:
        return 200, {"formatName": name, "configFileType": "builtin",
                     "configFile": ""}
    return 404, error_response("FORMAT_NOT_FOUND",
                               f"Unknown input format '{name}'.")


def parse_multipart(body: bytes, content_type: str):
    """Minimal RFC 7578 multipart/form-data parser (stdlib only; the
    reference uses commons-fileupload, FileUploadHandler.java).

    Returns ``(fields, files)``: plain form fields as {name: value} and
    files as a list of (field_name, filename, bytes).
    """
    m = re.search(r'boundary="?([^";]+)"?', content_type)
    if not m:
        raise ValueError("multipart body without boundary")
    boundary = b"--" + m.group(1).encode()
    fields: dict[str, str] = {}
    files: list[tuple[str, str, bytes]] = []
    for part in body.split(boundary):
        part = part.strip(b"\r\n")
        if not part or part == b"--":
            continue
        head, _, data = part.partition(b"\r\n\r\n")
        disp = ""
        for line in head.decode("utf-8", "replace").splitlines():
            if line.lower().startswith("content-disposition:"):
                disp = line
        name_m = re.search(r'name="([^"]*)"', disp)
        file_m = re.search(r'filename="([^"]*)"', disp)
        if not name_m:
            continue
        if file_m:
            files.append((name_m.group(1), file_m.group(1), data))
        else:
            fields[name_m.group(1)] = data.decode("utf-8", "replace")
    return fields, files


def _safe_extract_dir(archive_names, dest: str) -> None:
    for n in archive_names:
        p = os.path.normpath(os.path.join(dest, n))
        if not p.startswith(os.path.abspath(dest)):
            raise ValueError(f"archive member escapes extraction dir: {n}")


class IndexManager:
    """Create/feed/delete user corpora under one directory; register
    user input formats. State survives restarts: each corpus keeps a
    ``corpus.json`` descriptor next to its index, user formats live in
    ``<user_dir>/_formats/``."""

    def __init__(self, spark, user_dir: str, corpora: dict):
        self.spark = spark
        self.user_dir = os.path.abspath(user_dir)
        self.corpora = corpora  # shared registry with the router
        self.user_corpora: dict[str, dict] = {}
        self.user_formats: dict[str, tuple[object, str]] = {}
        os.makedirs(self.user_dir, exist_ok=True)
        self._reload()

    # ---- persistence ----------------------------------------------------
    def _reload(self) -> None:
        from blacklab_spark.corpus import Corpus

        fmt_dir = os.path.join(self.user_dir, "_formats")
        if os.path.isdir(fmt_dir):
            for fn in sorted(os.listdir(fmt_dir)):
                if fn.endswith((".yaml", ".yml")):
                    name = fn.rsplit(".blf.", 1)[0].rsplit(".", 1)[0]
                    try:
                        self._register_format(
                            name, open(os.path.join(fmt_dir, fn)).read()
                        )
                    except Exception:
                        pass  # corrupt user format: skip, don't crash serve
        for d in sorted(os.listdir(self.user_dir)):
            desc_path = os.path.join(self.user_dir, d, "corpus.json")
            if not os.path.exists(desc_path):
                continue
            desc = json.load(open(desc_path))
            name = desc["name"]
            self.user_corpora[name] = {**desc,
                                       "dir": os.path.join(self.user_dir, d)}
            if os.path.exists(os.path.join(self.user_dir, d, "meta.json")):
                self.corpora[name] = Corpus.open(
                    self.spark, os.path.join(self.user_dir, d)
                )

    def _dirname(self, name: str) -> str | None:
        """The corpus directory of ``name``: a direct child of
        ``user_dir`` once symlinks and dots resolve, else None."""
        d = os.path.realpath(os.path.join(self.user_dir, name.replace(":", "__")))
        return d if os.path.dirname(d) == os.path.realpath(self.user_dir) else None

    # ---- access control ---------------------------------------------------
    def _owner(self, name: str) -> str | None:
        info = self.user_corpora.get(name)
        return info.get("owner") if info else None

    def _shared_with(self, name: str) -> list[str]:
        info = self.user_corpora.get(name)
        if info is None:
            return []
        p = os.path.join(info["dir"], ".shareWithUsers.json")
        return json.load(open(p)) if os.path.exists(p) else []

    def can_access(self, name: str, user: str | None) -> bool:
        """May ``user`` read corpus ``name``? Mounted (non-user) corpora
        and ownerless user corpora are public; owned corpora require the
        owner or a user on the share list (reference Index.userMayRead:
        owner, shareWithUsers, or a public index)."""
        owner = self._owner(name)
        if owner is None:
            return True
        return user == owner or user in self._shared_with(name)

    def _must_own(self, name: str, user: str | None):
        """None if ``user`` may manage ``name``, else the 403 response
        (reference RequestHandler.mustBeOwner semantics: management of a
        user corpus is owner-only; ownerless corpora keep the adapter's
        open-management mode)."""
        if name not in self.user_corpora:
            return 403, error_response(
                "FORBIDDEN_REQUEST",
                "Can only manage your own private indices.",
            )
        owner = self._owner(name)
        if owner is not None and user != owner:
            return 403, error_response(
                "NOT_AUTHORIZED",
                "You are not authorized to manage this index.",
            )
        return None

    # ---- corpus lifecycle -------------------------------------------------
    def create(self, q: dict, user: str | None = None):
        """POST / — create an empty user corpus
        (RequestHandlerCreateIndex.java:22-40; 201 on success). With a
        userid, the corpus is recorded as owned and becomes private."""
        from blacklab_spark.search.webservice import RESERVED_NAMES

        name = q.get("name") or ""
        d = self._dirname(name) if _NAME_RE.match(name) else None
        if d is None or name in RESERVED_NAMES:
            return 400, error_response(
                "ILLEGAL_INDEX_NAME",
                "You didn't specify a valid name parameter.",
            )
        if name in self.corpora or name in self.user_corpora:
            return 400, error_response(
                "INDEX_ALREADY_EXISTS", f"Index '{name}' already exists."
            )
        fmt = q.get("format") or "txt"
        if not self._format_known(fmt):
            return 400, error_response(
                "FORMAT_NOT_FOUND", f"Unknown input format '{fmt}'."
            )
        os.makedirs(d, exist_ok=True)
        desc = {"name": name, "format": fmt,
                "display": q.get("display") or name}
        if user is not None:
            desc["owner"] = user
        with open(os.path.join(d, "corpus.json"), "w") as f:
            json.dump(desc, f)
        self.user_corpora[name] = {**desc, "dir": d}
        return 201, {"code": "SUCCESS", "message": "Index created succesfully."}

    def delete(self, name: str, user: str | None = None):
        """DELETE /<corpus> (RequestHandlerDeleteIndex; only the owner
        of a user-created corpus may delete it — mounts are read-only,
        matching the reference's user-area restriction)."""
        denied = self._must_own(name, user)
        if denied is not None:
            return denied
        info = self.user_corpora.pop(name)
        self.corpora.pop(name, None)
        shutil.rmtree(info["dir"], ignore_errors=True)
        return 200, {"code": "SUCCESS", "message": "Index deleted succesfully."}

    def add_docs(self, name: str, files, fields: dict | None = None,
                 user: str | None = None):
        """POST /<corpus>/docs — upload documents (data / data[] /
        linkeddata parts; .zip and .tar.gz accepted) and index them
        (RequestHandlerAddToIndex.java:41-100; corpus/docs/post.md).
        First upload builds the index, later uploads append incremental
        segments."""
        denied = self._must_own(name, user)
        if denied is not None:
            return denied
        info = self.user_corpora[name]
        tmp = tempfile.mkdtemp(prefix="bls_upload_")
        try:
            n_data = self._unpack_uploads(files, tmp)
            if not n_data:
                return 400, error_response(
                    "NO_DATA", "No data files were uploaded."
                )
            transcripts, extra_spans = self._parse_dir(tmp, info["format"])
            idx = info["dir"]
            if os.path.exists(os.path.join(idx, "meta.json")):
                from blacklab_spark.index.incremental import add_documents

                # the served Corpus sees the append as a new generation
                add_documents(self.spark, idx, transcripts,
                              extra_spans=extra_spans)
            else:
                from blacklab_spark.config import EngineConfig
                from blacklab_spark.corpus import Corpus

                self.corpora[name] = Corpus.build(
                    self.spark, transcripts, idx,
                    EngineConfig(segment_size=1 << 12),
                    extra_spans=extra_spans,
                )
            return 200, {"code": "SUCCESS", "message": "Data added succesfully."}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def _unpack_uploads(self, files, tmp: str) -> int:
        import tarfile
        import zipfile

        n_data = 0
        for field, fname, data in files or []:
            if field not in ("data", "data[]", "linkeddata", "linkeddata[]"):
                continue
            base = os.path.basename(fname or f"upload{n_data}.txt")
            p = os.path.join(tmp, base)
            with open(p, "wb") as f:
                f.write(data)
            if base.endswith(".zip"):
                with zipfile.ZipFile(p) as zf:
                    _safe_extract_dir(zf.namelist(), tmp)
                    zf.extractall(tmp)
                os.remove(p)
            elif base.endswith((".tar.gz", ".tgz")):
                with tarfile.open(p) as tf:
                    tf.extractall(tmp, filter="data")
                os.remove(p)
            if field in ("data", "data[]"):
                n_data += 1
        return n_data

    def _parse_dir(self, path: str, fmt: str):
        """Uploaded files -> canonical transcript DataFrame (+ spans for
        XML formats) through the same distributed readers the batch
        build job uses (jobs/build_index.py)."""
        from blacklab_spark.index.xml_ingest import (
            FORMATS, parse_xml_files, read_xml, xml_spans,
        )

        fmt_obj = fmt
        if fmt in self.user_formats:
            fmt_obj = self.user_formats[fmt][0]
        if not isinstance(fmt_obj, str) or fmt_obj in FORMATS:
            src = os.path.join(path, "*")
            parsed = parse_xml_files(self.spark, src, fmt_obj, keep_xml=True)
            parsed.persist()
            transcripts = read_xml(self.spark, src, fmt_obj, parsed=parsed,
                                   keep_xml=True)
            return transcripts, xml_spans(self.spark, src, fmt_obj,
                                          parsed=parsed)
        from blacklab_spark.index.ingest import read_input

        return read_input(self.spark, path, fmt_obj), None

    # ---- sharing ----------------------------------------------------------
    def sharing(self, name: str, q: dict, method: str,
                user: str | None = None):
        """GET/POST /<corpus>/sharing (RequestHandlerSharing; list
        persisted as .shareWithUsers.json next to the index — the
        reference keeps a .shareWithUsers file the same way, and only
        the owner may view or change it)."""
        denied = self._must_own(name, user)
        if denied is not None:
            return denied
        info = self.user_corpora[name]
        p = os.path.join(info["dir"], ".shareWithUsers.json")
        if method == "POST":
            raw = q.get("users[]", q.get("users", ""))
            users = [u.strip() for u in raw.split(",") if u.strip()] \
                if isinstance(raw, str) else list(raw)
            with open(p, "w") as f:
                json.dump(users, f)
            return 200, {"code": "SUCCESS",
                         "message": "Index shared with specified user(s)."}
        users = json.load(open(p)) if os.path.exists(p) else []
        return 200, {"users[]": users}

    # ---- input formats ------------------------------------------------------
    def _format_known(self, fmt: str) -> bool:
        from blacklab_spark.index.ingest import READERS
        from blacklab_spark.index.xml_ingest import FORMATS

        return fmt in READERS or fmt in FORMATS or fmt in self.user_formats

    def _register_format(self, name: str, source: str):
        """blf.yaml text -> XmlFormat via the config engine
        (load_blf_config parses a file path; we stage the text)."""
        from blacklab_spark.index import xml_ingest

        with tempfile.NamedTemporaryFile(
            "w", suffix=".blf.yaml", delete=False
        ) as f:
            f.write(source)
            tmp_path = f.name
        try:
            fmt = xml_ingest.load_blf_config(tmp_path)
        finally:
            os.unlink(tmp_path)
        fmt.name = name
        self.user_formats[name] = (fmt, source)
        # visible to read_xml(cfg=<name>) / build jobs like a built-in
        xml_ingest.FORMATS[name] = fmt
        return fmt

    def formats_response(self) -> dict:
        return formats_response(self.user_formats, can_create=True)

    def format_get(self, name: str):
        return format_get(name, self.user_formats)

    def format_add(self, files):
        """POST /input-formats with a `data` file part
        (RequestHandlerAddFormat; name = filename minus .blf.yaml)."""
        for field, fname, data in files or []:
            if field not in ("data", "data[]"):
                continue
            base = os.path.basename(fname or "")
            if not base.endswith((".yaml", ".yml", ".blf.yaml")):
                return 400, error_response(
                    "ILLEGAL_INDEX_NAME",
                    "Format config must be a .blf.yaml file.",
                )
            name = base.rsplit(".blf.", 1)[0].rsplit(".", 1)[0]
            try:
                self._register_format(name, data.decode())
            except Exception as e:
                return 400, error_response("CONFIG_ERROR", str(e))
            fmt_dir = os.path.join(self.user_dir, "_formats")
            os.makedirs(fmt_dir, exist_ok=True)
            with open(os.path.join(fmt_dir, f"{name}.blf.yaml"), "w") as f:
                f.write(data.decode())
            return 200, {"code": "SUCCESS",
                         "message": "Format added succesfully."}
        return 400, error_response("NO_DATA", "No format file uploaded.")

    def format_delete(self, name: str):
        """DELETE /input-formats/<name> (input-formats/name/delete.md;
        built-ins are protected like the reference's)."""
        if name not in self.user_formats:
            return 403, error_response(
                "FORBIDDEN_REQUEST", "Can only delete your own formats."
            )
        from blacklab_spark.index import xml_ingest

        del self.user_formats[name]
        xml_ingest.FORMATS.pop(name, None)
        p = os.path.join(self.user_dir, "_formats", f"{name}.blf.yaml")
        if os.path.exists(p):
            os.unlink(p)
        return 200, {"code": "SUCCESS", "message": "Format deleted succesfully."}
