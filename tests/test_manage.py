"""Index-management HTTP surface (reference RequestHandlerCreateIndex /
AddToIndex / DeleteIndex / Sharing / ListInputFormats / AddFormat,
server/.../requesthandlers/; REST docs site/docs/server/rest-api/post.md
and corpus/docs/post.md): create a user corpus over HTTP, upload
documents into it, query it, share it, delete it; register and remove
user input formats."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request

import pytest

from blacklab_spark.search.webservice import serve

BOUNDARY = "testboundary1234"


def _multipart(files: list[tuple[str, str, bytes]],
               fields: dict | None = None) -> tuple[bytes, str]:
    out = []
    for k, v in (fields or {}).items():
        out.append(
            f'--{BOUNDARY}\r\nContent-Disposition: form-data; '
            f'name="{k}"\r\n\r\n{v}\r\n'.encode()
        )
    for field, fname, data in files:
        out.append(
            f'--{BOUNDARY}\r\nContent-Disposition: form-data; '
            f'name="{field}"; filename="{fname}"\r\n'
            f'Content-Type: application/octet-stream\r\n\r\n'.encode()
            + data + b"\r\n"
        )
    out.append(f"--{BOUNDARY}--\r\n".encode())
    return b"".join(out), f"multipart/form-data; boundary={BOUNDARY}"


@pytest.fixture(scope="module")
def mgd(small_corpus, tmp_path_factory):
    corpus, _ = small_corpus
    user_dir = str(tmp_path_factory.mktemp("userdir"))
    srv = serve({"transcripts": corpus}, port=0, user_dir=user_dir)
    port = srv.server_address[1]

    def req(method: str, path: str, body: bytes | None = None,
            ctype: str | None = None, user: str | None = None):
        r = urllib.request.Request(
            f"http://127.0.0.1:{port}{path}", data=body, method=method
        )
        if ctype:
            r.add_header("Content-Type", ctype)
        if user:
            r.add_header("X-BlackLab-User", user)
        try:
            with urllib.request.urlopen(r, timeout=300) as resp:
                raw = resp.read().decode()
                ct = resp.headers.get("Content-Type", "")
                return resp.status, json.loads(raw) if "json" in ct else raw
        except urllib.error.HTTPError as e:
            raw = e.read().decode()
            try:
                return e.code, json.loads(raw)
            except json.JSONDecodeError:
                return e.code, raw

    req.user_dir = user_dir
    yield req
    srv.shutdown()


def test_input_formats_list(mgd):
    status, body = mgd("GET", "/input-formats")
    assert status == 200
    fmts = body["supportedInputFormats"]
    assert fmts["txt"]["configurationBased"] is False
    assert fmts["tei-p5"]["configurationBased"] is True
    assert "folia" in fmts and "chat" in fmts
    assert body["user"]["canCreateIndex"] is True


def test_input_format_get(mgd):
    status, body = mgd("GET", "/input-formats/tei-p5")
    assert status == 200
    assert body["formatName"] == "tei-p5"
    assert body["configFile"]
    status, body = mgd("GET", "/input-formats/nope")
    assert status == 404
    assert body["error"]["code"] == "FORMAT_NOT_FOUND"


def test_corpus_lifecycle(mgd):
    # create (POST / with name+format; reference answers 201)
    status, body = mgd("POST", "/", b"name=mine&format=txt",
                       "application/x-www-form-urlencoded")
    assert status == 201, body
    # duplicate name rejected
    status, body = mgd("POST", "/", b"name=mine&format=txt",
                       "application/x-www-form-urlencoded")
    assert status == 400
    assert body["error"]["code"] == "INDEX_ALREADY_EXISTS"
    # server info shows it as empty
    status, body = mgd("GET", "/")
    assert body["indices"]["mine"]["status"] == "empty"
    # status route before any upload
    status, body = mgd("GET", "/mine/status")
    assert status == 200 and body["status"] == "empty"
    # hits against an empty corpus → 409 INDEX_EMPTY
    status, body = mgd("GET", '/mine/hits?patt=%22a%22')
    assert status == 409

    # upload two plaintext documents (POST /<corpus>/docs multipart)
    body_bytes, ctype = _multipart([
        ("data", "doc1.txt", b"alpha beta gamma alpha"),
        ("data", "doc2.txt", b"beta delta"),
    ])
    status, body = mgd("POST", "/mine/docs", body_bytes, ctype)
    assert status == 200, body

    # the corpus is now live and queryable
    status, body = mgd("GET", '/mine/hits?patt=%22alpha%22')
    assert status == 200
    assert body["summary"]["numberOfHits"] == 2
    status, body = mgd("GET", "/mine")
    assert body["documentCount"] == 2

    # second upload appends an incremental segment
    body_bytes, ctype = _multipart([("data", "doc3.txt", b"alpha zeta")])
    status, body = mgd("POST", "/mine/docs", body_bytes, ctype)
    assert status == 200, body
    status, body = mgd("GET", '/mine/hits?patt=%22alpha%22&usecache=no')
    assert body["summary"]["numberOfHits"] == 3

    # sharing list persists
    status, body = mgd("POST", "/mine/sharing", b"users=a@x,b@y",
                       "application/x-www-form-urlencoded")
    assert status == 200
    status, body = mgd("GET", "/mine/sharing")
    assert body["users[]"] == ["a@x", "b@y"]

    # mounted (non-user) corpora are protected
    status, body = mgd("DELETE", "/transcripts")
    assert status == 403

    # delete the user corpus
    status, body = mgd("DELETE", "/mine")
    assert status == 200
    status, body = mgd("GET", "/mine")
    assert status == 404


def test_upload_without_create(mgd):
    body_bytes, ctype = _multipart([("data", "d.txt", b"x")])
    status, body = mgd("POST", "/ghost/docs", body_bytes, ctype)
    assert status == 403


def test_bad_corpus_name(mgd):
    # names made only of dots would address the user area or its parent
    for name in (b"bad%20name", b"..", b"."):
        status, body = mgd("POST", "/", b"name=" + name + b"&format=txt",
                           "application/x-www-form-urlencoded")
        assert status == 400, name
        assert body["error"]["code"] == "ILLEGAL_INDEX_NAME"
    # ... and deleting one removes nothing
    parent = os.path.dirname(mgd.user_dir)
    before = sorted(os.listdir(parent)), sorted(os.listdir(mgd.user_dir))
    status, _ = mgd("DELETE", "/..")
    assert status in (403, 404)
    assert (sorted(os.listdir(parent)), sorted(os.listdir(mgd.user_dir))) \
        == before
    status, body = mgd("POST", "/", b"name=ok&format=nosuch",
                       "application/x-www-form-urlencoded")
    assert status == 400
    assert body["error"]["code"] == "FORMAT_NOT_FOUND"
    # server-route names are reserved (they would shadow /metrics etc.)
    status, body = mgd("POST", "/", b"name=metrics&format=txt",
                       "application/x-www-form-urlencoded")
    assert status == 400
    assert body["error"]["code"] == "ILLEGAL_INDEX_NAME"


def test_private_corpus_enforcement(mgd):
    """Corpora created with a userid are private: owner-only management,
    owner-or-shared read (reference User.java / Index.userMayRead /
    RequestHandler.mustBeOwner; userid via X-BlackLab-User header)."""
    form = "application/x-www-form-urlencoded"
    status, body = mgd("POST", "/", b"name=priv&format=txt", form,
                       user="alice")
    assert status == 201, body
    up, ctype = _multipart([("data", "d.txt", b"alpha beta")])
    # non-owner / anonymous cannot upload
    status, body = mgd("POST", "/priv/docs", up, ctype, user="bob")
    assert status == 403 and body["error"]["code"] == "NOT_AUTHORIZED"
    status, body = mgd("POST", "/priv/docs", up, ctype)
    assert status == 403
    # owner can
    status, body = mgd("POST", "/priv/docs", up, ctype, user="alice")
    assert status == 200, body
    # read access: owner yes, others no
    status, body = mgd("GET", '/priv/hits?patt=%22alpha%22', user="alice")
    assert status == 200 and body["summary"]["numberOfHits"] == 1
    status, body = mgd("GET", '/priv/hits?patt=%22alpha%22', user="bob")
    assert status == 403 and body["error"]["code"] == "NOT_AUTHORIZED"
    status, body = mgd("GET", '/priv/hits?patt=%22alpha%22')
    assert status == 403
    # private corpus hidden from other users' server info
    status, body = mgd("GET", "/", user="bob")
    assert "priv" not in body["indices"]
    status, body = mgd("GET", "/", user="alice")
    assert "priv" in body["indices"]
    assert body["user"] == {"loggedIn": True, "id": "alice",
                            "canCreateIndex": True}
    # sharing is owner-only to manage; a shared user gains read access
    status, body = mgd("POST", "/priv/sharing", b"users=bob", form,
                       user="bob")
    assert status == 403
    status, body = mgd("POST", "/priv/sharing", b"users=bob", form,
                       user="alice")
    assert status == 200
    status, body = mgd("GET", '/priv/hits?patt=%22alpha%22', user="bob")
    assert status == 200 and body["summary"]["numberOfHits"] == 1
    # shared ≠ owner: bob still cannot delete
    status, body = mgd("DELETE", "/priv", user="bob")
    assert status == 403 and body["error"]["code"] == "NOT_AUTHORIZED"
    status, body = mgd("DELETE", "/priv", user="alice")
    assert status == 200


USER_BLF = """\
documentPath: //doc
annotatedFields:
  contents:
    wordPath: .//w
    annotations:
    - name: word
      valuePath: .
    - name: lemma
      valuePath: "@l"
metadata:
  fields:
  - name: conv_id
    valuePath: "@pid"
"""

USER_XML = (b'<corpus><doc pid="d1"><w l="walk">walked</w>'
            b'<w l="home">home</w></doc></corpus>')


def test_user_format_roundtrip(mgd):
    # register a custom blf.yaml format
    body_bytes, ctype = _multipart([("data", "myfmt.blf.yaml",
                                     USER_BLF.encode())])
    status, body = mgd("POST", "/input-formats", body_bytes, ctype)
    assert status == 200, body
    status, body = mgd("GET", "/input-formats/myfmt")
    assert status == 200 and "wordPath" in body["configFile"]
    status, body = mgd("GET", "/input-formats")
    assert "myfmt" in body["supportedInputFormats"]

    # build a corpus with it
    status, body = mgd("POST", "/", b"name=xmlcorp&format=myfmt",
                       "application/x-www-form-urlencoded")
    assert status == 201, body
    body_bytes, ctype = _multipart([("data", "c.xml", USER_XML)])
    status, body = mgd("POST", "/xmlcorp/docs", body_bytes, ctype)
    assert status == 200, body
    status, body = mgd("GET", '/xmlcorp/hits?patt=%5Blemma%3D%22walk%22%5D')
    assert status == 200
    assert body["summary"]["numberOfHits"] == 1
    assert body["hits"][0]["match"]["word"] == ["walked"]

    mgd("DELETE", "/xmlcorp")
    status, body = mgd("DELETE", "/input-formats/myfmt")
    assert status == 200
    status, body = mgd("GET", "/input-formats/myfmt")
    assert status == 404
    # built-ins can't be deleted
    status, body = mgd("DELETE", "/input-formats/txt")
    assert status == 403


def test_zip_upload(mgd):
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", "epsilon theta")
        zf.writestr("b.txt", "epsilon iota")
    status, body = mgd("POST", "/", b"name=zipped&format=txt",
                       "application/x-www-form-urlencoded")
    assert status == 201
    body_bytes, ctype = _multipart([("data", "docs.zip", buf.getvalue())])
    status, body = mgd("POST", "/zipped/docs", body_bytes, ctype)
    assert status == 200, body
    status, body = mgd("GET", '/zipped/hits?patt=%22epsilon%22')
    assert body["summary"]["numberOfHits"] == 2
    mgd("DELETE", "/zipped")


def test_cache_clear(mgd):
    status, body = mgd("GET", "/cache-clear")
    assert status == 200 and body["code"] == "SUCCESS"


def test_manager_reload(mgd, spark):
    """Restart persistence: a fresh IndexManager over the same user_dir
    re-mounts built corpora and re-registers user formats."""
    from blacklab_spark.search.manage import IndexManager

    status, _ = mgd("POST", "/", b"name=persist&format=txt",
                    "application/x-www-form-urlencoded")
    assert status == 201
    body_bytes, ctype = _multipart([("data", "p.txt", b"kappa lambda")])
    status, body = mgd("POST", "/persist/docs", body_bytes, ctype)
    assert status == 200, body

    registry: dict = {}
    mgr2 = IndexManager(spark, mgd.user_dir, registry)
    assert "persist" in mgr2.user_corpora
    assert "persist" in registry  # re-opened as a live Corpus
    assert registry["persist"].search(patt='"kappa"').count() == 1
    mgd("DELETE", "/persist")


def test_format_xslt(mgd):
    """GET /input-formats/<name>/xslt (RequestHandlerListInputFormats
    isXsltRequest / XslGenerator.generateXsltFromConfig): XML formats
    yield a display stylesheet; non-XML formats answer NOT_FOUND."""
    import xml.etree.ElementTree as ET

    status, body = mgd("GET", "/input-formats/tei-p5/xslt")
    assert status == 200 and isinstance(body, str)
    # a well-formed XSLT 2.0 stylesheet with the reference's shapes
    root = ET.fromstring(body)
    assert root.tag.endswith("stylesheet")
    assert 'class="hl"' in body and 'class="word"' in body
    # tei-p5 wordPath .//w under container .//text under //TEI
    assert 'match="//TEI//text//w"' in body
    # lemma tooltip attribute (tei-p5 has a lemma annotation)
    assert "data-lemma" in body
    # no namespaces declared -> the namespace-stripping preprocessing pass
    assert "remove-namespaces" in body
    # non-XML format -> reference NOT_FOUND message
    status, body = mgd("GET", "/input-formats/csv/xslt")
    assert status == 404
    assert body["error"]["code"] == "NOT_FOUND"
    assert "cannot be converted to XSLT" in body["error"]["message"]
