"""bls_mixed: two client connections from one separate client process,
sending requests in closed-loop rounds of two, against
``search.webservice.serve()`` over the serving corpus.

The mix covers /hits (phrase, ``[]{1,3}`` gap and regex patterns, pages
first in {0, 20, 40}), /hits?group=, /docs, /termfreq, /autocomplete and
/docs/<pid>/contents. Patterns come from a pool of 100 with Zipf
popularity, more than the search cache's 32 entries, so both cache hits
and misses occur. It is the only workload where ``cql``, span execution,
``search.cache``, envelope rendering and concurrent job scheduling carry
the load; it runs no ``search.bm25`` code and no writes.

Two connections in rounds, not four free-running ones: on four cores,
four concurrent requests (each running Spark jobs in the server) made
throughput swing by a third between runs on a shared host while adding
little of it, so the figures measured the scheduler rather than the
engine. Rounds keep each request beside the same partner (see
bls_client.py); two requests in flight still share the search cache.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time
import urllib.error
import urllib.request
from urllib.parse import quote, urlencode

import common
import gen
from serving import BLS_TURNS, Serving, ensure_all

CLIENTS = 2
PAGE = 20
CORPUS = "bench"
# warm-up requests besides the run's first searches (see run())
WARMUP = (
    "/termfreq?" + urlencode({"terms": "w00002,w00300"}),
    "/autocomplete/contents/word?" + urlencode({"term": "w0077"}),
)


def url_of(r: dict, pool: list[dict]) -> str:
    patt = pool[r["patt"]]["patt"]
    base = f"/{CORPUS}"
    if r["kind"] == "hits":
        return f"{base}/hits?" + urlencode({"patt": patt, "first": r["first"], "number": PAGE})
    if r["kind"] == "hits_grouped":
        return f"{base}/hits?" + urlencode({"patt": patt, "group": "field:role"})
    if r["kind"] == "docs":
        return f"{base}/docs?" + urlencode({"patt": patt, "number": PAGE})
    if r["kind"] == "termfreq":
        return f"{base}/termfreq?" + urlencode({"terms": ",".join(r["terms"])})
    if r["kind"] == "autocomplete":
        return f"{base}/autocomplete/contents/word?" + urlencode({"term": r["prefix"]})
    return (f"{base}/docs/{quote(r['pid'], safe='')}/contents?"
            + urlencode({"patt": f'"{r["hl"]}"'}))


class Incomplete(Exception):
    """A reply without a figure it must carry: a failed request, not a
    wrong answer."""


def check(r: dict, body: str, pool: list[dict], oracle) -> str | None:
    """None when the reply is right, else what is wrong; raises
    Incomplete for a reply that lacks a required figure."""
    kind = r["kind"]
    if kind == "contents":
        want = oracle.contents(r["pid"], r["hl"])
        text = re.sub(r"^<\?xml[^>]*\?>\s*", "", body)
        n_hl = text.count("<hl>")
        text = text.replace("<hl>", "").replace("</hl>", "")
        if text != want["text"] or n_hl != want["hl"]:
            return f"contents {r['pid']}: {n_hl} <hl> (want {want['hl']}), " \
                f"text {'equal' if text == want['text'] else 'differs'}"
        return None
    data = json.loads(body)
    if kind == "termfreq":
        want = oracle.term_freqs(r["terms"])
        return None if data["termFreq"] == want else f"termFreq {data['termFreq']} want {want}"
    if kind == "autocomplete":
        want = oracle.autocomplete(r["prefix"], 20)
        return None if data == want else f"autocomplete {r['prefix']}: {data} want {want}"
    want = oracle.pattern(pool[r["patt"]])
    s = data["summary"]
    got = (s["numberOfHits"], s["numberOfDocs"])
    if None in got:
        raise Incomplete(f"{kind} {pool[r['patt']]['patt']}: summary hits/docs {got}, "
                         f"oracle {(want['hits'], want['docs'])}")
    if got != (want["hits"], want["docs"]):
        return f"{kind} {pool[r['patt']]['patt']}: hits/docs {got} want " \
            f"{(want['hits'], want['docs'])}"
    if kind == "hits":
        n = max(0, min(PAGE, want["hits"] - r["first"]))
        if len(data["hits"]) != n:
            return f"hits page first={r['first']}: {len(data['hits'])} hits want {n}"
    elif kind == "hits_grouped":
        sizes = sorted(g["size"] for g in data["hitGroups"])
        if sizes != sorted(want["by_role"].values()):
            return f"group sizes {sizes} want {sorted(want['by_role'].values())}"
    elif kind == "docs" and len(data["docs"]) != min(PAGE, want["docs"]):
        return f"docs page: {len(data['docs'])} docs want {min(PAGE, want['docs'])}"
    return None


def fetch(port: int, path: str) -> str:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=300) as resp:
        return resp.read().decode()


def probe_empty_group(port: int, pool: list[dict], oracle) -> str | None:
    """Group the hits of a pool pattern that has none, once, outside the
    timed phase: None when the reply is right, else what is wrong. The
    timed requests group only patterns that match (gen.bls_requests), so
    this known defect shows here and not as a failed op in every run."""
    i = next(j for j, p in enumerate(pool) if oracle.pattern(p)["hits"] == 0)
    r = {"kind": "hits_grouped", "patt": i}
    url = url_of(r, pool)
    try:
        wrong = check(r, fetch(port, url), pool, oracle)
    except urllib.error.HTTPError as e:
        return f"{url} -> {e.code}"
    except (Incomplete, ValueError, KeyError, TypeError) as e:
        return f"{url}: incomplete reply {type(e).__name__}: {e}"
    return wrong and f"{url}: {wrong}"


def scrape(port: int) -> dict[str, tuple[int, float]]:
    """(count, sum seconds) per operation from /metrics."""
    text = fetch(port, "/metrics")
    out: dict[str, list] = {}
    for m in re.finditer(
        r'blacklab_request_seconds_(count|sum)\{corpus="[^"]*",operation="([^"]*)"\} (\S+)',
        text,
    ):
        e = out.setdefault(m.group(2), [0, 0.0])
        e[0 if m.group(1) == "count" else 1] += float(m.group(3))
    return {k: (int(v[0]), v[1]) for k, v in out.items()}


def traced_handlers(tracer) -> None:
    """Make serve() open a traced op per request that asks for one."""
    from blacklab_spark.search import webservice

    plain = webservice.make_handler

    def make_handler(corpora, manager=None):
        base = plain(corpora, manager)

        class Traced(base):
            def _respond(self, extra_params, method="GET", files=None):
                op = self.headers.get("X-Perfbench-Op", "req")
                traced = self.headers.get("X-Perfbench-Trace") == "1"
                with tracer.op(op, traced):
                    return super()._respond(extra_params, method=method, files=files)

        return Traced

    webservice.make_handler = make_handler


def run(seed: int, seconds: float, tracer) -> dict:
    ensure_all()
    serving = Serving(BLS_TURNS)
    spark, session_s = common.start_spark()
    tracer.sc = spark.sparkContext
    from blacklab_spark.corpus import Corpus
    from blacklab_spark.search.webservice import serve

    pool = gen.cql_patterns()
    oracle = serving.oracle()
    try:
        pids = oracle.pids(500, 0)

        opens = []
        for _ in range(3):
            t0 = time.perf_counter()
            corpus = Corpus.open(spark, serving.index)
            opens.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        if tracer.enabled:
            traced_handlers(tracer)
        srv = serve({CORPUS: corpus}, port=0)
        try:
            port = srv.server_address[1]
            reqs = gen.bls_requests(seed, 4096, pool, pids,
                                     [oracle.pattern(p)["hits"] for p in pool])
            contents = url_of({"kind": "contents", "pid": pids[0], "hl": "w00001",
                               "patt": 0}, pool)
            # the warm-up sends the run's first request of each search
            # kind, so the timed phase starts with the most popular
            # patterns cached, as a running server's cache would hold
            # them; started cold, a 20 s run spent a quarter of its time
            # on two or three first misses, and so depended on them.
            # One at a time: sent concurrently, set-up time would depend
            # on how they happen to overlap
            firsts = [url_of(next(r for r in reqs if r["kind"] == k), pool)
                      for k in ("hits", "hits_grouped", "docs")]
            for u in firsts + [f"/{CORPUS}{p}" for p in WARMUP] + [contents]:
                fetch(port, u)
            warmup_s = time.perf_counter() - t0
            # traced runs trace every other request of each kind, so the
            # traced and untraced halves have the same mix
            seen: dict[str, int] = {}
            for r in reqs:
                r["url"] = url_of(r, pool)
                seen[r["kind"]] = seen.get(r["kind"], 0) + 1
                r["traced"] = tracer.enabled and seen[r["kind"]] % 2 == 1
            tmp = os.path.join(common.WORK, "tmp")
            req_path = os.path.join(tmp, f"bls-requests-{os.getpid()}.json")
            out_path = os.path.join(tmp, f"bls-results-{os.getpid()}.json")
            gen.dump({"port": port, "clients": CLIENTS, "seconds": seconds,
                      "requests": reqs}, req_path)

            before, cache0 = scrape(port), corpus.cache_info()
            client = subprocess.Popen(
                [sys.executable, os.path.join(common.BENCH_DIR, "bls_client.py"),
                 req_path, out_path])
            try:
                client.wait(timeout=seconds + 150)
            finally:
                if client.poll() is None:
                    client.kill()
                    client.wait()
            after, cache1 = scrape(port), corpus.cache_info()
            peak_rss_mb = common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)])
            defect = probe_empty_group(port, pool, oracle)
        finally:
            srv.shutdown()
            srv.server_close()
        if client.returncode != 0:
            raise RuntimeError(f"bls client exited with {client.returncode}")
        with open(out_path) as f:
            out = json.load(f)
        os.remove(req_path)
        os.remove(out_path)

        ops = []
        for res in sorted(out["results"], key=lambda x: x["i"]):
            r = reqs[res["i"]]
            op = {"id": f"req-{res['i']}", "kind": r["kind"], "traced": res["traced"],
                  "start": res["start"], "end": res["end"]}
            if res["status"] != 200:
                op["error"] = f"{r['url']} -> {res['status']}: {res['body'][:300]}"
            else:
                op["lat"] = res["end"] - res["start"]
                try:
                    wrong = check(r, res["body"], pool, oracle)
                except (Incomplete, ValueError, KeyError, TypeError) as e:
                    op["error"] = f"{r['url']}: incomplete reply {type(e).__name__}: {e}"
                    del op["lat"]
                    wrong = None
                if wrong:
                    op["wrong"] = f"{r['url']}: {wrong}"
            ops.append(op)
        oracle.save()
    finally:
        oracle.close()

    server = {op: (after[op][0] - before.get(op, (0, 0.0))[0],
                   after[op][1] - before.get(op, (0, 0.0))[1]) for op in after}
    return {
        "spark": spark,
        "session_s": session_s,
        "setup_s": session_s + common.median(opens) + warmup_s,
        "ops": ops,
        "elapsed": out["elapsed"],
        "peak_rss_mb": peak_rss_mb,
        "server": server,
        "cache": (cache0, cache1),
        "empty_group_defect": defect,
    }
