"""Closed-loop HTTP client for bls_mixed (standard library only).

    python3 bls_client.py <requests.json> <out.json>

``requests.json`` holds {"port", "clients", "seconds", "requests":
[{"url", "traced", ...}]}. The requests go out in rounds, like the
requests a front-end page fires at once: each of ``clients`` threads
sends the next request of the list, and the next round starts when
every reply of this one has arrived, until ``seconds`` have passed. So
request i always runs beside the same others, whatever the timing, and
its latency does not depend on how free-running clients happened to
overlap. Nothing is retried. A request marked ``traced`` asks the
server to trace it. Every reply is written to ``out.json`` with its
start and end time.
"""

from __future__ import annotations

import http.client
import itertools
import json
import sys
import threading
import time


def main(req_path: str, out_path: str) -> None:
    with open(req_path) as f:
        spec = json.load(f)
    reqs = spec["requests"]
    n = spec["clients"]
    lock = threading.Lock()
    results: list[dict] = []
    start = time.perf_counter()
    deadline = start + spec["seconds"]
    stop = threading.Event()
    # the action runs once per round before any thread goes on, so all
    # threads agree on whether another round starts
    barrier = threading.Barrier(
        n, action=lambda: stop.set() if time.perf_counter() >= deadline else None)

    def client(cid: int) -> None:
        for rnd in itertools.count():
            barrier.wait()
            if stop.is_set():
                return
            i = rnd * n + cid
            req = reqs[i % len(reqs)]
            r = {"i": i, "client": cid, "traced": req["traced"]}
            headers = {"X-Perfbench-Op": f"req-{i}",
                       "X-Perfbench-Trace": "1" if r["traced"] else "0"}
            t0 = time.perf_counter()
            conn = http.client.HTTPConnection("127.0.0.1", spec["port"], timeout=120)
            try:
                conn.request("GET", req["url"], headers=headers)
                resp = conn.getresponse()
                r["status"] = resp.status
                r["body"] = resp.read().decode("utf-8", "replace")
            except (OSError, http.client.HTTPException) as e:
                r["status"] = None
                r["body"] = f"{type(e).__name__}: {e}"
            finally:
                conn.close()
            r["start"], r["end"] = t0 - start, time.perf_counter() - start
            with lock:
                results.append(r)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(out_path, "w") as f:
        json.dump({"elapsed": time.perf_counter() - start, "results": results}, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
