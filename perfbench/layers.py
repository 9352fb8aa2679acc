"""End-to-end and per-layer metrics from one workload run.

The names and units here are the ones BENCHMARK.json lists; every
workload reports all of them. A per-layer figure of a layer a workload
does not touch is 0 (its base count is 0 as well).
"""

from __future__ import annotations

import common
import tracing as tr

END_TO_END = (
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("throughput_ops_s", "1/s"),
    ("peak_rss_mb", "MB"),
)
# printed beside the end-to-end metrics but not in the result: with 20-30
# ops a run, p90 is about the third-slowest op and did not repeat
REPORTED = (("latency_p90_s", "s"),)

SERVER_OPS = ("hits", "docs", "termfreq", "autocomplete", "docs-contents")
RENDER_CHILDREN = ("search.facade.search", "search.results.count", "search.results.window",
                   "search.results.kwic", "search.results.per_doc")

PER_LAYER = (
    ("ops.traced", "count"),
    ("spark.jobs_per_op", "jobs/op"),
    ("spark.stages_per_op", "stages/op"),
    ("spark.tasks_per_op", "tasks/op"),
    ("spark.job_wall_s_per_op", "s/op"),
    ("spark.executor_run_s_per_op", "s/op"),
    ("spark.executor_cpu_s_per_op", "s/op"),
    ("spark.input_bytes_per_op", "B/op"),
    ("spark.shuffle_bytes_per_op", "B/op"),
    ("spark.python_start_s_per_op", "s/op"),
    ("spark.python_run_s_per_op", "s/op"),
    ("spark.python_bytes_per_op", "B/op"),
    ("spark.failed_tasks", "count"),
    ("session.start_s", "s"),
    ("corpus.term_stats_s", "s/op"),
    ("search.bm25.topk_s", "s/op"),
    ("search.bm25.topk_self_s", "s/op"),
    ("cql.parse_s", "s/op"),
    ("cql.plan_s", "s/op"),
    ("search.facade.search_s", "s/op"),
    ("search.server.render_self_s", "s/op"),
    ("search.cache.lookups", "count"),
    ("search.cache.hit_ratio", "ratio"),
    ("search.cache.evictions", "count"),
    *((f"search.webservice.server_s.{op}", "s/req") for op in SERVER_OPS),
    ("search.webservice.requests", "count"),
    ("search.webservice.queue_s", "s/req"),
    ("search.server.empty_group_failures", "count"),
    ("index.build.turns_s", "turns/s"),
    ("index.build.jobs", "count"),
    ("index.build.python_run_s", "s"),
    ("index.build.shuffle_bytes", "B"),
    ("index.build.bytes.tokenized", "B"),
    ("index.build.bytes.postings", "B"),
    ("index.build.bytes.terms", "B"),
    ("index.bytes_per_input_byte", "ratio"),
    ("index.incremental.rounds", "count"),
    ("index.incremental.append_p50_s", "s"),
    ("index.incremental.jobs_per_round", "jobs/round"),
    ("index.incremental.job_wall_s_per_round", "s/round"),
    ("index.incremental.input_bytes_per_round", "B/round"),
    ("index.incremental.shuffle_bytes_per_round", "B/round"),
    ("index.incremental.read_after_write_p50_s", "s"),
    ("index.incremental.compact_s", "s"),
    ("index.incremental.terms_rewrite_bytes", "B/round"),
    ("index.incremental.compact_bytes_rewritten", "B"),
    ("error_rate", "ratio"),
    ("trace.latency_p50_traced_s", "s"),
    ("trace.latency_p50_untraced_s", "s"),
    ("trace.overhead_s", "s"),
)


def end_to_end(res: dict) -> dict[str, float]:
    lats = [op["lat"] for op in res["ops"] if "lat" in op]
    done = sum(1 for op in res["ops"] if "lat" in op and "wrong" not in op)
    return {
        "setup_s": res["setup_s"],
        "latency_p50_s": common.median(lats),
        "throughput_ops_s": done / res["elapsed"] if res["elapsed"] else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
        "latency_p90_s": common.p90(lats),
    }


def _outer(spans: list[dict], name: str) -> list[dict]:
    """Spans called ``name`` with no ancestor of the same name."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != name:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(s)
    return out


def _spark_sums(cs: list[dict]) -> dict[str, float]:
    """Status-store counters of several job groups, summed."""
    out = {"jobs": sum(len(c["jobs"]) for c in cs),
           "job_wall_s": sum(b - a for c in cs for a, b in c["jobs"])}
    for key, name in (("stages", "stages"), ("tasks", "tasks"), ("run_s", "executor_run_s"),
                      ("cpu_s", "executor_cpu_s"), ("input_bytes", "input_bytes"),
                      ("shuffle_bytes", "shuffle_bytes"), ("python_start_s", "python_start_s"),
                      ("python_run_s", "python_run_s"), ("python_bytes", "python_bytes"),
                      ("failed_tasks", "failed_tasks")):
        out[name] = sum(c[key] for c in cs)
    return out


def per_layer(res: dict, tracer, counters: dict[str, dict]) -> dict[str, float]:
    m = {name: 0.0 for name, _ in PER_LAYER}
    ops = res["ops"]
    traced = [op for op in ops if tracer.enabled and op["traced"]
              and ("lat" in op or "error" in op)]
    n = len(traced)
    m["ops.traced"] = n
    m["session.start_s"] = res["session_s"]
    every = ops + res.get("ingest", {}).get("ops", [])
    failed = sum(1 for op in every if "error" in op or "wrong" in op)
    m["error_rate"] = failed / len(every) if every else 0.0

    spans = tracer.by_op()
    if n:
        sums = _spark_sums([counters[op["id"]] for op in traced])
        for key, value in sums.items():
            if key == "failed_tasks":
                m["spark.failed_tasks"] = value
            else:
                m[f"spark.{key}_per_op"] = value / n

        acc = dict.fromkeys(("term_stats", "topk", "topk_self", "parse", "plan", "facade",
                             "render_self"), 0.0)
        for op in traced:
            sp = spans.get(op["id"], [])
            jobs = counters[op["id"]]["jobs"]
            acc["term_stats"] += sum(s["end"] - s["start"] for s in _outer(sp, "corpus.term_stats"))
            for s in _outer(sp, "search.bm25.topk"):
                acc["topk"] += s["end"] - s["start"]
                acc["topk_self"] += tr.self_time(s, sp, jobs)
            acc["parse"] += sum(s["end"] - s["start"] for s in _outer(sp, "cql.parse"))
            acc["plan"] += sum(tr.self_time(s, sp, [], minus=("cql.parse",))
                               for s in _outer(sp, "cql.find"))
            acc["facade"] += sum(s["end"] - s["start"]
                                 for s in _outer(sp, "search.facade.search"))
            acc["render_self"] += sum(tr.self_time(s, sp, jobs, minus=RENDER_CHILDREN)
                                      for s in _outer(sp, "search.server.render"))
        m["corpus.term_stats_s"] = acc["term_stats"] / n
        m["search.bm25.topk_s"] = acc["topk"] / n
        m["search.bm25.topk_self_s"] = acc["topk_self"] / n
        m["cql.parse_s"] = acc["parse"] / n
        m["cql.plan_s"] = acc["plan"] / n
        m["search.facade.search_s"] = acc["facade"] / n
        m["search.server.render_self_s"] = acc["render_self"] / n

        lat_t = [op["lat"] for op in traced if "lat" in op]
        lat_u = [op["lat"] for op in ops if not op["traced"] and "lat" in op]
        if lat_t and lat_u:
            m["trace.latency_p50_traced_s"] = common.median(lat_t)
            m["trace.latency_p50_untraced_s"] = common.median(lat_u)
            m["trace.overhead_s"] = m["trace.latency_p50_traced_s"] - \
                m["trace.latency_p50_untraced_s"]

    if "cache" in res:
        c0, c1 = res["cache"]
        hits, misses = c1["hits"] - c0["hits"], c1["misses"] - c0["misses"]
        m["search.cache.lookups"] = hits + misses
        m["search.cache.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        m["search.cache.evictions"] = misses - (c1["entries"] - c0["entries"])
    if "server" in res:
        srv = res["server"]
        for op in SERVER_OPS:
            cnt, total = srv.get(op, (0, 0.0))
            m[f"search.webservice.server_s.{op}"] = total / cnt if cnt else 0.0
        cnt = sum(v[0] for v in srv.values())
        lats = [op["lat"] for op in ops if "lat" in op]
        m["search.webservice.requests"] = cnt
        m["search.server.empty_group_failures"] = 1.0 if res["empty_group_defect"] else 0.0
        if cnt and lats:
            m["search.webservice.queue_s"] = sum(lats) / len(lats) - \
                sum(v[1] for v in srv.values()) / cnt

    if "ingest" in res:
        ing = res["ingest"]
        ops = ing["ops"]
        m["index.build.turns_s"] = ing["turns"] / ing["build_s"]
        if "build" in counters:
            build = _spark_sums([counters["build"]])
            m["index.build.jobs"] = build["jobs"]
            m["index.build.python_run_s"] = build["python_run_s"]
            m["index.build.shuffle_bytes"] = build["shuffle_bytes"]
        for t, size in ing["tables"].items():
            m[f"index.build.bytes.{t}"] = size
        m["index.bytes_per_input_byte"] = sum(ing["tables"].values()) / ing["source_bytes"]
        rounds = [op for op in ops if "lat" in op]
        m["index.incremental.rounds"] = len(rounds)
        m["index.incremental.append_p50_s"] = common.median([op["append_s"] for op in rounds])
        m["index.incremental.read_after_write_p50_s"] = common.median(
            [op["read_s"] for op in rounds])
        m["index.incremental.terms_rewrite_bytes"] = common.median(
            [op["terms_bytes"] for op in rounds])
        if rounds and all(op["id"] in counters for op in rounds):
            per_round = _spark_sums([counters[op["id"]] for op in rounds])
            for key in ("jobs", "job_wall_s", "input_bytes", "shuffle_bytes"):
                m[f"index.incremental.{key}_per_round"] = per_round[key] / len(rounds)
        m["index.incremental.compact_s"] = ing["compact_s"]
        m["index.incremental.compact_bytes_rewritten"] = ing["compact_bytes"]
    return m
