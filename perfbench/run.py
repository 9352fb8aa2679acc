"""Benchmark entry point.

    python3 perfbench/run.py --workload {bm25_topk,bls_mixed}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Prints one report line per metric, each
failure with its cause, and as the last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones;
the traced run also writes its spans and per-layer figures to
.perfbench/trace-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import common
import layers

WORKLOADS = ("bm25_topk", "bls_mixed")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not common.program_present():
        print(f"perfbench: no engine sources under {common.ROOT}", file=sys.stderr)
        return 2
    common.prepare_env()

    import importlib

    from tracing import Tracer, spark_counters

    tracer = Tracer()
    if args.trace:
        tracer.install()
    workload = importlib.import_module(args.workload)
    try:
        res = workload.run(args.seed, args.seconds, tracer)
    except BaseException:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            common.stop_spark(active)
        raise
    spark = res["spark"]
    try:
        counters = {}
        if args.trace:
            groups = {op["id"] for op in res["ops"] if op["traced"]}
            if "ingest" in res:
                groups |= {"build", "compact"} | {op["id"] for op in res["ingest"]["ops"]}
            counters = spark_counters(spark, sorted(groups))
    finally:
        common.stop_spark(spark)

    ops = res["ops"] + res.get("ingest", {}).get("ops", [])
    failed = [op for op in ops if "error" in op or "wrong" in op]
    for op in failed:
        print(f"FAILED {op['id']}: {op.get('error') or op['wrong']}".rstrip())
    if res.get("empty_group_defect"):
        print(f"KNOWN DEFECT (untimed probe, not counted in failed): "
              f"{res['empty_group_defect']}")
    lats = [op["lat"] for op in res["ops"] if "lat" in op]
    e2e = layers.end_to_end(res)
    lay = layers.per_layer(res, tracer, counters)
    units = dict(layers.END_TO_END + layers.REPORTED + layers.PER_LAYER)
    report = [(k, v, units[k], "") for k, v in e2e.items()]
    report[1] = report[1][:3] + (f"n={len(lats)}",)
    report[-1] = report[-1][:3] + (f"n={len(lats)}, {sum(x > e2e['latency_p90_s'] for x in lats)} "
                                   "samples beyond; not in the result",)
    kinds = sorted({op["kind"] for op in res["ops"] if "kind" in op})
    for kind in kinds:
        kl = [op["lat"] for op in res["ops"] if op.get("kind") == kind and "lat" in op]
        report.append((f"latency_p50_s.{kind}", common.median(kl), "s", f"n={len(kl)}"))
    if args.trace:
        base = f"base ops.traced={int(lay['ops.traced'])}"
        report += [(k, v, units[k], base if units[k].endswith("/op") else "")
                   for k, v in lay.items()]
        out = os.path.join(common.WORK, f"trace-{args.workload}-{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": tracer.spans,
                       "spark": {g: c for g, c in counters.items()},
                       "per_layer": {k: {"value": v, "unit": units[k]} for k, v in lay.items()},
                       "end_to_end_traced": e2e}, f)
        print(f"trace written to {out}")
        metrics = {k: (lay[k], units[k]) for k, _ in layers.PER_LAYER}
    else:
        report += [(k, lay[k], units[k], "") for k in ("error_rate", "session.start_s")]
        metrics = {k: (e2e[k], units[k]) for k, _ in layers.END_TO_END}
    common.emit(
        correct=not any("wrong" in op for op in ops),
        attempted=len(ops),
        failed=len(failed),
        metrics=metrics,
        report=report,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
