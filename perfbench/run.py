"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Runs one workload from the root of a checkout: generates its inputs
from ``--seed``, sets up several times, checks correctness, times whole
units of work (passes or batches) for ``--seconds`` and at least the
workload's minimum number of units, and prints one JSON
object as the last line of standard output. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans and reports the
per-layer metrics instead. Everything the run writes lands under
``.perfbench_work/`` in the checkout. See BENCHMARK.json for the
workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
FAMILIES = ["ts", "ss", "doc", "emb", "mm"]
STORE_SPANS = {
    "sigstore.update_s": "sigstore.update",
    "sigstore.pairs_s": "sigstore.pairs",
    "compstore.update_s": "compstore.update",
    "compstore.read_s": "compstore.read",
    "mergestore.merge_s": "mergestore.merge",
    "mergestore.read_s": "mergestore.read",
    "sketches.cms_update_s": "sketches.cms_update",
    "ivfstore.update_s": "ivfstore.update",
    "ivfstore.search_s": "ivfstore.search",
}
SELF_SPANS = ["op", "queries.construct", "catalyst.plan", "action",
              *STORE_SPANS.values()]


def setup(wl, spark):
    """One set-up: (re)start the session, write the inputs, warm up,
    load. Returns the session and the phase times."""
    from perfbench import common
    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark, start_s = common.start_session(WORK)
    t1 = time.perf_counter()
    wl.make_inputs()
    t2 = time.perf_counter()
    warm_s = common.warmup(spark)
    t3 = time.perf_counter()
    wl.load(spark)
    t4 = time.perf_counter()
    return spark, {"start_s": start_s, "inputs_s": t2 - t1,
                   "warmup_s": warm_s, "load_s": t4 - t3, "total_s": t4 - t0}


def measure(wl, spark, tracer, seconds: float):
    """Closed loop, one client: whole units until ``seconds`` pass and
    at least ``wl.min_units`` units are done. Returns the ops, the
    elapsed time, the region span and (ops, wall) of every unit."""
    ops, units = [], []
    with tracer.span("measure", force=True) as region:
        t_start = time.perf_counter()
        for unit in wl.units(spark):
            t_unit = time.perf_counter()
            for name, family, fn in unit:
                rec = {"name": name, "family": family, "ok": True,
                       "value": None, "unit": len(units)}
                t0 = time.perf_counter()
                with tracer.span("op", op=len(ops)) as sp:
                    try:
                        rec["value"] = fn(tracer)
                    except Exception:  # noqa: BLE001 — counted as failed
                        rec["ok"] = False
                        traceback.print_exc(file=sys.stderr)
                rec["wall"] = time.perf_counter() - t0
                rec["span"] = sp["id"] if sp else None
                ops.append(rec)
            units.append((len(unit), time.perf_counter() - t_unit))
            if (len(units) >= wl.min_units
                    and time.perf_counter() - t_start >= seconds):
                break
        elapsed = time.perf_counter() - t_start
    return ops, elapsed, region, units


def op_p50(ops) -> float:
    """The median over units of each unit's median op wall, so one unit
    slowed by the host (or by a JIT not yet warm) does not move it."""
    by: dict[int, list[float]] = {}
    for o in ops:
        by.setdefault(o["unit"], []).append(o["wall"])
    return statistics.median(statistics.median(w) for w in by.values())


def end_to_end(wl, spark, ops, units, setups, totals) -> tuple:
    """The end-to-end metrics, and the sample counts behind them.
    Throughput and latency are medians over units."""
    from perfbench import trace as T
    failed = sum(not o["ok"] for o in ops)
    m = {
        "setup_s": (statistics.median(s["total_s"] for s in setups), "s"),
        "ops_per_s": (statistics.median(n / w for n, w in units), "1/s"),
        "op_p50_s": (op_p50(ops), "s"),
        "ok_op_ratio": (1 - failed / len(ops), "ratio"),
        "peak_rss_mb": (T.peak_rss_mb(spark.sparkContext), "MB"),
        "bytes_written_per_input_byte": (
            (totals["output_b"] + totals["shuffle_write_b"]
             + totals["spill_b"]) / max(1, totals["input_b"]), "ratio"),
        "bytes_stored_per_input_byte": (wl.stored_ratio(), "ratio"),
    }
    info = {"op_samples": len(ops), "unit_samples": len(units)}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, info


def per_layer(wl, tracer, ops, setups, per, job_spans) -> tuple:
    """Per-op means of every layer metric, from spans and counters."""
    from perfbench import common
    from perfbench import trace as T
    from perfbench.ingest import STORES
    spans = tracer.spans
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x, []))
        return out

    def counters(ids):
        c = dict.fromkeys(T.COUNTER_KEYS, 0)
        for i in ids:
            for k, v in per.get(f"{T.GROUP_PREFIX}{i}", {}).items():
                c[k] += v
        return c

    def intervals(ids):
        return [iv for i in ids
                for iv in job_spans.get(f"{T.GROUP_PREFIX}{i}", [])]

    selfs = tracer.self_times()
    n = len(ops)
    acc: dict[str, float] = {}

    def add(k, v):
        acc[k] = acc.get(k, 0.0) + v

    per_op_counts = []
    for o in ops:
        root = o["span"]
        tree = subtree(root)
        c = counters(tree)
        sp = spans[root]
        busy = T.union_len(intervals(tree), sp["start"], sp["end"])
        add("sched.job_busy_s", busy)
        add("driver.gap_s", max(0.0, sp["dur"] - busy))
        for k in ("jobs", "stages", "tasks"):
            add(f"sched.{k}", c[k])
        add("exec.task_s", c["task_ms"] / 1e3)
        add("exec.gc_s", c["gc_ms"] / 1e3)
        add("exec.input_mb", c["input_b"] / 1e6)
        add("exec.shuffle_write_mb", c["shuffle_write_b"] / 1e6)
        add("exec.shuffle_read_mb", c["shuffle_read_b"] / 1e6)
        add("exec.spill_mb", c["spill_b"] / 1e6)
        add("exec.failed_tasks", c["failed_tasks"])
        for sid in tree:
            s = spans[sid]
            add(f"self.{s['name']}_s", selfs[sid])
            if s["name"] == "queries.construct":
                add("queries.construct_s", s["dur"])
                add("queries.construct_jobs",
                    counters(subtree(sid))["jobs"])
            elif s["name"] == "catalyst.plan":
                add("catalyst.plan_s", s["dur"])
            for key, name in STORE_SPANS.items():
                if s["name"] == name:
                    add(key, s["dur"])
            store = s["name"].split(".")[0]
            if store in STORES and s["parent"] == root:
                add(f"{store}.jobs", counters(subtree(sid))["jobs"])
            if s["name"] in wl.MM_SPANS and s["parent"] == root:
                add("family.mm.s", s["dur"])
        if not wl.MM_SPANS:
            add(f"family.{o['family']}.s", o["wall"])
        per_op_counts.append({"op": o["name"], "jobs": c["jobs"],
                              "stages": c["stages"], "tasks": c["tasks"]})

    out = {k: v / n for k, v in acc.items()}
    # family times are per op of that family
    for f in FAMILIES:
        k = f"family.{f}.s"
        nf = sum(o["family"] == f for o in ops)
        out[k] = acc.get(k, 0.0) / nf if nf else 0.0
    busy = acc.get("sched.job_busy_s", 0.0)
    out["exec.slot_util"] = (acc.get("exec.task_s", 0.0)
                             / (common.CORES * busy) if busy else 0.0)
    out["session.start_s"] = statistics.median(s["start_s"] for s in setups)
    out["session.warmup_s"] = statistics.median(
        s["warmup_s"] for s in setups)
    out["setup.inputs_s"] = statistics.median(s["inputs_s"] for s in setups)
    out["setup.load_s"] = statistics.median(s["load_s"] for s in setups)
    out["trace.overhead_s"] = tracer.overhead_s / n
    out["trace.op_p50_s"] = op_p50(ops)
    rewritten = getattr(wl, "files_rewritten", [])
    out["mergestore.files_rewritten"] = (sum(rewritten) / len(rewritten)
                                         if rewritten else 0.0)
    out.update(wl.store_stats())
    for s in SELF_SPANS:
        out.setdefault(f"self.{s}_s", 0.0)
    for key in STORE_SPANS:
        out.setdefault(key, 0.0)
    for st in STORES:
        for suffix in ("jobs", "files", "bytes", "generations"):
            out.setdefault(f"{st}.{suffix}", 0)
    for k in ("queries.construct_s", "queries.construct_jobs",
              "catalyst.plan_s"):
        out.setdefault(k, 0.0)
    return out, per_op_counts


def repeatability(per_op_counts: list[dict]) -> dict:
    """Per op name: the count if it repeats across the run's passes,
    else its spread."""
    by: dict[str, dict[str, list]] = {}
    for r in per_op_counts:
        d = by.setdefault(r["op"], {"jobs": [], "stages": [], "tasks": []})
        for k in d:
            d[k].append(r[k])
    out = {}
    for op, d in sorted(by.items()):
        out[op] = {k: v[0] if len(set(v)) == 1
                   else {"min": min(v), "max": max(v), "n": len(v)}
                   for k, v in d.items()}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import common
    common.configure_env(WORK)
    try:
        import datatools_spark.queries  # noqa: F401
        import tests.oracle_harness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 3
    from perfbench import trace as T
    from perfbench.ingest import Ingest
    from perfbench.interactive import Interactive

    wl = {"interactive": Interactive, "ingest": Ingest}[args.workload](
        args.seed, WORK)
    load_start = T.host_load()
    spark = None
    try:
        setups = []
        for _ in range(wl.setups):
            spark, s = setup(wl, spark)
            setups.append(s)
        tracer = T.Tracer(spark.sparkContext, bool(args.trace))
        wl.prepare(spark)
        ops, elapsed, region, units = measure(wl, spark, tracer,
                                              args.seconds)
        verdict = wl.judge(spark, ops)
        jobs, stages = T.read_status_store(spark.sparkContext)
        per, job_spans = T.attribute(jobs, stages)
        totals = dict.fromkeys(T.COUNTER_KEYS, 0)
        for g, c in per.items():
            if (g.startswith(T.GROUP_PREFIX)
                    and int(g[len(T.GROUP_PREFIX):]) >= region["id"]):
                for k, v in c.items():
                    totals[k] += v
        e2e, info = end_to_end(wl, spark, ops, units, setups, totals)
        detail = {"workload": wl.name, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "elapsed_s": elapsed, "setups": setups,
                  "unit_walls": [w for _, w in units],
                  "verdict": verdict, "host_load": {"start": load_start},
                  "end_to_end": e2e, **info,
                  "ops": [{k: o[k] for k in ("name", "wall", "ok")}
                          for o in ops]}
        if args.trace:
            metrics, counts = per_layer(wl, tracer, ops, setups, per,
                                        job_spans)
            detail["per_op_counts"] = repeatability(counts)
            units = {"_s": "s", ".s": "s", "_mb": "MB", ".bytes": "B",
                     "slot_util": "ratio"}
            result_metrics = {
                k: {"value": v, "unit": next(
                    (u for suf, u in units.items() if k.endswith(suf)),
                    "count")}
                for k, v in sorted(metrics.items())}
        else:
            result_metrics = e2e
        detail["host_load"]["end"] = T.host_load()
        detail["host_load"]["steal_share"] = T.steal_share(
            load_start, detail["host_load"]["end"])
    finally:
        if spark is not None:
            common.shutdown(spark)
    failed = sum(not o["ok"] for o in ops)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump({**detail, "metrics": result_metrics}, f, indent=1,
                  default=str)
    load = detail["host_load"]
    print(f"perfbench: {wl.name} seed {args.seed}: {len(ops)} ops, "
          f"{failed} failed, loadavg {load['end']['loadavg']}, "
          f"steal {load['steal_share']:.1%}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": result_metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
