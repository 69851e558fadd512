"""One benchmark run inside the Spark driver process.

Started by ``run.py``, which owns the host settings, samples memory
from outside and prints the result.  This process reports to it with
``@perfbench {json}`` lines on stdout:

- ``ready``: the session is up, the workload's endpoints listen and one
  warm-up pass is done (``setup_s`` counts from the launch time run.py
  passes in ``PERFBENCH_T0``);
- ``pass-start`` / ``pass-end``: the window of each measured pass;
- ``result``: every pass, the metrics and the run context.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import sys
import time
import traceback

import checks
import workloads
from spans import SparkRest, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
# per-layer metric -> unit, as BENCHMARK.json names them; a listed layer
# the workload does not reach reads 0
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    PER_LAYER = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def emit(event: str, **fields) -> None:
    print("@perfbench " + json.dumps({"event": event, **fields}), flush=True)


class Passes:
    """Runs and records passes.  Their checks run later, in one call per
    run, so a workload can check every pass with one batch job."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.record: list[dict] = []
        self.pending: list[tuple[dict, workloads.Input, workloads.PassResult]] = []
        self.check_s = 0.0

    def run(self, inp, kind: str, measured: bool = False, tracer=None,
            counters=None) -> workloads.PassResult | None:
        """One pass; a pass that raises is recorded as failed.  Only
        ``large`` and ``small`` passes count in the metrics."""
        entry = {"pass_id": inp.pass_id, "kind": kind, "ok": False}
        self.record.append(entry)
        try:
            if measured:
                emit("pass-start")
            try:
                res = self.wl.run_pass(inp, tracer, counters)
            finally:
                if measured:
                    emit("pass-end")
        except Exception as e:  # noqa: BLE001 — a failed pass is a result
            traceback.print_exc()
            entry["problems"] = [f"{type(e).__name__}: {e}"[:500]]
            return None
        entry.update(wall=res.wall, rows=res.rows, checkpoint_s=res.checkpoint_s)
        self.pending.append((entry, inp, res))
        return res

    def check(self) -> None:
        t0 = time.perf_counter()
        try:
            results = self.wl.check_all([(i, r) for _, i, r in self.pending])
        except Exception as e:  # noqa: BLE001 — a failed check is a result
            traceback.print_exc()
            results = [checks.Check(False, [f"{type(e).__name__}: {e}"[:500]])
                       ] * len(self.pending)
        for (entry, _, _), chk in zip(self.pending, results):
            entry.update(ok=chk.ok, problems=chk.problems, recall=chk.recall)
        for d in {inp.dir: inp for _, inp, _ in self.pending}.values():
            self.wl.discard(d)
        self.pending = []
        self.check_s += time.perf_counter() - t0


def measure(passes: Passes, seconds: float) -> None:
    """Closed loop of alternating small and large passes.  The number of
    pairs comes from ``seconds`` and the workload's nominal pair time, not
    from the clock, so a slow pass cannot change how many samples the
    medians take."""
    # an unmeasured small pass first: after the warm-up, the next pass of
    # each size still ran 1.2-1.5x slower, with most of the variance
    passes.run(passes.wl.make_input("small", "settle"), "unmeasured")
    n_pairs = max(1, round(seconds / passes.wl.pair_s))
    # small passes bracket the large ones: an odd count, so one slow small
    # pass (a host stall, or the warming trend) does not move their median
    kinds = ["small"] + ["large", "small"] * n_pairs
    for i, kind in enumerate(kinds):
        passes.run(passes.wl.make_input(kind, f"p{i}"), kind, measured=True)


def traced_run(passes: Passes, spark, tracer: Tracer) -> dict:
    """A traced pass between two untraced passes on the same large input
    (the untraced mean is the reference for tracing overhead, so the
    JVM's warming trend does not read as overhead), then the workload's
    layer-by-layer replay of that input."""
    wl = passes.wl
    inp = wl.make_input("large", "traced")
    walls = []

    def untraced(pass_id: str) -> None:
        res = passes.run(dataclasses.replace(inp, pass_id=pass_id), "unmeasured")
        if res is not None:
            walls.append(res.wall)

    untraced("traced_u0")
    rest = SparkRest(spark)
    counters = {"rest": rest}
    inp_t = dataclasses.replace(inp, pass_id="traced_t")
    before = rest.snapshot()
    res = passes.run(inp_t, "traced", tracer=tracer, counters=counters)
    if res is None:
        raise RuntimeError("the traced pass failed")
    pass_delta = SparkRest.delta(before, rest.snapshot())
    untraced("traced_u1")
    pass_span = next(s for s in tracer.spans if s.name == "pass")
    bookkeeping = sum(s.duration for s in tracer.spans
                      if s.name == "trace.rest" and s.parent == pass_span.span_id)
    wall = pass_span.duration - bookkeeping
    m = wl.trace_layers(inp_t, tracer, wall, res, counters, pass_delta)
    accounted = m.pop("_accounted_s")
    d = pass_delta
    m.update({
        "spark.executor_run_s": d["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": d["executor_cpu_ns"] / 1e9,
        "spark.shuffle_read_bytes": d["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": d["shuffle_write_bytes"],
        "spark.spill_bytes": d["memory_spill_bytes"] + d["disk_spill_bytes"],
        "spark.jobs": d["jobs"],
        "spark.tasks": d["tasks"],
        "trace.pass_s": wall,
    })
    return {
        "metrics": {k: float(m.get(k, 0.0)) for k in PER_LAYER},
        "units": PER_LAYER,
        # layers of a workload BENCHMARK.json does not list (mysql_catchup)
        "unlisted_metrics": {k: v for k, v in m.items() if k not in PER_LAYER},
        "accounted_share": accounted / wall,
        "traced_pass_s": pass_span.duration,
        "trace_bookkeeping_s": bookkeeping,
        "untraced_pass_s": statistics.fmean(walls) if walls else None,
        "tracing_overhead_s": (pass_span.duration - statistics.fmean(walls)
                               if walls else None),
    }


def end_to_end(record: list) -> tuple[dict, dict]:
    ok = [p for p in record if p["ok"] and p["kind"] in ("large", "small")]
    large = [p["rows"] / p["wall"] for p in ok if p["kind"] == "large"]
    small = [p["checkpoint_s"] for p in ok
             if p["kind"] == "small" and p["checkpoint_s"] is not None]
    metrics = {
        "rows_per_s": statistics.median(large) if large else 0.0,
        "checkpoint_s_p50": statistics.median(small) if small else 0.0,
    }
    counts = {"rows_per_s": len(large), "checkpoint_s_p50": len(small)}
    recall = [p["recall"] for p in ok if p.get("recall") is not None]
    if recall:  # corpus_dedup: share of planted near-duplicate pairs found
        metrics["dedup_recall"] = statistics.fmean(recall)
        counts["dedup_recall"] = len(recall)
    return metrics, counts


def native_state() -> dict:
    from ticdc_spark.codec import native_accel
    from ticdc_spark.llm import hnsw_native

    return {"native_accel": native_accel.LIB is not None,
            "hnsw_native": hnsw_native.LIB is not None}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--spans-out", required=True)
    args = ap.parse_args()
    t_launch = float(os.environ["PERFBENCH_T0"])

    import pyspark

    from ticdc_spark.session import get_spark

    spark = get_spark("perfbench")
    tracer = Tracer(bool(args.trace))
    traced = None
    passes = Passes(workloads.WORKLOADS[args.workload](
        spark, args.work_dir, args.seed))
    passes.run(passes.wl.make_input("large", "warmup"), "warmup")
    emit("ready", setup_s=time.time() - t_launch)
    if args.trace:
        traced = traced_run(passes, spark, tracer)
    else:
        measure(passes, args.seconds)
    passes.check()
    record = passes.record
    context = {
        "check_s": passes.check_s,
        **native_state(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "spark_cpus": spark.sparkContext.defaultParallelism,
    }
    t0 = time.perf_counter()
    spark.stop()
    context["spark_stop_s"] = time.perf_counter() - t0
    if args.trace:
        tracer.write(args.spans_out)
    metrics, counts = end_to_end(record)
    emit("result", passes=record, metrics=metrics, counts=counts,
         traced=traced, context=context)
    return 0


if __name__ == "__main__":
    sys.exit(main())
