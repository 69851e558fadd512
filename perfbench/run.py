"""Changefeed benchmark: one run of one workload.

    python3 perfbench/run.py --workload kafka_changefeed --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root.  The run starts the Spark driver
(``driver.py``) as a child process with the host settings below, samples
the resident memory of the child's whole process tree from here, and
prints every metric by name with its unit.  The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics of
the traced run with ``--trace 1``).  The full record of the run, and
the spans of a traced run, go to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0
PAGE = os.sysconf("SC_PAGE_SIZE")
# memory sampling interval while a measured pass runs
SAMPLE_S = 0.1


def loadavg() -> list[float]:
    return list(os.getloadavg())


def steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) if len(parts) > 8 else 0


def driver_memory() -> str:
    """An eighth of the host's memory, at most 2 GiB (the engine's
    session default of 16g exceeds small hosts; the inputs here are
    tens of thousands of rows)."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(2048, total_kb // 8192)}m"


def child_env(run_dir: str, trace: int, t0: float) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    memory = driver_memory()
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        # a fixed heap: without -Xms the JVM grows its heap when GC time
        # rises, so CPU steal on a shared host would show up as memory
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{memory}",
        "pyspark-shell",
    ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": memory,
        "SPARK_GRAFT_UI": "1" if trace else "0",
        # Python workers import the engine by module path
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
        "PERFBENCH_T0": repr(t0),
    })
    return env


def descendants(root: int) -> list[int]:
    """Live (non-zombie) processes below ``root``.  The tree, not the
    process group: PySpark's worker daemon starts a process group of its
    own."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_memory(root: int) -> tuple[int, dict[str, int]]:
    """Summed memory of ``root`` and its descendants in bytes, and MiB per
    process.  Python processes count their PSS, which charges a page
    shared by forked workers once, split between them, where summed RSS
    would count it in every one.  The JVM forks nothing and counts its
    RSS: reading its PSS walks the page tables of the whole heap, 10-40 ms
    a read, holding its memory map lock."""
    total, parts = 0, {}
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            if comm == "java":
                with open(f"/proc/{pid}/statm") as f:
                    size = int(f.read().split()[1]) * PAGE
            else:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    size = next(int(ln.split()[1]) for ln in f
                                if ln.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            continue
        total += size
        parts[f"{comm}:{pid}"] = size // 2**20
    return total, parts


def stop_all() -> None:
    """TERM, then KILL, every process below this one, reaping as they
    exit, until none is left.  Orphans of the driver re-parent here (this
    process is a child subreaper), so the whole tree is covered."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(me):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            reap()
            if not descendants(me):
                return
            time.sleep(0.05)


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class Monitor:
    """Reads the driver's event lines and samples its process tree's
    memory while a measured pass runs."""

    def __init__(self, proc: subprocess.Popen) -> None:
        self.proc = proc
        self.events: dict = {}
        self.peak_rss = 0
        self.peak_parts: dict[str, int] = {}
        self.samples = 0
        # CPU steal and wall time summed over the measured passes
        self.measured_steal = 0
        self.measured_s = 0.0
        self._measuring = threading.Event()
        self._done = threading.Event()

    def read(self) -> None:
        for line in self.proc.stdout:
            if not line.startswith("@perfbench "):
                sys.stderr.write(line)
                continue
            ev = json.loads(line[len("@perfbench "):])
            if ev["event"] == "pass-start":
                start = time.monotonic(), steal_jiffies()
                self._measuring.set()
            elif ev["event"] == "pass-end":
                self._measuring.clear()
                self.measured_s += time.monotonic() - start[0]
                self.measured_steal += steal_jiffies() - start[1]
            else:
                self.events[ev["event"]] = ev
        self._done.set()

    def sample(self) -> None:
        while not self._done.is_set():
            if self._measuring.wait(0.05):
                total, parts = tree_memory(self.proc.pid)
                if total > self.peak_rss:
                    self.peak_rss, self.peak_parts = total, parts
                self.samples += 1
                time.sleep(SAMPLE_S)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "ticdc_spark", "__init__.py")):
        print(f"no ticdc_spark package under {ROOT}", file=sys.stderr)
        return 2
    # end-to-end metric -> unit, as BENCHMARK.json names them; the
    # driver's argument parser checks the workload name
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        end_to_end_units = {m["name"]: m["unit"]
                            for m in json.load(f)["end_to_end"]}

    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    # orphaned descendants of the driver re-parent here, so they can be reaped
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    # a TERM to this process still stops the driver's tree (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    load_start, steal_start = loadavg(), steal_jiffies()
    t0 = time.time()
    proc = None
    try:
        env = child_env(run_dir, args.trace, t0)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "driver.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--work-dir", os.path.join(run_dir, "work"),
             "--spans-out", os.path.join(results, f"{stem}.spans.json")],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True)
        mon = Monitor(proc)
        threads = [threading.Thread(target=mon.read, daemon=True),
                   threading.Thread(target=mon.sample, daemon=True)]
        for t in threads:
            t.start()
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {DEADLINE_S:.0f} s", file=sys.stderr)
            code = None
        stop_all()
        for t in threads:
            t.join(timeout=10)
    finally:
        stop_all()
        shutil.rmtree(run_dir, ignore_errors=True)
    result = mon.events.get("result")
    if code != 0 or result is None or "ready" not in mon.events:
        print(f"driver failed (exit {code})", file=sys.stderr)
        return 1

    passes = result["passes"]
    failed = sum(not p["ok"] for p in passes)
    context = {
        **result["context"], "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": env["SPARK_DRIVER_MEMORY"],
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "steal_jiffies": steal_jiffies() - steal_start,
        # share of the host's CPU time stolen while measured passes ran
        "steal_share_measured": (
            mon.measured_steal / os.sysconf("SC_CLK_TCK")
            / (mon.measured_s * os.cpu_count()) if mon.measured_s else None),
        "fail_ratio": failed / len(passes),
        "run_s": time.time() - t0,
    }
    if args.trace:
        traced = result["traced"]
        metrics = {k: (v, traced["units"][k])
                   for k, v in traced["metrics"].items()}
        notes = {}
        context.update({k: v for k, v in traced.items()
                        if k not in ("metrics", "units")})
    else:
        m = dict(result["metrics"],
                 setup_s=mon.events["ready"]["setup_s"],
                 peak_rss_mb=mon.peak_rss / 2**20)
        metrics = {k: (m[k], u) for k, u in end_to_end_units.items()}
        context["peak_rss_mb_by_process"] = mon.peak_parts
        if "dedup_recall" in m:  # corpus_dedup only, so not a metric
            context["dedup_recall"] = m["dedup_recall"]
        notes = {**{k: f"n={n}" for k, n in result["counts"].items()},
                 "peak_rss_mb": f"{mon.samples} samples", "setup_s": "n=1"}
    with open(os.path.join(results, f"{stem}.json"), "w") as f:
        json.dump({"context": context, "passes": passes,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, f,
                  indent=1)
    for p in passes:
        if not p["ok"]:
            print(f"FAILED pass {p['pass_id']}: {p.get('problems')}")
    for k, (v, unit) in metrics.items():
        print(f"{k:32s} {v:16.6f} {unit:10s} {notes.get(k, '')}")
    print("context " + json.dumps(context))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
