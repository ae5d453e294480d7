#!/usr/bin/env python3
"""Benchmark of record for ml_pipelines_spark.

    python3 perfbench/run.py --workload detect_export --seed 1 --seconds 1 --trace 0

Runs one workload (see workloads.py) as a closed loop with one client on
``local[$SPARK_GRAFT_CPUS]`` (default: all cores) with the program's own
session settings (``get_spark``), from the root of a source checkout:

1. start the session, then generate the seeded inputs and ingest them,
   ``SETUP_REPEATS`` times; ``setup_s`` is the session start-up time plus
   the median generate-and-ingest time;
2. the first pipeline iteration in the fresh session, which the
   end-to-end metrics describe (what a one-shot job pays);
3. warm iterations until ``--seconds`` have passed since step 2 began.

Every iteration's outputs are checked against the generator's expected
answers. Layer calls and checks are the attempted operations; a raised
layer call or a failed check is a failed one.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm iterations (at least one of each) and reports the
per-layer metrics (medians over traced iterations) plus the tracing
overhead; its spans are written to
``.perfbench_out/trace_<workload>_<seed>.json``.

All scratch data (inputs, tables, outputs, Spark local and temp dirs) lives
under ``.perfbench_run/`` in the checkout and is removed at exit. Logs go
to stderr; the last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPEATS = 2


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the JVM and its Python workers."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(pid)] = int(f[1])
        cpu[int(pid)] = sum(int(x) for x in f[11:15])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for child, par in parent.items():
            if par == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    return sum(cpu.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(cpus: int):
    from ml_pipelines_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        # the program's own defaults (get_spark) for everything that
        # shapes execution; only the scratch locations and the
        # console progress bar are set here
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, spark, workload, args):
        from layers import Layers

        self.spark = spark
        self.args = args
        self.wl = workload(spark, args.seed)
        self.plain = Layers(spark)
        self.traced = Layers(spark, os.path.join(WORK, "stage")) \
            if args.trace else None
        self.checks = 0
        self.failed = 0
        self.n_it = 0
        self.usage = (0, 0)

    @property
    def attempted(self) -> int:
        n = self.plain.attempted + self.checks
        return n + (self.traced.attempted if self.traced else 0)

    def setup(self) -> tuple[float, dict]:
        """Generate and ingest SETUP_REPEATS times (once when traced: the
        traced run does not report setup_s); keep the last."""
        L = self.traced or self.plain
        times, prev = [], None
        for r in range(1 if self.traced else SETUP_REPEATS):
            d = os.path.join(WORK, f"setup{r}")
            t0 = time.perf_counter()
            exp = self.wl.setup(L, d)
            times.append(time.perf_counter() - t0)
            if prev:
                shutil.rmtree(prev)
            prev = d
        return statistics.median(times), exp

    def iteration(self, L) -> tuple[float, float, float] | None:
        """One timed and checked iteration: (wall s, read step s, CPU s),
        or None on failure."""
        from workloads import dir_usage

        it_dir = os.path.join(WORK, f"it{self.n_it}")
        os.makedirs(it_dir)
        L.begin_iteration(self.n_it)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            state = self.wl.iterate(L, it_dir)
        except Exception:
            log(traceback.format_exc())
            self.failed += 1
            return None
        finally:
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            L.end_iteration()
        log(f"iteration {self.n_it} ({'traced' if L.traced else 'untraced'}):"
            f" {dt:.3f}s, {cpu:.2f} CPU s")
        for name, ok in self.wl.check(state):
            self.checks += 1
            if not ok:
                self.failed += 1
                log(f"check failed: {name} (iteration {self.n_it})")
        if L.traced:
            self.ratios = self.wl.ratios(state)
        if self.n_it == 0:
            # output size after the first iteration, the same state in
            # every run however many iterations fit in the window
            usage = [dir_usage(p) for p in self.wl.outputs(it_dir)]
            self.usage = (sum(u[0] for u in usage), sum(u[1] for u in usage))
        self.spark.catalog.clearCache()
        if self.n_it:
            shutil.rmtree(os.path.join(WORK, f"it{self.n_it - 1}"))
        self.n_it += 1
        return dt, state["read_s"], cpu


def layer_metrics(traced, setup_spans: list[dict], session_s: float,
                  ratios: dict, t_traced: list, t_plain: list) -> dict:
    from layers import SETUP_SPANS, per_layer_metrics

    per_it: dict = {}
    for s in traced.spans:
        if s["iteration"] is None or s["parent"] is None:
            continue
        acc = per_it.setdefault(s["iteration"], {})
        for f in ("call_s", "force_s", "rows_out", "jobs", "tasks"):
            if f in s:
                key = f"{s['name']}.{f}"
                acc[key] = acc.get(key, 0) + s[f]
    values: dict = {}
    for its in per_it.values():
        for k, v in its.items():
            values.setdefault(k, []).append(v)
    for s in setup_spans:
        if s["name"] in SETUP_SPANS:
            values.setdefault(f"{s['name']}.call_s", []).append(s["call_s"])
    values["session.get_spark.call_s"] = [session_s]
    out = {}
    for name, unit in per_layer_metrics().items():
        if name in ratios:
            v = ratios[name]
        elif name == "trace.iter_s":
            v = statistics.median(t_traced)
        elif name == "trace.overhead_s":
            v = statistics.median(t_traced) - statistics.median(t_plain)
        else:
            v = statistics.median(values[name]) if name in values else 0
        out[name] = {"value": v, "unit": unit}
    return out


def span_cover(traced) -> float:
    """Share of traced iteration time covered by layer spans."""
    its = {s["id"]: s for s in traced.spans if s["parent"] is None
           and s["iteration"] is not None}
    child = {}
    for s in traced.spans:
        if s["parent"] in its:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end"] - s["start"]
    covers = [child.get(i, 0) / (s["end"] - s["start"]) for i, s in its.items()]
    return statistics.median(covers) if covers else 0.0


def run(args) -> dict:
    from workloads import WORKLOADS

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = start_session(cpus)
    try:
        spark.range(1).count()
        session_s = process_age()
        log(f"session up after {session_s:.2f}s on local[{cpus}]")
        r = Run(spark, WORKLOADS[args.workload], args)
        setup_one, exp = r.setup()
        setup_spans = list(r.traced.spans) if r.traced else []
        log(f"setup: median generate+ingest {setup_one:.2f}s")
        t_end = time.perf_counter() + args.seconds
        first = r.iteration(r.plain)
        if first is None:
            raise RuntimeError("cold iteration failed")
        cold_s, read_s, cpu_s = first
        log(f"cold iteration {cold_s:.2f}s")
        # warm iterations until --seconds have passed; a traced run needs
        # one untraced and one traced warm iteration at least
        plain, traced = [], []
        while True:
            need = r.traced is not None and not (plain and traced)
            if time.perf_counter() >= t_end and not need:
                break
            if r.n_it >= getattr(r.wl, "max_iterations", r.n_it + 1):
                break
            use_traced = r.traced is not None and len(traced) < len(plain)
            res = r.iteration(r.traced if use_traced else r.plain)
            if res is None:
                break
            (traced if use_traced else plain).append(res)
        if r.traced is not None and not traced:
            raise RuntimeError("no traced iteration completed")
        if plain:
            log(f"warm iterations: {len(plain)} untraced, {len(traced)} "
                f"traced, untraced median "
                f"{statistics.median(t for t, _, _ in plain):.3f}s")
        if r.traced is None:
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle \
                .current().pid()
            # read_s and peak_rss_mb go to stderr only: on a shared 4-core
            # box their spread over seeds (up to 35 % and 16 %) is too wide
            # to bound
            log(f"read_s {read_s:.3f}, peak_rss_mb "
                f"{vm_hwm_mb('self') + vm_hwm_mb(jvm_pid):.0f}")
            metrics = {
                "setup_s": (session_s + setup_one, "s"),
                "cold_iter_s": (cold_s, "s"),
                "rows_per_s": (exp["input_rows"] / cold_s, "1/s"),
                "iter_cpu_s": (cpu_s, "s"),
                "write_amp": (r.usage[0] / exp["input_bytes"], "ratio"),
                "out_files": (r.usage[1], "count"),
            }
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        else:
            metrics = layer_metrics(
                r.traced, setup_spans, session_s, r.ratios,
                [t for t, _, _ in traced], [t for t, _, _ in plain],
            )
            os.makedirs(TRACE_OUT, exist_ok=True)
            path = os.path.join(
                TRACE_OUT, f"trace_{args.workload}_{args.seed}.json")
            r.traced.dump(path)
            log(f"spans written to {path}; layer spans cover "
                f"{span_cover(r.traced):.1%} of traced iteration time")
        return {
            "correct": r.failed == 0,
            "attempted": r.attempted,
            "failed": r.failed,
            "metrics": metrics,
        }
    finally:
        stop_session(spark)


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ml_pipelines_spark")):
        log(f"ml_pipelines_spark not found under {ROOT}; run from a checkout")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d))
    # Python workers import the package from the checkout, whatever the
    # working directory; Spark and Python temp files stay in WORK.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
