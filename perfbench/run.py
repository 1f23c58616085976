#!/usr/bin/env python3
"""Benchmark of the big_data_bowl_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Starts the engine's session on
local[nproc] in this process, generates the workload's inputs from the
seed, times one full pass, checks its outputs, and prints one JSON line
last: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. The pass alone outlasts any S up to a minute on a 4-CPU
machine, so S is accepted and not used. Workloads, metrics and the
metric-to-layer map are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

from spans import COUNTERS, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_MEMORY = "3g"
LAYERS = ("sources", "plans.tracking", "plans.e2_control", "operators",
          "ml", "queries")
LAYER_COUNTERS = ("jobs", "tasks", "task_failures", "cpu_s", "gc_s",
                  "spill_mb", "wait_ms")


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_DRIVER_MEMORY": JVM_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
    })


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _jvm_pid():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw.proc.pid if gw is not None else None


def _reset_peak_rss(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")


def _status_mb(pid, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and all its
    descendants (the JVM, Spark's Python workers), reaped children
    included. Stolen and waiting time is not CPU time, so this moves far
    less than wall time with the load other tenants put on the machine."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # fields after the parenthesised command name
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(name)] = f
        children.setdefault(int(f[1]), []).append(int(name))
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            ticks += sum(int(x) for x in stats[pid][11:15])
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _retained_mb(spark) -> float:
    """Memory held after the pass, its outputs still cached: the JVM
    heap in use after a full garbage collection plus the resident memory
    of this Python process."""
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    spark.sparkContext._jvm.java.lang.System.gc()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2.0 ** 20
    rss = _status_mb(os.getpid(), "VmRSS")
    print(f"  retained MB: JVM heap {heap:.1f}, Python RSS {rss:.1f}")
    return heap + rss


def _stop_engine(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = gw.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - a hung JVM is killed
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, args, work: str):
        import workloads

        self.wl_mod = workloads
        self.args = args
        self.work = work
        self.spark = None
        self.start: dict[str, float] = {}
        self.wl = None
        self.held: list = []  # DataFrames the pass persisted

    def setup(self) -> None:
        """Session start (JVM launch included), timed in wall and CPU
        seconds, then input generation, which is the benchmark's own
        code and not timed as set-up."""
        from big_data_bowl_spark.session import get_spark

        c0, t0 = _tree_cpu_s(os.getpid()), time.perf_counter()
        self.spark = get_spark(cpus=_cpus())
        self.spark.sparkContext.setLogLevel("ERROR")
        t1, c1 = time.perf_counter(), _tree_cpu_s(os.getpid())
        self.start = {"wall_s": t1 - t0, "cpu_s": c1 - c0}
        self.wl = self.wl_mod.WORKLOADS[self.args.workload](
            os.path.join(self.work, "inputs"), self.args.seed)
        self.wl.generate()
        print(f"  session start: {t1 - t0:.3f} s wall, {c1 - c0:.2f} s CPU;"
              f" inputs generated in {time.perf_counter() - t1:.3f} s")

    def run(self) -> dict:
        args = self.args
        self.setup()
        pids = [os.getpid(), _jvm_pid()]
        _reset_peak_rss(pids)
        # The timed pass is the first in a fresh session, as for a batch
        # job submitted on its own: it pays class loading, code
        # generation and JIT.
        tr = Tracer(self.spark, enabled=bool(args.trace))
        c0, t0 = _tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            out, error = self.wl.run_pass(self.spark, tr, self.held), None
        except Exception as exc:  # noqa: BLE001 - counted as failed
            traceback.print_exc()
            out, error = None, repr(exc)
        wall, cpu = time.perf_counter() - t0, _tree_cpu_s(os.getpid()) - c0
        critical, task_cpu = tr.stage_cpu_s(_cpus())
        # the pass's wall time on an idle machine: the tasks' critical
        # path, plus the rest of its CPU (driver, JIT, GC, Python
        # workers) as if spread over every core
        est_wall = critical + max(0.0, cpu - task_cpu) / _cpus()
        tr.harvest()
        peak = sum(_status_mb(pid, "VmHWM") for pid in pids)
        retained = _retained_mb(self.spark)
        t_check = time.perf_counter()
        if not error:
            try:
                self.wl.verify(self.spark, out)
            except Exception as exc:  # noqa: BLE001 - a check that fails
                traceback.print_exc()
                self.wl.failures.append(f"check raised {exc!r}")
        failed = 1 if error or self.wl.failures else 0
        self.wl_mod.release(self.held)
        print(f"  check seconds: {time.perf_counter() - t_check:.3f}")
        if error:
            print(f"error: {error}")
        for msg in self.wl.failures:
            print(f"check failed: {msg}")
        print(f"workload {self.wl.name} seed {args.seed}: inputs "
              f"{self.wl.sizes}, pass {wall:.3f} s wall, {cpu:.2f} s CPU "
              f"({task_cpu:.2f} s in tasks, {critical:.2f} s of it on the "
              f"critical path); failed_ratio {failed}")
        if error:
            metrics = {}
        elif args.trace:
            metrics = self.layer_metrics(out, tr)
            metrics["process.peak_rss_mb"] = {"value": peak, "unit": "MB"}
            # minus the untraced run's figures for the same seed: the
            # tracing overhead
            metrics["trace.pass_wall_s"] = {"value": wall, "unit": "s"}
            metrics["trace.pass_cpu_s"] = {"value": cpu, "unit": "s"}
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            tr.write(os.path.join(
                ROOT, ".bench_out",
                f"spans-{self.wl.name}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": {"value": self.start["cpu_s"], "unit": "s"},
                "pass_cpu_s": {"value": cpu, "unit": "s"},
                "pass_est_wall_s": {"value": est_wall, "unit": "s"},
                "retained_mb": {"value": retained, "unit": "MB"},
            }
        for k, v in metrics.items():
            print(f"  {k:<46} {v['value']:>14.6g} {v['unit']}")
        return {"correct": failed == 0, "attempted": 1, "failed": failed,
                "metrics": metrics}

    def layer_metrics(self, out, tr) -> dict:
        """Per-layer figures of the traced pass."""
        tot = tr.totals()
        empty = {"time": {}, **dict.fromkeys(COUNTERS, 0.0)}

        def layer(name):
            return tot.get(name, empty)

        def t(name, span):
            return layer(name)["time"].get(span, 0.0)

        e2_time = sum(layer("plans.e2_control")["time"].values())
        m = {
            "session.start_s": (self.start["wall_s"], "s"),
            "sources.scan_s": (t("sources", "scan"), "s"),
            "sources.input_mb": (
                sum(v["input_mb"] for v in tot.values()), "MB"),
            "plans.tracking.e1_s": (t("plans.tracking", "e1"), "s"),
            "plans.tracking.los_s": (t("plans.tracking", "los"), "s"),
            "plans.tracking.shuffle_write_mb": (
                layer("plans.tracking")["shuffle_write_mb"], "MB"),
            "operators.pivot_s": (t("operators", "pivot"), "s"),
            "ml.fit_s": (t("ml", "fit"), "s"),
            "ml.score_s": (t("ml", "score"), "s"),
            "plans.e2_control.kinematics_s": (
                t("plans.e2_control", "kinematics"), "s"),
            "plans.e2_control.influence_s": (
                t("plans.e2_control", "influence"), "s"),
            "plans.e2_control.surface_s": (
                t("plans.e2_control", "surface"), "s"),
            "plans.e2_control.cells_per_s": (
                self.wl.cells_per_pass() / e2_time if e2_time else 0.0,
                "1/s"),
            "queries.e04_s": (t("queries", "e04"), "s"),
            "queries.e05_s": (t("queries", "e05"), "s"),
            "queries.index_trainings": (
                out.get("index_trainings", 0), "count"),
        }
        for name in LAYERS:
            for c in LAYER_COUNTERS:
                unit = {"cpu_s": "s", "gc_s": "s", "spill_mb": "MB",
                        "wait_ms": "ms"}.get(c, "count")
                m[f"{name}.{c}"] = (layer(name)[c], unit)
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "big_data_bowl_spark")):
        print("perfbench: the big_data_bowl_spark package is not in "
              f"{ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _isolate(work)
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        _stop_engine(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
