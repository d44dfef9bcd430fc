"""Benchmark of record: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload table_mixed --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout. Inputs are generated from the
seed under a fresh temp root inside the checkout (removed afterwards); the
engine runs on ``local[$(nproc)]``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
metrics. A traced run first makes the untraced run, then repeats its
operations with spans on, and then once more untraced; it writes the Spark
event log throughout. A run record with input sizes, the host record and,
for traced runs, the spans is kept under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("etl_query_mix", "table_mixed")
STOP_GRACE_S = 30.0  # how long stop_engine waits before it kills


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: makes a slow host visible."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def host_record() -> dict:
    return {"nproc": os.cpu_count(), "loadavg": os.getloadavg(), "calib_s": calibrate()}


def git_state() -> str | None:
    """``git status --porcelain`` of the checkout, or None outside git."""
    try:
        out = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                             capture_output=True, text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout if out.returncode == 0 else None


class Ctx:
    """State shared by a workload and the runner for one run."""

    def __init__(self, seed: int, root: str):
        from spans import Tracer

        self.seed, self.root = seed, root
        self.tracer = Tracer(False)  # enabled for the traced pass only
        self.spark = None
        self.samples: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.deadline = float("inf")

    def session(self, conf: dict[str, str]):
        from telemetry_parquet_spark.session import get_session

        self.spark = get_session("perfbench", extra_conf=conf)
        self.tracer.bind(self.spark)
        return self.spark

    def sample(self, cls: str, seconds: float) -> None:
        self.samples.setdefault(cls, []).append(seconds)

    def attempt(self, fn):
        """Runs one timed operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            self.failed += 1
            self.failures.append(traceback.format_exc(limit=3))
            _log(self.failures[-1])
            return None

    def verify(self, ok: bool, what: str) -> None:
        """Records an untimed correctness check; a mismatch is a failure."""
        if not ok:
            self.failed += 1
            self.failures.append(f"check: {what}")
            _log(f"CHECK FAILED: {what}")


def make_workload(name: str, ctx: Ctx):
    if name == "etl_query_mix":
        from wl_etl import EtlQueryMix

        return EtlQueryMix(ctx)
    from wl_table import TableMixed

    return TableMixed(ctx)


def spark_conf(root: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(root, "local"),
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'jtmp')}",
    }
    if trace:
        os.makedirs(os.path.join(root, "eventlog"), exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(root, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def end_to_end(ctx: Ctx, wl, setup_s: float) -> dict:
    """The workload-independent end-to-end metrics (see README.md for
    what each means on each workload)."""
    a, b = wl.classes
    unit = ctx.samples["unit"]
    return {
        "setup_s": (setup_s, "s"),
        "class_a_mean_s": (statistics.fmean(ctx.samples[a]), "s"),
        "class_b_mean_s": (statistics.fmean(ctx.samples[b]), "s"),
        "work_per_s": (len(unit) / sum(unit), "1/s"),
    }


def rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _descendants() -> list[int]:
    """Pids of every live process below this one, from ``/proc``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # ended while we looked
    found, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == pid]
        found += kids
        frontier += kids
    return found


def stop_engine(spark) -> None:
    """Stops the session, then the JVM and every process below it (the
    pandas UDF's Python workers among them), and waits until each has
    ended, so that nothing outlives the run. The JVM would otherwise exit
    only after this process, when its stdin closes."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            _log(traceback.format_exc(limit=3))
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(STOP_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # what is left are orphans, reparented here (see main): they should
    # end on their own once the JVM is gone; otherwise SIGTERM, then SIGKILL
    t0 = time.monotonic()
    termed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left, so no descendants either
        waited = time.monotonic() - t0
        if waited > 2 * STOP_GRACE_S / 3 or (waited > STOP_GRACE_S / 3 and not termed):
            sig = signal.SIGKILL if termed else signal.SIGTERM
            for pid in _descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            termed = True
        time.sleep(0.05)


def _raise_exit(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine lives beside this directory; without it there is nothing
    # to measure
    sys.path.insert(0, ROOT)
    try:
        import telemetry_parquet_spark.session  # noqa: F401
    except ImportError as e:
        _log(f"perfbench: engine sources not found next to {HERE}: {e}")
        return 2

    # orphaned descendants (the UDF workers, once the JVM is gone) are
    # reparented to this process, so stop_engine can wait for every one
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    prev_term = signal.signal(signal.SIGTERM, _raise_exit)
    git_before = git_state()
    root = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "jtmp"))
    cpus = str(os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    host_before = host_record()
    ctx = Ctx(args.seed, root)
    phases = {"start": time.perf_counter()}
    try:
        wl = make_workload(args.workload, ctx)
        sizes = wl.generate()
        phases["generated"] = time.perf_counter()
        # one cold set-up: the JVM starts, the session is created and each
        # operation kind runs once. A traced run writes the event log from
        # the start: a second session in the same JVM would reuse stale
        # Python accumulators of the pandas UDF
        t0 = time.perf_counter()
        ctx.session(spark_conf(root, bool(args.trace)))
        t1 = time.perf_counter()
        wl.warmup()
        setup = {"create_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
        phases["set_up"] = time.perf_counter()
        wl.prepare("untraced")
        ctx.deadline = time.perf_counter() + args.seconds
        rounds = wl.run()
        phases["ran"] = time.perf_counter()
        wl.check()
        phases["checked"] = time.perf_counter()
        untraced = ctx.samples
        if args.trace:
            # the same operations again on fresh outputs, traced, and then
            # untraced once more: the first pass ran colder than both
            ctx.samples, ctx.tracer.enabled = {}, True
            wl.prepare("traced")
            wl.run(rounds)
            ctx.tracer.enabled = False
            traced = ctx.samples
            wl.check()
            layer = wl.layer_metrics(ctx.tracer)
            phases["traced"] = time.perf_counter()
            ctx.samples = {}
            wl.prepare("untraced_again")
            wl.run(rounds)
            wl.check()
            phases["untraced_again"] = time.perf_counter()
            ctx.samples, again = traced, ctx.samples
        jvm_pid = int(ctx.spark.sparkContext._jvm.ProcessHandle.current().pid())
        mem = {"jvm_peak_rss_mb": rss_mb(jvm_pid), "py_peak_rss_mb": rss_mb(os.getpid())}
        if args.trace:
            from layers import per_layer

            metrics = per_layer(ctx, layer, setup, mem, again["unit"])
        else:
            metrics = end_to_end(ctx, wl, setup["create_s"] + setup["warmup_s"])
        host_after = host_record()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "inputs": sizes, "rounds": rounds, "host_before": host_before,
            "host_after": host_after, "memory": mem, "setup": setup,
            "samples": untraced, "traced_samples": ctx.samples if args.trace else None,
            "untraced_again_samples": again if args.trace else None,
            "phases_s": {k: round(v - phases["start"], 3) for k, v in phases.items()},
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        stop_engine(ctx.spark)
        signal.signal(signal.SIGTERM, prev_term)
        shutil.rmtree(root, ignore_errors=True)
        tmp_parent = os.path.dirname(root)
        if os.path.isdir(tmp_parent) and not os.listdir(tmp_parent):
            os.rmdir(tmp_parent)
    git_after = git_state()
    ctx.verify(git_before == git_after, "the run changed the checkout's git status")
    record["git_unchanged"] = git_before == git_after
    record["failures"] = ctx.failures[:20]
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        ctx.tracer.write(stem + ".spans.jsonl")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
