"""EBW benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload prep_local --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; the engine is imported from that
checkout (never from an installed copy) and every file the run writes stays
under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps of traced runs).  See README.md in this directory for the workloads
and the metrics.

The last stdout line is the result object; the line before it carries the
details (per-kind medians, failure reasons, inputs, host-noise stamp).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "entropy_balance_weighting_spark"
HARD_LIMIT_S = 150.0  # stop starting cycles past this point of the run


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# -- host -----------------------------------------------------------------------
def cpu_jiffies() -> dict[str, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) for n, v in zip(names, parts)}


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def driver_memory() -> str:
    """The engine's default driver heap (32g) exceeds small boxes: size it to
    a quarter of physical memory, capped at 8 GiB."""
    gib = max(2, min(8, mem_total_bytes() // (4 << 30)))
    return f"{gib}g"


def noise_stamp(j0: dict, j1: dict, load0: float, load1: float, mem: str) -> dict:
    d = {k: j1[k] - j0[k] for k in j0}
    total = sum(d.values()) or 1
    return {
        "steal_pct": 100.0 * d["steal"] / total,
        "iowait_pct": 100.0 * d["iowait"] / total,
        "busy_pct": 100.0 * (total - d["idle"] - d["iowait"]) / total,
        "loadavg_start": load0,
        "loadavg_end": load1,
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": mem,
        "mem_total_mb": mem_total_bytes() >> 20,
    }


# -- processes ------------------------------------------------------------------
def become_subreaper() -> None:
    """Have orphaned descendants (Python workers whose JVM has exited)
    re-parented to this process, so that ``stop_processes`` finds and reaps
    them instead of leaving them to init."""
    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        _fail(f"prctl(PR_SET_CHILD_SUBREAPER) failed: errno {ctypes.get_errno()}")


def descendants() -> list[int]:
    """Pids of every live process below this one, from ``/proc``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while scanning
        kids.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in kids.get(todo.pop(), []):
            out.append(pid)
            todo.append(pid)
    return out


def reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_descendants(timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while True:
        reap_zombies()
        if not descendants():
            return True
        if time.monotonic() >= deadline:
            return False
        time.sleep(0.05)


def stop_processes(grace_s: float = 30.0) -> bool:
    """End the Spark JVM and everything below this process, and wait for
    each to exit.  ``SparkSession.stop`` leaves the JVM gateway running
    until the Python process exits, so close it here: the JVM exits when
    its stdin closes.  Whatever is still alive after ``grace_s`` gets
    SIGTERM, then SIGKILL.  Returns whether every process has ended."""
    context = sys.modules.get("pyspark") and sys.modules["pyspark"].SparkContext
    gateway = context._gateway if context else None
    if gateway is not None:
        context._gateway = None
        context._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
    return wait_descendants(grace_s) or kill_descendants()


def kill_descendants() -> bool:
    """SIGTERM, then SIGKILL, to every process below this one; returns
    whether all of them have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if wait_descendants(10.0):
            return True
    print(f"perfbench: processes still running: {descendants()}", file=sys.stderr)
    return False


def exit_on_signals(work: Path) -> None:
    """On SIGTERM or SIGINT, end every descendant, remove ``work`` and exit
    without a result.  A signal can interrupt a py4j call half-way, after
    which a graceful ``spark.stop()`` may wait forever, so the JVM is killed
    instead."""

    def handler(signum, frame):
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)
        kill_descendants()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: stopped by signal {signum}", file=sys.stderr)
        os._exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, handler)


# -- run ------------------------------------------------------------------------
def prepare_environment(work: Path) -> str:
    """Point every scratch location at ``work`` and make the checkout's
    engine importable by the driver and the Python workers."""
    if not (ROOT / PKG / "__init__.py").is_file():
        _fail(f"no {PKG}/ package next to {HERE.name}/; run from a source checkout")
    sys.path.insert(0, str(ROOT))
    import importlib

    pkg = importlib.import_module(PKG)
    if Path(pkg.__file__).resolve().parent != ROOT / PKG:
        _fail(f"{PKG} imported from {pkg.__file__}, not from the checkout")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    )
    mem = driver_memory()
    os.environ["SPARK_DRIVER_MEM"] = mem
    return mem


def start_session(work: Path):
    """The engine's session at ``local[nproc]``, with scratch under ``work``.

    The context cleaner's reference tracking is off: it unpersists cached
    RDDs whenever the JVM happens to collect their handles, which makes
    cached memory, persisted-RDD counts and the timing of later ops depend
    on garbage-collection timing.  Without it, cached data is freed only
    when the engine unpersists it, so what a solve leaves behind is
    measured, and repeats for a seed."""
    from entropy_balance_weighting_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.cleaner.referenceTracking": "false",
    }
    return get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )


def run(wd, seed: int, seconds: float, trace: bool, work: Path) -> tuple[dict, dict]:
    """One run of workload ``wd`` (a ``workloads.WorkloadDef``); returns the
    detail object and the result object."""
    import workloads as W

    t_start = time.perf_counter()
    deadline = t_start + HARD_LIMIT_S
    j0, load0 = cpu_jiffies(), loadavg()
    mem = prepare_environment(work)

    # -- setup: session, inputs (generated 3×, median), tables, warm-up ops
    t = time.perf_counter()
    spark = start_session(work)
    spark.range(1).count()
    session_s = time.perf_counter() - t
    try:
        data_dir = work / "data"
        gen_times = []
        for rep in range(3):
            rep_dir = data_dir / str(rep)
            rep_dir.mkdir(parents=True, exist_ok=True)
            t = time.perf_counter()
            inputs = W.make_inputs(wd, str(rep_dir), seed)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        runner = W.Runner(spark, wd, inputs)
        runner.setup_tables()
        # the traced run compares a traced with an untraced cycle, so it
        # warms every kind first: a kind's first op runs slower
        warm_kinds = [wd.kinds[0]] * wd.warmup_ops + (list(wd.kinds[1:]) if trace else [])
        warm = [runner.run_op(kind, -1, check=False) for kind in warm_kinds]
        setup_s = session_s + W.median(gen_times) + (time.perf_counter() - t)
        for rec in warm:
            if not rec.ok:
                print(f"perfbench: warm-up op failed: {rec.reason}", file=sys.stderr)

        layer = None
        if trace:
            import layers

            layer = layers.traced_window(
                runner, seed, seconds, deadline, session_s, str(ROOT / ".perfbench_out")
            )
            loop = layer.loop
        else:
            loop = W.run_cycles(runner, seconds, deadline)

        summary = W.summarize(loop.records)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}
    finally:
        spark.stop()
    noise = noise_stamp(j0, cpu_jiffies(), load0, loadavg(), mem)

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (summary["op_s_p50"], "s"),
        "cycle_s": (summary["cycle_s"], "s"),
        "rows_per_s": (summary["rows_per_s"], "1/s"),
        "success_ratio": (1.0 - summary["failed"] / summary["attempted"], "ratio"),
        "cached_mb": (summary["cached_mb"], "MB"),
    }
    detail = {
        "workload": wd.name,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "closed_loop_clients": 1,
        "inputs": {
            "n": inputs.n,
            "k": inputs.k,
            "nnz": inputs.nnz,
            "sum_kb2": inputs.sum_kb2,
            "blob_partitions": max((r.blob_partitions for r in loop.records), default=0),
            "groups": wd.groups,
        },
        "fail_ratio": summary["failed"] / summary["attempted"],
        "fail_reasons": summary["fail_reasons"],
        "samples": {"op": summary["op_s_n"], "cycle": summary["cycle_n"]},
        "per_kind_solve_s": {
            f"{k}_s_p50": {"value": v["p50"], "unit": "s", "n": v["n"]}
            for k, v in summary["per_kind"].items()
        },
        "session_s": session_s,
        "gen_s": gen_times,
        "warmup": [{"kind": r.kind, "op_s": r.op_s, "ok": r.ok} for r in warm],
        "window_s": loop.window_s,
        "ops": [
            {
                "kind": r.kind,
                "ok": r.ok,
                "op_s": round(r.op_s, 4),
                "build_s": round(r.build_s, 4),
                "solve_s": round(r.solve_s, 4),
                "check_s": round(r.check_s, 4),
                "iterations": r.iterations,
                "persisted_plans": r.persisted_plans,
                "persisted_kernels": r.persisted_kernels,
            }
            for r in loop.records
        ],
        # JVM + Python driver VmHWM: not gated, it follows G1 heap growth
        # and spread 0.1-0.2 between runs (cached_mb is the gated figure)
        "peak_rss_mb": {"value": rss_mb["jvm"] + rss_mb["python"], "unit": "MB", **rss_mb},
        "host": noise,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
    }
    if layer is not None:
        detail["layers"] = layer.metrics
        detail["trace_file"] = layer.dump_path
    result = {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": (
            layer.metrics if trace else {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        ),
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    become_subreaper()
    exit_on_signals(work)
    try:
        detail, result = run(
            W.WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        stopped = stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run still uses it
    if not stopped:
        _fail("could not stop every process the run started")
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
