"""Benchmark entry point.

    python3 perfbench/run.py --workload fleet_ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout: the package is imported from there,
and executors get the same root on their ``PYTHONPATH``. Every file the
run writes goes under ``.perfbench/`` in that root. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics with ``--trace 1``).

The traced run ignores ``--workload``: it sets up every workload, runs
one op untraced and then one op traced, and fills the whole layer
table from the spans, the planning trackers and the Spark event log.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

WORKLOAD_NAMES = ("fleet_ingest", "browse_session", "registry_mix")
# Ops keep getting faster for a while as the JVM compiles its hot
# paths: after set-up, ops run untimed until this many seconds have
# passed since set-up began (the registry's oracle pass counts). The
# registry's passes kept getting faster for four to eight passes.
WARMUP_S = {"fleet_ingest": 15.0, "browse_session": 20.0, "registry_mix": 30.0}


def process_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for this
    process and all its descendants (the JVM and the Python workers)."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(entry)] = fields
        children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


def tree_cpu_s() -> float:
    """CPU seconds, user and system, that the process tree has used so
    far, reaped children included."""
    ticks = sum(int(x) for f in process_tree().values() for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssMonitor:
    """Resident set of the Python processes of this process tree: this
    driver and the Python workers it forks, sampled from ``/proc`` four
    times a second. The JVM is left out: its resident set follows its
    heap growth policy, which moves it by 1.4-2.0 GB between identical
    runs."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _python_rss(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        continue
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), self._python_rss()))
            self._stop.wait(self.interval)

    def peak_mb(self, t0: float, t1: float) -> float:
        """Largest sample taken between ``t0`` and ``t1``."""
        return max(b for t, b in self.samples if t0 <= t <= t1) / 1e6

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    Python worker that outlives the JVM is re-parented here, where
    :func:`stop_descendants` can wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_jvm() -> None:
    """Close the gateway and the JVM's stdin, on which it exits by
    itself, and wait for it; kill it if it has not ended in 30 s.
    ``spark.stop()`` leaves the JVM running until this process exits,
    and nothing would wait for it then."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


def stop_descendants(timeout: float = 30.0) -> None:
    """Kill every process that is still left below this one and reap
    each, until none is left or ``timeout`` has passed."""
    deadline = time.monotonic() + timeout
    while True:
        while True:  # reap what has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = {p: f for p, f in process_tree().items() if p != os.getpid()}
        if not left or time.monotonic() > deadline:
            return
        for pid, fields in left.items():
            if fields[0] != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def prepare_env(root: str, workdir: str, trace: bool) -> str | None:
    """Point executors at the checkout and keep every scratch file of
    Spark, the JVM and Python inside ``workdir``. Returns the event log
    directory when tracing."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(workdir, "warehouse")
    os.environ["TZ"] = "UTC"
    time.tzset()
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false"]
    events = None
    if trace:
        events = os.path.join(workdir, "events")
        os.makedirs(events, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{events}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return events


def run_ops(w, seconds: float) -> tuple[list[float], list[float], list[float], int]:
    """Run ops back to back until ``seconds`` have passed (the last op
    runs to its end). Returns op walls, op CPU seconds of the process
    tree, call latencies and the number of failed ops."""
    walls, cpus, calls, failed = [], [], [], 0
    t0 = time.perf_counter()
    while True:
        s, c = time.perf_counter(), tree_cpu_s()
        try:
            calls += w.op()
        except Exception as exc:  # a failed check or an op that raised
            failed += 1
            print(f"[perfbench] {w.name} op {len(walls) + 1} failed: {exc!r}", file=sys.stderr)
        walls.append(time.perf_counter() - s)
        cpus.append(tree_cpu_s() - c)
        if time.perf_counter() - t0 >= seconds:
            return walls, cpus, calls, failed


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def log_walls(name: str, what: str, walls: list[float]) -> None:
    print(f"[perfbench] {name}: {what} {' '.join(f'{x:.2f}' for x in walls)}", file=sys.stderr)


def untraced(spark, name: str, workdir: str, seed: int, seconds: float) -> dict:
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[name](spark, Tracer(spark, False), workdir, seed)
    t = time.perf_counter()
    w.setup()
    warm_start = time.perf_counter()
    warm, _, _, warm_failed = run_ops(w, WARMUP_S[name] - (warm_start - t))
    first_result = warm_start + warm[0]
    t0 = time.perf_counter()
    log_walls(name, "warm-up op walls", warm)
    walls, cpus, calls, failed = run_ops(w, seconds)
    log_walls(name, "op walls", walls)
    log_walls(name, "op cpu", cpus)
    log_walls(name, "call walls", calls)
    return {
        "attempted": len(walls) + len(warm), "failed": failed + warm_failed,
        "window": (t0, time.perf_counter()),
        "metrics": {
            "setup_s": (first_result - T_START, "s"),
            "op_s": (statistics.median(walls), "s"),
            "op_cpu_s": (statistics.median(cpus), "s"),
            "call_p90_ms": (p90(calls) * 1e3, "ms"),
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sarfile_analyzer_ng_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout of the package", file=sys.stderr)
        return 2
    sys.path[:0] = [root]
    workdir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    events = prepare_env(root, workdir, bool(args.trace))
    adopt_orphans()
    # a terminated run still stops its JVM and workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with RssMonitor() as rss:
            from sarfile_analyzer_ng_spark.session import get_spark

            t = time.perf_counter()
            spark = get_spark("perfbench")
            spark_start_s = time.perf_counter() - t
            spark.sparkContext.setLogLevel("ERROR")
            try:
                if args.trace:
                    from perfbench.layers import traced

                    result = traced(spark, workdir, args.seed, spark_start_s)
                else:
                    result = untraced(spark, args.workload, workdir, args.seed, args.seconds)
            finally:
                spark.stop()
        if args.trace:
            from perfbench.layers import finish

            result = finish(result, events, os.path.join(root, ".perfbench", "last-trace"))
        else:
            result["metrics"]["py_peak_rss_mb"] = (rss.peak_mb(*result["window"]), "MB")
    finally:
        try:
            stop_jvm()
        finally:
            stop_descendants()
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    # import the benchmark as a package of the checkout, not its
    # modules from the script's own directory
    sys.path[0] = os.getcwd()
    raise SystemExit(main())
