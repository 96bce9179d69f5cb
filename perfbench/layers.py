"""The traced run: one traced op of every workload, turned into the
per-layer metrics.

Layer metrics are named after the package modules; ``perfbench/README.md``
says which end-to-end metric each one should move.
"""

from __future__ import annotations

import json
import lzma
import os
import statistics
import time

from perfbench.tracing import PLAN_PHASES, Tracer, read_event_log, sum_stats
from perfbench.workloads import REGISTRY_KEYS, WORKLOADS

API_CALLS = ("file_info", "header_details", "statistics", "get_table", "analyze_section",
             "compare_files", "compare_files_aligned")
EXEC_FIELDS = (("tasks", "count"), ("cpu_s", "s"), ("run_s", "s"), ("gc_s", "s"),
               ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"), ("spill_mb", "MB"))


def one_process_parse(files: dict[str, bytes]) -> tuple[float, float]:
    """Seconds to decompress and parse every file with the pure
    per-file parsers in this process (the reference's one-core model),
    and the decompression part of it."""
    from sarfile_analyzer_ng_spark.sources.sadf_json import parse_sadf_json
    from sarfile_analyzer_ng_spark.sources.sar_text import XZ_MAGIC, parse_sar_columns

    total = unxz = 0.0
    for name, data in files.items():
        t0 = time.perf_counter()
        try:
            if data[: len(XZ_MAGIC)] == XZ_MAGIC:
                data = lzma.decompress(data)
                unxz += time.perf_counter() - t0
            if data.lstrip()[:1] == b"{":
                parse_sadf_json(name, data)
            else:
                parse_sar_columns(name, data.decode("utf-8", "replace"))
        except (lzma.LZMAError, ValueError):
            pass  # the malformed inputs; both distributed readers skip them too
        total += time.perf_counter() - t0
    return total, unxz


def _op(w) -> float:
    """Run one op; a failed check or an op that raised is kept in
    ``w.failed``."""
    t0 = time.perf_counter()
    try:
        w.op()
    except Exception as exc:
        w.failed.append(f"op {w.n_op}: {exc!r}")
    return time.perf_counter() - t0


def _traced_op(w, tracer: Tracer) -> dict:
    """One op with tracing off, then one with tracing on. For the
    fleet a cold op runs first; the registry's set-up already ran a cold
    pass. The browse session gets no extra cold op, to keep the traced
    run short: its untraced session is its first, so its overhead ratio
    also holds that session's warm-up and reads low."""
    if w.name == "fleet_ingest":
        _op(w)
    before = _op(w)
    tracer.enabled = True
    wall = _op(w)
    tracer.enabled = False
    return {"w": w, "wall": wall, "untraced": before, "op": w.n_op}


def raw_statistics(spark, w) -> float:
    """Seconds of one ``api.statistics`` call (CPU ``all``, whole day)
    on the unstored ``read_sar`` frame of the fleet corpus."""
    from sarfile_analyzer_ng_spark import api
    from sarfile_analyzer_ng_spark.sources.sar_text import read_sar

    from perfbench.corpus import CPU_METRICS, CPU_SECTION

    file = next(r["file"] for r in sorted(w.last_rows, key=lambda r: r["file"])
                if r["file"].endswith(".txt"))
    t0 = time.perf_counter()
    rows = api.statistics(read_sar(spark, w.dir), file, CPU_SECTION, "all").collect()
    seconds = time.perf_counter() - t0
    if len(rows) != len(CPU_METRICS):
        w.failed.append(f"raw statistics: {len(rows)} metrics")
    return seconds


def traced(spark, workdir: str, seed: int, spark_start_s: float) -> dict:
    tracer = Tracer(spark, True)
    tracer.enabled = False
    runs = {}
    for name, cls in WORKLOADS.items():
        w = cls(spark, tracer, workdir, seed)
        w.failed = []
        w.setup()
        runs[name] = _traced_op(w, tracer)
    fw = runs["fleet_ingest"]["w"]
    return {"spark_start_s": spark_start_s, "runs": runs, "tracer": tracer,
            "one_proc": one_process_parse(fw.files), "raw_stats_s": raw_statistics(spark, fw)}


def _sql(st, metric: str, node: str | None = None) -> float:
    return sum(v for k, v in st.sql.items()
               if k.endswith("/" + metric) and (node is None or k.startswith(node + "/")))


def _spans(tracer: Tracer, prefix: str, suffix: str = "") -> list:
    return [s for s in tracer.spans if s.label.startswith(prefix) and s.label.endswith(suffix)]


def finish(state: dict, events_dir: str, out_dir: str) -> dict:
    """Parse the event log and assemble the layer metrics."""
    (log,) = os.listdir(events_dir)
    stats = read_event_log(os.path.join(events_dir, log))
    tracer: Tracer = state["tracer"]
    runs = state["runs"]
    m: dict[str, tuple[float, str]] = {"session.spark_start_s": (state["spark_start_s"], "s")}

    # sources: fleet_ingest's traced op
    fw = runs["fleet_ingest"]["w"]
    fp = f"fleet:op{runs['fleet_ingest']['op']}:"
    fs = sum_stats(stats, fp)
    mb = fw.input_bytes / 1e6
    total_1p, unxz_1p = state["one_proc"]
    ingest = mb / runs["fleet_ingest"]["wall"]
    m["sources.ingest_mb_s"] = (ingest, "MB/s")
    m["sources.parse_mb_s_1proc"] = (mb / total_1p, "MB/s")
    m["sources.decompress_s_1proc"] = (unxz_1p, "s")
    m["sources.scaling_ratio"] = (ingest * total_1p / mb, "ratio")
    m["sources.python_worker_s"] = (_sql(fs, "time to run Python workers"), "s")
    m["sources.python_bytes_in_per_mb"] = (_sql(fs, "data sent to Python workers") / mb, "B/MB")
    m["sources.python_bytes_out_per_mb"] = (
        _sql(fs, "data returned from Python workers") / mb, "B/MB")
    m["sources.scan_tasks"] = (fs.leaf_tasks, "count")
    m["sources.max_task_s"] = (fs.max_leaf_task_s, "s")
    m["sources.files_opened_per_file"] = (
        _sql(fs, "number of output rows", "Scan binaryFile") / len(fw.files), "ratio")
    listed = {os.path.basename(r["file"]) for r in fw.last_rows}
    m["sources.files_unreported"] = (len(set(fw.files) - listed), "count")
    m["sources.raw_statistics_s"] = (state["raw_stats_s"], "s")

    # store and api: browse_session's traced op
    bw = runs["browse_session"]["w"]
    bp = f"browse:op{runs['browse_session']['op']}:"
    up = _spans(tracer, bp, ":upload")[0]
    m["store.upload_s"] = (up.seconds, "s")
    m["store.upload_jobs"] = (len(up.jobs), "count")
    m["store.upload_parse_passes"] = (stats[up.label].python_passes, "count")
    n_parts, pq_bytes = bw.parquet
    m["store.parquet_bytes_per_input_byte"] = (pq_bytes / bw.uploaded_bytes, "ratio")
    m["store.parquet_files_per_upload"] = (n_parts, "count")
    m["store.load_ms"] = (statistics.median(
        s.seconds for s in _spans(tracer, bp, ":store.load")) * 1e3, "ms")
    m["store.list_files_ms"] = (_spans(tracer, bp, ":store.list_files")[0].seconds * 1e3, "ms")
    build_jobs = 0
    for call in API_CALLS:
        builds = _spans(tracer, bp, f":{call}:build")
        execs = _spans(tracer, bp, f":{call}:exec")
        plans = bw.plans[call]
        n = len(builds)
        opt_ms = sum(p["optimization"] + p["planning"] for p, _ in plans)
        scanned = sum(_sql(stats[label], "number of output rows", "Scan parquet")
                      for label in {s.label for s in builds + execs} if label in stats)
        build_jobs += sum(len(s.jobs) for s in builds)
        m[f"api.{call}.build_ms"] = (sum(s.seconds for s in builds) / n * 1e3, "ms")
        m[f"api.{call}.plan_ms"] = (sum(sum(p.values()) for p, _ in plans) / n, "ms")
        m[f"api.{call}.exec_ms"] = ((sum(s.seconds for s in execs) * 1e3 - opt_ms) / n, "ms")
        m[f"api.{call}.rows_scanned_per_row"] = (
            scanned / max(1, sum(r for _, r in plans)), "ratio")
    m["api.build_jobs"] = (build_jobs, "count")

    # queries: registry_mix's traced op
    rw = runs["registry_mix"]["w"]
    rp = f"registry:op{runs['registry_mix']['op']}:"
    for key in REGISTRY_KEYS:
        m[f"queries.{key}.build_s"] = (_spans(tracer, f"{rp}{key}:build")[0].seconds, "s")
        m[f"queries.{key}.exec_s"] = (_spans(tracer, f"{rp}{key}:exec")[0].seconds, "s")
    m["queries.py4j_calls"] = (sum(s.py4j for s in _spans(tracer, rp, ":build")), "count")
    m["queries.build_jobs"] = (sum(len(s.jobs) for s in _spans(tracer, rp, ":build")), "count")
    m["queries.plan_ms"] = (sum(p[k] for p in rw.plans for k in PLAN_PHASES), "ms")

    for name, prefix in (("fleet_ingest", fp), ("browse_session", bp), ("registry_mix", rp)):
        st = sum_stats(stats, prefix)
        for field, unit in EXEC_FIELDS:
            m[f"exec.{name}.{field}"] = (getattr(st, field), unit)
        m[f"trace.{name}.overhead"] = (runs[name]["wall"] / runs[name]["untraced"], "ratio")

    failures = [f"{n}: {f}" for n, r in runs.items() for f in r["w"].failed]
    table = {}
    for name, prefix in (("fleet_ingest", fp), ("browse_session", bp), ("registry_mix", rp)):
        self_s = tracer.self_seconds(prefix)
        table[name] = {"traced_op_s": runs[name]["wall"],
                       "untraced_op_s": runs[name]["untraced"],
                       "outside_spans_s": runs[name]["wall"] - sum(self_s.values()),
                       "self_s": self_s}
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, "spans.json"))
    with open(os.path.join(out_dir, "layers.json"), "w") as fh:
        json.dump({"layers": table, "failures": failures,
                   "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}},
                  fh, indent=1)
    return {"attempted": sum(r["w"].n_op for r in runs.values()),
            "failed": len(failures), "metrics": m}
