"""The benchmark's workloads. Each is a closed loop with one client and
no think time: ``setup`` once, then ``op`` back to back. An op returns
the latencies of the public calls it made, and raises
:class:`CheckFailed` when an output disagrees with the generator's
truth.

- ``fleet_ingest``: the CLI's load composition over a mixed corpus;
  the ``sources`` layer does nearly all the work.
- ``browse_session``: one user session against a ``SarStore``; ``api``,
  the operators and pruned parquet scans do nearly all the work.
- ``registry_mix``: one pass over a registry key subset on generated
  tables; driver-side build and execution of ``queries`` dominate.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

from sarfile_analyzer_ng_spark import api
from sarfile_analyzer_ng_spark.functions.dedup import release
from sarfile_analyzer_ng_spark.queries import REGISTRY
from sarfile_analyzer_ng_spark.sources.sadf_json import read_sadf_json
from sarfile_analyzer_ng_spark.sources.sar_text import read_sar
from sarfile_analyzer_ng_spark.store import SarStore

from . import corpus as C
from . import tables

FLEET_FILES = 32
BROWSE_FLEET = 1
BROWSE_POOL = 8
USER = "bench"
# Four of the ten time-series operators, then the two text keys with
# open performance work (q37, q38), which do most of a pass's work. Keys
# whose DuckDB oracle alone takes 5-50 s here (q82, q90, q111, q112,
# q118, q123) and the heaviest others (q70, q85, q119, q132, q139, q192,
# q204, q213: 1-2.5 s each warm) are left out, so that a run holds
# several passes and its oracle check. q01, q02, q04, q06 and q14 are
# left out too: they take 0.2-0.6 s each, nearly all fixed per-query
# cost, and that cost moved up to 2x from one JVM to the next on a
# shared 4-vCPU host. q03_percentiles is left out because every other
# key of a pass that held it ran about twice as slow.
REGISTRY_KEYS = (
    "q05_dedup_first", "q10_resample", "q12_restart_insert", "q25_asof_join",
    "q37_lang_id", "q38_quality_score",
)


class CheckFailed(AssertionError):
    """An op's output disagrees with the generator's truth."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def close(a: float, b: float, tol: float = 2e-4) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def write_files(root: str, files: dict[str, bytes]) -> int:
    os.makedirs(root, exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(root, name), "wb") as fh:
            fh.write(data)
    return sum(len(d) for d in files.values())


class FleetIngest:
    name = "fleet_ingest"

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dir = os.path.join(workdir, "fleet")
        self.n_op = 0

    def setup(self) -> None:
        files, self.manifest = C.generate_fleet(self.seed, FLEET_FILES)
        self.files = {**files, **C.malformed(self.seed)}
        self.input_bytes = write_files(self.dir, self.files)

    def op(self) -> list[float]:
        self.n_op += 1
        label = f"fleet:op{self.n_op}"
        t0 = time.perf_counter()
        with self.tr.span("sources.read", f"{label}:build"):
            df = read_sar(self.spark, self.dir).unionByName(read_sadf_json(self.spark, self.dir))
            listing = api.list_files(df)
        with self.tr.span("sources.scan", f"{label}:exec"):
            rows = listing.collect()
        self.last_rows = rows
        self.check(rows)
        return [time.perf_counter() - t0]

    def check(self, rows) -> None:
        got = {os.path.basename(r["file"]): r for r in rows}
        expect(sorted(got) == sorted(self.manifest),
               f"files listed {len(got)} != {len(self.manifest)} well-formed")
        for name, m in self.manifest.items():
            r = got[name]
            expect(r["host"] == m["host"], f"{name}: host {r['host']}")
            expect(r["start_ts"] == _ts(m["start"]) and r["end_ts"] == _ts(m["end"]),
                   f"{name}: range {r['start_ts']}..{r['end_ts']}")
            expect(r["n_sections"] == len(m["sections"]), f"{name}: sections {r['n_sections']}")
            expect(r["n_restarts"] == m["restart_rows"], f"{name}: restarts {r['n_restarts']}")


class BrowseSession:
    name = "browse_session"

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.root = os.path.join(workdir, "store")
        self.n_op = 0
        # traced op only: per call type, (plan ms, result rows) per call
        self.plans: dict[str, list[tuple[dict, int]]] = {}
        self.parquet: tuple[int, int] = (0, 0)

    def setup(self) -> None:
        # fixed shapes, so every session does the same amount of work
        # whatever the seed: a mid-size fleet host, and a 4-CPU, 2-disk
        # host per upload
        fleet, self.manifest = C.generate_fleet(
            self.seed, BROWSE_FLEET, hourly=True, prefix="fleet",
            kind_mix=("sar_ampm",), shapes=(C.SHAPES[3],))
        pool, pool_manifest = C.generate_fleet(
            self.seed + 1, BROWSE_POOL, hourly=True, prefix="new",
            kind_mix=("sar", "sar_xz"), shapes=(C.SHAPES[2],))
        self.pool = sorted(pool.items())
        self.pool_manifest = pool_manifest
        self.store = SarStore(self.spark, self.root)
        self.fleet_names = []
        for fname, data in sorted(fleet.items()):
            res = self.store.upload(USER, fname, data)
            self.fleet_names.append(res["name"])
            self.manifest[res["name"]] = self.manifest.pop(fname)
        expect(sorted(self.fleet_names) == sorted(
            f"{m['host']}_{m['day']}" for m in self.manifest.values()), "fleet names")

    def call(self, lat: list, name: str, label: str, fn):
        """Time one store call as one span."""
        t0 = time.perf_counter()
        with self.tr.span(name, f"{label}:{name}"):
            out = fn()
        lat.append(time.perf_counter() - t0)
        return out

    def op(self) -> list[float]:
        self.n_op += 1
        label = f"browse:op{self.n_op}"
        fname, data = self.pool[(self.n_op - 1) % len(self.pool)]
        m = self.pool_manifest[fname]
        name = f"{m['host']}_{m['day']}"
        lat: list[float] = []
        with self.tr.span("store.upload", f"{label}:upload"):
            res = self.store.upload(USER, fname, data)
        if self.tr.enabled:
            parts = [os.path.join(d, f) for d, _, fs in os.walk(
                os.path.join(self.root, USER, f"{name}.parquet")) for f in fs
                if f.endswith(".parquet")]
            self.parquet = (len(parts), sum(os.path.getsize(p) for p in parts))
            self.uploaded_bytes = len(data)
        value_rows = sum(s["count"] for s in m["series"].values())
        expect(res["name"] == name and res["rows"] == value_rows + m["restart_rows"],
               f"upload {res['name']} rows {res['rows']}")
        listed = self.call(lat, "store.list_files", label,
                           lambda: self.store.list_files(USER).collect())
        expect(sorted(r["name"] for r in listed) == sorted(self.fleet_names + [name]),
               "list_files names")
        df = self.call(lat, "store.load", label, lambda: self.store.load(USER, name))
        calls = Calls(self, lat, label, df, name, m)
        calls.run()
        frames = [df] + [self.call(lat, "store.load", label,
                                   lambda n=n: self.store.load(USER, n))
                         for n in self.fleet_names]
        calls.compare(frames, {**{n: self.manifest[n] for n in self.fleet_names}, name: m})
        self.call(lat, "store.delete", label, lambda: self.store.delete(USER, name))
        return lat


class Calls:
    """The facade calls of one browse session, each checked against the
    uploaded file's truth."""

    def __init__(self, ws: BrowseSession, lat, label, df, name, m):
        self.ws, self.lat, self.label, self.df, self.name, self.m = ws, lat, label, df, name, m
        # a one-hour window clear of midnight rollover
        hour = 3 + (ws.seed + ws.n_op) % 17
        self.w0 = datetime.fromisoformat(m["day"]) + timedelta(hours=hour)
        self.w1 = self.w0 + timedelta(minutes=59, seconds=59)
        self.hour = self.w0.strftime("%Y-%m-%dT%H")

    def timed(self, call: str, build, collect=lambda x: x.collect()):
        """Build a frame (eager jobs included) and collect it, as two
        spans of one call."""
        tr, ws = self.ws.tr, self.ws
        t0 = time.perf_counter()
        with tr.span(f"api.{call}", f"{self.label}:{call}:build"):
            frame = build()
        with tr.span(f"exec.{call}", f"{self.label}:{call}:exec"):
            out = collect(frame)
        self.lat.append(time.perf_counter() - t0)
        if tr.enabled:
            if hasattr(frame, "_jdf"):
                dfs, rows = [frame], len(out)
            else:  # analyze_section: (device, table, stats) per planned device
                dfs = [f for _, tb, st in frame for f in (tb, st)]
                rows = sum(len(tb) + len(st) for _, tb, st in out)
            ws.plans.setdefault(call, []).append((tr.plan_phases(dfs), rows))
        return out

    def series(self, section: str, device: str, metric: str) -> dict:
        return self.m["series"][f"{section}|{device}|{metric}"]

    def run(self) -> None:
        df, name, m = self.df, self.name, self.m
        info = self.timed("file_info", lambda: api.file_info(df, name))
        got = {r["section"]: r for r in info}
        expect(sorted(got) == m["sections"], f"file_info sections {sorted(got)}")
        expect(got[C.CPU_SECTION]["n_samples"] == m["samples"], "file_info samples")
        expect(got[C.CPU_SECTION]["n_devices"] == len(m["devices"]["CPU"]), "file_info devices")

        details = self.timed("header_details", lambda: api.header_details(df, name, C.MEM_SECTION))
        expect(len(details) == len(C.MEM_METRICS), "header_details metrics")
        for r in details:
            t = self.series(C.MEM_SECTION, "", r["metric"])
            expect(r["n_values"] == t["count"] and close(r["mean"], t["sum"] / t["count"]),
                   f"header_details {r['metric']}")

        day = self.timed("statistics", lambda: api.statistics(df, name, C.CPU_SECTION, "all"))
        hour = self.timed("statistics", lambda: api.statistics(
            df, name, C.CPU_SECTION, "all", self.w0, self.w1))
        for rows, whole in ((day, True), (hour, False)):
            expect(len(rows) == len(C.CPU_METRICS), "statistics metrics")
            for r in rows:
                t = self.series(C.CPU_SECTION, "all", r["metric"])
                cnt, s, lo, hi = ((t["count"], t["sum"], t["min"], t["max"]) if whole
                                  else t["hours"][self.hour])
                expect(r["cnt"] == cnt and r["min"] == lo and r["max"] == hi
                       and close(r["mean"], s / cnt), f"statistics {r['metric']} whole={whole}")

        disk = m["devices"]["DEV"][self.ws.n_op % len(m["devices"]["DEV"])]
        table = self.timed("get_table", lambda: api.get_table(
            df, name, C.DEV_SECTION, self.w0, self.w1, disk))
        t = self.series(C.DEV_SECTION, disk, "tps")["hours"][self.hour]
        expect(len(table) == t[0], f"get_table rows {len(table)} != {t[0]}")
        for metric in C.DEV_METRICS:
            b = self.series(C.DEV_SECTION, disk, metric)["hours"][self.hour]
            expect(close(sum(r[metric] for r in table), b[1]), f"get_table {metric}")

        n_rows = m["samples"] + len(m["restarts"])
        for section, devices in ((C.CPU_SECTION, ["all"]), (C.DEV_SECTION, m["devices"]["DEV"])):
            frames = self.timed(
                "analyze_section", lambda s=section: api.analyze_section(df, name, s),
                lambda fs: [(d, tb.collect(), st.collect()) for d, tb, st in fs])
            expect([d for d, _, _ in frames] == devices, f"analyze_section devices {section}")
            for dev, tb, st in frames:
                expect(len(tb) == n_rows, f"analyze_section rows {len(tb)} != {n_rows}")
                expect(all(r["cnt"] == m["samples"] for r in st), "analyze_section cnt")

    def compare(self, frames, truth: dict) -> None:
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        metric = "%memused"
        plain = self.timed("compare_files", lambda: api.compare_files(union, C.MEM_SECTION, metric))
        expect(sorted(r["file"] for r in plain) == sorted(truth), "compare_files files")
        for r in plain:
            t = truth[r["file"]]["series"][f"{C.MEM_SECTION}||{metric}"]
            expect(r["cnt"] == t["count"] and r["min"] == t["min"] and r["max"] == t["max"]
                   and close(r["mean"], t["sum"] / t["count"]), f"compare_files {r['file']}")
        aligned = self.timed("compare_files_aligned", lambda: api.compare_files(
            union, C.MEM_SECTION, metric, aligned=True))
        for f, m in truth.items():
            hours = m["series"][f"{C.MEM_SECTION}||{metric}"]["hours"]
            mine = [r for r in aligned if r["file"] == f]
            expect(len(mine) == len(hours) and sum(r["cnt"] for r in mine) == m["samples"],
                   f"compare_files aligned {f}")


class RegistryMix:
    name = "registry_mix"

    def __init__(self, spark, tracer, workdir: str, seed: int):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.dir = os.path.join(workdir, "tables")
        self.n_op = 0
        self.plans: list[dict] = []  # traced op only: plan phases per key

    def setup(self) -> None:
        """Write the tables, then run every key once against its DuckDB
        oracle: the warm-up pass that builds the memos, and the output
        check (outside the timed loop)."""
        import sys

        tables.generate(self.seed, self.dir)
        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        from check_oracle import compare, duck_conn

        con = duck_conn(self.dir)
        self.oracle_failures = []
        for key in REGISTRY_KEYS:
            fn, sql = REGISTRY[key]
            pdf = fn(self.spark, self.dir).toPandas()
            issues = compare(key, pdf, con.execute(sql).df()) if sql else []
            if issues or pdf.empty:
                self.oracle_failures.append(f"{key}: {issues[:1] or 'no rows'}")
        con.close()

    def op(self) -> list[float]:
        self.n_op += 1
        lat = []
        for key in REGISTRY_KEYS:
            fn = REGISTRY[key][0]
            t0 = time.perf_counter()
            with self.tr.span("queries.build", f"registry:op{self.n_op}:{key}:build"):
                df = fn(self.spark, self.dir)
            with self.tr.span("exec.write", f"registry:op{self.n_op}:{key}:exec"):
                if self.tr.enabled:
                    # plan the frame itself, so its tracker holds every phase
                    df._jdf.queryExecution().executedPlan()
                    self.plans.append(self.tr.plan_phases([df]))
                df.write.format("noop").mode("overwrite").save()
            release(df)
            lat.append(time.perf_counter() - t0)
        if self.oracle_failures:
            raise CheckFailed("; ".join(self.oracle_failures))
        return lat


WORKLOADS = {w.name: w for w in (FleetIngest, BrowseSession, RegistryMix)}
