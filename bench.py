"""Benchmark harness: runs the registry's headline queries end-to-end
(noop sink — forces full column computation, no collect) and prints ONE
JSON line with per-query wall seconds.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default all cores).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sarfile_analyzer_ng_spark.functions.dedup import release
from sarfile_analyzer_ng_spark.queries import REGISTRY, memo_builders
from sarfile_analyzer_ng_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the queries, not session startup.
    REGISTRY["q01_pricing_summary"][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    # exec-only view (r12 VERDICT #2): the legacy per-query number is
    # build (Python DataFrame construction + any eager model jobs) +
    # the noop write. At small SFs the build part is a driver-side
    # CONSTANT, so the low-core/high-core wall ratio reads ≈1 for
    # every query and the scaling probe carries no signal. exec_* is
    # the SAME timed region split at the write boundary — the write
    # call's own wall (write-side planning + codegen + job run), no
    # extra work added, so the legacy numbers stay methodology-
    # identical. Recorded addition-only next to them.
    exec_timings: dict[str, float] = {}
    for rep in range(reps):
        # Force the session-lived cross-query memos FIRST, each timed
        # as its own _memo_* line: previously the first registry
        # consumer absorbed the whole family's build cost (q56 read
        # 9 s while its family siblings read 0.07 s), making per-query
        # regressions unattributable. The registry loop below then
        # measures each query's OWN plan cost against warm memos.
        for mkey, builder in memo_builders().items():
            start = time.perf_counter()
            mdf = builder(spark, sf_dir)
            t_write = time.perf_counter()
            mdf.write.format("noop").mode("overwrite").save()
            end = time.perf_counter()
            elapsed = round(end - start, 3)
            ex = round(end - t_write, 3)
            print(f"[bench] rep{rep} {mkey} {elapsed}s", file=sys.stderr)
            timings[mkey] = min(timings.get(mkey, elapsed), elapsed)
            exec_timings[mkey] = min(exec_timings.get(mkey, ex), ex)
        for key, (fn, _) in REGISTRY.items():
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            t_write = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            end = time.perf_counter()
            elapsed = round(end - start, 3)
            ex = round(end - t_write, 3)
            print(f"[bench] rep{rep} {key} {elapsed}s", file=sys.stderr)
            # min over reps: single-shot numbers on a 32-thread local
            # JVM swing ±50% from JIT/python-worker warm-up and GC; the
            # min is the reproducible cost of the plan itself
            timings[key] = min(timings.get(key, elapsed), elapsed)
            exec_timings[key] = min(exec_timings.get(key, ex), ex)
            # operators that cache reused sub-frames (minhash/simhash/
            # jaccard/percentiles/ivf) declare them as _cached_inputs;
            # release keeps per-query memory independent while leaving
            # the deliberately session-lived cross-query memos (the
            # q31/q51 shared pair frame) warm — a long-lived session
            # would hold them too
            release(df)
        # reps stay independent of the memoized frames' build cost
        # only within a rep; drop everything between reps
        if rep < reps - 1:
            spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    memo_seconds = round(
        sum(v for k, v in timings.items() if k.startswith("_memo_")), 3
    )
    headline = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(REGISTRY),
        "memo_seconds": memo_seconds,
        # total of the exec-only mins (write-call wall; see the
        # exec_timings note above) — the scaling-sensitive share of
        # the headline. Per-query map: full copy in the docs file,
        # slowest 12 on stdout (the stdout line must stay inside the
        # driver's ~2000-char tail window).
        "exec_seconds": round(sum(exec_timings.values()), 3),
    }
    exec_slowest = dict(sorted(
        exec_timings.items(), key=lambda kv: -kv[1])[:12])
    # The driver's artifact keeps only the LAST ~2000 characters of
    # the run's output (BENCH_r05..r09 all arrived clipped mid-map,
    # parsed: null). So: the FULL per-query map goes to a committed
    # docs file, and the ONE stdout JSON line (the driver contract)
    # stays small enough to survive the tail window intact —
    # headline totals + the slowest 25 queries, explicitly labeled.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "docs",
        f"bench_full_sf{sf}.json",
    )
    with open(full_path, "w") as fh:
        json.dump({**headline, "queries": timings,
                   "exec_queries": exec_timings}, fh, indent=1,
                  sort_keys=True)
        fh.write("\n")
    slowest = dict(sorted(
        ((k, v) for k, v in timings.items() if not k.startswith("_memo_")),
        key=lambda kv: -kv[1])[:25])
    print(json.dumps({
        **headline,
        "queries_shown": "slowest_25_of_full_map",
        "full_map": os.path.relpath(full_path,
                                    os.path.dirname(full_path) + "/.."),
        "queries": slowest,
        "exec_queries": exec_slowest,
    }))


if __name__ == "__main__":
    main()
