"""Dump ``.explain("formatted")`` for registry keys, or digest them all.

Usage:
    python tools/dump_plans.py <outdir> <suffix> <key> [key ...]
    python tools/dump_plans.py --digest [sf_dir]

The first form writes ``<outdir>/<key>_<suffix>.txt`` for each key,
built at SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata). Memo keys
(``_memo_*``) resolve through queries.memo_builders().

``--digest`` builds, in one session, every memo (in memo_builders()
order) and then every registry key (in registry order) at ``sf_dir``
(default: the sf0.001 testdata, as in tools/check_oracle.py) on
``local[4]``, each build starting from its own expression-id base (see
``expr_id_setter``), masks what differs from run to run or checkout to
checkout (see ``mask``), and writes ``plans/digests.json``: one sha256
per masked plan, plus ``all``, the sha256 of the per-plan digests in
that order. It also writes one sha256 per ``oracle_sql()`` string, with
the checkout root masked, plus ``oracles_all`` over them in registry
order, and ``ingest_digests`` (see ``ingest_digests``): the rows the SAR
ingest gives for the benchmark's fleet corpus. Two runs of one commit
write the same file, so "plans, oracles and ingested rows unchanged" is
an empty diff of it.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# (pattern, replacement), applied in order. Each number masked here is
# a counter of the JVM or the session, not a property of the plan.
MASKS = [
    (re.compile(r"#\d+L?"), "#N"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # AQE query-stage ids: the stage node's "Arguments: 3" line
    (re.compile(r"(QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+"), r"\1N"),
    (re.compile(r"\b(lambda \w+?)_\d+"), r"\1_N"),  # lambda variables
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
]


def mask(plan: str) -> str:
    """The plan text with the checkout root and every run-local id
    replaced by a fixed token."""
    plan = plan.replace(ROOT, "<ROOT>")
    for pattern, repl in MASKS:
        plan = pattern.sub(repl, plan)
    return plan


def explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def expr_id_setter(spark):
    """A function that moves Catalyst's expression-id counter
    (``NamedExpression.curId``) to a given value. Some plan choices
    follow the hash codes of expression ids — q191's two
    distinct-aggregate groups come out of Spark's rewrite in either
    order — so a build must not inherit ids from whatever ran before
    it. Only ever move the counter forward: ids must stay unique."""
    jvm = spark._jvm
    handles = jvm.java.lang.invoke.MethodHandles
    named = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.NamedExpression$")
    atomic = jvm.java.lang.Class.forName(
        "java.util.concurrent.atomic.AtomicLong")
    getter = handles.privateLookupIn(named, handles.lookup()) \
        .findStaticGetter(named, "curId", atomic)
    setter = handles.publicLookup().findVirtual(
        atomic, "set", jvm.java.lang.invoke.MethodType.methodType(
            jvm.java.lang.Void.TYPE, jvm.java.lang.Long.TYPE))
    set_counter = handles.collectArguments(setter, 0, getter)
    gateway = spark.sparkContext._gateway

    def set_to(value: int) -> None:
        args = gateway.new_array(jvm.java.lang.Object, 1)
        args[0] = jvm.java.lang.Long.valueOf(value)
        set_counter.invokeWithArguments(args)

    return set_to


def dump(outdir: str, suffix: str, keys: list[str]) -> None:
    from sarfile_analyzer_ng_spark.queries import REGISTRY, memo_builders
    from sarfile_analyzer_ng_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    memos = memo_builders()
    for key in keys:
        fn = memos[key] if key in memos else REGISTRY[key][0]
        plan = explain(fn(spark, sf_dir))
        path = os.path.join(outdir, f"{key}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", file=sys.stderr)


def _sha_all(digests: dict[str, str]) -> str:
    every = "".join(f"{k} {d}\n" for k, d in digests.items())
    return hashlib.sha256(every.encode()).hexdigest()


def _sha_rows(df) -> str:
    """sha256 of a frame's rows, sorted, with ``file`` cut to its base
    name and ``ts`` as epoch microseconds."""
    from pyspark.sql import functions as F

    cols = [F.regexp_extract("file", r"[^/]+$", 0).alias("file") if c == "file"
            else F.unix_micros("ts").alias("ts") if c == "ts" else c
            for c in df.columns]
    table = df.select(*cols).toArrow().to_pydict()
    rows = sorted(map(repr, zip(*table.values())))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def ingest_digests(spark) -> dict[str, str]:
    """One sha256 of the rows ``read_files`` gives over the benchmark's
    fleet corpus (``perfbench.corpus``, malformed files included) per
    seed 1-3, and one of each ``SarStore.upload`` result plus the rows
    ``SarStore.load`` then gives, per seed-1 file in name order (a file
    the store refuses hashes its error)."""
    import tempfile

    from perfbench import corpus as C
    from perfbench.workloads import FLEET_FILES, write_files
    from sarfile_analyzer_ng_spark.sources.sar_text import read_files
    from sarfile_analyzer_ng_spark.store import SarStore, StoreError

    out = {}
    with tempfile.TemporaryDirectory() as tmp:
        fleets = {}
        for seed in (1, 2, 3):
            files, _ = C.generate_fleet(seed, FLEET_FILES)
            fleets[seed] = {**files, **C.malformed(seed)}
            path = os.path.join(tmp, f"fleet{seed}")
            write_files(path, fleets[seed])
            out[f"read_files/seed{seed}"] = _sha_rows(read_files(spark, path))
        store = SarStore(spark, os.path.join(tmp, "store"))
        for name, data in sorted(fleets[1].items()):
            try:
                res = store.upload("user", name, data)
                got = repr(res) + _sha_rows(store.load("user", res["name"]))
            except StoreError as exc:
                got = repr(exc)
            out[f"upload/{name}"] = hashlib.sha256(got.encode()).hexdigest()
    return out


def digest(sf_dir: str) -> None:
    # Partition counts appear in plans; pin them to one core count.
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    from sarfile_analyzer_ng_spark.queries import (
        REGISTRY, memo_builders, oracle_sql)
    from sarfile_analyzer_ng_spark.session import get_spark

    spark = get_spark("dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    builds = [*memo_builders().items(),
              *((key, fn) for key, (fn, _) in REGISTRY.items())]
    set_expr_id = expr_id_setter(spark)
    digests = {}
    for i, (key, fn) in enumerate(builds, 1):
        set_expr_id(i << 32)  # far above anything the last build took
        plan = mask(explain(fn(spark, sf_dir)))
        digests[key] = hashlib.sha256(plan.encode()).hexdigest()
    oracles = {key: hashlib.sha256(sql.replace(ROOT, "<ROOT>").encode())
               .hexdigest() for key, sql in oracle_sql().items()}
    out = {"sf_dir": sf_dir, "plans": len(digests),
           "all": _sha_all(digests), "digests": digests,
           "oracles": len(oracles), "oracles_all": _sha_all(oracles),
           "oracle_digests": oracles,
           "ingest_digests": ingest_digests(spark)}
    path = os.path.join(ROOT, "plans", "digests.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"wrote {path}: {len(digests)} plans, all={out['all']}; "
          f"{len(oracles)} oracles, all={out['oracles_all']}",
          file=sys.stderr)


def main() -> None:
    if sys.argv[1:2] == ["--digest"]:
        digest(sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001")
    else:
        dump(sys.argv[1], sys.argv[2], sys.argv[3:])


if __name__ == "__main__":
    main()
