"""Scale behavior of the SAR source: files are the unit of
parallelism — N files must fan out to N parse tasks, and per-file
results must be independent of how many files share the read."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.sources.sar_text import read_sar

from .test_sar_source import SAR_24H

pytestmark = pytest.mark.driver  # Tier-1 (see conftest)

N_FILES = 40


@pytest.fixture(scope="module")
def many_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("sar_many")
    for i in range(N_FILES):
        content = SAR_24H.replace("host1", f"host{i:03d}")
        (d / f"sa_{i:03d}.txt").write_text(content)
    return str(d)


def test_one_task_per_file(spark, many_files):
    # AQE rightly coalesces tiny-file partitions by size (at real scale
    # that batches small reports and spreads big ones); to observe the
    # per-file fan-out itself, turn coalescing off for this check.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        df = read_sar(spark, many_files)
        parts = df.select("file").rdd.glom().map(
            lambda rows: len({r["file"] for r in rows})
        ).collect()
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        busy = [p for p in parts if p]
        balanced = N_FILES / min(N_FILES, n_shuffle)
        # files spread over the available tasks, no pathological pile-up
        assert len(busy) >= min(N_FILES, n_shuffle) * 3 // 4
        assert max(busy) <= 2 * balanced + 1
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    df = read_sar(spark, many_files)
    per_file = df.groupBy("file").count().collect()
    assert len(per_file) == N_FILES
    counts = {r["count"] for r in per_file}
    assert len(counts) == 1  # identical reports → identical row counts


def test_multi_file_equals_single_file(spark, many_files, tmp_path):
    single = tmp_path / "one"
    single.mkdir()
    (single / "sa_007.txt").write_text(SAR_24H.replace("host1", "host007"))
    alone = read_sar(spark, str(single))
    among = read_sar(spark, many_files).where(F.col("host") == "host007")
    a = sorted(
        (r["section"], str(r["ts"]), r["device"], r["metric"], r["value"])
        for r in alone.collect()
    )
    b = sorted(
        (r["section"], str(r["ts"]), r["device"], r["metric"], r["value"])
        for r in among.collect()
    )
    assert a == b
