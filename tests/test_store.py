"""File-management catalog: the upload → query → usage-report →
delete → cleanup lifecycle (reference api/services.py:94/:159/:379/:524)."""

from __future__ import annotations


import json
import lzma
import os
import time

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.store import SarStore, StoreError

pytestmark = pytest.mark.driver  # driver-facing gate (see conftest)

from .test_sar_source import SAR_24H, SAR_AMPM
from .test_sources_extra import SADF


@pytest.fixture()
def store(spark, tmp_path):
    return SarStore(spark, str(tmp_path / "store"))


def test_upload_query_delete_cycle(store):
    info = store.upload("alice", "upload.txt", SAR_24H.encode())
    assert info["rows"] > 0 and info["headers"] >= 2
    name = info["name"]
    assert name.startswith("host1_")  # renamed to host_date

    df = store.load("alice", name)
    assert df.where(F.col("metric") == "%user").count() > 0
    # the file column reflects the stored (renamed) name
    assert df.select("file").distinct().first()["file"] == name

    store.delete("alice", name)
    with pytest.raises(StoreError):
        store.load("alice", name)
    with pytest.raises(StoreError):
        store.delete("alice", name)  # double delete reports not-found


def test_upload_xz_and_overwrite_warns(store):
    blob = lzma.compress(SAR_AMPM.encode())
    info1 = store.upload("bob", "report.txt.xz", blob)
    assert any("xz archive unpacked" in w for w in info1["warnings"])
    info2 = store.upload("bob", "report.txt.xz", blob)
    assert info2["name"] == info1["name"]
    assert any("overwritten" in w for w in info2["warnings"])


def test_upload_rejects_binary_and_bad_names(store, monkeypatch):
    monkeypatch.setenv("PATH", "/nonexistent")  # ensure no sar binary
    with pytest.raises(StoreError, match="binary SAR"):
        store.upload("alice", "sa20", bytes([0x93, 0x21, 0x00, 0xFF]) * 16)
    with pytest.raises(StoreError, match="invalid"):
        store.upload("../evil", "f.txt", SAR_24H.encode())
    with pytest.raises(StoreError, match="invalid"):
        store.upload("alice", "../../etc/passwd", SAR_24H.encode())


def test_upload_reads_bom_prefixed_sadf_json(store):
    """A UTF-8 BOM before the JSON is still sadf JSON: the upload
    stores the same rows the sadf reader gets from the file."""
    plain = store.upload("alice", "plain.json", json.dumps(SADF).encode())
    info = store.upload(
        "bob", "bom.json", b"\xef\xbb\xbf" + json.dumps(SADF).encode()
    )
    assert info["rows"] == plain["rows"] > 0
    assert info["name"] == plain["name"]
    assert "bom.json: sadf JSON converted" in info["warnings"]


def _stub_sar(tmp_path, monkeypatch, script_body):
    """Put a fake ``sar`` executable on PATH (the container has no
    sysstat), exercising the real subprocess conversion path."""
    bindir = tmp_path / "fakebin"
    bindir.mkdir(exist_ok=True)
    sar = bindir / "sar"
    sar.write_text(script_body)
    sar.chmod(0o755)
    monkeypatch.setenv("PATH", f"{bindir}:{os.environ.get('PATH', '')}")


def test_upload_converts_binary_sa_via_host_sar(store, tmp_path, monkeypatch):
    # the stub validates the reference CLI contract (sar -A -t -f <in>)
    # and emits a real sar ASCII report on stdout
    out_fixture = tmp_path / "converted.txt"
    out_fixture.write_text(SAR_24H)
    _stub_sar(
        tmp_path, monkeypatch,
        "#!/bin/sh\n"
        '[ "$1" = "-A" ] && [ "$2" = "-t" ] && [ "$3" = "-f" ] '
        "&& [ -s \"$4\" ] || exit 64\n"
        f"cat {out_fixture}\n",
    )
    info = store.upload(
        "alice", "sa20250101", bytes([0x93, 0x21, 0x00, 0xFF]) * 16
    )
    assert info["rows"] > 0
    assert info["name"].startswith("host1_")
    # the sa→sar rename happened before the host_date rename
    assert any("sar20250101: binary sa datafile converted" in w
               for w in info["warnings"])


def test_upload_binary_sa_conversion_failure_is_clear(
    store, tmp_path, monkeypatch
):
    _stub_sar(
        tmp_path, monkeypatch,
        "#!/bin/sh\necho 'invalid system activity file' >&2\nexit 2\n",
    )
    with pytest.raises(StoreError, match="sar conversion failed"):
        store.upload("alice", "sa20250101", bytes([0x93, 0x21, 0x00]) * 16)


def test_disk_usage_report(store):
    store.upload("alice", "a.txt", SAR_24H.encode())
    store.upload("bob", "b.txt", SAR_AMPM.encode())
    usage = {r["user"]: r for r in store.disk_usage_report().collect()}
    assert set(usage) == {"alice", "bob"}
    assert usage["alice"]["file_count"] == 1
    assert usage["alice"]["total_bytes"] > 0
    assert usage["alice"]["sar_bytes"] == len(SAR_24H.encode())


def test_cleanup_old_files_dry_run_then_delete(store):
    info = store.upload("alice", "a.txt", SAR_24H.encode())
    # age the parquet artificially: set every data file's mtime 40
    # days back (age = newest data-file mtime)
    pq = store.root / "alice" / f"{info['name']}.parquet"
    old = time.time() - 40 * 86400
    for f in [pq, *pq.rglob("*")]:
        os.utime(f, (old, old))

    dry = store.cleanup_old_files(days=30, dry_run=True)
    assert dry["deleted_files"] == 1 and dry["dry_run"]
    assert store.list_files("alice").count() == 1  # nothing touched

    real = store.cleanup_old_files(days=30, dry_run=False)
    assert real["deleted_files"] == 1
    assert store.list_files("alice").count() == 0
    # fresh files survive a cleanup
    store.upload("alice", "a.txt", SAR_24H.encode())
    assert store.cleanup_old_files(days=30, dry_run=False)["deleted_files"] == 0
    assert store.list_files("alice").count() == 1


def test_list_files_is_distributed_not_walk(store, monkeypatch):
    """The primary listing path must be the Spark file index — the
    driver-side walk is only the fallback for unlistable roots."""
    store.upload("alice", "a.txt", SAR_24H.encode())

    def boom(*a, **k):
        raise AssertionError("fell back to the driver-side walk")

    monkeypatch.setattr(store, "_list_files_walk", boom)
    rows = store.list_files().collect()
    assert [r["user"] for r in rows] == ["alice"]
    assert rows[0]["parquet_bytes"] > 0 and rows[0]["age_days"] < 1.0


@pytest.mark.parametrize("user", ["a+b", "b%41"])
@pytest.mark.parametrize("root", ["c++", "pct%41", "a[1]"])
def test_list_files_keeps_url_characters(spark, tmp_path, monkeypatch,
                                         root, user):
    """'+' and '%XX' in the root or the user name list verbatim: the
    user and name segments are found by the root's depth, not by
    searching a URL-decoded path for the root. 'a[1]' is a glob Spark
    cannot list, so that root takes the driver-side walk."""
    store = SarStore(spark, str(tmp_path / root))
    name = store.upload(user, "up.txt", SAR_AMPM.encode())["name"]
    walked = []
    walk = store._list_files_walk
    monkeypatch.setattr(
        store, "_list_files_walk", lambda u=None: walked.append(u) or walk(u)
    )
    for who in (None, user):
        rows = store.list_files(who).collect()
        assert [(r["user"], r["name"]) for r in rows] == [(user, name)]
    assert bool(walked) == (root == "a[1]")


def test_sadf_upload_warns_on_unknown_fields(store):
    # doctored sadf JSON carrying fields the traversal drops: a
    # free-text field in a plain section and a string-valued field in
    # a device section that is NOT a known device key (what a new
    # sysstat version's section would look like)
    doc = {
        "sysstat": {
            "hosts": [
                {
                    "nodename": "jhost",
                    "release": "9.9",
                    "file-date": "2024-05-01",
                    "statistics": [
                        {
                            "timestamp": {
                                "date": "2024-05-01", "time": "10:00:00"
                            },
                            "memory": {"memfree": 10.0, "flavor": "extra"},
                            "cpu-load": [
                                {"cpu": "all", "usr": 1.5, "psu-id": "A"}
                            ],
                        }
                    ],
                }
            ]
        }
    }
    import json as _json

    info = store.upload("alice", "doc.json", _json.dumps(doc).encode())
    flat = "\n".join(info["warnings"])
    assert "unknown field skipped: memory.flavor" in flat
    assert "unknown field skipped: cpu-load.psu-id" in flat
    # known numeric fields must not be flagged
    assert "memfree" not in flat and "usr" not in flat


def test_sadf_upload_no_warnings_on_clean_file(store):
    doc = {
        "sysstat": {
            "hosts": [
                {
                    "nodename": "jhost2",
                    "release": "9.9",
                    "file-date": "2024-05-02",
                    "statistics": [
                        {
                            "timestamp": {
                                "date": "2024-05-02", "time": "10:00:00"
                            },
                            "memory": {"memfree": 10.0},
                            "cpu-load": [{"cpu": "all", "usr": 1.5}],
                        }
                    ],
                }
            ]
        }
    }
    import json as _json

    info = store.upload("alice", "doc2.json", _json.dumps(doc).encode())
    assert not any("unknown field" in w for w in info["warnings"])


def test_upload_sanitizes_hostile_hostname(spark, tmp_path):
    """A crafted OS line must not become a path-traversal write."""
    from sarfile_analyzer_ng_spark.store import SarStore

    sar = (
        "Linux 5.x (../../../escape) \t2024-03-01 \t_x86_64_\t(2 CPU)\n\n"
        "00:00:01        CPU     %user\n"
        "00:10:01        all      1.00\n"
    )
    store = SarStore(spark, str(tmp_path / "root"))
    info = store.upload("alice", "up.txt", sar.encode())
    # the property that matters: one path segment, no traversal —
    # ".." as a SUBSTRING of a single filename is harmless
    assert "/" not in info["name"] and not info["name"].startswith(".")
    # nothing escaped the user dir
    outside = [p for p in tmp_path.rglob("*")
               if p.is_file() and "root" not in p.parts]
    assert outside == []
