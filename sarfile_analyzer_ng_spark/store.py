"""File-management catalog over a parquet store — the engine-side
equivalents of the reference's upload/delete/ops services
(sarfile_analyzer_ng api/services.py:94 ``upload_sar_file``, :159
``delete_sar_file``, :379 ``disk_usage_report``, :524
``cleanup_old_files``; rename flow from code/mng_sar.py).

Layout: ``<root>/<user>/<name>`` (raw upload) +
``<root>/<user>/<name>.parquet`` (the parsed long frame, written once
at upload — every later query reads the columnar form). The parquet is
partitioned by section so per-section queries prune at the directory
level; at 100 TB the same layout holds with a date partition added.

Driver-side ``os.walk`` here touches only filesystem *metadata* (names,
sizes, mtimes) — never data rows; usage reports come back as
DataFrames so they compose with the rest of the engine.
"""

from __future__ import annotations

import lzma
import os
import re
import shutil
import subprocess
import tempfile
import time
from datetime import timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.sar_text import (
    BINARY, EPOCH, LINE_SCHEMA, SADF_JSON, SAR_TEXT, decode_file,
    explode_lines, string_array,
)


class StoreError(ValueError):
    """User-facing store failure (bad upload, missing file, ...)."""


def convert_binary_sa(content: bytes, filename: str) -> tuple[bytes, str]:
    """Convert a binary sysstat ``sa`` datafile to sar ASCII by
    shelling out to the host's ``sar`` binary (reference
    code/mng_sar.py:82 ``convert_openpgp_sar_file``: ``unset LANG;
    sar -A -t -f <file>``, rename ``saYYYYMMDD`` → ``sarYYYYMMDD``).
    One driver-side subprocess per UPLOADED file — never part of a
    distributed plan. Raises :class:`StoreError` when no ``sar``
    binary exists or the conversion fails (old-format datafiles,
    version skew)."""
    sar_bin = shutil.which("sar")
    if sar_bin is None:
        raise StoreError(
            f"{filename}: binary SAR datafile and no sysstat 'sar' "
            "binary available to convert it"
        )
    if (filename.startswith("sa") and not filename.startswith("sar")
            and len(filename) >= 10):
        new_name = "sar" + filename[2:]
    elif filename.startswith("sar"):
        new_name = filename  # already sar-named; don't double the r
    else:
        new_name = f"sar_{filename}"
    # strip every locale variable and pin LC_ALL (which would override
    # any LC_TIME we set): 24h timestamps + dot decimals regardless of
    # the host shell's locale
    env = {
        k: v for k, v in os.environ.items()
        if k != "LANG" and not k.startswith("LC_")
    }
    env["LC_ALL"] = "C"
    tmp = tempfile.NamedTemporaryFile(delete=False, suffix="_input")
    try:
        tmp.write(content)
        tmp.close()
        try:
            result = subprocess.run(
                [sar_bin, "-A", "-t", "-f", tmp.name],
                capture_output=True,
                env=env,
                timeout=120,  # a corrupt upload must not hang the store
            )
        except subprocess.TimeoutExpired:
            raise StoreError(f"{filename}: sar conversion timed out")
    finally:
        os.unlink(tmp.name)
    if result.returncode != 0 or not result.stdout.strip():
        detail = result.stderr.decode(errors="replace").strip()
        raise StoreError(f"{filename}: sar conversion failed: {detail}")
    return result.stdout, new_name


class SarStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def _check_user(self, user: str) -> str:
        """Validate a user path segment without touching the
        filesystem — also applied to read-only listing paths so a
        crafted name ('../elsewhere') can't walk outside the root."""
        if not user or "/" in user or user.startswith("."):
            raise StoreError(f"invalid user {user!r}")
        return user

    def _user_dir(self, user: str) -> Path:
        d = self.root / self._check_user(user)
        d.mkdir(parents=True, exist_ok=True)
        return d

    def _check_name(self, name: str) -> str:
        if not name or "/" in name or name.startswith("."):
            raise StoreError(f"invalid file name {name!r}")
        return name

    # -- upload --------------------------------------------------------
    def upload(self, user: str, filename: str, content: bytes) -> dict:
        """Preprocess (xz → plain, sadf JSON → long frame, ASCII sar →
        long frame), rename to ``<host>_<date>`` (reference
        mng_sar rename flow), store raw + parquet eagerly.

        The upload is parsed once, on the driver, by the same
        ``decode_file`` the distributed readers run per file, and its
        line rows become the long frame through the same
        ``explode_lines``; the only Spark job is the parquet write.

        Binary ``sa`` datafiles convert through the host's ``sar``
        binary when one is on PATH (:func:`convert_binary_sa`); without
        one the upload is rejected with a clear error rather than
        guessed at.
        """
        self._check_name(filename)
        warnings: list[str] = []
        skipped: set[str] = set()
        try:
            dec = decode_file(filename, content, (SAR_TEXT, SADF_JSON),
                              skipped=skipped)
        except lzma.LZMAError as exc:
            raise StoreError(f"{filename}: bad xz archive: {exc}")
        except ValueError as exc:
            raise StoreError(f"{filename}: bad sadf JSON: {exc}")
        if dec.unxz:
            filename = filename.removesuffix(".xz")
            warnings.append(f"{filename}: xz archive unpacked")
        if dec.kind == BINARY:
            # binary sa datafile: convert via the host sar binary when
            # one exists (reference mng_sar.py:82), reject with a clear
            # error otherwise
            text, filename = convert_binary_sa(dec.data, filename)
            warnings.append(f"{filename}: binary sa datafile converted")
            dec = decode_file(filename, text, (SAR_TEXT, BINARY))
        elif dec.kind == SADF_JSON:
            warnings.append(f"{filename}: sadf JSON converted")
            warnings.extend(f"{filename}: {w}" for w in sorted(skipped))

        # rename to host_YYYY-MM-DD from the parsed content, like the
        # reference's rename_sar_file: the host of the earliest sample
        batch = dec.batch  # one row per sample line
        host = first_us = None
        if batch.num_rows:
            ts = batch.column("ts").cast(pa.int64())
            first_us = pc.min(ts)
            host = batch.column("host")[pc.index(ts, first_us).as_py()].as_py()
        if host is None:
            raise StoreError(f"{filename}: no sar samples found")
        # the hostname comes from FILE CONTENT — sanitize it before it
        # becomes a path segment, or a crafted OS line
        # ('Linux 5.x (../../../etc/x) ...') writes outside the store
        # root; _check_name then re-validates the result
        safe_host = re.sub(r"[^A-Za-z0-9._-]", "_", str(host)).lstrip(".") or "host"
        day = EPOCH + timedelta(microseconds=first_us.as_py())
        name = self._check_name(f"{safe_host}_{day:%Y-%m-%d}")
        d = self._user_dir(user)
        if (d / f"{name}.parquet").exists():
            warnings.append(f"{name}: existing parquet was overwritten")

        (d / name).write_bytes(dec.data)
        # fix the file column to the stored name; one partition, so
        # the write leaves one file per section directory (partitioned
        # by section so per-section reads prune at directory level)
        lines = pa.Table.from_batches([batch]).set_column(
            0, "file", string_array([name] * batch.num_rows)
        )
        out = explode_lines(self.spark.createDataFrame(lines, LINE_SCHEMA))
        out.coalesce(1).write.mode("overwrite").partitionBy("section").parquet(
            str(d / f"{name}.parquet")
        )
        return {
            "name": name,
            "rows": len(batch.column("values").flatten()),
            "headers": pc.count_distinct(batch.column("section")).as_py(),
            "warnings": warnings,
        }

    # -- read ----------------------------------------------------------
    def load(self, user: str, name: str) -> DataFrame:
        p = self._user_dir(user) / f"{self._check_name(name)}.parquet"
        if not p.exists():
            raise StoreError(f"file {name} not found")
        return self.spark.read.parquet(str(p))

    _LIST_SCHEMA = (
        "user string, name string, raw_bytes long, parquet_bytes long, "
        "age_days double"
    )

    def list_files(self, user: str | None = None) -> DataFrame:
        """(user, name, raw_bytes, parquet_bytes, age_days) per stored
        file — filesystem metadata only, listed DISTRIBUTED: Spark's
        ``binaryFile`` file index walks ``<root>/<user>/...`` on
        executors (parallel listing at large file counts), and sizes /
        newest-mtime aggregate per stored name as a normal grouped
        plan. No driver-side os.walk, so millions of stored files
        never serialize through the driver; a maintained catalog table
        would add per-upload write amplification and tombstone
        compaction for the same answer. The walk survives only as the
        fallback for roots Spark cannot list."""
        if user is not None:
            self._check_user(user)
        try:
            files = (
                self.spark.read.format("binaryFile")
                .option("recursiveFileLookup", "true")
                .load(str(self.root))
                .select("path", "length", "modificationTime")
            )
        except Exception:  # empty/unlistable root → driver fallback
            return self._list_files_walk(user)
        # <user>/<name> are the two path segments below the root: find
        # them by the root's depth, not by searching the path for the
        # root string. Spark's paths are not percent-encoded, so the
        # segments are taken verbatim.
        depth = len(Path(os.path.abspath(self.root)).parts)
        parts = F.split(
            F.regexp_replace("path", r"^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", ""),
            "/",
        )
        user_col, file_col = parts.getItem(depth), parts.getItem(depth + 1)
        per = files.where(F.size(parts) >= depth + 2).select(
            user_col.alias("user"),
            F.regexp_replace(file_col, r"\.parquet$", "").alias("name"),
            file_col.endswith(".parquet").alias("is_pq"),
            "length", "modificationTime",
        )
        if user is not None:
            per = per.where(F.col("user") == user)
        now_us = F.unix_micros(F.current_timestamp())
        return (
            per.groupBy("user", "name")
            .agg(
                F.coalesce(
                    F.sum(F.when(~F.col("is_pq"), F.col("length"))), F.lit(0)
                ).alias("raw_bytes"),
                F.sum(F.when(F.col("is_pq"), F.col("length"))).alias("parquet_bytes"),
                F.max(
                    F.when(F.col("is_pq"), F.col("modificationTime"))
                ).alias("_mtime"),
            )
            # a stored entry is defined by its parquet artifact, like
            # the reference's <name>.parquet-driven listing
            .where(F.col("parquet_bytes").isNotNull())
            .select(
                "user", "name", "raw_bytes", "parquet_bytes",
                ((now_us - F.unix_micros(F.col("_mtime"))) / 86400e6)
                .alias("age_days"),
            )
        )

    def _list_files_walk(self, user: str | None = None) -> DataFrame:
        """Driver-side fallback listing (metadata-only os.walk)."""
        rows = []
        now = time.time()
        users = [self._check_user(user)] if user else sorted(
            e.name for e in self.root.iterdir() if e.is_dir()
        )
        for u in users:
            d = self.root / u
            if not d.is_dir():
                continue
            for pq in sorted(d.glob("*.parquet")):
                name = pq.name[: -len(".parquet")]
                raw = d / name
                leaf = [f for f in pq.rglob("*")
                        if f.is_file() and not f.name.startswith(("_", "."))]
                rows.append((
                    u, name,
                    raw.stat().st_size if raw.exists() else 0,
                    sum(f.stat().st_size for f in leaf),
                    (now - max((f.stat().st_mtime for f in leaf),
                               default=pq.stat().st_mtime)) / 86400.0,
                ))
        return self.spark.createDataFrame(rows, self._LIST_SCHEMA)

    def disk_usage_report(self) -> DataFrame:
        """Per-user totals, largest consumers first (services.py:379)."""
        files = self.list_files()
        return (
            files.groupBy("user")
            .agg(
                (F.sum("raw_bytes") + F.sum("parquet_bytes")).alias("total_bytes"),
                F.count(F.lit(1)).alias("file_count"),
                F.sum("raw_bytes").alias("sar_bytes"),
                F.sum("parquet_bytes").alias("parquet_bytes"),
            )
            .orderBy(F.col("total_bytes").desc())
        )

    # -- delete / cleanup ---------------------------------------------
    def delete(self, user: str, name: str) -> None:
        d = self._user_dir(user)
        name = self._check_name(name)
        removed = False
        raw = d / name
        if raw.exists():
            raw.unlink()
            removed = True
        pq = d / f"{name}.parquet"
        if pq.exists():
            shutil.rmtree(pq)
            removed = True
        if not removed:
            raise StoreError(f"file {name} not found")

    def cleanup_old_files(self, days: int = 30, user: str | None = None,
                          dry_run: bool = True) -> dict:
        """Delete stored files older than ``days`` (mtime-based age);
        ``dry_run`` returns the identical report without touching
        anything (services.py:524)."""
        old = [
            (r["user"], r["name"], r["raw_bytes"] + r["parquet_bytes"])
            for r in self.list_files(user)
                .where(F.col("age_days") > days).collect()
        ]
        deleted_bytes = sum(b for _, _, b in old)
        if not dry_run:
            for u, name, _ in old:
                self.delete(u, name)
        return {
            "dry_run": dry_run,
            "deleted_files": len(old),
            "deleted_bytes": deleted_bytes,
            "files": [{"user": u, "name": n} for u, n, _ in old],
        }
