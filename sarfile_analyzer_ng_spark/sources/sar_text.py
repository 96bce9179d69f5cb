"""Distributed SAR ingest: the sar ASCII parser and the one decode path
every SAR input goes through.

Reference behavior (re-expressed, not ported): sarfile_analyzer_ng
code/parse_into_polars.py:80 ``parse_sar_file`` reads one sar report
sequentially on one core and builds a long (header, data, date) frame;
code/pl_helpers2.py then splits the value strings into typed metric
columns. Here one *file* is the unit of parallelism: 100k sar files fan
out across executors (``binaryFile`` read → ``mapInArrow``), each parsed
in one pass into typed sample lines that the JVM explodes into the
fully-typed long frame:

    (file, host, os_details, section, ts, device, metric, value, restart)

Per-file Python is fine at scale because sar reports are bounded (a day
of samples, ≤ tens of MB); the cross-file fan-out is where the
parallelism lives, and everything downstream is JVM-side DataFrame ops.
The ``binaryFile`` scan packs whole files into partitions
(``spark.sql.files.maxPartitionBytes`` / ``openCostInBytes``) and each
partition is one Python task, so a fixed cost per task is paid once
per scan partition. PySpark's worker refreshes its cached zip finders
before every task, re-reading ``pyspark.zip`` once per finder; the
scan body is wrapped in ``util.worker_task``, which drops them, like
every other function the package ships to a Python worker.

The worker hands the JVM one row per sample *line*, not per value:
``(file, host, os_details, section, ts, device, metrics, values,
restart)`` with ``values`` an ``array<double>`` (:data:`LINE_SCHEMA`),
and :func:`explode_lines` turns those rows into the long frame in one
JVM projection. The repeated strings then cross the Arrow channel once
per line instead of once per value. The parse is pandas-free: both
parsers fill per-line lists plus typed ``array`` buffers (values, epoch
microseconds, line offsets), and :func:`line_batch` wraps those buffers
into one Arrow record batch per file with ``pa.Array.from_buffers``.
The rule for every batch a worker builds: build it from buffers, never
with ``pa.array`` / ``pa.scalar`` / ``pa.repeat``, because pyarrow
imports pandas on their first call (about 30 MB per worker).

:func:`decode_file` is the single place a file is sniffed (sadf JSON or
sar text, from its first plain bytes), unpacked (xz, reference
sar_ingest.py:333; only when the caller wants that kind) and parsed
(:func:`parse_sar_columns` or ``sadf_json.parse_sadf_columns``). The
readers (:func:`read_sar`, ``sadf_json.read_sadf_json``, the CLI's
mixed-directory load) are calls of one scan body, :func:`read_files`,
and ``store.SarStore.upload`` parses an upload through the same
function on the driver.

Semantics preserved from the reference parser:
- header detection after blank lines; sections keyed by the header's
  metric-column string (parse_into_polars.py:105-141)
- AM/PM and 24h time formats; date taken from the "Linux ..." OS line
  (pl_helpers2.py:18 ``format_date``)
- decimal commas → points (pl_helpers2.py:95)
- FCHOST / FILESYSTEM sections print the device column LAST → rotated
  to the front (parse_into_polars.py:66 ``handle_fibre_and_fs``)
- ignored sections: CPU MHz, INTR intr/s, bus/idvendor, temp/device
  (parse_into_polars.py:88 ``reg_ignore``)
- "LINUX RESTART" markers become restart=True rows
  (parse_into_polars.py:114)
- rows past midnight (time going backwards) roll over to the next day
"""

from __future__ import annotations

import lzma
import re
from array import array
from datetime import datetime, timedelta
from itertools import accumulate
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..util import worker_task
from .sadf_json import parse_sadf_columns

SAR_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("os_details", T.StringType()),
        T.StructField("section", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("device", T.StringType()),
        T.StructField("metric", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("restart", T.BooleanType()),
    ]
)
SAR_FIELDS = [f.name for f in SAR_SCHEMA.fields]
# What a Python worker hands the JVM: one row per sample line.
# ``metrics`` names the line's values; it is null when the names are
# the space-split section (a sar line that kept every value, or a
# prefix of them), so only sadf entries, restart markers and a sar line
# that lost a value carry it. ``os_details`` belongs to the line's
# first value.
LINE_SCHEMA = T.StructType(
    [
        *SAR_SCHEMA.fields[:6],
        T.StructField("metrics", T.ArrayType(T.StringType())),
        T.StructField("values", T.ArrayType(T.DoubleType())),
        T.StructField("restart", T.BooleanType()),
    ]
)
# ts is timestamp[us, tz=UTC]: the parsers' epoch microseconds as is
LINE_ARROW = to_arrow_schema(LINE_SCHEMA)
EPOCH = datetime(1970, 1, 1)

DEVICE_COLUMNS = {"CPU", "DEV", "IFACE", "TTY", "FCHOST", "FILESYSTEM"}
DEVICE_LAST_COLUMNS = {"FCHOST", "FILESYSTEM"}

# Meridiem matched UPPERCASE ONLY, mirroring the reference
# (pl_helpers2.py:80 strips r"(^\d{2}:\d{2}:\d{2}\s+(AM|PM)\s+)"):
# sar's C/en_US locale emits "AM"/"PM", and a case-insensitive match
# would swallow a lowercase header token that merely spells "am".
_RE_TIME = re.compile(r"^(\d{2}:\d{2}:\d{2})(\s+(AM|PM))?\s+")
_RE_RESTART = re.compile(r"LINUX RESTART", re.IGNORECASE)
# Two drop layers, mirroring the reference's two:
# - structural sections that never tabulate (USB bus inventory,
#   thermal device names): parse_into_polars.py:88 ``reg_ignore``,
#   always on;
# - the "unwanted headers" list "CPU MHz" / "INTR intr/s":
#   pl_helpers2.py:100-113 ``get_unwanted_headers``, always on in the
#   readers and the store; the row parsers' ``drop_unwanted`` flag
#   (default True = reference behavior; False parses both sections
#   like any other) keeps the switch testable.
_RE_IGNORE_ALWAYS = re.compile(r"(bus.*idvendor|temp.*device)", re.IGNORECASE)
_RE_IGNORE_UNWANTED = re.compile(r"(intr/s|mhz)", re.IGNORECASE)
_RE_COMMA_NUM = re.compile(r"(\d+),(\d+)")
_RE_DATE_CANDIDATES = (
    (re.compile(r"\b(\d{4})-(\d{2})-(\d{2})\b"), "ymd"),
    (re.compile(r"\b(\d{2})/(\d{2})/(\d{4})\b"), "mdy4"),
    (re.compile(r"\b(\d{2})-(\d{2})-(\d{4})\b"), "mdy4"),
    (re.compile(r"\b(\d{2})/(\d{2})/(\d{2})\b"), "mdy2"),
    (re.compile(r"\b(\d{2})-(\d{2})-(\d{2})\b"), "mdy2"),
)


def _extract_os_line(lines: list[str]) -> str | None:
    for line in lines:
        if "Linux" in line:
            return line.replace("[", "").replace("]", "").strip()
    return None


def _parse_report_date(os_details: str | None):
    if not os_details:
        return datetime(2000, 1, 1).date()
    for token in os_details.split():
        for rx, kind in _RE_DATE_CANDIDATES:
            m = rx.search(token)
            if not m:
                continue
            a, b, c = (int(g) for g in m.groups())
            try:
                if kind == "ymd":
                    return datetime(a, b, c).date()
                if kind == "mdy4":
                    return datetime(c, a, b).date()
                return datetime(2000 + c, a, b).date()
            except ValueError:
                continue
    return datetime(2000, 1, 1).date()


def _parse_clock_seconds(token: str, ampm: str | None) -> int:
    h, m, s = (int(x) for x in token.split(":"))
    if ampm:
        ampm = ampm.upper()
        if ampm == "AM" and h == 12:
            h = 0
        elif ampm == "PM" and h != 12:
            h += 12
    return h * 3600 + m * 60 + s


def parse_sar_columns(file_name: str, content: str,
                      drop_unwanted: bool = True) -> dict:
    """Parse one sar ASCII report into line columns (pure function —
    the executor-side body of the distributed read; :func:`line_batch`
    turns the result into one Arrow batch).

    Line columns: one entry per sample line for each LINE_SCHEMA field
    but ``values``, with ``ts`` an ``array('q')`` of epoch
    microseconds; ``values`` is one flat ``array('d')`` of every parsed
    value and ``offsets`` an ``array('i')`` of the line boundaries in
    it (one more entry than lines). A line with no parsed value is not
    kept. The hot loop appends each value to the typed array and tries
    ``float(raw)`` directly (the decimal-comma regex only runs when the
    fast path fails).
    """
    lines = content.splitlines()
    os_details = _extract_os_line(lines)
    host = None
    if os_details:
        for token in os_details.split():
            if token.startswith("(") and token.endswith(")"):
                host = token.strip("()")
                break
    base_date = _parse_report_date(os_details)
    base_dt = datetime.combine(base_date, datetime.min.time())
    # integer epoch-micros throughout: Arrow takes them as they are
    base_us = int((base_dt - EPOCH).total_seconds()) * 1_000_000

    c_section: list = []
    c_ts = array("q")
    c_device: list = []
    c_metrics: list = []
    c_restart: list = []
    values = array("d")
    offsets = array("i", [0])

    header_cols: list[str] | None = None
    section_key: str | None = None
    device_section = False
    device_last = False
    expect_header = True
    ignore_section = False
    # Past-midnight rollover is tracked PER SECTION: every section
    # repeats the same clock sequence, so a global tracker would count
    # one extra day per section block.
    day_offset: dict[str, int] = {}
    prev_clock: dict[str, int] = {}

    def section_ts(key: str, clock: int) -> int:
        prev = prev_clock.get(key)
        if prev is not None and clock < prev:
            day_offset[key] = day_offset.get(key, 0) + 1
        prev_clock[key] = clock
        return base_us + (clock + day_offset.get(key, 0) * 86400) * 1_000_000

    for line in lines:
        if not line.strip():
            expect_header = True
            ignore_section = False
            continue
        m = _RE_TIME.match(line)
        if not m:
            continue
        clock = _parse_clock_seconds(m.group(1), m.group(3))
        rest = line[m.end():].split()
        if not rest:
            continue
        if _RE_RESTART.search(line):
            # a restart line rides the rollover state of the ENCLOSING
            # section block (read-only — it must not advance the
            # block's own tracker): under its own key it would never
            # see the block's midnight rollover and a post-midnight
            # reboot would be stamped a day early
            key = section_key or ""
            off = day_offset.get(key, 0)
            prev = prev_clock.get(key)
            if prev is not None and clock < prev:
                off += 1
            c_section.append("LINUX RESTART")
            c_ts.append(base_us + (clock + off * 86400) * 1_000_000)
            c_device.append(None)
            c_metrics.append(["restart"])
            values.append(1.0)
            offsets.append(len(values))
            c_restart.append(True)
            continue
        if ignore_section:
            continue
        if expect_header:
            if _RE_IGNORE_ALWAYS.search(line) or (
                drop_unwanted and _RE_IGNORE_UNWANTED.search(line)
            ):
                ignore_section = True
                expect_header = False
                continue
            first = rest[0]
            device_section = first in DEVICE_COLUMNS or rest[-1] in DEVICE_LAST_COLUMNS
            device_last = rest[-1] in DEVICE_LAST_COLUMNS
            if device_last:
                header_cols = rest[:-1]
            elif device_section:
                header_cols = rest[1:]
            else:
                header_cols = rest
            section_key = " ".join(header_cols)
            expect_header = False
            continue
        # data line (hot path)
        ts = section_ts(section_key or "", clock)
        if device_section:
            if device_last:
                device, raws = rest[-1], rest[:-1]
            else:
                device, raws = rest[0], rest[1:]
        else:
            device, raws = None, rest
        start = len(values)
        kept = None  # the kept names, once a value is lost
        for metric, raw in zip(header_cols or (), raws):
            try:
                value = float(raw)
            except ValueError:
                raw2 = _RE_COMMA_NUM.sub(r"\1.\2", raw)
                try:
                    value = float(raw2)
                except ValueError:
                    if kept is None:
                        kept = header_cols[: len(values) - start]
                    continue
            values.append(value)
            if kept is not None:
                kept.append(metric)
        if len(values) == start:
            continue
        c_section.append(section_key)
        c_ts.append(ts)
        c_device.append(device)
        c_metrics.append(kept)
        offsets.append(len(values))
        c_restart.append(False)

    n = len(c_ts)
    # os_details only on the first value row per file — exactly the
    # reference's layout (parse_into_polars.py:154 puts it in row 0)
    # and it keeps the long frame from repeating a ~100-char string
    # through the Arrow channel.
    os_col = [None] * n
    if n and os_details:
        os_col[0] = os_details
    return {
        "file": [file_name] * n,
        "host": [host] * n,
        "os_details": os_col,
        "section": c_section,
        "ts": c_ts,
        "device": c_device,
        "metrics": c_metrics,
        "values": values,
        "offsets": offsets,
        "restart": c_restart,
    }


def rows_of(cols: dict) -> list[dict]:
    """Row dicts of one parser's line columns, one per value, ``ts`` as
    a naive UTC datetime: the long frame :func:`explode_lines` makes of
    the same lines, in Python (test/inspection view; the reads use the
    line batch)."""
    # every value of a line shares its stamp: convert each once
    stamps = {us: EPOCH + timedelta(microseconds=us) for us in set(cols["ts"])}
    values, offsets = cols["values"], cols["offsets"]
    rows = []
    for i, section in enumerate(cols["section"]):
        names = cols["metrics"][i] or section.split(" ")
        line = values[offsets[i]:offsets[i + 1]]
        for pos, (metric, value) in enumerate(zip(names, line)):
            rows.append({
                "file": cols["file"][i],
                "host": cols["host"][i],
                "os_details": cols["os_details"][i] if pos == 0 else None,
                "section": section,
                "ts": stamps[cols["ts"][i]],
                "device": cols["device"][i],
                "metric": metric,
                "value": value,
                "restart": cols["restart"][i],
            })
    return rows


def parse_sar_text(file_name: str, content: str,
                   drop_unwanted: bool = True) -> list[dict]:
    """Row-dict view of :func:`parse_sar_columns`."""
    return rows_of(parse_sar_columns(file_name, content, drop_unwanted))


_BITS = bytes.maketrans(b"\x00\x01", b"01")


def _bitmap(flags: bytes) -> pa.Buffer:
    """An Arrow bitmap of one 0/1 byte per slot: bit ``i`` (least
    significant first) is ``flags[i]``."""
    bits = int(flags[::-1].translate(_BITS) or b"0", 2)
    return pa.py_buffer(bits.to_bytes((len(flags) + 7) // 8, "little"))


def _validity(values: list) -> pa.Buffer | None:
    """The validity bitmap of ``values``; None when no value is None."""
    if None not in values:
        return None
    return _bitmap(bytes(v is not None for v in values))


def string_array(values: list) -> pa.Array:
    """A string array of ``values`` (``str`` or None) built from its
    buffers."""
    # a column repeats few distinct strings: encode each once
    enc = {v: b"" if v is None else v.encode() for v in set(values)}
    data = list(map(enc.__getitem__, values))
    offsets = array("i", accumulate(map(len, data), initial=0))
    return pa.Array.from_buffers(
        pa.string(), len(values),
        [_validity(values), pa.py_buffer(offsets), pa.py_buffer(b"".join(data))])


def line_batch(cols: dict) -> pa.RecordBatch:
    """One Arrow record batch with :data:`LINE_ARROW` of a parser's line
    columns, built only from buffers (see the module docstring)."""
    n, values, metrics = len(cols["ts"]), cols["values"], cols["metrics"]
    ends = array("i", accumulate((len(m) if m else 0 for m in metrics), initial=0))
    names = [name for m in metrics if m for name in m]
    typ = LINE_ARROW.field
    arrays = [
        *(string_array(cols[f]) for f in ("file", "host", "os_details", "section")),
        pa.Array.from_buffers(typ("ts").type, n, [None, pa.py_buffer(cols["ts"])]),
        string_array(cols["device"]),
        pa.Array.from_buffers(typ("metrics").type, n,
                              [_validity(metrics), pa.py_buffer(ends)],
                              children=[string_array(names)]),
        pa.Array.from_buffers(
            typ("values").type, n, [None, pa.py_buffer(cols["offsets"])],
            children=[pa.Array.from_buffers(pa.float64(), len(values),
                                            [None, pa.py_buffer(values)])]),
        pa.Array.from_buffers(pa.bool_(), n, [None, _bitmap(bytes(cols["restart"]))]),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=LINE_ARROW)


def explode_lines(lines: DataFrame) -> DataFrame:
    """The long SAR_SCHEMA frame of a LINE_SCHEMA frame: one row per
    value, named by ``metrics`` or else by the space-split section,
    with ``os_details`` kept on each line's first value only. The one
    place line rows become value rows (the distributed read and the
    store's upload both call it)."""
    names = F.coalesce(F.col("metrics"), F.split("section", " "))
    pos = F.col("pos")
    return lines.select(
        *SAR_FIELDS[:6], names.alias("names"), "restart",
        F.posexplode("values").alias("pos", "value"),
    ).select(
        "file", "host",
        F.when(pos == 0, F.col("os_details")).alias("os_details"),
        "section", "ts", "device",
        F.col("names")[pos].alias("metric"),
        "value", "restart",
    )


XZ_MAGIC = b"\xfd7zXZ\x00"
_BOM = b"\xef\xbb\xbf"

# What decode_file finds a file to be, after unpacking xz.
SADF_JSON = "sadf"  # first byte after a BOM and whitespace is "{"
SAR_TEXT = "sar"  # anything else that decodes as UTF-8
# Anything else: a binary sa datafile, or sar text in another
# encoding. The readers parse it as sar text with U+FFFD replacements;
# the store converts it through the host's sar binary instead.
BINARY = "binary"
KINDS = (SAR_TEXT, SADF_JSON, BINARY)
# What decode_file raises on input it cannot decode: a broken xz
# archive, or JSON that does not parse (JSONDecodeError is a ValueError).
DECODE_ERRORS = (lzma.LZMAError, ValueError)


class Decoded(NamedTuple):
    # SAR_TEXT, SADF_JSON or BINARY; None for a file that is not sadf
    # JSON when the caller wants neither SAR_TEXT nor BINARY (the
    # sniff does not tell those two apart)
    kind: str | None
    unxz: bool  # the input was an xz archive
    data: bytes | None  # the plain bytes; None if the sniff dropped it
    batch: pa.RecordBatch | None  # LINE_ARROW rows; None if kind not wanted


def _xz_head(content: bytes) -> bytes:
    """The leading plain bytes of an xz archive, unpacked step by step
    only until a byte other than a BOM or whitespace shows up (or the
    archive ends): all the sniff in :func:`decode_file` needs."""
    dec = lzma.LZMADecompressor()
    head = dec.decompress(content, max_length=64)
    while (not head.removeprefix(_BOM).lstrip()
           and not dec.eof and not dec.needs_input):
        head += dec.decompress(b"", max_length=64)
    return head


def decode_file(file_name: str, content: bytes, kinds=KINDS,
                skipped: set[str] | None = None) -> Decoded:
    """The per-file decode shared by every reader and the store's
    upload: sniff the format from the first plain bytes (unpacking an
    xz archive only that far), and only when ``kinds`` may want it,
    unpack the file, tell sar text from binary, and parse it into one
    Arrow record batch of line rows (:func:`line_batch`) when its kind
    is one of ``kinds``; sar text drops the reference's "CPU MHz" /
    "INTR intr/s" sections. ``skipped`` collects the sadf fields the
    JSON traversal drops.
    Raises one of :data:`DECODE_ERRORS` on input it cannot decode; the
    caller decides whether that skips the file or fails the upload.
    A broken archive whose head already shows an unwanted kind is
    dropped without an error."""
    unxz = content[: len(XZ_MAGIC)] == XZ_MAGIC
    head = _xz_head(content) if unxz else content
    is_json = head.removeprefix(_BOM).lstrip()[:1] == b"{"
    if is_json and SADF_JSON not in kinds:
        return Decoded(SADF_JSON, unxz, None, None)
    if not is_json and SAR_TEXT not in kinds and BINARY not in kinds:
        return Decoded(None, unxz, None, None)
    data = lzma.decompress(content) if unxz else content
    if is_json:
        kind, text = SADF_JSON, None
    else:
        try:
            kind, text = SAR_TEXT, data.decode("utf-8")
        except UnicodeDecodeError:
            kind, text = BINARY, data.decode("utf-8", "replace")
    if kind not in kinds:
        return Decoded(kind, unxz, data, None)
    if kind == SADF_JSON:
        cols = parse_sadf_columns(file_name, data, skipped)
    else:
        cols = parse_sar_columns(file_name, text)
    return Decoded(kind, unxz, data, line_batch(cols))


def read_files(spark: SparkSession, path: str, kinds=KINDS) -> DataFrame:
    """The one distributed read: every file under ``path`` whose kind
    is in ``kinds`` goes through :func:`decode_file` (``binaryFile``
    source → ``mapInArrow``, one record batch of line rows per file,
    then :func:`explode_lines` to the long typed SAR_SCHEMA frame).
    Files it cannot decode (truncated xz, broken JSON) are skipped, like
    the reference UI skips broken uploads."""
    raw = (
        spark.read.format("binaryFile")
        .load(path)
        .select(F.col("path").alias("file"), F.col("content"))
    )

    @worker_task
    def parse_batches(batches):
        for batch in batches:
            names, contents = batch.columns
            for i in range(batch.num_rows):
                try:
                    dec = decode_file(names[i].as_py(), contents[i].as_py(),
                                      kinds)
                except DECODE_ERRORS:
                    continue
                if dec.batch is not None:
                    yield dec.batch

    # No repartition: the binaryFile scan already packs whole files
    # into partitions bounded by spark.sql.files.maxPartitionBytes —
    # byte-aware, unlike a hash repartition on file name, which can
    # collide two gigabyte files into one partition. parse_batches
    # yields one Arrow batch per file, bounding python memory within a
    # partition, and the plan stays lazy (no eager listing job at
    # construction time).
    return explode_lines(raw.mapInArrow(parse_batches, LINE_SCHEMA))


def read_sar(spark: SparkSession, path: str) -> DataFrame:
    """Distributed sar-text read: one Python task per scan partition
    (the scan packs whole files into partitions), ``.xz`` unpacked
    transparently (sar_ingest.py:333 behavior); sadf JSON
    files are left to ``read_sadf_json``. The reference's "CPU MHz" /
    "INTR intr/s" sections are dropped."""
    return read_files(spark, path, (SAR_TEXT, BINARY))


def sections(df: DataFrame) -> DataFrame:
    """Section inventory — pl_helpers2.py:212 ``get_headers``."""
    return df.groupBy("section").agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("metric").alias("n_metrics"),
        F.countDistinct("device").alias("n_devices"),
    )


def _known_header_set() -> frozenset[str]:
    """Whitespace-normalized headers of the checked-in headings dim
    (metadata.py) — the man-page vocabulary of every known sar
    section. Driver-side constant; no Spark involved."""
    from .. import metadata as MD

    return frozenset(MD._norm(h) for h, *_ in MD._headings_rows())


def section_wide(df: DataFrame, section: str,
                 metrics: list[str] | None = None) -> DataFrame:
    """One sar section pivoted to one column per metric — the engine
    form of pl_helpers2.py:178 ``create_metrics_df``.

    Pivot vocabulary, in order of preference:

    1. caller-supplied ``metrics``;
    2. the section name's own tokens, when the section is a KNOWN sar
       header (headings dim, metadata.py) — sar-text section keys ARE
       the header's space-joined metric columns, so for every section
       the man page knows, the vocabulary is the name itself and NO
       seed job runs;
    3. a tiny distinct over the filtered long frame — the unavoidable
       fallback for sadf-JSON sections (named by JSON key, not by
       header line) and unknown/new sar sections.
    """
    sect = df.where(F.col("section") == section)
    if metrics is None and " ".join(section.split()) in _known_header_set():
        metrics = section.split()
    if metrics is None:
        # guarded driver-side seed job (r7 VERDICT note): a sar section
        # has at most a few dozen metric columns, so a cardinality past
        # this bound means a malformed/adversarial input — refuse to
        # build a 10k-column pivot instead of OOMing the driver
        cap = 1024
        rows = (
            sect.select("metric").distinct().limit(cap + 1).collect()
        )
        if len(rows) > cap:
            raise ValueError(
                f"section_wide({section!r}): metric cardinality exceeds "
                f"{cap} — not a sar-shaped section; pass an explicit "
                "`metrics` list to pivot a subset"
            )
        metrics = sorted(r["metric"] for r in rows)
    return (
        sect.groupBy("file", "host", "ts", "device")
        .pivot("metric", metrics)
        .agg(F.first("value"))
    )


def restarts(df: DataFrame) -> DataFrame:
    """Restart markers — pl_helpers2.py:227 ``get_restart_headers``."""
    return df.where(F.col("restart")).select("file", "host", "ts")
