"""sadf -j JSON ingest (``sadf -j <sa-file> -- -A``).

The reference converts sadf JSON back into sar *text* and re-parses it
(sar_ingest.py:413 ``sadf_json_to_sar_text``) so one parser owns the
format. Here a generic traversal of the sysstat statistics tree fills
the text source's line columns directly — no text round-trip, no row
dicts — and one decode path owns the rest: ``sar_text.decode_file``
unpacks xz (the reference does the same in sar_ingest.py:333), sniffs
the format, calls :func:`parse_sadf_columns` and turns the columns into
one Arrow batch of line rows per file; :func:`read_sadf_json` is that
module's distributed read restricted to sadf JSON files.

Traversal rules (sysstat's public JSON layout):
- each ``statistics`` entry is one timestamp; sections are its keys
- list-valued sections carry a per-device axis; the device key is the
  one string-valued field (cpu, disk-device, iface, line, filesystem)
- the numeric fields of an entry become one line of (metric, value)
  pairs; nested dicts (the io section's io-reads/io-writes) are
  flattened with dotted names
- ``restarts``/boot entries become restart=True rows
- ``os_details`` is set on the first row of each host block only, like
  the text parser and the reference layout (parse_into_polars.py:154)
"""

from __future__ import annotations

import json
from array import array
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

_DEVICE_KEYS = ("cpu", "disk-device", "iface", "line", "filesystem", "fchost")
_EPOCH = datetime(1970, 1, 1)
_US = timedelta(microseconds=1)


def _flatten(d: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in d.items():
        if isinstance(v, dict):
            out.update(_flatten(v, f"{prefix}{k}."))
        else:
            out[f"{prefix}{k}"] = v
    return out


def _epoch_us(stamp: str) -> int:
    """Epoch microseconds of an ISO date-time; an explicit offset is
    converted to UTC."""
    dt = datetime.fromisoformat(stamp)
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return (dt - _EPOCH) // _US


def parse_sadf_columns(file_name: str, content: bytes,
                       skipped: set[str] | None = None) -> dict:
    """Pure per-file parser of plain (already unpacked) sadf JSON bytes
    into line columns, the shape ``sar_text.parse_sar_columns``
    returns: one line per statistics entry (and per device of a
    list-valued section) that has a numeric field, naming its values in
    ``metrics``. Pass a ``skipped`` set to collect unknown-field
    warnings (upload path only — the distributed read skips the
    bookkeeping)."""
    data = json.loads(content)
    c_host: list = []
    c_os: list = []
    c_section: list = []
    c_ts = array("q")
    c_device: list = []
    c_metrics: list = []
    c_restart: list = []
    values = array("d")
    offsets = array("i", [0])

    def add_line(section, ts, device, metrics, restart=False) -> None:
        c_section.append(section)
        c_ts.append(ts)
        c_device.append(device)
        c_metrics.append(metrics)
        offsets.append(len(values))
        c_restart.append(restart)

    def add_section(section: str, payload, ts: int) -> None:
        entries = payload if isinstance(payload, list) else [payload]
        for entry in entries:
            if not isinstance(entry, dict):
                continue
            flat = _flatten(entry)
            device = None
            for dk in _DEVICE_KEYS:
                if isinstance(flat.get(dk), (str, int)) and dk in entry:
                    device = str(flat.pop(dk))
                    break
            metrics = []
            for metric, value in flat.items():
                if isinstance(value, bool) or not isinstance(value, (int, float)):
                    # non-numeric, non-device field the generic traversal
                    # drops — surfaced to the uploader (reference
                    # sar_ingest.py:382-387 warns per unknown field); a new
                    # sysstat device-axis key would land here too.
                    if skipped is not None:
                        skipped.add(f"unknown field skipped: {section}.{metric}")
                    continue
                metrics.append(metric)
                values.append(value)
            if metrics:
                add_line(section, ts, device, metrics)

    for host in data.get("sysstat", {}).get("hosts", []):
        host_name = host.get("nodename")
        file_date = host.get("file-date", "2000-01-01")
        first = len(c_ts)
        for entry in host.get("statistics", []):
            stamp = entry.get("timestamp", {})
            time_str = stamp.get("time")
            if not time_str:
                continue
            ts = _epoch_us(f"{stamp.get('date') or file_date}T{time_str}")
            for section, payload in entry.items():
                if section == "timestamp":
                    continue
                if section == "network" and isinstance(payload, dict):
                    for sub, sub_payload in payload.items():
                        add_section(f"network.{sub}", sub_payload, ts)
                else:
                    add_section(section, payload, ts)
        for restart in host.get("restarts", []):
            boot = restart.get("boot", restart) if isinstance(restart, dict) else {}
            time_str = boot.get("time")
            if time_str:
                values.append(1.0)
                add_line("LINUX RESTART",
                         _epoch_us(f"{boot.get('date') or file_date}T{time_str}"),
                         None, ["restart"], True)
        n_host = len(c_ts) - first
        c_host.extend([host_name] * n_host)
        c_os.extend([None] * n_host)
        if n_host:
            c_os[first] = (
                f"Linux {host.get('release', 'unknown')} ({host_name}) {file_date}"
            )
    return {
        "file": [file_name] * len(c_ts),
        "host": c_host,
        "os_details": c_os,
        "section": c_section,
        "ts": c_ts,
        "device": c_device,
        "metrics": c_metrics,
        "values": values,
        "offsets": offsets,
        "restart": c_restart,
    }


def parse_sadf_json(file_name: str, content: bytes,
                    skipped: set[str] | None = None) -> list[dict]:
    """Row-dict view of :func:`parse_sadf_columns`."""
    # imported here: sar_text imports this module's parser
    from .sar_text import rows_of

    return rows_of(parse_sadf_columns(file_name, content, skipped))


def read_sadf_json(spark: SparkSession, path: str) -> DataFrame:
    """Distributed sadf-JSON read: ``sar_text.read_files`` restricted to
    sadf JSON files (``.xz`` unpacked, one Python task per scan
    partition of whole files, same long schema as the text source)."""
    # imported here: sar_text imports this module's parser
    from .sar_text import SADF_JSON, read_files

    return read_files(spark, path, (SADF_JSON,))
