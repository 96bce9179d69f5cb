"""sadf -j JSON ingest (``sadf -j <sa-file> -- -A``).

The reference converts sadf JSON back into sar *text* and re-parses it
(sar_ingest.py:413 ``sadf_json_to_sar_text``) so one parser owns the
format. Here a generic traversal of the sysstat statistics tree emits
the text source's long rows directly — no text round-trip — and one
decode path owns the rest: ``sar_text.decode_file`` unpacks xz (the
reference does the same in sar_ingest.py:333), sniffs the format and
calls :func:`parse_sadf_json`; :func:`read_sadf_json` is that module's
distributed read restricted to sadf JSON files.

Traversal rules (sysstat's public JSON layout):
- each ``statistics`` entry is one timestamp; sections are its keys
- list-valued sections carry a per-device axis; the device key is the
  one string-valued field (cpu, disk-device, iface, line, filesystem)
- numeric fields become (metric, value) rows; nested dicts (the io
  section's io-reads/io-writes) are flattened with dotted names
- ``restarts``/boot entries become restart=True rows
"""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

_DEVICE_KEYS = ("cpu", "disk-device", "iface", "line", "filesystem", "fchost")


def _flatten(d: dict, prefix: str = "") -> dict:
    out = {}
    for k, v in d.items():
        if isinstance(v, dict):
            out.update(_flatten(v, f"{prefix}{k}."))
        else:
            out[f"{prefix}{k}"] = v
    return out


def _rows_for_section(section: str, payload, ts, base: dict,
                      skipped: set[str] | None = None) -> list[dict]:
    rows = []
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
        for metric, value in flat.items():
            if isinstance(value, bool) or not isinstance(value, (int, float)):
                # non-numeric, non-device field the generic traversal
                # drops — surfaced to the uploader (reference
                # sar_ingest.py:382-387 warns per unknown field); a new
                # sysstat device-axis key would land here too.
                if skipped is not None:
                    skipped.add(f"unknown field skipped: {section}.{metric}")
                continue
            rows.append(
                {
                    **base,
                    "section": section,
                    "ts": ts,
                    "device": device,
                    "metric": metric,
                    "value": float(value),
                    "restart": False,
                }
            )
    return rows


def parse_sadf_json(file_name: str, content: bytes,
                    skipped: set[str] | None = None) -> list[dict]:
    """Pure per-file parser of plain (already unpacked) sadf JSON bytes
    into SAR_SCHEMA row dicts. Pass a ``skipped`` set to collect
    unknown-field warnings (upload path only — the distributed read
    skips the bookkeeping)."""
    data = json.loads(content)
    out: list[dict] = []
    for host in data.get("sysstat", {}).get("hosts", []):
        host_name = host.get("nodename")
        file_date = host.get("file-date", "2000-01-01")
        os_details = (
            f"Linux {host.get('release', 'unknown')} ({host_name}) {file_date}"
        )
        base = {"file": file_name, "host": host_name, "os_details": os_details}

        def ts_of(time_str: str, date_str: str | None = None):
            return datetime.fromisoformat(f"{date_str or file_date}T{time_str}")

        for entry in host.get("statistics", []):
            stamp = entry.get("timestamp", {})
            time_str = stamp.get("time")
            if not time_str:
                continue
            ts = ts_of(time_str, stamp.get("date"))
            for section, payload in entry.items():
                if section == "timestamp":
                    continue
                if section == "network" and isinstance(payload, dict):
                    for sub, sub_payload in payload.items():
                        out.extend(
                            _rows_for_section(f"network.{sub}", sub_payload,
                                              ts, base, skipped)
                        )
                else:
                    out.extend(
                        _rows_for_section(section, payload, ts, base, skipped)
                    )
        for restart in host.get("restarts", []):
            boot = restart.get("boot", restart) if isinstance(restart, dict) else {}
            time_str = boot.get("time")
            if time_str:
                out.append(
                    {
                        **base,
                        "section": "LINUX RESTART",
                        "ts": ts_of(time_str, boot.get("date")),
                        "device": None,
                        "metric": "restart",
                        "value": 1.0,
                        "restart": True,
                    }
                )
    return out


def read_sadf_json(spark: SparkSession, path: str) -> DataFrame:
    """Distributed sadf-JSON read: ``sar_text.read_files`` restricted to
    sadf JSON files (``.xz`` unpacked, one file per task, same long
    schema as the text source)."""
    # imported here: sar_text imports this module's parser
    from .sar_text import SADF_JSON, read_files

    return read_files(spark, path, (SADF_JSON,))
