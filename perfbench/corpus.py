"""Seeded generator of host-day sar reports with a truth manifest.

The formats follow the golden fixtures of the sar and sadf sources:
24 h and AM/PM clocks, decimal commas, device sections (CPU, DEV,
IFACE), the device-last FILESYSTEM section, ignored sections (CPU MHz,
INTR, TEMP), ``Average:`` lines, ``LINUX RESTART`` markers and samples
that roll past midnight. ``sadf -j`` JSON carries the same samples.

Every value is drawn as an integer number of hundredths, so the text
form ``k/100`` parses back to exactly the float the manifest sums.
The manifest is computed from the drawn samples, never by parsing the
files, so checks built on it do not trust the code under test.

The same seed gives byte-identical files: numpy's PCG64 stream, fixed
formatting and a fixed xz preset.
"""

from __future__ import annotations

import json
import lzma
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np

# (cpus, disks, ifaces, interval minutes): a fixed multiset, so the
# corpus size barely moves between seeds while files still skew from
# ~40 KB to ~1 MB.
SHAPES = (
    (2, 1, 1, 10), (4, 1, 1, 10), (4, 2, 2, 10), (8, 2, 2, 10),
    (2, 1, 1, 5), (8, 4, 2, 5), (16, 4, 2, 10), (32, 8, 2, 10),
)

# sar headers exactly as the headings table knows them
CPU_METRICS = ("%user", "%nice", "%system", "%iowait", "%steal", "%idle")
PROC_METRICS = ("proc/s", "cswch/s")
MEM_METRICS = ("kbmemfree", "kbmemused", "%memused", "kbbuffers", "kbcached",
               "kbcommit", "%commit", "kbactive", "kbinact", "kbdirty")
LOAD_METRICS = ("runq-sz", "plist-sz", "ldavg-1", "ldavg-5", "ldavg-15", "blocked")
DEV_METRICS = ("tps", "rkB/s", "wkB/s", "areq-sz", "aqu-sz", "await", "svctm", "%util")
NET_METRICS = ("rxpck/s", "txpck/s", "rxkB/s", "txkB/s", "rxcmp/s", "txcmp/s",
               "rxmcst/s", "%ifutil")
FS_METRICS = ("MBfsfree", "MBfsused", "%fsused", "%ufsused", "Ifree", "Iused", "%Iused")

CPU_SECTION = " ".join(CPU_METRICS)
MEM_SECTION = " ".join(MEM_METRICS)
DEV_SECTION = " ".join(DEV_METRICS)
RESTART_SECTION = "LINUX RESTART"

# sadf -j names of the same sections: (json key, device key, metrics)
JSON_SECTIONS = {
    CPU_SECTION: ("cpu-load", "cpu", ("user", "nice", "system", "iowait", "steal", "idle")),
    " ".join(PROC_METRICS): ("process-and-context-switch", None, ("proc", "cswch")),
    MEM_SECTION: ("memory", None, ("memfree", "memused", "memused-percent", "buffers",
                                   "cached", "commit", "commit-percent", "active",
                                   "inactive", "dirty")),
    " ".join(LOAD_METRICS): ("queue", None, ("runq-sz", "plist-sz", "ldavg-1", "ldavg-5",
                                             "ldavg-15", "blocked")),
    DEV_SECTION: ("disk", "disk-device", ("tps", "rkB", "wkB", "areq-sz", "aqu-sz",
                                          "await", "svctm", "util-percent")),
    " ".join(NET_METRICS): ("network.net-dev", "iface", ("rxpck", "txpck", "rxkB", "txkB",
                                                         "rxcmp", "txcmp", "rxmcst",
                                                         "ifutil-percent")),
    " ".join(FS_METRICS): ("filesystems", "filesystem", ("MBfsfree", "MBfsused",
                                                         "%fsused", "%ufsused", "Ifree",
                                                         "Iused", "%Iused")),
}

KINDS = ("sar", "sar_ampm", "sar_comma", "sar_xz", "json", "json_xz")
# share of each kind per 16 files: ~1/8 xz text, ~1/8 sadf JSON
KIND_MIX = ("sar",) * 8 + ("sar_ampm",) * 3 + ("sar_comma",) * 1 + ("sar_xz",) * 2 + (
    "json", "json_xz")
XZ_PRESET = 1


@dataclass
class Section:
    """One sar section block: its header tokens and per-device values
    as integer hundredths, shape (samples, devices, metrics)."""

    name: str
    metrics: tuple
    devices: tuple          # (None,) for sections without a device axis
    device_col: str | None  # "CPU", "DEV", ...; None without a device axis
    device_last: bool
    values: np.ndarray


@dataclass
class HostDay:
    host: str
    day: date
    cpus: int
    clocks: list            # seconds since the report's midnight, may pass 86400
    restart: int | None     # restart clock (seconds), or None
    sections: list = field(default_factory=list)

    def stamps(self) -> list[datetime]:
        base = datetime.combine(self.day, datetime.min.time())
        return [base + timedelta(seconds=c) for c in self.clocks]


def _draw(rng: np.random.Generator, n: int, d: int, m: int, scale: float) -> np.ndarray:
    """Integer hundredths in [0, scale*100): a smooth daily curve per
    (device, metric) plus noise, like utilisation counters."""
    t = np.linspace(0.0, 2.0 * np.pi, n)[:, None, None]
    phase = rng.uniform(0, 2 * np.pi, size=(1, d, m))
    level = rng.uniform(0.2, 0.6, size=(1, d, m))
    noise = rng.uniform(0.0, 0.3, size=(n, d, m))
    frac = np.clip(level + 0.25 * np.sin(t + phase) + noise - 0.15, 0.0, 0.999)
    return (frac * scale * 100).astype(np.int64)


def make_hostday(rng: np.random.Generator, host: str, shape: tuple,
                 rollover: bool, restart: bool) -> HostDay:
    cpus, disks, ifaces, interval = shape
    day = date(2024, 1, 1) + timedelta(days=int(rng.integers(0, 28)))
    step = interval * 60
    start = 2 * 3600 + 1 if rollover else step + 1
    end = start + 86400 - step if rollover else 86400 - 599
    clocks = list(range(start, end + 1, step))
    restart_clock = None
    if restart:
        # the host is down for the two samples before its reboot
        k = int(rng.integers(len(clocks) // 3, 2 * len(clocks) // 3))
        restart_clock = clocks[k] - int(rng.integers(60, step - 60))
        del clocks[k - 2:k]
    n = len(clocks)
    hd = HostDay(host, day, cpus, clocks, restart_clock)
    cpu_devs = ("all",) + tuple(str(i) for i in range(cpus))
    disk_devs = tuple(f"sd{chr(ord('a') + i)}" for i in range(disks))
    net_devs = ("lo",) + tuple(f"eth{i}" for i in range(ifaces))
    fs_devs = tuple(f"/dev/sd{chr(ord('a') + i)}1" for i in range(disks))
    spec = (
        (CPU_METRICS, cpu_devs, "CPU", False, 100.0),
        (PROC_METRICS, (None,), None, False, 500.0),
        (MEM_METRICS, (None,), None, False, 90000.0),
        (LOAD_METRICS, (None,), None, False, 40.0),
        (DEV_METRICS, disk_devs, "DEV", False, 300.0),
        (NET_METRICS, net_devs, "IFACE", False, 900.0),
        (FS_METRICS, fs_devs, "FILESYSTEM", True, 50000.0),
    )
    for metrics, devs, dcol, last, scale in spec:
        hd.sections.append(Section(" ".join(metrics), metrics, devs, dcol, last,
                                   _draw(rng, n, len(devs), len(metrics), scale)))
    return hd


# -- sar ASCII -----------------------------------------------------------

def _clock(sec: int, ampm: bool) -> str:
    sec %= 86400
    h, m, s = sec // 3600, sec % 3600 // 60, sec % 60
    if not ampm:
        return f"{h:02d}:{m:02d}:{s:02d}"
    return f"{(h % 12) or 12:02d}:{m:02d}:{s:02d} {'AM' if h < 12 else 'PM'}"


def _num(k: int, comma: bool) -> str:
    s = f"{k // 100}.{k % 100:02d}"
    return s.replace(".", ",") if comma else s


def render_sar(hd: HostDay, ampm: bool, comma: bool) -> bytes:
    date_s = hd.day.strftime("%m/%d/%Y") if ampm else hd.day.isoformat()
    out = [f"Linux 5.14.21-150500.55.39-default ({hd.host}) \t{date_s} "
           f"\t_x86_64_\t({hd.cpus} CPU)", ""]
    first = _clock(hd.clocks[0] - 600 if hd.clocks[0] > 600 else 1, ampm)
    restart_at = (None if hd.restart is None
                  else next(i for i, c in enumerate(hd.clocks) if c > hd.restart))

    def header(clock: str, sec: Section) -> str:
        cols = list(sec.metrics)
        if sec.device_col and sec.device_last:
            cols.append(sec.device_col)
        elif sec.device_col:
            cols.insert(0, sec.device_col)
        return f"{clock}  " + " ".join(f"{c:>9}" for c in cols)

    for sec in hd.sections:
        out.append(header(first, sec))
        for i, c in enumerate(hd.clocks):
            if i == restart_at:
                out += ["", f"{_clock(hd.restart, ampm)}       {RESTART_SECTION}\t"
                        f"({hd.cpus} CPU)", "", header(_clock(hd.restart, ampm), sec)]
            clock = _clock(c, ampm)
            for j, dev in enumerate(sec.devices):
                vals = " ".join(f"{_num(int(k), comma):>9}" for k in sec.values[i, j])
                if dev is None:
                    out.append(f"{clock}  {vals}")
                elif sec.device_last:
                    out.append(f"{clock}  {vals} {dev}")
                else:
                    out.append(f"{clock}  {dev:>9} {vals}")
        for j, dev in enumerate(sec.devices):
            mean = sec.values[:, j, :].mean(axis=0).astype(np.int64)
            vals = " ".join(f"{_num(int(k), comma):>9}" for k in mean)
            lead = "" if dev is None or sec.device_last else f"{dev:>9} "
            tail = f" {dev}" if dev is not None and sec.device_last else ""
            out.append(f"Average:  {lead}{vals}{tail}")
        out.append("")
    # sections the sar source ignores by design
    out += [f"{first}  CPU MHz", f"{_clock(hd.clocks[0], ampm)}  all {_num(240000, comma)}",
            "", f"{first}  INTR  intr/s", f"{_clock(hd.clocks[0], ampm)}  sum {_num(51200, comma)}",
            "", f"{first}  TEMP degC %temp DEVICE",
            f"{_clock(hd.clocks[0], ampm)}  1 {_num(4500, comma)} {_num(5600, comma)} temp0", ""]
    return ("\n".join(out) + "\n").encode()


# -- sadf -j JSON ------------------------------------------------------

def render_sadf(hd: HostDay) -> bytes:
    stats = []
    for i, ts in enumerate(hd.stamps()):
        entry: dict = {"timestamp": {"date": ts.date().isoformat(),
                                     "time": ts.strftime("%H:%M:%S"),
                                     "utc": 1, "interval": 600}}
        for sec in hd.sections:
            key, dkey, names = JSON_SECTIONS[sec.name]
            items = []
            for j, dev in enumerate(sec.devices):
                item = {dkey: dev} if dkey else {}
                item.update((m, int(k) / 100) for m, k in zip(names, sec.values[i, j]))
                items.append(item)
            payload = items if dkey else items[0]
            if key.startswith("network."):
                entry.setdefault("network", {})[key.split(".", 1)[1]] = payload
            else:
                entry[key] = payload
        stats.append(entry)
    host = {"nodename": hd.host, "sysname": "Linux", "release": "5.14.21",
            "machine": "x86_64", "number-of-cpus": hd.cpus,
            "file-date": hd.day.isoformat(), "file-utc-time": "00:00:01",
            "timezone": "UTC", "statistics": stats, "restarts": []}
    if hd.restart is not None:
        rts = datetime.combine(hd.day, datetime.min.time()) + timedelta(seconds=hd.restart)
        host["restarts"].append({"boot": {"date": rts.date().isoformat(),
                                          "time": rts.strftime("%H:%M:%S"), "utc": 1,
                                          "cpu_count": hd.cpus}})
    return json.dumps({"sysstat": {"hosts": [host]}}).encode()


# -- truth ---------------------------------------------------------------

def _series_truth(hd: HostDay, json_names: bool, hourly: bool) -> dict:
    """Per-series count/sum/sumsq/min/max keyed ``section|device|metric``,
    plus per-hour (count, sum, min, max) when ``hourly``."""
    stamps = hd.stamps()
    hours = np.array([ts.strftime("%Y-%m-%dT%H") for ts in stamps])
    cuts = np.flatnonzero(np.r_[True, hours[1:] != hours[:-1]])
    out = {}
    for sec in hd.sections:
        sname, metrics = sec.name, sec.metrics
        if json_names:
            sname, _, metrics = JSON_SECTIONS[sec.name]
        for j, dev in enumerate(sec.devices):
            for k, metric in enumerate(metrics):
                v = sec.values[:, j, k]
                rec = {"count": int(v.size), "sum": float(v.sum()) / 100,
                       "sumsq": float((v.astype(np.float64) ** 2).sum()) / 1e4,
                       "min": int(v.min()) / 100, "max": int(v.max()) / 100}
                if hourly:
                    cnt = np.diff(np.r_[cuts, v.size])
                    rec["hours"] = {
                        h: [int(c), int(s) / 100, int(lo) / 100, int(hi) / 100]
                        for h, c, s, lo, hi in zip(
                            hours[cuts], cnt, np.add.reduceat(v, cuts),
                            np.minimum.reduceat(v, cuts), np.maximum.reduceat(v, cuts))
                    }
                out[f"{sname}|{dev if dev is not None else ''}|{metric}"] = rec
    return out


def file_truth(hd: HostDay, kind: str, hourly: bool = False) -> dict:
    stamps = hd.stamps()
    is_json = kind.startswith("json")
    sections = [JSON_SECTIONS[s.name][0] if is_json else s.name for s in hd.sections]
    restarts = []
    if hd.restart is not None:
        restarts.append((datetime.combine(hd.day, datetime.min.time())
                         + timedelta(seconds=hd.restart)).isoformat(sep=" "))
        sections.append(RESTART_SECTION)
    return {
        "kind": kind, "valid": True, "host": hd.host, "day": hd.day.isoformat(),
        "start": stamps[0].isoformat(sep=" "), "end": stamps[-1].isoformat(sep=" "),
        "samples": len(stamps), "sections": sorted(sections),
        # sar prints the restart line in every section block; sadf once
        "restart_rows": len(restarts) * (1 if is_json else len(hd.sections)),
        "restarts": restarts,
        "devices": {s.device_col: list(s.devices) for s in hd.sections if s.device_col},
        "series": _series_truth(hd, is_json, hourly),
    }


def render(hd: HostDay, kind: str) -> bytes:
    if kind.startswith("json"):
        data = render_sadf(hd)
    else:
        data = render_sar(hd, ampm=kind == "sar_ampm", comma=kind == "sar_comma")
    return lzma.compress(data, preset=XZ_PRESET) if kind.endswith("_xz") else data


def file_name(hd: HostDay, kind: str) -> str:
    stem = f"{hd.host}_{hd.day:%Y%m%d}"
    ext = ".json" if kind.startswith("json") else ".txt"
    return stem + ext + (".xz" if kind.endswith("_xz") else "")


def generate_fleet(seed: int, n_files: int, hourly: bool = False,
                   prefix: str = "node", kind_mix: tuple = KIND_MIX,
                   shapes: tuple = SHAPES) -> tuple[dict[str, bytes], dict]:
    """``n_files`` well-formed host-day files plus a manifest keyed by
    file name. File ``i`` always gets the same (shape, kind, rollover,
    restart) combination and sorts in the same place, so the seed moves
    only the values, days and restart times: the corpus size, its scan
    packing and the work it takes stay steady from seed to seed."""
    rng = np.random.default_rng(seed)
    # a fixed shuffle spreads the large shapes over the sorted names
    deal = np.random.default_rng(0).permutation(n_files)
    files, manifest = {}, {}
    for i, j in enumerate(deal):
        shape, kind = shapes[j % len(shapes)], kind_mix[j % len(kind_mix)]
        hd = make_hostday(rng, f"{prefix}{seed % 1000:03d}-{i:03d}", shape, j % 5 == 1, j % 4 == 2)
        name = file_name(hd, kind)
        files[name] = render(hd, kind)
        manifest[name] = file_truth(hd, kind, hourly)
        manifest[name]["bytes"] = len(files[name])
    return files, manifest


def malformed(seed: int) -> dict[str, bytes]:
    """A truncated ``.xz`` and a broken JSON report: neither may leave
    a row behind."""
    rng = np.random.default_rng(seed + 7)
    hd = make_hostday(rng, "broken-host", SHAPES[0], rollover=False, restart=False)
    xz = lzma.compress(render_sar(hd, False, False), preset=XZ_PRESET)
    broken = render_sadf(hd)
    return {"broken-host_trunc.txt.xz": xz[: len(xz) // 2],
            "broken-host_bad.json": broken[: len(broken) // 3]}
