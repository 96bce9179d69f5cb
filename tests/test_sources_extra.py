"""sadf-JSON source (plain + xz) and multimodal plumbing."""

from __future__ import annotations

import copy
import json
import lzma
import math
import os
import subprocess
import sys
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from sarfile_analyzer_ng_spark.functions import multimodal as MM
from sarfile_analyzer_ng_spark.sources.sadf_json import parse_sadf_json, read_sadf_json

pytestmark = pytest.mark.driver  # Tier-1 (see conftest)

MEDIA_SCHEMA = ("media_id long, kind string, mime string, payload binary, "
                "meta map<string, string>")


def _grid(lum):
    """Mean-pooled 2x4 grid of a luminance plane: a coarse summary
    that codec tests compare across containers. Planes smaller than
    the grid pool over the splits that exist."""
    import numpy as np

    rows = np.array_split(lum, min(2, lum.shape[0]), axis=0)
    return [float(c.mean()) for r in rows
            for c in np.array_split(r, min(4, r.shape[1]), axis=1)]


SADF = {
    "sysstat": {
        "hosts": [
            {
                "nodename": "h1",
                "release": "5.14.21",
                "file-date": "2024-01-15",
                "number-of-cpus": 2,
                "statistics": [
                    {
                        "timestamp": {"date": "2024-01-15", "time": "00:10:01"},
                        "cpu-load": [
                            {"cpu": "all", "user": 1.25, "idle": 98.0},
                            {"cpu": "0", "user": 2.5, "idle": 96.0},
                        ],
                        "memory": {"memfree": 1000, "memused-percent": 75.5},
                        "io": {"tps": 5.5, "io-reads": {"rtps": 3.3, "bread": 100.0}},
                        "network": {
                            "net-dev": [{"iface": "eth0", "rxpck": 10.0, "txpck": 5.0}]
                        },
                    }
                ],
                "restarts": [{"boot": {"date": "2024-01-15", "time": "05:30:01"}}],
            }
        ]
    }
}


def test_parse_sadf_json_rows():
    rows = parse_sadf_json("f", json.dumps(SADF).encode())
    by = {(r["section"], r["metric"], r["device"]): r for r in rows}
    assert by[("cpu-load", "user", "all")]["value"] == 1.25
    assert by[("cpu-load", "user", "0")]["value"] == 2.5
    assert by[("memory", "memfree", None)]["value"] == 1000.0
    # nested io dict flattened with dotted names
    assert by[("io", "io-reads.rtps", None)]["value"] == 3.3
    assert by[("network.net-dev", "rxpck", "eth0")]["value"] == 10.0
    restart = [r for r in rows if r["restart"]]
    assert len(restart) == 1 and str(restart[0]["ts"]) == "2024-01-15 05:30:01"
    assert all(str(r["ts"]).startswith("2024-01-15") for r in rows)


def test_sadf_time_with_utc_offset_is_converted_to_utc():
    doc = copy.deepcopy(SADF)
    doc["sysstat"]["hosts"][0]["statistics"][0]["timestamp"]["time"] = "02:10:01+02:00"
    rows = parse_sadf_json("f", json.dumps(doc).encode())
    assert {str(r["ts"]) for r in rows if not r["restart"]} == {"2024-01-15 00:10:01"}


def test_read_sadf_json_distributed_and_xz(spark, tmp_path):
    (tmp_path / "a.json").write_bytes(json.dumps(SADF).encode())
    (tmp_path / "b.json.xz").write_bytes(lzma.compress(json.dumps(SADF).encode()))
    (tmp_path / "broken.json").write_bytes(b"{not json")
    df = read_sadf_json(spark, str(tmp_path))
    assert df.select("file").distinct().count() == 2  # broken one skipped
    cpu = df.where((F.col("section") == "cpu-load") & (F.col("device") == "all"))
    assert cpu.count() == 4  # 2 files x 2 metrics


def test_decode_file_unpacks_xz_only_for_wanted_kinds(monkeypatch):
    """decode_file sniffs an .xz archive from its first plain bytes and
    unpacks the whole archive only when the caller wants that kind: a
    sadf report read for sar text (and sar text read for sadf) costs no
    full unpacking. A report behind more whitespace than one sniff step
    still sniffs as JSON, and a truncated archive of an unwanted kind
    is dropped instead of raising."""
    from sarfile_analyzer_ng_spark.sources import sar_text as ST

    from .test_sar_source import SAR_24H

    sadf_xz = lzma.compress(b"\xef\xbb\xbf" + b" \n" * 100
                            + json.dumps(SADF).encode())
    text_xz = lzma.compress(SAR_24H.encode())
    unpacked = []
    real = lzma.decompress
    monkeypatch.setattr(
        lzma, "decompress", lambda b: unpacked.append(len(b)) or real(b))

    for content in (sadf_xz, sadf_xz[: len(sadf_xz) // 2]):
        dec = ST.decode_file("a.json.xz", content, (ST.SAR_TEXT, ST.BINARY))
        assert (dec.kind, dec.unxz, dec.data, dec.batch) == (
            ST.SADF_JSON, True, None, None)
    dec = ST.decode_file("b.txt.xz", text_xz, (ST.SADF_JSON,))
    assert (dec.kind, dec.data, dec.batch) == (None, None, None)
    assert unpacked == []

    dec = ST.decode_file("a.json.xz", sadf_xz, (ST.SADF_JSON,))
    assert dec.kind == ST.SADF_JSON and dec.batch.num_rows > 0
    dec = ST.decode_file("b.txt.xz", text_xz, (ST.SAR_TEXT, ST.BINARY))
    assert dec.kind == ST.SAR_TEXT and dec.batch.num_rows > 0
    assert unpacked == [len(sadf_xz), len(text_xz)]
    with pytest.raises(ST.DECODE_ERRORS):
        ST.decode_file("a.json.xz", sadf_xz[: len(sadf_xz) // 2],
                       (ST.SADF_JSON,))


def test_decode_path_never_imports_pandas(tmp_path):
    """decode_file builds its Arrow batch from buffers: a fresh
    interpreter that decodes every golden fixture kind has not imported
    pandas (``pa.array`` would import it, about 30 MB per Python
    worker)."""
    from .test_sar_source import SAR_24H, SAR_AMPM, SAR_RESTART_EARLY

    sadf = json.dumps(SADF).encode()
    inputs = {
        "a_24h.txt": SAR_24H.encode(),
        "b_ampm.txt": SAR_AMPM.encode(),
        "c_comma.txt": SAR_AMPM.replace(".00", ",00").encode(),
        "d_restart.txt": SAR_RESTART_EARLY.encode(),
        "e_24h.txt.xz": lzma.compress(SAR_24H.encode()),
        "f.json": sadf,
        "g.json.xz": lzma.compress(sadf),
    }
    for name, data in inputs.items():
        (tmp_path / name).write_bytes(data)
    script = (
        "import os, sys\n"
        "from sarfile_analyzer_ng_spark.sources.sar_text import decode_file\n"
        "for name in sorted(os.listdir(sys.argv[1])):\n"
        "    with open(os.path.join(sys.argv[1], name), 'rb') as fh:\n"
        "        print(name, decode_file(name, fh.read()).batch.num_rows)\n"
        "print('pandas' in sys.modules)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script, str(tmp_path)],
                         cwd=root, capture_output=True, text=True, check=True)
    *decoded, pandas = out.stdout.splitlines()
    assert [d.split()[0] for d in decoded] == sorted(inputs)
    assert all(int(d.split()[1]) > 0 for d in decoded)
    assert pandas == "False"


def test_cli_files_over_mixed_directory(spark, tmp_path, capsys, monkeypatch):
    """`files` over a directory mixing every input kind lists each
    well-formed file once, from one scan that sniffs each file's
    format; the truncated .xz and the broken JSON leave nothing."""
    from sarfile_analyzer_ng_spark.__main__ import _load, main

    from .test_sar_source import SAR_24H, SAR_AMPM

    sadf = json.dumps(SADF).encode()
    trunc = lzma.compress(SAR_24H.encode())
    inputs = {
        "a.txt": SAR_24H.encode(),
        "b_ampm.txt": SAR_AMPM.encode(),
        "c.txt.xz": lzma.compress(SAR_24H.encode()),
        "d.json": sadf,
        "e.json.xz": lzma.compress(sadf),
        "trunc.txt.xz": trunc[: len(trunc) // 2],
        "broken.json": sadf[: len(sadf) // 3],
    }
    for name, data in inputs.items():
        (tmp_path / name).write_bytes(data)
    monkeypatch.setattr(
        "sarfile_analyzer_ng_spark.session.get_spark", lambda name: spark
    )
    main(["files", str(tmp_path), "--json"])
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()
            if l.strip()]
    got = [(os.path.basename(r["file"]), r["host"], r["n_restarts"])
           for r in rows]
    assert got == [
        ("a.txt", "host1", 1),
        ("b_ampm.txt", "host2", 0),
        ("c.txt.xz", "host1", 1),
        ("d.json", "h1", 1),
        ("e.json.xz", "h1", 1),
    ]

    df = _load(spark, str(tmp_path))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    df.unpersist()
    assert plan.count("MapInArrow") == 1
    assert plan.count("MapInPandas") == 0
    assert plan.count("FileScan binaryFile") == 1


def _two_host_sadf() -> dict:
    doc = copy.deepcopy(SADF)
    h2 = copy.deepcopy(doc["sysstat"]["hosts"][0])
    h2.update(nodename="h2", release="6.1.0")
    doc["sysstat"]["hosts"].append(h2)
    return doc


def test_os_details_only_on_first_row_of_each_host_block():
    """Both parsers put os_details on the first row of a host block
    and leave it null everywhere else (reference layout,
    parse_into_polars.py:154)."""
    from sarfile_analyzer_ng_spark.sources.sar_text import parse_sar_text

    from .test_sar_source import SAR_24H

    rows = parse_sadf_json("f", json.dumps(_two_host_sadf()).encode())
    starts = [i for i, r in enumerate(rows) if i == 0 or r["host"] != rows[i - 1]["host"]]
    assert [rows[i]["host"] for i in starts] == ["h1", "h2"]
    assert [i for i, r in enumerate(rows) if r["os_details"] is not None] == starts
    assert [rows[i]["os_details"] for i in starts] == [
        "Linux 5.14.21 (h1) 2024-01-15", "Linux 6.1.0 (h2) 2024-01-15"]

    rows = parse_sar_text("f", SAR_24H)
    assert [i for i, r in enumerate(rows) if r["os_details"] is not None] == [0]
    assert rows[0]["os_details"].startswith("Linux 5.14.21-default (host1)")


def test_read_files_matches_row_views(spark, tmp_path):
    """The Arrow read (one batch of line rows per file, exploded in the
    JVM) gives exactly the rows of the pure row views over every golden
    fixture kind, every column compared: ts to the microsecond as UTC
    epoch micros, null devices, restart as a bool, NaN values. Edge
    lines: a first line that loses its first value (os_details moves
    to the next value), more values than header columns, a line with
    no parsable value, a sadf entry with no numeric field and a restart
    marker as a file's first row. Malformed files leave nothing."""
    from sarfile_analyzer_ng_spark.sources.sar_text import (
        EPOCH, SAR_FIELDS, parse_sar_text, read_files,
    )

    from .test_sar_source import SAR_24H, SAR_AMPM, SAR_RESTART_EARLY

    sar_nan = SAR_AMPM.replace("1.00     99.00", "nan     99.00")
    sadf_nan = json.dumps(_two_host_sadf()).replace("75.5", "NaN").encode()
    sadf = json.dumps(SADF).encode()
    trunc = lzma.compress(SAR_24H.encode())
    sar_edge = (
        "Linux 5.x (h7) \t2024-03-01 \t_x86_64_\t(2 CPU)\n\n"
        "00:00:01        CPU     %user   %system     %idle\n"
        "00:10:01        all      n/a      1.00     99.00\n"
        "00:20:01        all     1.00     2.00     98.00    7.00\n"
        "00:30:01        all        -        -         -\n"
    )
    sar_restart_first = (
        "Linux 5.x (h8) \t2024-03-01 \t_x86_64_\t(2 CPU)\n\n"
        "05:30:01 LINUX RESTART\t(2 CPU)\n\n"
        "06:00:01    proc/s   cswch/s\n"
        "06:10:01      1.20    250.00\n"
    )
    doc = copy.deepcopy(SADF)
    stat = doc["sysstat"]["hosts"][0]["statistics"][0]
    doc["sysstat"]["hosts"][0]["statistics"][0] = {
        "timestamp": stat.pop("timestamp"),
        "kernel": {"release": "5.14"},
        "cpu-load": [{"cpu": "9", "state": "offline"}, *stat.pop("cpu-load")],
        **stat,
    }
    texts = {
        "a_24h.txt": SAR_24H,
        "b_ampm.txt": SAR_AMPM,
        "c_restart_early.txt": SAR_RESTART_EARLY,
        "d_nan.txt": sar_nan,
        "e_24h.txt.xz": SAR_24H,
        "i_edge.txt": sar_edge,
        "j_restart_first.txt": sar_restart_first,
    }
    docs = {"f.json": sadf, "g_nan.json": sadf_nan, "h.json.xz": sadf,
            "k_edge.json": json.dumps(doc).encode()}
    for name, text in texts.items():
        data = text.encode()
        (tmp_path / name).write_bytes(lzma.compress(data) if name.endswith(".xz") else data)
    for name, data in docs.items():
        (tmp_path / name).write_bytes(lzma.compress(data) if name.endswith(".xz") else data)
    (tmp_path / "trunc.txt.xz").write_bytes(trunc[: len(trunc) // 2])
    (tmp_path / "broken.json").write_bytes(sadf[: len(sadf) // 3])

    want = [r for name, text in texts.items() for r in parse_sar_text(name, text)]
    want += [r for name, data in docs.items() for r in parse_sadf_json(name, data)]
    assert any(r["device"] is None for r in want)
    assert any(r["restart"] for r in want)
    assert sum(isinstance(r["value"], float) and math.isnan(r["value"]) for r in want) == 3
    edge = [(r["metric"], r["value"], r["os_details"] is not None)
            for r in want if r["file"] == "i_edge.txt"]
    assert edge == [("%system", 1.0, True), ("%idle", 99.0, False),
                    ("%user", 1.0, False), ("%system", 2.0, False),
                    ("%idle", 98.0, False)]
    assert [r["restart"] for r in want if r["os_details"] is not None
            and r["file"] == "j_restart_first.txt"] == [True]
    assert not any(r["device"] == "9" or r["section"] == "kernel" for r in want)
    want = sorted(
        repr(tuple((r["ts"] - EPOCH) // timedelta(microseconds=1) if f == "ts" else r[f]
                   for f in SAR_FIELDS))
        for r in want
    )

    df = read_files(spark, str(tmp_path))
    cols = [
        F.regexp_extract("file", r"[^/]+$", 0).alias("file") if f == "file"
        else F.unix_micros("ts").alias("ts") if f == "ts" else f
        for f in SAR_FIELDS
    ]
    got = sorted(repr(tuple(r)) for r in df.select(*cols).collect())
    assert got == want
    assert {r["file"] for r in df.select(cols[0]).distinct().collect()} == set(texts) | set(docs)


def test_multimodal_undecodable_policy(spark):
    """A payload no decoder handles (unknown magic) surfaces the
    documented NotImplementedError, and image_phash lets it fail the
    job: a missing codec is an environment problem, not bad data."""
    with pytest.raises(NotImplementedError, match="decoding"):
        MM.decode_luminance(b"x")
    media = spark.createDataFrame([(1, "image", None, b"x", {})], MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError"):
        MM.image_phash(media).collect()


def test_multimodal_real_ppm_decode():
    """decode_luminance genuinely decodes binary netpbm without any
    codec library: a synthetic P6 image with known geometry and a
    bright left / dark right half must yield matching dims and
    luminance."""
    width, height = 8, 4
    left = b"\xff\xff\xff" * (width // 2)
    right = b"\x00\x00\x00" * (width // 2)
    payload = b"P6\n# test comment\n8 4\n255\n" + (left + right) * height
    w, h, lum = MM.decode_luminance(payload)
    assert (w, h) == (width, height) and lum.shape == (height, width)
    # columns 0-3 fully white (1.0), columns 4-7 fully black
    assert (lum[:, :4] == 1.0).all() and (lum[:, 4:] == 0.0).all()


def test_multimodal_ppm_p5_gray_and_16bit():
    w, h = 4, 2
    p5 = b"P5\n4 2\n255\n" + bytes([0, 64, 128, 255] * h)
    p5_16 = b"P5\n4 2\n65535\n" + b"".join(
        v.to_bytes(2, "big") for v in [0, 16384, 32768, 65535] * h
    )
    w8, h8, lum8 = MM.decode_luminance(p5)
    _, _, lum16 = MM.decode_luminance(p5_16)
    assert (w8, h8) == (w, h)
    # 8-bit and 16-bit encodings of the same ramp give ~equal luminance
    assert abs(lum8 - lum16).max() < 0.01


def test_decode_ppm_tiny_images_never_nan():
    """Images smaller than pHash's 32x32 pool decode and hash without
    NaN (the pool upsamples by repetition first)."""
    import numpy as np

    for w, h in [(1, 1), (4, 1), (1, 4), (2, 2)]:
        payload = f"P6\n{w} {h}\n255\n".encode() + bytes((10, 20, 30)) * (w * h)
        width, height, lum = MM.decode_ppm(payload)
        assert (width, height) == (w, h) and lum.shape == (h, w)
        assert not np.isnan(lum).any()
        assert isinstance(MM._phash64(lum), int)


def _png_filter_rows(px, filters):
    """Forward-filter one (sub-)image per RFC 2083 — the encoder half
    of the decoder's unfilter recurrences."""
    import numpy as np

    h, w, ch = px.shape
    raw = b""
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int32)
        ftype = filters[y % len(filters)]
        line = np.zeros(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) // 2
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (int(cur[x]) - pred) % 256
        raw += bytes([ftype]) + bytes(line.astype(np.uint8))
        prev = cur
    return raw


def _png_encode(px, color_type, filters, interlace=0):
    """Minimal stdlib PNG encoder for the decoder tests: one row per
    filter type in `filters`, forward-filtered per RFC 2083 so the
    decoder's unfilter path is genuinely exercised. interlace=1 emits
    the seven Adam7 reduced images, each filtered independently."""
    import struct
    import zlib

    h, w, _ch = px.shape

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    if interlace:
        raw = b""
        for xs, ys, xst, yst in [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                                 (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                                 (0, 1, 1, 2)]:
            sub = px[ys::yst, xs::xst, :]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue  # empty pass emits nothing
            raw += _png_filter_rows(sub, filters)
    else:
        raw = _png_filter_rows(px, filters)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_png_decode_matches_ppm():
    """PNG is a REAL decoder (stdlib zlib + the five unfilters): the
    same pixel array encoded as P6 netpbm and as RGB PNG — with every
    filter type 0-4 exercised across rows — must produce the
    IDENTICAL luminance plane."""
    import numpy as np

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(10, 8, 3), dtype=np.uint8)
    ppm = b"P6\n8 10\n255\n" + px.tobytes()
    png = _png_encode(px, color_type=2, filters=[0, 1, 2, 3, 4])
    _, _, want = MM.decode_luminance(ppm)
    w, h, lum = MM.decode_luminance(png)
    assert (w, h) == (8, 10)
    assert np.array_equal(lum, want)


def test_multimodal_png_adam7_interlace_pixel_identity():
    """Adam7-interlaced PNGs (round-7 directive — common in old
    screenshots) decode to the SAME pixels as their sequential twin:
    the seven reduced images unfilter independently (every filter
    type exercised inside the sub-images) and scatter back to the
    full grid. Sizes chosen so several passes are non-trivial and one
    dimension is not a multiple of 8."""
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w in [(13, 9), (8, 8), (3, 2), (1, 1)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        plain = _png_encode(px, 2, [0, 1, 2, 3, 4], interlace=0)
        adam7 = _png_encode(px, 2, [4, 3, 2, 1, 0], interlace=1)
        _, _, want = MM.decode_luminance(plain)
        gw, gh, lum = MM.decode_luminance(adam7)
        assert (gw, gh) == (w, h)
        assert np.array_equal(lum, want), (h, w)


def test_multimodal_png_rgba_and_gray():
    import numpy as np

    gray = np.tile(np.array([0, 255], dtype=np.uint8), (4, 2))[..., None]
    rgba = np.dstack([gray.repeat(3, axis=2),
                      np.full(gray.shape[:2], 9, dtype=np.uint8)])
    _, _, lum_gray = MM.decode_luminance(_png_encode(gray, 0, [0, 1, 2, 3, 4]))
    _, _, lum_rgba = MM.decode_luminance(_png_encode(rgba, 6, [4, 3, 2, 1, 0]))
    # alpha is ignored for luminance: gray and RGBA planes agree
    assert np.array_equal(lum_gray, lum_rgba)


def test_extract_features_skips_empty_payload_rows(spark):
    """An empty or null payload keeps its row with a null hash; the
    decodable row beside it still hashes."""
    rows = [
        (1, "image", None, b"", {}),
        (2, "image", None, None, {}),
        (3, "image", None, b"P6\n4 4\n255\n" + bytes([9]) * 48, {}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in MM.image_phash(media).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["phash"] is None and got[2]["phash"] is None
    assert got[3]["width"] == 4 and got[3]["phash"] is not None


def test_multimodal_corrupt_payload_yields_null_row_not_job_failure(spark):
    """A payload with a valid magic but corrupt body is a DATA
    problem, and so is a WAV payload: image_phash survives and emits a
    null-hash row for each (audit with phash IS NULL); only a genuinely
    missing codec (NotImplementedError) still fails loudly."""
    import io
    import wave

    corrupt_png = b"\x89PNG\r\n\x1a\n" + b"garbage" * 4
    good = b"P5\n2 2\n255\n\x00\x40\x80\xff"
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x10" * 800)
    media = spark.createDataFrame(
        [(1, "image", None, corrupt_png, {}), (2, "image", None, good, {}),
         (3, "audio", None, buf.getvalue(), {})],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r for r in MM.image_phash(media).collect()}
    assert set(got) == {1, 2, 3}
    assert all(got[i]["phash"] is None for i in (1, 3))
    assert got[2]["phash"] is not None  # the good row still decodes
    assert (got[2]["width"], got[2]["height"]) == (2, 2)


def test_multimodal_real_bmp_decode_matches_ppm():
    """BMP (uncompressed 24-bit) is a real decoder: the same pixels as
    netpbm and as a bottom-up padded BMP give identical luminance."""
    import struct

    import numpy as np

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # h=5 w=3
    ppm = b"P6\n3 5\n255\n" + px.tobytes()
    stride = (3 * 3 + 3) & ~3  # 12
    body = b"".join(
        px[y][:, ::-1].tobytes() + b"\x00" * (stride - 9)  # RGB->BGR + pad
        for y in range(4, -1, -1)  # bottom-up
    )
    header = (
        b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 3, 5, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    )
    _, _, want = MM.decode_luminance(ppm)
    w, h, lum = MM.decode_luminance(header + body)
    assert (w, h) == (3, 5)
    assert np.array_equal(lum, want)


def test_multimodal_png_decompression_bomb_is_bounded():
    """A hostile IDAT that inflates to ~100 MB behind a 2x2 IHDR must
    not balloon memory: the inflate is capped at the pixel bytes the
    header promises, so the row decodes (bounded) instead of OOMing."""
    import struct
    import zlib

    def chunk(ctype, data):
        body = ctype + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # 2x2 RGB
    bomb = zlib.compress(b"\x00" * (100 * 1024 * 1024), 9)  # ~100 KB IDAT
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    w, h, lum = MM.decode_luminance(payload)
    # zero-filled "pixels" decode to a black 2x2 image, memory bounded
    assert (w, h) == (2, 2)
    assert lum.shape == (2, 2) and lum.max() == 0.0


def _gif_encode(idx, palette, interlace=False):
    """Minimal GIF89a encoder for the decoder tests: 8-bit global
    palette, 'uncompressed' LZW (every pixel a literal 9-bit code,
    clear codes keeping the table small) — valid per the spec and
    decodable by any conformant reader."""
    import struct

    import numpy as np

    h, w = idx.shape
    if interlace:
        order = (list(range(0, h, 8)) + list(range(4, h, 8))
                 + list(range(2, h, 4)) + list(range(1, h, 2)))
        idx = idx[order]
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes([r, g, b])
    pal += b"\x00" * (3 * 256 - len(pal))

    clear, eoi = 256, 257
    bits, acc, nbits = bytearray(), 0, 0

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    for n, v in enumerate(idx.reshape(-1)):
        if n and n % 250 == 0:
            emit(clear)  # keep the decoder's table below width growth
        emit(int(v))
    emit(eoi)
    if nbits:
        bits.append(acc & 0xFF)

    sub = b"".join(
        bytes([len(bits[i:i + 255])]) + bytes(bits[i:i + 255])
        for i in range(0, len(bits), 255)
    ) + b"\x00"
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # 256-entry GCT
        + bytes(pal)
        + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h,
                                0x40 if interlace else 0)
        + bytes([8])  # LZW min code size
        + sub
        + b"\x3B"
    )


def test_multimodal_real_gif_decode_matches_ppm():
    """GIF is a real decoder (pure-python LZW + palette): the same
    pixels as palette-mapped GIF — plain and interlaced — and as P6
    netpbm give identical luminance."""
    import numpy as np

    rng = np.random.default_rng(17)
    palette = rng.integers(0, 256, size=(256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, size=(9, 7), dtype=np.uint8)
    rgb = palette[idx]
    ppm = b"P6\n7 9\n255\n" + rgb.tobytes()
    _, _, want = MM.decode_luminance(ppm)
    w, h, plain = MM.decode_luminance(_gif_encode(idx, palette))
    _, _, laced = MM.decode_luminance(_gif_encode(idx, palette, interlace=True))
    assert (w, h) == (7, 9)
    assert np.array_equal(plain, want) and np.array_equal(laced, want)


def test_gif_interlace_order_is_the_spec_order():
    """Convention-independence check for interlacing: the file's row
    sequence for an 8-row interlaced image is HAND-DERIVED from the
    spec here (pass 1: row 0; pass 2: row 4; pass 3: rows 2,6;
    pass 4: rows 1,3,5,7) — NOT the decoder's order list — so a
    shared-but-wrong order in encoder+decoder cannot cancel out. Top
    half black, bottom half white survives deinterlacing exactly."""
    import numpy as np

    from sarfile_analyzer_ng_spark.functions.multimodal import decode_gif

    # image rows 0-3 are palette index 0 (black), 4-7 index 1 (white)
    file_row_values = [0, 1, 0, 1, 0, 0, 1, 1]  # rows 0,4,2,6,1,3,5,7
    idx = np.array([[v] * 8 for v in file_row_values], dtype=np.uint8)
    palette = [(0, 0, 0), (255, 255, 255)] + [(0, 0, 0)] * 254
    gif = _gif_encode(idx, palette)  # rows already in FILE order
    # flip the interlace bit on the image descriptor by rebuilding:
    # _gif_encode(interlace=True) would re-permute, so patch the flag
    desc_at = gif.index(b"\x2C")
    gif = gif[:desc_at + 9] + bytes([gif[desc_at + 9] | 0x40]) \
        + gif[desc_at + 10:]
    w, h, lum = decode_gif(gif)
    assert (w, h) == (8, 8)
    assert (lum[:4] == 0.0).all() and (lum[4:] == 1.0).all()


def test_multimodal_gif_corrupt_lzw_is_null_row(spark):
    bad = _gif_encode(
        __import__("numpy").zeros((2, 2), dtype="uint8"),
        [(0, 0, 0)] * 256,
    )[:-6]  # chop the stream mid-data
    media = spark.createDataFrame([(1, "image", None, bad, {})], MEDIA_SCHEMA)
    got = MM.image_phash(media).collect()[0]
    assert got["phash"] is None


def test_gif_lzw_roundtrip_real_compression():
    """Unit-level LZW roundtrip with a REAL compressor (growing code
    widths, table up to 4096, the KwKwK self-reference case): random
    and adversarial index streams compress and decode back exactly —
    the paths the 'uncompressed' encoder above never exercises."""
    import numpy as np

    from sarfile_analyzer_ng_spark.functions.multimodal import (
        _gif_lzw_decode,
    )

    def lzw_encode(data, min_code=8):
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, width = clear + 2, min_code + 1
        acc = nbits = 0
        out = bytearray()

        def emit(code, w):
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += w
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        emit(clear, width)
        run = b""
        for byte in data:
            cand = run + bytes([byte])
            if cand in table:
                run = cand
                continue
            emit(table[run], width)
            if next_code < 4096:
                table[cand] = next_code
                # GIF: the encoder bumps width when next_code EXCEEDS
                # the current range (decoder bumps after adding the
                # same entry — they stay in lockstep)
                if next_code == (1 << width) and width < 12:
                    width += 1
                next_code += 1
            run = bytes([byte])
        if run:
            emit(table[run], width)
        emit(eoi, width)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = np.random.default_rng(29)
    cases = [
        b"\x00" * 5000,                       # KwKwK immediately, long runs
        bytes(rng.integers(0, 4, 3000)),      # small alphabet, deep table
        bytes(rng.integers(0, 256, 6000)),    # width growth past 9/10 bits
        b"abababababab" * 300,
    ]
    for data in cases:
        assert _gif_lzw_decode(8, lzw_encode(data), len(data)) == data


def _jpeg_encode(planes, w, h, sampling, quant_flat=1):
    """Minimal baseline JPEG encoder for the decoder tests: per-plane
    FDCT + flat quantization + canonical fixed-length huffman tables
    written into DHT (the decoder reads tables from the FILE, so any
    valid canonical table exercises the real path). `planes` is a
    list of (h_pixels, w_pixels) uint8 arrays already at component
    resolution; `sampling` the (h_i, v_i) factors."""
    import struct

    import numpy as np

    from sarfile_analyzer_ng_spark.functions.multimodal import (
        ZIGZAG, _dct_matrix,
    )

    dctm = _dct_matrix()
    q = float(quant_flat)

    # fixed-length canonical tables: 12 DC symbols at 4 bits,
    # 162 AC symbols at 8 bits — prefix-free by construction
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | sz for r in range(16) for sz in range(1, 11)
    ]
    dc_bits = [0, 0, 0, 12] + [0] * 12
    ac_bits = [0, 0, 0, 0, 0, 0, 0, len(ac_syms)] + [0] * 8

    def canonical(bits, syms):
        codes, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                codes[syms[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return codes

    dc_codes, ac_codes = canonical(dc_bits, dc_syms), canonical(ac_bits, ac_syms)

    out = bytearray()
    acc = nbits = 0

    def emit(length, code):
        nonlocal acc, nbits
        acc = (acc << length) | code
        nbits += length
        while nbits >= 8:
            b = (acc >> (nbits - 8)) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # byte stuffing
            nbits -= 8

    def magnitude(v):
        t = int(v).bit_length() if v > 0 else int(-v).bit_length()
        bits = v if v >= 0 else v + (1 << t) - 1
        return t, bits

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    if len(planes) == 1:
        # T.81 A.2.2: a single-component scan is NON-interleaved —
        # one block per MCU in the component's own raster, whatever
        # the SOF sampling factors declare
        mcux, mcuy = -(-w // 8), -(-h // 8)
        blocks = [(1, 1)]
    else:
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        blocks = sampling
    padded = []
    for plane, (hi, vi) in zip(planes, blocks):
        ph, pw = mcuy * vi * 8, mcux * hi * 8
        p = np.zeros((ph, pw))
        p[: plane.shape[0], : plane.shape[1]] = plane
        # replicate edges into the pad so DCT energy stays local
        p[plane.shape[0]:, : plane.shape[1]] = plane[-1:, :]
        p[:, plane.shape[1]:] = p[:, plane.shape[1] - 1:plane.shape[1]]
        padded.append(p)

    dc_pred = [0] * len(planes)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (plane, (hi, vi)) in enumerate(zip(padded, blocks)):
                for bv in range(vi):
                    for bh in range(hi):
                        y0 = (my * vi + bv) * 8
                        x0 = (mx * hi + bh) * 8
                        block = plane[y0:y0 + 8, x0:x0 + 8] - 128.0
                        coef = dctm @ block @ dctm.T
                        zz = np.array(
                            [coef[r, c] for r, c in ZIGZAG]
                        )
                        zz = np.round(zz / q).astype(int)
                        diff = int(zz[0]) - dc_pred[ci]
                        dc_pred[ci] = int(zz[0])
                        t, bits = magnitude(diff) if diff else (0, 0)
                        ln, code = dc_codes[t]
                        emit(ln, code)
                        if t:
                            emit(t, bits)
                        run = 0
                        for k in range(1, 64):
                            v = int(zz[k])
                            if v == 0:
                                run += 1
                                continue
                            while run >= 16:
                                ln, code = ac_codes[0xF0]
                                emit(ln, code)
                                run -= 16
                            t, bits = magnitude(v)
                            ln, code = ac_codes[(run << 4) | t]
                            emit(ln, code)
                            emit(t, bits)
                            run = 0
                        if run:
                            ln, code = ac_codes[0x00]
                            emit(ln, code)
    if nbits:
        emit(8 - nbits, (1 << (8 - nbits)) - 1)  # pad with 1s

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    zz_q = bytes([0]) + bytes([quant_flat] * 64)
    dht = (bytes([0x00]) + bytes(dc_bits[:16]) + bytes(dc_syms)
           + bytes([0x10]) + bytes(ac_bits[:16]) + bytes(ac_syms))
    n = len(planes)
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([n])
    for ci, (hi, vi) in enumerate(sampling):
        sof += bytes([ci + 1, (hi << 4) | vi, 0])
    sos = bytes([n]) + b"".join(bytes([ci + 1, 0x00]) for ci in range(n)) \
        + bytes([0, 63, 0])
    return (b"\xff\xd8" + seg(0xDB, zz_q) + seg(0xC4, dht)
            + seg(0xC0, sof) + seg(0xDA, sos) + bytes(out) + b"\xff\xd9")


def test_multimodal_real_jpeg_decode():
    """Baseline JPEG is a real decoder: grayscale, 4:4:4 color, and
    4:2:0 chroma-subsampled encodings of the same luminance decode to
    grids matching the netpbm ground truth within the flat-quant
    loss bound; a flat-gray image roundtrips EXACTLY (DC-only path)."""
    import numpy as np

    rng = np.random.default_rng(23)
    h, w = 18, 13  # exercises MCU padding (not multiples of 8/16)
    # smooth luminance: low-frequency so quant=1 loss stays tiny
    yy, xx = np.mgrid[0:h, 0:w]
    lum = (128 + 90 * np.sin(yy / 5.0) * np.cos(xx / 4.0)).astype(np.uint8)
    ppm = b"P5\n" + f"{w} {h}\n255\n".encode() + lum.tobytes()

    gray = _jpeg_encode([lum], w, h, [(1, 1)])
    flat_cr = np.full(lum.shape, 128, dtype=np.uint8)
    color444 = _jpeg_encode([lum, flat_cr, flat_cr], w, h,
                            [(1, 1), (1, 1), (1, 1)])
    sub = np.full((-(-h // 2), -(-w // 2)), 128, dtype=np.uint8)
    color420 = _jpeg_encode([lum, sub, sub], w, h,
                            [(2, 2), (1, 1), (1, 1)])

    ref = _grid(MM.decode_luminance(ppm)[2])
    for name, payload in [("gray", gray), ("444", color444), ("420", color420)]:
        wd, hd, plane = MM.decode_luminance(payload)
        assert (wd, hd) == (w, h), name
        feat = _grid(plane)
        for a, b in zip(ref, feat):
            assert abs(a - b) < 0.02, (name, ref, feat)

    # DC-only exactness: a flat 100-gray image decodes to exactly 100
    flat = np.full((8, 8), 100, dtype=np.uint8)
    jf = _jpeg_encode([flat], 8, 8, [(1, 1)])
    wd, hd, plane = MM.decode_jpeg(jf)
    assert (wd, hd) == (8, 8)
    assert abs(plane - 100 / 255).max() < 1e-9

    # a grayscale file DECLARING 2x2 sampling still scans
    # non-interleaved (T.81 A.2.2) — the sampling factors must not
    # shape a single-component scan
    g22 = _jpeg_encode([lum], w, h, [(2, 2)])
    wd, hd, plane22 = MM.decode_jpeg(g22)
    assert (wd, hd) == (w, h)
    for a, b in zip(ref, _grid(plane22)):
        assert abs(a - b) < 0.02

    # arithmetic-coded JPEG refuses clearly (SOF9); a baseline scan
    # script behind an SOF2 marker is flagged as corrupt
    import pytest as _pytest

    arith = bytearray(gray)
    sof_at = arith.index(b"\xff\xc0")
    arith[sof_at + 1] = 0xC9
    with _pytest.raises(NotImplementedError, match="huffman"):
        MM.decode_jpeg(bytes(arith))
    fake_prog = bytearray(gray)
    fake_prog[sof_at + 1] = 0xC2
    with _pytest.raises(ValueError, match="scan script"):
        MM.decode_jpeg(bytes(fake_prog))


_MEDIA_DIR = os.path.join(os.path.dirname(__file__), "data", "media")


def test_multimodal_jpeg_decodes_real_world_files():
    """Independent validation against a JPEG produced by a REAL
    encoder (r9: vendored into tests/data/media so the check is
    hermetic — previously it skipped when the system sample was
    absent): a radially-symmetric baseline-SOF0 mandala (the
    flower-of-life sample shipped with the requests library's docs)
    must decode to a left/right symmetric luminance grid. Catches any
    convention bug the self-roundtrip pair could share (zigzag, byte
    stuffing, huffman canonicalization).

    If the larger system samples happen to exist, they are validated
    too (extra coverage, never a skip)."""
    from sarfile_analyzer_ng_spark.functions.multimodal import decode_jpeg

    mandala = os.path.join(_MEDIA_DIR, "flower-of-life.jpg")
    w, h, lum = decode_jpeg(open(mandala, "rb").read())
    feat = _grid(lum)
    assert (w, h) == (161, 161)
    # radial symmetry: each grid row reads the same left-to-right as
    # right-to-left (within JPEG loss), and the image is bright
    for row in (feat[:4], feat[4:]):
        assert abs(row[0] - row[3]) < 0.02 and abs(row[1] - row[2]) < 0.02
    assert min(feat) > 0.7

    diagram = ("/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
               "pyparsing/docs/_static/pyparsingClassDiagram_1.5.2.jpg")
    if os.path.exists(diagram):
        w, h, lum = decode_jpeg(open(diagram, "rb").read())
        assert (w, h) == (1155, 1659)
        assert min(_grid(lum)) > 0.9  # a documentation page is mostly white


def _jpeg_encode_progressive(lum, w, h, refine=False):
    """Progressive (SOF2) grayscale encoder for the decoder tests:
    spectral-selection scans, and with ``refine=True`` a successive-
    approximation script (Al=1 first passes + Ah=1 refinement for DC
    and AC) whose correction-bit stream mirrors the decoder walk.
    Quant=1 everywhere, so a full progression reconstructs EXACTLY the
    coefficients the baseline encoder writes — planes must match
    bit-for-bit."""
    import numpy as np

    from sarfile_analyzer_ng_spark.functions.multimodal import (
        ZIGZAG, _dct_matrix,
    )

    dctm = _dct_matrix()
    bx, by = -(-w // 8), -(-h // 8)
    p = np.zeros((by * 8, bx * 8))
    p[:h, :w] = lum
    p[h:, :w] = lum[-1:, :]
    p[:, w:] = p[:, w - 1:w]
    blocks = []
    for myy in range(by):
        for mxx in range(bx):
            blk = p[myy * 8:myy * 8 + 8, mxx * 8:mxx * 8 + 8] - 128.0
            coefm = dctm @ blk @ dctm.T
            blocks.append(
                np.round([coefm[r, c] for r, c in ZIGZAG]).astype(int)
            )

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | sz for r in range(16) for sz in range(1, 11)
    ]
    dc_bits = [0, 0, 0, 12] + [0] * 12
    ac_bits = [0, 0, 0, 0, 0, 0, 0, len(ac_syms)] + [0] * 8

    def canonical(bits, syms):
        codes, code, k = {}, 0, 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                codes[syms[k]] = (length, code)
                k += 1
                code += 1
            code <<= 1
        return codes

    dc_codes, ac_codes = canonical(dc_bits, dc_syms), canonical(ac_bits, ac_syms)

    def magnitude(v):
        t = int(abs(v)).bit_length()
        return t, (v if v >= 0 else v + (1 << t) - 1)

    def entropy(emitters):
        out, acc, nbits = bytearray(), 0, 0

        def emit(length, code):
            nonlocal acc, nbits
            acc = (acc << length) | code
            nbits += length
            while nbits >= 8:
                b = (acc >> (nbits - 8)) & 0xFF
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
                nbits -= 8

        for kind, a, b_ in emitters:
            if kind == "sym_dc":
                emit(*dc_codes[a])
                if a:
                    emit(a, b_)
            elif kind == "sym_ac":
                emit(*ac_codes[a])
                if b_ is not None:
                    emit(*b_)
            elif kind == "bit":
                emit(1, a)
        if nbits:
            emit(8 - nbits, (1 << (8 - nbits)) - 1)
        return bytes(out)

    def dc_first(al):
        ops, pred = [], 0
        for zz in blocks:
            v = int(zz[0]) >> al  # DC point transform: arithmetic shift
            t, bits_ = magnitude(v - pred)
            pred = v
            ops.append(("sym_dc", t, bits_))
        return ops

    def dc_refine(al):
        return [("bit", (int(zz[0]) >> al) & 1, None) for zz in blocks]

    def ac_first(ss, se, al):
        ops = []
        for zz in blocks:
            vals = [
                (1 if v > 0 else -1) * (abs(int(v)) >> al)
                for v in zz[ss:se + 1]
            ]
            run = 0
            for v in vals:
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    ops.append(("sym_ac", 0xF0, None))
                    run -= 16
                t, bits_ = magnitude(v)
                ops.append(("sym_ac", (run << 4) | t, (t, bits_)))
                run = 0
            if run:
                ops.append(("sym_ac", 0x00, None))  # EOB0
        return ops

    def ac_refine(ss, se, al):
        ops = []
        for zz in blocks:
            true = [int(v) for v in zz]
            hist = [(1 if v > 0 else -1) * (abs(v) >> (al + 1))
                    for v in true]
            k = ss

            def advance(zeros, unbounded=False, consume_stop=False):
                nonlocal k
                while k <= se:
                    if hist[k]:
                        ops.append(("bit", abs(true[k]) & 1, None))
                    else:
                        if not unbounded and zeros == 0:
                            if consume_stop:
                                k += 1
                            break
                        zeros -= 1
                    k += 1

            while True:
                kk, r, nxt = k, 0, None
                while kk <= se:
                    if not hist[kk]:
                        if true[kk] != 0:
                            nxt = kk
                            break
                        r += 1
                    kk += 1
                if nxt is None:
                    ops.append(("sym_ac", 0x00, None))
                    advance(0, unbounded=True)
                    break
                while r >= 16:
                    # T.81 bit order: ZRL skips 15 zeros and CONSUMES
                    # its 16th (mirrors the decoder)
                    ops.append(("sym_ac", 0xF0, None))
                    advance(15, consume_stop=True)
                    r -= 16
                ops.append(("sym_ac", (r << 4) | 1, None))
                ops.append(("bit", 1 if true[nxt] > 0 else 0, None))
                advance(r)
                k += 1  # past the newly placed coefficient
        return ops

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def sos(ss, se, ah, al):
        return seg(0xDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    if refine:
        scans = (
            sos(0, 0, 0, 1) + entropy(dc_first(1))
            + sos(0, 0, 1, 0) + entropy(dc_refine(0))
            + sos(1, 63, 0, 1) + entropy(ac_first(1, 63, 1))
            + sos(1, 63, 1, 0) + entropy(ac_refine(1, 63, 0))
        )
    else:
        scans = (
            sos(0, 0, 0, 0) + entropy(dc_first(0))
            + sos(1, 20, 0, 0) + entropy(ac_first(1, 20, 0))
            + sos(21, 63, 0, 0) + entropy(ac_first(21, 63, 0))
        )
    dht = (bytes([0x00]) + bytes(dc_bits[:16]) + bytes(dc_syms)
           + bytes([0x10]) + bytes(ac_bits[:16]) + bytes(ac_syms))
    sof = (bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
           + bytes([1, 1, 0x11, 0]))
    return (b"\xff\xd8" + seg(0xDB, bytes([0]) + bytes([1] * 64))
            + seg(0xC4, dht) + seg(0xC2, sof) + scans + b"\xff\xd9")


def test_multimodal_progressive_jpeg_matches_baseline():
    """A full progression reconstructs the EXACT coefficients the
    baseline encoding carries, so the decoded planes must be
    identical — for plain spectral selection AND for a successive-
    approximation script exercising DC/AC refinement, EOB, ZRL, and
    correction bits."""
    import numpy as np

    from sarfile_analyzer_ng_spark.functions.multimodal import decode_jpeg

    rng = np.random.default_rng(31)
    h, w = 21, 19
    yy, xx = np.mgrid[0:h, 0:w]
    lum = np.clip(
        128 + 70 * np.sin(yy / 3.0) + 50 * np.cos(xx / 2.0)
        + rng.normal(0, 12, (h, w)),
        0, 255,
    ).astype(np.uint8)
    bw, bh, base = decode_jpeg(_jpeg_encode([lum], w, h, [(1, 1)]))
    sw, sh, spectral = decode_jpeg(_jpeg_encode_progressive(lum, w, h))
    rw, rh, refined = decode_jpeg(
        _jpeg_encode_progressive(lum, w, h, refine=True)
    )
    assert (bw, bh) == (sw, sh) == (rw, rh) == (w, h)
    assert np.array_equal(spectral, base)
    assert np.array_equal(refined, base)


def test_ac_refine_zrl_bit_order_matches_libjpeg():
    """The verified divergence case: a refinement stream in
    T.81/libjpeg order — [ZRL][sym(0,1)][sign][correction][EOB0] with
    16 leading zero-history slots and a nonzero-history coefficient
    right after them. ZRL must skip 15 zeros and consume the 16th
    WITHOUT touching the following nonzero coefficient, whose
    correction bit belongs to the NEXT symbol's walk."""
    from sarfile_analyzer_ng_spark.functions.multimodal import (
        _BitReader, _ProgressiveState,
    )

    frame = (8, 8, [{"id": 1, "h": 1, "v": 1, "tq": 0}])
    st = _ProgressiveState(frame)
    st.coef[0, 0, 17] = 2  # nonzero history right after 16 zeros
    # 2-bit canonical toy table: EOB0=00, ZRL=01, (r=0,s=1)=10
    table = {(2, 0): 0x00, (2, 1): 0xF0, (2, 2): 0x01}
    # bits: ZRL(01) sym01(10) sign(1) corr(1) EOB0(00) -> 0110 1100
    reader = _BitReader(bytes([0b01101100]), 0)
    st._ac_refine(reader, table, 1, 63, 0, 0)
    assert st.coef[0, 0, 17] == 3   # correction bit applied
    assert st.coef[0, 0, 18] == 1   # new coefficient lands at 18
    assert st.coef[0, 0, 16] == 0   # the consumed zero stays zero


def test_multimodal_real_progressive_jpegs():
    """A real libjpeg progressive-SOF2 file (r9: vendored into
    tests/data/media from the nodejs docs so the check is hermetic)
    decodes with correct geometry and near-white luminance; the
    larger system sibling is validated when present (never a
    skip)."""
    from sarfile_analyzer_ng_spark.functions.multimodal import decode_jpeg

    thin = os.path.join(_MEDIA_DIR, "thin-white-stripe.jpg")
    w, h, lum = decode_jpeg(open(thin, "rb").read())
    assert (w, h) == (493, 58) and min(_grid(lum)) > 0.7
    full = "/usr/share/doc/nodejs/full-white-stripe.jpg"
    if os.path.exists(full):
        w, h, lum = decode_jpeg(open(full, "rb").read())
        assert (w, h) == (493, 312) and min(_grid(lum)) > 0.9


def test_image_phash_is_container_invariant_and_robust(spark):
    """Perceptual-hash dedup for the multimodal column: the SAME
    pixels re-encoded as netpbm, PNG, and BMP hash identically;
    a lightly-noised copy lands within a few bits; a different image
    is far away; banding recall is exact at the default threshold."""
    import struct
    import numpy as np

    from sarfile_analyzer_ng_spark.functions import multimodal as MM

    rng = np.random.default_rng(21)
    # structured image (gradient + blob) so the DCT spectrum is rich
    yy, xx = np.mgrid[0:40, 0:48]
    base = (xx * 3 + yy * 2) % 256
    base[10:20, 12:24] = 240
    base = base.astype(np.uint8)
    px = np.stack([base] * 3, axis=2)

    def bmp(p):
        h, w, _ = p.shape
        stride = (w * 3 + 3) & ~3
        body = b""
        for y in range(h - 1, -1, -1):
            row = p[y][:, ::-1].tobytes()  # BGR
            body += row + b"\x00" * (stride - len(row))
        header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                           len(body), 2835, 2835, 0, 0)
        return header + info + body

    ppm = b"P6\n48 40\n255\n" + px.tobytes()
    png = _png_encode(px, 2, [0, 1, 2, 3, 4])
    noisy = px.copy()
    noisy[0:6, 0:6] = 255 - noisy[0:6, 0:6]  # localized edit: ~4 bits
    other = rng.integers(0, 256, size=(40, 48, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [
            (1, "image", None, ppm, {}),
            (2, "image", None, png, {}),
            (3, "image", None, bmp(px), {}),
            (4, "image", None, b"P6\n48 40\n255\n" + noisy.tobytes(), {}),
            (5, "image", None, b"P6\n48 40\n255\n" + other.tobytes(), {}),
            (6, "image", None, b"\x89PNG\r\n\x1a\n" + b"junk" * 4, {}),
        ],
        MEDIA_SCHEMA,
    )
    hashes = MM.image_phash(media)
    got = {r["media_id"]: r for r in hashes.collect()}
    assert got[1]["phash"] == got[2]["phash"] == got[3]["phash"]
    assert (got[1]["width"], got[1]["height"]) == (48, 40)
    assert got[6]["phash"] is None          # corrupt -> null audit row

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert 0 < ham(got[1]["phash"], got[4]["phash"]) <= 7
    assert ham(got[1]["phash"], got[5]["phash"]) > 10
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in MM.phash_dup_pairs(hashes).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0 and pairs[(2, 3)] == 0
    assert (1, 4) in pairs and (1, 5) not in pairs and (4, 5) not in pairs


def test_phash_dup_pairs_caps_hot_band_buckets(spark):
    """r8 scale fix: a band value shared by the whole corpus (solid
    cards, logo frames) must not generate a quadratic bucket. 200
    hashes share bands 0 and 2-7 exactly (all zero) while band 1 is
    unique per image; with the max_df cap the hot bands are dropped
    from candidate generation and only the genuinely-near pair (its
    band values have df=2) survives."""
    from sarfile_analyzer_ng_spark.functions import multimodal as MM

    rows = [(i, i << 8) for i in range(200)]  # band1 unique; rest hot 0
    # exact dup pair; band1 byte 0xFF > 199 so it collides with no id
    dup = 0x7EADBEEFCAFEFFAA
    rows += [(2000, dup), (2001, dup)]
    hashes = spark.createDataFrame(rows, "media_id long, phash long")

    # cap off, hamming unrestricted: the hot zero bands go quadratic
    uncapped = MM.phash_dup_pairs(hashes, max_hamming=64, max_df=None)
    assert uncapped.count() >= 199 * 200 // 2
    # cap on: the hot band is excluded, candidate work collapses to the
    # planted pair (which shares 7 other, uncapped bands)
    capped = MM.phash_dup_pairs(hashes, max_hamming=64, max_df=50)
    got = [(r["id_a"], r["id_b"]) for r in capped.collect()]
    assert got == [(2000, 2001)]
    # default threshold + cap still finds the true duplicate
    dflt = {(r["id_a"], r["id_b"]) for r in
            MM.phash_dup_pairs(hashes, max_df=50).collect()}
    assert (2000, 2001) in dflt


def test_image_phash_bit_exact_with_corrupt_row_in_batch(spark):
    """r8 (caught by the q117 oracle): a corrupt row sharing the
    pandas batch coerced the int64 hash column to float64, silently
    zeroing the low bits of every hash above 2^53. The kernel now
    emits nullable Int64 — the distributed hash must equal the
    driver-side computation BIT-exactly."""
    import numpy as np

    from sarfile_analyzer_ng_spark.functions import multimodal as MM

    g = ((np.arange(40 * 48).reshape(40, 48) * 7) % 256).astype(np.uint8)
    g[5:15, 8:20] = 240
    px = np.stack([g] * 3, axis=2)
    ppm = b"P6\n48 40\n255\n" + px.tobytes()
    _w, _h, lum = MM.decode_luminance(ppm)
    expect = MM._phash64(lum)
    assert abs(expect) > 2**53  # the magnitude where float64 truncates

    media = spark.createDataFrame(
        [(1, "image", None, ppm, {}),
         (2, "image", None, b"\x89PNG\r\n\x1a\njunk", {})],
        MEDIA_SCHEMA,
    ).coalesce(1)  # force one Arrow batch containing the corrupt row
    got = {r["media_id"]: r["phash"] for r in MM.image_phash(media).collect()}
    assert got[1] == expect and got[2] is None


def test_media_inventory_counts_and_corrupt_row(spark):
    """q156: every payload is accounted for, exactly one corrupt
    payload exists (the planted broken PNG), and all decoded images
    share the generator's 48x40 dimensions."""
    from sarfile_analyzer_ng_spark.queries import q156_media_inventory

    rows = q156_media_inventory(spark, "unused").collect()
    assert sum(r["n_payloads"] for r in rows) == 66  # 20*3 + 5 + 1
    assert sum(r["n_corrupt"] for r in rows) == 1
    for r in rows:
        assert r["n_decoded"] + r["n_corrupt"] == r["n_payloads"]
        if r["n_decoded"]:
            assert (r["min_w"], r["max_w"]) == (48, 48)
            assert (r["min_h"], r["max_h"]) == (40, 40)
