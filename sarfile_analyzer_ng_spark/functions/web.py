"""URL / domain-level curation primitives — the FIRST stage of a
web-scale training-data pipeline (RefinedWeb §3.1 runs URL filtering
before any text op; C4 and Dolma gate on domain blocklists).

Everything here is pure whole-stage-codegen column arithmetic:
regexp extract/replace + array HOFs, no UDF, no shuffle — a
canonicalizer that runs at scan speed on 100 TB of crawl metadata.
Every rule is deliberately expressible in ANSI SQL (DuckDB) so the
full canonical form is value-hash oracle-able; regex features stay
inside the RE2 ∩ Java-regex common subset (no lookaround, no
backreference replacements).

Canonicalization contract (documented, deterministic):
  1. trim; strip the ``#fragment``.
  2. scheme lowercased.
  3. host lowercased; default port (``:80`` http, ``:443`` https)
     stripped; a leading ``www.`` stripped.
  4. path: runs of ``/`` collapsed to one; trailing slash dropped
     (except the bare root); empty path becomes ``/``.
  5. query: parameters split on ``&``; tracking params dropped
     (``utm_*``, ``gclid``, ``fbclid``, ``msclkid``, ``mc_eid``,
     ``ref``); survivors SORTED (binary order) and rejoined — empty
     query drops the ``?`` entirely.
  6. userinfo/IDN/percent-encoding are passed through untouched
     (the full WHATWG algorithm needs a UDF; this is the
     crawl-dedup canonical form, not a browser).

The registrable-domain extractor derives from a checked-in snapshot
of the Public Suffix List's ICANN section
(``data/public_suffix_list.tsv`` — publicsuffix.org is public data;
the metric-descriptions TSV pattern). The dim table is COMPILED into
the column expression at plan-build time: the rule sets are
model-sized (~1k suffix strings), so they become InSet predicates on
the host's last-k-label extracts — scan-local whole-stage-codegen
hash probes, no join, no shuffle, nothing to skew at 100 TB. The
same shape holds at full-PSL size (~9k rules): Catalyst converts the
IN to a hash-set InSet; a broadcast join would add an operator for
no benefit on a static reference table this small. Swapping in a
fresher PSL snapshot (or adding the private section — github.io and
friends) is a data-file edit, not a code change.

PSL semantics implemented (publicsuffix.org/list/ algorithm):
exception rule wins, else the longest matching rule (wildcard ``*``
matches exactly one label), else the default rule ``*`` (the TLD
itself); registrable domain = public suffix + one label; a host that
IS a public suffix maps to itself (degenerate input passthrough,
matching the pre-PSL fallback). Snapshot bounds: exact rules to 3
labels, wildcards to ``*.<2-label>`` (the deepest rules in the
ICANN section's core; the US ``k12.<state>.us`` third-level family
is omitted — documented subset).
"""

from __future__ import annotations

import csv
from pathlib import Path

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..util import session_memo

PSL_PATH = Path(__file__).resolve().parent.parent / (
    "data/public_suffix_list.tsv"
)

# tracking parameters dropped by rule 5 (one alternation, anchored)
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|ref)(=.*)?$"


def _psl_rule_sets() -> dict[str, frozenset[str]]:
    """Parse the checked-in PSL snapshot once per process into the
    six rule sets the matcher needs: exact rules by label count,
    wildcard parents by parent label count, exceptions by their own
    label count."""
    buckets: dict[str, set[str]] = {
        "exact2": set(), "exact3": set(),
        "wild1": set(), "wild2": set(),
        "exc2": set(), "exc3": set(),
    }
    with open(PSL_PATH, newline="") as fh:
        for row in csv.DictReader(fh, delimiter="\t"):
            n, kind = int(row["labels"]), row["kind"]
            key = {"exact": "exact", "wildcard": "wild",
                   "exception": "exc"}[kind] + str(n)
            if key in buckets:
                buckets[key].add(row["suffix"])
            else:  # exact1 rules are the default rule — no-ops here
                assert kind == "exact" and n == 1, row
    return {k: frozenset(v) for k, v in buckets.items()}


_PSL_SETS: dict[str, frozenset[str]] | None = None


def _psl() -> dict[str, frozenset[str]]:
    global _PSL_SETS
    if _PSL_SETS is None:
        _PSL_SETS = _psl_rule_sets()
    return _PSL_SETS

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def url_scheme(url: Column) -> Column:
    """Lowercased scheme ('' when the URL has no ``scheme://``)."""
    return F.lower(F.regexp_extract(F.trim(url), _SCHEME_RE, 1))


def _after_scheme(url: Column) -> Column:
    return F.regexp_replace(F.trim(url), _SCHEME_RE, "")


def _strip_fragment(col: Column) -> Column:
    return F.regexp_replace(col, r"#.*$", "")


def url_host(url: Column) -> Column:
    """Canonical host: lowercased, default port stripped (scheme-
    aware), leading ``www.`` stripped. '' for scheme-less input."""
    rest = _strip_fragment(_after_scheme(url))
    hp = F.lower(F.regexp_extract(rest, r"^([^/?]+)", 1))
    scheme = url_scheme(url)
    no_port = (
        F.when(scheme == "http", F.regexp_replace(hp, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hp, r":443$", ""))
        .otherwise(hp)
    )
    return F.when(scheme == "", F.lit("")).otherwise(
        F.regexp_replace(no_port, r"^www\.", "")
    )


def url_path(url: Column) -> Column:
    """Canonical path: ``//``-runs collapsed, trailing slash dropped
    (root stays ``/``), empty path → ``/``."""
    rest = _strip_fragment(_after_scheme(url))
    tail = F.regexp_replace(rest, r"^[^/?]+", "")
    raw = F.regexp_extract(tail, r"^([^?]*)", 1)
    collapsed = F.regexp_replace(raw, r"/{2,}", "/")
    return _drop_trailing_slash(collapsed)


def _drop_trailing_slash(path: Column) -> Column:
    out = F.when(
        (F.length(path) > 1) & path.rlike("/$"),
        path.substr(F.lit(1), F.length(path) - 1),
    ).otherwise(path)
    return F.when(out == "", F.lit("/")).otherwise(out)


def url_query_canonical(url: Column) -> Column:
    """Canonical query string: tracking params dropped, survivors
    sorted and '&'-joined; '' when nothing survives."""
    rest = _strip_fragment(_after_scheme(url))
    q = F.regexp_extract(rest, r"\?(.*)$", 1)
    parts = F.filter(
        F.split(q, "&"),
        lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
    )
    return F.array_join(F.array_sort(parts), "&")


def canonical_url(url: Column) -> Column:
    """The full canonical form (rules 1–6 above) — the key used for
    URL-level exact dedup and host rollups. Scheme-less input is
    passed through lowercase-trimmed (no structure to normalize)."""
    scheme = url_scheme(url)
    host = url_host(url)
    path = url_path(url)
    q = url_query_canonical(url)
    assembled = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(scheme == "", F.lower(F.trim(url))).otherwise(assembled)


def _or_host(col: Column, host: Column) -> Column:
    # host shorter than public-suffix+1: the host IS (part of) a
    # public suffix — passthrough, same as the pre-PSL fallback
    return F.when(col != "", col).otherwise(host)


def _registrable_case(host, s2, s3, s4, exc3, exc2, ex3, w2, ex2, w1):
    """The ONE precedence chain both implementations share (so the
    InSet and broadcast-join paths cannot drift): exception beats
    longest rule beats default; wildcard eats one label."""
    return (
        F.when(exc3, s3)
        .when(exc2, s2)
        .when(ex3 | w2, _or_host(s4, host))
        .when(ex2 | w1, _or_host(s3, host))
        .otherwise(_or_host(s2, host))
    )


# per-session broadcastable PSL flag dims, one frame per suffix
# length the matcher probes: (sfx, flags...) with unique keys
@session_memo()
def _psl_dims(spark) -> tuple:
    psl = _psl()
    d1 = spark.createDataFrame(
        [(s, True) for s in sorted(psl["wild1"])], "_sfx1 string, _w1 boolean")
    keys2 = sorted(psl["exact2"] | psl["exc2"] | psl["wild2"])
    d2 = spark.createDataFrame(
        [(s, s in psl["exact2"], s in psl["exc2"], s in psl["wild2"])
         for s in keys2],
        "_sfx2 string, _ex2 boolean, _xc2 boolean, _w2 boolean")
    keys3 = sorted(psl["exact3"] | psl["exc3"])
    d3 = spark.createDataFrame(
        [(s, s in psl["exact3"], s in psl["exc3"]) for s in keys3],
        "_sfx3 string, _ex3 boolean, _xc3 boolean")
    return d1, d2, d3


def attach_registrable_domain(df, host: Column, out: str = "domain"):
    """THE production-path registrable-domain derivation: three
    BroadcastHashJoins of the host's last-1/2/3-label extracts
    against the PSL flag dims (rule-count-sized — KBs on the wire),
    then the shared precedence chain. Plan-build cost is constant
    and tiny (no literal sets in the tree — the 980-literal InSet of
    :func:`registrable_domain` cost ~1 s of driver time PER QUERY in
    expression construction + analysis, r12 measurement); per-row
    cost is three hash probes inside whole-stage codegen; no
    shuffle, no state — 100 TB-safe. Returns
    ``df`` + the ``out`` column; row count and order preserved
    (left joins on unique dim keys)."""
    spark = df.sparkSession
    d1, d2, d3 = _psl_dims(spark)
    h = "__psl_host"
    res = df.withColumn(h, host)
    hc = F.col(h)
    res = (
        res.withColumn("__s1", _last_labels(hc, 1))
        .withColumn("__s2", _last_labels(hc, 2))
        .withColumn("__s3", _last_labels(hc, 3))
        .withColumn("__s4", _last_labels(hc, 4))
        .join(F.broadcast(d1), F.col("__s1") == F.col("_sfx1"), "left")
        .join(F.broadcast(d2), F.col("__s2") == F.col("_sfx2"), "left")
        .join(F.broadcast(d3), F.col("__s3") == F.col("_sfx3"), "left")
    )

    def flag(name: str) -> Column:
        return F.coalesce(F.col(name), F.lit(False))

    dom = _registrable_case(
        hc, F.col("__s2"), F.col("__s3"), F.col("__s4"),
        flag("_xc3"), flag("_xc2"), flag("_ex3"), flag("_w2"),
        flag("_ex2"), flag("_w1"),
    )
    return res.withColumn(out, dom).drop(
        h, "__s1", "__s2", "__s3", "__s4",
        "_sfx1", "_w1", "_sfx2", "_ex2", "_xc2", "_w2",
        "_sfx3", "_ex3", "_xc3",
    )


def _last_labels(host: Column, k: int) -> Column:
    """The last ``k`` dot-separated labels of ``host`` ('' when the
    host has fewer than ``k`` labels)."""
    pat = "(" + r"\.".join([r"[^.]+"] * k) + ")$"
    return F.regexp_extract(host, pat, 1)


def registrable_domain(host: Column) -> Column:
    """PSL registrable domain as a pure COLUMN expression (module
    docstring: exception > longest rule > default; wildcard eats one
    label): InSet probes on the last-1..4-label extracts — no join,
    usable anywhere a Column fits. CAVEAT: the ~1k-literal InSet
    costs ~1 s of driver time per query in expression construction +
    analysis (r12 measurement), so fact-table plans should use
    :func:`attach_registrable_domain` (broadcast-join; same result,
    pinned equal in tests/test_wave19.py) — this form is for
    model-sized frames, tests, and interactive use. Reference
    parity: sarfile_analyzer_ng has no URL layer; the contract is
    the PSL algorithm itself (publicsuffix.org/list/)."""
    psl = _psl()
    s1, s2 = _last_labels(host, 1), _last_labels(host, 2)
    s3, s4 = _last_labels(host, 3), _last_labels(host, 4)

    def in_set(col: Column, name: str) -> Column:
        vals = sorted(psl[name])
        if not vals:
            return F.lit(False)
        return col.isin(vals)

    return _registrable_case(
        host, s2, s3, s4,
        in_set(s3, "exc3"), in_set(s2, "exc2"),
        in_set(s3, "exact3"), in_set(s2, "wild2"),
        in_set(s2, "exact2"), in_set(s1, "wild1"),
    )
