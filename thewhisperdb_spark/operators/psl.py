"""Public Suffix List (PSL) grouping: the exact eTLD+1 algorithm of
publicsuffix.org over a committed rules snapshot, as a broadcast-join
DataFrame transform.

``urls.registrable_domain`` is the zero-data baseline (last-2/last-3
labels via a 33-suffix literal set) — good enough for smoke analytics,
but at crawl scale it mis-groups every host under the ~9,000 real
public suffixes it doesn't know (``github.io`` pages collapse into one
"domain", ``blogspot.com.es`` blogs into another), skewing
``per_source_cap`` quotas and blocklist grouping. This module is the
data-backed path:

- ``load_psl``: parse a PSL-format file (the committed curated snapshot
  at ``data/public_suffix_snapshot.dat`` by default; the full upstream
  ``public_suffix_list.dat`` parses unchanged) into a rules DataFrame —
  exact rules, ``*.`` wildcard rules, ``!`` exception rules, ICANN vs
  PRIVATE sections.
- ``with_registrable_domain``: host -> eTLD+1 per the canonical
  algorithm (most-labels match wins; an exception rule beats all and
  its public suffix is the rule minus the leftmost label; unlisted
  TLDs take the implicit ``*`` default = last label).

Scale shape: rules are a ~10k-row broadcast; each DISTINCT host
explodes into its label suffixes (~5 rows) for one broadcast equi-join,
then the per-host verdict joins back on the host key — the fact table
is scanned once, nothing quadratic, no LIKE scans (same pattern as
``urls.drop_blocklisted``). IDN note (closed r11, VERDICT r10 #2):
matching runs in PUNYCODE space — rules are IDNA-encoded at parse time
(the upstream list carries unicode rule spellings) and
``with_registrable_domain(idna=True)`` (the default) normalizes
distinct hosts through ``idn.idna_ascii`` before the suffix join, so
unicode and punycode spellings of one host collapse to one (ASCII)
registrable domain. ``idna=False`` restores exact-string matching.

The reference has no URL handling; north-star extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from thewhisperdb_spark.operators.idn import host_to_ascii, idna_ascii
from thewhisperdb_spark.operators.urls import _is_ip

_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "data")
# full upstream publicsuffix.org list (public data; the copy committed
# here is the Debian `publicsuffix` package's verbatim file) — the
# production default since r11. The curated snapshot remains as a small
# deterministic TEST fixture.
DEFAULT_PSL = os.path.join(_DATA_DIR, "public_suffix_list.dat")
DEFAULT_SNAPSHOT = os.path.join(_DATA_DIR, "public_suffix_snapshot.dat")

_RULE_SCHEMA = ("rule string, labels int, is_wildcard boolean, "
                "is_exception boolean, section string")


def parse_psl_lines(lines, include_private: bool = True) -> list[tuple]:
    """PSL file format (publicsuffix.org/list/): one rule per line up to
    the first whitespace; ``//`` comments; ``*.`` wildcard labels; ``!``
    exception prefix; PRIVATE DOMAINS bracketed by the BEGIN/END
    markers. Returns ``(rule, labels, is_wildcard, is_exception,
    section)`` where ``rule`` is the base suffix (wildcard/exception
    markers stripped) and ``labels`` the MATCH length in labels
    (wildcard counts its ``*``)."""
    rules = []
    section = "icann"
    for raw in lines:
        line = raw.strip()
        if not line:
            continue
        if line.startswith("//"):
            if "BEGIN PRIVATE DOMAINS" in line:
                section = "private"
            elif "END PRIVATE DOMAINS" in line:
                section = "icann"
            continue
        if section == "private" and not include_private:
            continue
        rule = line.split()[0].lower().rstrip(".")
        is_exc = rule.startswith("!")
        if is_exc:
            rule = rule[1:]
        is_wild = rule.startswith("*.")
        if is_wild:
            rule = rule[2:]
        if not rule:
            continue
        # the upstream list spells IDN rules in unicode; matching runs
        # in punycode space (idn.py), so encode rules at parse time
        rule = host_to_ascii(rule)
        labels = rule.count(".") + 1 + (1 if is_wild else 0)
        rules.append((rule, labels, is_wild, is_exc, section))
    return rules


# Parsed-rule and rules-DataFrame caches (optimization r12, guide §4.5
# "heavyweight init once"): the PSL file is STATIC committed reference
# data (like a compiled regex set), yet load_psl used to re-parse ~9.5k
# rules — each through the IDNA codec — and re-ship them through
# createDataFrame on every call, i.e. inside the timed region of every
# PSL-keyed query run. Both caches key on the file's (path, mtime, size)
# so an updated snapshot invalidates them; the DataFrame cache
# additionally keys on the owning SparkSession (a stopped session's
# local relation must not leak into a new one). This caches PARSED
# CONFIGURATION, not query results: every query still computes from the
# parquet inputs on every action.
_PSL_RULES_CACHE: dict = {}
# Never persist or checkpoint a cached frame here: bench.py's
# _release_dead_rdd_blocks unpersists every persistent RDD between
# keys, so a checkpointed frame would fail its next read.
_PSL_DF_CACHE: dict = {}


def _psl_file_key(path: str, include_private: bool):
    st = os.stat(path)
    return (os.path.abspath(path), include_private,
            st.st_mtime_ns, st.st_size)


def load_psl(spark: SparkSession, path: str | None = None,
             include_private: bool = True) -> DataFrame:
    """Rules DataFrame from a PSL-format file (default: the committed
    FULL upstream ``public_suffix_list.dat``; the curated snapshot at
    ``DEFAULT_SNAPSHOT`` is the small test fixture).
    ``include_private=False`` drops the PRIVATE DOMAINS section
    (github.io-class hoster suffixes) for analyses that want ICANN-only
    grouping. Parsed rules and the per-session rules DataFrame are
    cached on the file's identity (see cache note above)."""
    fkey = _psl_file_key(path or DEFAULT_PSL, include_private)
    dkey = (spark, fkey)
    cached = _PSL_DF_CACHE.get(dkey)
    if cached is not None:
        return cached
    rules = _PSL_RULES_CACHE.get(fkey)
    if rules is None:
        with open(path or DEFAULT_PSL, encoding="utf-8") as f:
            rules = parse_psl_lines(f, include_private=include_private)
        _PSL_RULES_CACHE[fkey] = rules
    if not rules:
        raise ValueError("PSL file contains no rules")
    df = spark.createDataFrame(rules, _RULE_SCHEMA)
    _PSL_DF_CACHE[dkey] = df
    return df


def with_registrable_domain(df: DataFrame, psl: DataFrame,
                            host_col: str = "host",
                            out_col: str = "registrable_domain",
                            idna: bool = True) -> DataFrame:
    """Append the PSL-exact eTLD+1 column.

    Per-host verdict (canonical algorithm, publicsuffix.org):
      1. every label-suffix of the host is matched against the rules —
         exact rules on equality, wildcard rules on the suffix's PARENT
         (``a.ck`` matches ``*.ck`` because ``ck`` is the wildcard base
         and the match length includes the ``*`` label);
      2. an exception match wins outright; its public suffix is the rule
         minus the leftmost label (``!www.ck`` -> public suffix ``ck``);
      3. otherwise the match with the most labels wins; no match means
         the implicit ``*`` default (public suffix = the bare TLD);
      4. registrable domain = public suffix + one label. A host that IS
         a public suffix, an IP literal, or single-label passes through
         unchanged (group key stays total — the spec's "no registrable
         domain" would NULL-group such rows together).

    ``idna=True`` (default since r11) first maps unicode host spellings
    to punycode on the DISTINCT-host frame (``idn.idna_ascii`` — the
    Python codec never sees the fact table), so unicode and punycode
    spellings of one host collapse to ONE (ASCII) registrable domain
    and match the ASCII-encoded rule set. The emitted group key is the
    punycode form.
    """
    host = F.lower(F.col(host_col))
    keyed = df.withColumn("_psl_raw", host)
    raws = (keyed.select("_psl_raw").filter(
        F.col("_psl_raw").isNotNull() & ~_is_ip(F.col("_psl_raw")))
        .distinct())
    if idna:
        ascii_of = (F.when(F.col("_psl_raw").rlike(r"[^\x00-\x7F]"),
                           idna_ascii(F.col("_psl_raw")))
                    .otherwise(F.col("_psl_raw")))
    else:
        ascii_of = F.col("_psl_raw")
    raw2ascii = raws.select("_psl_raw", ascii_of.alias("_psl_host"))
    hosts = raw2ascii.select("_psl_host").distinct()
    parts = F.split(F.col("_psl_host"), r"\.")
    n = F.size(parts)
    sufs = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.array_join(F.slice(parts, i, n - i + 1), ".").alias("suf"),
            (n - i + 1).alias("L")))
    ex = (hosts.select("_psl_host", n.alias("_n"),
                       F.explode(sufs).alias("s"))
          .select("_psl_host", "_n", F.col("s.suf").alias("_suf"),
                  F.col("s.L").alias("_L")))
    # parent of the suffix = wildcard join key (NULL for the bare TLD)
    parent = F.when(F.col("_L") >= 2,
                    F.expr("substring(_suf, instr(_suf, '.') + 1)"))
    ex = ex.withColumn("_parent", parent)
    r = psl.select("rule", "labels", "is_wildcard", "is_exception")
    exact = (ex.join(F.broadcast(r.filter(~F.col("is_wildcard"))),
                     ex["_suf"] == F.col("rule"))
             .select("_psl_host", "_n",
                     F.when(F.col("is_exception"), F.col("_L") - 1)
                     .otherwise(F.col("_L")).alias("_ps"),
                     F.col("is_exception").alias("_exc")))
    wild = (ex.join(F.broadcast(r.filter(F.col("is_wildcard"))),
                    (ex["_parent"] == F.col("rule"))
                    & (ex["_L"] == F.col("labels")))
            .select("_psl_host", "_n", F.col("_L").alias("_ps"),
                    F.lit(False).alias("_exc")))
    # the implicit `*` default rule: every unlisted TLD is a public
    # suffix of one label — without this, a no-match host would skip
    # step 3 entirely instead of grouping at last-2-labels
    default = hosts.select("_psl_host", n.alias("_n"),
                           F.lit(1).alias("_ps"), F.lit(False).alias("_exc"))
    verdict = (exact.unionByName(wild).unionByName(default)
               .groupBy("_psl_host", "_n")
               .agg(F.coalesce(F.max(F.when(F.col("_exc"), F.col("_ps"))),
                               F.max(F.when(~F.col("_exc"), F.col("_ps"))),
                               F.lit(1)).alias("_ps_len")))
    vparts = F.split(F.col("_psl_host"), r"\.")
    reg = F.when(
        F.col("_n") > F.col("_ps_len"),
        F.array_join(F.slice(vparts, F.col("_n") - F.col("_ps_len"),
                             F.col("_ps_len") + 1), ".")
    ).otherwise(F.col("_psl_host"))
    # verdict is keyed by the ASCII host; route it back to every RAW
    # spelling, then to the fact table (both joins broadcast-sized)
    mapping = (raw2ascii.join(
        verdict.select("_psl_host", reg.alias("_psl_reg")),
        "_psl_host")
        .select("_psl_raw", "_psl_reg"))
    out = (keyed.join(mapping, "_psl_raw", "left")
           .withColumn(out_col,
                       F.coalesce(F.col("_psl_reg"), F.col("_psl_raw")))
           .drop("_psl_raw", "_psl_reg"))
    return out
