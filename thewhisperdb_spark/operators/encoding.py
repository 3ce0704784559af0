"""Charset sniffing + byte decoding for crawl payloads — the step
between a WARC response body (bytes) and ``html_extract`` (text). Web
bytes lie about their encoding constantly; the WET-generation rule this
module implements is the standard cascade:

1. a Unicode BOM wins outright (UTF-8 / UTF-16LE/BE / UTF-32BE);
   ``FF FE 00 00`` reads as UTF-16LE + U+0000, as the WHATWG BOM sniff
   does, never as UTF-32LE: the two readings collide byte for byte;
2. else the transport charset (Content-Type ``charset=`` parameter);
3. else an HTML ``<meta charset=...>`` / ``http-equiv`` declaration
   scanned in the first 1024 bytes (ASCII superset assumption, the
   WHATWG prescan);
4. else strict UTF-8;
5. and whatever was chosen, a failed decode falls back to latin-1 —
   total by construction (every byte string decodes), with the chosen
   source and fallback recorded per row so corpus-level mojibake is
   measurable, not silent.

Executor-side Arrow batches (Python ``codecs`` does the work — there is
no JVM expression for arbitrary charsets); everything downstream stays
JVM. The reference reads UTF-8 files only (``TextExtractor.cpp``);
north-star extension surface.
"""

from __future__ import annotations

import codecs
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

# No UTF-32LE entry: its BOM is the UTF-16LE BOM followed by U+0000, so
# claiming it would drop a leading NUL from UTF-16LE text
_BOMS = (
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"), (codecs.BOM_UTF16_BE, "utf-16-be"),
)

_META_RE = re.compile(
    rb"""<meta[^>]+?(?:charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)|"""
    rb"""content\s*=\s*["'][^"']*charset=([A-Za-z0-9_.:-]+))""",
    re.IGNORECASE)

_CT_RE = re.compile(r"charset\s*=\s*\"?'?([A-Za-z0-9_.:-]+)", re.IGNORECASE)

# common label aliases the web uses that Python spells differently
_ALIASES = {"unicode-1-1-utf-8": "utf-8", "utf8": "utf-8",
            "iso-8859-1": "latin-1", "us-ascii": "ascii",
            "windows-1251": "cp1251", "windows-1252": "cp1252",
            "windows-1254": "cp1254", "x-sjis": "shift_jis"}


def _normalize_label(label: str | None) -> str | None:
    if not label:
        return None
    label = label.strip().strip(";\"'").lower()
    label = _ALIASES.get(label, label)
    try:
        codecs.lookup(label)
        return label
    except LookupError:
        return None


def sniff_decode(payload: bytes,
                 content_type: str | None = None
                 ) -> tuple[str, str, str, bool]:
    """One payload -> ``(text, encoding, source, fell_back)`` where
    ``source`` in ``bom | header | meta | default`` names what declared
    the encoding and ``fell_back`` records a latin-1 rescue after the
    declared/default decode failed."""
    data = bytes(payload or b"")
    enc, source = None, "default"
    for bom, name in _BOMS:
        if data.startswith(bom):
            enc, source = name, "bom"
            if name != "utf-8-sig":     # -sig strips its own BOM; the
                data = data[len(bom):]  # UTF-16/32 LE/BE codecs don't
            break
    if enc is None:
        enc = _normalize_label(
            (_CT_RE.search(content_type).group(1)
             if content_type and _CT_RE.search(content_type) else None))
        if enc:
            source = "header"
    if enc is None:
        m = _META_RE.search(data[:1024])
        if m:
            enc = _normalize_label(
                (m.group(1) or m.group(2)).decode("ascii", "replace"))
            if enc:
                source = "meta"
    if enc is None:
        enc = "utf-8"
    try:
        return data.decode(enc), enc, source, False
    except (UnicodeDecodeError, LookupError, ValueError):
        return data.decode("latin-1"), enc, source, True


DECODED_TEXT_SCHEMA = StructType([
    StructField("text", StringType()),
    StructField("encoding", StringType()),
    StructField("encoding_source", StringType()),
    StructField("encoding_fallback", BooleanType()),
])


def decode_payload_text(df: DataFrame, payload_col: str = "payload",
                        content_type_col: str | None = "content_type"
                        ) -> DataFrame:
    """Append (text, encoding, encoding_source, encoding_fallback) to
    crawl rows. All original columns pass through; chain straight into
    ``html_extract``. Arrow-batched; decode never raises."""
    cols = df.columns
    out_schema = StructType(df.schema.fields + DECODED_TEXT_SCHEMA.fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, encs, srcs, fbs = [], [], [], []
            cts = (pdf[content_type_col] if content_type_col in pdf
                   else [None] * len(pdf))
            for payload, ct in zip(pdf[payload_col], cts):
                t, e, s, fb = sniff_decode(
                    bytes(payload) if payload is not None else b"",
                    ct if isinstance(ct, str) else None)
                texts.append(t)
                encs.append(e)
                srcs.append(s)
                fbs.append(fb)
            pdf = pdf.copy()
            pdf["text"] = texts
            pdf["encoding"] = encs
            pdf["encoding_source"] = srcs
            pdf["encoding_fallback"] = fbs
            yield pdf[cols + ["text", "encoding", "encoding_source",
                              "encoding_fallback"]]

    return df.mapInPandas(run, out_schema)


def encoding_report(decoded: DataFrame) -> DataFrame:
    """Corpus-level mojibake dashboard: rows per (encoding, source) with
    the fallback-rescue count — the drift signal that a crawl slice
    started lying about its charsets."""
    return (decoded.groupBy("encoding", "encoding_source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.col("encoding_fallback").cast("long"))
                 .cast("long").alias("n_fallback"))
            .orderBy(F.col("n_docs").desc(), "encoding",
                     "encoding_source"))
