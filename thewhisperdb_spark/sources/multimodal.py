"""Binary / multimodal column pipelines (SURVEY §2.1 S6/S8 + north-star
multimodal columns).

Media are opaque ``binary`` columns plus typed metadata, moved through
Arrow-batched ``mapInPandas`` stages. The reference's only binary handling is
attachment bytes on disk + pdftotext extraction
(``src/server/FileStorage.cpp``, ``src/embedding/TextExtractor.cpp:26-81``);
here the same shape generalizes to image/audio/video feature pipelines.

Decoding: the default hooks are stdlib-only decoders for codec-free (or
zlib-only) formats — :func:`decode_ppm_bmp` (netpbm PPM/PGM, uncompressed
BMP, non-interlaced 8-bit PNG) for images and :func:`decode_wav`
(RIFF/WAVE integer PCM) for audio — so the binaryFile -> decode ->
features/resize pipelines run end-to-end on real bytes. JPEG/MP3, PNG's
interlaced/16-bit corners, and video raise
NotImplementedError unless a codec hook is injected; the DETERMINISTIC_FAKE
hooks derive reproducible pseudo-pixels from byte content so the Spark-side
plumbing (schemas, batching, partitioning, UDF signatures) stays fully
tested without codecs.
"""

from __future__ import annotations

import hashlib
import os
import re
import subprocess
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# media row: bytes + typed metadata (mime sniffed from magic bytes / extension)
MEDIA_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("modality", StringType()),   # text|image|audio|video|unknown
    StructField("mime", StringType()),
    StructField("n_bytes", LongType()),
    StructField("content", BinaryType()),
])

_EXT_MODALITY = {
    ".txt": ("text", "text/plain"), ".md": ("text", "text/markdown"),
    ".text": ("text", "text/plain"), ".pdf": ("text", "application/pdf"),
    ".docx": ("text", "application/vnd.openxmlformats-officedocument."
                      "wordprocessingml.document"),
    ".epub": ("text", "application/epub+zip"),
    ".png": ("image", "image/png"), ".jpg": ("image", "image/jpeg"),
    ".jpeg": ("image", "image/jpeg"),
    ".ppm": ("image", "image/x-portable-pixmap"),
    ".pgm": ("image", "image/x-portable-graymap"),
    ".bmp": ("image", "image/bmp"), ".gif": ("image", "image/gif"),
    ".tif": ("image", "image/tiff"), ".tiff": ("image", "image/tiff"),
    ".wav": ("audio", "audio/wav"),
    ".mp3": ("audio", "audio/mpeg"), ".mp4": ("video", "video/mp4"),
    ".avi": ("video", "video/x-msvideo"),
}


def read_binary_files(spark: SparkSession, path: str,
                      glob: str | None = None) -> DataFrame:
    """S6 at scale: the binaryFile source (path, modificationTime, length,
    content). Partition-parallel reads; pushdown on pathGlobFilter."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def with_media_metadata(binary_df: DataFrame) -> DataFrame:
    """binaryFile rows -> MEDIA_SCHEMA shape: modality/mime from the lowercased
    extension (``src/embedding/TextExtractor.cpp:12-17``), all JVM-side."""
    ext = F.lower(F.regexp_extract(F.col("path"), r"(\.[^.\/]+)$", 1))
    modality = F.lit("unknown")
    mime = F.lit("application/octet-stream")
    for e, (m, mi) in reversed(_EXT_MODALITY.items()):
        modality = F.when(ext == e, F.lit(m)).otherwise(modality)
        mime = F.when(ext == e, F.lit(mi)).otherwise(mime)
    return binary_df.select(
        "path", modality.alias("modality"), mime.alias("mime"),
        F.col("length").cast("long").alias("n_bytes"), "content")


# ---- text extraction (S8) --------------------------------------------------

_TEXT_CAP = 8000  # chars (src/embedding/TextExtractor.cpp:10)


def _pdf_lit_string(cs: bytes, i: int) -> tuple[str, int]:
    """Decode a PDF literal string starting at the ``(`` at ``cs[i]``
    (ISO 32000-1 §7.3.4.2): balanced parens, backslash escapes incl.
    up-to-3-digit octal and line continuations. Returns (text, next_i)."""
    out = bytearray()
    depth, i, n = 1, i + 1, len(cs)
    esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
           0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
    while i < n and depth:
        c = cs[i]
        if c == 0x5C and i + 1 < n:              # backslash
            nxt = cs[i + 1]
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:            # octal, 1-3 digits
                j = i + 1
                val = 0
                while j < n and j <= i + 3 and 0x30 <= cs[j] <= 0x37:
                    val = val * 8 + (cs[j] - 0x30)
                    j += 1
                out.append(val & 0xFF)
                i = j
            elif nxt in (10, 13):                # line continuation
                i += 2
                if nxt == 13 and i < n and cs[i] == 10:
                    i += 1
            else:                                # \x -> x
                out.append(nxt)
                i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if not depth:
                i += 1
                break
        if depth:
            out.append(c)
        i += 1
    if depth:
        raise ValueError("unterminated PDF literal string")
    return out.decode("latin-1"), i


def _pdf_hex_string(cs: bytes, i: int) -> tuple[str, int]:
    """Decode a PDF hex string ``<...>`` at ``cs[i]`` (§7.3.4.3): odd
    final digit implies a trailing 0."""
    end = cs.find(b">", i)
    if end < 0:
        raise ValueError("unterminated PDF hex string")
    digits = bytes(c for c in cs[i + 1:end]
                   if c not in b" \t\r\n\f\x00")
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii")).decode("latin-1"), \
            end + 1
    except ValueError as e:
        raise ValueError("invalid PDF hex string") from e


def _pdf_stream_text(cs: bytes) -> str:
    """Text-showing operators of one decoded content stream: Tj / TJ /
    ' / " append their strings, Td / TD / T* / ' / " and ET break lines.
    Single-byte standard encodings only (latin-1 view) — CID/Type0
    2-byte text is the documented gate."""
    out: list[str] = []
    pending: list[str] = []
    i, n = 0, len(cs)
    while i < n:
        c = cs[i]
        if c == 0x28:                            # ( literal string
            s, i = _pdf_lit_string(cs, i)
            pending.append(s)
        elif c == 0x3C:
            if i + 1 < n and cs[i + 1] == 0x3C:  # << dict (BDC props)
                i += 2
            else:
                s, i = _pdf_hex_string(cs, i)
                pending.append(s)
        elif c == 0x3E:                          # stray > (dict close)
            i += 1
        elif c in b"[]":
            i += 1
        elif c == 0x2F:                          # /Name
            i += 1
            while i < n and cs[i] not in b" \t\r\n\f\x00()<>[]/%":
                i += 1
        elif c == 0x25:                          # % comment
            while i < n and cs[i] not in (10, 13):
                i += 1
        elif c in b" \t\r\n\f\x00":
            i += 1
        else:
            j = i
            while j < n and cs[j] not in b" \t\r\n\f\x00()<>[]/%":
                j += 1
            tok = cs[i:j]
            if tok == b"Tj":
                out.extend(pending)
                pending = []
            elif tok == b"TJ":
                out.append("".join(pending))     # kerning numbers ignored
                pending = []
            elif tok in (b"'", b'"'):            # next-line show
                out.append("\n")
                out.extend(pending)
                pending = []
            elif tok in (b"Td", b"TD", b"T*"):
                if out and not out[-1].endswith("\n"):
                    out.append("\n")
                pending = []
            elif tok == b"ET":
                if out and not out[-1].endswith("\n"):
                    out.append("\n")
                pending = []
            # every other operator (Tf/Tm/cm/graphics...) is a no-op here
            i = max(j, i + 1)
    return "".join(out)


def _pdf_text_builtin(content: bytes) -> str:
    """Stdlib baseline PDF text extraction — the fallback when the
    reference's pdftotext binary (``TextExtractor.cpp:41-46``) is not
    installed: walk ``<< ... >> stream ... endstream`` objects, inflate
    FlateDecode (zlib) or take unfiltered bytes, and run the
    text-operator parser over streams that contain text blocks.
    Encrypted PDFs and non-Flate filters (DCT/LZW/...) are skipped per
    stream; a PDF whose text lives only there extracts as "" (status
    'empty' upstream, auditable). Raises ValueError when the bytes are
    not a PDF at all."""
    import zlib

    if not content.startswith(b"%PDF-"):
        raise ValueError("not a PDF stream (missing %PDF- header)")
    if b"endobj" not in content and b"trailer" not in content:
        raise ValueError("no PDF objects found (truncated or fake PDF)")
    if b"/Encrypt" in content:
        raise NotImplementedError(
            "encrypted PDF: the built-in extractor has no RC4/AES; "
            "install pdftotext or inject a decryptor")
    texts: list[str] = []
    i = 0
    while True:
        s = content.find(b"stream", i)
        if s < 0:
            break
        # the stream keyword must terminate a dictionary: walk back over
        # whitespace to '>>', then match its '<<' by reverse nesting
        k = s - 1
        while k >= 0 and content[k] in b" \t\r\n":
            k -= 1
        if k < 1 or content[k - 1:k + 1] != b">>":
            i = s + 6
            continue
        depth, j = 1, k - 1
        while j > 0 and depth:
            if content[j - 1:j + 1] == b"<<":
                depth -= 1
                j -= 2
            elif content[j - 1:j + 1] == b">>":
                depth += 1
                j -= 2
            else:
                j -= 1
        sdict = content[j:k + 1]
        data_start = content.find(b"\n", s)
        if data_start < 0:
            break
        data_start += 1
        # slice by the dict's direct /Length when present: binary stream
        # payloads may legally contain b'endstream', which would truncate a
        # keyword scan early and desync later object parsing (ADVICE r9).
        # Indirect lengths (/Length 12 0 R) fall back to the scan.
        end = -1
        m = re.search(rb"/Length\s+(\d+)", sdict)
        if m and not re.match(rb"\s+\d+\s+R\b", sdict[m.end():]):
            cand = data_start + int(m.group(1))
            if content[cand:cand + 32].lstrip(b"\r\n ").startswith(b"endstream"):
                end = cand
        if end < 0:
            end = content.find(b"endstream", data_start)
        if end < 0:
            raise ValueError("PDF stream without endstream")
        raw = content[data_start:end].rstrip(b"\r\n")
        i = content.find(b"endstream", end) + 9
        if b"/FlateDecode" in sdict:
            try:
                raw = zlib.decompress(raw)
            except zlib.error:
                continue                         # corrupt/partial: skip
        elif b"/Filter" in sdict:
            continue                             # non-Flate (images etc.)
        if b"BT" not in raw:
            continue                             # not a text content stream
        texts.append(_pdf_stream_text(raw))
    return "".join(texts)


def _pdf_to_text(content: bytes) -> tuple[str, str]:
    """pdftotext subprocess pipe, mirroring ``TextExtractor.cpp:41-46``.
    Returns ``(text, status)`` — the reference falls back to "" on every
    failure, which downstream cannot distinguish from a legitimately empty
    document (and a silently-empty extraction poisons dedup/embedding
    inputs, VERDICT r5); the status column keeps the graceful "" while
    making the cause auditable: ``ok | empty | tool_missing | timeout |
    error``."""
    try:
        proc = subprocess.run(["pdftotext", "-", "-"], input=content,
                              capture_output=True, timeout=30)
    except FileNotFoundError:
        # r9: built-in baseline extractor (FlateDecode + text operators)
        # so the reference's core extraction path works with no tool
        # installed; 'tool_missing' now only means BOTH are unavailable
        # for these bytes (encrypted / non-Flate-only PDFs)
        try:
            text = _pdf_text_builtin(content)
        except NotImplementedError:
            return "", "tool_missing"
        except Exception:
            return "", "error"
        return text, ("ok" if text else "empty")
    except subprocess.TimeoutExpired:
        return "", "timeout"
    if proc.returncode != 0:
        return "", "error"
    text = proc.stdout.decode("utf-8", errors="replace")
    return text, ("ok" if text else "empty")


_DOCX_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def _docx_to_text(content: bytes) -> tuple[str, str]:
    """OOXML word-processing text (r9): unzip, parse
    ``word/document.xml``, join each ``w:p`` paragraph's ``w:t`` runs in
    document order (tabs and soft breaks become their characters).
    Stdlib zipfile + ElementTree — the other office container staple
    next to PDF. Corrupt zip/XML -> ``error``."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    try:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            root = ET.fromstring(zf.read("word/document.xml"))
    except Exception:  # noqa: BLE001 — BadZipFile/KeyError/ParseError/...
        return "", "error"
    paras = []
    for p in root.iter(f"{_DOCX_W}p"):
        runs = []
        for el in p.iter():
            if el.tag == f"{_DOCX_W}t":
                runs.append(el.text or "")
            elif el.tag == f"{_DOCX_W}tab":
                runs.append("\t")
            elif el.tag == f"{_DOCX_W}br":
                runs.append("\n")
        paras.append("".join(runs))
    text = "\n".join(pa for pa in paras if pa)
    return text, ("ok" if text else "empty")


def _epub_to_text(content: bytes) -> tuple[str, str]:
    """EPUB text (r9): resolve the OPF via ``META-INF/container.xml``,
    walk the SPINE (the author-declared reading order — alphabetical
    entry order is wrong for real books), and strip each chapter's
    XHTML through the repo's HTML extractor. Falls back to name-sorted
    ``.x?html`` entries when the OPF is missing/corrupt (better a
    mis-ordered extraction than none, and the status stays ``ok`` —
    order policy, not data loss). Corrupt zip -> ``error``."""
    import io
    import posixpath
    import xml.etree.ElementTree as ET
    import zipfile

    from thewhisperdb_spark.operators.htmltext import html_to_text

    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        names = zf.namelist()
    except Exception:  # noqa: BLE001
        return "", "error"
    chapters: list[str] = []
    try:
        container = ET.fromstring(zf.read("META-INF/container.xml"))
        cns = "{urn:oasis:names:tc:opendocument:xmlns:container}"
        opf_path = container.find(f".//{cns}rootfile").get("full-path")
        opf = ET.fromstring(zf.read(opf_path))
        ons = "{http://www.idpf.org/2007/opf}"
        hrefs = {it.get("id"): it.get("href")
                 for it in opf.iter(f"{ons}item")}
        base = posixpath.dirname(opf_path)
        for ref in opf.iter(f"{ons}itemref"):
            href = hrefs.get(ref.get("idref"))
            if href:
                chapters.append(posixpath.normpath(
                    posixpath.join(base, href)))
    except Exception:  # noqa: BLE001 — no/odd OPF: fall back to names
        chapters = sorted(n for n in names
                          if n.lower().endswith((".xhtml", ".html",
                                                 ".htm")))
    parts = []
    for name in chapters:
        try:
            html = zf.read(name).decode("utf-8", errors="replace")
        except KeyError:
            continue                             # dangling manifest href
        parts.append(html_to_text(html)["text"])
    text = "\n".join(pa for pa in parts if pa)
    return text, ("ok" if text else "empty")


def extract_text(media: DataFrame, cap: int = _TEXT_CAP) -> DataFrame:
    """S8 dispatch-on-extension extraction (``TextExtractor.cpp:26-81``):
    text/* decoded as UTF-8, application/pdf piped through pdftotext, others
    empty; result truncated to ``cap`` chars. Arrow-batched mapInPandas —
    one Python roundtrip per batch, schema declared up front.

    Returns (path, extracted, status). ``status`` ∈ ``ok | empty |
    tool_missing | timeout | unsupported | error`` so an extraction that
    came back "" is attributable (absent tool vs timeout vs genuinely
    empty vs unsupported mime) instead of poisoning downstream
    dedup/embedding stages as a fake empty document; callers that only
    want the reference's semantics select it away."""
    out_schema = StructType([
        StructField("path", StringType()),
        StructField("extracted", StringType()),
        StructField("status", StringType()),
    ])

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts, statuses = [], []
            for mime, content in zip(pdf["mime"], pdf["content"]):
                if content is None:
                    text, status = "", "empty"
                elif mime.startswith("text/"):
                    text = bytes(content).decode("utf-8", errors="replace")
                    status = "ok" if text else "empty"
                elif mime == "application/pdf":
                    text, status = _pdf_to_text(bytes(content))
                elif mime == ("application/vnd.openxmlformats-"
                              "officedocument.wordprocessingml.document"):
                    text, status = _docx_to_text(bytes(content))
                elif mime == "application/epub+zip":
                    text, status = _epub_to_text(bytes(content))
                else:
                    text, status = "", "unsupported"
                texts.append(text[:cap])
                statuses.append(status)
            yield pd.DataFrame({"path": pdf["path"], "extracted": texts,
                                "status": statuses})

    return media.select("path", "mime", "content").mapInPandas(extract, out_schema)


# ---- image pipeline (stubbed decode, real plumbing) ------------------------

ImageDecoder = Callable[[bytes], "list[list[float]]"]


_PPM_WS = b" \t\r\n\x0b\x0c"


def _ppm_token(buf: bytes, i: int) -> tuple[bytes, int]:
    """Next whitespace-delimited token at/after ``i``, skipping '#' comments
    (the netpbm header grammar). Returns (token, end_index)."""
    n = len(buf)
    while i < n:
        if buf[i] in _PPM_WS:
            i += 1
        elif buf[i:i + 1] == b"#":
            while i < n and buf[i] not in b"\r\n":
                i += 1
        else:
            break
    j = i
    while j < n and buf[j] not in _PPM_WS:
        j += 1
    return buf[i:j], j


def _decode_netpbm(content: bytes) -> list[list[float]]:
    magic, i = _ppm_token(content, 0)
    w, i = _ppm_token(content, i)
    h, i = _ppm_token(content, i)
    mx, i = _ppm_token(content, i)
    w, h, maxval = int(w), int(h), int(mx)
    if w <= 0 or h <= 0 or maxval <= 0:
        raise ValueError(f"bad netpbm dimensions {w}x{h} maxval={maxval}")
    ch = 3 if magic in (b"P3", b"P6") else 1
    if magic in (b"P5", b"P6"):
        i += 1  # exactly one whitespace byte separates header from raster
        bpp = 1 if maxval < 256 else 2
        need = w * h * ch * bpp
        data = content[i:i + need]
        if len(data) < need:
            raise ValueError(f"truncated netpbm raster: {len(data)}/{need}")
        if bpp == 1:
            px: list[int] = list(data)
        else:
            px = [int.from_bytes(data[k:k + 2], "big")
                  for k in range(0, need, 2)]
    else:  # P2 / P3 ASCII
        px = []
        while len(px) < w * h * ch:
            t, i = _ppm_token(content, i)
            if not t:
                raise ValueError("truncated ASCII netpbm raster")
            px.append(int(t))
    if ch == 3:
        gray = [(px[k] + px[k + 1] + px[k + 2]) / (3.0 * maxval)
                for k in range(0, w * h * 3, 3)]
    else:
        gray = [p / maxval for p in px]
    return [gray[r * w:(r + 1) * w] for r in range(h)]


def _packbits(data: bytes, expect: int) -> bytes:
    """PackBits (TIFF §9 / Apple RLE) decompress to exactly ``expect``
    bytes: n in 0..127 copies n+1 literals, n in -127..-1 repeats the
    next byte 1-n times, -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expect:
        c = data[i] - 256 if data[i] >= 128 else data[i]
        i += 1
        if c == -128:
            continue
        if c >= 0:
            if i + c + 1 > n:
                raise ValueError("PackBits literal run past end of strip")
            out += data[i:i + c + 1]
            i += c + 1
        else:
            if i >= n:
                raise ValueError("PackBits repeat run past end of strip")
            out += bytes([data[i]]) * (1 - c)
            i += 1
    if len(out) < expect:
        raise ValueError(
            f"PackBits strip ends early ({len(out)} of {expect} bytes)")
    return bytes(out[:expect])


def _decode_tiff(content: bytes) -> list[list[float]]:
    """Stdlib baseline-TIFF decoder (TIFF 6.0): II/MM byte orders, IFD0
    tag walk, STRIP layout, uncompressed (1) and PackBits (32773)
    compression, 8-bit gray (incl. WhiteIsZero), RGB/RGBA (alpha
    ignored), and palette color (16-bit ColorMap) — the scanned-document
    corpus staple. Tiles, 1/4/16-bit depths, planar layout, and
    LZW/CCITT/JPEG-in-TIFF stay behind the injected-codec gate. Returns
    the row-major [0, 1] grayscale raster (RGB averaged). Same 4 MP
    CPU-sized plane cap as the other built-in decoders."""
    import struct

    if len(content) < 8:
        raise ValueError("truncated TIFF header")
    if content[:2] == b"II":
        bo = "<"
    elif content[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("TIFF header has unknown byte order")
    if struct.unpack_from(bo + "H", content, 2)[0] != 42:
        raise ValueError("TIFF magic is not 42")
    ifd = struct.unpack_from(bo + "I", content, 4)[0]
    if ifd + 2 > len(content):
        raise ValueError("TIFF IFD0 offset out of bounds")
    n_entries = struct.unpack_from(bo + "H", content, ifd)[0]
    type_size = {1: 1, 3: 2, 4: 4}

    def values(e: int) -> list[int]:
        tag, typ, cnt = struct.unpack_from(bo + "HHI", content, e)
        if typ not in type_size:
            raise NotImplementedError(
                f"TIFF tag {tag} uses unsupported value type {typ}")
        size = type_size[typ] * cnt
        off = e + 8 if size <= 4 else struct.unpack_from(
            bo + "I", content, e + 8)[0]
        if off + size > len(content):
            raise ValueError(f"TIFF tag {tag} value out of bounds")
        fmt = {1: "B", 3: "H", 4: "I"}[typ]
        return list(struct.unpack_from(bo + str(cnt) + fmt, content, off))

    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        e = ifd + 2 + 12 * k
        if e + 12 > len(content):
            raise ValueError("TIFF IFD0 entry out of bounds")
        tag = struct.unpack_from(bo + "H", content, e)[0]
        if tag in (256, 257, 258, 259, 262, 273, 277, 278, 279, 284, 320,
                   322, 323):
            tags[tag] = values(e)

    if 322 in tags or 323 in tags:
        raise NotImplementedError(
            "tiled TIFF is not built in (strip layout only); inject a "
            "codec for tiled images")
    for need in (256, 257, 273, 279):
        if need not in tags:
            raise ValueError(f"TIFF missing required tag {need}")
    w, h = tags[256][0], tags[257][0]
    if w == 0 or h == 0:
        raise ValueError("TIFF has zero dimension")
    if w * h > 4_000_000:
        raise NotImplementedError(
            f"{w}x{h} TIFF exceeds the built-in decoder's 4 MP plane cap "
            "(pure-Python strip assembly is CPU-bound): inject a native "
            "codec for large images")
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    planar = tags.get(284, [1])[0]
    if any(b != 8 for b in bits):
        raise NotImplementedError(
            f"only 8-bit TIFF samples are built in (BitsPerSample={bits}); "
            "inject a codec for other depths")
    if planar != 1:
        raise NotImplementedError(
            "planar TIFF (PlanarConfiguration=2) is not built in")
    if compression not in (1, 32773):
        raise NotImplementedError(
            f"TIFF compression {compression} is not built in (none and "
            "PackBits are); inject a codec for LZW/CCITT/JPEG strips")
    if photometric not in (0, 1, 2, 3):
        raise NotImplementedError(
            f"TIFF photometric {photometric} is not built in")
    if photometric == 3 and spp != 1:
        raise ValueError("palette TIFF must have one sample per pixel")
    if photometric == 2 and spp < 3:
        # corrupt header claiming RGB with <3 samples would IndexError in
        # strip row indexing — keep it in the ValueError taxonomy (ADVICE r9)
        raise ValueError("RGB TIFF needs SamplesPerPixel >= 3")
    cmap = tags.get(320)
    if photometric == 3 and (cmap is None or len(cmap) < 3 * 256):
        # palette size is 3 * 2^bits = 768 for 8-bit
        raise ValueError("palette TIFF missing or short ColorMap")
    rows_per_strip = tags.get(278, [h])[0] or h
    offsets, counts = tags[273], tags[279]
    if len(offsets) != len(counts):
        raise ValueError("TIFF StripOffsets/StripByteCounts length mismatch")
    row_bytes = w * spp
    raster: list[list[float]] = []
    for s, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(content):
            raise ValueError("TIFF strip out of bounds")
        n_rows = min(rows_per_strip, h - s * rows_per_strip)
        if n_rows <= 0:
            raise ValueError("TIFF has more strips than image rows")
        raw = content[off:off + cnt]
        if compression == 32773:
            raw = _packbits(raw, n_rows * row_bytes)
        if len(raw) < n_rows * row_bytes:
            raise ValueError("TIFF strip shorter than its declared rows")
        for r in range(n_rows):
            row = raw[r * row_bytes:(r + 1) * row_bytes]
            if photometric == 2:                 # RGB/RGBA: average RGB
                raster.append([(row[c * spp] + row[c * spp + 1]
                                + row[c * spp + 2]) / (3 * 255.0)
                               for c in range(w)])
            elif photometric == 3:               # palette: 16-bit ColorMap
                raster.append([(cmap[row[c]] + cmap[256 + row[c]]
                                + cmap[512 + row[c]]) / (3 * 65535.0)
                               for c in range(w)])
            elif photometric == 0:               # WhiteIsZero
                raster.append([1.0 - row[c * spp] / 255.0 for c in range(w)])
            else:                                # BlackIsZero gray
                raster.append([row[c * spp] / 255.0 for c in range(w)])
    if len(raster) != h:
        raise ValueError(
            f"TIFF strips cover {len(raster)} rows, header declares {h}")
    return raster


def _decode_bmp(content: bytes) -> list[list[float]]:
    import struct

    if len(content) < 54:
        raise ValueError("truncated BMP header")
    off = struct.unpack_from("<I", content, 10)[0]
    w, h = struct.unpack_from("<ii", content, 18)
    bpp = struct.unpack_from("<H", content, 28)[0]
    comp = struct.unpack_from("<I", content, 30)[0]
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"only uncompressed 24/32-bit BI_RGB BMP is built in "
            f"(got bpp={bpp} compression={comp}); inject a codec for others")
    top_down, h = h < 0, abs(h)
    nb = bpp // 8
    stride = (w * nb + 3) // 4 * 4
    if len(content) < off + stride * h:
        raise ValueError("truncated BMP raster")
    rows = []
    for r in range(h):
        base = off + (r if top_down else h - 1 - r) * stride
        rows.append([(content[base + c * nb]          # B
                      + content[base + c * nb + 1]    # G
                      + content[base + c * nb + 2])   # R
                     / (3.0 * 255.0) for c in range(w)])
    return rows


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png(content: bytes) -> list[list[float]]:
    """Stdlib PNG decoder — zlib inflate + the five scanline filters
    (None/Sub/Up/Average/Paeth, RFC 2083 §6) — for NON-INTERLACED
    8-BIT-DEPTH images in every color type (gray, RGB, palette,
    gray+alpha, RGBA): the web's dominant lossless format no longer
    needs an injected codec. 16/1/2/4-bit depths and Adam7 interlacing
    stay behind the per-format gate (quarantine mode covers them in
    bulk jobs). Chunk CRCs are not verified — truncation still raises
    via the length and zlib checks. Returns the same row-major [0, 1]
    grayscale raster as the other built-in decoders (RGB averaged,
    alpha ignored)."""
    import struct
    import zlib

    if len(content) < 45 or content[:8] != _PNG_SIG:
        raise ValueError("truncated or invalid PNG signature")
    i, ihdr, plte, idat = 8, None, None, []
    while i + 8 <= len(content):
        ln, typ = struct.unpack_from(">I4s", content, i)
        data = content[i + 8:i + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        i += 12 + ln  # length + type + data + crc
    if ihdr is None or len(ihdr) != 13 or not idat:
        raise ValueError("PNG missing or malformed IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr)
    if w <= 0 or h <= 0:
        raise ValueError(f"bad PNG dimensions {w}x{h}")
    if comp != 0 or filt != 0:
        raise ValueError(f"bad PNG compression/filter method {comp}/{filt}")
    if interlace != 0:
        raise NotImplementedError(
            "Adam7-interlaced PNG: inject a codec (built-in handles "
            "non-interlaced only)")
    if depth != 8:
        raise NotImplementedError(
            f"{depth}-bit PNG: inject a codec (built-in handles 8-bit "
            "depth only)")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"bad PNG color type {ctype}")
    if ctype == 3 and (plte is None or len(plte) % 3):
        raise ValueError("palette PNG missing or malformed PLTE")
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(raw) != (stride + 1) * h:
        raise ValueError(
            f"PNG raster length {len(raw)} != expected {(stride + 1) * h}")
    prev = bytearray(stride)
    rows: list[list[float]] = []
    for r in range(h):
        base = r * (stride + 1)
        ft = raw[base]
        line = bytearray(raw[base + 1:base + 1 + stride])
        if ft == 1:                                   # Sub
            for k in range(nch, stride):
                line[k] = (line[k] + line[k - nch]) & 0xFF
        elif ft == 2:                                 # Up
            for k in range(stride):
                line[k] = (line[k] + prev[k]) & 0xFF
        elif ft == 3:                                 # Average
            for k in range(stride):
                a = line[k - nch] if k >= nch else 0
                line[k] = (line[k] + ((a + prev[k]) >> 1)) & 0xFF
        elif ft == 4:                                 # Paeth
            for k in range(stride):
                a = line[k - nch] if k >= nch else 0
                b, c = prev[k], (prev[k - nch] if k >= nch else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                          else c)
                line[k] = (line[k] + pred) & 0xFF
        elif ft != 0:                                 # 0 = None
            raise ValueError(f"bad PNG filter type {ft} on row {r}")
        prev = line
        if ctype == 0:
            rows.append([v / 255.0 for v in line])
        elif ctype == 2:
            rows.append([(line[k] + line[k + 1] + line[k + 2]) / 765.0
                         for k in range(0, stride, 3)])
        elif ctype == 3:
            if max(line) * 3 + 2 >= len(plte):
                raise ValueError("PNG palette index out of range")
            rows.append([(plte[3 * v] + plte[3 * v + 1] + plte[3 * v + 2])
                         / 765.0 for v in line])
        elif ctype == 4:
            rows.append([line[k] / 255.0 for k in range(0, stride, 2)])
        else:                                         # 6 = RGBA
            rows.append([(line[k] + line[k + 1] + line[k + 2]) / 765.0
                         for k in range(0, stride, 4)])
    return rows


_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]


def _jpeg_huff_table(bits: bytes, symbols: bytes) -> dict:
    """(length, code) -> symbol map from a DHT segment's BITS/HUFFVAL
    lists (ITU-T T.81 Annex C canonical code assignment)."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over a byte-unstuffed entropy segment."""

    def __init__(self, data: bytes):
        self.data, self.pos, self.bit = data, 0, 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit, self.pos = 0, self.pos + 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, n: int) -> int:
    return v - (1 << n) + 1 if n and v < (1 << (n - 1)) else v


def _decode_jpeg(content: bytes) -> list[list[float]]:
    """Stdlib+numpy BASELINE JPEG decoder (ITU-T T.81 / JFIF: SOF0 and the
    huffman-coded extended-sequential SOF1) — huffman entropy decode,
    dequantize, zigzag, 8x8 IDCT, restart-interval handling, any
    per-component sampling factors (4:4:4 / 4:2:2 / 4:2:0). Closes the
    dominant-web-format codec gate (VERDICT r7 #5): baseline covers the
    overwhelming majority of crawled JPEGs; progressive (SOF2) dispatches
    to ``_decode_jpeg_progressive`` (r9). Lossless, arithmetic-coded,
    hierarchical, and 12-bit variants stay behind the injection gate —
    in a 100 TB ingest they route to quarantine (missing-codec status),
    not to a crash.

    Returns the decoders' common contract: row-major [0, 1] grayscale.
    For color JPEGs the raster is the Y (BT.601 luma) plane — chroma
    blocks are entropy-decoded (the interleaved stream requires it) but
    not reconstructed. Grayscale-vs-RGB-average differs from the other
    decoders' (R+G+B)/3 rule by design: JPEG stores luma natively."""
    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, "np.ndarray"] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps: list[tuple[int, int, int, int]] = []   # (id, h, v, tq)
    w = h = 0
    dri = 0
    scan: list[tuple[int, int, int]] = []         # (comp_idx, dc_id, ac_id)
    i, data_at = 2, -1
    while i + 4 <= len(content):
        if content[i] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {i}")
        m = content[i + 1]
        if m == 0xFF:                              # T.81 B.1.1.2 fill byte
            i += 1
            continue
        if m == 0xD9:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        ln = int.from_bytes(content[i + 2:i + 4], "big")
        if ln < 2 or i + 2 + ln > len(content):
            raise ValueError("truncated JPEG header segment")
        seg = content[i + 4:i + 2 + ln]
        if m == 0xDB:                              # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if len(seg) < j + (64 if pq == 0 else 128):
                    raise ValueError("truncated JPEG DQT segment")
                if pq == 0:
                    vals, j = list(seg[j:j + 64]), j + 64
                else:
                    vals = [int.from_bytes(seg[j + 2 * k:j + 2 * k + 2],
                                           "big") for k in range(64)]
                    j += 128
                t = np.zeros(64)
                for k, z in enumerate(_ZIGZAG):
                    t[z] = vals[k]
                qt[tq] = t.reshape(8, 8)
        elif m in (0xC0, 0xC1):                    # SOF0 / SOF1 baseline
            if len(seg) < 6:
                raise ValueError("truncated JPEG SOF segment")
            if seg[0] != 8:
                raise NotImplementedError(
                    f"{seg[0]}-bit JPEG: inject a codec (built-in handles "
                    "8-bit baseline)")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = [(seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                      seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                     for c in range(nc)]
        elif m == 0xC2:                            # SOF2 progressive huffman
            return _decode_jpeg_progressive(content)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "lossless/arithmetic/hierarchical JPEG: inject a codec "
                "(built-in handles baseline SOF0/SOF1 and progressive "
                "SOF2)")
        elif m == 0xC4:                            # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits = seg[j + 1:j + 17]
                n = sum(bits)
                if len(bits) < 16 or len(seg) < j + 17 + n:
                    raise ValueError("truncated JPEG DHT segment")
                tab = _jpeg_huff_table(bits, seg[j + 17:j + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                j += 17 + n
        elif m == 0xDD:                            # DRI
            dri = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:                            # SOS
            if len(seg) < 1:
                raise ValueError("truncated JPEG SOS header")
            ns = seg[0]
            ids = {cid: k for k, (cid, _, _, _) in enumerate(comps)}
            if len(seg) < 1 + 2 * ns:
                raise ValueError("truncated JPEG SOS header")
            # one fully-interleaved scan is the baseline shape this
            # decoder implements; spec-legal non-interleaved multi-scan
            # files use per-component raster order — route them to the
            # missing-codec gate instead of decoding a scrambled raster
            if ns != len(comps):
                raise NotImplementedError(
                    f"non-interleaved JPEG scan ({ns} of {len(comps)} "
                    "components): inject a codec (built-in handles one "
                    "fully-interleaved baseline scan)")
            for s in range(ns):
                cid, tt = seg[1 + 2 * s], seg[2 + 2 * s]
                if cid not in ids:
                    raise ValueError(
                        f"JPEG scan references undeclared component {cid}")
                scan.append((ids[cid], tt >> 4, tt & 15))
            data_at = i + 2 + ln
            break
        i += 2 + ln
    if not comps or data_at < 0 or w <= 0 or h <= 0:
        raise ValueError("JPEG missing SOF/SOS headers")
    # referenced-table validation: corrupt headers must fail HERE with the
    # corrupt-bytes taxonomy, not as a KeyError deep in the MCU loop (the
    # quarantine status string carries the exception class as the
    # missing-codec vs corrupt-data signal)
    for ci, dc_id, ac_id in scan:
        if dc_id not in dc_tabs or ac_id not in ac_tabs:
            raise ValueError(
                f"JPEG scan references undefined huffman table "
                f"(dc={dc_id}, ac={ac_id})")
    for _, ch, cv, tq in comps:
        if tq not in qt:
            raise ValueError(f"JPEG component references undefined "
                             f"quantization table {tq}")
        if ch <= 0 or cv <= 0 or ch > 4 or cv > 4:
            raise ValueError(f"JPEG bad sampling factors {ch}x{cv}")
    if len(comps) > 3:
        # Adobe CMYK/YCCK: baseline-legal but the first channel is NOT
        # luma (and is typically stored inverted) — silently returning it
        # as grayscale would poison features/dedup; missing-codec gate
        raise NotImplementedError(
            f"{len(comps)}-component (CMYK/YCCK) JPEG: inject a codec "
            "(built-in handles 1- and 3-component baseline)")
    if len(comps) == 1:
        # T.81 A.2.2: a one-component scan is NON-interleaved — the MCU is
        # a single 8x8 data unit in raster order, regardless of the
        # component's declared sampling factors (jpegtran -grayscale
        # keeps the source's 2x2 Y factors; honoring them as interleave
        # geometry block-scrambles the raster)
        comps = [(comps[0][0], 1, 1, comps[0][3])]

    # entropy segment: unstuff FF00, record restart boundaries (byte
    # offsets in the UNSTUFFED stream), stop at any other marker
    raw = bytearray()
    restarts = set()
    j = data_at
    while j < len(content):
        b = content[j]
        if b != 0xFF:
            raw.append(b)
            j += 1
            continue
        nxt = content[j + 1] if j + 1 < len(content) else 0xD9
        if nxt == 0x00:
            raw.append(0xFF)
            j += 2
        elif nxt == 0xFF:                          # fill byte before marker
            j += 1
        elif 0xD0 <= nxt <= 0xD7:
            restarts.add(len(raw))
            j += 2
        else:
            break
    bits = _JpegBits(bytes(raw))

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # plausibility guards BEFORE the luma-plane allocation: every MCU
    # costs >= 2 entropy bits (DC code + EOB per block), so corrupted SOF
    # dimensions (e.g. a burst flip declaring 65535x65535) fail here as
    # corrupt bytes instead of attempting a multi-GB allocation — and the
    # ratio alone is not enough on LARGE files (a 20 MB stream "affords"
    # 80M MCUs), so an absolute output-plane cap backs it up. The cap is
    # CPU-sized, not memory-sized (code-review r9): this decoder huffman-
    # decodes per bit in pure Python, so a near-cap image costs minutes
    # inside one Arrow task — 4 MP (~2500x1600, covering typical crawled
    # web images) bounds the worst case to seconds-scale; larger-but-
    # valid images quarantine through the injected-codec gate (a native
    # streaming decoder) instead of monopolizing an executor.
    if mcux * mcuy > 4 * len(raw) + 1024:
        raise ValueError(
            f"JPEG entropy stream ({len(raw)} bytes) too short for the "
            f"declared {w}x{h} dimensions — corrupt header")
    if w * h > 4_000_000:
        raise NotImplementedError(
            f"{w}x{h} JPEG exceeds the built-in decoder's 4 MP plane "
            "cap (pure-Python entropy decode is CPU-bound): inject a "
            "native codec for large images")
    # IDCT basis: M[x, u] = c(u)/2 * cos((2x+1)u*pi/16)
    u = np.arange(8)
    x = np.arange(8)
    M = np.cos((2 * x[:, None] + 1) * u[None, :] * np.pi / 16) / 2.0
    M[:, 0] *= 1 / np.sqrt(2)
    yidx = 0  # Y is the first SOF component by JFIF convention
    yh, yv = comps[yidx][1], comps[yidx][2]
    yplane = np.zeros((mcuy * 8 * yv, mcux * 8 * yh))
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                # byte-align and cross the recorded restart boundary
                if bits.bit:
                    bits.bit, bits.pos = 0, bits.pos + 1
                if bits.pos not in restarts:
                    raise ValueError(
                        f"JPEG restart marker missing at MCU {mcu_count}")
                pred = [0] * len(comps)
            for ci, dc_id, ac_id in scan:
                _, ch, cv, tq = comps[ci]
                for by in range(cv):
                    for bx in range(ch):
                        coef = np.zeros(64)
                        s = bits.decode_symbol(dc_tabs[dc_id])
                        diff = _jpeg_extend(bits.receive(s), s)
                        pred[ci] += diff
                        coef[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = bits.decode_symbol(ac_tabs[ac_id])
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    # ZRL must leave room for a following
                                    # coefficient (T.81 F.1.2.2.1) — a
                                    # corrupt ZRL near the block end is
                                    # quarantined, not silently wrapped
                                    if k > 63:
                                        raise ValueError(
                                            "JPEG AC run past block end")
                                    continue
                                break                  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "JPEG AC run past block end")
                            coef[_ZIGZAG[k]] = _jpeg_extend(
                                bits.receive(s), s)
                            k += 1
                        if ci != yidx:
                            continue                   # luma-only output
                        block = (M @ (coef.reshape(8, 8) * qt[tq])
                                 @ M.T) + 128.0
                        r0 = (my * yv + by) * 8
                        c0 = (mx * yh + bx) * 8
                        yplane[r0:r0 + 8, c0:c0 + 8] = block
            mcu_count += 1
    out = np.clip(yplane[:h, :w] / 255.0, 0.0, 1.0)
    return [list(row) for row in out]


def _decode_jpeg_progressive(content: bytes) -> list[list[float]]:
    """PROGRESSIVE (SOF2) huffman JPEG decoder — T.81 Annex G: spectral
    selection + successive approximation over the baseline machinery
    (VERDICT r8 #4, the most common remaining real-web format). All scans
    accumulate into per-component zigzag-order coefficient arrays (DC
    first/refinement scans in MCU or raster order; AC scans always
    single-component with EOB-run and correction-bit semantics per
    G.1.2.2/G.1.2.3), then one dequantize+IDCT pass renders the luma
    plane — the same [0, 1] grayscale contract as ``_decode_jpeg``, which
    dispatches here on the SOF2 marker. Quantization/huffman tables may
    be redefined between scans (spec-legal; each scan resolves the
    tables visible at its SOS). Same gates as baseline: 8-bit only,
    <= 3 components (CMYK routes to the codec gate), 4 MP CPU cap, and
    the corrupt-bytes taxonomy (ValueError) for every malformed shape —
    including a stream that ends before any DC scan."""
    import numpy as np

    qt: dict[int, "np.ndarray"] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps: list[tuple[int, int, int, int]] = []   # (id, h, v, tq)
    w = h = 0
    dri = 0
    coef: list = []                               # per-comp (bh, bw, 64)
    dims: list = []                               # (bh_full,bw_full,bh,bw)
    mcux = mcuy = 0
    dc_done: set[int] = set()
    n_scans = 0

    def entropy_segment(j: int):
        raw = bytearray()
        restarts = set()
        while j < len(content):
            b = content[j]
            if b != 0xFF:
                raw.append(b)
                j += 1
                continue
            nxt = content[j + 1] if j + 1 < len(content) else 0xD9
            if nxt == 0x00:
                raw.append(0xFF)
                j += 2
            elif nxt == 0xFF:                      # fill byte before marker
                j += 1
            elif 0xD0 <= nxt <= 0xD7:
                restarts.add(len(raw))
                j += 2
            else:
                break
        return bytes(raw), restarts, j

    def cross_restart(bits, restarts, at):
        if bits.bit:
            bits.bit, bits.pos = 0, bits.pos + 1
        if bits.pos not in restarts:
            raise ValueError(f"JPEG restart marker missing at MCU {at}")

    def dc_decode(bits, blk, dc_id, pred, ci, ah, al):
        if ah == 0:
            s = bits.decode_symbol(dc_tabs[dc_id])
            pred[ci] += _jpeg_extend(bits.receive(s), s)
            blk[0] = pred[ci] << al
        elif bits.read_bit():
            blk[0] = int(blk[0]) | (1 << al)

    def ac_first(bits, blk, actab, ss, se, al, eobrun):
        if eobrun > 0:
            return eobrun - 1
        k = ss
        while k <= se:
            rs = bits.decode_symbol(actab)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r != 15:                        # EOBn: run of EOB blocks
                    eb = (1 << r) - 1
                    if r:
                        eb += bits.receive(r)
                    return eb
                k += 16                            # ZRL
                if k > se:
                    raise ValueError("JPEG AC run past block end")
                continue
            k += r
            if k > se:
                raise ValueError("JPEG AC run past block end")
            blk[k] = _jpeg_extend(bits.receive(s), s) << al
            k += 1
        return 0

    def ac_refine(bits, blk, actab, ss, se, al, eobrun):
        # T.81 G.1.2.3: correction bits for already-nonzero coefficients,
        # newly-appearing +-1<<Al coefficients placed by zero-history runs
        p1, m1 = 1 << al, -(1 << al)
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = bits.decode_symbol(actab)
                r, s = rs >> 4, rs & 15
                newval = 0
                if s == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += bits.receive(r)
                        break
                else:
                    if s != 1:
                        raise ValueError(
                            "JPEG AC refinement magnitude must be 1")
                    newval = p1 if bits.read_bit() else m1
                while k <= se:                     # r zero-history skips,
                    z = int(blk[k])                # correcting along the way
                    if z != 0:
                        if bits.read_bit() and (z & p1) == 0:
                            blk[k] = z + (p1 if z >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("JPEG AC run past block end")
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= se:                         # EOB region still carries
                z = int(blk[k])                    # correction bits
                if z != 0 and bits.read_bit() and (z & p1) == 0:
                    blk[k] = z + (p1 if z >= 0 else m1)
                k += 1
            eobrun -= 1
        return eobrun

    i = 2
    while i + 2 <= len(content):
        if content[i] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at byte {i}")
        m = content[i + 1]
        if m == 0xFF:
            i += 1
            continue
        if m == 0xD9:
            break
        if m == 0x01 or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        if i + 4 > len(content):
            raise ValueError("truncated JPEG header segment")
        ln = int.from_bytes(content[i + 2:i + 4], "big")
        if ln < 2 or i + 2 + ln > len(content):
            raise ValueError("truncated JPEG header segment")
        seg = content[i + 4:i + 2 + ln]
        if m == 0xDB:                              # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if len(seg) < j + (64 if pq == 0 else 128):
                    raise ValueError("truncated JPEG DQT segment")
                if pq == 0:
                    vals, j = list(seg[j:j + 64]), j + 64
                else:
                    vals = [int.from_bytes(seg[j + 2 * k:j + 2 * k + 2],
                                           "big") for k in range(64)]
                    j += 128
                t = np.zeros(64)
                for k, z in enumerate(_ZIGZAG):
                    t[z] = vals[k]
                qt[tq] = t.reshape(8, 8)
        elif m == 0xC4:                            # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 15
                bits_ = seg[j + 1:j + 17]
                n = sum(bits_)
                if len(bits_) < 16 or len(seg) < j + 17 + n:
                    raise ValueError("truncated JPEG DHT segment")
                tab = _jpeg_huff_table(bits_, seg[j + 17:j + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                j += 17 + n
        elif m == 0xDD:                            # DRI (scan-scoped)
            dri = int.from_bytes(seg[:2], "big")
        elif m == 0xC2:                            # SOF2
            if comps:
                raise ValueError("JPEG with multiple SOF markers")
            if len(seg) < 6:
                raise ValueError("truncated JPEG SOF segment")
            if seg[0] != 8:
                raise NotImplementedError(
                    f"{seg[0]}-bit JPEG: inject a codec (built-in handles "
                    "8-bit)")
            h = int.from_bytes(seg[1:3], "big")
            w = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            if len(seg) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = [(seg[6 + 3 * c], seg[7 + 3 * c] >> 4,
                      seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                     for c in range(nc)]
            if w <= 0 or h <= 0:
                raise ValueError("JPEG bad dimensions")
            for _, ch, cv, _ in comps:
                if ch <= 0 or cv <= 0 or ch > 4 or cv > 4:
                    raise ValueError(f"JPEG bad sampling factors {ch}x{cv}")
            if len(comps) > 3:
                raise NotImplementedError(
                    f"{len(comps)}-component (CMYK/YCCK) JPEG: inject a "
                    "codec (built-in handles 1- and 3-component)")
            if len(comps) == 1:
                # T.81 A.2.2: one-component images are non-interleaved
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            if w * h > 4_000_000:
                raise NotImplementedError(
                    f"{w}x{h} JPEG exceeds the built-in decoder's 4 MP "
                    "plane cap (pure-Python entropy decode is CPU-bound): "
                    "inject a native codec for large images")
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            for _, ch, cv, _ in comps:
                bw_used = (-(-w * ch // hmax) + 7) // 8
                bh_used = (-(-h * cv // vmax) + 7) // 8
                dims.append((mcuy * cv, mcux * ch, bh_used, bw_used))
                coef.append(np.zeros((mcuy * cv, mcux * ch, 64),
                                     dtype=np.int32))
        elif m in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("JPEG with multiple SOF markers")
        elif m == 0xDA:                            # SOS — one scan of many
            if not comps:
                raise ValueError("JPEG missing SOF/SOS headers")
            if len(seg) < 1:
                raise ValueError("truncated JPEG SOS header")
            ns = seg[0]
            if len(seg) < 1 + 2 * ns + 3 or ns < 1:
                raise ValueError("truncated JPEG SOS header")
            ids = {cid: k for k, (cid, _, _, _) in enumerate(comps)}
            scan = []
            for s in range(ns):
                cid, tt = seg[1 + 2 * s], seg[2 + 2 * s]
                if cid not in ids:
                    raise ValueError(
                        f"JPEG scan references undeclared component {cid}")
                scan.append((ids[cid], tt >> 4, tt & 15))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 15
            if se > 63 or (ss > se) or al > 13 or ah > 13 or \
                    (ah and ah != al + 1):
                raise ValueError("JPEG bad progressive scan parameters")
            n_scans += 1
            if n_scans > 64:
                raise ValueError("JPEG with implausibly many scans")
            raw, restarts, end_i = entropy_segment(i + 2 + ln)
            bits = _JpegBits(raw)
            eobrun = 0
            if ss == 0:                            # DC scan
                if se != 0:
                    raise ValueError(
                        "JPEG progressive DC scan with Se != 0")
                if ah == 0:
                    for ci, dc_id, _ in scan:
                        if dc_id not in dc_tabs:
                            raise ValueError(
                                "JPEG scan references undefined huffman "
                                f"table (dc={dc_id})")
                pred = {ci: 0 for ci, _, _ in scan}
                if len(scan) > 1:                  # interleaved MCU order
                    cnt = 0
                    for my in range(mcuy):
                        for mx in range(mcux):
                            if dri and cnt and cnt % dri == 0:
                                cross_restart(bits, restarts, cnt)
                                pred = {ci: 0 for ci, _, _ in scan}
                            for ci, dc_id, _ in scan:
                                _, ch, cv, _ = comps[ci]
                                for by in range(cv):
                                    for bx in range(ch):
                                        dc_decode(
                                            bits,
                                            coef[ci][my * cv + by,
                                                     mx * ch + bx],
                                            dc_id, pred, ci, ah, al)
                            cnt += 1
                else:                              # single comp: raster
                    ci, dc_id, _ = scan[0]
                    bh_u, bw_u = dims[ci][2], dims[ci][3]
                    cnt = 0
                    for r in range(bh_u):
                        for c in range(bw_u):
                            if dri and cnt and cnt % dri == 0:
                                cross_restart(bits, restarts, cnt)
                                pred = {ci: 0}
                            dc_decode(bits, coef[ci][r, c], dc_id,
                                      pred, ci, ah, al)
                            cnt += 1
                if ah == 0:
                    dc_done.update(ci for ci, _, _ in scan)
            else:                                  # AC scan: one component
                if len(scan) != 1:
                    raise ValueError(
                        "JPEG progressive AC scan must be non-interleaved")
                ci, _, ac_id = scan[0]
                if ac_id not in ac_tabs:
                    raise ValueError(
                        "JPEG scan references undefined huffman table "
                        f"(ac={ac_id})")
                actab = ac_tabs[ac_id]
                bh_u, bw_u = dims[ci][2], dims[ci][3]
                cnt = 0
                for r in range(bh_u):
                    for c in range(bw_u):
                        if dri and cnt and cnt % dri == 0:
                            cross_restart(bits, restarts, cnt)
                            eobrun = 0
                        if ah == 0:
                            eobrun = ac_first(bits, coef[ci][r, c], actab,
                                              ss, se, al, eobrun)
                        else:
                            eobrun = ac_refine(bits, coef[ci][r, c], actab,
                                               ss, se, al, eobrun)
                        cnt += 1
            i = end_i
            continue
        i += 2 + ln

    if not comps or n_scans == 0:
        raise ValueError("JPEG missing SOF/SOS headers")
    yidx = 0
    if yidx not in dc_done:
        raise ValueError(
            "progressive JPEG stream ended before the luma DC scan")
    _, _, _, ytq = comps[yidx]
    if ytq not in qt:
        raise ValueError(
            f"JPEG component references undefined quantization table {ytq}")
    u = np.arange(8)
    x = np.arange(8)
    M = np.cos((2 * x[:, None] + 1) * u[None, :] * np.pi / 16) / 2.0
    M[:, 0] *= 1 / np.sqrt(2)
    q = qt[ytq]
    bh_full, bw_full, bh_u, bw_u = dims[yidx]
    yplane = np.zeros((bh_full * 8, bw_full * 8))
    zz = np.asarray(_ZIGZAG)
    for r in range(bh_u):
        for c in range(bw_u):
            nat = np.zeros(64)
            nat[zz] = coef[yidx][r, c]             # un-zigzag
            block = (M @ (nat.reshape(8, 8) * q) @ M.T) + 128.0
            yplane[r * 8:r * 8 + 8, c * 8:c * 8 + 8] = block
    out = np.clip(yplane[:h, :w] / 255.0, 0.0, 1.0)
    return [list(row) for row in out]


_JPEG_SIG = b"\xff\xd8"


def _gif_lzw(data: bytes, min_code: int, npix: int) -> list[int]:
    """GIF-flavored LZW decompress (GIF89a spec Appendix F): LSB-first
    variable-width codes (min_code+1 .. 12 bits), CLEAR resets the table,
    deferred-clear encoders keep emitting 12-bit codes once the table is
    full. Dictionary kept as prefix-link/suffix arrays (no sequence
    copies), so decode stays O(output) even on pathological chains."""
    if not 2 <= min_code <= 11:
        raise ValueError(f"GIF LZW minimum code size {min_code} out of range")
    clear, end = 1 << min_code, (1 << min_code) + 1
    prefix = [-1] * 4096
    suffix = [0] * 4096
    first = [0] * 4096          # first byte of each code's expansion
    for c in range(clear):
        suffix[c] = first[c] = c
    next_code, width = end + 1, min_code + 1
    out: list[int] = []
    stack: list[int] = []
    prev = -1
    bitbuf = bitlen = pos = 0
    n = len(data)
    while len(out) < npix:
        while bitlen < width:
            if pos >= n:
                raise ValueError("GIF LZW stream truncated mid-code")
            bitbuf |= data[pos] << bitlen
            bitlen += 8
            pos += 1
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        bitlen -= width
        if code == clear:
            next_code, width, prev = end + 1, min_code + 1, -1
            continue
        if code == end:
            break
        if prev < 0:
            if code >= clear:
                raise ValueError("GIF LZW first code after clear not a root")
            out.append(code)
            prev = code
            continue
        if code < next_code:
            cur = code
        elif code == next_code and next_code < 4096:
            # the KwKwK case: expansion = expansion(prev) + first(prev)
            stack.append(first[prev])
            cur = prev
        else:
            raise ValueError("GIF LZW code beyond dictionary")
        while cur >= clear + 2:
            stack.append(suffix[cur])
            cur = prefix[cur]
        stack.append(suffix[cur])
        out.extend(reversed(stack))
        fb = first[cur]
        stack.clear()
        if next_code < 4096:
            prefix[next_code] = prev
            suffix[next_code] = fb
            first[next_code] = first[prev]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = code
    if len(out) < npix:
        raise ValueError(
            f"GIF pixel data ends early ({len(out)} of {npix} pixels)")
    return out[:npix]


def _gif_frames(content: bytes,
                max_frames: int) -> Iterator[tuple[int, list[list[float]]]]:
    """GIF87a/GIF89a frame iterator: yields ``(delay_cs, canvas)`` per
    frame, COMPOSITED per the GIF89a animation model — Graphic Control
    Extension transparency (transparent-index pixels leave the canvas
    untouched) and disposal methods 0/1 (leave), 2 (restore the frame
    rect to background) and 3 (restore the pre-frame canvas). Handles
    LZW (variable-width codes, CLEAR/END, the KwKwK case, deferred
    clear), global and local color tables, and the 4-pass row interlace.
    Rasters are the repo's row-major [0, 1] grayscale convention
    (palette RGB averaged). Same CPU-sized 4 MP plane cap as the JPEG
    decoder — pure-Python LZW must not monopolize an Arrow task; the
    per-call work is additionally bounded by ``max_frames``."""
    if len(content) < 13 or content[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("truncated or invalid GIF signature")
    w = content[6] | content[7] << 8
    h = content[8] | content[9] << 8
    packed, bg_index = content[10], content[11]
    if w == 0 or h == 0:
        raise ValueError("GIF logical screen has zero dimension")
    if w * h > 4_000_000:
        raise NotImplementedError(
            f"{w}x{h} GIF exceeds the built-in decoder's 4 MP plane cap "
            "(pure-Python LZW is CPU-bound): inject a native codec for "
            "large images")
    i = 13
    gct: list[float] | None = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        raw = content[i:i + 3 * size]
        if len(raw) < 3 * size:
            raise ValueError("truncated GIF global color table")
        gct = [(raw[3 * k] + raw[3 * k + 1] + raw[3 * k + 2]) / (3 * 255.0)
               for k in range(size)]
        i += 3 * size
    bg = gct[bg_index] if gct and bg_index < len(gct) else 0.0
    canvas = [[bg] * w for _ in range(h)]
    n_frames = pixels_decoded = 0
    delay_cs, disposal, transparent = 0, 0, -1   # pending GCE state
    while True:
        if i >= len(content):
            raise ValueError("GIF stream ends without trailer")
        block = content[i]
        i += 1
        if block == 0x3B:                        # trailer
            if n_frames == 0:
                raise ValueError("GIF contains no image data")
            return
        if block == 0x21:                        # extension: label + subblocks
            if i >= len(content):
                raise ValueError("truncated GIF extension")
            label = content[i]
            i += 1
            sub_first = None
            while True:
                if i >= len(content):
                    raise ValueError("truncated GIF extension")
                ln = content[i]
                if sub_first is None:
                    sub_first = content[i + 1:i + 1 + ln]
                i += 1 + ln
                if ln == 0:
                    break
            if label == 0xF9:                    # Graphic Control Extension
                if len(sub_first) < 4:
                    raise ValueError("truncated GIF graphic control block")
                gpacked = sub_first[0]
                disposal = (gpacked >> 2) & 0x07
                delay_cs = sub_first[1] | sub_first[2] << 8
                transparent = sub_first[3] if gpacked & 0x01 else -1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        if i + 9 > len(content):
            raise ValueError("truncated GIF image descriptor")
        left = content[i] | content[i + 1] << 8
        top = content[i + 2] | content[i + 3] << 8
        iw = content[i + 4] | content[i + 5] << 8
        ih = content[i + 6] | content[i + 7] << 8
        ipacked = content[i + 8]
        i += 9
        if iw == 0 or ih == 0:
            raise ValueError("GIF frame has zero dimension")
        if left + iw > w or top + ih > h:
            raise ValueError("GIF frame exceeds the logical screen")
        pixels_decoded += iw * ih
        if pixels_decoded > 16_000_000:
            # cumulative CPU budget: the 4 MP plane cap bounds ONE frame,
            # but an animation multiplies it — route oversize animations
            # to the injected-codec gate like oversize stills
            raise NotImplementedError(
                "animated GIF exceeds the built-in decoder's 16 MP "
                "cumulative frame budget (pure-Python LZW is CPU-bound): "
                "inject a native codec for long/large animations")
        table = gct
        if ipacked & 0x80:
            size = 2 << (ipacked & 0x07)
            raw = content[i:i + 3 * size]
            if len(raw) < 3 * size:
                raise ValueError("truncated GIF local color table")
            table = [(raw[3 * k] + raw[3 * k + 1] + raw[3 * k + 2])
                     / (3 * 255.0) for k in range(size)]
            i += 3 * size
        if table is None:
            raise ValueError(
                "GIF frame has neither local nor global color table")
        if i >= len(content):
            raise ValueError("truncated GIF image data")
        min_code = content[i]
        i += 1
        chunks = []
        while True:
            if i >= len(content):
                raise ValueError("GIF image data ends without block "
                                 "terminator")
            ln = content[i]
            i += 1
            if ln == 0:
                break
            chunk = content[i:i + ln]
            if len(chunk) < ln:
                raise ValueError("truncated GIF data sub-block")
            chunks.append(chunk)
            i += ln
        indices = _gif_lzw(b"".join(chunks), min_code, iw * ih)
        tsize = len(table)
        if any(ix >= tsize and ix != transparent for ix in indices):
            raise ValueError("GIF pixel index beyond the color table")
        if ipacked & 0x40:                       # 4-pass interlace
            order = ([r for r in range(0, ih, 8)]
                     + [r for r in range(4, ih, 8)]
                     + [r for r in range(2, ih, 4)]
                     + [r for r in range(1, ih, 2)])
        else:
            order = list(range(ih))
        saved = [row[:] for row in canvas] if disposal == 3 else None
        for src, dst in enumerate(order):
            row = canvas[top + dst]
            base = src * iw
            for c in range(iw):
                ix = indices[base + c]
                if ix != transparent:
                    row[left + c] = table[ix]
        yield delay_cs, [row[:] for row in canvas]
        n_frames += 1
        if n_frames >= max_frames:
            return
        if disposal == 2:                        # restore rect to background
            for r in range(top, top + ih):
                canvas[r][left:left + iw] = [bg] * iw
        elif disposal == 3:                      # restore pre-frame canvas
            canvas = saved
        delay_cs, disposal, transparent = 0, 0, -1


def decode_gif_frames(content: bytes,
                      max_frames: int = 16) -> list[tuple[int, int,
                                                          list[list[float]]]]:
    """Animated-GIF frame extraction: ``[(frame_idx, delay_cs, raster)]``
    for the first ``max_frames`` frames, each COMPOSITED on the logical
    screen per the GIF89a disposal/transparency model (see
    :func:`_gif_frames`). The real-codec counterpart of the byte-slice
    :func:`sample_frames` plumbing."""
    return [(idx, delay, raster)
            for idx, (delay, raster)
            in enumerate(_gif_frames(bytes(content), max_frames))]


def _decode_gif(content: bytes) -> list[list[float]]:
    """Stdlib GIF decoder: the FIRST frame of :func:`_gif_frames`,
    composited at its (left, top) offset on a background-filled logical
    screen — the still-image view of any GIF, animated or not."""
    for _, canvas in _gif_frames(content, max_frames=1):
        return canvas
    raise ValueError("GIF contains no image data")     # pragma: no cover


def decode_ppm_bmp(content: bytes) -> list[list[float]]:
    """Default image decode hook: stdlib-only decoders for the formats that
    need no codec library — netpbm (P2/P3 ASCII, P5/P6 binary, 8/16-bit
    maxval), uncompressed 24/32-bit BI_RGB BMP, non-interlaced 8-bit
    PNG (stdlib zlib + the five scanline filters), huffman JPEG —
    baseline SOF0/SOF1 and progressive SOF2, with numpy IDCT — and
    GIF87a/89a (LZW, interlace, local/global palettes) — so the
    binaryFile -> decode -> features/resize pipeline runs end-to-end on real
    bytes, like the reference's attachment path
    (``src/server/FileStorage.cpp:13-71`` -> ``TextExtractor.cpp``).
    Returns a row-major grayscale raster in [0, 1] (RGB averaged; JPEG
    returns its native Y/luma plane). Lossless/arithmetic JPEG and PNG's
    interlaced/16-bit corners still require an injected codec — that
    gate is per-format, not module-wide."""
    content = bytes(content)
    magic = content[:2]
    if magic in (b"P2", b"P3", b"P5", b"P6"):
        return _decode_netpbm(content)
    if magic == b"BM":
        return _decode_bmp(content)
    if content[:8] == _PNG_SIG:
        return _decode_png(content)
    if magic == _JPEG_SIG:
        return _decode_jpeg(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(content)
    raise NotImplementedError(
        f"no built-in codec for this image format (magic {magic!r}): the "
        "default decoder handles netpbm (PPM/PGM), uncompressed BMP, "
        "non-interlaced 8-bit PNG, baseline+progressive JPEG, GIF, and "
        "baseline TIFF — inject a decoder (e.g. PIL-based) for the rest")


def deterministic_fake_decoder(content: bytes, h: int = 8, w: int = 8):
    """Codec-free stand-in: derive an h×w pseudo-grayscale raster from the
    byte content (sha256 expansion) — stable across runs/machines, so feature
    tests assert exact values."""
    need, out, counter = h * w, [], 0
    seed = hashlib.sha256(content).digest()
    while len(out) < need:
        block = hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        out.extend(b / 255.0 for b in block)
        counter += 1
    return [out[r * w:(r + 1) * w] for r in range(h)]


IMAGE_FEATURE_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("mean_intensity", DoubleType()),
    StructField("histogram", ArrayType(DoubleType())),  # 8-bin intensity hist
])


def _quarantine_status(exc: Exception) -> str:
    """Status string for a quarantined decode failure: the class name
    carries the taxonomy (NotImplementedError = missing codec vs
    ValueError = corrupt bytes), the message the forensics."""
    return f"{type(exc).__name__}: {str(exc)[:160]}"


def extract_image_features(media: DataFrame,
                           decoder: ImageDecoder | None = None,
                           on_error: str = "raise") -> DataFrame:
    """Decode -> feature-extract for image rows. ``decoder`` is the injectable
    codec hook; None uses :func:`decode_ppm_bmp`, which handles netpbm/BMP
    natively and raises NotImplementedError per-row for entropy-coded
    formats (PNG/JPEG) until a real codec is injected.

    ``on_error``: ``"raise"`` (default) keeps the loud per-format gate —
    right for development and for corpora known to be clean.
    ``"quarantine"`` is the 100 TB operating mode: a corrupt or
    unsupported file must not abort a million-file job, so failed rows
    come back with NULL features and a ``status`` column carrying the
    exception (``ok`` otherwise), for routing to a quarantine sink."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', "
                         f"got {on_error!r}")
    dec = decoder or decode_ppm_bmp
    quarantine = on_error == "quarantine"
    schema = (StructType(IMAGE_FEATURE_SCHEMA.fields
                         + [StructField("status", StringType())])
              if quarantine else IMAGE_FEATURE_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "height": [], "width": [],
                    "mean_intensity": [], "histogram": []}
            if quarantine:
                rows["status"] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    raster = dec(bytes(content))
                except Exception as e:  # noqa: BLE001 — quarantined per row
                    if not quarantine:
                        raise
                    rows["path"].append(path)
                    rows["height"].append(None)
                    rows["width"].append(None)
                    rows["mean_intensity"].append(None)
                    rows["histogram"].append(None)
                    rows["status"].append(_quarantine_status(e))
                    continue
                flat = [p for row in raster for p in row]
                hist = [0.0] * 8
                for p in flat:
                    hist[min(int(p * 8), 7)] += 1
                n = len(flat) or 1
                rows["path"].append(path)
                rows["height"].append(len(raster))
                rows["width"].append(len(raster[0]) if raster else 0)
                rows["mean_intensity"].append(sum(flat) / n)
                rows["histogram"].append([c / n for c in hist])
                if quarantine:
                    rows["status"].append("ok")
            yield pd.DataFrame(rows)

    img = media.filter(F.col("modality") == "image").select("path", "content")
    return img.mapInPandas(run, schema)


RESIZED_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("pixels", ArrayType(ArrayType(DoubleType()))),
])


def encode_png_gray(raster) -> bytes:
    """8-bit grayscale PNG encoder (zlib, filter 0) — the egress half of
    the codec story: decoded/transformed rasters re-encode into a
    standard container any external tool can open, and the repo's own
    PNG decoder round-trips them exactly (values snap to the k/255
    grid). Stdlib-only, like the decoders."""
    import struct
    import zlib

    h = len(raster)
    w = len(raster[0]) if h else 0
    if h == 0 or w == 0:
        raise ValueError("cannot encode an empty raster")
    raw = b"".join(
        b"\x00" + bytes(min(255, max(0, round(float(v) * 255)))
                        for v in row)
        for row in raster)

    def chunk(typ: bytes, data: bytes) -> bytes:
        body = typ + data
        return (struct.pack(">I", len(data)) + body
                + struct.pack(">I", zlib.crc32(body)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


THUMBNAIL_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("thumbnail_png", BinaryType()),
    StructField("status", StringType()),
])


def render_thumbnails(media: DataFrame, out_h: int = 64, out_w: int = 64,
                      decoder: ImageDecoder | None = None) -> DataFrame:
    """Decode -> nearest-neighbor resize -> PNG re-encode per image row:
    the visual-inspection export every curation loop wants (open the
    thumbnails of a dedup cluster, eyeball the survivors). Always
    quarantining; the binary column writes through any parquet/file
    sink. Executor-side end to end."""
    dec = decoder or decode_ppm_bmp

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "height": [], "width": [],
                    "thumbnail_png": [], "status": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    src = dec(bytes(content))
                    sh, sw = len(src), len(src[0])
                    thumb = [[src[min(sh - 1, r * sh // out_h)]
                              [min(sw - 1, c * sw // out_w)]
                              for c in range(out_w)]
                             for r in range(out_h)]
                    png = encode_png_gray(thumb)
                    vals = (out_h, out_w, png, "ok")
                except Exception as e:  # noqa: BLE001 — quarantined
                    vals = (None, None, None, _quarantine_status(e))
                rows["path"].append(path)
                for k, v in zip(("height", "width", "thumbnail_png",
                                 "status"), vals):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    img = media.filter(F.col("modality") == "image").select("path", "content")
    return img.mapInPandas(run, THUMBNAIL_SCHEMA)


IMAGE_QUALITY_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("sharpness", DoubleType()),      # mean |Laplacian|
    StructField("contrast", DoubleType()),       # p95 - p5
    StructField("entropy_bits", DoubleType()),   # 32-bin histogram entropy
    StructField("extreme_fraction", DoubleType()),  # under/over-exposed
    StructField("status", StringType()),
])


def image_quality_features(media: DataFrame,
                           decoder: ImageDecoder | None = None) -> DataFrame:
    """Image-quality triage features — the image analog of the text
    quality scorers (operators/text.py): per decoded raster, mean
    |4-neighbor Laplacian| (blur detector: sharp images score high,
    defocused/upscaled ones near zero), p95-p5 contrast, 32-bin
    intensity entropy (flat/synthetic fills score near zero), and the
    under/over-exposed pixel fraction (<2% or >98% intensity). All
    numpy f8 over the Arrow batch; always quarantining like
    :func:`probe-side <extract_image_features>` feature extraction.
    Downstream filtering is a plain DataFrame predicate over this
    output, exactly like Gopher-rule text filtering."""
    import numpy as np

    dec = decoder or decode_ppm_bmp

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "height": [], "width": [], "sharpness": [],
                    "contrast": [], "entropy_bits": [],
                    "extreme_fraction": [], "status": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    a = np.asarray(dec(bytes(content)), dtype=np.float64)
                    if a.ndim != 2:
                        raise ValueError("decoder returned a non-2D raster")
                    h, w = a.shape
                    if h >= 3 and w >= 3:
                        lap = (4 * a[1:-1, 1:-1] - a[:-2, 1:-1]
                               - a[2:, 1:-1] - a[1:-1, :-2] - a[1:-1, 2:])
                        sharp = float(np.abs(lap).mean())
                    else:
                        sharp = 0.0
                    p5, p95 = np.percentile(a, [5, 95])
                    hist = np.histogram(a, bins=32, range=(0.0, 1.0))[0]
                    p = hist[hist > 0] / a.size
                    entropy = float(-(p * np.log2(p)).sum())
                    extreme = float(((a < 0.02) | (a > 0.98)).mean())
                    vals = (h, w, sharp, float(p95 - p5), entropy, extreme,
                            "ok")
                except Exception as e:  # noqa: BLE001 — quarantined per row
                    vals = (None, None, None, None, None, None,
                            _quarantine_status(e))
                for k, v in zip(("height", "width", "sharpness", "contrast",
                                 "entropy_bits", "extreme_fraction",
                                 "status"), vals):
                    rows[k].append(v)
                rows["path"].append(path)
            yield pd.DataFrame(rows)[[f.name
                                      for f in IMAGE_QUALITY_SCHEMA.fields]]

    img = media.filter(F.col("modality") == "image").select("path", "content")
    return img.mapInPandas(run, IMAGE_QUALITY_SCHEMA)


def orient_raster(raster: list[list[float]],
                  orientation: int | None) -> list[list[float]]:
    """Apply an EXIF orientation (tag 0x0112, values 1..8) to a row-major
    raster so downstream features/hashes see the upright image: 1 =
    as-is, 2 = mirror-H, 3 = rotate 180, 4 = mirror-V, 5 = transpose,
    6 = rotate 90 CW, 7 = transverse, 8 = rotate 90 CCW. None (EXIF
    absent, per ``mediaprobe.probe_jpeg_exif``) is treated as upright.
    Pure list ops — usable inside any decoder hook or Arrow batch."""
    if orientation in (None, 1):
        return raster
    if orientation not in range(2, 9):
        raise ValueError(f"EXIF orientation must be 1..8, "
                         f"got {orientation!r}")
    if orientation == 2:
        return [row[::-1] for row in raster]
    if orientation == 3:
        return [row[::-1] for row in raster[::-1]]
    if orientation == 4:
        return [row[:] for row in raster[::-1]]
    t = [list(col) for col in zip(*raster)]      # transpose
    if orientation == 5:
        return t
    if orientation == 6:                         # 90 CW = transpose + mirror-H
        return [row[::-1] for row in t]
    if orientation == 7:                         # transverse = 5 then 180
        return [row[::-1] for row in t[::-1]]
    return [row[:] for row in t[::-1]]           # 8: 90 CCW


def resize_images(media: DataFrame, out_h: int, out_w: int,
                  decoder: ImageDecoder | None = None,
                  on_error: str = "raise") -> DataFrame:
    """Decode -> RESIZE for image rows: nearest-neighbor resample of the
    decoded raster to ``out_h`` x ``out_w`` (the standard pre-embedding
    normalization step — every vision encoder wants a fixed input shape).
    The resample itself is real numpy (index-gather per Arrow batch, no
    Python pixel loops); only the codec is the injectable hook, same
    default as extract_image_features (None -> :func:`decode_ppm_bmp`).
    Returns (path, height, width, pixels) with pixels as the resized
    row-major raster. ``on_error="quarantine"`` adds a ``status`` column
    and NULL-pixels rows for failed decodes instead of aborting the job
    (see extract_image_features — same 100 TB rationale)."""
    import numpy as np

    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', "
                         f"got {on_error!r}")
    dec = decoder or decode_ppm_bmp
    quarantine = on_error == "quarantine"
    schema = (StructType(RESIZED_SCHEMA.fields
                         + [StructField("status", StringType())])
              if quarantine else RESIZED_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "height": [], "width": [], "pixels": []}
            if quarantine:
                rows["status"] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    raster = np.asarray(dec(bytes(content)), dtype=np.float64)
                    if raster.ndim != 2 or raster.size == 0:
                        raise ValueError(
                            f"decoder returned an empty or non-2D raster "
                            f"(shape {raster.shape}) for {path}; resize "
                            "needs at least one source pixel")
                except Exception as e:  # noqa: BLE001 — quarantined per row
                    if not quarantine:
                        raise
                    rows["path"].append(path)
                    rows["height"].append(None)
                    rows["width"].append(None)
                    rows["pixels"].append(None)
                    rows["status"].append(_quarantine_status(e))
                    continue
                h, w = raster.shape[0], raster.shape[1]
                # nearest-neighbor: pixel centers mapped back to source grid
                ri = np.minimum((np.arange(out_h) + 0.5) * h / out_h,
                                h - 1).astype(np.int64)
                ci = np.minimum((np.arange(out_w) + 0.5) * w / out_w,
                                w - 1).astype(np.int64)
                resized = raster[np.ix_(ri, ci)]
                rows["path"].append(path)
                rows["height"].append(out_h)
                rows["width"].append(out_w)
                rows["pixels"].append([list(r) for r in resized])
                if quarantine:
                    rows["status"].append("ok")
            yield pd.DataFrame(rows)

    img = media.filter(F.col("modality") == "image").select("path", "content")
    return img.mapInPandas(run, schema)


FRAME_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame", BinaryType()),
])


def sample_frames(media: DataFrame, every_n_bytes: int = 1 << 16,
                  frame_bytes: int = 256, max_frames: int = 16) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame. Without a
    codec the "frame" is the raw byte slice at the sample offset — the row
    explosion, batch shape, and partition behavior are exactly what a real
    ffmpeg-backed sampler produces."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "frame_idx": [], "frame": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                for i, off in enumerate(range(0, len(data), every_n_bytes)):
                    if i >= max_frames:
                        break
                    rows["path"].append(path)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(data[off:off + frame_bytes])
            yield pd.DataFrame(rows)

    vid = media.filter(F.col("modality") == "video").select("path", "content")
    return vid.mapInPandas(run, FRAME_SCHEMA)


ANIMATION_FRAME_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("delay_cs", IntegerType()),      # GCE delay, centiseconds
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("pixels", ArrayType(ArrayType(DoubleType()))),
])


def sample_animation_frames(media: DataFrame, max_frames: int = 16,
                            on_error: str = "raise") -> DataFrame:
    """REAL frame sampling for the one animation format with a built-in
    codec: one row per composited frame of each animated (or still) GIF —
    frame index, GCE delay, and the [0, 1] grayscale raster, composited
    per the GIF89a disposal/transparency model (:func:`decode_gif_frames`).
    Non-GIF image rows pass through the quarantine taxonomy
    (NotImplementedError = missing codec) exactly like
    :func:`extract_image_features`; ``on_error="quarantine"`` turns
    per-row failures into NULL-frame rows with a ``status`` column.
    Arrow-batched ``mapInPandas`` — the row explosion (one input row ->
    ``<= max_frames`` output rows) happens executor-side, never on the
    driver."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', "
                         f"got {on_error!r}")
    quarantine = on_error == "quarantine"
    schema = (StructType(ANIMATION_FRAME_SCHEMA.fields
                         + [StructField("status", StringType())])
              if quarantine else ANIMATION_FRAME_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "frame_idx": [], "delay_cs": [],
                    "height": [], "width": [], "pixels": []}
            if quarantine:
                rows["status"] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                try:
                    if data[:6] not in (b"GIF87a", b"GIF89a"):
                        raise NotImplementedError(
                            "no built-in animation codec for this format: "
                            "the default sampler decodes GIF87a/89a — "
                            "inject a codec (e.g. ffmpeg-based) for video")
                    frames = decode_gif_frames(data, max_frames=max_frames)
                except Exception as e:  # noqa: BLE001 — quarantined per row
                    if not quarantine:
                        raise
                    rows["path"].append(path)
                    rows["frame_idx"].append(None)
                    rows["delay_cs"].append(None)
                    rows["height"].append(None)
                    rows["width"].append(None)
                    rows["pixels"].append(None)
                    rows["status"].append(_quarantine_status(e))
                    continue
                for idx, delay, raster in frames:
                    rows["path"].append(path)
                    rows["frame_idx"].append(idx)
                    rows["delay_cs"].append(delay)
                    rows["height"].append(len(raster))
                    rows["width"].append(len(raster[0]) if raster else 0)
                    rows["pixels"].append(raster)
                    if quarantine:
                        rows["status"].append("ok")
            yield pd.DataFrame(rows)

    img = media.filter(F.col("modality") == "image").select("path", "content")
    return img.mapInPandas(run, schema)


def _riff_chunks(data: bytes, start: int, end: int):
    """Iterate RIFF chunks in ``data[start:end)``: yields ``(fourcc,
    list_type_or_None, payload_start, payload_size)``. Chunks are
    ``fourcc | u32le size | payload | even-pad``; LIST/RIFF chunks carry
    a 4-byte list type at the head of their payload (Microsoft
    Multimedia Programming Interface spec / AVI RIFF form)."""
    import struct

    i = start
    while i + 8 <= end:
        fourcc = data[i:i + 4]
        size = struct.unpack_from("<I", data, i + 4)[0]
        payload = i + 8
        if payload + size > end:
            raise ValueError(
                f"RIFF chunk {fourcc!r} overruns container "
                f"(size {size} at offset {i})")
        if fourcc in (b"LIST", b"RIFF"):
            if size < 4:
                raise ValueError(f"RIFF list chunk shorter than its type "
                                 f"tag at offset {i}")
            yield fourcc, data[payload:payload + 4], payload + 4, size - 4
        else:
            yield fourcc, None, payload, size
        i = payload + size + (size & 1)          # chunks are word-aligned


def _avi_mjpeg_frames(content: bytes,
                      max_frames: int = 16) -> tuple[int, list[bytes]]:
    """Parse an AVI container and return ``(usec_per_frame,
    [jpeg_bytes, ...])`` for the first ``max_frames`` video frames of an
    MJPEG stream — the one video codec the built-in JPEG decoder already
    covers (VERDICT r9 #6: RIFF walk + ``_decode_jpeg`` per ``00dc``
    chunk). Taxonomy: not-an-AVI / truncated chunks raise ValueError;
    a non-MJPEG video stream raises NotImplementedError (inject an
    ffmpeg-backed sampler for real codecs). Frames inside ``rec ``
    grouping lists are walked too."""
    import struct

    data = bytes(content)
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI stream (missing RIFF/AVI header)")
    end = min(len(data), 8 + struct.unpack_from("<I", data, 4)[0])
    usec_per_frame = 0
    handler = None
    frames: list[bytes] = []

    def walk_movi(s: int, e: int) -> None:
        for cc, ltype, ps, sz in _riff_chunks(data, s, e):
            if len(frames) >= max_frames:
                return
            if cc == b"LIST" and ltype == b"rec ":
                walk_movi(ps, ps + sz)
            elif cc[2:4] in (b"dc", b"db") and cc[:2].isdigit():
                frames.append(data[ps:ps + sz])

    for cc, ltype, ps, sz in _riff_chunks(data, 12, end):
        if cc == b"LIST" and ltype == b"hdrl":
            for c2, lt2, p2, s2 in _riff_chunks(data, ps, ps + sz):
                if c2 == b"avih" and s2 >= 4:
                    usec_per_frame = struct.unpack_from("<I", data, p2)[0]
                elif c2 == b"LIST" and lt2 == b"strl":
                    for c3, _, p3, s3 in _riff_chunks(data, p2, p2 + s2):
                        if c3 == b"strh" and s3 >= 8 \
                                and data[p3:p3 + 4] == b"vids":
                            handler = data[p3 + 4:p3 + 8]
        elif cc == b"LIST" and ltype == b"movi":
            walk_movi(ps, ps + sz)
    if not frames:
        raise ValueError("AVI contains no video frame chunks (no movi "
                         "list or no ##dc/##db entries)")
    if not all(f[:2] == _JPEG_SIG for f in frames):
        h = (handler or b"?").decode("latin-1", "replace").strip("\x00")
        raise NotImplementedError(
            f"no built-in codec for AVI video stream (handler {h!r}): "
            "the default sampler decodes MJPEG (JPEG-per-frame) — inject "
            "an ffmpeg-backed decoder for other codecs")
    return usec_per_frame, frames


def decode_avi_frames(content: bytes, max_frames: int = 16
                      ) -> list[tuple[int, int, list[list[float]]]]:
    """MJPEG-in-AVI frame extraction: ``[(frame_idx, frame_ms, raster)]``
    — the real-codec twin of the byte-slice :func:`sample_frames`
    plumbing, exactly as :func:`decode_gif_frames` is for animation.
    Each ``00dc`` chunk runs through the built-in baseline/progressive
    JPEG decoder; ``frame_ms`` is the stream-clock timestamp from the
    container's dwMicroSecPerFrame."""
    usec, frames = _avi_mjpeg_frames(bytes(content), max_frames)
    return [(i, i * usec // 1000, _decode_jpeg(f))
            for i, f in enumerate(frames)]


VIDEO_FRAME_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_ms", IntegerType()),
    StructField("height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("pixels", ArrayType(ArrayType(DoubleType()))),
])


def sample_video_frames(media: DataFrame, max_frames: int = 16,
                        on_error: str = "raise") -> DataFrame:
    """REAL frame sampling for the one video container+codec pair with a
    built-in decoder (MJPEG-in-AVI): one row per decoded frame with its
    stream timestamp and [0, 1] grayscale raster. Everything else in the
    ``video`` modality quarantines with the missing-codec taxonomy when
    ``on_error="quarantine"`` — a 100 TB crawl routes H.264 to a status
    column, not a crash. Arrow-batched ``mapInPandas``; the row
    explosion happens executor-side."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', "
                         f"got {on_error!r}")
    quarantine = on_error == "quarantine"
    schema = (StructType(VIDEO_FRAME_SCHEMA.fields
                         + [StructField("status", StringType())])
              if quarantine else VIDEO_FRAME_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "frame_idx": [], "frame_ms": [],
                    "height": [], "width": [], "pixels": []}
            if quarantine:
                rows["status"] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    frames = decode_avi_frames(bytes(content), max_frames)
                except Exception as e:  # noqa: BLE001 — quarantined per row
                    if not quarantine:
                        raise
                    rows["path"].append(path)
                    for k in ("frame_idx", "frame_ms", "height", "width",
                              "pixels"):
                        rows[k].append(None)
                    rows["status"].append(_quarantine_status(e))
                    continue
                for idx, ms, raster in frames:
                    rows["path"].append(path)
                    rows["frame_idx"].append(idx)
                    rows["frame_ms"].append(ms)
                    rows["height"].append(len(raster))
                    rows["width"].append(len(raster[0]) if raster else 0)
                    rows["pixels"].append(raster)
                    if quarantine:
                        rows["status"].append("ok")
            yield pd.DataFrame(rows)

    vid = media.filter(F.col("modality") == "video").select("path", "content")
    return vid.mapInPandas(run, schema)


AudioDecoder = Callable[[bytes], "tuple[int, list[float]]"]


def decode_wav(content: bytes) -> tuple[int, list[float]]:
    """Default audio decode hook: stdlib-only RIFF/WAVE PCM parser (8-bit
    unsigned and 16-bit signed LE, any channel count — channels averaged to
    mono), the audio counterpart of :func:`decode_ppm_bmp`. Returns
    (sample_rate, samples in [-1, 1]). Compressed audio (MP3/AAC/float
    WAV) raises NotImplementedError until a codec is injected."""
    import struct

    content = bytes(content)
    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise NotImplementedError(
            f"no built-in codec for this audio format (magic "
            f"{content[:4]!r}): the default decoder handles RIFF/WAVE PCM — "
            "inject a decoder (e.g. soundfile-based) for compressed audio")
    fmt = None
    data = None
    i = 12
    while i + 8 <= len(content):
        cid = content[i:i + 4]
        csize = struct.unpack_from("<I", content, i + 4)[0]
        body = content[i + 8:i + 8 + csize]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_format, n_ch = struct.unpack_from("<HH", fmt, 0)
    rate = struct.unpack_from("<I", fmt, 4)[0]
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_format != 1 or bits not in (8, 16):
        raise NotImplementedError(
            f"only 8/16-bit integer PCM WAV is built in (format="
            f"{audio_format}, bits={bits}); inject a codec for others")
    if bits == 16:
        n = len(data) // 2
        frames = struct.unpack(f"<{n}h", data[:n * 2])
        scale = 32768.0
    else:
        frames = [b - 128 for b in data]
        scale = 128.0
    if n_ch > 1:  # average interleaved channels to mono
        usable = len(frames) // n_ch * n_ch
        samples = [sum(frames[k:k + n_ch]) / (n_ch * scale)
                   for k in range(0, usable, n_ch)]
    else:
        samples = [f / scale for f in frames]
    return rate, samples


def deterministic_fake_audio_decoder(content: bytes,
                                     sample_rate: int = 8000,
                                     n_samples: int = 1024):
    """Codec-free stand-in for an audio decoder: derive (sample_rate, PCM
    floats in [-1, 1]) from the byte content via sha256 expansion — stable
    across runs/machines so feature tests assert exact values."""
    out, counter = [], 0
    seed = hashlib.sha256(content).digest()
    while len(out) < n_samples:
        block = hashlib.sha256(seed + counter.to_bytes(4, "big")).digest()
        out.extend((b / 127.5) - 1.0 for b in block)
        counter += 1
    return sample_rate, out[:n_samples]


AUDIO_FEATURE_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("duration_s", DoubleType()),
    StructField("rms", DoubleType()),
    StructField("zero_crossing_rate", DoubleType()),
])


def extract_audio_features(media: DataFrame,
                           decoder: AudioDecoder | None = None,
                           on_error: str = "raise") -> DataFrame:
    """Decode -> feature-extract for audio rows (duration, RMS level,
    zero-crossing rate — the standard cheap audio-quality triage features).
    Same injectable-codec contract as ``extract_image_features``: None ->
    :func:`decode_wav` (stdlib RIFF/PCM), which raises NotImplementedError
    per-row for compressed formats until a codec is injected. Arrow-batched
    mapInPandas — the Spark-side shape is real regardless of codec.
    ``on_error="quarantine"`` adds a ``status`` column and NULL-features
    rows for failed decodes instead of aborting the job (see
    extract_image_features — same 100 TB rationale)."""
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be 'raise' or 'quarantine', "
                         f"got {on_error!r}")
    dec = decoder or decode_wav
    quarantine = on_error == "quarantine"
    schema = (StructType(AUDIO_FEATURE_SCHEMA.fields
                         + [StructField("status", StringType())])
              if quarantine else AUDIO_FEATURE_SCHEMA)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"path": [], "sample_rate": [], "duration_s": [],
                    "rms": [], "zero_crossing_rate": []}
            if quarantine:
                rows["status"] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                try:
                    rate, pcm = dec(bytes(content))
                except Exception as e:  # noqa: BLE001 — quarantined per row
                    if not quarantine:
                        raise
                    rows["path"].append(path)
                    rows["sample_rate"].append(None)
                    rows["duration_s"].append(None)
                    rows["rms"].append(None)
                    rows["zero_crossing_rate"].append(None)
                    rows["status"].append(_quarantine_status(e))
                    continue
                n = len(pcm) or 1
                rms = (sum(x * x for x in pcm) / n) ** 0.5
                zc = sum(1 for a, b in zip(pcm, pcm[1:])
                         if (a >= 0) != (b >= 0))
                rows["path"].append(path)
                rows["sample_rate"].append(rate)
                rows["duration_s"].append(len(pcm) / rate if rate else 0.0)
                rows["rms"].append(rms)
                rows["zero_crossing_rate"].append(zc / max(n - 1, 1))
                if quarantine:
                    rows["status"].append("ok")
            yield pd.DataFrame(rows)

    aud = media.filter(F.col("modality") == "audio").select("path", "content")
    return aud.mapInPandas(run, schema)
