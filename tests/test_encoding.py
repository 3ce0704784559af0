"""Charset sniffing + decode cascade (operators/encoding.py): BOM >
header > meta > utf-8 default, latin-1 rescue, totality on arbitrary
bytes, and the pipeline/report shapes."""

from __future__ import annotations

from thewhisperdb_spark.operators.encoding import (
    decode_payload_text,
    encoding_report,
    sniff_decode,
)


def test_sniff_decode_cascade():
    ru = "Привет мир"
    # BOM wins over a lying header
    t, e, s, fb = sniff_decode("﻿".encode("utf-16-le")
                               + ru.encode("utf-16-le"),
                               "text/html; charset=shift_jis")
    assert (t, e, s, fb) == (ru, "utf-16-le", "bom", False)
    t, e, s, fb = sniff_decode(codecs_utf8_sig(ru), None)
    assert (t, e, s, fb) == (ru, "utf-8-sig", "bom", False)
    # transport header
    t, e, s, fb = sniff_decode(ru.encode("cp1251"),
                               'text/html; charset="windows-1251"')
    assert (t, e, s, fb) == (ru, "cp1251", "header", False)
    # meta prescan (both syntaxes)
    html5 = b'<html><meta charset="koi8-r"><body>' + ru.encode("koi8-r")
    assert sniff_decode(html5, None)[:3] == (
        html5.decode("koi8-r"), "koi8-r", "meta")
    html4 = (b'<meta http-equiv="Content-Type" '
             b'content="text/html; charset=cp1251">' + ru.encode("cp1251"))
    assert sniff_decode(html4, None)[1:3] == ("cp1251", "meta")
    # clean utf-8 default
    assert sniff_decode(ru.encode(), None) == (ru, "utf-8", "default",
                                               False)
    # declared encoding that can't decode the bytes -> latin-1 rescue
    t, e, s, fb = sniff_decode(b"\xfd\xfe\xff garbage",
                               "text/plain; charset=utf-8")
    assert fb is True and e == "utf-8" and s == "header" and len(t) > 0
    # unknown label falls through the cascade, never raises
    t, e, s, fb = sniff_decode(ru.encode(), "text/html; charset=bogus-9")
    assert (e, s, fb) == ("utf-8", "default", False)
    # shift_jis via alias
    jp = "日本語テキスト"
    assert sniff_decode(jp.encode("shift_jis"),
                        "charset=x-sjis")[:2] == (jp, "shift_jis")


def test_sniff_decode_utf16le_leading_nul_keeps_bom_verdict():
    """FF FE 00 00 is the UTF-16LE BOM + U+0000, not a UTF-32LE BOM that
    would swallow the NUL; the UTF-32BE BOM is unambiguous and stays."""
    import codecs

    for text in ("\x00", "\x00a\x00", "\x00\x00\x00"):
        assert sniff_decode(codecs.BOM_UTF16_LE + text.encode("utf-16-le"),
                            None) == (text, "utf-16-le", "bom", False)
    assert sniff_decode(codecs.BOM_UTF32_BE + "hé".encode("utf-32-be"),
                        None) == ("hé", "utf-32-be", "bom", False)


def codecs_utf8_sig(s: str) -> bytes:
    import codecs

    return codecs.BOM_UTF8 + s.encode("utf-8")


def test_sniff_decode_total_on_fuzz():
    import random

    rng = random.Random(3)
    for _ in range(300):
        data = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 200)))
        ct = rng.choice([None, "text/html; charset=utf-16",
                         "charset=ebcdic-nope", "text/plain"])
        t, e, s, fb = sniff_decode(data, ct)
        assert isinstance(t, str)


def test_decode_payload_pipeline_and_report(spark):
    ru = "Русский текст для проверки"
    rows = [
        ("a", ru.encode("cp1251"), "text/html; charset=windows-1251"),
        ("b", ru.encode("utf-8"), "text/html"),
        ("c", b"\xfd\xfe\xff!", "text/html; charset=utf-8"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, payload binary, content_type string")
    out = {r["doc_id"]: r for r in decode_payload_text(df).collect()}
    assert out["a"]["text"] == ru and out["a"]["encoding"] == "cp1251"
    assert out["b"]["encoding_source"] == "default"
    assert out["c"]["encoding_fallback"] is True
    rep = {(r["encoding"], r["encoding_source"]): r
           for r in encoding_report(decode_payload_text(df)).collect()}
    assert rep[("cp1251", "header")]["n_docs"] == 1
    assert rep[("utf-8", "header")]["n_fallback"] == 1
