"""Byte and text helpers for crawled payloads, as Catalyst expressions.

- ``decode_html``: binary HTML → UTF-8 text with tags stripped.
- ``extract_text``: main-content extraction (script/style/comment
  removal, tag strip, entity unescape, whitespace collapse); the WARC
  reader calls it on response bodies.
- ``detect_charset``: BOM → ``<meta charset>`` → ASCII/windows-1252
  sniffing over the raw bytes.
- ``sniff_mime``: magic-byte MIME detection, trusted before any
  Content-Type header.

Each adds its output columns with map-only expressions: no UDF, no shuffle.
"""

from __future__ import annotations


def decode_html(df, html_col: str = "html", out_col: str = "html_text"):
    """binary HTML → text: decode UTF-8 and strip tags. Pure Catalyst
    (decode + regexp_replace), no Python."""
    from pyspark.sql import functions as F

    txt = F.decode(F.col(html_col), "UTF-8")
    return df.withColumn(out_col, F.regexp_replace(txt, "<[^>]*>", ""))


def extract_text(df, html_col: str = "html", out_col: str = "extracted",
                 binary: bool = True):
    """Main-content extraction from raw HTML — the boilerplate-removal
    step of a Common-Crawl text pipeline, as a pure Catalyst expression
    chain (regexp_replace only, RE2-compatible patterns, no UDF — this
    runs inside whole-stage codegen at the scan):

    1. drop ``<script>``/``<style>`` blocks (their text is code, not
       content) and HTML comments, non-greedy + dotall;
    2. strip the remaining tags;
    3. unescape the five core named entities (``&amp;`` LAST, so a
       double escape like ``&amp;lt;`` resolves exactly one level —
       the standard single-pass order);
    4. collapse whitespace runs to single spaces and trim.

    ``binary=True`` decodes the column from UTF-8 bytes first (the
    pages-table ``html: binary`` shape).
    """
    from pyspark.sql import functions as F

    s = F.decode(F.col(html_col), "UTF-8") if binary else F.col(html_col)
    for pat, rep in [
        (r"(?is)<script[^>]*>.*?</script>", ""),
        (r"(?is)<style[^>]*>.*?</style>", ""),
        (r"(?s)<!--.*?-->", ""),
        (r"<[^>]*>", ""),
        (r"&lt;", "<"),
        (r"&gt;", ">"),
        (r"&quot;", "\""),
        (r"&#39;|&apos;", "'"),
        (r"&amp;", "&"),
        (r"\s+", " "),
    ]:
        s = F.regexp_replace(s, pat, rep)
    return df.withColumn(out_col, F.trim(s))


# (magic-prefix, mime) in precedence order; RIFF subtypes need the
# format tag at offset 8, handled separately below.
_MAGIC_MIME = [
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"BM", "image/bmp"),
    (b"fLaC", "audio/flac"),
    (b"ID3", "audio/mpeg"),
    (b"\xff\xfb", "audio/mpeg"),
    (b"\xff\xf3", "audio/mpeg"),
    (b"%PDF-", "application/pdf"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x1f\x8b\x08", "application/gzip"),
    (b"<!DOCTYPE html", "text/html"),
    (b"<html", "text/html"),
]


def detect_charset(df, binary_col: str = "data",
                   out_col: str = "charset"):
    """Charset sniffing for crawled payloads — the decode-before-trust
    step every text pipeline needs (HTTP headers lie, and ~half the
    web's declared charsets disagree with the bytes). WHATWG-style
    precedence, simplified and fully deterministic:

    1. **BOM** (authoritative): UTF-32 LE/BE checked before UTF-16
       LE/BE (FF FE 00 00 starts with FF FE), then UTF-8's EF BB BF.
    2. **meta declaration**: the first ``charset=`` token inside a
       ``<meta ...>`` tag, matched case-insensitively over a latin-1
       view of the bytes (latin-1 is a total byte→char map, so the
       scan never throws on arbitrary binary), lowercased.
    3. **heuristic**: all bytes < 0x80 → ``ascii``; otherwise the
       WHATWG fallback ``windows-1252``. The all-ASCII test is a
       regexp over ``hex(bytes)`` — first nibble 0-7 for every pair —
       which keeps the check inside codegen for any blob.

    Output adds ``out_col`` and ``<out_col>_method`` in
    ('bom','meta','heuristic'); NULL input stays NULL. Map-only, no
    UDF, no shuffle — safe directly after the WARC scan at any scale.
    """
    from pyspark.sql import functions as F

    b = F.col(binary_col)

    def pre(nbytes, raw):
        return F.substring(b, 1, nbytes) == F.lit(
            bytearray(raw)).cast("binary")

    bom = (
        F.when(pre(4, b"\xff\xfe\x00\x00"), F.lit("utf-32le"))
        .when(pre(4, b"\x00\x00\xfe\xff"), F.lit("utf-32be"))
        .when(pre(2, b"\xff\xfe"), F.lit("utf-16le"))
        .when(pre(2, b"\xfe\xff"), F.lit("utf-16be"))
        .when(pre(3, b"\xef\xbb\xbf"), F.lit("utf-8"))
    )
    txt = F.lower(F.decode(b, "ISO-8859-1"))
    meta = F.regexp_extract(
        txt, r"<meta[^>]*charset\s*=\s*[\"']?([a-z0-9_:\-]+)", 1
    )
    ascii_only = F.hex(b).rlike("^(?:[0-7][0-9A-F])*$")
    charset = (
        F.when(bom.isNotNull(), bom)
        .when(meta != "", meta)
        .when(ascii_only, F.lit("ascii"))
        .otherwise(F.lit("windows-1252"))
    )
    method = (
        F.when(bom.isNotNull(), F.lit("bom"))
        .when(meta != "", F.lit("meta"))
        .otherwise(F.lit("heuristic"))
    )
    null = F.lit(None).cast("string")
    return df.withColumn(
        out_col, F.when(b.isNull(), null).otherwise(charset)
    ).withColumn(
        f"{out_col}_method", F.when(b.isNull(), null).otherwise(method)
    )


def sniff_mime(df, binary_col: str = "data", out_col: str = "mime"):
    """Content sniffing by magic bytes — the trust-the-bytes MIME
    detector a crawl pipeline runs BEFORE believing any Content-Type
    header (servers lie; WHATWG MIME-sniffing exists for exactly this
    reason). Pure Catalyst: the binary prefix is compared against the
    magic table as a folded CASE chain in codegen — map-only, no UDF,
    no shuffle. RIFF containers dispatch on the format tag at offset
    8 (WAVE→wav, AVI →avi); MP4 detects the ``ftyp`` box at offset 4.
    Unknown prefixes yield ``application/octet-stream``; NULL input
    stays NULL."""
    from pyspark.sql import functions as F

    b = F.col(binary_col)

    def pre(n):
        return F.substring(b, 1, n)

    expr = F.lit("application/octet-stream")
    # build the chain in REVERSE so earlier table rows win
    for magic, mime in reversed(_MAGIC_MIME):
        lit = F.lit(bytearray(magic)).cast("binary")
        expr = F.when(pre(len(magic)) == lit, F.lit(mime)).otherwise(expr)
    riff = pre(4) == F.lit(bytearray(b"RIFF")).cast("binary")
    tag = F.substring(b, 9, 4)
    expr = (
        F.when(riff & (tag == F.lit(bytearray(b"WAVE")).cast("binary")),
               F.lit("audio/wav"))
        .when(riff & (tag == F.lit(bytearray(b"AVI ")).cast("binary")),
              F.lit("video/x-msvideo"))
        .when(F.substring(b, 5, 4) == F.lit(bytearray(b"ftyp"))
              .cast("binary"), F.lit("video/mp4"))
        .otherwise(expr)
    )
    return df.withColumn(
        out_col, F.when(b.isNull(), F.lit(None).cast("string"))
        .otherwise(expr)
    )
