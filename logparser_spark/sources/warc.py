"""WARC (Web ARChive, ISO 28500) ingest — the container format
Common-Crawl-style corpora actually arrive in.

Two halves:

- ``synth_warc_records`` / ``synth_warc_files``: a pure-Catalyst
  synthesizer that renders each document row into a spec-shaped
  ``WARC/1.0`` response record (named WARC headers, exact
  ``Content-Length`` in octets, an embedded HTTP response) and packs
  consecutive records into file blobs — every field arithmetic in
  ``doc_id`` so a SQL oracle predicts the full parse output without
  running the parser. One record per ``doc_id % 17 == 0`` is emitted
  WITHOUT its ``Content-Length`` header — the unrecoverable-length
  corruption a real crawl segment contains.

- ``parse_warc``: an Arrow-batched ``mapInPandas`` byte walker that
  turns file blobs back into typed record rows: finds the record
  magic, parses the WARC header block (case-insensitive keys), slices
  exactly ``Content-Length`` payload octets, verifies the mandatory
  CRLF CRLF record terminator, splits the embedded HTTP response into
  status + body, and — on any malformed record — emits a
  ``valid = false`` row and RESYNCS at the next magic instead of
  aborting the file.

Scale shape: parsing is map-only (one Python codec stage, the same
boundary budget as the image/audio decoders — no shuffle, no driver
state). The resync-on-magic property is what makes the format
splittable in practice: a 1 GiB WARC segment can be read as
overlapping byte ranges, each range parsed from its first magic
onward, with range-head duplicates dropped by offset — the standard
Hadoop-input-format trick, which this walker supports by construction
since it never needs state before the magic it starts at.

Reference scope note: the reference engine ingests newline-framed log
files (``/root/reference/src/file_parsing/file_parser.cpp``); WARC is
the analogous framed source for the web-pages graft axis — same
source role (S1/S5 in SURVEY.md §2), record-framed instead of
line-framed.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

MAGIC = b"WARC/1.0\r\n"

WARC_SCHEMA = (
    "file_id long, rec_no int, warc_type string, target_uri string, "
    "record_id string, content_length long, http_status int, "
    "payload string, valid boolean"
)


def synth_warc_records(docs, id_col: str = "doc_id",
                       text_col: str = "text"):
    """Render each document as one WARC/1.0 response record (string
    column ``rec``): deterministic target URI / date / record id,
    HTTP 200 (or 404 on ``doc_id % 11 == 0``) wrapping the document
    text in minimal HTML, ``Content-Length`` in octets — and the
    header OMITTED entirely on ``doc_id % 17 == 0`` (the planted
    corruption). Pure Catalyst concat; no Python."""
    from pyspark.sql import functions as F

    i = F.col(id_col)
    crlf = "\r\n"
    status_line = F.when(i % 11 == 0, F.lit("HTTP/1.1 404 Not Found")) \
        .otherwise(F.lit("HTTP/1.1 200 OK"))
    http_block = F.concat(
        status_line, F.lit(crlf),
        F.lit("Content-Type: text/html; charset=utf-8"), F.lit(crlf),
        F.lit(crlf),
        F.lit("<html><body>"), F.col(text_col), F.lit("</body></html>"),
    )
    clen_header = F.when(
        i % 17 == 0, F.lit("")
    ).otherwise(
        F.concat(F.lit("Content-Length: "),
                 F.octet_length(http_block).cast("string"), F.lit(crlf))
    )
    rec = F.concat(
        F.lit("WARC/1.0"), F.lit(crlf),
        F.lit("WARC-Type: response"), F.lit(crlf),
        F.lit("WARC-Target-URI: http://site"), (i % 50).cast("string"),
        F.lit(".com/page/"), i.cast("string"), F.lit(crlf),
        F.lit("WARC-Date: 2024-01-"),
        F.lpad(((i % 28) + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z"), F.lit(crlf),
        F.lit("WARC-Record-ID: <urn:uuid:"),
        F.lpad(i.cast("string"), 32, "0"), F.lit(">"), F.lit(crlf),
        F.lit("Content-Type: application/http; msgtype=response"),
        F.lit(crlf),
        clen_header,
        F.lit(crlf),
        http_block,
        F.lit(crlf), F.lit(crlf),
    )
    return docs.select(i.alias(id_col), rec.alias("rec"))


def synth_warc_files(docs, per_file: int = 8, id_col: str = "doc_id",
                     text_col: str = "text"):
    """Pack consecutive records (``doc_id div per_file``) into binary
    file blobs ``(file_id, warc)`` — records concatenated in doc_id
    order, UTF-8 encoded once per file. One bounded groupBy (files are
    ``per_file`` records wide by construction, so collect_list is
    O(per_file), never a whole-partition blowup).

    ``per_file`` contract: this is a TEST-FIXTURE synthesizer — keep
    ``per_file`` small (≤ ~100). A real WARC segment holds ~10^5
    records/GB; at that width the collect_list rows become GB-sized
    and the groupBy shuffles whole files as single rows. Real
    segments are READ (``parse_warc``), never synthesized this way."""
    from pyspark.sql import functions as F

    recs = synth_warc_records(docs, id_col=id_col, text_col=text_col)
    return (
        recs.groupBy(
            F.expr(f"{id_col} div {per_file}").cast("long")
            .alias("file_id")
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col), F.col("rec")))
            ).alias("__recs")
        )
        .select(
            "file_id",
            F.encode(
                F.array_join(
                    F.transform(F.col("__recs"), lambda s: s["rec"]), ""
                ),
                "UTF-8",
            ).alias("warc"),
        )
    )


def _parse_warc_buffer(buf: bytes):
    """Walk one WARC blob; yield per-record tuples
    ``(warc_type, target_uri, record_id, content_length, http_status,
    payload, valid)``. Malformed records (missing/invalid
    Content-Length, missing CRLF CRLF terminator, truncation) yield
    ``valid=False`` and the walk resyncs at the next magic."""
    pos = buf.find(MAGIC)
    while pos != -1:
        hdr_end = buf.find(b"\r\n\r\n", pos)
        if hdr_end == -1:
            # header truncated at EOF: emit what we can, stop
            yield (None, None, None, None, None, None, False)
            return
        headers: dict[str, str] = {}
        for line in buf[pos + len(MAGIC):hdr_end].split(b"\r\n"):
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = \
                    v.strip().decode("utf-8", "replace")
        warc_type = headers.get("warc-type")
        uri = headers.get("warc-target-uri")
        rec_id = headers.get("warc-record-id")
        body_start = hdr_end + 4

        clen: Optional[int] = None
        raw_clen = headers.get("content-length")
        if raw_clen is not None and raw_clen.isdigit():
            clen = int(raw_clen)

        ok = clen is not None
        payload = None
        if ok:
            payload = buf[body_start:body_start + clen]
            # the spec's record terminator: exactly two CRLFs after
            # Content-Length octets. Anything else means the length
            # lied or the record is truncated.
            ok = (
                len(payload) == clen
                and buf[body_start + clen:body_start + clen + 4]
                == b"\r\n\r\n"
            )

        status = None
        body_text = None
        if ok:
            http_end = payload.find(b"\r\n\r\n")
            first_line = payload.split(b"\r\n", 1)[0]
            parts = first_line.split(b" ")
            if (
                http_end != -1
                and len(parts) >= 2
                and parts[0].startswith(b"HTTP/")
                and parts[1].isdigit()
            ):
                status = int(parts[1])
                body_text = payload[http_end + 4:].decode(
                    "utf-8", "replace"
                )
            else:
                ok = False

        yield (warc_type, uri, rec_id,
               clen if ok else None, status, body_text, ok)

        if ok:
            pos = buf.find(MAGIC, body_start + clen + 4)
        else:
            # resync: skip this record's header block, hunt the next
            # magic (an unknown-length payload cannot be skipped
            # exactly — the magic IS the frame boundary)
            pos = buf.find(MAGIC, body_start)


def parse_warc(files, binary_col: str = "warc",
               file_col: str = "file_id"):
    """mapInPandas stage: WARC file blobs → one typed row per record
    (``WARC_SCHEMA``), ``rec_no`` numbering records in file order.
    Map-only; see module docstring for the split/resync story."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fid, buf in zip(pdf[file_col], pdf[binary_col]):
                b = bytes(buf) if buf is not None else b""
                for n, rec in enumerate(_parse_warc_buffer(b)):
                    rows.append((fid, n) + rec)
            yield pd.DataFrame(
                rows,
                columns=[file_col, "rec_no", "warc_type", "target_uri",
                         "record_id", "content_length", "http_status",
                         "payload", "valid"],
            )

    return files.select(file_col, binary_col).mapInPandas(
        fn, WARC_SCHEMA
    )


def to_wet(records, payload_col: str = "payload"):
    """WARC response records → WET-style conversion rows (the Common
    Crawl "extracted text" product): valid records only, HTML payload
    reduced to main text with the pure-Catalyst extractor
    (``multimodal.extract_text`` — tag/script/entity/whitespace
    rules), identity columns carried through. Map-only over the parse
    output; the WARC→WET derivation is one projection, exactly how a
    crawl pipeline materializes its text table."""
    from pyspark.sql import functions as F

    from logparser_spark.operators.multimodal import extract_text

    valid = records.where(
        F.col("valid") & F.col("http_status").isNotNull()
    )
    return extract_text(
        valid, html_col=payload_col, out_col="wet_text", binary=False
    ).select("file_id", "rec_no", "target_uri", "record_id", "wet_text")


def http_headers(records, payload_col: str = "payload",
                 id_col: str = "record_id"):
    """HTTP header table from WARC response payloads: one row per
    header line in the head block (everything before the first blank
    line), ``(record_id, seq, name, value)`` with ``name`` lowercased
    (RFC 9110: field names are case-insensitive; values kept verbatim,
    surrounding whitespace trimmed). The status line is excluded;
    continuation folding (obs-fold) is deliberately out of scope —
    modern crawls reject folded headers.

    Pure Catalyst: split head block → posexplode lines → one regexp
    per row. Map-only, no UDF; the downstream aggregate (e.g.
    content-type histograms) owns any shuffle."""
    from pyspark.sql import functions as F

    head = F.split(F.col(payload_col), r"\r?\n\r?\n", 2).getItem(0)
    lines = records.select(
        F.col(id_col),
        F.posexplode(F.split(head, r"\r?\n")).alias("seq", "__l"),
    ).where(F.col("seq") > 0)  # drop the status line
    name = F.regexp_extract("__l", r"^([!#$%&'*+.^_`|~0-9A-Za-z-]+):", 1)
    value = F.trim(F.regexp_extract("__l", r"^[^:]+:(.*)$", 1))
    return (
        lines.select(
            id_col,
            F.col("seq").cast("long"),
            F.lower(name).alias("name"),
            value.alias("value"),
        )
        .where(F.col("name") != "")
    )
