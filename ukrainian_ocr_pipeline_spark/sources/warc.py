"""WARC ingestion: the Common-Crawl first mile.

The engine's canonical input is an Iceberg/parquet `pages` table
(sources/pages.py), but a real web corpus arrives as WARC files —
Common Crawl publishes ~64k gzip'd WARC files per crawl, each ~1 GB of
concatenated records.  This module turns a directory of `.warc` /
`.warc.gz` files into that pages table.

Reference analog: the OCR pipeline's first mile is "directory of image
files -> validated batch" (`ukrainian_ocr/utils/io.py:74-107`,
`core/batch_processor.py:164-193`); the web-tier analog is "directory
of WARC files -> validated page rows".

Scale shape
-----------
* `spark.read.format("binaryFile")` — one row (and one task) per WARC
  file.  WARC files are NOT byte-splittable (per-record gzip members,
  no sync markers), so the file is the parallelism unit — exactly how
  production Spark jobs process Common Crawl: 64k files >> executor
  count, so granularity is fine without intra-file splits.
* Parsing runs in `mapInPandas` (one Arrow batch of files in, page
  rows out) — streaming per file, never materializing more than one
  record's payload plus the undecoded tail.
* Per-record error capture, never task failure (the P6 idiom): a
  record with a corrupt Content-Length or truncated payload yields a
  row with `error` set, and the parser RESYNCS at the next record
  boundary so one bad record cannot poison the rest of a 1 GB file.

The record codec (build/parse) is pure Python and dependency-free, so
the same functions serve the Spark workers, the pytest suite, and the
deterministic fixture writer — and the registry's `warc_roundtrip`
oracle query certifies build->parse identity against a DuckDB twin
that recomputes every field relationally.
"""

from __future__ import annotations

import gzip
import io
import zlib
from typing import Iterable, Iterator

import pandas as pd

from pyspark.sql import (DataFrame, SparkSession, Window, functions as F,
                         types as T)

CRLF = b"\r\n"
_MAGIC = b"WARC/1.0"
# resync boundary: records are terminated by CRLF CRLF, the next one
# starts with the version line
_BOUNDARY = CRLF + CRLF + _MAGIC + CRLF

#: hard cap on a single record's declared payload (guards a corrupt
#: Content-Length from allocating unbounded memory in an executor)
MAX_RECORD_BYTES = 1 << 30


# --------------------------------------------------------------------------
# pure-Python record codec (shared: Spark workers / tests / fixtures)

def build_record(warc_type: str, payload: bytes, *, url: str | None = None,
                 date: str | None = None, record_id: str | None = None,
                 content_type: str | None = None,
                 extra_headers: dict[str, str] | None = None) -> bytes:
    """Serialize one WARC/1.0 record: header block + CRLFCRLF + payload
    + CRLFCRLF.  Content-Length is computed, never trusted from the
    caller."""
    headers: list[tuple[str, str]] = [("WARC-Type", warc_type)]
    if url is not None:
        headers.append(("WARC-Target-URI", url))
    if date is not None:
        headers.append(("WARC-Date", date))
    if record_id is not None:
        headers.append(("WARC-Record-ID", record_id))
    if content_type is not None:
        headers.append(("Content-Type", content_type))
    for k, v in (extra_headers or {}).items():
        if k.strip().lower() == "content-length":
            # framing-critical: the computed value below is the only
            # one allowed — a caller-supplied one would desync parsers
            raise ValueError("extra_headers may not set Content-Length")
        headers.append((k, v))
    headers.append(("Content-Length", str(len(payload))))
    # a header NAME or VALUE carrying CR/LF (dirty crawl URL,
    # adversarial input) would inject forged header lines — strip BOTH
    # sides, never trust
    def _clean(s: str) -> str:
        return s.replace(chr(13), "").replace(chr(10), "")
    head = _MAGIC + CRLF + CRLF.join(
        f"{_clean(k)}: {_clean(v)}".encode("utf-8") for k, v in headers)
    return head + CRLF + CRLF + payload + CRLF + CRLF


def build_http_response(body: bytes, *, status: int = 200,
                        reason: str = "OK",
                        content_type: str = "text/html; charset=utf-8"
                        ) -> bytes:
    """Serialize the HTTP response block a WARC `response` record
    carries as its payload (status line + headers + CRLFCRLF + body)."""
    head = (f"HTTP/1.1 {status} {reason}\r\n"
            f"Content-Type: {content_type}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode("utf-8")
    return head + body


def split_http_response(payload: bytes
                        ) -> tuple[int | None, str | None, bytes]:
    """Split a response record's HTTP payload into (status,
    content_type, body).  A payload that does not start with an HTTP
    status line is returned whole as the body (status None) — some
    archivers store raw bodies."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    # CRLF-delimited head first (the spec form), bare-LF as fallback:
    # some servers emit LF-only header lines, RFC 7230 parsers tolerate
    # them, and archivers capture them verbatim — without the fallback
    # such a capture got status None and vanished from the pages table
    # with no error accounting
    sep = payload.find(b"\r\n\r\n")
    if sep >= 0:
        head, body = payload[:sep], payload[sep + 4:]
    else:
        sep = payload.find(b"\n\n")
        if sep < 0:
            return None, None, payload
        head, body = payload[:sep], payload[sep + 2:]
    lines = [ln.rstrip(b"\r") for ln in head.split(b"\n")]
    parts = lines[0].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, payload
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode("utf-8", "replace")
            break
    return status, ctype, body


def _parse_header_block(block: bytes) -> dict[str, str]:
    # FIRST occurrence wins, matching conformant parsers (warcio,
    # wget): last-wins would let a crafted duplicate Content-Length
    # frame records differently here than in standard replay/index
    # tools — the classic header-smuggling desync
    headers: dict[str, str] = {}
    for ln in block.split(CRLF):
        k, sep, v = ln.partition(b":")
        if sep:
            headers.setdefault(
                k.strip().lower().decode("utf-8", "replace"),
                v.strip().decode("utf-8", "replace"))
    return headers


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Parse concatenated WARC/1.0 records from `data`.

    Yields one dict per record: {offset, warc_type, url, date,
    record_id, content_type, content_length, payload, error}.  On a
    malformed record (bad magic, unparseable/oversized Content-Length,
    truncated payload) the dict carries `error` and payload None, and
    parsing resyncs at the next record boundary — per-record error
    capture, task never fails."""
    pos, n = 0, len(data)
    while pos < n:
        # skip inter-record padding (trailing CRLFs / stray bytes after
        # a resync)
        nxt = data.find(_MAGIC, pos)
        if nxt < 0:
            if data[pos:].strip(b"\r\n"):
                yield {"offset": pos, "error": "trailing garbage",
                       "payload": None}
            return
        if data[pos:nxt].strip(b"\r\n"):
            yield {"offset": pos, "error": "garbage before record",
                   "payload": None}
        pos = nxt
        head_end = data.find(CRLF + CRLF, pos)
        if head_end < 0:
            yield {"offset": pos, "error": "unterminated header block",
                   "payload": None}
            return
        headers = _parse_header_block(data[pos + len(_MAGIC) + 2:head_end])
        rec = {
            "offset": pos,
            "warc_type": headers.get("warc-type"),
            "url": headers.get("warc-target-uri"),
            "date": headers.get("warc-date"),
            "record_id": headers.get("warc-record-id"),
            "content_type": headers.get("content-type"),
            "content_length": None,
            "payload": None,
            "error": None,
        }
        try:
            raw_cl = headers["content-length"]
            # strict ASCII digits only: bare int() accepts underscores,
            # '+', and non-ASCII unicode digits — framings every
            # spec-conformant WARC parser rejects (interop desync)
            if not (raw_cl.isascii() and raw_cl.isdigit()):
                raise ValueError(f"non-numeric content-length {raw_cl!r}")
            clen = int(raw_cl)
            if clen > MAX_RECORD_BYTES:
                raise ValueError(f"content-length {clen} out of range")
        except (KeyError, ValueError) as exc:
            rec["error"] = f"bad Content-Length: {exc}"
            yield rec
            pos = _resync(data, head_end + 4)
            continue
        body_start = head_end + 4
        if body_start + clen > n:
            # Either true end-of-file truncation OR a corrupt (but
            # in-range) Content-Length mid-file: resync rather than
            # return, so one bad length cannot discard every record
            # that follows it.  At genuine EOF _resync finds no
            # boundary and the loop terminates anyway.
            rec["error"] = (f"truncated payload: need {clen} bytes, "
                            f"{n - body_start} left")
            yield rec
            pos = _resync(data, body_start)
            continue
        rec["content_length"] = clen
        rec["payload"] = data[body_start:body_start + clen]
        yield rec
        pos = body_start + clen
        # consume the record terminator if present; if the writer
        # omitted it, the magic-scan at loop top resyncs anyway
        if data[pos:pos + 4] == CRLF + CRLF:
            pos += 4


def _resync(data: bytes, pos: int) -> int:
    """Position of the next record boundary at/after `pos` (used after
    a record whose declared length cannot be trusted)."""
    b = data.find(_BOUNDARY, pos)
    return len(data) if b < 0 else b + 4


def decompress_warc(data: bytes) -> bytes:
    """Decompress a `.warc.gz` of concatenated per-record gzip members
    (the Common Crawl layout) into plain WARC bytes.  Python's gzip
    handles member concatenation natively.  All-or-nothing: one bad
    member fails the whole call — the Spark reader uses
    :func:`decompress_warc_prefix` instead, which recovers the valid
    prefix."""
    return gzip.decompress(data)


# per-file decompressed-size cap: MAX_RECORD_BYTES guards a corrupt
# Content-Length, but a small gzip bomb (~1000:1) would blow past it
# at the decompress step; cap the accumulated output instead of dying
MAX_DECOMPRESSED_BYTES = 4 << 30


def decompress_warc_prefix(data: bytes) -> tuple[bytes, str | None]:
    """Decompress a `.warc.gz` member by member, returning
    (valid_prefix_bytes, error_or_None).

    CC files are per-RECORD gzip members precisely so records are
    independently recoverable; gzip.decompress is all-or-nothing, so a
    single truncated/corrupt member (a cut download tail) would
    discard ~50k good records as one error row.  Here every member
    before the bad one survives; the bad member becomes the returned
    error (resync past a corrupt member is not attempted — deflate
    gives no reliable next-member boundary)."""
    out: list[bytes] = []
    total, pos, n = 0, 0, len(data)
    while pos < n:
        d = zlib.decompressobj(zlib.MAX_WBITS | 16)
        try:
            chunk = d.decompress(data[pos:])
        except zlib.error as exc:
            return b"".join(out), f"gzip member at byte {pos}: {exc}"
        if not d.eof:
            return b"".join(out), (f"gzip member at byte {pos}: "
                                   "truncated member")
        total += len(chunk)
        if total > MAX_DECOMPRESSED_BYTES:
            return b"".join(out), (f"decompressed size exceeds "
                                   f"{MAX_DECOMPRESSED_BYTES} bytes cap")
        out.append(chunk)
        consumed = (n - pos) - len(d.unused_data)
        if consumed <= 0:  # defensive: cannot loop in place
            return b"".join(out), f"gzip member at byte {pos}: no progress"
        pos += consumed
    return b"".join(out), None


def compress_warc_members(records: Iterable[bytes]) -> bytes:
    """Compress records as concatenated gzip members (one member per
    record — the CC layout, which lets an index seek to a record
    without decompressing the file).  mtime pinned to 0 so fixture
    bytes are deterministic."""
    out = io.BytesIO()
    for rec in records:
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(rec)
        out.write(buf.getvalue())
    return out.getvalue()


# --------------------------------------------------------------------------
# Spark reader

WARC_RECORDS_SCHEMA = T.StructType([
    T.StructField("warc_file", T.StringType(), False),
    T.StructField("record_offset", T.LongType(), False),
    T.StructField("warc_type", T.StringType(), True),
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_date", T.StringType(), True),
    T.StructField("record_id", T.StringType(), True),
    T.StructField("http_status", T.IntegerType(), True),
    T.StructField("http_content_type", T.StringType(), True),
    T.StructField("content_length", T.LongType(), True),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("error", T.StringType(), True),
])


def _records_of_file(path: str, content: bytes) -> Iterator[dict]:
    if path.endswith((".wacz", ".zip")):
        # WACZ delivery: walk the ZIP, recurse into every *.warc /
        # *.warc.gz member with `archive!member` lineage paths so a
        # corrupt member inside a 10k-archive crawl is locatable
        any_member = False
        for e in iter_zip_entries(content):
            if not e["name"].endswith((".warc", ".warc.gz")):
                continue
            any_member = True
            mpath = f"{path}!{e['name']}"
            if e["data"] is None:
                yield {"warc_file": mpath, "record_offset": 0,
                       "warc_type": None, "url": None, "warc_date": None,
                       "record_id": None, "http_status": None,
                       "http_content_type": None, "content_length": None,
                       "payload": None,
                       "error": "zip: member failed to decode"}
                continue
            yield from _records_of_file(mpath, e["data"])
        if not any_member:
            yield {"warc_file": path, "record_offset": 0,
                   "warc_type": None, "url": None, "warc_date": None,
                   "record_id": None, "http_status": None,
                   "http_content_type": None, "content_length": None,
                   "payload": None,
                   "error": "wacz: no WARC members in archive"}
        return
    gz_error = None
    if path.endswith(".gz"):
        # member-by-member: the valid prefix parses normally, the bad
        # member (if any) becomes ONE trailing error row — not a
        # whole-file loss
        content, gz_error = decompress_warc_prefix(content)
    n_yielded = 0
    for rec in iter_warc_records(content):
        n_yielded += 1
        status = ctype = body = None
        if rec.get("payload") is not None and rec.get("warc_type") == "response":
            status, ctype, body = split_http_response(rec["payload"])
        yield {
            "warc_file": path,
            "record_offset": rec["offset"],
            "warc_type": rec.get("warc_type"),
            "url": rec.get("url"),
            "warc_date": rec.get("date"),
            "record_id": rec.get("record_id"),
            "http_status": status,
            "http_content_type": ctype,
            "content_length": rec.get("content_length"),
            "payload": body if body is not None else rec.get("payload"),
            "error": rec.get("error"),
        }
    if gz_error is not None:
        n_yielded += 1
        yield {"warc_file": path, "record_offset": len(content),
               "warc_type": None, "url": None, "warc_date": None,
               "record_id": None, "http_status": None,
               "http_content_type": None, "content_length": None,
               "payload": None, "error": f"gzip: {gz_error}"}
    if n_yielded == 0:
        # A 0-byte / record-free file must still produce one lineage
        # row, or it silently disappears from the per-file ingest log.
        yield {"warc_file": path, "record_offset": 0,
               "warc_type": None, "url": None, "warc_date": None,
               "record_id": None, "http_status": None,
               "http_content_type": None, "content_length": None,
               "payload": None, "error": "empty file: no WARC records"}


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory/glob of `.warc` / `.warc.gz` files into one row
    per WARC record.

    binaryFile gives one input row per file (files never split —
    correct for WARC); `mapInPandas` streams each file through the
    pure-Python parser, emitting CHUNKED DataFrames (256 records at a
    time) so the task never holds every parsed payload of a multi-GB
    file simultaneously.  (The decompressed byte buffer itself is
    still whole-file — the resync parser needs one contiguous view —
    capped by MAX_DECOMPRESSED_BYTES.)  For response records the HTTP
    block is split off: `payload` is the entity body, `http_status`/
    `http_content_type` the response metadata."""
    bins = (spark.read.format("binaryFile").load(path)
            .select("path", "content"))

    def parse(batches):
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                buf = []
                for row in _records_of_file(path_, bytes(content)):
                    buf.append(row)
                    if len(buf) >= 256:
                        yield pd.DataFrame(buf)
                        buf = []
                if buf:
                    yield pd.DataFrame(buf)

    return bins.mapInPandas(parse, WARC_RECORDS_SCHEMA)


def pages_from_warc(records: DataFrame) -> DataFrame:
    """Project parsed WARC records onto the canonical pages schema
    (url, warc_ts, html, text, lang) — the input_hint table shape.

    Keeps only clean `response` records that carry a target URI; the
    HTTP 200 filter drops redirects/errors the way a crawl-extraction
    job would.  text/lang start NULL — they are what the extraction
    pipeline fills in."""
    return (records
            .where((F.col("warc_type") == "response")
                   & F.col("error").isNull()
                   & F.col("url").isNotNull()
                   & (F.col("http_status") == 200))
            .select(
                F.col("url"),
                # try_to_timestamp, NOT to_timestamp: under Spark 4's
                # default ANSI mode a single malformed WARC-Date would
                # otherwise throw and kill the whole ingest job.  The
                # pattern uses XXX (offset, accepts 'Z' AS UTC) — a
                # literal-'Z' pattern would read the wall time in the
                # SESSION timezone and shift every warc_ts on non-UTC
                # sessions (reproduced: +02:00 shift under
                # Europe/Kyiv).  The fallbacks accept fractional
                # seconds (WARC 1.1) then anything the default parser
                # takes.
                F.coalesce(
                    F.try_to_timestamp(F.col("warc_date"),
                                       F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
                    F.try_to_timestamp(F.col("warc_date"),
                                       F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
                    F.try_to_timestamp(F.col("warc_date")),
                ).alias("warc_ts"),
                F.col("payload").alias("html"),
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
            ))


# --------------------------------------------------------------------------
# deterministic fixture writer (tests / ingest-job verification)

def write_fixture_warc(path: str, rows: Iterable[dict], *,
                       gz: bool = False, warcinfo: bool = True) -> str:
    """Write rows [{url, date, html(bytes), status?}] as one WARC file
    with the realistic record mix: a warcinfo header record, then a
    request + response pair per page."""
    records: list[bytes] = []
    if warcinfo:
        records.append(build_record(
            "warcinfo", b"software: ukrainian-ocr-pipeline-spark\r\n",
            date="2024-01-01T00:00:00Z",
            record_id="<urn:uuid:warcinfo-0>",
            content_type="application/warc-fields"))
    for i, row in enumerate(rows):
        records.append(build_record(
            "request",
            (f"GET {row['url']} HTTP/1.1\r\nHost: x\r\n\r\n").encode(),
            url=row["url"], date=row["date"],
            record_id=f"<urn:uuid:req-{i}>",
            content_type="application/http; msgtype=request"))
        http = build_http_response(row["html"],
                                   status=row.get("status", 200))
        records.append(build_record(
            "response", http, url=row["url"], date=row["date"],
            record_id=row.get("record_id", f"<urn:uuid:resp-{i}>"),
            content_type="application/http; msgtype=response"))
    data = (compress_warc_members(records) if gz
            else b"".join(records))
    with open(path, "wb") as f:
        f.write(data)
    return path


def build_wet_record(url: str | None, date: str | None,
                     text: str | None) -> bytes:
    """One WET-style ``conversion`` record (the Common Crawl text
    sidecar format): the extracted plain text as a UTF-8 payload,
    WARC-Target-URI/WARC-Date threaded from the source fetch.  Built
    by the same codec the ingestion parser certifies, so export and
    ingest are inverses by construction."""
    return build_record("conversion", (text or "").encode("utf-8"),
                        url=url, date=date, content_type="text/plain")


def wet_records(extracted: DataFrame, url_col: str = "url",
                ts_col: str = "warc_ts",
                text_col: str = "extracted_text") -> DataFrame:
    """(url, wet_record binary) over an extracted-text table — the
    archival export of an extraction snapshot.  Each row is one
    standalone WARC/1.0 conversion record; a downstream archiver
    concatenates rows (optionally as per-record gzip members, the CC
    layout — compress_warc_members) into .warc.wet.gz files, so the
    engine never writes raw files from executors.

    Python by design (byte-level record assembly), Arrow-batched; the
    scan prunes to three columns and there is no shuffle at all."""
    @F.pandas_udf(T.BinaryType())
    def mk(u: pd.Series, d: pd.Series, t: pd.Series) -> pd.Series:
        return pd.Series(
            [build_wet_record(a, b, c) for a, b, c in zip(u, d, t)],
            dtype=object)

    date = _utc_date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    return extracted.select(
        F.col(url_col).alias("url"),
        mk(F.col(url_col), date, F.col(text_col)).alias("wet_record"))


def _json_escaped(c) -> F.Column:
    """JSON string-escape as a literal replace chain: backslash FIRST,
    then the double quote, then the three controls JSON has two-char
    escapes for (\\r, \\n, \\t — hrefs legally wrap across source
    lines, so a captured link CAN carry them).  Any other C0 control
    (never meaningful in a URI or a normalized title) is deleted
    rather than \\u-encoded, keeping the whole transform a literal
    replace chain + one character-class regexp that the DuckDB twin
    reproduces exactly."""
    out = c
    for find, repl in (("\\", "\\\\"), ('"', '\\"'), ("\r", "\\r"),
                       ("\n", "\\n"), ("\t", "\\t")):
        out = F.replace(out, F.lit(find), F.lit(repl))
    return F.regexp_replace(out, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")


def wat_records(pages: DataFrame, url_col: str = "url",
                ts_col: str = "warc_ts",
                html_col: str = "html") -> DataFrame:
    """(url, n_links, wat_record string) over a raw pages table — the
    WAT metadata sidecar (the third Common Crawl sidecar next to WET
    text and the CDX index): per capture, one WARC/1.0 ``metadata``
    record whose JSON payload carries the envelope headers
    (Target-URI, Date) plus the parsed page metadata — the
    whitespace-normalized <title> and every href target in document
    order (relative links included; WAT records the raw link
    structure, canonicalization is the link-graph consumer's job —
    webnorm.outlink_host_edges).

    Unlike the WET assembler (a bytes UDF), this is pure built-ins end
    to end: regexp title/href extraction, a transform() over the link
    array for the JSON objects, octet_length for Content-Length, one
    concat for the framing — scan speed, codegen, zero Python, zero
    shuffle, so it runs as a free sidecar pass over any corpus size.
    Header order matches build_record (Type, Target-URI, Date,
    Content-Type, Content-Length), so ``record.encode('utf-8')``
    parses back through iter_warc_records — export and ingest stay
    inverses.  The record is returned as a string column; a sink
    UTF-8-encodes it (Content-Length already counts payload BYTES)."""
    from ..operators.webnorm import HREF_PATTERN, TITLE_PATTERN, _norm_ws

    h = F.coalesce(F.col(html_col).cast("string"), F.lit(""))
    title = _norm_ws(F.regexp_extract(h, TITLE_PATTERN, 1))
    # a Target-URI carrying CR/LF would inject forged header lines into
    # the record framing — strip them once, use everywhere
    uri = F.regexp_replace(F.col(url_col), "[\\r\\n]", "")
    links = F.regexp_extract_all(h, F.lit(HREF_PATTERN), F.lit(1))
    links_json = F.concat_ws(",", F.transform(
        links, lambda l: F.concat(F.lit('{"url":"'), _json_escaped(l),
                                  F.lit('"}'))))
    # pages_from_warc keeps rows whose WARC-Date failed to parse
    # (warc_ts NULL); concat null-propagates, so without the coalesce
    # the ENTIRE wat_record would silently become NULL for such a row
    # — render an empty Date value instead (record stays parseable)
    date = F.coalesce(
        _utc_date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit(""))
    payload = F.concat(
        F.lit('{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"'),
        _json_escaped(uri),
        F.lit('","WARC-Date":"'), date,
        F.lit('"},"Payload-Metadata":{"HTML-Metadata":{"Head":{"Title":"'),
        _json_escaped(title),
        F.lit('"},"Links":['), links_json, F.lit(']}}}}'))
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: "),
        uri,
        F.lit("\r\nWARC-Date: "), date,
        F.lit("\r\nContent-Type: application/json\r\nContent-Length: "),
        F.octet_length(payload).cast("string"),
        F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"))
    return pages.select(
        F.col(url_col).alias("url"),
        F.size(links).cast("int").alias("n_links"),
        record.alias("wat_record"))


def _utc_date_format(ts: F.Column, fmt: str) -> F.Column:
    """date_format rendered in UTC regardless of the session timezone.
    Archival headers hardcode a 'Z'/UTC meaning, but date_format renders
    in spark.sql.session.timeZone — and jobs adopt any pre-existing
    session (jobs/extract.py), which need not be UTC.  Shifting the
    instant by the session offset before formatting makes the rendered
    wall time the UTC one (a no-op under a UTC session)."""
    return F.date_format(
        F.to_utc_timestamp(ts, F.current_timezone()), fmt)


def cdx_index(pages: DataFrame, url_col: str = "url",
              ts_col: str = "warc_ts",
              payload_col: str = "html") -> DataFrame:
    """CDX capture index over a pages table — the web-archive lookup
    sidecar (one row per capture): SURT sort key, 14-digit timestamp,
    original URL, payload digest, payload byte length.  A CDX table
    sorted/bucketed by (surt, ts14) is what makes a 10^12-capture
    archive range-queryable by domain prefix and replayable
    newest-first; CC and Wayback publish exactly this shape.

    Digest is md5-hex of the payload bytes (engine-portable; classic
    CDX uses sha1-base32 — the algorithm is a per-deployment constant,
    the dedup/replay semantics only need it collision-resistant and
    deterministic).  Pure built-ins end to end: scan-speed, no Python,
    no shuffle; sorting/bucketing is the writer's choice downstream."""
    from ..operators.webnorm import surt_key

    return pages.select(
        surt_key(url_col).alias("surt"),
        # a NULL warc_ts (unparseable WARC-Date upstream) renders as ''
        # rather than nulling the (surt, ts14) sort key
        F.coalesce(_utc_date_format(F.col(ts_col), "yyyyMMddHHmmss"),
                   F.lit("")).alias("ts14"),
        F.col(url_col).alias("url"),
        F.md5(F.col(payload_col)).alias("digest"),
        # octet_length, not length: byte count for BOTH string and
        # binary payloads (length would count characters on strings)
        F.octet_length(F.col(payload_col)).cast("bigint").alias("n_bytes"))


def cdx_shard_boundaries(cdx: DataFrame, n_shards: int) -> DataFrame:
    """Secondary index over a CDX table — the Common Crawl
    ``cluster.idx`` analog: split the (surt, ts14) total order into
    n_shards contiguous ranges and emit each shard's first/last key
    plus capture count.  A reader binary-searches THIS tiny table
    (n_shards rows) to find which shard files can contain a domain
    prefix, then scans only those — the two-level lookup that makes a
    10^12-capture archive range-queryable without a global index scan.

    Exact ntile semantics with exactly ONE shuffle (no single-partition
    global window, which would funnel the whole corpus through one
    task): the key columns are distributed-sorted via repartitionByRange
    + sortWithinPartitions, per-range-partition counts (one tiny
    collect, #partitions rows) become cumulative global offsets, and a
    single Arrow pass over the SORTED partitions emits one summary row
    per (partition, overlapped shard) by pure position arithmetic —
    within a sorted partition each shard occupies a contiguous slice,
    so the pass only indexes slice endpoints, never ranks rows (no
    second shuffle, no 32-bit row_number ceiling).  The ≤ #partitions +
    n_shards partials then reduce driver-side.  The sorted projection
    is cached only between the two passes and unpersisted before
    returning: the result (min(total, n_shards) rows — shards past the
    row count are not emitted) is materialized eagerly, which an
    index-construction job is by nature."""
    key = ["surt", "ts14", "url"]
    spark = cdx.sparkSession
    out_schema = ("shard int, first_surt string, first_ts14 string, "
                  "last_surt string, last_ts14 string, n_captures long")
    k = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slim = (cdx.select(*key)
            .repartitionByRange(k, *key)
            .sortWithinPartitions(*key)
            .withColumn("_pid", F.spark_partition_id())
            .persist())
    try:
        counts = dict(sorted((row["_pid"], row["n"]) for row in
                             slim.groupBy("_pid")
                             .agg(F.count("*").alias("n")).collect()))
        total = sum(counts.values())
        if total == 0:
            return spark.createDataFrame([], out_schema)
        offsets, acc = {}, 0
        for pid, n in counts.items():
            offsets[pid] = acc
            acc += n
        q, r = divmod(total, n_shards)
        head = r * (q + 1)  # rows living in the size-(q+1) buckets

        def shard_of(pos: int) -> int:  # global 0-based position
            if pos < head:
                return pos // (q + 1)
            return r + (pos - head) // max(q, 1)

        def shard_end(s: int) -> int:  # exclusive end position of shard s
            return (s + 1) * (q + 1) if s < r else head + (s + 1 - r) * q

        def summarize(batches):
            import pandas as pd
            pos = None
            open_shard = None  # [shard, first_surt, first_ts14, cnt]
            last_row = None
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if pos is None:
                    pos = offsets[int(pdf["_pid"].iloc[0])]
                i = 0
                while i < len(pdf):
                    s = shard_of(pos)
                    take = min(shard_end(s) - pos, len(pdf) - i)
                    if open_shard is None or open_shard[0] != s:
                        if open_shard is not None:
                            yield pd.DataFrame([open_shard[:3]
                                                + last_row
                                                + [open_shard[3]]],
                                               columns=_SHARD_COLS)
                        open_shard = [s, pdf["surt"].iloc[i],
                                      pdf["ts14"].iloc[i], 0]
                    open_shard[3] += take
                    j = i + take - 1
                    last_row = [pdf["surt"].iloc[j], pdf["ts14"].iloc[j]]
                    pos += take
                    i += take
            if open_shard is not None:
                yield pd.DataFrame([open_shard[:3] + last_row
                                    + [open_shard[3]]],
                                   columns=_SHARD_COLS)

        partials = slim.mapInPandas(summarize, out_schema).collect()
    finally:
        slim.unpersist()
    # driver-side reduce of <= #partitions + n_shards partials
    merged: dict = {}
    for p in partials:
        m = merged.get(p.shard)
        if m is None:
            merged[p.shard] = [p.first_surt, p.first_ts14, p.last_surt,
                               p.last_ts14, p.n_captures]
        else:
            if (p.first_surt, p.first_ts14) < (m[0], m[1]):
                m[0], m[1] = p.first_surt, p.first_ts14
            if (p.last_surt, p.last_ts14) > (m[2], m[3]):
                m[2], m[3] = p.last_surt, p.last_ts14
            m[4] += p.n_captures
    rows = [(s, *merged[s]) for s in sorted(merged)]
    return spark.createDataFrame(rows, out_schema)


_SHARD_COLS = ["shard", "first_surt", "first_ts14", "last_surt",
               "last_ts14", "n_captures"]


def revisit_marks(pages: DataFrame, url_col: str = "url",
                  ts_col: str = "warc_ts",
                  payload_col: str = "html") -> DataFrame:
    """URL-agnostic crawl dedup via WARC ``revisit`` records: the first
    capture of each distinct payload digest (earliest ts, then url as
    the deterministic tiebreak) stays a full ``response`` record; every
    later capture is marked ``revisit`` carrying WARC-Refers-To
    pointers (the original's url + ts), so the archive stores each
    payload once.  This is Common Crawl / Heritrix digest-based
    deduplication; the reference has no analog (its page images are
    locally unique files).

    One window over the digest — a single hash shuffle keyed on an
    md5, uniform by construction, so no skew at any corpus size; the
    payload bytes themselves never shuffle (only the digest, url, ts
    columns do, thanks to column pruning on the pre-window select)."""
    # window ordered on the POST-rename 'url' (the select below renames
    # url_col), else any non-default url_col is unresolvable
    w = Window.partitionBy("digest").orderBy(ts_col, "url")
    marked = (pages
              .select(F.col(url_col).alias("url"), F.col(ts_col),
                      F.md5(F.col(payload_col)).alias("digest"))
              .withColumn("dup_rank", F.row_number().over(w))
              .withColumn("orig_url", F.first("url").over(w))
              .withColumn("orig_ts", F.first(ts_col).over(w)))
    is_orig = F.col("dup_rank") == 1
    return marked.select(
        "url", F.col(ts_col), "digest",
        F.when(is_orig, "response").otherwise("revisit")
         .alias("record_type"),
        F.when(is_orig, F.lit(None).cast("string"))
         .otherwise(F.col("orig_url")).alias("refers_to_url"),
        F.when(is_orig, F.lit(None).cast(marked.schema[ts_col].dataType))
         .otherwise(F.col("orig_ts")).alias("refers_to_ts"))


# ---------------------------------------------------------------------------
# WACZ / ZIP container parsing (round 5).  Modern web archives ship as
# WACZ — a ZIP (APPNOTE 6.3 byte layout) holding WARC files plus CDX
# and a datapackage manifest.  The walk below is a stdlib
# central-directory parse (no zipfile import on the DECODE path, the
# same discipline as the other container parsers), so a crawl dump
# lands in Spark as (member, bytes) rows and chains straight into
# iter_warc_records.

_ZIP_EOCD = b"PK\x05\x06"
_ZIP_CDIR = b"PK\x01\x02"
_MAX_ZIP_MEMBER = 64 * 1024 * 1024  # inflate bomb cap per member


def iter_zip_entries(blob: bytes) -> Iterator[dict]:
    """Walk a ZIP's central directory (found via the end-of-central-
    directory record in the trailing 64 KB) and yield one dict per
    member: name, method (0 stored / 8 deflate), usize, and `data` —
    the decompressed bytes for stored and deflate members (None for
    other methods, size mismatches, or bomb-cap hits).  Stops silently
    on structural corruption: a truncated archive yields the members
    that parse, never raises — container walks run inside hot tasks."""
    import zlib
    n = len(blob)
    eocd = blob.rfind(_ZIP_EOCD, max(0, n - 65557))
    if eocd < 0 or eocd + 22 > n:
        return
    n_entries = int.from_bytes(blob[eocd + 10:eocd + 12], "little")
    pos = int.from_bytes(blob[eocd + 16:eocd + 20], "little")
    for _ in range(n_entries):
        if pos + 46 > n or blob[pos:pos + 4] != _ZIP_CDIR:
            return
        method = int.from_bytes(blob[pos + 10:pos + 12], "little")
        csize = int.from_bytes(blob[pos + 20:pos + 24], "little")
        usize = int.from_bytes(blob[pos + 24:pos + 28], "little")
        nlen = int.from_bytes(blob[pos + 28:pos + 30], "little")
        elen = int.from_bytes(blob[pos + 30:pos + 32], "little")
        clen = int.from_bytes(blob[pos + 32:pos + 34], "little")
        lho = int.from_bytes(blob[pos + 42:pos + 46], "little")
        name = blob[pos + 46:pos + 46 + nlen].decode("utf-8", "replace")
        data = None
        # the local header repeats name/extra with its OWN lengths
        # (extra fields commonly differ between the two copies)
        if lho + 30 <= n:
            lnlen = int.from_bytes(blob[lho + 26:lho + 28], "little")
            lelen = int.from_bytes(blob[lho + 28:lho + 30], "little")
            dstart = lho + 30 + lnlen + lelen
            if dstart + csize <= n and usize <= _MAX_ZIP_MEMBER:
                raw = blob[dstart:dstart + csize]
                if method == 0:
                    data = raw if len(raw) == usize else None
                elif method == 8:
                    try:
                        d = zlib.decompressobj(-15)
                        out = d.decompress(raw, _MAX_ZIP_MEMBER)
                        if d.unconsumed_tail or len(out) != usize:
                            out = None
                        data = out
                    except zlib.error:
                        data = None
        yield {"name": name, "method": method, "usize": usize,
               "data": data}
        pos += 46 + nlen + elen + clen


def build_fixture_wacz(members: list[tuple[str, bytes, bool]]) -> bytes:
    """Serialize a minimal deterministic WACZ-shaped ZIP: one
    (name, content, deflate?) tuple per member, fixed 1980-01-01
    timestamps, no extra fields — APPNOTE layout written by hand so
    fixture bytes are stable across Python versions."""
    import struct
    import zlib
    out = bytearray()
    cdir = bytearray()
    for name, content, deflate in members:
        nb = name.encode("utf-8")
        crc = zlib.crc32(content) & 0xFFFFFFFF
        if deflate:
            d = zlib.compressobj(6, zlib.DEFLATED, -15)
            raw = d.compress(content) + d.flush()
            method = 8
        else:
            raw = content
            method = 0
        lho = len(out)
        local = (b"PK\x03\x04" + struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0x21, crc,
            len(raw), len(content), len(nb), 0) + nb)
        out += local + raw
        cdir += (b"PK\x01\x02" + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0x21, crc,
            len(raw), len(content), len(nb), 0, 0, 0, 0, 0, lho) + nb)
    cd_off = len(out)
    out += cdir
    out += (b"PK\x05\x06" + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(cdir),
        cd_off, 0))
    return bytes(out)


_INT32_MAX = 2 ** 31 - 1

ZIP_MEMBER_SCHEMA = ("doc_id bigint, member_idx int, name string, "
                     "method int, n_bytes int, decoded boolean")


def zip_member_table(df, blob_col: str = "blob",
                     id_col: str = "doc_id"):
    """Explode a binary ZIP/WACZ column into one row per member —
    (doc_id, member_idx, name, method, n_bytes, decoded) — via one
    Arrow-batched mapInPandas pass; no rows for blobs with no parseable
    central directory (the parse-or-nothing discipline).  n_bytes is the
    declared uncompressed size, NULL when it does not fit the int32
    column."""
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            out = {"doc_id": [], "member_idx": [], "name": [],
                   "method": [], "n_bytes": [], "decoded": []}
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(blob) if blob is not None else b""
                for i, e in enumerate(iter_zip_entries(b)):
                    out["doc_id"].append(int(did))
                    out["member_idx"].append(i)
                    out["name"].append(e["name"])
                    out["method"].append(e["method"])
                    # a hostile central directory can declare any u32;
                    # above int32 max it is NULL, never a wrapped value
                    out["n_bytes"].append(e["usize"] if e["usize"] <= _INT32_MAX
                                          else None)
                    out["decoded"].append(e["data"] is not None)
            out["n_bytes"] = pd.array(out["n_bytes"], dtype="Int32")
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(extract,
                                                   ZIP_MEMBER_SCHEMA)


WACZ_PAGE_SCHEMA = ("doc_id bigint, url string, page_text string")


def wacz_page_table(df, blob_col: str = "blob", id_col: str = "doc_id"):
    """The full WACZ chain in one pass: ZIP central-directory walk ->
    member inflate -> WARC record parse (iter_warc_records) -> HTTP
    response split — one row per response record found in any
    `*.warc`-named member, (doc_id, url, page_text)."""
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            out = {"doc_id": [], "url": [], "page_text": []}
            for did, blob in zip(pdf[id_col], pdf[blob_col]):
                b = bytes(blob) if blob is not None else b""
                for e in iter_zip_entries(b):
                    if e["data"] is None or not e["name"].endswith(".warc"):
                        continue
                    for rec in iter_warc_records(e["data"]):
                        if rec.get("warc_type") != "response":
                            continue
                        _st, _ct, body = split_http_response(
                            rec.get("payload", b""))
                        out["doc_id"].append(int(did))
                        out["url"].append(rec.get("url"))
                        out["page_text"].append(
                            body.decode("utf-8", "replace"))
            yield pd.DataFrame(out)

    return df.select(id_col, blob_col).mapInPandas(extract,
                                                   WACZ_PAGE_SCHEMA)


def synth_wacz_corpus(df, id_col: str = "doc_id"):
    """Deterministic (doc_id, blob) WACZ corpus: per doc a ZIP holding
    a datapackage.json (stored), an index.cdx (deflated), and a
    pages-{d}.warc member (deflated for odd docs, stored for even)
    whose single response record's body is the closed-form text
    ``wacz page <d> body <d % 13>`` at url
    ``https://w{d % 7}.example/p/<d>`` — every output of both the
    member listing and the full chain is doc_id arithmetic."""
    import pandas as pd

    def build(batches):
        for pdf in batches:
            blobs = []
            for did in pdf[id_col]:
                d = int(did)
                body = f"wacz page {d} body {d % 13}".encode()
                rec = build_record(
                    "response", build_http_response(body),
                    url=f"https://w{d % 7}.example/p/{d}",
                    date="2024-01-01T00:00:00Z",
                    content_type="application/http; msgtype=response")
                members = [
                    ("datapackage.json",
                     b'{"profile": "data-package"}', False),
                    ("indexes/index.cdx",
                     f"cdx entry {d}\n".encode(), True),
                    (f"archive/pages-{d}.warc", rec, d % 2 == 1),
                ]
                blobs.append(build_fixture_wacz(members))
            yield pd.DataFrame({"doc_id": pdf[id_col].astype("int64"),
                                "blob": blobs})

    return df.select(id_col).mapInPandas(build, "doc_id bigint, blob binary")
