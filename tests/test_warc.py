"""WARC ingestion: codec roundtrip, malformed-record resync, gzip
members, and the Spark binaryFile -> mapInPandas reader end-to-end."""

import gzip
import os

from ukrainian_ocr_pipeline_spark.sources import warc


def _mk_rows(n=5):
    return [{"url": f"https://site{i}.example/p/{i}",
             "date": f"2024-01-01T00:0{i}:00Z",
             "html": f"<html><body>page {i} body</body></html>".encode()}
            for i in range(n)]


# --------------------------------------------------------------------------
# pure-Python codec

def test_roundtrip_single_record():
    payload = warc.build_http_response(b"<html>x</html>")
    rec = warc.build_record("response", payload,
                            url="https://a.example/x",
                            date="2024-01-01T00:00:00Z",
                            record_id="<urn:uuid:r-1>",
                            content_type="application/http; msgtype=response")
    out = list(warc.iter_warc_records(rec))
    assert len(out) == 1
    r = out[0]
    assert r["error"] is None
    assert r["warc_type"] == "response"
    assert r["url"] == "https://a.example/x"
    assert r["date"] == "2024-01-01T00:00:00Z"
    assert r["record_id"] == "<urn:uuid:r-1>"
    assert r["content_length"] == len(payload)
    assert r["payload"] == payload
    status, ctype, body = warc.split_http_response(r["payload"])
    assert status == 200
    assert ctype == "text/html; charset=utf-8"
    assert body == b"<html>x</html>"


def test_roundtrip_concatenated_records_in_order():
    recs = [warc.build_record("response",
                              warc.build_http_response(f"b{i}".encode()),
                              url=f"https://h/{i}",
                              date="2024-01-01T00:00:00Z")
            for i in range(10)]
    out = list(warc.iter_warc_records(b"".join(recs)))
    assert [r["url"] for r in out] == [f"https://h/{i}" for i in range(10)]
    assert all(r["error"] is None for r in out)
    # offsets strictly increasing, first at 0
    offs = [r["offset"] for r in out]
    assert offs[0] == 0 and offs == sorted(set(offs))


def test_payload_containing_record_magic_not_split():
    """A payload whose BYTES contain 'WARC/1.0' must not confuse the
    length-driven parser (only a resync scans for magic)."""
    evil = b"prefix \r\n\r\nWARC/1.0\r\n suffix"
    rec = warc.build_record("resource", evil, url="https://h/e",
                            date="2024-01-01T00:00:00Z")
    tail = warc.build_record("resource", b"ok", url="https://h/t",
                             date="2024-01-01T00:00:00Z")
    out = list(warc.iter_warc_records(rec + tail))
    assert [r["url"] for r in out] == ["https://h/e", "https://h/t"]
    assert out[0]["payload"] == evil


def test_bad_content_length_resyncs_to_next_record():
    good = warc.build_record("response", warc.build_http_response(b"ok"),
                             url="https://h/good",
                             date="2024-01-01T00:00:00Z")
    bad = good.replace(b"Content-Length: ", b"Content-Length: zz", 1)
    out = list(warc.iter_warc_records(bad + good))
    assert len(out) == 2
    assert "bad Content-Length" in out[0]["error"]
    assert out[1]["error"] is None and out[1]["url"] == "https://h/good"


def test_truncated_payload_reports_error():
    rec = warc.build_record("response", b"0123456789",
                            url="https://h/t", date="2024-01-01T00:00:00Z")
    out = list(warc.iter_warc_records(rec[:-14]))  # cut into the payload
    assert len(out) == 1
    assert "truncated payload" in out[0]["error"]


def test_corrupt_inrange_length_resyncs_not_drops_tail():
    """A corrupt-but-in-range Content-Length mid-file must not discard
    the records that follow it: the parser resyncs at the next record
    boundary (one error row, then the good record)."""
    bad = warc.build_record("response", b"short",
                            url="https://h/bad", date="2024-01-01T00:00:00Z")
    # 900000 passes the MAX_RECORD_BYTES range check but exceeds the
    # bytes remaining in the file — the formerly-fatal case
    bad = bad.replace(b"Content-Length: 5", b"Content-Length: 900000", 1)
    good = warc.build_record("response", warc.build_http_response(b"ok"),
                             url="https://h/good",
                             date="2024-01-01T00:00:00Z")
    out = list(warc.iter_warc_records(bad + good))
    errs = [r for r in out if r["error"]]
    oks = [r for r in out if not r["error"]]
    assert any("truncated payload" in r["error"] for r in errs)
    assert [r["url"] for r in oks] == ["https://h/good"]


def test_truncated_gzip_member_is_error_row_not_crash():
    """gzip.decompress raises EOFError (not OSError) on a truncated
    member — it must become an error row, never a task failure."""
    full = warc.compress_warc_members([warc.build_record(
        "resource", b"x" * 500, url="https://h/z",
        date="2024-01-01T00:00:00Z")])
    rows = list(warc._records_of_file("f.warc.gz", full[:len(full) // 2]))
    assert len(rows) == 1 and rows[0]["error"].startswith("gzip:")


def test_empty_file_yields_one_lineage_error_row():
    rows = list(warc._records_of_file("empty.warc", b""))
    assert len(rows) == 1
    assert rows[0]["error"] == "empty file: no WARC records"
    assert rows[0]["warc_file"] == "empty.warc"


def test_oversized_content_length_rejected_not_allocated():
    rec = warc.build_record("response", b"x", url="https://h/o",
                            date="2024-01-01T00:00:00Z")
    huge = rec.replace(b"Content-Length: 1", b"Content-Length: 99999999999", 1)
    out = list(warc.iter_warc_records(huge))
    assert out and "out of range" in out[0]["error"]


def test_gzip_members_roundtrip_and_concatenation():
    recs = [warc.build_record("resource", f"r{i}".encode(),
                              url=f"https://h/{i}",
                              date="2024-01-01T00:00:00Z")
            for i in range(4)]
    gz = warc.compress_warc_members(recs)
    # deterministic bytes (mtime pinned)
    assert gz == warc.compress_warc_members(recs)
    # readable as one stream of concatenated members
    assert warc.decompress_warc(gz) == b"".join(recs)
    # and each member is independently a valid gzip stream start
    assert gz.startswith(b"\x1f\x8b")


def test_split_http_response_raw_body_passthrough():
    status, ctype, body = warc.split_http_response(b"<html>raw</html>")
    assert status is None and ctype is None and body == b"<html>raw</html>"


# --------------------------------------------------------------------------
# Spark reader

def test_read_warc_end_to_end(spark, tmp_path):
    rows = _mk_rows(6)
    rows[3]["status"] = 404
    warc.write_fixture_warc(str(tmp_path / "a.warc"), rows[:3])
    warc.write_fixture_warc(str(tmp_path / "b.warc.gz"), rows[3:], gz=True)
    # a third file with one poisoned record among good ones
    good = warc.build_record("response", warc.build_http_response(b"fine"),
                             url="https://ok.example/1",
                             date="2024-01-02T00:00:00Z")
    bad = good.replace(b"Content-Length: ", b"Content-Length: NaN", 1)
    with open(tmp_path / "c.warc", "wb") as f:
        f.write(good + bad + good)

    recs = warc.read_warc(spark, str(tmp_path)).cache()
    try:
        by_type = {r["warc_type"]: r["n"]
                   for r in recs.groupBy("warc_type").count()
                   .withColumnRenamed("count", "n").collect()}
        assert by_type["warcinfo"] == 2
        assert by_type["request"] == 6
        # 6 fixture + 2 good in c.warc + the poisoned record (error rows
        # keep their parsed warc_type; pages_from_warc drops them)
        assert by_type["response"] == 9
        errs = recs.where("error IS NOT NULL").collect()
        assert len(errs) == 1 and "bad Content-Length" in errs[0]["error"]
        assert errs[0]["warc_file"].endswith("c.warc")

        pages = warc.pages_from_warc(recs)
        got = {r["url"]: r for r in pages.collect()}
        # 404 dropped by the 200 filter; poisoned record dropped by error
        expect = {r["url"] for i, r in enumerate(rows) if i != 3}
        expect.add("https://ok.example/1")
        assert set(got) == expect
        r0 = got[rows[0]["url"]]
        assert bytes(r0["html"]) == rows[0]["html"]
        assert r0["warc_ts"] is not None
        assert str(r0["warc_ts"]).startswith("2024-01-01 00:00:00")
        assert r0["text"] is None and r0["lang"] is None
        # pages schema matches the canonical input table
        from ukrainian_ocr_pipeline_spark.functions.schemas import PAGES_SCHEMA
        assert [f.name for f in pages.schema.fields] == \
            [f.name for f in PAGES_SCHEMA.fields]
    finally:
        recs.unpersist()


def test_read_warc_gz_corrupt_file_is_error_row(spark, tmp_path):
    with open(tmp_path / "z.warc.gz", "wb") as f:
        f.write(b"\x1f\x8bnot really gzip")
    out = warc.read_warc(spark, str(tmp_path / "z.warc.gz")).collect()
    assert len(out) == 1 and out[0]["error"].startswith("gzip:")


def test_pages_from_warc_survives_malformed_and_fractional_dates(spark):
    """One malformed WARC-Date must not kill the job under Spark 4's
    ANSI mode (try_to_timestamp), and WARC 1.1 fractional-second dates
    parse via the ISO fallback."""
    rows = [
        ("https://h/plain", "2024-01-05T06:07:08Z"),
        ("https://h/frac", "2024-01-05T06:07:08.123Z"),
        ("https://h/bad", "not-a-date"),
    ]
    recs = spark.createDataFrame(
        [("f.warc", 0, "response", u, d, "<id>", 200, "text/html",
          3, b"ok!", None) for u, d in rows],
        schema=warc.WARC_RECORDS_SCHEMA)
    got = {r["url"]: r["warc_ts"]
           for r in warc.pages_from_warc(recs).collect()}
    assert str(got["https://h/plain"]).startswith("2024-01-05 06:07:08")
    assert str(got["https://h/frac"]).startswith("2024-01-05 06:07:08.123")
    assert got["https://h/bad"] is None


def test_cdx_index_fields(spark):
    import hashlib
    rows = [("https://WWW.Example.com/A?b=2&a=1", "2024-03-05 06:07:08",
             b"<html>x</html>")]
    df = spark.createDataFrame(rows, "url string, ts string, html binary") \
        .selectExpr("url", "CAST(ts AS TIMESTAMP) AS warc_ts", "html")
    got = warc.cdx_index(df).collect()[0]
    assert got.surt == "com,example)/a?a=1&b=2"
    assert got.ts14 == "20240305060708"
    assert got.digest == hashlib.md5(b"<html>x</html>").hexdigest()
    assert got.n_bytes == len(b"<html>x</html>")


def test_revisit_marks_invariants(spark):
    # 3 captures of one payload (distinct urls/times) + 1 unique payload:
    # exactly one response per digest; revisits point at the earliest
    rows = [("https://a.example/1", "2024-01-01T00:02:00Z", "same"),
            ("https://b.example/2", "2024-01-01T00:01:00Z", "same"),
            ("https://c.example/3", "2024-01-01T00:03:00Z", "same"),
            ("https://d.example/4", "2024-01-01T00:00:00Z", "other")]
    df = spark.createDataFrame(rows, "url string, ts string, html string")
    got = {r.url: r for r in
           warc.revisit_marks(df, ts_col="ts").collect()}
    by_digest = {}
    for r in got.values():
        by_digest.setdefault(r.digest, []).append(r)
    for recs in by_digest.values():
        assert sum(r.record_type == "response" for r in recs) == 1
    # earliest capture of 'same' is b; a and c revisit it
    assert got["https://b.example/2"].record_type == "response"
    assert got["https://b.example/2"].refers_to_url is None
    for u in ("https://a.example/1", "https://c.example/3"):
        assert got[u].record_type == "revisit"
        assert got[u].refers_to_url == "https://b.example/2"
        assert got[u].refers_to_ts == "2024-01-01T00:01:00Z"
    assert got["https://d.example/4"].record_type == "response"


def test_cdx_index_n_bytes_counts_bytes_not_chars(spark):
    # review regression: a STRING payload with non-ASCII text must
    # report byte length (octet_length), matching the DuckDB twin's
    # strlen and the 'payload byte length' contract
    txt = "привіт світ"
    df = spark.createDataFrame(
        [("https://e.example/p", "2024-01-01 00:00:00", txt)],
        "url string, ts string, html string") \
        .selectExpr("url", "CAST(ts AS TIMESTAMP) AS warc_ts", "html")
    got = warc.cdx_index(df).collect()[0]
    assert got.n_bytes == len(txt.encode("utf-8"))
    assert got.n_bytes > len(txt)


def test_revisit_marks_non_default_url_col(spark):
    # review regression: url_col was renamed before the window resolved
    # it, so any non-default name raised UNRESOLVED_COLUMN
    rows = [("https://a.example/1", "t1", "same"),
            ("https://b.example/2", "t2", "same")]
    df = spark.createDataFrame(rows, "page_url string, ts string, body string")
    got = {r.url: r.record_type for r in warc.revisit_marks(
        df, url_col="page_url", ts_col="ts", payload_col="body").collect()}
    assert got == {"https://a.example/1": "response",
                   "https://b.example/2": "revisit"}


def test_wet_and_cdx_dates_render_utc_under_any_session_tz(spark):
    # review regression: WARC-Date/ts14 hardcode UTC meaning but
    # date_format renders in the session tz; a non-UTC session must not
    # shift the stamped wall time
    import datetime
    # tz-explicit instant: 12:00 UTC, independent of any session tz
    inst = datetime.datetime(2024, 6, 1, 12, 0, 0,
                             tzinfo=datetime.timezone.utc)
    df = spark.createDataFrame(
        [("https://e.example/p", inst, "t")],
        "url string, warc_ts timestamp, x string") \
        .selectExpr("url", "warc_ts", "x AS extracted_text", "x AS html")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Kyiv")
        rec = bytes(warc.wet_records(df).collect()[0].wet_record)
        parsed = next(warc.iter_warc_records(rec))
        assert parsed["date"] == "2024-06-01T12:00:00Z"
        assert warc.cdx_index(df).collect()[0].ts14 == "20240601120000"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_cdx_shard_boundaries_exact_ntile_and_order(spark):
    # 10 captures into 4 shards: exact ntile sizes 3/3/2/2, boundaries
    # contiguous and non-overlapping in (surt, ts14) order
    rows = [(f"com,site{i % 3})/p/{i}", f"2024010100{i:02d}00",
             f"https://site{i % 3}.com/p/{i}") for i in range(10)]
    cdx = spark.createDataFrame(rows, "surt string, ts14 string, url string")
    got = sorted(warc.cdx_shard_boundaries(cdx, 4).collect(),
                 key=lambda x: x.shard)
    assert [g.shard for g in got] == [0, 1, 2, 3]
    assert [g.n_captures for g in got] == [3, 3, 2, 2]
    ordered = sorted(rows)
    # each shard's first/last == the global order's slice ends
    sizes = [3, 3, 2, 2]
    pos = 0
    for g, n in zip(got, sizes):
        assert (g.first_surt, g.first_ts14) == ordered[pos][:2]
        assert (g.last_surt, g.last_ts14) == ordered[pos + n - 1][:2]
        pos += n
    # boundaries never overlap: shard i's last <= shard i+1's first
    for a, b in zip(got, got[1:]):
        assert (a.last_surt, a.last_ts14) <= (b.first_surt, b.first_ts14)


def test_cdx_shard_boundaries_fewer_rows_than_shards(spark):
    cdx = spark.createDataFrame(
        [("com,a)/x", "20240101000000", "https://a.com/x"),
         ("com,b)/y", "20240101000001", "https://b.com/y")],
        "surt string, ts14 string, url string")
    got = warc.cdx_shard_boundaries(cdx, 8).collect()
    assert sorted(g.shard for g in got) == [0, 1]
    assert all(g.n_captures == 1 for g in got)


def test_cdx_shard_boundaries_empty_input(spark):
    cdx = spark.createDataFrame([], "surt string, ts14 string, url string")
    assert warc.cdx_shard_boundaries(cdx, 8).count() == 0


def test_cdx_shard_boundaries_matches_python_ntile(spark):
    # randomized invariant: for several (total, n_shards) shapes the
    # distributed build must equal the trivial in-memory ntile
    import random
    rnd = random.Random(7)
    for total, n_shards in ((1, 1), (7, 3), (32, 32), (97, 8), (200, 5)):
        rows = [(f"com,h{rnd.randrange(9)})/p/{i:03d}",
                 f"202401010{rnd.randrange(10)}0000", f"u{i:03d}")
                for i in range(total)]
        cdx = spark.createDataFrame(
            rows, "surt string, ts14 string, url string")
        got = {g.shard: g for g in
               warc.cdx_shard_boundaries(cdx, n_shards).collect()}
        ordered = sorted(rows)
        q, r = divmod(total, n_shards)
        pos = 0
        for s in range(min(total, n_shards)):
            size = (q + 1) if s < r else q
            if size == 0:
                assert s not in got
                continue
            seg = ordered[pos:pos + size]
            g = got[s]
            assert (g.first_surt, g.first_ts14) == seg[0][:2], (total, s)
            assert (g.last_surt, g.last_ts14) == seg[-1][:2], (total, s)
            assert g.n_captures == size
            pos += size
        assert pos == total


def test_wat_records_roundtrip_and_json(spark):
    import json
    html = ('<html><head><title> A  "B" \\ C </title></head><body>'
            '<a href="https://x.example/p?a=1">x</a>'
            "<a href='/rel/2'>y</a></body></html>")
    pages = spark.createDataFrame(
        [("https://s.example/1", "2024-01-01 00:05:00", html),
         ("https://s.example/2", "2024-01-01 00:06:00", None)],
        "url string, ts string, html string").selectExpr(
        "url", "CAST(ts AS TIMESTAMP) AS warc_ts", "html")
    got = {r.url: r for r in warc.wat_records(pages).collect()}

    r1 = got["https://s.example/1"]
    assert r1.n_links == 2
    # the record string parses back through the ingestion codec
    recs = list(warc.iter_warc_records(r1.wat_record.encode("utf-8")))
    assert len(recs) == 1 and recs[0]["error"] is None
    assert recs[0]["warc_type"] == "metadata"
    assert recs[0]["url"] == "https://s.example/1"
    assert recs[0]["content_type"] == "application/json"
    meta = json.loads(recs[0]["payload"].decode("utf-8"))
    env = meta["Envelope"]
    assert env["WARC-Header-Metadata"]["WARC-Date"] == "2024-01-01T00:05:00Z"
    hm = env["Payload-Metadata"]["HTML-Metadata"]
    # whitespace collapsed, quote and backslash survive the escape chain
    assert hm["Head"]["Title"] == 'A "B" \\ C'
    assert [l["url"] for l in hm["Links"]] == \
        ["https://x.example/p?a=1", "/rel/2"]

    # null html: zero links, empty title, still a valid record
    r2 = got["https://s.example/2"]
    assert r2.n_links == 0
    recs2 = list(warc.iter_warc_records(r2.wat_record.encode("utf-8")))
    assert recs2[0]["error"] is None
    meta2 = json.loads(recs2[0]["payload"].decode("utf-8"))
    pm2 = meta2["Envelope"]["Payload-Metadata"]["HTML-Metadata"]
    assert pm2["Head"]["Title"] == "" and pm2["Links"] == []


def test_wat_records_content_length_counts_bytes(spark):
    html = '<html><head><title>Ukraïna — Київ</title></head><body></body></html>'
    pages = spark.createDataFrame(
        [("https://s.example/u", html)],
        "url string, html string").selectExpr(
        "url", "CAST('2024-01-01 00:00:00' AS TIMESTAMP) AS warc_ts", "html")
    rec = warc.wat_records(pages).collect()[0].wat_record
    # declared Content-Length is the utf-8 BYTE count of the payload
    head, _, rest = rec.encode("utf-8").partition(b"\r\n\r\n")
    declared = int(dict(
        l.split(b": ", 1) for l in head.split(b"\r\n")[1:])[b"Content-Length"])
    assert rest.endswith(b"\r\n\r\n")
    payload = rest[:-4]
    assert len(payload) == declared
    assert declared > len(payload.decode("utf-8"))  # non-ascii present


def test_wat_records_control_chars_stay_valid_json(spark):
    import json
    # href wrapping across source lines + a stray C0 control in the title
    html = ('<html><head><title>A\x01B</title></head><body>'
            '<a href="/a\n/b\tc">x</a></body></html>')
    pages = spark.createDataFrame(
        [("https://s.example/\r\nX-Forged: 1", html)],
        "url string, html string").selectExpr(
        "url", "CAST('2024-01-01 00:00:00' AS TIMESTAMP) AS warc_ts", "html")
    rec = warc.wat_records(pages).collect()[0].wat_record
    parsed = list(warc.iter_warc_records(rec.encode("utf-8")))
    assert len(parsed) == 1 and parsed[0]["error"] is None
    # CRLF in the url cannot forge a header line
    assert parsed[0]["url"] == "https://s.example/X-Forged: 1"
    meta = json.loads(parsed[0]["payload"].decode("utf-8"))
    hm = meta["Envelope"]["Payload-Metadata"]["HTML-Metadata"]
    assert hm["Links"][0]["url"] == "/a\n/b\tc"  # escaped, not corrupted
    assert hm["Head"]["Title"] == "AB"           # C0 control deleted


def test_build_record_header_values_cannot_inject_lines():
    rec = warc.build_record(
        "response", b"x", url="https://a.example/\r\nWARC-Type: forged",
        date="2024-01-01T00:00:00Z")
    out = list(warc.iter_warc_records(rec))
    assert len(out) == 1 and out[0]["error"] is None
    assert out[0]["warc_type"] == "response"
    assert out[0]["url"] == "https://a.example/WARC-Type: forged"


def test_gzip_bad_member_keeps_valid_prefix():
    """CC files are per-record gzip members so records are
    independently recoverable: a truncated LAST member must yield the
    valid prefix's records plus ONE error row — not discard the file."""
    recs = [warc.build_record("resource", f"r{i}".encode(),
                              url=f"https://h/{i}",
                              date="2024-01-01T00:00:00Z")
            for i in range(3)]
    data = warc.compress_warc_members(recs)
    last = warc.compress_warc_members(recs[2:])
    cut = data[:len(data) - len(last)] + last[:len(last) // 2]
    rows = list(warc._records_of_file("f.warc.gz", cut))
    oks = [r for r in rows if not r["error"]]
    errs = [r for r in rows if r["error"]]
    assert [r["url"] for r in oks] == ["https://h/0", "https://h/1"]
    assert len(errs) == 1 and errs[0]["error"].startswith("gzip:")


def test_content_length_strict_ascii_digits():
    """int() alone accepts '1_6', '+16', and unicode digits — framings
    conformant WARC parsers reject; all must be error rows."""
    rec = warc.build_record("resource", b"x" * 16, url="https://h/s",
                            date="2024-01-01T00:00:00Z")
    for bad in (b"1_6", b"+16", "١٦".encode("utf-8")):
        mangled = rec.replace(b"Content-Length: 16", b"Content-Length: " + bad)
        out = list(warc.iter_warc_records(mangled))
        assert any(r["error"] and "Content-Length" in r["error"]
                   for r in out), bad


def test_duplicate_content_length_first_wins():
    """First occurrence wins (warcio/wget semantics): a crafted second
    Content-Length must not re-frame the stream."""
    body = b"0123456789"
    rec = warc.build_record("resource", body, url="https://h/d",
                            date="2024-01-01T00:00:00Z")
    # inject a SECOND, larger Content-Length after the real one
    mangled = rec.replace(
        b"Content-Length: 10\r\n\r\n",
        b"Content-Length: 10\r\nContent-Length: 200\r\n\r\n")
    out = list(warc.iter_warc_records(mangled))
    assert out[0]["error"] is None
    assert out[0]["payload"] == body


def test_bare_lf_http_head_recovered():
    """LF-only HTTP header lines (tolerated by RFC 7230 parsers,
    captured verbatim) must still split into status/type/body."""
    payload = (b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n<html>x</html>")
    status, ctype, body = warc.split_http_response(payload)
    assert (status, ctype, body) == (200, "text/html", b"<html>x</html>")


def test_build_record_rejects_content_length_and_strips_header_names():
    import pytest
    with pytest.raises(ValueError):
        warc.build_record("resource", b"x",
                          extra_headers={"Content-Length": "999"})
    # CRLF in a header NAME must not inject a forged header line
    rec = warc.build_record(
        "resource", b"x",
        extra_headers={"X-A\r\nWARC-Type: warcinfo": "v"})
    parsed = list(warc.iter_warc_records(rec))
    assert parsed[0]["warc_type"] == "resource"


def test_pages_from_warc_ts_is_utc_under_any_session_tz(spark):
    """A literal-'Z' parse pattern reads the wall time in the SESSION
    timezone; the offset pattern must pin the instant to UTC."""
    rec = warc.build_record(
        "response", warc.build_http_response(b"<html>b</html>"),
        url="https://h/tz", date="2024-01-05T06:07:08Z")
    from pyspark.sql import functions as F
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Kyiv")
        df = spark.createDataFrame(
            [(r["url"], r["date"], r["payload"], "response", None, 200)
             for r in warc.iter_warc_records(rec)],
            "url string, warc_date string, payload binary, "
            "warc_type string, error string, http_status int")
        got = (warc.pages_from_warc(df)
               .select(F.unix_timestamp("warc_ts").alias("epoch"))
               .collect()[0]["epoch"])
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    import datetime as dt
    want = int(dt.datetime(2024, 1, 5, 6, 7, 8,
                           tzinfo=dt.timezone.utc).timestamp())
    assert got == want


# --------------------------------------------------------------------------
# round-5: WACZ / ZIP container walk

class TestZipWalk:
    def _blob(self):
        from ukrainian_ocr_pipeline_spark.sources.warc import (
            build_fixture_wacz,
        )
        return build_fixture_wacz([
            ("a.txt", b"hello world", False),
            ("b/c.bin", b"x" * 1000, True),
        ])

    def test_roundtrip_and_stdlib_agreement(self):
        import io
        import zipfile

        from ukrainian_ocr_pipeline_spark.sources.warc import (
            iter_zip_entries,
        )
        blob = self._blob()
        es = list(iter_zip_entries(blob))
        assert [(e["name"], e["method"], e["data"]) for e in es] == [
            ("a.txt", 0, b"hello world"), ("b/c.bin", 8, b"x" * 1000)]
        # stdlib accepts our hand-written archive...
        zf = zipfile.ZipFile(io.BytesIO(blob))
        assert zf.read("a.txt") == b"hello world"
        assert zf.read("b/c.bin") == b"x" * 1000
        # ...and our walk reads a stdlib-written one
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("m.txt", "stdlib written")
        es2 = list(iter_zip_entries(buf.getvalue()))
        assert es2[0]["name"] == "m.txt"
        assert es2[0]["data"] == b"stdlib written"

    def test_corrupt_yields_nothing_or_partial(self):
        from ukrainian_ocr_pipeline_spark.sources.warc import (
            iter_zip_entries,
        )
        blob = self._blob()
        assert list(iter_zip_entries(b"")) == []
        assert list(iter_zip_entries(b"junk no zip here")) == []
        # EOCD cut off -> nothing
        assert list(iter_zip_entries(blob[:-5])) == []
        # corrupt deflate stream -> entry listed, data None
        i = blob.index(b"x")  # poison first member? a.txt is stored
        bad = bytearray(blob)
        # flip bytes inside the second member's deflate payload
        start = blob.index(b"b/c.bin") + len(b"b/c.bin")
        for k in range(start, start + 8):
            bad[k] ^= 0xFF
        es = list(iter_zip_entries(bytes(bad)))
        assert es[0]["data"] == b"hello world"
        assert es[1]["data"] is None and es[1]["name"] == "b/c.bin"

    def test_member_table_nulls_declared_size_above_int32(self, spark):
        """A central-directory entry declaring a u32 size above int32
        max gets n_bytes NULL (not a wrapped or failed int32 cast);
        the honest member next to it keeps its size."""
        from ukrainian_ocr_pipeline_spark.sources.warc import zip_member_table
        bad = bytearray(self._blob())
        cd = bad.index(b"PK\x01\x02")
        bad[cd + 24:cd + 28] = (0xFFFFFFF0).to_bytes(4, "little")
        df = spark.createDataFrame([(1, bytes(bad))], "doc_id long, blob binary")
        rows = sorted(zip_member_table(df).collect(), key=lambda r: r["member_idx"])
        assert [(r["name"], r["n_bytes"], r["decoded"]) for r in rows] == [
            ("a.txt", None, False), ("b/c.bin", 1000, True)]

    def test_wacz_chain_end_to_end(self, spark):
        from ukrainian_ocr_pipeline_spark.sources.warc import (
            synth_wacz_corpus,
            wacz_page_table,
            zip_member_table,
        )
        df = spark.createDataFrame([(i,) for i in range(10)],
                                   "doc_id long")
        members = zip_member_table(synth_wacz_corpus(df)).collect()
        assert len(members) == 30
        assert all(m["decoded"] for m in members)
        pages = {r["doc_id"]: r
                 for r in wacz_page_table(synth_wacz_corpus(df)).collect()}
        assert len(pages) == 10
        for d in range(10):
            assert pages[d]["url"] == f"https://w{d % 7}.example/p/{d}"
            assert pages[d]["page_text"] == f"wacz page {d} body {d % 13}"
