"""Source-layer robustness: CSV corrupt-record quarantine and the ORC
round-trip (read/write + predicate pushdown into the ORC scan)."""

import io
import contextlib

from pyspark.sql import functions as F

from etl_stack_spark.sources.staging import read_csv_quarantine


def test_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(
        "1,alpha,2.5\n"
        "not-a-number,beta,3.5\n"  # id fails the long cast -> quarantined
        "3,gamma,oops\n"  # price fails the double cast -> quarantined
        "4,delta,9.0\n"
    )
    good, bad = read_csv_quarantine(spark, str(p), "id long, name string, price double")
    assert sorted((r.id, r.name) for r in good.collect()) == [(1, "alpha"), (4, "delta")]
    raws = sorted(r.raw_line for r in bad.collect())
    assert raws == ["3,gamma,oops", "not-a-number,beta,3.5"]


def test_csv_quarantine_all_good_is_empty_quarantine(spark, tmp_path):
    p = tmp_path / "ok.csv"
    p.write_text("1,a,1.0\n2,b,2.0\n")
    good, bad = read_csv_quarantine(spark, str(p), "id long, name string, price double")
    assert good.count() == 2 and bad.count() == 0


def test_orc_round_trip_with_pushdown(spark, tmp_path):
    """ORC is a first-class warehouse format: values survive the round
    trip exactly and a filter reaches the ORC scan (PushedFilters)."""
    src = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("bucket"),
        F.concat(F.lit("v"), F.col("id")).alias("name"),
    )
    dest = str(tmp_path / "t.orc")
    src.write.orc(dest)
    back = spark.read.orc(dest)
    assert back.count() == 1000
    filtered = back.filter(F.col("bucket") == 3)
    assert filtered.count() == src.filter(F.col("id") % 7 == 3).count()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain()
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "EqualTo(bucket,3)" in plan, plan


def test_warc_roundtrip_and_layout():
    """ISO 28500 reader: gzip-member walk, header parse, HTTP split,
    uncompressed passthrough, inter-record padding, corrupt-member raise."""
    import gzip

    import pytest

    from etl_stack_spark.sources.warc import (
        decode_members,
        encode_http_response,
        encode_warc_record,
        gzip_members,
        parse_warc,
    )

    body = "hola crawl ñ".encode()
    recs = [
        encode_warc_record("a1", "warcinfo", None, b"software: x"),
        encode_warc_record("b2", "response", "http://e.test/7",
                           encode_http_response(body, status=301)),
        encode_warc_record("c3", "request", "http://e.test/7", b"GET / HTTP/1.1"),
    ]
    gz = gzip_members(recs)
    # multi-member: a whole-stream gunzip only sees the FIRST member's
    # data with gzip.decompress? (zlib stops at member end) — our decoder
    # must walk all members
    assert decode_members(gz) == b"".join(recs)
    parsed = parse_warc(gz)
    assert [r["warc_type"] for r in parsed] == ["warcinfo", "response", "request"]
    assert parsed[0]["record_id"] == "urn:uuid:a1"
    assert parsed[1]["http_status"] == 301 and parsed[1]["body"] == body
    assert parsed[1]["target_uri"] == "http://e.test/7"
    assert parsed[2]["http_status"] is None  # request block left opaque

    # uncompressed WARC parses identically
    assert parse_warc(b"".join(recs)) == parsed

    # corrupt member: a specific error, not silence
    with pytest.raises(Exception):
        parse_warc(b"\x1f\x8b" + b"\x00" * 20)

    # single-member file from a third-party writer (whole-file gzip)
    assert parse_warc(gzip.compress(b"".join(recs)))[1]["body"] == body


def test_warc_malformed_inputs_fail_loud():
    """Round-6 advisor fixes: truncated gzip members and malformed
    headers must raise descriptive errors, never silently mis-parse."""
    import pytest

    from etl_stack_spark.sources.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_members,
        parse_warc,
    )

    rec = encode_warc_record(
        "t1", "response", "http://t/x", encode_http_response(b"full body")
    )
    gz = gzip_members([rec])

    # truncated final member: decompressobj returns partial data with no
    # error — the d.eof check must catch it
    with pytest.raises(ValueError, match="truncated gzip member"):
        parse_warc(gz[:-20])

    # block shorter than the declared Content-Length (cut uncompressed)
    with pytest.raises(ValueError, match="block truncated"):
        parse_warc(rec[:-10])

    # spec-legal "Name:value" with no space after the colon
    no_space = (
        b"WARC/1.0\r\n"
        b"WARC-Type:resource\r\n"
        b"WARC-Record-ID:<urn:uuid:ns1>\r\n"
        b"Content-Length:5\r\n"
        b"\r\nhello\r\n\r\n"
    )
    [r] = parse_warc(no_space)
    assert r["warc_type"] == "resource"
    assert r["record_id"] == "urn:uuid:ns1"
    assert r["body"] == b"hello"
    assert r["n_headers"] == 3

    # missing Content-Length: offset-bearing ValueError, not KeyError
    no_len = b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nxx\r\n\r\n"
    with pytest.raises(ValueError, match="offset 0 has no Content-Length"):
        parse_warc(no_len)

    # duplicate header names count as LINES in n_headers
    dup = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\r\n"
        b"WARC-Concurrent-To: <urn:uuid:x>\r\n"
        b"WARC-Concurrent-To: <urn:uuid:y>\r\n"
        b"Content-Length: 2\r\n"
        b"\r\nok\r\n\r\n"
    )
    assert parse_warc(dup)[0]["n_headers"] == 4


def test_warc_batch_stage(spark):
    """The Spark plumbing: binary column in, one row per record out."""
    from etl_stack_spark.sources.warc import (
        encode_http_response,
        encode_warc_record,
        gzip_members,
        parse_warc_batch,
    )

    blobs = []
    for i in range(4):
        blobs.append((f"f{i}", gzip_members([
            encode_warc_record(f"r{i}", "response", f"http://t/{i}",
                               encode_http_response(f"body {i}".encode())),
        ])))
    files = spark.createDataFrame(blobs, "path string, content binary")
    rows = parse_warc_batch(files).collect()
    assert len(rows) == 4
    assert {bytes(r.body).decode() for r in rows} == {f"body {i}" for i in range(4)}
    assert all(r.http_status == 200 for r in rows)

    # one file of many members behind a warcinfo leader (the CommonCrawl
    # segment layout): every member becomes its own row, in file order
    segment = gzip_members(
        [encode_warc_record("info", "warcinfo", None, b"software: x")]
        + [
            encode_warc_record(f"m{i}", "response", f"http://t/m{i}",
                               encode_http_response(f"page {i}".encode()))
            for i in range(3)
        ]
    )
    many = parse_warc_batch(
        spark.createDataFrame([("seg", segment)], "path string, content binary")
    ).collect()
    assert [r.warc_type for r in many] == ["warcinfo"] + ["response"] * 3
    assert [bytes(r.body).decode() for r in many[1:]] == [f"page {i}" for i in range(3)]


def test_html_to_text_edge_cases(spark):
    """Tag stripping: nested attrs, multiline script bodies, self-closing
    tags, all five XML entities, the double-escape &amp;lt; case, and
    non-XML entities passing through untouched."""
    from etl_stack_spark.operators.text import html_to_text

    cases = [
        ("<p>a<br/>b</p>", "a b"),
        ("<script>\nvar s = '<p>sneaky</p>';\n</script>after", "after"),
        ("<STYLE media='x'>\nbody { color: &red }\n</STYLE>ok", "ok"),
        ("x &lt;tag&gt; &quot;q&quot; &#39;s&#39; &amp; y", "x <tag> \"q\" 's' & y"),
        ("&amp;lt; stays literal", "&lt; stays literal"),
        ("&copy; passes through", "&copy; passes through"),
        ("<div  class='a'\n data-x='1'>spread\nacross</div>", "spread across"),
    ]
    df = spark.createDataFrame(cases, "html string, want string")
    out = df.select("want", html_to_text(F.col("html")).alias("got")).collect()
    for r in out:
        assert r.got == r.want, (r.got, r.want)


def test_html_to_text_torture(spark):
    """Round-7 torture fixtures (VERDICT r6 task 7): the documented
    failure shapes of regex HTML stripping. Handled shapes extract
    correctly; unclosed script/style/comment QUARANTINES (NULL) instead
    of leaking the payload as corpus text. The contract is best-effort
    extraction — see html_to_text's docstring for the one documented
    unhandled residue (unbalanced quotes inside a tag)."""
    from etl_stack_spark.operators.text import html_to_text

    cases = [
        # comments containing tags must vanish wholesale
        ("before <!-- <div>hidden</div> --> after", "before after"),
        ("a <!--[if IE]><link href='ie.css'><![endif]--> b", "a b"),
        # CDATA sections drop with their raw payload
        ("a <![CDATA[ <raw> & junk ]]> b", "a b"),
        # quoted attribute values containing '>'
        ('<div title="a > b">text</div>', "text"),
        ("<a href='x' title='say \"use > wisely\"'>link</a>", "link"),
        ('<p class="x>y">attr gt stays quoted</p>', "attr gt stays quoted"),
        # bare comparisons in prose are NOT tags
        ("3 < 4 and 5 > 2", "3 < 4 and 5 > 2"),
        # old-school comment-hidden script dies with the block
        ("<script><!-- hide\nvar y=2;\n//--></script>visible", "visible"),
        # quarantine: unclosed script / style / comment -> NULL, never
        # raw JS/CSS leaking into the "text"
        ("<script>var x = 1; document.write('<p>'); ", None),
        ("<style>.a { color: red } ", None),
        ("text <!-- unterminated comment", None),
        # unterminated CDATA quarantines too (round-7 advisor): the
        # tag-strip regex would otherwise eat only up to the first '>'
        # and leak the rest of the payload as text
        ("text <![CDATA[ raw > payload leaks", None),
    ]
    df = spark.createDataFrame(cases, "html string, want string")
    out = df.select("want", html_to_text(F.col("html")).alias("got")).collect()
    for r in out:
        assert r.got == r.want, (r.got, r.want)
