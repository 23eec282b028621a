"""End-to-end ETL test (SURVEY §5 test plan #3, FIXTURES B1).

Synthesizes a tiny WARC exercising every pipeline branch — valid page,
malformed HTML, oversize record, corrupt gzip, blacklisted hostname,
non-response record — runs the full url_resource pipeline, and checks row
accounting, stub semantics, and sink re-readability.
"""

from __future__ import annotations

import gzip

import pytest

from warcraider_spark.plans.pipeline import url_resource_from_warc_records, write_url_resource
from warcraider_spark.schema import URL_RESOURCE_FIELDS
from warcraider_spark.sources.warc import build_warc_bytes, read_warc

GOOD_HTML = b"""<html><head><title>Good Page</title>
<meta name="description" content="a test page" />
<link rel="stylesheet" href="/style.css" />
<script src="/app.js"></script>
</head><body>
<h1>Heading One</h1>
<p>Some body text with <a href="/relative">a link</a> and
<a href="https://other.example.org/abs">another</a>.</p>
<script>ga('create', 'UA-12345-6', 'auto'); ga('send', 'pageview');</script>
</body></html>"""

MALFORMED_HTML = b"<html><body><p>broken <b>page<a href='/x.htm'>link</p></body>"

BIG_HTML = b"<html><head><title>Big</title></head><body>" + b"x" * 2_100_000 + b"</body></html>"


def _http(body: bytes, extra_headers: str = "") -> bytes:
    return (
        b"HTTP/1.1 200 OK\nContent-Type: text/html\n"
        + extra_headers.encode()
        + b"\n\r\n"
        + body
    )


@pytest.fixture(scope="module")
def warc_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("warc")
    records = [
        (  # 1: valid page with funnelback headers
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://www.example.gov.au/page",
                "Uncompressed-Content-Length": str(len(GOOD_HTML) + 100),
            },
            _http(
                GOOD_HTML,
                "X-Funnelback-Total-Request-Time-MS: 1500\nX-Funnelback-AA-Domain: override.gov.au\n",
            ),
        ),
        (  # 2: malformed HTML → still parsed by the lenient parser
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://malformed.example.gov.au/bad",
                "Uncompressed-Content-Length": str(len(MALFORMED_HTML) + 50),
            },
            _http(MALFORMED_HTML),
        ),
        (  # 3: oversize → regex-fallback row (no HTML parse)
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://big.example.gov.au/huge",
                "Uncompressed-Content-Length": str(len(BIG_HTML)),
            },
            _http(BIG_HTML),
        ),
        (  # 5: blacklisted hostname → dropped
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://data.gov.au/dataset",
                "Uncompressed-Content-Length": "100",
            },
            _http(b"<html><body>blacklisted</body></html>"),
        ),
        (  # 6: non-response record → filtered
            {
                "WARC-Type": "request",
                "WARC-Target-URI": "https://www.example.gov.au/page",
                "Uncompressed-Content-Length": "10",
            },
            b"GET /page",
        ),
    ]
    raw = build_warc_bytes(records)
    # 4: corrupt-gzip record spliced in manually (build_warc_bytes would gzip)
    bad_body = b"\x1f\x8b\x08\x00NOTGZIP_GARBAGE"
    bad = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: https://corrupt.example.gov.au/gz\r\n"
        b"Uncompressed-Content-Length: 50\r\n"
        + f"Content-Length: {len(bad_body)}\r\n\r\n".encode()
        + bad_body
        + b"\r\n\r\n"
    )
    p = d / "test-000.warc"
    p.write_bytes(raw + bad)
    return str(d)


@pytest.fixture(scope="module")
def output(spark, warc_path):
    records = read_warc(spark, warc_path)
    df = url_resource_from_warc_records(records)
    rows = {r["url"]: r.asDict() for r in df.collect()}
    return df, rows


def test_row_accounting(output):
    _, rows = output
    # 6 records: blacklist, request-type, corrupt gzip dropped → 3 rows
    assert set(rows) == {
        "https://www.example.gov.au/page",
        "https://malformed.example.gov.au/bad",
        "https://big.example.gov.au/huge",
    }


def test_schema(output):
    df, _ = output
    assert tuple(df.columns) == URL_RESOURCE_FIELDS


def test_good_page(output):
    _, rows = output
    r = rows["https://www.example.gov.au/page"]
    assert r["title"] == "Good Page"
    assert r["hostname"] == "override.gov.au"  # X-Funnelback-AA-Domain wins
    assert r["domain_name"] == "example.gov.au"  # from the REGEX hostname
    assert r["load_time"] == pytest.approx(1.5)
    assert r["headings_text"] == "Heading One"
    # links absolutized, sorted, deduped
    assert r["links"] == [
        "https://other.example.org/abs",
        "https://www.example.gov.au/relative",
    ]
    assert "https://www.example.gov.au/style.css" in r["resource_urls"]
    assert "https://www.example.gov.au/app.js" in r["resource_urls"]
    assert r["google_analytics"] == ["UA-12345-6"]
    # ga(...) captures minus the plain pageview send
    assert "'create', 'UA-12345-6', 'auto'" in r["google_analytics_config"]
    assert "'send', 'pageview'" not in r["google_analytics_config"]
    assert r["headers"]["Content-Type"] == "text/html"
    assert r["word_count"] > 0
    assert r["meta_tags"]["description"] == "a test page"
    assert len(r["keywords"]) > 0


def test_malformed_still_parses(output):
    _, rows = output
    r = rows["https://malformed.example.gov.au/bad"]
    assert "broken" in r["text_content"]
    assert "https://malformed.example.gov.au/x.htm" in r["links"]


def test_oversize_fallback(output):
    _, rows = output
    r = rows["https://big.example.gov.au/huge"]
    # parse skipped → regex fallback: title via regex, headings empty
    assert r["title"] == "Big"
    assert r["headings_text"] == ""
    assert r["size_bytes"] > 2_000_000
    assert r["word_count"] >= 1


def test_sink_roundtrip(output, spark, tmp_path_factory):
    df, _ = output
    out = str(tmp_path_factory.mktemp("sink") / "url_resource")
    fmt = write_url_resource(df, out)
    assert fmt in ("parquet", "avro")
    back = spark.read.parquet(out) if fmt == "parquet" else spark.read.format("avro").load(out)
    assert back.count() == 3
    assert set(back.columns) == set(URL_RESOURCE_FIELDS)


def test_observed_metrics(spark, warc_path):
    """Observation counters mirror the reference's per-batch logging
    (records in / responses / blacklist survivors / gzip-decodable /
    fallbacks) and are computed DURING the action — no extra passes."""
    records = read_warc(spark, warc_path)
    metrics: dict = {}
    df = url_resource_from_warc_records(records, metrics=metrics)
    n_out = df.count()

    m = {name: obs.get for name, obs in metrics.items()}
    assert m["input"]["n_records"] == 6
    assert m["responses"]["n_responses"] == 5  # request-type record dropped
    assert m["post_blacklist"]["n_kept"] == 4  # blacklisted host dropped
    assert m["decompressed"]["n_ok_gzip"] == 3  # corrupt gzip dropped
    assert m["parsed"]["n_rows"] == n_out == 3
    # the oversize record takes the regex-fallback path (html.ok = false)
    assert m["parsed"]["n_oversize"] == 1
    assert m["parsed"]["n_parse_fallback"] >= 1


@pytest.fixture(scope="module")
def blacklist_warc(tmp_path_factory):
    """One record per blacklist rule, plus near-misses that must survive."""
    from warcraider_spark.functions.extract import URL_BLACKLIST, URL_SUBSTRING_BLACKLIST

    dropped = [
        "https://data.gov.au/dataset",  # exact HOSTNAME_BLACKLIST entry
        URL_BLACKLIST[1],  # exact URL_BLACKLIST entry
        # one per URL_SUBSTRING_BLACKLIST entry
        "https://files.example.gov.au/ca91-4-xd.pdf",
        "https://www.sbs.com.au/ondemand/show",
        "https://www.sbs.com.au/news/story",
        "https://www.abc.net.au/news/story",
    ]
    assert [sum(sub in u for u in dropped) for sub in URL_SUBSTRING_BLACKLIST] == [1, 1, 1, 1]
    kept = [
        "https://www.data.gov.au/dataset",  # hostname match is exact
        URL_BLACKLIST[1] + "?x=1",  # URL match is exact
        "https://ABC.net.au/news",  # substring match is case-sensitive
        "https://aa.example.gov.au/page",  # blacklisted AA-Domain override
    ]
    records = [
        (
            {"WARC-Type": "response", "WARC-Target-URI": url},
            _http(
                b"<html><head><title>t</title></head><body><p>words here</p></body></html>",
                "X-Funnelback-AA-Domain: data.gov.au\n" if "aa.example" in url else "",
            ),
        )
        for url in dropped + kept
    ]
    d = tmp_path_factory.mktemp("blacklist")
    (d / "bl-000.warc").write_bytes(build_warc_bytes(records))
    return str(d), dropped, kept


def test_blacklist_rules_through_pipeline(spark, blacklist_warc):
    """Each blacklist rule (blacklist.rs:52-57) drops its record inside the
    pipeline; the rules match the REGEX hostname and the exact URL, so an
    X-Funnelback-AA-Domain override naming a blacklisted host does not
    drop the record (main.rs:245-255), and near-misses survive."""
    path, _dropped, kept = blacklist_warc
    metrics: dict = {}
    df = url_resource_from_warc_records(read_warc(spark, path), metrics=metrics)
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == set(kept)
    # the override still names the output hostname
    assert rows["https://aa.example.gov.au/page"]["hostname"] == "data.gov.au"
    m = {name: obs.get for name, obs in metrics.items()}
    assert m["responses"]["n_responses"] == 10
    assert m["post_blacklist"]["n_kept"] == 4


def test_ranged_read_path_e2e(spark, warc_path, output):
    """The production dataflow through the byte-range-parallel read path:
    read_warc_auto with a split budget below the fixture size must route
    through read_warc_ranged and produce the SAME url_resource rows (incl.
    the `source` column, i.e. warc_file URI normalization holds) and the
    same row accounting as the whole-file path."""
    import os

    from pyspark.sql import functions as F

    from warcraider_spark.sources.warc import read_warc_auto

    _, whole_rows = output
    assert os.path.getsize(os.path.join(warc_path, "test-000.warc")) > 2000
    ranged = read_warc_auto(spark, warc_path, target_split_bytes=2000)
    assert "binaryFile" not in ranged._jdf.queryExecution().analyzed().toString()
    # really routed through the ranged reader: ONE file's records come from
    # multiple tasks (the whole-file reader never splits a file)
    pids = ranged.select(F.spark_partition_id().alias("pid")).distinct().count()
    assert pids >= 2
    df = url_resource_from_warc_records(ranged)
    got = {r["url"]: r.asDict() for r in df.collect()}
    assert set(got) == set(whole_rows)
    for url, row in got.items():
        assert row == whole_rows[url], url


def test_unicode_whitespace_through_pipeline(spark, tmp_path_factory):
    """r11: the Unicode whitespace-class fix verified ON THE PIPELINE
    PATH where main.rs:383-386 actually runs — a WARC response whose
    HTML body carries U+3000/NBSP runs must come out with those runs
    DELETED from text_content (the reference's Rust \\s is Unicode
    White_Space) and with word_count counting Unicode-separated tokens
    (main.rs:470 par_split_whitespace). Before the (?U) fix the runs
    survived and the U+3000-separated CJK pair counted as one token."""
    html = (
        "<html><head><title>t</title></head><body>"
        "start\u3000\u3000middle\u00a0\u00a0end "
        "\u6df1\u5ea6\u5b66\u4e60\u3000\u6a21\u578b"
        "</body></html>"
    ).encode("utf-8")
    d = tmp_path_factory.mktemp("uniwarc")
    records = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://uni.example.gov.au/ws",
                "Uncompressed-Content-Length": str(len(html) + 100),
            },
            _http(html),
        )
    ]
    (d / "uni-000.warc").write_bytes(build_warc_bytes(records))
    rows = url_resource_from_warc_records(read_warc(spark, str(d))).collect()
    assert len(rows) == 1
    r = rows[0]
    # the ≥2 runs are DELETED (concatenating neighbors, the quirk), the
    # single U+3000 between the CJK tokens is KEPT
    assert r["text_content"] == "startmiddleend \u6df1\u5ea6\u5b66\u4e60\u3000\u6a21\u578b"
    # word_count: Unicode split_whitespace over the normalized text —
    # 'startmiddleend' + the two U+3000-separated CJK tokens
    assert r["word_count"] == 3


def test_strict_attr_bytes_through_pipeline(spark, tmp_path_factory):
    """r12 (3-leg r13): the path-keyed attribute-byte contract verified
    ON THE PIPELINE PATH — a strict-parsing page (balanced,
    entity-bearing hrefs) must surface its links in html5ever's escaped
    bytes ('&amp;' survives into the absolutized URL exactly as the
    reference's from_utf8_lossy strict leg emits it, and '&quot;' is
    stripped by the quote-mark regex the reference applies at
    lib.rs:410). A tidy-path page (structural failure, no preserved
    fatal token) emits the SAME escaped bytes — ammonia re-serializes
    AFTER tidy (ADVICE r12); only the soup leg (script-interior fatal,
    see test_parse_cascade_fuzz) keeps the decoded reading."""
    strict_html = (
        '<html><head><title>t</title></head><body>'
        '<a href="/p?a=1&amp;b=2">x</a>'
        "<a href='/q\"r'>y</a>"
        "</body></html>"
    ).encode("utf-8")
    tidy_html = (
        '<html><body><div><a href="/p?a=1&amp;b=2">x</a></body></html>'
    ).encode("utf-8")
    soup_html = (
        "<html><body><script>var x='<!'+'[CD'+'ATA';</script>"
        '<a href="/p?a=1&amp;b=2">x</a></body></html>'
    ).encode("utf-8")
    d = tmp_path_factory.mktemp("attrwarc")
    records = [
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://s.example.gov.au/dir/page",
                "Uncompressed-Content-Length": str(len(strict_html) + 100),
            },
            _http(strict_html),
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://t.example.gov.au/dir/page",
                "Uncompressed-Content-Length": str(len(tidy_html) + 100),
            },
            _http(tidy_html),
        ),
        (
            {
                "WARC-Type": "response",
                "WARC-Target-URI": "https://u.example.gov.au/dir/page",
                "Uncompressed-Content-Length": str(len(soup_html) + 100),
            },
            _http(soup_html),
        ),
    ]
    (d / "attr-000.warc").write_bytes(build_warc_bytes(records))
    rows = {
        r["url"]: r
        for r in url_resource_from_warc_records(read_warc(spark, str(d))).collect()
    }
    s = rows["https://s.example.gov.au/dir/page"]
    # strict page: html_errors empty (tidy never ran), links escaped
    assert s["html_errors"] == ""
    assert s["links"] == [
        "https://s.example.gov.au/p?a=1&amp;b=2",
        "https://s.example.gov.au/qr",  # &quot; stripped post-join
    ]
    t = rows["https://t.example.gov.au/dir/page"]
    # tidy page (unclosed <div>): escaped bytes like the strict leg
    # (ammonia escapes after tidy), diagnostics present
    assert t["html_errors"] != ""
    assert t["links"] == ["https://t.example.gov.au/p?a=1&amp;b=2"]
    u = rows["https://u.example.gov.au/dir/page"]
    # soup page (script-interior '<!' bang — the moneysmart mechanism):
    # quick-xml dies on BOTH legs, html5ever's DOM getters decode
    assert u["html_errors"] != ""
    assert u["links"] == ["https://u.example.gov.au/p?a=1&b=2"]
