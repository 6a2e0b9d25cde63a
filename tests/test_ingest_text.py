"""Golden gate for the html → text extractor (``ingest._extract_text_bytes``)
and byte-identity of the vectorized ``extract_text`` UDF with it per url."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cugraph_spark.ingest import _extract_text_bytes, extract_text

# url → (html bytes, pinned text)
GOLDEN = {
    "title-and-blocks": (
        b"<html><head><title> My Page </title></head><body><h1>Header</h1>"
        b"<p>First para.</p><div>Second <b>bold</b> text</div></body></html>",
        "My Page\nHeader\nFirst para.\nSecond\nbold\ntext",
    ),
    # anchor text is navigation: dropped with its tag, any case
    "anchors": (
        b'<p>See <a href="https://x.test/">the link</a> here</p><a class="n" href="/y">nav</a>',
        "See  here",
    ),
    "anchor-upper-and-stray-angle": (
        b'<p>a < b and c > d</p><A HREF="z">Z</A>end',
        "a\nd\nend",
    ),
    "attributes-and-self-closing": (
        b'<div class="a">one<br/>two</div>\n<li>three</li>',
        "one\ntwo\nthree",
    ),
    # the head is dropped in any case; the title tag is matched lower-case
    "upper-case-head": (b"<HTML><HEAD><TITLE>t</TITLE></HEAD><P>body</P>", "body"),
    # a title outside <head> is also body text
    "title-outside-head": (b"<title>\xffT</title><p>x</p>", "�T\n�T\nx"),
    "malformed-utf8": (b"<p>caf\xc3\xa9 \xff\xfe bad</p>", "café �� bad"),
    "empty": (b"", ""),
    "null": (None, ""),
}


@pytest.mark.parametrize("url", list(GOLDEN))
def test_extract_text_golden(url):
    html, want = GOLDEN[url]
    assert _extract_text_bytes(html) == want


def test_extract_text_udf_byte_identical(spark):
    pages = spark.createDataFrame(
        [(url, html) for url, (html, _) in GOLDEN.items()], "url STRING, html BINARY"
    )
    got = {
        r["url"]: r["text"]
        for r in pages.select("url", extract_text(F.col("html")).alias("text")).collect()
    }
    assert set(got) == set(GOLDEN)
    for url, (_, want) in GOLDEN.items():
        assert got[url].encode("utf-8") == want.encode("utf-8"), url
