"""Extraction-kernel semantics: //p/text() + //h1/text() + markers.

The kernel is the spec for byte-identical extraction
(BASELINE.json:input_hint); these goldens pin XPath text() semantics
(direct text nodes only), void elements, raw-text skipping, and the
reference's ListCombiner no-separator concat (news_func.py:1-5).
"""

from pyspark.sql import functions as F

from news_combinator_spark.functions.extract import (
    canonical_links_udf,
    extract_links,
    extract_markers,
    extract_passage,
    extract_title,
)
from news_combinator_spark.functions.urls import canonicalize_url, match_source


def test_passage_simple_concat_no_separator():
    html = "<html><body><p>a b</p><p>c d</p></body></html>"
    assert extract_passage(html) == "a bc d"


def test_passage_excludes_nested_element_text():
    # //p/text() returns only direct text children; <b> text excluded,
    # text after </b> resumes.
    html = "<p>alpha<b>bold</b>omega</p>"
    assert extract_passage(html) == "alphaomega"


def test_passage_void_elements_do_not_nest():
    html = '<p>pre<img src="x.jpg"/>post</p><p>two<br>three</p>'
    assert extract_passage(html) == "prepost" + "twothree"


def test_passage_skips_script_and_style():
    html = "<p>keep</p><script>var p = '<p>no</p>';</script><style>p{}</style>"
    assert extract_passage(html) == "keep"


def test_passage_nested_p_in_div():
    html = '<div class="a"><p>inner</p></div><p>outer</p>'
    assert extract_passage(html) == "innerouter"


def test_title_first_h1_only():
    html = '<h1 id="h1title">First</h1><h1>Second</h1>'
    assert extract_title(html) == "First"
    assert extract_title("<body>none</body>") == ""


def test_links_document_order_with_dups():
    html = '<a href="u1">x</a><a href="u2">y</a><a href="u1">z</a>'
    assert extract_links(html) == ["u1", "u2", "u1"]


def test_markers_reference_regexes():
    html = (
        "<script>var cmt_id = 12345;\n"
        'var boardId = "news_board"\n'
        "comment_id:1-2-3456789\n"
        "comment_channel:gn;\n"
        '"productKey" : "abcdef"\n</script>'
    )
    m = extract_markers(html)
    assert m["cmt_id"] == "12345"
    assert m["board_id"] == "news_board"
    assert m["comment_id"] == "1-2-3456789"
    assert m["comment_channel"] == "gn"
    assert m["product_key"] == "abcdef"


def test_canonicalize_url():
    assert (
        canonicalize_url("HTTP://News.QQ.com:80/a/1.htm#frag")
        == "http://news.qq.com/a/1.htm"
    )
    assert (
        canonicalize_url("http://h.test/p?b=2&a=1")
        == "http://h.test/p?a=1&b=2"
    )
    assert canonicalize_url("http://h.test") == "http://h.test/"


def test_match_source_reference_grammars():
    # netease date = '20'+yy+mmdd (crawlernewsspider.py:25)
    assert match_source("http://news.163.com/14/0301/09/ABCD123.html") == (
        "netease",
        "20140301",
        "ABCD123",
    )
    assert match_source("http://news.qq.com/a/20140301/000123.htm") == (
        "tencent",
        "20140301",
        "000123",
    )
    src = match_source(
        "http://sub1.news.sina.com.cn/c/2014-03-01/120012345678.shtml"
    )
    assert src == ("sina", "20140301", "12345678")
    assert match_source("http://other.example/x") is None


# links covering the canonicalizer's rules: dot segments, percent
# encodings (unreserved decoded, hex uppercased), default ports,
# fragments, sorted query keys, empty path, empty href
_CANON_HTML = (
    '<a href="HTTP://H.test:80/a/./b/../c.htm#top">1</a>'
    '<a href="https://h.test:443/%7euser/%2fx?b=2&a=1">2</a>'
    '<a href="http://h.test:8080/p#f">3</a>'
    '<a href="http://h.test">4</a>'
    '<a href="">5</a>'
    '<a href="HTTP://H.test:80/a/./b/../c.htm#top">dup</a>'
)


def _canonical_links_ref(html) -> list[str]:
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8")
    return [canonicalize_url(u) for u in extract_links(html)]


def test_canonical_links_udf_matches_kernel_composition(spark):
    """The fused UDF equals canonicalize_url over extract_links, on
    string and binary html alike; None html yields no links."""
    docs = [_CANON_HTML, "<p>no links</p>", None,
            '<a href="http://h.test/%41b/../c?z=1#x">a</a>']
    str_df = spark.createDataFrame([(i, h) for i, h in enumerate(docs)],
                                   "id int, html string")
    bin_df = str_df.select("id", F.col("html").cast("binary").alias("html"))
    for df in (str_df, bin_df):
        got = {
            r.id: list(r.links)
            for r in df.select(
                "id", canonical_links_udf("html").alias("links")
            ).collect()
        }
        exp = {i: _canonical_links_ref(h) for i, h in enumerate(docs)}
        assert got == exp
    # the goldens the composition must hit
    assert _canonical_links_ref(_CANON_HTML.encode()) == [
        "http://h.test/a/c.htm",
        "https://h.test/~user/%2Fx?a=1&b=2",
        "http://h.test:8080/p",
        "http://h.test/",
        "",
        "http://h.test/a/c.htm",
    ]
