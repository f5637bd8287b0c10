"""cheerio-parity fixtures for extract_text / extract_links (text.ts:46-81)."""

from crawler_spark.functions.html import (
    extract_links_from,
    extract_text_blocks,
)

PAGE = """<!doctype html>
<html><head><title>t</title></head><body>
<header>site header text here</header>
<h1>big heading</h1>
<p>first paragraph block</p>
<p>one</p>
<pre>code block should vanish</pre>
<div>standalone div text</div>
<div><div>inner div text</div></div>
<p>duplicate block</p>
<p>duplicate block</p>
<p>spaced    out
text</p>
<footer>footer junk</footer>
</body></html>"""


def test_extract_text_selector_cases():
    blocks = extract_text_blocks(PAGE)
    assert blocks == [
        "first paragraph block",
        "standalone div text",
        "inner div text",  # outer div has a div descendant → only inner kept
        "duplicate block",  # deduped, first occurrence
        "spaced out text",  # whitespace collapsed
    ]
    # removed: header/h1/pre/footer; "one" dropped by the ≥2-token filter


def test_nested_p_in_div_both_match_then_dedupe():
    # div without div-descendant matches even when it contains a p; the p
    # (no p/div inside) matches too; identical text → dedupe keeps one
    html = "<body><div><p>two words</p></div></body>"
    assert extract_text_blocks(html) == ["two words"]


def test_div_with_extra_text_keeps_both():
    html = "<body><div>outer text <p>inner words</p></div></body>"
    assert extract_text_blocks(html) == ["outer text inner words", "inner words"]


def test_p_autoclose_spec_behavior():
    # parse5/cheerio: <div> closes an open <p>, so the p has no div child
    html = "<body><p>before div<div>div words</div></body>"
    assert extract_text_blocks(html) == ["before div", "div words"]


def test_text_concat_no_separator():
    # cheerio .text() injects no separators between child nodes
    html = "<body><p>foo<b>bar</b> baz</p></body>"
    assert extract_text_blocks(html) == ["foobar baz"]


def test_empty_and_broken_html():
    assert extract_text_blocks("") == []
    assert extract_text_blocks("<p>solo</p>") == []  # 1 token dropped
    assert extract_text_blocks("<<<>>>") == []


LINKS_PAGE = """<html><body>
<a href="http://other.example/page">x</a>
<a href="relative/path.html">rel</a>
<a href="/rooted">root</a>
<a href="#frag">frag-only</a>
<a href="HTTP://UPPER.example:80/x">upper</a>
<a href="http://q.example/p?b=2&amp;a=1">query</a>
<a href="mailto:bob@example.com">mail</a>
<a href="javascript:void(0)">js</a>
<a>no-href</a>
<a href="http://files.example/data.json">json</a>
</body></html>"""


def test_extract_links_resolution_and_order():
    links = extract_links_from(LINKS_PAGE, "http://src.example/dir/page.html")
    urls = [u for (u, _h, _p) in links]
    assert urls == [
        "http://other.example/page",
        "http://src.example/dir/relative/path.html",
        "http://src.example/rooted",
        "http://src.example/dir/page.html",  # fragment-only → self, hash dropped
        "http://upper.example/x",  # lowercased, :80 stripped
        "http://q.example/p?a=1&b=2",  # params sorted (north-rule superset)
        "mailto:bob@example.com",  # passes hasProto (reference quirk)
        "javascript:void(0)",
        "http://files.example/data.json",
    ]
    hosts = [h for (_u, h, _p) in links]
    assert hosts[0] == "other.example"
    assert hosts[6] == ""  # mailto has no host, as in reference getHostname
    assert [p for (_u, _h, p) in links] == list(range(9))


def test_extract_links_empty():
    assert extract_links_from("", "http://x.example/") == []
    assert extract_links_from("<body>no anchors</body>", "http://x.example/") == []


def test_kernels_survive_random_tag_soup():
    """The extraction kernels must never raise on arbitrary byte soup —
    real crawls feed them truncated, mis-nested, entity-broken HTML."""
    import random

    from crawler_spark.functions.html import (
        extract_images_from,
        extract_links_from,
        extract_page,
        extract_text_blocks,
    )

    rng = random.Random(99)
    frags = [
        "<div>", "</div>", "<p>", "</p>", "<a href='", "'>", "</a>",
        "<img src=", "plain text ", "&amp;", "&bogus;", "<", ">", "=",
        "\"", "'", "<!-- ", " -->", "<script>", "</header>", "<b",
        "http://x.test/", "../rel", "\x00", "é", "日本語 ", "<p", "/>",
    ]
    for _ in range(300):
        soup = "".join(rng.choice(frags) for _ in range(rng.randrange(0, 60)))
        blocks = extract_text_blocks(soup)
        links = extract_links_from(soup, "http://base.test/a/b")
        imgs = extract_images_from(soup, "http://base.test/a/b")
        assert all(isinstance(b, str) for b in blocks)
        assert all(isinstance(u, str) and pos >= 0 for u, _h, pos in links)
        assert all(isinstance(u, str) for u, _a, _d, _p in imgs)
        # the crawl's one-parse kernel is the two kernels side by side,
        # and "\n" separates blocks losslessly (learn splits on it)
        assert extract_page(soup, "http://base.test/a/b") == (
            "\n".join(blocks), links
        )
        assert not any("\n" in b for b in blocks)
