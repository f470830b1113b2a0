"""Hand-pinned golden outputs for the extraction pipeline.

Unlike the synth corpus (whose golden text our own extractor produced),
these expected strings were written BY HAND from the reference semantics
(src/scraper.rs:75-134, src/readability.rs, src/dom.rs) — an independent
pin of the byte-identity contract.
"""

from pink_spider_spark.extract import extract
from pink_spider_spark.functions.udfs import _canon_one


def test_golden_simple_article():
    html = ('<html><head><title>T</title></head><body>'
            '<div id="main">'
            '<p>Alpha beta gamma delta epsilon zeta eta theta iota kappa.</p>'
            '<p>Lambda mu nu xi omicron pi rho sigma tau upsilon phi chi.</p>'
            '</div>'
            '<footer>site footer text</footer>'
            '</body></html>')
    p = extract(html, "https://example.com/a")
    # top candidate = div#main (two scoring <p> children); text = trimmed
    # concatenation of its text descendants, no separator; footer excluded
    assert p.text == ("Alpha beta gamma delta epsilon zeta eta theta iota kappa."
                      "Lambda mu nu xi omicron pi rho sigma tau upsilon phi chi.")
    # clean() strips id/class attrs; content is the serialized cleaned div
    assert p.content == (
        "<div>"
        "<p>Alpha beta gamma delta epsilon zeta eta theta iota kappa.</p>"
        "<p>Lambda mu nu xi omicron pi rho sigma tau upsilon phi chi.</p>"
        "</div>")


def test_golden_whitespace_trimming_no_separator():
    html = ('<html><body><div>'
            '<p>  Leading and trailing spaces trimmed here, promise!  </p>'
            '<p>\n\tSecond block with inner   spaces   kept as-is, ok?\n</p>'
            '</div></body></html>')
    p = extract(html, "https://example.com/b")
    # each TEXT NODE is trimmed; inner whitespace preserved; no separator
    assert p.text == ("Leading and trailing spaces trimmed here, promise!"
                      "Second block with inner   spaces   kept as-is, ok?")


def test_golden_empty_div_removed_and_img_kept():
    html = ('<html><body><div id="art">'
            '<p>Paragraph body that is long enough to score, with commas, yes.</p>'
            '<img src="https://cdn.example.com/x.png">'
            '<div></div>'
            '</div></body></html>')
    p = extract(html, "https://example.com/c")
    # empty <div></div> removed (dom.rs:61-88); img with absolute https src
    # kept and unchanged (readability.rs:56-69)
    assert p.content == (
        '<div>'
        '<p>Paragraph body that is long enough to score, with commas, yes.</p>'
        '<img src="https://cdn.example.com/x.png">'
        '</div>')


def test_golden_nested_link_text_counts_per_enclosing_link():
    # the parser keeps an <a> nested in a table cell inside the outer
    # <a>; link density sums each <a>'s text, so "yyyyy" counts twice.
    # Inner div: text 1 + 5 + 24 = 30 chars, links 6 + 5 = 11, density
    # 11/30 > 0.2 with weight 0: is_useless drops it (counted once, the
    # density would be 6/30 = 0.2, not above the bound, and it would stay)
    html = ('<html><body><div id="main">'
            '<p>Alpha beta gamma delta epsilon zeta eta theta iota kappa.</p>'
            '<p>Lambda mu nu xi omicron pi rho sigma tau upsilon phi chi.</p>'
            '<div><a href="/x">x<table><tr><td><a href="/y">yyyyy</a>'
            '</td></tr></table></a>plain text, not any link</div>'
            '</div></body></html>')
    p = extract(html, "https://example.com/d")
    assert p.text == ("Alpha beta gamma delta epsilon zeta eta theta iota kappa."
                      "Lambda mu nu xi omicron pi rho sigma tau upsilon phi chi.")
    assert p.content == (
        "<div>"
        "<p>Alpha beta gamma delta epsilon zeta eta theta iota kappa.</p>"
        "<p>Lambda mu nu xi omicron pi rho sigma tau upsilon phi chi.</p>"
        "</div>")


def test_canonicalize_url():
    assert _canon_one("HTTPS://Host0.Example.COM:443/p/1#frag") == \
        "https://host0.example.com/p/1"
    assert _canon_one("http://a.b:80/x?q=1#f") == "http://a.b/x?q=1"
    assert _canon_one("https://a.b:8443/") == "https://a.b:8443/"
    assert _canon_one("https://a.b") == "https://a.b/"
    # idempotent
    for u in ("https://host1.example.net/p/2?x=%3A",
              "http://a.b:8080/q?y=2"):
        assert _canon_one(_canon_one(u)) == _canon_one(u)
