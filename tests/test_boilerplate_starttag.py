"""Differential pin for the boilerplate kernel's start-tag fast path.

``_BlockParser.parse_starttag`` skips the stdlib attribute loop when a
regex proves the loop would consume the whole tag, and falls back to
``HTMLParser.parse_starttag`` otherwise.  The parser with the fast path
must be indistinguishable from one running the stdlib method: the same
handler events (tag names, data chunks, CDATA state) and the same
``extract_main_text`` output.  Attributes are left out of the comparison
on purpose: the fast path passes none, because no handler reads them.
"""

from __future__ import annotations

import random
from html.parser import HTMLParser

import pytest

from ocr_api_spark.kernels import boilerplate
from ocr_api_spark.kernels.boilerplate import _BlockParser, extract_main_text, segment_blocks

ADVERSARIAL = [
    # quoted '>' inside attribute values
    '<div title="a>b"><p class=\'x>y\'>quoted gt text</p></div>',
    '<p data-x="1 > 0" data-y=\'<\'>compare</p>',
    # charrefs in attribute values
    '<a href="/q?a=1&amp;b=2">amp link</a> tail words here',
    '<p title="&lt;tag&gt;" class=&quot;x>charref attrs</p>',
    "<div id='&#62;&#x3E;'>numeric refs</div>",
    # '</' forms
    "text </ not a tag > more text",
    "a </> b </3 c </p d",
    "<p>para</ p><div>div</div >",
    # self-closing variants
    "<p/ >spaced self close</p>",
    "<br/><br /><hr/ ><img src=x/><a href=y/>after</a>",
    '<p a=b/>unquoted slash</p><p a="b"/>quoted slash</p>',
    # unclosed and malformed tags
    '<div class="never closed',
    "<p>open para<div>open div<span>open span",
    "<p a\"b=c>stray quote</p>",
    "<p =x>empty attr name</p><p a=b=c>double equals</p>",
    '<p a="1"b="2">no space between attrs</p>',
    "<p\n\tclass = 'x'\n>whitespace in tag</p>",
    "<<p>>double brackets<</p>>",
    "<",
    "<p",
    "<a href='unterminated>text after",
    # script/style cdata
    '<script>if (a<b && c>d) { document.write("</div>") }</script><p>after script</p>',
    "<style>p>a{color:red} </p></style><p>after style</p>",
    "<SCRIPT type='text/x'>x</SCRIPT ><p>upper script</p>",
    "<script/>self-closed script<p>para</p>",
    '<script src="a.js" async>var s = "<p>not a tag</p>";</script>content',
    "<style media=\"x>y\">b{}</style>tail",
    "<script>never closed <p>inside",
    # comments, declarations, processing instructions, uppercase, odd names
    "<!-- <p>commented</p> --><!DOCTYPE html><?xml version='1.0'?><P CLASS=X>upper</P>",
    "<p:x a=1>ns tag</p:x><a-b>dash tag</a-b><h1 id=t>Head</h1>",
    "&amp; &#x41; &nosuch; &lt;p&gt; entity data",
]

_FUZZ_TOKENS = [
    "<", ">", "/", "/>", "</", '"', "'", "=", " ", "\n", "p", "div", "a", "h2",
    "script", "style", "nav", "href", "class", "&amp;", "&#62;", "&", "x", "word",
    "<!--", "-->", "<p>", "</p>", "<a href=", "<script>", "</script>",
]


def _fuzz_cases(n: int, seed: int = 9) -> list[str]:
    rng = random.Random(seed)
    return ["".join(rng.choice(_FUZZ_TOKENS) for _ in range(rng.randint(5, 60))) for _ in range(n)]


class _Recording:
    """Records every handler call as (event, tag-or-data, cdata state)."""

    def __init__(self):
        super().__init__()
        self.events: list[tuple] = []

    def handle_starttag(self, tag, attrs):
        self.events.append(("start", tag))
        super().handle_starttag(tag, attrs)

    def handle_startendtag(self, tag, attrs):
        self.events.append(("startend", tag))
        super().handle_startendtag(tag, attrs)

    def handle_endtag(self, tag):
        self.events.append(("end", tag))
        super().handle_endtag(tag)

    def handle_data(self, data):
        self.events.append(("data", data, self.cdata_elem))
        super().handle_data(data)


class _StdlibBlockParser(_BlockParser):
    parse_starttag = HTMLParser.parse_starttag


class _FastRecorder(_Recording, _BlockParser):
    pass


class _StdlibRecorder(_Recording, _StdlibBlockParser):
    pass


def _events(cls, html: str) -> list[tuple]:
    parser = cls()
    try:
        parser.feed(html)
        parser.close()
    except Exception as e:  # noqa: BLE001 - both parsers must fail alike
        parser.events.append(("error", type(e).__name__))
    return parser.events + [("blocks", [b.text for b in parser.blocks])]


FUZZ = _fuzz_cases(400)


@pytest.mark.parametrize("html", ADVERSARIAL, ids=[f"adv{i}" for i in range(len(ADVERSARIAL))])
def test_fast_starttag_matches_stdlib_events(html):
    assert _events(_FastRecorder, html) == _events(_StdlibRecorder, html)


def test_fast_starttag_matches_stdlib_events_fuzz():
    diverged = [h for h in FUZZ if _events(_FastRecorder, h) != _events(_StdlibRecorder, h)]
    assert diverged == []


def test_fast_starttag_matches_stdlib_main_text(monkeypatch):
    cases = ADVERSARIAL + FUZZ
    fast = [extract_main_text(h) for h in cases]
    monkeypatch.setattr(boilerplate, "_BlockParser", _StdlibBlockParser)
    assert [extract_main_text(h) for h in cases] == fast


def test_fast_path_skips_stdlib_on_simple_tags(monkeypatch):
    """The differential tests compare two code paths only if the fast
    path actually handles ordinary tags without the stdlib fallback."""
    calls = []
    stdlib = HTMLParser.parse_starttag

    def counting(self, i):
        calls.append(i)
        return stdlib(self, i)

    monkeypatch.setattr(HTMLParser, "parse_starttag", counting)
    segment_blocks('<div class="main" id=x><p>text</p><br/><a href=\'/y\'>link</a></div>')
    assert calls == []
    segment_blocks("<p/ >fallback</p>")
    assert len(calls) == 1
