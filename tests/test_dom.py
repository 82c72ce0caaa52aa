"""DOM module unit tests — pin the bs4-compatible semantics we rely on."""

from html.parser import HTMLParser

from politics_crawler_spark.parsers.dom import _VOID, Node, parse_html


class _TreeBuilder(HTMLParser):
    """stdlib-tokenizer reference tree builder for the parity tests."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]")
        self._stack = [self.root]

    def handle_starttag(self, tag, attrs):
        node = Node(tag, dict(attrs), parent=self._stack[-1])
        self._stack[-1].children.append(node)
        if tag not in _VOID:
            self._stack.append(node)

    def handle_startendtag(self, tag, attrs):
        node = Node(tag, dict(attrs), parent=self._stack[-1])
        self._stack[-1].children.append(node)

    def handle_endtag(self, tag):
        # forgiving recovery: pop to nearest matching open tag, else ignore
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def handle_data(self, data):
        if data:
            self._stack[-1].children.append(data)


def parse_html_stdlib(text: str) -> Node:
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def test_get_text_separator_strip():
    soup = parse_html("<div><p> a </p><p>b<b>c</b></p><p>  </p></div>")
    div = soup.find("div")
    assert div.get_text(separator="\n", strip=True) == "a\nb\nc"


def test_get_text_no_strip_concat():
    soup = parse_html("<p>a<b>b</b> c</p>")
    assert soup.find("p").get_text(strip=True) == "ab" + "c"  # 'a','b',' c'→strip


def test_entities_decoded():
    soup = parse_html("<p>&amp;lt; &nbsp;&quot;</p>")
    assert soup.find("p").text == '&lt; \xa0"'


def test_class_token_match():
    soup = parse_html('<div class="a b c">x</div>')
    assert soup.find("div", class_="b") is not None
    assert soup.find("div", class_="d") is None


def test_class_whitespace_exact_match():
    # bs4 multi-token query string compares the full attribute value
    soup = parse_html('<div class="rd_body clear">x</div><div class="clear rd_body">y</div>')
    hits = soup.find_all("div", class_="rd_body clear")
    assert len(hits) == 1 and hits[0].text == "x"


def test_attrs_and_id():
    soup = parse_html('<span id="likeCnt">7</span><i itemprop="datePublished">d</i>')
    assert soup.find("span", id="likeCnt").text == "7"
    assert soup.find("i", itemprop="datePublished").text == "d"


def test_find_parent():
    soup = parse_html('<div style="background:#f8f7f7;"><span><img src="x"></span></div>')
    img = soup.find("img")
    assert img.find_parent("div", attrs={"style": "background:#f8f7f7;"}) is not None
    assert img.find_parent("table") is None


def test_void_elements_and_recovery():
    soup = parse_html("<div><img src=a><br><p>t</div></p>")
    assert soup.find("img") is not None
    assert soup.find("p").text == "t"


def test_find_all_nested_order():
    soup = parse_html("<div><p>1</p><section><p>2</p></section><p>3</p></div>")
    assert [p.text for p in soup.find("div").find_all("p")] == ["1", "2", "3"]


def test_fast_tokenizer_parity_with_stdlib():
    """Tree parity: fast regex tokenizer vs stdlib html.parser on generator
    output (text nodes + tags + attrs identical)."""
    from politics_crawler_spark.sources.synthetic_pages import board_layout, gen_row

    def dump(node):
        out = []
        for c in node.children:
            if isinstance(c, str):
                out.append(("#text", c))
            else:
                out.append((c.tag, tuple(sorted(c.attrs.items()))))
                out.extend(dump(c))
        return out

    layout = board_layout(600)
    n = layout[-1]["start"] + layout[-1]["n_rows"]
    checked = 0
    for i in range(n):
        r = gen_row(i, layout)
        enc = "euc-kr" if b"pic_bg" in r["html"] else "utf-8"
        text = r["html"].decode(enc, errors="replace")
        assert dump(parse_html(text)) == dump(parse_html_stdlib(text))
        checked += 1
    assert checked > 500


def test_script_style_rawtext_cdata():
    """script/style content is raw text to the matching close tag —
    '<' inside JS / tag-like strings must not create phantom nodes, and
    their bodies must not be entity-decoded (html.parser CDATA semantics).
    Parity asserted against the stdlib path on the same inputs."""

    html = (
        '<div class="c"><script type="text/javascript">'
        'if (a < b && x<y) { document.write("<div>fake</div>"); } &amp;'
        "</script>real<style>a > b { color: red } .x<p{}</style>tail</div>"
    )
    for parser in (parse_html, parse_html_stdlib):
        soup = parser(html)
        div = soup.find("div", class_="c")
        assert div is not None
        # no phantom elements from tag-like strings inside script/style
        assert [n.tag for n in div.find_all()] == ["script", "style"]
        assert div.find("script").text == (
            'if (a < b && x<y) { document.write("<div>fake</div>"); } &amp;'
        )
        assert div.find("style").text == "a > b { color: red } .x<p{}"
    # visible text identical between paths and free of script bodies
    assert parse_html(html).get_text() == parse_html_stdlib(html).get_text()
    assert "realtail" == parse_html(html).find("div").get_text().replace(
        parse_html(html).find("script").text, ""
    ).replace(parse_html(html).find("style").text, "")


def test_script_unclosed_runs_to_eof():
    from politics_crawler_spark.parsers.dom import parse_html

    soup = parse_html("<p>a</p><script>var x = 1 < 2; <p>ghost</p>")
    assert [n.tag for n in soup.find_all()] == ["p", "script"]
    assert soup.find("script").text == "var x = 1 < 2; <p>ghost</p>"


def test_fast_tokenizer_comments_doctype():
    from politics_crawler_spark.parsers.dom import parse_html

    soup = parse_html("<!DOCTYPE html><!-- c --><div a=1 b='2' c=\"3\">x<!-- y --></div>")
    d = soup.find("div")
    assert d.attrs == {"a": "1", "b": "2", "c": "3"}
    assert d.get_text() == "x"
