"""Site extraction parsers E1–E11 — pure functions, byte-identical targets.

Each ``extract_<site>`` mirrors one reference crawler's ``get_post_content``
semantics (container cascade → ``get_text(separator="\\n", strip=True)`` →
image-src collection with per-site URL normalization), re-expressed as a pure
``bytes → ExtractResult`` function so it can run inside an Arrow-batched
pandas UDF with no network, no sleeps, no prints.

Reference citations (all into /root/reference/app/crawler/):
  E1  dcinside    politics/dcinside_politics.py:47-55
  E2  fmkorea     politics/fmkorea_politics.py:36-39,74-95
  E3  ppomppu     hotissue/ppomppu_freeboard.py:44-81  (euc-kr, <p>-only text)
  E4  ruliweb     politics/ruliweb_politics.py:50-93   (regdate + like_value)
  E5  mlbpark     hotissue/mlbpark_bullpen.py:33-74    (ar_txt, ad exclusion)
  E6  theqoo      hotissue/theqoo_hotboard.py:28-54
  E7  instiz      hotissue/instiz_issue.py:77-107      (ico_loading exclusion)
  E8  clien       hotissue/clien_parkboard.py:49-77    (img.fr-dib only)
  E9  82cook      hotissue/82cook_freeboard.py:26-54
  E10 bobaedream  politics/bobaedream_politics.py:44-80
  E11 inven       hotissue/inven_openissue.py:33-100   (articleDate + <video>)

Frozen divergences from the reference (documented, deliberate):
- network/IO sentinels ("로드 오류: ...") cannot occur — fetch is a table join.
- mlbpark: reference raises AttributeError when ``div.view_context`` exists
  but ``div.ar_txt`` doesn't (mlbpark_bullpen.py:59 has no guard); we emit the
  no-content sentinel instead of crashing the batch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import urljoin

from .dom import Node, parse_html

NO_CONTENT = "내용을 찾을 수 없습니다."  # dcinside/ruliweb/mlbpark/bobae/inven sentinel
NO_CONTENT_FMK = "내용을 찾을 수 없음"  # fmkorea_politics.py:80
NO_PICBG = "pic_bg 테이블을 찾을 수 없습니다."  # ppomppu_freeboard.py:52
NO_TEXT = "텍스트 없음"  # ppomppu_freeboard.py:75

STATUS_OK = "ok"
STATUS_NO_CONTENT = "no_content"
STATUS_ERROR = "error"


@dataclass
class ExtractResult:
    content: str
    images: list[str] = field(default_factory=list)
    recommend: str | None = None  # raw text; numeric parse happens in functions/
    actual_date: datetime | None = None
    status: str = STATUS_OK
    post_id: str | None = None  # detail-page-recovered id (bobaedream ipAdd)


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------

def _text(node: Node) -> str:
    return node.get_text(separator="\n", strip=True)


def _imgs(node: Node, **kw) -> list[str]:
    return [img.get("src") for img in node.find_all("img", **kw) if img.get("src")]


def _https_prefix(urls: list[str]) -> list[str]:
    return ["https:" + u if u.startswith("//") else u for u in urls]


# --------------------------------------------------------------------------
# E1 dcinside — div.write_div | div.writing_view_box; urljoin image base
# --------------------------------------------------------------------------

def extract_dcinside(soup: Node, url: str) -> ExtractResult:
    div = soup.find("div", class_="write_div") or soup.find(
        "div", class_="writing_view_box"
    )
    if div is None:
        return ExtractResult(NO_CONTENT, status=STATUS_NO_CONTENT)
    images = [urljoin("https://gall.dcinside.com", u) for u in _imgs(div)]
    return ExtractResult(_text(div), images)


# --------------------------------------------------------------------------
# E2 fmkorea — div.xe_content; emoji/symbol strip; bare-path prefix
# --------------------------------------------------------------------------

_FMK_FILTER = re.compile(r"[^\w\s가-힣a-zA-Z.,!?]")


def filter_korean_english(text: str) -> str:
    """fmkorea_politics.py:36-39 — strip everything but word chars, whitespace,
    hangul, latin, and ``.,!?``."""
    if not text:
        return ""
    return _FMK_FILTER.sub("", text)


def extract_fmkorea(soup: Node, url: str) -> ExtractResult:
    div = soup.find("div", class_="xe_content")
    if div is None:
        return ExtractResult(NO_CONTENT_FMK, status=STATUS_NO_CONTENT)
    images = [
        u if u.startswith("http") else "https://www.fmkorea.com" + u
        for u in _imgs(div)
    ]
    return ExtractResult(filter_korean_english(_text(div)), images)


# --------------------------------------------------------------------------
# E3 ppomppu — all table.pic_bg; <p>-only text, get_text(strip=True) per <p>
# --------------------------------------------------------------------------

def extract_ppomppu(soup: Node, url: str) -> ExtractResult:
    tables = soup.find_all("table", class_="pic_bg")
    if not tables:
        return ExtractResult(NO_PICBG, status=STATUS_NO_CONTENT)
    text_parts: list[str] = []
    images: list[str] = []
    for tbl in tables:
        for p in tbl.find_all("p"):
            p_text = p.get_text(strip=True)
            if p_text and p_text != "\xa0":
                text_parts.append(p_text)
        for src in _imgs(tbl):
            images.append("https:" + src if src.startswith("//") else src)
    content = "\n".join(text_parts) if text_parts else NO_TEXT
    return ExtractResult(content, images)


# --------------------------------------------------------------------------
# E4 ruliweb — div.view_content; regdate/like_value side-channels
# --------------------------------------------------------------------------

def extract_ruliweb(soup: Node, url: str) -> ExtractResult:
    actual_date = None
    date_elem = soup.find("span", class_="regdate", itemprop="datePublished")
    if date_elem is not None:
        date_str = date_elem.text.strip()
        try:  # "2025.03.12 (13:52:47)" — ruliweb_politics.py:55-62
            date_part, time_part = date_str.split(" (")
            actual_date = datetime.strptime(
                f"{date_part} {time_part.rstrip(')')}", "%Y.%m.%d %H:%M:%S"
            )
        except (ValueError, IndexError):
            pass
    rec_elem = soup.find("span", class_="like_value")
    recommend = rec_elem.text if rec_elem is not None else "0"

    div = soup.find("div", class_="view_content")
    if div is None:
        return ExtractResult(
            NO_CONTENT, recommend=recommend, actual_date=actual_date,
            status=STATUS_NO_CONTENT,
        )
    images = [
        u for u in _imgs(div) if u.startswith("http") or u.startswith("//")
    ]
    return ExtractResult(
        _text(div), _https_prefix(images), recommend=recommend,
        actual_date=actual_date,
    )


# --------------------------------------------------------------------------
# E5 mlbpark — div.view_context > div.ar_txt; likeCnt; ad exclusions
# --------------------------------------------------------------------------

def extract_mlbpark(soup: Node, url: str) -> ExtractResult:
    rec_elem = soup.find("span", id="likeCnt")
    recommend = rec_elem.text if rec_elem is not None else "0"
    ctx = soup.find("div", class_="view_context")
    if ctx is None:
        return ExtractResult(NO_CONTENT, recommend=recommend, status=STATUS_NO_CONTENT)
    ar_txt = ctx.find("div", class_="ar_txt")
    if ar_txt is None:  # frozen divergence: reference crashes here
        return ExtractResult(NO_CONTENT, recommend=recommend, status=STATUS_NO_CONTENT)
    images = []
    for img in ctx.find_all("img"):
        src = img.get("src")
        if src and "yellow.contentsfeed.com" not in src:
            if img.find_parent("div", attrs={"style": "background:#f8f7f7;"}) is None:
                images.append(src)
    return ExtractResult(_text(ar_txt), _https_prefix(images), recommend=recommend)


# --------------------------------------------------------------------------
# E6 theqoo — div[class="rd_body clear"] | article[itemprop=articleBody]
# --------------------------------------------------------------------------

def extract_theqoo(soup: Node, url: str) -> ExtractResult:
    div = soup.find("div", class_="rd_body clear") or soup.find(
        "article", itemprop="articleBody"
    )
    if div is None:
        return ExtractResult("", status=STATUS_NO_CONTENT)
    return ExtractResult(_text(div), _https_prefix(_imgs(div)))


# --------------------------------------------------------------------------
# E7 instiz — div.memo_content; exclude ico_loading.gif; bare-path prefix
# --------------------------------------------------------------------------

def extract_instiz(soup: Node, url: str) -> ExtractResult:
    div = soup.find("div", class_="memo_content")
    if div is None:
        return ExtractResult("", status=STATUS_NO_CONTENT)
    images = []
    for src in _imgs(div):
        if "instiz.net/images/ico_loading.gif" in src:
            continue
        if src.startswith("//"):
            src = "https:" + src
        elif not src.startswith("http"):
            src = "https://www.instiz.net" + src
        images.append(src)
    return ExtractResult(_text(div), images)


# --------------------------------------------------------------------------
# E8 clien — div.post_article; only img.fr-dib
# --------------------------------------------------------------------------

def extract_clien(soup: Node, url: str) -> ExtractResult:
    div = soup.find("div", class_="post_article")
    if div is None:
        return ExtractResult("", status=STATUS_NO_CONTENT)
    images = []
    for src in _imgs(div, class_="fr-dib"):
        if src.startswith("//"):
            src = "https:" + src
        elif not src.startswith("http"):
            src = "https://www.clien.net" + src
        images.append(src)
    return ExtractResult(_text(div), images)


# --------------------------------------------------------------------------
# E9 82cook — div#articleBody
# --------------------------------------------------------------------------

def extract_82cook(soup: Node, url: str) -> ExtractResult:
    div = soup.find("div", id="articleBody")
    if div is None:
        return ExtractResult("", status=STATUS_NO_CONTENT)
    images = []
    for src in _imgs(div):
        if src.startswith("//"):
            src = "https:" + src
        elif not src.startswith("http"):
            src = "https://www.82cook.com" + src
        images.append(src)
    return ExtractResult(_text(div), images)


# --------------------------------------------------------------------------
# E10 bobaedream — div.bodyCont | div.bbs_content | div#bodyCont
# --------------------------------------------------------------------------

_BOBAE_NO_RE = re.compile(r"No=(\d+)")  # bobaedream_bestboard.py:26-30


def extract_bobaedream(soup: Node, url: str) -> ExtractResult:
    # bestboard recovers the post id from the copy-address widget
    # (p.copyAddress > button.ipAdd text → No=(\d+),
    # bobaedream_bestboard.py:43-48); the caller prefers it over the
    # list-URL-derived id (`final_post_id = content_data.get("post_id")
    # or post_id`, :123-126)
    post_id = None
    copy_address = soup.find("p", class_="copyAddress")
    if copy_address is not None:
        button = copy_address.find("button", class_="ipAdd")
        if button is not None:
            m = _BOBAE_NO_RE.search(button.get_text(strip=True))
            if m:
                post_id = m.group(1)
    div = (
        soup.find("div", class_="bodyCont")
        or soup.find("div", class_="bbs_content")
        or soup.find("div", id="bodyCont")  # bobaedream_bestboard.py:50
    )
    if div is None:
        return ExtractResult(NO_CONTENT, status=STATUS_NO_CONTENT, post_id=post_id)
    return ExtractResult(_text(div), _https_prefix(_imgs(div)), post_id=post_id)


# --------------------------------------------------------------------------
# E11 inven — div#powerbbsContent | div.contentBody; articleDate; + <video>
# --------------------------------------------------------------------------

def extract_inven(soup: Node, url: str) -> ExtractResult:
    actual_date = None
    date_elem = soup.find("div", class_="articleDate")
    if date_elem is not None:
        try:
            actual_date = datetime.strptime(
                date_elem.text.strip(), "%Y-%m-%d %H:%M"
            )
        except ValueError:
            pass
    div = soup.find("div", id="powerbbsContent") or soup.find(
        "div", class_="contentBody"
    )
    if div is None:
        return ExtractResult(NO_CONTENT, actual_date=actual_date, status=STATUS_NO_CONTENT)
    images = _https_prefix(_imgs(div))
    videos = [v.get("src") for v in div.find_all("video") if v.get("src")]
    return ExtractResult(_text(div), images + videos, actual_date=actual_date)


# --------------------------------------------------------------------------
# dispatch
# --------------------------------------------------------------------------

_PARSERS = {
    "dcinside": extract_dcinside,
    "fmkorea": extract_fmkorea,
    "ppomppu": extract_ppomppu,
    "ruliweb": extract_ruliweb,
    "mlbpark": extract_mlbpark,
    "theqoo": extract_theqoo,
    "instiz": extract_instiz,
    "clien": extract_clien,
    "82cook": extract_82cook,
    "bobaedream": extract_bobaedream,
    "inven": extract_inven,
}

_SITE_ENCODING = {"ppomppu": "euc-kr"}  # ppomppu_freeboard.py:45; rest utf-8

_HOST_SITE_TOKENS = tuple(_PARSERS)


def site_of_host(host: str) -> str | None:
    """Map a hostname to its parser family (substring dispatch)."""
    for token in _HOST_SITE_TOKENS:
        if token in host:
            return token
    return None


def decode_html(site: str, html: bytes) -> str:
    return html.decode(_SITE_ENCODING.get(site, "utf-8"), errors="replace")


def extract(site: str, html: bytes | None, url: str) -> ExtractResult:
    """Extract one page. ``site`` from :func:`site_of_host`; ``html`` raw bytes."""
    parser = _PARSERS.get(site)
    if parser is None:
        return ExtractResult("", status=STATUS_ERROR)
    if html is None:
        return ExtractResult("", status=STATUS_ERROR)
    try:
        soup = parse_html(decode_html(site, html))
        return parser(soup, url)
    except Exception:  # never fail the Arrow batch on one bad page
        return ExtractResult("", status=STATUS_ERROR)
