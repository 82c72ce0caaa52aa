"""Deterministic synthetic Common-Crawl-style ``pages`` table generator.

Shape per BASELINE.json input_hint: ``url, warc_ts, html(binary), text, lang``.
Rows are list pages (board pagination, depth 0) and detail pages (posts,
depth 1) for the 19 reference boards, rendered from per-site HTML templates
that exercise every extraction rule in SURVEY.md §2.6 (container cascades,
``<p>``-only text, euc-kr bytes, image src normalization, ad exclusions).

Non-circular ground truth: the generator composes each page from known text
pieces and computes the expected extracted text directly from its own
knowledge of where it placed them (``\\n``-join of stripped text nodes in
document order, per-site variations) — it never calls the engine parsers.
``text`` holds that expectation for detail pages; tests assert the engine's
pandas-UDF output is byte-identical.

Everything is a pure function of ``(row_id, total_rows, seed)``, so the same
table can be produced in a pandas DataFrame (tests), or distributed via
``mapInPandas`` over ``spark.range(N)`` at any scale with zero shuffle and no
driver-side data.

Skew: the three dcinside boards share one host carrying ~half of all rows —
the mega-host the politeness stage must salt-split (north_rule).
"""

from __future__ import annotations

import dataclasses
import random
import zlib
from datetime import datetime, timedelta

from ..config import BOARDS, RUN_DATE, BoardConfig

POSTS_PER_PAGE = 30
DEFAULT_SEED = 42

RUN_DT = datetime.fromisoformat(RUN_DATE)  # midnight of "today"
SNAPSHOT_TS = RUN_DT + timedelta(hours=23)  # list-page capture time

# Board weights: dcinside boards sum to ~0.51 of rows (mega-host skew).
_W = {
    "dcinside_realtimebest": 0.10,
    "dcinside_politics": 0.25,
    "dcinside_peoplepower": 0.16,
}
_OTHERS = [b for b in BOARDS if b.enabled and b.board not in _W]
for _b in _OTHERS:
    _W[_b.board] = 0.49 / len(_OTHERS)

_GEN_BOARDS = [b for b in BOARDS if b.enabled]

_WORDS_KO = (
    "정치 국회 법안 토론 뉴스 여론 논평 기자 정당 선거 공약 예산 정책 위원회 "
    "대표 발언 표결 개정 심사 회의"
).split()
_WORDS_EN = "policy debate vote news budget reform committee press issue plan".split()
_WRITERS = ["무명", "기자A", "논객", "시민K", "관전자", "데이터광", "익명513"]
_CATEGORIES = ["정치", "일반", "뉴스", "이슈", "토론"]


# --------------------------------------------------------------------------
# layout: row_id space → (board, kind, index) via pure arithmetic
# --------------------------------------------------------------------------

def expanded_boards(replicas: int = 1) -> list[tuple[BoardConfig, float]]:
    """(board, weight) pairs, optionally widened to ``replicas`` virtual
    clones per reference board (distinct hosts ``r{v}.<host>``).

    A 10^10-URL frontier is WIDE (millions of hosts), not deep — page
    budgets (P8) bound each board's crawl, so workload scales with host
    count. Clone 0 keeps the original host and half its family's weight,
    preserving the dcinside mega-host skew the politeness stage must split.
    """
    res = []
    for b in _GEN_BOARDS:
        fam_w = _W[b.board]
        if replicas <= 1:
            res.append((b, fam_w))
            continue
        res.append((b, fam_w * 0.5))
        for v in range(1, replicas):
            clone = dataclasses.replace(
                b,
                board=f"{b.board}~{v}",
                host=f"r{v}.{b.host}",
                site_rank=b.site_rank + len(BOARDS) * v,
            )
            res.append((clone, fam_w * 0.5 / (replicas - 1)))
    return res


def crawl_boards(replicas: int = 1) -> list[BoardConfig]:
    return [b for b, _ in expanded_boards(replicas)]


def board_layout(total_rows: int, replicas: int = 1) -> list[dict]:
    """Split [0, total_rows) into per-board slices; inside a slice the first
    ``n_pages`` rows are list pages, the rest detail pages."""
    pairs = expanded_boards(replicas)
    layout = []
    start = 0
    for i, (b, w) in enumerate(pairs):
        m = int(w * total_rows)
        if i == len(pairs) - 1:
            m = total_rows - start
        if m < 2 or start >= total_rows:
            continue
        m = min(m, total_rows - start)
        n_pages = max(1, m // (POSTS_PER_PAGE + 1))
        n_detail = m - n_pages
        layout.append(
            {
                "board": b,
                "start": start,
                "n_rows": m,
                "n_pages": n_pages,
                "n_detail": n_detail,
            }
        )
        start += m
    return layout


def _locate(row_id: int, layout: list[dict]):
    for sl in layout:
        if sl["start"] <= row_id < sl["start"] + sl["n_rows"]:
            off = row_id - sl["start"]
            if off < sl["n_pages"]:
                return sl, "list", off
            return sl, "detail", off - sl["n_pages"]
    raise IndexError(row_id)


def _rng(seed: int, *key) -> random.Random:
    h = zlib.crc32(":".join(str(k) for k in key).encode()) & 0xFFFFFFFF
    return random.Random((seed << 32) ^ h)


# --------------------------------------------------------------------------
# per-post attributes (shared by its list row and its detail page)
# --------------------------------------------------------------------------

def post_attrs(b: BoardConfig, j: int, n_detail: int, seed: int) -> dict:
    rng = _rng(seed, b.board, "post", j)
    # Boards are date-ordered newest-first: position fraction → age over 3 days.
    frac = j / max(1, n_detail)
    age_s = frac * 3 * 86400 + rng.uniform(0, 3600)
    date = RUN_DT + timedelta(hours=23) - timedelta(seconds=age_s)
    views = rng.randint(0, 3 * b.min_views)
    recommend = rng.randint(0, 500)
    comments = rng.randint(0, 80)
    category = rng.choice(_CATEGORIES)
    title_words = rng.sample(_WORDS_KO, 3) + [rng.choice(_WORDS_EN)]
    title = " ".join(title_words) + f" {j}"
    if b.site == "dcinside" and rng.random() < 0.3:
        title = f"[{category}] {title}"  # L8 title-cleanup case
    return {
        "post_no": 1_000_000 * (b.site_rank + 1) + j,
        "date": date,
        "views": views,
        "recommend": recommend,
        "comments": comments,
        "writer": rng.choice(_WRITERS),
        "category": category,
        "title": title,
        "is_notice": False,
    }


# --------------------------------------------------------------------------
# URLs (per-site schemes, SURVEY.md §2.1 S1)
# --------------------------------------------------------------------------

def detail_url(b: BoardConfig, post_no: int) -> str:
    s = b.site
    h = b.host
    if s == "dcinside":
        return f"https://{h}/mgallery/board/view/?id={b.board}&no={post_no}"
    if s == "fmkorea":
        return f"https://{h}/{post_no}"
    if s == "ppomppu":
        return f"https://{h}/zboard/view.php?id={b.board}&no={post_no}"
    if s == "ruliweb":
        return f"https://{h}/community/board/{300000 + b.site_rank}/read/{post_no}"
    if s == "mlbpark":
        return f"https://{h}/mp/b.php?b={b.board}&id={post_no}"
    if s == "theqoo":
        return f"https://{h}/hot/{post_no}"
    if s == "instiz":
        return f"https://{h}/pt/{post_no}"
    if s == "clien":
        return f"https://{h}/service/board/park/{post_no}"
    if s == "82cook":
        return f"https://{h}/entiz/read.php?num={post_no}"
    if s == "bobaedream":
        return f"https://{h}/view?code={b.board}&No={post_no}"
    if s == "inven":
        return f"https://{h}/board/webzine/2097/{post_no}"
    raise ValueError(s)


def list_url(b: BoardConfig, page_no: int) -> str:
    h = b.host
    s = b.site
    if s == "dcinside":
        return f"https://{h}/mgallery/board/lists/?id={b.board}&page={page_no + 1}"
    if s == "mlbpark":  # offset pagination, mlbpark_bullpen.py:82-88
        return f"https://{h}/mp/b.php?b={b.board}&p={page_no * 30 + 1}"
    if s == "clien":  # 0-based po=, clien_parkboard.py:89
        return f"https://{h}/service/board/park?&od=T31&po={page_no}"
    if s == "inven":
        return f"https://{h}/board/webzine/2097?p={page_no + 1}"
    if s == "theqoo":
        return f"https://{h}/hot?filter_mode=normal&page={page_no + 1}"
    if s == "fmkorea":
        return f"https://{h}/index.php?mid={b.board}&page={page_no + 1}"
    if s == "ppomppu":
        return f"https://{h}/zboard/zboard.php?id={b.board}&page={page_no + 1}"
    if s == "ruliweb":
        return f"https://{h}/community/board/{300000 + b.site_rank}?page={page_no + 1}"
    if s == "82cook":
        return f"https://{h}/entiz/enti.php?bn=15&page={page_no + 1}"
    if s == "instiz":
        return f"https://{h}/pt?page={page_no + 1}"
    if s == "bobaedream":
        return f"https://{h}/list?code={b.board}&page={page_no + 1}"
    raise ValueError(s)


# --------------------------------------------------------------------------
# detail-page rendering (html + independently-derived expected text/images)
# --------------------------------------------------------------------------

def _paragraphs(rng: random.Random, n_lo=2, n_hi=5) -> list[str]:
    paras = []
    for _ in range(rng.randint(n_lo, n_hi)):
        words = [
            rng.choice(_WORDS_KO if rng.random() < 0.7 else _WORDS_EN)
            for _ in range(rng.randint(4, 12))
        ]
        paras.append(" ".join(words) + ".")
    return paras


def _imgs_for(rng: random.Random, host: str) -> list[tuple[str, str]]:
    """Return (src_as_written, kind) pairs; kind ∈ proto|bare|full."""
    out = []
    for i in range(rng.randint(0, 3)):
        kind = rng.choice(["proto", "bare", "full"])
        name = f"img{rng.randint(0, 9999)}_{i}.jpg"
        if kind == "proto":
            out.append((f"//cdn.{host}/{name}", kind))
        elif kind == "bare":
            out.append((f"/data/{name}", kind))
        else:
            out.append((f"https://cdn.{host}/{name}", kind))
    return out


def render_detail(b: BoardConfig, attrs: dict, seed: int) -> tuple[bytes, str, list[str]]:
    """Render one post page → (html_bytes, expected_text, expected_images)."""
    rng = _rng(seed, b.board, "html", attrs["post_no"])
    paras = _paragraphs(rng)
    imgs = _imgs_for(rng, b.host)
    s = b.site

    body_ps = []
    pieces = []  # expected text nodes, in document order, already stripped
    for i, p in enumerate(paras):
        if rng.random() < 0.25 and s != "ppomppu":
            k = len(p) // 2
            body_ps.append(f"<p>{p[:k]}<b>{p[k:]}</b></p>")
            pieces.append(p[:k].strip())
            pieces.append(p[k:].strip())
        else:
            body_ps.append(f"<p>{p}</p>")
            pieces.append(p)

    img_tags = "".join(f'<img src="{src}">' for src, _ in imgs)

    date_line = attrs["date"].strftime("%Y.%m.%d (%H:%M:%S)")

    if s == "dcinside":
        container = rng.choice(["write_div", "writing_view_box"])
        inner = "".join(body_ps) + img_tags
        html = f'<html><body><div class="{container}">{inner}</div></body></html>'
        expected = "\n".join(pieces)
        from urllib.parse import urljoin

        eimgs = [urljoin("https://gall.dcinside.com", src) for src, _ in imgs]
    elif s == "fmkorea":
        # inject emoji mid-word: filter strips them leaving clean text
        dirty_ps, clean_pieces = [], []
        for i, p in enumerate(paras):
            if rng.random() < 0.5:
                k = max(1, len(p) // 3)
                dirty_ps.append(f"<p>{p[:k]}\U0001f600♥{p[k:]}</p>")
            else:
                dirty_ps.append(f"<p>{p}</p>")
            clean_pieces.append(p)
        html = (
            '<html><body><div class="xe_content">'
            + "".join(dirty_ps)
            + img_tags
            + "</div></body></html>"
        )
        expected = "\n".join(clean_pieces)
        eimgs = [
            src if src.startswith("http") else "https://www.fmkorea.com" + src
            for src, _ in imgs
        ]
    elif s == "ppomppu":
        # two pic_bg tables; only <p> text counts; <td> noise must be ignored
        half = max(1, len(paras) // 2)
        t1_ps = "".join(f"<p>{p}</p>" for p in paras[:half])
        t2_ps = "".join(f"<p>{p}</p>" for p in paras[half:])
        noise = "<tr><td>광고 배너 텍스트</td></tr>"
        nbsp = "<p>&nbsp;</p>"  # decodes to \xa0; euc-kr-safe in source bytes
        html = (
            f'<html><body><table class="pic_bg"><tr><td>{t1_ps}{nbsp}</td></tr>{noise}</table>'
            f'<table class="pic_bg"><tr><td>{t2_ps}{img_tags}</td></tr></table></body></html>'
        )
        expected = "\n".join(paras) if paras else "텍스트 없음"
        eimgs = [
            "https:" + src if src.startswith("//") else src for src, _ in imgs
        ]
    elif s == "ruliweb":
        html = (
            f'<html><body><span class="regdate" itemprop="datePublished">{date_line}</span>'
            f'<span class="like_value">{attrs["recommend"]}</span>'
            f'<div class="view_content">{"".join(body_ps)}{img_tags}</div></body></html>'
        )
        expected = "\n".join(pieces)
        eimgs = [
            "https:" + src if src.startswith("//") else src
            for src, kind in imgs
            if kind != "bare"  # ruliweb drops non-http/non-// srcs
        ]
    elif s == "mlbpark":
        ad = (
            '<div style="background:#f8f7f7;"><img src="https://ads.example.com/ad.gif"></div>'
            '<img src="https://yellow.contentsfeed.com/y.png">'
        )
        html = (
            f'<html><body><span id="likeCnt">{attrs["recommend"]}</span>'
            f'<div class="view_context"><div class="ar_txt">{"".join(body_ps)}</div>'
            f"{img_tags}{ad}</div></body></html>"
        )
        expected = "\n".join(pieces)
        eimgs = [
            "https:" + src if src.startswith("//") else src for src, _ in imgs
        ]
    elif s == "theqoo":
        if rng.random() < 0.7:
            open_div = '<div class="rd_body clear">'
        else:
            open_div = '<article itemprop="articleBody">'
        close = "</div>" if "div" in open_div else "</article>"
        html = f"<html><body>{open_div}{''.join(body_ps)}{img_tags}{close}</body></html>"
        expected = "\n".join(pieces)
        eimgs = [
            "https:" + src if src.startswith("//") else src for src, _ in imgs
        ]
    elif s == "instiz":
        loading = '<img src="https://www.instiz.net/images/ico_loading.gif">'
        html = (
            f'<html><body><div class="memo_content">{"".join(body_ps)}'
            f"{img_tags}{loading}</div></body></html>"
        )
        expected = "\n".join(pieces)
        eimgs = []
        for src, kind in imgs:
            if kind == "proto":
                eimgs.append("https:" + src)
            elif kind == "bare":
                eimgs.append("https://www.instiz.net" + src)
            else:
                eimgs.append(src)
    elif s == "clien":
        # only img.fr-dib collected; mark ~half
        tags, eimgs = [], []
        for src, kind in imgs:
            if rng.random() < 0.6:
                tags.append(f'<img class="fr-dib" src="{src}">')
                if kind == "proto":
                    eimgs.append("https:" + src)
                elif kind == "bare":
                    eimgs.append("https://www.clien.net" + src)
                else:
                    eimgs.append(src)
            else:
                tags.append(f'<img src="{src}">')
        html = (
            f'<html><body><div class="post_article">{"".join(body_ps)}'
            f"{''.join(tags)}</div></body></html>"
        )
        expected = "\n".join(pieces)
    elif s == "82cook":
        html = (
            f'<html><body><div id="articleBody">{"".join(body_ps)}{img_tags}</div>'
            "</body></html>"
        )
        expected = "\n".join(pieces)
        eimgs = []
        for src, kind in imgs:
            if kind == "proto":
                eimgs.append("https:" + src)
            elif kind == "bare":
                eimgs.append("https://www.82cook.com" + src)
            else:
                eimgs.append(src)
    elif s == "bobaedream":
        container = rng.choice(
            ['<div class="bodyCont">', '<div class="bbs_content">', '<div id="bodyCont">']
        )
        # copy-address widget OUTSIDE the content container (bestboard's
        # post-id recovery source, bobaedream_bestboard.py:43-48); its text
        # must not leak into the extracted content
        copy_addr = (
            f'<p class="copyAddress"><button class="ipAdd">'
            f'https://{b.host}/view?code={b.board}&amp;No={attrs["post_no"]}'
            f"</button></p>"
        )
        html = (
            f"<html><body>{copy_addr}{container}{''.join(body_ps)}{img_tags}"
            "</div></body></html>"
        )
        expected = "\n".join(pieces)
        eimgs = [
            "https:" + src if src.startswith("//") else src for src, _ in imgs
        ]
    elif s == "inven":
        date_str = attrs["date"].strftime("%Y-%m-%d %H:%M")
        video = '<video src="https://media.inven.co.kr/v1.mp4"></video>'
        container = rng.choice(['<div id="powerbbsContent">', '<div class="contentBody">'])
        html = (
            f'<html><body><div class="articleDate">{date_str}</div>'
            f"{container}{''.join(body_ps)}{img_tags}{video}</div></body></html>"
        )
        expected = "\n".join(pieces)
        eimgs = [
            "https:" + src if src.startswith("//") else src for src, _ in imgs
        ] + ["https://media.inven.co.kr/v1.mp4"]
    else:
        raise ValueError(s)

    return html.encode(b.encoding), expected, eimgs


# --------------------------------------------------------------------------
# list-page rendering
# --------------------------------------------------------------------------

def _fmt_date(b: BoardConfig, dt: datetime) -> tuple[str, str]:
    """(display_text, title_attr) per site list-date format (L1-L3)."""
    today = dt.date() == RUN_DT.date()
    s = b.site
    if s == "ppomppu":  # title attr carries full ts (L2)
        return dt.strftime("%H:%M"), dt.strftime("%y.%m.%d %H:%M:%S")
    if s == "clien":
        return dt.strftime("%Y-%m-%d %H:%M:%S"), ""
    if s == "82cook":
        return dt.strftime("%Y-%m-%d %H:%M"), ""
    if s == "mlbpark":
        return (dt.strftime("%H:%M:%S") if today else dt.strftime("%Y-%m-%d")), ""
    if s == "instiz":
        return (dt.strftime("%H:%M") if today else dt.strftime("%m.%d %H:%M")), ""
    if s == "inven":
        return (dt.strftime("%H:%M") if today else dt.strftime("%m-%d")), ""
    if s == "dcinside":
        return (dt.strftime("%H:%M") if today else dt.strftime("%y/%m/%d")), ""
    if s == "fmkorea":
        return (dt.strftime("%H:%M") if today else dt.strftime("%Y.%m.%d")), ""
    # theqoo / ruliweb / bobaedream
    return (dt.strftime("%H:%M") if today else dt.strftime("%y.%m.%d")), ""


def _fmt_views(b: BoardConfig, v: int) -> str:
    if b.site == "clien" and v >= 1000:  # k-suffix (L4, clien_parkboard.py:33-46)
        return f"{v / 1000:.1f} k"
    if b.site in ("ruliweb", "bobaedream") and v >= 1000:
        return f"{v:,}"
    return str(v)


def _fmt_rec(b: BoardConfig, r: int, rng: random.Random) -> str:
    if b.site == "ppomppu":  # '3 - 0' format (L5, ppomppu_freeboard.py:88-101)
        return f"{r} - {rng.randint(0, 5)}"
    return str(r)


def render_list(b: BoardConfig, page_no: int, specs: list[dict], seed: int) -> bytes:
    rng = _rng(seed, b.board, "list", page_no)
    rows = [
        '<tr class="notice"><td class="num">공지</td><td class="title">'
        '<a href="/notice/1">공지사항</a></td><td class="writer">운영자</td>'
        '<td class="date">00:00</td><td class="views">0</td><td class="rec">0</td>'
        '<td class="cat">공지</td><td class="cmt">0</td></tr>'
    ]
    for sp in specs:
        d_txt, d_attr = _fmt_date(b, sp["date"])
        title_attr = f' title="{d_attr}"' if d_attr else ""
        link = detail_url(b, sp["post_no"])
        # a sprinkling of javascript:/ad hrefs exercises the F1 gate
        if rng.random() < 0.03:
            link = "javascript:void(0);"
        if b.site == "theqoo":  # reply count rendered as the a.replyNum
            cmt = f'<a class="replyNum">{sp["comments"]}</a>'  # widget (theqoo_hotboard.py:145)
        else:
            cmt = f'[{sp["comments"]}]'
        rows.append(
            f'<tr><td class="num">{sp["post_no"]}</td>'
            f'<td class="title"><a href="{link}">{sp["title"]}</a></td>'
            f'<td class="writer">{sp["writer"]}</td>'
            f'<td class="date"{title_attr}>{d_txt}</td>'
            f'<td class="views">{_fmt_views(b, sp["views"])}</td>'
            f'<td class="rec">{_fmt_rec(b, sp["recommend"], rng)}</td>'
            f'<td class="cat">{sp["category"]}</td>'
            f'<td class="cmt">{cmt}</td></tr>'
        )
    html = (
        '<html><body><table class="board_list">' + "".join(rows) + "</table></body></html>"
    )
    return html.encode(b.encoding)


# --------------------------------------------------------------------------
# row generation (pure; pandas + Spark wrappers)
# --------------------------------------------------------------------------

def gen_row(row_id: int, layout: list[dict], seed: int = DEFAULT_SEED) -> dict:
    sl, kind, idx = _locate(row_id, layout)
    b: BoardConfig = sl["board"]
    rng = _rng(seed, b.board, "lang", idx)
    lang = "en" if rng.random() < 0.05 else "ko"
    if kind == "detail":
        attrs = post_attrs(b, idx, sl["n_detail"], seed)
        html, expected, _ = render_detail(b, attrs, seed)
        return {
            "url": detail_url(b, attrs["post_no"]),
            "warc_ts": attrs["date"],
            "html": html,
            "text": expected,
            "lang": lang,
        }
    lo = idx * POSTS_PER_PAGE
    hi = min(lo + POSTS_PER_PAGE, sl["n_detail"])
    specs = [post_attrs(b, j, sl["n_detail"], seed) for j in range(lo, hi)]
    return {
        "url": list_url(b, idx),
        "warc_ts": SNAPSHOT_TS,
        "html": render_list(b, idx, specs, seed),
        "text": "",
        "lang": lang,
    }


def synthesize_pages_pandas(total_rows: int, replicas: int = 1):
    import pandas as pd

    layout = board_layout(total_rows, replicas)
    n = layout[-1]["start"] + layout[-1]["n_rows"] if layout else 0
    return pd.DataFrame([gen_row(i, layout) for i in range(n)])


def synthesize_pages(spark, total_rows: int, seed: int = DEFAULT_SEED,
                     partitions: int | None = None, replicas: int = 1,
                     row_lo: int | None = None, row_hi: int | None = None):
    """Distributed generation: ``spark.range`` → ``mapInPandas`` (no shuffle,
    no driver-side rows; scales linearly with executors).

    ``row_lo``/``row_hi`` generate only a slice of the [0, total_rows) id
    space (same layout, so slices from different processes are disjoint and
    their union is the full table — used by the multi-executor bench).
    """
    from ..schemas import PAGES

    layout = board_layout(total_rows, replicas)
    n = layout[-1]["start"] + layout[-1]["n_rows"] if layout else 0
    lo = 0 if row_lo is None else max(0, row_lo)
    hi = n if row_hi is None else min(n, row_hi)
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def _gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [gen_row(int(i), layout, seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return spark.range(lo, hi, numPartitions=parts).mapInPandas(_gen, schema=PAGES)
