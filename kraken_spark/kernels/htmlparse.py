"""HTML main-content extraction: boilerplate strip via DOM heuristics.

The task brief's pipeline list names "HTML boilerplate strip, PDF/layout
parse, DOM heuristics" as the main-content extraction triad over
Common-Crawl-style pages; the reference engine itself is image-only, so
this module is the web-native leg, built from public-knowledge block
classification:

- jusText (Pomikalek, "Removing boilerplate and duplicate content from
  web corpora", PhD thesis, Masaryk U., 2011): paragraph-level blocks,
  link-density + stopword-density + length features, context-sensitive
  revision of short/undecided blocks between good neighbors.
- Boilerpipe (Kohlschuetter/Fankhauser/Nejdl, "Boilerplate detection
  using shallow text features", WSDM 2010): shallow text features beat
  DOM-free heuristics; link density is the single strongest signal.
- HTML5 semantic structure: ``<article>``/``<main>`` mark body content,
  ``<nav>``/``<header>``/``<footer>``/``<aside>``/``<form>`` mark chrome
  (the "DOM heuristics" leg — what trafilatura-class extractors use).

Everything is stdlib (regex tokenizer + stack DOM + html.unescape); no
Spark imports (kernel-layer rule). The Spark stage routes payloads here
when they sniff as web HTML (stages.extract_document), producing the same
Segmentation contract as every other input path, with deterministic
CSS-like flow geometry (the corpus font metrics, kernels/glyphs.py) so
line records stay schema-identical.

The module also ships ``write_boilerplate_page`` — a deterministic page
writer wrapping ground-truth text in realistic chrome (nav/cookie banner/
sidebar/comments/footer, scripts, entity escapes) — so extraction is
byte-identity-testable per url, mirroring how the image corpus pins CER 0.
"""

from __future__ import annotations

import hashlib
import html as _htmlmod
import re
from types import MappingProxyType

# --------------------------------------------------------------------------
# tag vocabularies
# --------------------------------------------------------------------------

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
RAWTEXT_TAGS = frozenset("script style textarea title".split())
# subtree dropped entirely (never text content)
SKIP_TAGS = frozenset(
    "script style noscript template head svg math select datalist iframe object".split()
)
# a new classified block starts when crossing these
BLOCK_TAGS = frozenset(
    (
        "address article aside blockquote body caption dd div dl dt fieldset "
        "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr li main "
        "nav ol p pre section table tbody td tfoot th thead tr ul"
    ).split()
)
# chrome ancestors: content under these is boilerplate (HTML5 semantics)
BOILER_TAGS = frozenset("nav header footer aside form".split())
# content ancestors: the page's declared main content (HTML5 semantics)
CONTENT_TAGS = frozenset("article main".split())
# <p> (and friends) implicitly close when a block-level tag opens
_P_CLOSERS = BLOCK_TAGS - {"body"}
_SELF_CLOSERS = {"li": {"li"}, "dd": {"dd", "dt"}, "dt": {"dd", "dt"},
                 "td": {"td", "th", "tr"}, "th": {"td", "th", "tr"},
                 "tr": {"tr"}, "option": {"option"}, "p": _P_CLOSERS}

# classification thresholds (documented jusText-style constants)
MAX_LINK_DENSITY = 0.33   # above: bad outright
LOW_LINK_DENSITY = 0.20   # content-ancestor / long-block promotion cap
LENGTH_SHORT = 16         # below: too short to judge alone
LENGTH_LONG = 80          # above + low link density: good without stopwords
STOP_DENSITY_GOOD = 0.30  # natural-language main-content signal

# ~40 highest-frequency function words per supported language — enough for
# the density feature (jusText ships full stoplists; density, not lookup
# coverage, is what the rule thresholds).
STOPWORDS = {
    "en": frozenset(
        "the of and a to in is you that it he was for on are as with his "
        "they i at be this have from or one had by word but not what all "
        "were we when your can said there use an each which she do how".split()
    ),
    "fr": frozenset(
        "le la les de des du un une et a au aux en dans que qui ne pas pour "
        "sur se ce cette il elle ils elles nous vous est sont avec plus mais "
        "ou si tout comme par son sa ses leur".split()
    ),
    "de": frozenset(
        "der die das und in den von zu mit sich des auf ist im dem nicht ein "
        "eine als auch es an werden aus er hat dass sie nach wird bei einer "
        "um am sind noch wie einem ueber".split()
    ),
    "es": frozenset(
        "de la que el en y a los del se las por un para con no una su al lo "
        "como mas pero sus le ya o este si porque esta entre cuando muy sin "
        "sobre tambien me hasta hay donde".split()
    ),
}


class Node:
    """Minimal DOM node. tag='#text' leaves carry .text; element nodes
    carry .children. attrs values are entity-decoded strings."""

    __slots__ = ("tag", "attrs", "children", "text")

    def __init__(self, tag: str, attrs: dict | None = None, text: str = ""):
        self.tag = tag
        self.attrs = attrs or {}
        self.children: list[Node] = []
        self.text = text


# --------------------------------------------------------------------------
# tokenizer
# --------------------------------------------------------------------------

_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)(?:\s*=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
_WS_RUN = re.compile(r"[ \t\r\n\f]+")


_META_CHARSET = re.compile(
    rb"""<meta[^>]+?(?:charset\s*=\s*["']?([-\w:.]+)|content\s*=\s*["'][^"']*charset=([-\w:.]+))""",
    re.IGNORECASE,
)


def sniff_encoding(raw: bytes) -> str:
    """HTML5 encoding prescan (WHATWG 13.2.3.2, simplified): BOM first,
    then a <meta charset=...> / http-equiv content-type declaration in the
    first 1024 bytes, else UTF-8. Unknown or UTF-16 meta labels fall back
    to UTF-8 (a meta can't honestly declare UTF-16: the prescan that read
    it was ASCII-compatible)."""
    if raw[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if raw[:2] == b"\xff\xfe":
        return "utf-16-le"
    if raw[:2] == b"\xfe\xff":
        return "utf-16-be"
    m = _META_CHARSET.search(raw[:1024])
    if m:
        import codecs

        label = (m.group(1) or m.group(2)).decode("ascii", "replace").strip().lower()
        if not label.startswith("utf-16"):
            try:
                return codecs.lookup(label).name
            except LookupError:
                pass
    return "utf-8"


def _decode(raw: bytes) -> str:
    enc = sniff_encoding(raw)
    try:
        return raw.decode(enc)
    except (UnicodeDecodeError, LookupError):
        pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        # windows-1252 is the HTML5 fallback for unlabeled non-UTF-8 bytes
        # (latin-1's C1 range is remapped to printable punctuation there)
        return raw.decode("windows-1252", errors="replace")


def tokenize(data: bytes):
    """Yield ('text', str) | ('open', tag, attrs, selfclosing) |
    ('close', tag). Comments/doctype/CDATA are dropped; rawtext elements
    (script/style/...) consume to their literal close tag (HTML5 rawtext
    state — '<' inside them is NOT markup)."""
    s = _decode(data)
    i, n = 0, len(s)
    out_text: list[str] = []
    while i < n:
        lt = s.find("<", i)
        if lt < 0:
            out_text.append(s[i:])
            break
        if lt > i:
            out_text.append(s[i:lt])
        if s.startswith("<!--", lt):
            end = s.find("-->", lt + 4)
            i = n if end < 0 else end + 3
            continue
        if s.startswith("<![CDATA[", lt):
            end = s.find("]]>", lt + 9)
            i = n if end < 0 else end + 3
            continue
        if s.startswith("<!", lt) or s.startswith("<?", lt):
            end = s.find(">", lt + 2)
            i = n if end < 0 else end + 1
            continue
        m = re.match(r"</\s*([a-zA-Z][-a-zA-Z0-9_:]*)[^>]*>", s[lt:])
        if m:
            if out_text:
                yield ("text", "".join(out_text))
                out_text = []
            yield ("close", m.group(1).lower())
            i = lt + m.end()
            continue
        m = re.match(r"<([a-zA-Z][-a-zA-Z0-9_:]*)((?:[^>\"']|\"[^\"]*\"|'[^']*')*)>", s[lt:])
        if not m:
            # stray '<' that opens no tag: literal text (HTML5 parse error
            # recovery)
            out_text.append("<")
            i = lt + 1
            continue
        if out_text:
            yield ("text", "".join(out_text))
            out_text = []
        tag = m.group(1).lower()
        rest = m.group(2)
        selfclose = rest.rstrip().endswith("/")
        attrs = {}
        for am in _ATTR_RE.finditer(rest.rstrip().rstrip("/")):
            k = am.group(1).lower()
            v = am.group(2) or ""
            if v[:1] in ("'", '"'):
                v = v[1:-1]
            attrs[k] = _htmlmod.unescape(v)
        i = lt + m.end()
        if tag in RAWTEXT_TAGS and not selfclose:
            cm = re.search(rf"</\s*{tag}\b[^>]*>", s[i:], re.IGNORECASE)
            raw = s[i : i + cm.start()] if cm else s[i:]
            i = i + cm.end() if cm else n
            yield ("open", tag, attrs, False)
            if tag == "title" and raw:
                yield ("text", raw)
            yield ("close", tag)
            continue
        yield ("open", tag, attrs, selfclose or tag in VOID_TAGS)
    if out_text:
        yield ("text", "".join(out_text))


def parse_html(data: bytes) -> Node:
    """Stack DOM builder with the implied-end-tag subset that matters for
    block segmentation (p/li/dt/dd/td/th/tr/option auto-close; mismatched
    close tags pop to the nearest open ancestor, else are ignored)."""
    root = Node("#root")
    stack = [root]
    for tok in tokenize(data):
        if tok[0] == "text":
            txt = _htmlmod.unescape(tok[1])
            if txt:
                stack[-1].children.append(Node("#text", text=txt))
        elif tok[0] == "open":
            _, tag, attrs, selfclosing = tok
            closers = _SELF_CLOSERS.get(stack[-1].tag)
            while closers and tag in closers and len(stack) > 1:
                stack.pop()
                closers = _SELF_CLOSERS.get(stack[-1].tag)
            node = Node(tag, attrs)
            stack[-1].children.append(node)
            if not selfclosing:
                stack.append(node)
        else:
            tag = tok[1]
            for k in range(len(stack) - 1, 0, -1):
                if stack[k].tag == tag:
                    del stack[k:]
                    break
    return root


# --------------------------------------------------------------------------
# block segmentation + classification
# --------------------------------------------------------------------------


def _norm_ws(s: str) -> str:
    return _WS_RUN.sub(" ", s).strip()


def blocks(root: Node) -> list[dict]:
    """DOM -> jusText-style paragraph blocks in document order.

    Each block: text (whitespace-normalized), length, link_chars,
    link_density, path (tag chain), in_boiler / in_content ancestor flags.
    Crossing a BLOCK_TAGS boundary flushes the current block; SKIP_TAGS
    subtrees contribute nothing."""
    out: list[dict] = []
    cur: list[str] = []
    cur_link = [0]
    state = {"path": [], "boiler": 0, "content": 0, "link": 0}
    # table provenance (metadata only — classification and text assembly
    # ignore it; the markdown renderer uses it to regroup cells into rows)
    seq = {"table": 0, "row": 0, "cell": 0}
    tstack: list[int] = []
    rstack: list[int] = []
    cstack: list[tuple[int, str]] = []

    def flush():
        text = _norm_ws("".join(cur))
        if text:
            out.append(
                {
                    "text": text,
                    "length": len(text),
                    "link_chars": min(cur_link[0], len(text)),
                    "link_density": min(cur_link[0], len(text)) / max(1, len(text)),
                    "path": ".".join(state["path"]),
                    "in_boiler": state["boiler"] > 0,
                    "in_content": state["content"] > 0,
                    "table_id": tstack[-1] if tstack else -1,
                    "row_id": rstack[-1] if rstack else -1,
                    "cell_id": cstack[-1][0] if cstack else -1,
                    "cell_tag": cstack[-1][1] if cstack else "",
                }
            )
        cur.clear()
        cur_link[0] = 0

    def walk(node: Node):
        if node.tag == "#text":
            cur.append(node.text)
            if state["link"] > 0:
                cur_link[0] += len(_norm_ws(node.text))
            return
        if node.tag in SKIP_TAGS:
            return
        is_block = node.tag in BLOCK_TAGS
        if is_block:
            flush()
            state["path"].append(node.tag)
            if node.tag in BOILER_TAGS:
                state["boiler"] += 1
            if node.tag in CONTENT_TAGS:
                state["content"] += 1
            if node.tag == "table":
                seq["table"] += 1
                tstack.append(seq["table"])
            elif node.tag == "tr":
                seq["row"] += 1
                rstack.append(seq["row"])
            elif node.tag in ("td", "th"):
                seq["cell"] += 1
                cstack.append((seq["cell"], node.tag))
        if node.tag == "a":
            state["link"] += 1
        elif node.tag == "br":
            # <br> separates flow lines like a block edge (the writer uses
            # one <p> per line, but wild pages use <br> runs)
            flush()
        for ch in node.children:
            walk(ch)
        if node.tag == "a":
            state["link"] -= 1
        if is_block:
            flush()
            state["path"].pop()
            if node.tag in BOILER_TAGS:
                state["boiler"] -= 1
            if node.tag in CONTENT_TAGS:
                state["content"] -= 1
            if node.tag == "table":
                tstack.pop()
            elif node.tag == "tr":
                rstack.pop()
            elif node.tag in ("td", "th"):
                cstack.pop()

    walk(root)
    flush()
    return out


def _stop_density(text: str, lang: str | None) -> float:
    sw = STOPWORDS.get((lang or "").lower()[:2])
    if not sw:
        return 0.0
    words = re.findall(r"[a-zA-Z']+", text.lower())
    if not words:
        return 0.0
    return sum(1 for w in words if w in sw) / len(words)


def classify_blocks(blks: list[dict], lang: str | None = None) -> list[dict]:
    """Two-pass jusText classification, mutating blocks in place.

    Context-free pass (cls_raw):
      bad   — boiler ancestor, or link_density >= MAX_LINK_DENSITY, or
              tiny with any links
      good  — content ancestor (article/main) with low link density, or
              stopword-dense natural language, or long low-link prose
      short — everything else (undecided)
    Context pass (cls): a short block is promoted to good only when BOTH
    its nearest decided neighbors are good (jusText's surround rule;
    document edges count as bad), so captions and one-liners inside the
    article survive while stray shorts adjacent to chrome stay
    boilerplate."""
    for b in blks:
        ld = b["link_density"]
        sd = _stop_density(b["text"], lang)
        b["stop_density"] = sd
        if b["in_boiler"]:
            cls = "bad"
        elif ld >= MAX_LINK_DENSITY:
            cls = "bad"
        elif b["in_content"] and ld <= LOW_LINK_DENSITY:
            cls = "good"
        elif b["length"] < LENGTH_SHORT:
            cls = "bad" if ld > 0 else "short"
        elif sd >= STOP_DENSITY_GOOD and ld <= LOW_LINK_DENSITY:
            cls = "good"
        elif b["length"] >= LENGTH_LONG and ld <= LOW_LINK_DENSITY:
            cls = "good"
        else:
            cls = "short"
        b["cls_raw"] = cls
    # context-sensitive revision
    n = len(blks)
    prev_decided = [None] * n
    last = None
    for i, b in enumerate(blks):
        prev_decided[i] = last
        if b["cls_raw"] != "short":
            last = b["cls_raw"]
    next_decided = [None] * n
    last = None
    for i in range(n - 1, -1, -1):
        next_decided[i] = last
        if blks[i]["cls_raw"] != "short":
            last = blks[i]["cls_raw"]
    for i, b in enumerate(blks):
        if b["cls_raw"] != "short":
            b["cls"] = b["cls_raw"]
        elif prev_decided[i] == "good" and next_decided[i] == "good":
            b["cls"] = "good"
        else:
            b["cls"] = "bad"
    return blks


# one-slot parse memo: the fused extraction stage with markdown=True runs
# BOTH seg_from_html and main_content_markdown on the same page bytes in
# one row — the second call reuses the first's parse+classification (a
# ~2x saving on the web leg) instead of re-walking the DOM. Pure-function
# memo of in-flight work within a worker, keyed on the exact (bytes, lang)
# input — never persisted, never keyed on corpus identity. Every caller
# gets the same blocks, so they are returned read-only.
_MEMO: tuple | None = None


def extract_main_text(data: bytes, lang: str | None = None
                      ) -> tuple[str, tuple[MappingProxyType, ...]]:
    """HTML bytes -> (main-content text, classified blocks). The text is
    the good blocks joined with newlines — the per-url byte-identity
    target when the source is write_boilerplate_page. The blocks are
    shared with the memo above, so they are read-only views."""
    global _MEMO
    m = _MEMO
    if m is not None and m[1] == lang and m[0] == data:
        return m[2]
    blks = tuple(MappingProxyType(b) for b in classify_blocks(blocks(parse_html(data)), lang))
    res = ("\n".join(b["text"] for b in blks if b["cls"] == "good"), blks)
    _MEMO = (data, lang, res)
    return res


# --------------------------------------------------------------------------
# Segmentation-contract adapter (same shape as xmlparse.parse_segmentation)
# --------------------------------------------------------------------------

# nominal flow-layout metrics = the corpus font's (kernels/glyphs.py), so
# downstream geometry consumers see plausible, deterministic boxes
_CELL_W = 32
_LINE_PITCH = 24
_MARGIN = 48


def seg_from_html(data: bytes, lang: str | None = None) -> dict:
    """HTML -> the engine's Segmentation dict: one line per good block in
    document order, CSS-like flow geometry, one 'text' region spanning
    them. Raises ValueError when no main content survives classification
    (callers map that to guard_tripped, like any unparseable payload)."""
    main, blks = extract_main_text(data, lang)
    good = [b for b in blks if b["cls"] == "good"]
    if not good:
        raise ValueError("no main content after boilerplate strip")
    lines = []
    max_w = 0
    for rank, b in enumerate(good):
        x0 = _MARGIN
        y0 = _MARGIN + rank * _LINE_PITCH
        x1 = x0 + _CELL_W * len(b["text"])
        y1 = y0 + _LINE_PITCH - 10
        max_w = max(max_w, x1)
        baseline = [[x0, y1], [x1, y1]]
        boundary = [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
        lines.append(
            {
                "id": f"html_line_{rank}",
                "rank": rank,
                "bbox": [x0, y0, x1, y1],
                "baseline": baseline,
                "boundary": boundary,
                "region_ids": ["html_region_0"],
                "text": b["text"],
                "tags": '{"type": [{"type": "default"}]}',
                "language": [lang] if lang else [],
            }
        )
    w = max_w + _MARGIN
    h = _MARGIN * 2 + len(good) * _LINE_PITCH
    region = {
        "id": "html_region_0",
        "region_type": "text",
        "boundary": [[_MARGIN, _MARGIN], [w - _MARGIN, _MARGIN],
                     [w - _MARGIN, h - _MARGIN], [_MARGIN, h - _MARGIN]],
        "rank": 0,
        "tags": '{"type": [{"type": "text"}]}',
        "language": [lang] if lang else [],
    }
    return {
        "width": w,
        "height": h,
        "lines": lines,
        "regions": [region],
        "line_orders": [],
        "script_detection": False,
        "text_direction": "horizontal-rl" if lang == "ar" else "horizontal-lr",
    }


_HEADING_TAGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}


def _block_kind(path: str) -> tuple[str, int]:
    """Block tag-chain -> (kind, level) for structured rendering. The
    NEAREST structural ancestor wins (a <p> inside <li> is a list item;
    an <h2> inside <blockquote> renders as a quote heading is overkill —
    heading outranks quote because it carries document structure)."""
    tags = path.split(".")
    for t in reversed(tags):
        if t in _HEADING_TAGS:
            return "heading", _HEADING_TAGS[t]
    if any(t in ("li", "dd", "dt") for t in tags):
        # nesting level = enclosing list containers (ul/ol/dl), min 1
        return "item", max(1, sum(1 for t in tags if t in ("ul", "ol", "dl")))
    if "blockquote" in tags:
        return "quote", 0
    if "pre" in tags:
        return "pre", 0
    return "para", 0


def _table_qualifies(tblks: list[dict]) -> bool:
    """A table renders as a pipe table when it is content, not chrome:
    never inside a boiler ancestor; any classified-good block admits it,
    else it needs >=2 rows of real text with aggregate link density below
    the boilerplate threshold (layout/nav tables are link-dense)."""
    if any(b["in_boiler"] for b in tblks):
        return False
    if any(b["cls"] == "good" for b in tblks):
        return True
    rows = {b["row_id"] for b in tblks if b["row_id"] >= 0}
    total = sum(b["length"] for b in tblks)
    links = sum(b["link_chars"] for b in tblks)
    return len(rows) >= 2 and total >= 60 and links / max(1, total) < MAX_LINK_DENSITY


def _render_table(tblks: list[dict]) -> list[str]:
    """Table blocks (all of one table_id, doc order) -> markdown lines:
    caption/rowless text first, then `| a | b |` rows with the separator
    after the first row (header if its cells are <th>, else the GitHub
    convention of first-row-as-header)."""
    lead = [b["text"] for b in tblks if b["cell_id"] < 0]
    rows: dict[int, dict[int, list[str]]] = {}
    row_order: list[int] = []
    cell_order: dict[int, list[int]] = {}
    for b in tblks:
        if b["cell_id"] < 0 or b["row_id"] < 0:
            continue
        r = rows.setdefault(b["row_id"], {})
        if b["row_id"] not in row_order:
            row_order.append(b["row_id"])
        if b["cell_id"] not in r:
            r[b["cell_id"]] = []
            cell_order.setdefault(b["row_id"], []).append(b["cell_id"])
        r[b["cell_id"]].append(b["text"])
    lines = list(lead)
    for i, rid in enumerate(row_order):
        cells = [
            " ".join(rows[rid][cid]).replace("|", "\\|")
            for cid in cell_order[rid]
        ]
        lines.append("| " + " | ".join(cells) + " |")
        if i == 0:
            lines.append("|" + "---|" * len(cells))
    return lines


def main_content_markdown(data: bytes, lang: str | None = None) -> str:
    """Structure-preserving main-content extraction: the same classified
    good blocks as extract_main_text, rendered as portable markdown-style
    lines — `#`-prefixed headings (level from h1-h6), `-` list items
    (nested lists indent two spaces per level), `>` blockquotes, 4-space
    pre blocks, plain paragraphs. The LLM-training-corpus shape
    (trafilatura/resiliparse-class extractors emit exactly this): document
    structure survives the boilerplate strip without any HTML remaining.

    Plain-paragraph-only pages render byte-identical to extract_main_text
    (pinned in tests), so the CER-0 contract is a strict subset.

    Content tables (qualified by _table_qualifies — chrome/layout tables
    stay stripped) render as GitHub pipe tables, cells regrouped into rows
    via the blocks' table/row/cell provenance."""
    _, blks = extract_main_text(data, lang)
    tables: dict[int, list[dict]] = {}
    for b in blks:
        if b["table_id"] >= 0:
            tables.setdefault(b["table_id"], []).append(b)
    emitted: set[int] = set()
    out = []
    for b in blks:
        tid = b["table_id"]
        if tid >= 0:
            if tid in emitted:
                continue
            emitted.add(tid)
            if _table_qualifies(tables[tid]):
                out.extend(_render_table(tables[tid]))
            else:
                out.extend(
                    t["text"] for t in tables[tid] if t["cls"] == "good"
                )
            continue
        if b["cls"] != "good":
            continue
        kind, level = _block_kind(b["path"])
        if kind == "heading":
            out.append("#" * level + " " + b["text"])
        elif kind == "item":
            out.append("  " * (level - 1) + "- " + b["text"])
        elif kind == "quote":
            out.append("> " + b["text"])
        elif kind == "pre":
            out.append("    " + b["text"])
        else:
            out.append(b["text"])
    return "\n".join(out)


def page_meta(data: bytes, base_url: str | None = None) -> dict:
    """HTML bytes -> page-level metadata for the web-corpus table: title,
    meta description, canonical URL, robots noindex/nofollow flags,
    <html lang>, and resolved outlinks (href of every <a>, urljoin'd
    against base_url / <base href>, deduplicated in document order;
    fragment-only, javascript: and mailto: links dropped).

    This is the per-page signal set a Common-Crawl-style pipeline keys on
    for index hygiene (noindex filtering), URL frontier expansion
    (outlinks) and snippeting (title/description) — computed in the same
    single DOM pass infrastructure as the boilerplate strip."""
    from urllib.parse import urljoin

    root = parse_html(data)
    meta = {
        "title": None,
        "description": None,
        "canonical": None,
        "noindex": False,
        "nofollow": False,
        "lang_attr": None,
        "links": [],
    }
    base = base_url or ""
    seen = set()

    def walk(node: Node):
        nonlocal base
        tag = node.tag
        if tag == "html" and meta["lang_attr"] is None:
            lang = node.attrs.get("lang")
            if lang:
                meta["lang_attr"] = lang.strip().lower() or None
        elif tag == "base":
            href = node.attrs.get("href")
            if href:
                try:
                    base = urljoin(base_url or "", href.strip())
                except ValueError:
                    pass  # unparseable base: keep the previous one
        elif tag == "title" and meta["title"] is None:
            meta["title"] = _norm_ws(
                "".join(c.text for c in node.children if c.tag == "#text")
            ) or None
        elif tag == "meta":
            name = (node.attrs.get("name") or "").strip().lower()
            content = node.attrs.get("content") or ""
            if name == "description" and meta["description"] is None:
                meta["description"] = _norm_ws(content) or None
            elif name == "robots":
                directives = {d.strip().lower() for d in content.split(",")}
                if "noindex" in directives or "none" in directives:
                    meta["noindex"] = True
                if "nofollow" in directives or "none" in directives:
                    meta["nofollow"] = True
        elif tag == "link":
            rel = (node.attrs.get("rel") or "").strip().lower()
            if rel == "canonical" and meta["canonical"] is None:
                href = node.attrs.get("href")
                if href:
                    try:
                        meta["canonical"] = urljoin(base, href.strip())
                    except ValueError:
                        pass
        elif tag == "a":
            href = (node.attrs.get("href") or "").strip()
            if href and not href.startswith(("#", "javascript:", "mailto:")):
                try:
                    resolved = urljoin(base, href)
                except ValueError:
                    resolved = None  # bracketed-host and similar parse errors
                if resolved and resolved not in seen:
                    seen.add(resolved)
                    meta["links"].append(resolved)
        for ch in node.children:
            walk(ch)

    walk(root)
    return meta


def looks_like_html(data: bytes) -> bool:
    """Web-HTML sniff for payload routing: an <html>/<!doctype html>
    prologue WITHOUT hOCR markers (hOCR is HTML too — meta name=ocr-system
    / ocr_page classes — and must keep routing to the hOCR parser)."""
    if data[:3] == b"\xef\xbb\xbf":  # UTF-8 BOM (bytes.lstrip won't remove it)
        data = data[3:]
    head = data[:512].lstrip().lower()
    if not (head.startswith(b"<!doctype html") or head.startswith(b"<html")):
        return False
    probe = data[:8192].lower()
    return b"ocr-system" not in probe and b"ocr_page" not in probe


# --------------------------------------------------------------------------
# deterministic boilerplate page writer (test/bench corpus)
# --------------------------------------------------------------------------


def _h(seed: int, url: str, k: str) -> int:
    d = hashlib.sha256(f"kraken-spark-html:{seed}:{url}:{k}".encode()).digest()
    return int.from_bytes(d[:8], "big")


_SITE_WORDS = (
    "alpha beta gamma delta epsilon zeta archive daily journal tribune "
    "gazette chronicle herald review digest observer courier"
).split()


def write_boilerplate_page(text: str, lang: str, url: str, seed: int = 42) -> bytes:
    """Ground-truth text -> a full deterministic web page: the gt lines as
    <article> paragraphs wrapped in realistic chrome (header+nav, cookie
    banner, sidebar link lists, linked related-articles block, comments in
    an aside, footer), plus script/style noise and entity escapes. All
    chrome is derived from sha256(seed,url) — no RNG — so every page is
    reproducible and extraction is byte-identity-testable."""
    rh = _h(seed, url, "site")
    site = "-".join(
        _SITE_WORDS[(rh >> (8 * k)) % len(_SITE_WORDS)] for k in range(2)
    )
    nav_n = 4 + (_h(seed, url, "nav") % 4)
    nav = " ".join(
        '<li><a href="/s/%d">%s</a></li>'
        % (k, _SITE_WORDS[_h(seed, url, "n%d" % k) % len(_SITE_WORDS)])
        for k in range(nav_n)
    )
    side = " ".join(
        '<li><a href="/t/%d">tag-%d</a></li>' % (k, _h(seed, url, "s%d" % k) % 97)
        for k in range(5)
    )
    # long but link-saturated: must die by link density, not length
    related = " ".join(
        '<a href="/r/%d">related story %d from the %s desk</a>'
        % (k, _h(seed, url, "r%d" % k) % 1000, site)
        for k in range(6)
    )
    comments = " ".join(
        '<div class="c"><a href="/u/%d">user%d</a><p>nice %d</p></div>'
        % (k, k, _h(seed, url, "c%d" % k) % 100)
        for k in range(3)
    )
    paras = "\n".join(
        f"      <p>{_htmlmod.escape(ln)}</p>" for ln in text.split("\n")
    )
    doc = f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
  <meta charset="utf-8">
  <title>{site} &mdash; page</title>
  <style>body {{ margin: 0; }} .c > p {{ color: #333; }}</style>
  <script>var trk = "<p>not content</p>"; if (1 < 2) trk += "&amp;";</script>
</head>
<body>
  <header>
    <h1><a href="/">{site}</a></h1>
    <nav><ul>{nav}</ul></nav>
  </header>
  <div class="cookie">We use cookies. <a href="/privacy">Learn more</a></div>
  <aside class="sidebar"><h2>Topics</h2><ul>{side}</ul></aside>
  <main>
    <article>
{paras}
    </article>
    <div class="related">{related}</div>
  </main>
  <aside class="comments"><h2>Comments</h2>{comments}</aside>
  <footer><p>&copy; {site}</p><ul>{nav}</ul></footer>
</body>
</html>
"""
    return doc.encode("utf-8")
