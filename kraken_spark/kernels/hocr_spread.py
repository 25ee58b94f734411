"""hOCR word-box normalizer — the reference's contrib word spreader
(/root/reference/kraken/contrib/print_word_spreader.py, itself a vendored
copy of Lace2-tools' normalize_hocr) re-derived over stdlib ElementTree:
convert kraken hOCR so word bounding boxes are likely to enclose their
words plus some space, remove the single-space ocrx_word spans kraken
emits between words, summarize per-char confidences into data- attributes,
fix absurdly large word boxes, and emit namespaced XHTML.

Faithfulness notes (each cited to the reference script):

* The reference's space-span loop guards with ``if previous_span and
  next_span:`` (print_word_spreader.py:114) — lxml element truthiness is
  *childlessness*, so for kraken's text-only word spans the guard is
  always False and only the span REMOVAL ever executes. ``strict_quirks``
  (default True) mirrors that executed behavior exactly; False applies
  the documented intent (None-checks, bbox spreading happens).
* Same truthiness quirk in the big-word fix (print_word_spreader.py:190-195
  ``if (my_next): ... elif (my_previous): ... else:``): with text-only
  siblings the else branch always wins and the word inherits its PARENT's
  title. ``strict_quirks`` controls this identically.
* Fudge factors: right 7, left 5, both capped by a third of the gap
  (print_word_spreader.py:96-126).
* Confidence summary reads the ``x_confs`` tail of the title's second
  ;-part, rounds min/mean to 2 decimals, stores them as
  ``data-min-confidence``/``data-average-confidence`` and cuts the title
  back to the bbox part (print_word_spreader.py:139-157); any failure is
  swallowed per word (the reference's bare except).
* Page-title cleanup rewrites the first ocr_page title to
  ``image <stem>.png; <bbox part>`` (print_word_spreader.py:201-211); when
  the page bbox is missing and an image size is supplied, the title is
  rebuilt as ``bbox 0 0 W H;image <stem>.png``
  (print_word_spreader.py:214-222).
"""

from __future__ import annotations

import html as _html
import xml.etree.ElementTree as ET

XHTML_NS = "http://www.w3.org/1999/xhtml"

RIGHT_MAX_FUDGE = 7  # print_word_spreader.py:96
LEFT_MAX_FUDGE = 5   # print_word_spreader.py:97


class BboxError(Exception):
    """An element lacks the bbox we expect (print_word_spreader.py:16)."""


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _to_xhtml(el: ET.Element) -> ET.Element:
    """Re-namespace every element into XHTML keeping local names — the
    reference's identity XSLT (print_word_spreader.py:242-258)."""
    out = ET.Element(f"{{{XHTML_NS}}}{_local(el.tag)}", dict(el.attrib))
    out.text = el.text
    out.tail = el.tail
    for child in el:
        out.append(_to_xhtml(child))
    return out


def get_bbox_val(span: ET.Element, position: int) -> int:
    """int value at `position` of the title's bbox part
    (print_word_spreader.py:48-65)."""
    try:
        parts = _html.unescape(span.get("title") or "").split(";")
        bbox_string = ""
        for part in parts:
            part = part.strip()
            if part.startswith("bbox"):
                bbox_string = part
        return int(bbox_string.split(" ")[position + 1])
    except BboxError:
        raise
    except Exception as exc:
        raise BboxError(str(exc)) from exc


def get_bbox_area(span: ET.Element) -> int:
    width = get_bbox_val(span, 2) - get_bbox_val(span, 0)
    height = get_bbox_val(span, 3) - get_bbox_val(span, 1)
    return width * height


def set_bbox_value(span: ET.Element, position: int, val: int) -> None:
    """Rewrite one bbox coordinate in place (print_word_spreader.py:81-92;
    like the reference, assumes the bbox is the FIRST ;-part)."""
    title = span.get("title")
    if title is None:
        raise BboxError(f"no title on span id {span.get('id')}")
    parts = title.split(";")
    bbox_parts = parts[0].split(" ")
    bbox_parts[position + 1] = str(val)
    parts[0] = " ".join(bbox_parts)
    span.set("title", ";".join(parts))


def _truthy(el: ET.Element | None, strict_quirks: bool) -> bool:
    """The reference tests elements with plain `if el:` — under lxml that
    is has-children, not is-not-None (print_word_spreader.py:114,190)."""
    if el is None:
        return False
    return len(el) > 0 if strict_quirks else True


def _spans(root: ET.Element, klass: str) -> list[ET.Element]:
    return [
        el for el in root.iter(f"{{{XHTML_NS}}}span")
        if el.get("class") == klass
    ]


def _parent_map(root: ET.Element) -> dict[ET.Element, ET.Element]:
    return {c: p for p in root.iter() for c in p}


def share_space_spans(root: ET.Element, strict_quirks: bool = True) -> int:
    """Remove kraken's single-space ocrx_word spans, assigning their area
    to the words on either side with fudge gaps
    (print_word_spreader.py:95-136). Returns the number removed."""
    parents = _parent_map(root)
    removed = 0
    for span in _spans(root, "ocrx_word"):
        if span.text != " " or len(span) > 0:
            continue
        parent = parents.get(span)
        if parent is None:
            continue
        siblings = list(parent)
        idx = siblings.index(span)
        previous_span = siblings[idx - 1] if idx > 0 else None
        next_span = siblings[idx + 1] if idx + 1 < len(siblings) else None
        if _truthy(previous_span, strict_quirks) and _truthy(next_span, strict_quirks):
            left_pos = get_bbox_val(previous_span, 2)
            right_pos = get_bbox_val(next_span, 0)
            third = int((right_pos - left_pos) / 3)
            left_fudge = min(third, LEFT_MAX_FUDGE)
            right_fudge = min(third, RIGHT_MAX_FUDGE)
            set_bbox_value(previous_span, 2, left_pos + left_fudge)
            set_bbox_value(next_span, 0, right_pos - right_fudge)
        # now remove the space span, no matter what (reference line 135-136)
        parent.remove(span)
        # keep surrounding text flow: fold the removed span's tail onto the
        # previous sibling / parent text so serialization stays well-formed
        if span.tail:
            if previous_span is not None:
                previous_span.tail = (previous_span.tail or "") + span.tail
            else:
                parent.text = (parent.text or "") + span.tail
        removed += 1
    return removed


def confidence_summary(root: ET.Element) -> None:
    """min/mean of the x_confs list -> data- attributes; title cut back to
    the bbox part (print_word_spreader.py:139-157)."""
    for word_span in _spans(root, "ocrx_word"):
        try:
            word_data = (word_span.get("title") or "").split(";")
            confs_string = word_data[1].split(" ")[2:]
            bbox_only = word_data[0]
            confs = [float(i) for i in confs_string]
            minimum = round(min(confs), 2)
            average = round(sum(confs) / len(confs), 2)
            word_span.set("data-min-confidence", str(minimum))
            word_span.set("data-average-confidence", str(average))
            word_span.set("title", bbox_only)
        except Exception:
            # there's not much to do if this goes wrong (reference :155-157)
            pass


def fix_word_span_area(root: ET.Element, strict_quirks: bool = True) -> int:
    """Words whose bbox area exceeds a sixth of the page area inherit a
    neighbor's (or, per the executed reference semantics, their parent's)
    title (print_word_spreader.py:179-198). Returns the number fixed."""
    pages = [
        el for el in root.iter(f"{{{XHTML_NS}}}div")
        if el.get("class") == "ocr_page"
    ]
    if not pages:
        raise BboxError("no ocr_page")
    image_area = get_bbox_area(pages[0])
    parents = _parent_map(root)
    fixed = 0
    for span in [
        s for s in root.iter(f"{{{XHTML_NS}}}span")
        if s.get("class") in ("ocrx_word", "ocr_word")
    ]:
        area = get_bbox_area(span)
        if area <= image_area / 6:
            continue
        parent = parents.get(span)
        siblings = list(parent) if parent is not None else [span]
        idx = siblings.index(span)
        my_previous = siblings[idx - 1] if idx > 0 else None
        my_next = siblings[idx + 1] if idx + 1 < len(siblings) else None
        if _truthy(my_next, strict_quirks):
            span.set("title", my_next.get("title") or "")
        elif _truthy(my_previous, strict_quirks):
            span.set("title", my_previous.get("title") or "")
        else:
            span.set("title", (parent.get("title") or "") if parent is not None else "")
        fixed += 1
    return fixed


def clean_ocr_page_title(root: ET.Element, file_name: str) -> None:
    """title -> 'image <stem>.png; <bbox part>' on the first ocr_page
    (print_word_spreader.py:201-211)."""
    pages = [
        el for el in root.iter(f"{{{XHTML_NS}}}div")
        if el.get("class") == "ocr_page"
    ]
    if not pages:
        raise BboxError("no ocr_page")
    sections = (pages[0].get("title") or "").split(";")
    stem = file_name.rsplit(".", 1)[0] + ".png"
    pages[0].set("title", "image " + stem + "; " + sections[0])


def rewrite_ocr_page_title(root: ET.Element, file_name: str,
                           image_x: int, image_y: int) -> None:
    """Rebuild the page title from known image dimensions
    (print_word_spreader.py:214-222)."""
    pages = [
        el for el in root.iter(f"{{{XHTML_NS}}}div")
        if el.get("class") == "ocr_page"
    ]
    if not pages:
        raise BboxError("no ocr_page")
    stem = file_name.rsplit(".", 1)[0] + ".png"
    pages[0].set("title", f"bbox 0 0 {image_x} {image_y};image {stem}")


def spread_hocr(
    hocr: str,
    file_name: str = "page.html",
    share_space: bool = True,
    confidence: bool = False,
    fix_big_words: bool = False,
    image_size: tuple[int, int] | None = None,
    strict_quirks: bool = True,
    return_count: bool = False,
):
    """One-document driver mirroring the reference's per-file loop
    (print_word_spreader.py:262-299): parse -> XHTML re-namespace ->
    optional big-word fix (falling back to a page-title rebuild from
    `image_size` on BboxError) -> page-title cleanup -> optional
    space-span sharing -> optional confidence summary -> serialized
    XHTML string. With return_count, returns (document,
    n_space_spans_removed) instead — the Spark face's report column."""
    src = ET.fromstring(hocr)
    ET.register_namespace("", XHTML_NS)
    xhtml = _to_xhtml(src)
    if fix_big_words:
        try:
            fix_word_span_area(xhtml, strict_quirks)
        except BboxError:
            if image_size is None:
                raise
            rewrite_ocr_page_title(xhtml, file_name, *image_size)
            fix_word_span_area(xhtml, strict_quirks)
    clean_ocr_page_title(xhtml, file_name)
    removed = 0
    if share_space:
        removed = share_space_spans(xhtml, strict_quirks)
    if confidence:
        confidence_summary(xhtml)
    doc = ET.tostring(xhtml, encoding="unicode", xml_declaration=True)
    return (doc, removed) if return_count else doc
