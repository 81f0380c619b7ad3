"""HTML main-content extraction: boilerplate strip + DOM heuristics.

The reference strips page furniture geometrically (margin clearing,
/root/reference/src/tpdf/pseg.py:186-197); for HTML turn payloads the same
job is done structurally, with the classic readability-style heuristics:

* hard-skip non-content subtrees: script/style/noscript/template/svg/head
* structural boilerplate: nav/header/footer/aside/form subtrees
* link-density: a text block whose characters are mostly inside anchors is
  navigation chrome, not content (dropped when link_density > 0.5 and the
  block is short)
* <table> subtrees become table segments (rows x cells), the DOM-native
  analogue of the grid-line table detector -- no monospace alignment needed
  when real structure is present

Pure stdlib (html.parser); runs inside the same Arrow batches as the grid
kernel.  Output segments use the grid kernel's schema: {type, content,
rows, box} with box rows expressed in the same v-unit space (LINE_H tall
per block line) so reading order and cindex semantics stay uniform.
"""

from __future__ import annotations

import html as _html
import re
from html.parser import HTMLParser

from . import grid as G

_SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "head"}
_BOILER_TAGS = {"nav", "header", "footer", "aside", "form"}
_BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "body", "li", "ul", "ol",
    "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "tr",
    "table", "br",
}
_VOID_TAGS = {"br", "hr", "img", "input", "meta", "link"}

_HTML_DOC_RE = re.compile(r"<!doctype\s+html|<html[\s>]", re.IGNORECASE)
_HTML_OPEN_RE = re.compile(
    r"<(body|div|p|table|article|section|ul|ol|li|h[1-6]|tr)[\s>]",
    re.IGNORECASE,
)
_HTML_CLOSE_RE = re.compile(
    r"</(body|div|p|table|article|section|ul|ol|li|h[1-6]|tr|td|th)>",
    re.IGNORECASE,
)


def has_html_marker(text: str) -> bool:
    """Decisive document marker (<!doctype html> / <html>)."""
    return bool(text) and _HTML_DOC_RE.search(text) is not None


def looks_like_html(text: str) -> bool:
    """Cheap dispatch test.  A document marker is decisive; otherwise
    require BOTH an opening structural tag and a closing one -- prose that
    merely mentions a tag ("use <div> for layout") must stay on the
    text-grid path.  For the remaining ambiguous band (prose QUOTING a
    complete markup fragment), extract_turn_auto adds a yield-based
    fallback: the DOM parse is rejected if it discards most of the turn's
    characters relative to the plain-text parse."""
    if not text:
        return False
    if _HTML_DOC_RE.search(text):
        return True
    return (
        _HTML_OPEN_RE.search(text) is not None
        and _HTML_CLOSE_RE.search(text) is not None
    )


class _Block:
    __slots__ = ("chars", "link_chars", "texts")

    def __init__(self) -> None:
        self.chars = 0
        self.link_chars = 0
        self.texts: list[str] = []


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.skip_depth = 0
        self.boiler_depth = 0
        self.anchor_depth = 0
        self.blocks: list[_Block] = []
        self.cur = _Block()
        # table state: None or {'rows': [...], 'row': [...] | None,
        # 'cell': [...] | None, 'depth': int}
        self.table: dict | None = None
        self.pre_depth = 0
        self.pre_buf: list[str] = []
        # interleaved {'kind': 'block'|'table'|'pre'}
        self.out: list[dict] = []

    # -- block machinery ---------------------------------------------------

    def _flush_block(self) -> None:
        if self.cur.texts:
            self.out.append({"kind": "block", "block": self.cur})
        self.cur = _Block()

    def _emit_text(self, data: str) -> None:
        txt = re.sub(r"\s+", " ", data).strip()
        if not txt:
            return
        if self.table is not None and self.table["cell"] is not None:
            self.table["cell"].append(txt)
            return
        self.cur.texts.append(txt)
        self.cur.chars += len(txt)
        if self.anchor_depth:
            self.cur.link_chars += len(txt)

    # -- parser callbacks --------------------------------------------------

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self.skip_depth += 1
            return
        if self.skip_depth:
            return
        if tag in _BOILER_TAGS:
            self.boiler_depth += 1
            return
        if self.boiler_depth:
            return
        if tag == "a":
            self.anchor_depth += 1
        if tag == "pre":
            if self.pre_depth == 0:
                self._flush_block()
                self.pre_buf = []
            self.pre_depth += 1
            return
        if self.pre_depth:
            return
        if tag == "table":
            if self.table is None:
                self._flush_block()
                self.table = {"rows": [], "row": None, "cell": None,
                              "depth": 1}
            else:
                self.table["depth"] += 1  # nested table: fold into cell
            return
        if self.table is not None and self.table["depth"] == 1:
            if tag == "tr":
                self.table["row"] = []
            elif tag in ("td", "th"):
                self.table["cell"] = []
            return
        if tag in _BLOCK_TAGS and tag not in _VOID_TAGS:
            self._flush_block()
        elif tag == "br":
            self._flush_block()

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self.skip_depth = max(0, self.skip_depth - 1)
            return
        if self.skip_depth:
            return
        if tag in _BOILER_TAGS:
            self.boiler_depth = max(0, self.boiler_depth - 1)
            return
        if self.boiler_depth:
            return
        if tag == "a":
            self.anchor_depth = max(0, self.anchor_depth - 1)
        if tag == "pre":
            self.pre_depth = max(0, self.pre_depth - 1)
            if self.pre_depth == 0:
                raw = "".join(self.pre_buf)
                if raw.strip():
                    self.out.append({"kind": "pre", "raw": raw})
                self.pre_buf = []
            return
        if self.pre_depth:
            return
        if tag == "table" and self.table is not None:
            self.table["depth"] -= 1
            if self.table["depth"] == 0:
                if self.table["rows"]:
                    self.out.append(
                        {"kind": "table", "rows": self.table["rows"]}
                    )
                self.table = None
            return
        if self.table is not None and self.table["depth"] == 1:
            if tag in ("td", "th") and self.table["cell"] is not None:
                self.table["row"] = self.table.get("row") or []
                self.table["row"].append(" ".join(self.table["cell"]))
                self.table["cell"] = None
            elif tag == "tr" and self.table["row"] is not None:
                self.table["rows"].append(self.table["row"])
                self.table["row"] = None
            return
        if tag in _BLOCK_TAGS:
            self._flush_block()

    def handle_data(self, data):
        if self.skip_depth or self.boiler_depth:
            return
        if self.pre_depth:
            self.pre_buf.append(data)  # whitespace preserved verbatim
            return
        self._emit_text(data)

    def close(self):
        super().close()
        self._flush_block()


# link-dense short blocks are navigation chrome (readability heuristic)
LINK_DENSITY_MAX = 0.5
LINK_DENSE_MIN_CHARS = 120


def html_segments(text: str) -> list[dict]:
    """HTML -> ordered segments in the grid kernel's schema.

    Boxes are synthesized in v-unit space from document order (one
    LINE_H-tall band per segment) so downstream sorting/cindex semantics
    match the text-grid path exactly.
    """
    p = _Extractor()
    try:
        p.feed(text)
        p.close()
    except Exception:
        # broken markup: fall back to tag-stripped plain text
        stripped = _html.unescape(re.sub(r"<[^>]*>", " ", text))
        stripped = re.sub(r"[ \t]+", " ", stripped).strip()
        if not stripped:
            return []
        return [{
            "type": "text", "content": stripped, "rows": None,
            "box": [0, 0, G.LINE_H, len(stripped)],
        }]
    from .extract import extract_turn, flatten_table  # lazy: avoids import cycle

    segments: list[dict] = []
    v = 0
    for item in p.out:
        if item["kind"] == "pre":
            # monospace subtree: run the grid kernel over the verbatim
            # text so aligned tables inside <pre> get real table
            # detection (the reference's core strength), with boxes
            # re-based into this document's v-space
            inner = extract_turn(item["raw"])
            for s in inner:
                b = s["box"]
                segments.append(
                    {
                        "type": s["type"],
                        "content": s["content"],
                        "rows": s["rows"],
                        "box": [v + b[0], b[1], v + b[2], b[3]],
                    }
                )
            n_lines = item["raw"].count("\n") + 1
            v += n_lines * G.V_UNIT
            continue
        if item["kind"] == "table":
            rows = item["rows"]
            width = max(len(r) for r in rows)
            rows = [r + [""] * (width - len(r)) for r in rows]
            content = flatten_table(rows)
            segments.append({
                "type": "table", "content": content, "rows": rows,
                "box": [v, 0, v + G.LINE_H, max(len(content), 1)],
            })
            v += G.V_UNIT
            continue
        block = item["block"]
        if (
            block.chars < LINK_DENSE_MIN_CHARS
            and block.chars > 0
            and block.link_chars / block.chars > LINK_DENSITY_MAX
        ):
            continue  # navigation chrome
        content = " ".join(block.texts)
        if not content:
            continue
        segments.append({
            "type": "text", "content": content, "rows": None,
            "box": [v, 0, v + G.LINE_H, len(content)],
        })
        v += G.V_UNIT
    return segments
