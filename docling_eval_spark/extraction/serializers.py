"""Deterministic document serializers: markdown + HTML (SURVEY K7/K8).

Reference semantics:
- markdown export with a label whitelist, used as the input surface of
  the markdown-text evaluator
  (`markdown_text_evaluator.py:107-152`: BODY+FURNITURE layers,
  image placeholder "" — our extracted docs carry no images, so the
  placeholder never fires);
- table → HTML with rowspan/colspan attributes, the TEDS input surface
  (`table_evaluator.py:207-208` via docling-core export_to_html).

Pure functions over the extracted-document dicts (kernel.py output);
byte-deterministic so the markdown-metric pipeline inherits the
byte-identity invariant.
"""

from __future__ import annotations

from typing import Any

# reference markdown whitelist (markdown_text_evaluator.py:108-130)
MARKDOWN_LABELS = {
    "caption", "checkbox_selected", "checkbox_unselected", "code",
    "footnote", "form", "formula", "key_value_region", "list_item",
    "page_footer", "page_header", "paragraph", "picture", "reference",
    "section_header", "table", "text", "title", "document_index",
}

_HEADING_PREFIX = {"title": "# ", "section_header": "## "}


def item_to_markdown(item: dict[str, Any]) -> str | None:
    label = item.get("label") or "text"
    if label not in MARKDOWN_LABELS:
        return None
    text = item.get("text") or ""
    if label in _HEADING_PREFIX:
        return _HEADING_PREFIX[label] + text
    if label == "list_item":
        return "- " + text
    if label == "code":
        return "```\n" + text + "\n```"
    return text


def doc_to_markdown(items: list[dict[str, Any]] | None) -> str:
    """Items (label, text) → markdown; blocks joined by blank lines,
    mirroring the reference's export contract."""
    out = []
    for it in items or []:
        md = item_to_markdown(it)
        if md:
            out.append(md)
    return "\n\n".join(out)


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def table_to_html(grid: dict[str, Any]) -> str:
    """Span-aware grid → <table> HTML, one <td> per anchored cell —
    the same shape docling-core's export_to_html produces and the TEDS
    tree builder consumes."""
    cells = sorted(
        grid.get("cells") or [],
        key=lambda c: (c["start_row_offset_idx"], c["start_col_offset_idx"]),
    )
    rows = []
    for r in range(grid.get("num_rows") or 0):
        tds = []
        for c in cells:
            if c["start_row_offset_idx"] != r:
                continue
            attrs = ""
            if (c.get("row_span") or 1) > 1:
                attrs += f' rowspan="{c["row_span"]}"'
            if (c.get("col_span") or 1) > 1:
                attrs += f' colspan="{c["col_span"]}"'
            tds.append(f"<td{attrs}>{_esc(c.get('text') or '')}</td>")
        rows.append("<tr>" + "".join(tds) + "</tr>")
    return "<table>" + "".join(rows) + "</table>"

