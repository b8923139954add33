"""SVG visualizers (reference transforms/visualizer/*.py, PNG -> SVG).

The reference draws layout boxes, reading-order arrows, table-cell grids and
key-value link graphs onto PIL page images
(layout_visualizer.py:53-221, reading_order_visualizer.py:50-223,
table_visualizer.py:57-267, key_value_visualizer.py:62-237).  PIL is not
installable here, so this module emits the SAME overlays as deterministic
SVG in page coordinates: every rectangle, arrow shaft/head, color and
precedence rule follows the reference geometry (scale_x/scale_y collapse to
1 because SVG is resolution-independent — the viewBox is the page size).

Deliberate deviations from the PNG output (documented, not hidden):
- page raster images are not embedded (PIL-blocked); the SVG is the overlay
  layer only;
- text-label backgrounds use a fixed-size estimate instead of PIL's
  font-metric textbbox (font metrics are PIL-specific);
- output is vector markup, so there is no alpha compositing step — fills
  carry the reference alpha as fill-opacity.
"""

from __future__ import annotations

from typing import Iterator, Optional

from docling_core_spark.functions.geometry import is_topleft, to_top_left_tuple
from docling_core_spark.model.doc import Doc

# reference labels.py DocItemLabel.get_color (types/doc/labels.py:50-84)
LABEL_COLORS: dict[str, tuple[int, int, int]] = {
    "caption": (255, 204, 153),
    "footnote": (200, 200, 255),
    "formula": (192, 192, 192),
    "list_item": (153, 153, 255),
    "page_footer": (204, 255, 204),
    "page_header": (204, 255, 204),
    "picture": (255, 204, 164),
    "chart": (255, 204, 164),
    "section_header": (255, 153, 153),
    "table": (255, 204, 204),
    "text": (255, 255, 153),
    "title": (255, 153, 153),
    "document_index": (220, 220, 220),
    "code": (125, 125, 125),
    "checkbox_selected": (255, 182, 193),
    "checkbox_unselected": (255, 182, 193),
    "form": (200, 255, 255),
    "key_value_region": (183, 65, 14),
    "paragraph": (255, 255, 153),
    "reference": (176, 224, 230),
    "grading_scale": (255, 204, 204),
    "handwritten_text": (204, 255, 204),
    "empty_value": (220, 220, 220),
    "field_region": (183, 65, 14),
    "field_heading": (200, 80, 30),
    "field_item": (183, 100, 40),
    "field_key": (160, 70, 80),
    "field_value": (135, 80, 20),
    "field_hint": (190, 120, 90),
    "marker": (205, 85, 120),
}

_ALL_LAYERS = {"body", "furniture", "background"}
_RO_LAYERS = {"body", "furniture"}  # reference: all but BACKGROUND


def _fmt(v: float) -> str:
    """Deterministic short number format."""
    s = f"{v:.2f}"
    return s.rstrip("0").rstrip(".") if "." in s else s


def _rect(x0, y0, x1, y1, rgb, fill_alpha, stroke_alpha=255, cls="") -> str:
    r, g, b = rgb
    attrs = f' class="{_escape(cls)}"' if cls else ""
    return (
        f'<rect{attrs} x="{_fmt(min(x0, x1))}" y="{_fmt(min(y0, y1))}"'
        f' width="{_fmt(abs(x1 - x0))}" height="{_fmt(abs(y1 - y0))}"'
        f' fill="rgb({r},{g},{b})" fill-opacity="{_fmt(fill_alpha / 255)}"'
        f' stroke="rgb({r},{g},{b})" stroke-opacity="{_fmt(stroke_alpha / 255)}"/>'
    )


def _svg(page_w: float, page_h: float, body: list[str]) -> str:
    return (
        f'<svg xmlns="http://www.w3.org/2000/svg" viewBox="0 0 {_fmt(page_w)} {_fmt(page_h)}">'
        + "".join(body)
        + "</svg>"
    )


def _pages(doc: Doc) -> dict[int, dict]:
    return {int(k): v for k, v in (doc.pages or {}).items()}


def _arrow_head(x0, y0, x1, y1, length: float, width: float) -> list[tuple[float, float]]:
    """Arrowhead triangle points (reference reading_order_visualizer.py:69-91)."""
    dx, dy = x1 - x0, y1 - y0
    distance = (dx**2 + dy**2) ** 0.5 + 0.01
    ux, uy = dx / distance, dy / distance
    base_x, base_y = x1 - ux * length, y1 - uy * length
    left = (base_x - uy * width, base_y + ux * width)
    right = (base_x + uy * width, base_y - ux * width)
    return [(x1, y1), left, right]


def _poly(points, color: str) -> str:
    pts = " ".join(f"{_fmt(x)},{_fmt(y)}" for x, y in points)
    return f'<polygon points="{pts}" fill="{color}"/>'


# ---------------------------------------------------------------------------
# Layout
# ---------------------------------------------------------------------------


def layout_svg(
    doc: Doc,
    show_label: bool = True,
    included_content_layers: Optional[set[str]] = None,
) -> dict[int, str]:
    """Per-page layout overlay: one rect per provenance, label-colored with
    the reference's 70/255 fill alpha and solid outline
    (layout_visualizer.py:86-139)."""
    layers = included_content_layers if included_content_layers is not None else _ALL_LAYERS
    pages = _pages(doc)
    per_page: dict[int, list[str]] = {nr: [] for nr in pages}
    for item, _ in doc.iterate_items(
        included_content_layers=layers, traverse_pictures=True
    ):
        for prov in item.get("prov", ()):
            page_nr = prov.get("page_no")
            if page_nr not in pages:
                continue
            size = pages[page_nr]["size"]
            x0, y0, x1, y1 = to_top_left_tuple(prov["bbox"], size["height"])
            label = item.get("label", "text")
            rgb = LABEL_COLORS.get(label, (0, 0, 0))
            cls = f"cluster {label}"
            per_page[page_nr].append(_rect(x0, y0, x1, y1, rgb, 70, 255, cls))
            if show_label:
                # reference draws "{LABEL.name} ({confidence:.2f})" at (x0, y0)
                text = f"{label.upper()} (1.00)"
                per_page[page_nr].append(
                    f'<text class="label" x="{_fmt(x0)}" y="{_fmt(y0)}"'
                    f' font-size="12" fill="rgb(0,0,0)">{_escape(text)}</text>'
                )
    return {
        nr: _svg(pages[nr]["size"]["width"], pages[nr]["size"]["height"], body)
        for nr, body in per_page.items()
    }


# ---------------------------------------------------------------------------
# Reading order
# ---------------------------------------------------------------------------


def _picture_context(doc: Doc, item: dict) -> Optional[str]:
    """Enclosing picture self_ref, if the element is nested in one
    (reading_order_visualizer.py:38-48)."""
    current = item
    while current.get("parent") is not None:
        parent = doc.resolve(current["parent"]["$ref"])
        if parent.get("self_ref", "").startswith("#/pictures/"):
            return parent["self_ref"]
        if parent.get("self_ref") in ("#/body", "#/furniture"):
            break
        current = parent
    return None


def reading_order_svg(
    doc: Doc,
    show_branch_numbering: bool = False,
    included_content_layers: Optional[set[str]] = None,
) -> dict[int, str]:
    """Per-page reading-order arrows between consecutive element centers,
    one path per (page, enclosing-picture) — red for the outer flow, blue
    inside pictures — with the reference arrowhead geometry (length 20,
    width 10) and center math on the normalized-then-scaled rounded bbox
    (reading_order_visualizer.py:94-223)."""
    layers = included_content_layers if included_content_layers is not None else _RO_LAYERS
    pages = _pages(doc)
    per_page: dict[int, list[str]] = {nr: [] for nr in pages}
    numbers: dict[int, list[tuple[float, float, str]]] = {nr: [] for nr in pages}
    state: dict[tuple[int, Optional[str]], tuple[float, float, int]] = {}
    prev_page: Optional[int] = None
    element_index = 0

    for item, _ in doc.iterate_items(
        included_content_layers=layers, traverse_pictures=True
    ):
        picture_ref = _picture_context(doc, item)
        provs = item.get("prov", ())
        for prov in provs:
            page_nr = prov.get("page_no")
            if page_nr not in pages:
                continue
            size = pages[page_nr]["size"]
            if prev_page is None or page_nr != prev_page:
                prev_page = page_nr
                state.clear()
            x0b, y0b, x1b, y1b = to_top_left_tuple(prov["bbox"], size["height"])
            # reference normalizes then rounds against the image size; in
            # page units the net effect is rounding the page coordinates
            l = round(x0b / size["width"] * size["width"])
            r = round(x1b / size["width"] * size["width"])
            t = round(y0b / size["height"] * size["height"])
            b = round(y1b / size["height"] * size["height"])
            if b > t:
                b, t = t, b
            x1 = (l + r) / 2.0
            y1 = (b + t) / 2.0
            key = (page_nr, picture_ref)
            st = state.get(key)
            if st is None:
                state[key] = (x1, y1, element_index)
                numbers[page_nr].append((x1, y1, str(element_index)))
                element_index += 1
            else:
                px, py, idx0 = st
                color = "blue" if picture_ref is not None else "red"
                per_page[page_nr].append(
                    f'<line x1="{_fmt(px)}" y1="{_fmt(py)}" x2="{_fmt(x1)}"'
                    f' y2="{_fmt(y1)}" stroke="{color}" stroke-width="2"/>'
                )
                per_page[page_nr].append(
                    _poly(_arrow_head(px, py, x1, y1, 20, 10), color)
                )
                state[key] = (x1, y1, idx0)

    if show_branch_numbering:
        # deviation: fixed-radius circles instead of PIL textbbox ellipses
        for nr, items in numbers.items():
            for x, y, text in items:
                per_page[nr].append(
                    f'<circle cx="{_fmt(x)}" cy="{_fmt(y)}" r="10" fill="orange"/>'
                )
                per_page[nr].append(
                    f'<text x="{_fmt(x)}" y="{_fmt(y)}" font-size="12"'
                    f' fill="black">{text}</text>'
                )
    return {
        nr: _svg(pages[nr]["size"]["width"], pages[nr]["size"]["height"], body)
        for nr, body in per_page.items()
    }


# ---------------------------------------------------------------------------
# Tables
# ---------------------------------------------------------------------------

# reference table_visualizer.py Params colors
_TBL = {
    "single": ((255, 0, 0), 32, 128),
    "merged": ((255, 140, 0), 40, 160),
    "row": ((255, 0, 0), 32, 128),
    "row_header": ((0, 255, 0), 32, 128),
    "row_section": ((255, 165, 0), 32, 128),
    "col": ((0, 255, 0), 32, 128),
    "col_header": ((0, 0, 255), 32, 128),
}


def _cells(data: dict) -> list[dict]:
    return data.get("table_cells") or []


def _enclosing(bboxes: list[dict]) -> dict:
    out = dict(bboxes[0])
    tl = is_topleft(out)
    for bb in bboxes[1:]:
        out["l"] = min(out["l"], bb["l"])
        out["r"] = max(out["r"], bb["r"])
        if tl:
            out["t"] = min(out["t"], bb["t"])
            out["b"] = max(out["b"], bb["b"])
        else:
            out["t"] = max(out["t"], bb["t"])
            out["b"] = min(out["b"], bb["b"])
    return out


def _axis_bboxes(data: dict, axis: str, minimal: bool) -> dict[int, dict]:
    """Row/column bounding boxes (reference table_data.py:291-475), ROT_0
    orientation (the model does not carry table orientation)."""
    n = data.get("num_rows" if axis == "row" else "num_cols") or 0
    start_k = f"start_{axis}_offset_idx" if axis == "col" else "start_row_offset_idx"
    end_k = f"end_{axis}_offset_idx" if axis == "col" else "end_row_offset_idx"
    out: dict[int, dict] = {}
    for idx in range(n):
        by_span: dict[int, list[dict]] = {}
        for cell in _cells(data):
            bb = cell.get("bbox")
            if bb is not None and cell[start_k] <= idx < cell[end_k]:
                by_span.setdefault(cell[end_k] - cell[start_k], []).append(bb)
        if not by_span:
            continue
        bbox = _enclosing(by_span[min(by_span)])
        tl = is_topleft(bbox)
        for bbs in by_span.values():
            for bb in bbs:
                if axis == "row":
                    bbox["l"] = min(bbox["l"], bb["l"])
                    bbox["r"] = max(bbox["r"], bb["r"])
                elif tl:
                    bbox["t"] = min(bbox["t"], bb["t"])
                    bbox["b"] = max(bbox["b"], bb["b"])
                else:
                    bbox["t"] = max(bbox["t"], bb["t"])
                    bbox["b"] = min(bbox["b"], bb["b"])
        out[idx] = bbox
    if not minimal and out:
        if axis == "row":
            gl = min(b["l"] for b in out.values())
            gr = max(b["r"] for b in out.values())
            for b in out.values():
                b["l"], b["r"] = gl, gr
        else:
            first = next(iter(out.values()))
            if is_topleft(first):
                gt = min(b["t"] for b in out.values())
                gb = max(b["b"] for b in out.values())
            else:
                gt = max(b["t"] for b in out.values())
                gb = min(b["b"] for b in out.values())
            for b in out.values():
                b["t"], b["b"] = gt, gb
    return out


def row_bounding_boxes(data: dict, minimal: bool = True) -> dict[int, dict]:
    """Per-row enclosing bboxes (reference TableData.get_row_bounding_boxes)."""
    return _axis_bboxes(data, "row", minimal)


def column_bounding_boxes(data: dict, minimal: bool = True) -> dict[int, dict]:
    """Per-column enclosing bboxes (reference TableData.get_column_bounding_boxes)."""
    return _axis_bboxes(data, "col", minimal)


def table_svg(
    doc: Doc,
    show_cells: bool = True,
    show_merged_cells: bool = True,
    show_single_cells: bool = True,
    show_rows: bool = False,
    show_cols: bool = False,
    minimal_row_bboxes: bool = True,
    minimal_col_bboxes: bool = True,
    included_content_layers: Optional[set[str]] = None,
) -> dict[int, str]:
    """Per-page table overlays with the reference color precedence
    (merged/single base, then column-header, row-header, row-section
    overrides — table_visualizer.py:71-107)."""
    layers = included_content_layers if included_content_layers is not None else _ALL_LAYERS
    pages = _pages(doc)
    per_page: dict[int, list[str]] = {nr: [] for nr in pages}
    for item, _ in doc.iterate_items(included_content_layers=layers):
        if not item.get("self_ref", "").startswith("#/tables/"):
            continue
        provs = item.get("prov", ())
        if len(provs) != 1:
            continue  # reference: multi-prov tables are not visualized
        page_nr = provs[0].get("page_no")
        if page_nr not in pages:
            continue
        page_h = pages[page_nr]["size"]["height"]
        data = item.get("data") or {}
        if show_cells:
            for cell in _cells(data):
                merged = cell.get("row_span", 1) > 1 or cell.get("col_span", 1) > 1
                if merged and not show_merged_cells:
                    continue
                if not merged and not show_single_cells:
                    continue
                bb = cell.get("bbox")
                if bb is None:
                    continue
                kind = "merged" if merged else "single"
                if cell.get("column_header"):
                    kind = "col_header"
                if cell.get("row_header"):
                    kind = "row_header"
                if cell.get("row_section"):
                    kind = "row_section"
                rgb, fa, sa = _TBL[kind]
                x0, y0, x1, y1 = to_top_left_tuple(bb, page_h)
                per_page[page_nr].append(
                    _rect(x0, y0, x1, y1, rgb, fa, sa, f"cell {kind}")
                )
        if show_rows:
            for _, bb in sorted(row_bounding_boxes(data, minimal_row_bboxes).items()):
                rgb, fa, sa = _TBL["row"]
                x0, y0, x1, y1 = to_top_left_tuple(bb, page_h)
                per_page[page_nr].append(_rect(x0, y0, x1, y1, rgb, fa, sa, "row"))
        if show_cols:
            for _, bb in sorted(column_bounding_boxes(data, minimal_col_bboxes).items()):
                rgb, fa, sa = _TBL["col"]
                x0, y0, x1, y1 = to_top_left_tuple(bb, page_h)
                per_page[page_nr].append(_rect(x0, y0, x1, y1, rgb, fa, sa, "col"))
    return {
        nr: _svg(pages[nr]["size"]["width"], pages[nr]["size"]["height"], body)
        for nr, body in per_page.items()
    }


# ---------------------------------------------------------------------------
# Key-value graphs
# ---------------------------------------------------------------------------

_KEY_FILL = ((0, 170, 0), 70)
_VALUE_FILL = ((0, 0, 200), 70)


def key_value_svg(doc: Doc, show_label: bool = True, show_cell_id: bool = False) -> dict[int, str]:
    """Per-page key/value graph overlay: green key cells, blue value cells,
    red to_value links with the small 6-unit arrowhead
    (key_value_visualizer.py:62-188)."""
    pages = _pages(doc)
    per_page: dict[int, list[str]] = {nr: [] for nr in pages}
    for kv_item in doc.key_value_items:
        graph = kv_item.get("graph") or {}
        cell_dict = {c["cell_id"]: c for c in graph.get("cells", ())}
        for cell in cell_dict.values():
            prov = cell.get("prov")
            if prov is None or prov.get("page_no") not in pages:
                continue
            page_nr = prov["page_no"]
            page_h = pages[page_nr]["size"]["height"]
            rgb, fa = _KEY_FILL if cell.get("label") == "key" else _VALUE_FILL
            x0, y0, x1, y1 = to_top_left_tuple(prov["bbox"], page_h)
            per_page[page_nr].append(
                _rect(x0, y0, x1, y1, rgb, fa, 255, f"kv {cell.get('label')}")
            )
            if show_label:
                parts = []
                if show_cell_id:
                    parts.append(str(cell["cell_id"]))
                parts.append(cell.get("text", ""))
                text = " | ".join(parts)
                per_page[page_nr].append(
                    f'<text class="label" x="{_fmt(x0)}" y="{_fmt(y0)}"'
                    f' font-size="12" fill="rgb(0,0,0)">{_escape(text)}</text>'
                )
        for link in graph.get("links", ()):
            if link.get("label") != "to_value":
                continue
            src = cell_dict.get(link.get("source_cell_id"))
            tgt = cell_dict.get(link.get("target_cell_id"))
            if src is None or tgt is None:
                continue
            sp, tp = src.get("prov"), tgt.get("prov")
            if (
                sp is None
                or tp is None
                or sp.get("page_no") != tp.get("page_no")
                or sp.get("page_no") not in pages
            ):
                continue
            page_nr = sp["page_no"]
            page_h = pages[page_nr]["size"]["height"]

            def centre(bb):
                l, t, r, b = to_top_left_tuple(bb, page_h)
                return (l + r) / 2, (t + b) / 2

            sx, sy = centre(sp["bbox"])
            tx, ty = centre(tp["bbox"])
            per_page[page_nr].append(
                f'<line x1="{_fmt(sx)}" y1="{_fmt(sy)}" x2="{_fmt(tx)}"'
                f' y2="{_fmt(ty)}" stroke="rgb(255,0,0)" stroke-width="2"/>'
            )
            # reference arrow head (key_value_visualizer.py:170-188)
            dx, dy = tx - sx, ty - sy
            length = (dx**2 + dy**2) ** 0.5 or 1.0
            ux, uy = dx / length, dy / length
            px, py = -uy, ux
            arrow_len = 6
            left = (tx - ux * arrow_len - px * arrow_len / 2, ty - uy * arrow_len - py * arrow_len / 2)
            right = (tx - ux * arrow_len + px * arrow_len / 2, ty - uy * arrow_len + py * arrow_len / 2)
            per_page[page_nr].append(_poly([(tx, ty), left, right], "rgb(255,0,0)"))
    return {
        nr: _svg(pages[nr]["size"]["width"], pages[nr]["size"]["height"], body)
        for nr, body in per_page.items()
    }


def _escape(text: str) -> str:
    # quotes included so escaped strings are safe inside attribute values,
    # not just element text (untrusted labels must not break out of class="")
    return (
        text.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


def visualize_doc_svg(doc: Doc) -> dict[int, str]:
    """Stacked overlay (layout + reading order + tables + key-values), the
    equivalent of chaining base_visualizer layers in the reference."""
    pages = _pages(doc)
    layers = [
        layout_svg(doc),
        table_svg(doc),
        key_value_svg(doc),
        reading_order_svg(doc),
    ]
    out = {}
    for nr in pages:
        body = []
        for layer in layers:
            svg = layer.get(nr, "")
            inner = svg.split(">", 1)[1].rsplit("</svg>", 1)[0] if svg else ""
            body.append(inner)
        out[nr] = _svg(
            pages[nr]["size"]["width"], pages[nr]["size"]["height"], body
        )
    return out


def get_visualization_svg(
    doc: Doc,
    show_label: bool = True,
    show_branch_numbering: bool = False,
    viz_mode: str = "reading_order",
    show_cell_id: bool = False,
) -> dict[int, str]:
    """SVG counterpart of the reference DoclingDocument.get_visualization
    (document.py:5061-5121): layout base layer + reading-order arrows
    (default) or key-value overlay, exercised against the same fixtures the
    reference's test_visualization.py pins as PNGs."""
    if viz_mode == "reading_order":
        top = reading_order_svg(doc, show_branch_numbering=show_branch_numbering)
    elif viz_mode == "key_value":
        top = key_value_svg(doc, show_label=show_label, show_cell_id=show_cell_id)
    else:
        raise ValueError(f"Unknown visualization mode: {viz_mode}")
    base = layout_svg(doc, show_label=show_label)
    pages = _pages(doc)
    out = {}
    for nr in pages:
        body = []
        for layer in (base, top):
            svg = layer.get(nr, "")
            if svg:
                body.append(svg.split(">", 1)[1].rsplit("</svg>", 1)[0])
        out[nr] = _svg(pages[nr]["size"]["width"], pages[nr]["size"]["height"], body)
    return out


# ---------------------------------------------------------------------------
# SegmentedPdfPage rendering (reference page.py render_as_image, PNG -> SVG)
# ---------------------------------------------------------------------------

_NAMED = {
    "black": (0, 0, 0),
    "white": (255, 255, 255),
    "cyan": (0, 255, 255),
    "red": (255, 0, 0),
    "green": (0, 128, 0),
    "yellow": (255, 255, 0),
    "blue": (0, 0, 255),
    "orange": (255, 165, 0),
}


def _named_rect(poly, name: str, alpha: float, cls: str) -> str:
    r, g, b = _NAMED.get(name, (0, 0, 0))
    pts = " ".join(f"{_fmt(x)},{_fmt(y)}" for x, y in poly)
    return (
        f'<polygon class="{_escape(cls)}" points="{pts}" fill="rgb({r},{g},{b})"'
        f' fill-opacity="{_fmt(alpha)}" stroke="rgb({r},{g},{b})"/>'
    )


def render_page_svg(
    page,
    cell_unit: str = "word",
    draw_cells_bbox: bool = True,
    draw_cells_text: bool = False,
    cell_outline: str = "black",
    cell_color: str = "cyan",
    cell_alpha: float = 1.0,
    draw_bitmap_resources: bool = True,
    bitmap_resources_fill: str = "yellow",
    bitmap_resources_alpha: float = 1.0,
    draw_shapes: bool = True,
    shape_width: int = 1,
    draw_widgets: bool = True,
    widgets_fill: str = "blue",
    widgets_alpha: float = 0.3,
    draw_hyperlinks: bool = True,
    hyperlinks_fill: str = "orange",
    hyperlinks_alpha: float = 0.3,
) -> str:
    """SVG rendering of a SegmentedPage (reference
    page.py:902-1456 render_as_image): bitmap-resource placeholders, shape
    polygons/segments with their own stroking/filling colors, widget and
    hyperlink overlays, and text cells as filled polygons or text.

    Deviations: bitmap pixel data is not pasted (PIL-blocked — the
    placeholder polygon is always drawn) and draw_cells_text emits <text>
    elements instead of PIL glyph rasterization."""
    from docling_core_spark.model import page as P

    page_h = P.geometry_height(page.dimension)
    page_w = P.geometry_width(page.dimension)
    body: list[str] = []

    if draw_bitmap_resources:
        for res in page.bitmap_resources:
            tl = P.resource_to_top_left_origin(res, page_h)
            poly = P.rect_to_polygon(tl["rect"])
            body.append(
                _named_rect(poly, bitmap_resources_fill, bitmap_resources_alpha, "bitmap")
            )
    if draw_shapes:
        for shape in page.shapes:
            tl = P.shape_to_top_left_origin(shape, page_h)
            stroke = tl["rgb_stroking"]
            fill = tl["rgb_filling"]
            width = max(1, round(tl["line_width"])) if tl["line_width"] > 0 else max(1, round(shape_width))
            pts = tl["points"]
            if len(pts) >= 3 and tuple(pts[0]) == tuple(pts[-1]):
                p = " ".join(f"{_fmt(x)},{_fmt(y)}" for x, y in pts)
                body.append(
                    f'<polygon class="shape" points="{p}"'
                    f' fill="rgb({fill["r"]},{fill["g"]},{fill["b"]})"'
                    f' stroke="rgb({stroke["r"]},{stroke["g"]},{stroke["b"]})"/>'
                )
            else:
                for (x0, y0), (x1, y1) in P.shape_segments(tl):
                    body.append(
                        f'<line class="shape" x1="{_fmt(x0)}" y1="{_fmt(y0)}"'
                        f' x2="{_fmt(x1)}" y2="{_fmt(y1)}"'
                        f' stroke="rgb({stroke["r"]},{stroke["g"]},{stroke["b"]})"'
                        f' stroke-width="{width}"/>'
                    )
    if draw_widgets:
        for widget in page.widgets:
            tl = P.resource_to_top_left_origin(widget, page_h)
            poly = P.rect_to_polygon(tl["rect"])
            body.append(_named_rect(poly, widgets_fill, widgets_alpha, "widget"))
    if draw_hyperlinks:
        for link in page.hyperlinks:
            tl = P.resource_to_top_left_origin(link, page_h)
            poly = P.rect_to_polygon(tl["rect"])
            body.append(_named_rect(poly, hyperlinks_fill, hyperlinks_alpha, "hyperlink"))
    for cell in page.iterate_cells(cell_unit):
        tl_rect = P.rect_to_top_left_origin(cell["rect"], page_h)
        if draw_cells_text:
            x, y = P.rect_centre(tl_rect)
            body.append(
                f'<text x="{_fmt(x)}" y="{_fmt(y)}" font-size="9"'
                f' text-anchor="middle">{_escape(cell.get("text", ""))}</text>'
            )
        elif draw_cells_bbox:
            poly = P.rect_to_polygon(tl_rect)
            body.append(_named_rect(poly, cell_color, cell_alpha, "cell"))
    return _svg(page_w, page_h, body)


def _iter_pages(doc: Doc) -> Iterator[int]:  # pragma: no cover - convenience
    yield from sorted(_pages(doc))
