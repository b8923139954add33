"""BoundingBox algebra + regions->table induction (A3/A4).

Dict-bbox equivalents of the reference geometry (types/doc/base.py:54-449)
and ``TableData.from_regions`` (items/table/table_data.py:477-714): map
row/column/merge region boxes onto offset-interval table cells with
overlap-threshold span assignment and header/section semantics.
"""

from __future__ import annotations

from typing import Optional, Sequence


def bbox(l: float, t: float, r: float, b: float, origin: str = "TOPLEFT") -> dict:
    """Construct a bbox dict."""
    return {"l": l, "t": t, "r": r, "b": b, "coord_origin": origin}


def width(bb: dict) -> float:
    """Bbox width."""
    return abs(bb["r"] - bb["l"])


def height(bb: dict) -> float:
    """Bbox height."""
    return abs(bb["b"] - bb["t"])


def area(bb: dict) -> float:
    """Bbox area."""
    return width(bb) * height(bb)


def is_topleft(bb: dict) -> bool:
    """Whether ``bb`` has top-left origin; a missing or null
    ``coord_origin`` means top-left, the schema default."""
    return (bb.get("coord_origin") or "TOPLEFT").upper() != "BOTTOMLEFT"


def to_top_left_tuple(bb: dict, page_h: float) -> tuple[float, float, float, float]:
    """(l, t, r, b) in top-left origin (reference BoundingBox.to_top_left_origin)."""
    if is_topleft(bb):
        return (bb["l"], bb["t"], bb["r"], bb["b"])
    return (bb["l"], page_h - bb["t"], bb["r"], page_h - bb["b"])


def intersection_area(a: dict, b: dict) -> float:
    """Intersection area (reference base.py:161-197)."""
    left, right = max(a["l"], b["l"]), min(a["r"], b["r"])
    if is_topleft(a):
        bottom, top = max(a["t"], b["t"]), min(a["b"], b["b"])
    else:
        top, bottom = min(a["t"], b["t"]), max(a["b"], b["b"])
    w, h = right - left, top - bottom
    if w > 0 and h > 0:
        return w * h
    return 0.0


def iou(a: dict, b: dict) -> float:
    """Intersection over union."""
    inter = intersection_area(a, b)
    union = area(a) + area(b) - inter
    return inter / union if union > 0 else 0.0


def intersection_over_self(a: dict, b: dict) -> float:
    """Fraction of `a` covered by the intersection with `b`."""
    return intersection_area(a, b) / area(a) if area(a) > 0 else 0.0


def intersection_bbox(a: dict, b: dict) -> Optional[dict]:
    """Intersection bbox or None when disjoint."""
    left, right = max(a["l"], b["l"]), min(a["r"], b["r"])
    if is_topleft(a):
        top, bottom = max(a["t"], b["t"]), min(a["b"], b["b"])
        if right <= left or bottom <= top:
            return None
        return bbox(left, top, right, bottom)
    top, bottom = min(a["t"], b["t"]), max(a["b"], b["b"])
    if right <= left or top <= bottom:
        return None
    return bbox(left, top, right, bottom, origin="BOTTOMLEFT")


def enclosing_bbox(boxes: Sequence[dict]) -> Optional[dict]:
    """Smallest bbox covering all boxes (same origin assumed)."""
    if not boxes:
        return None
    tl = is_topleft(boxes[0])
    return {
        "l": min(b["l"] for b in boxes),
        "r": max(b["r"] for b in boxes),
        "t": (min if tl else max)(b["t"] for b in boxes),
        "b": (max if tl else min)(b["b"] for b in boxes),
        "coord_origin": boxes[0].get("coord_origin", "TOPLEFT"),
    }


def dedupe_bboxes(elements: Sequence[dict], iou_threshold: float = 0.9) -> list[dict]:
    """Drop near-duplicate boxes (IoU >= threshold vs any kept one)."""
    kept: list[dict] = []
    for e in elements:
        if all(iou(e, k) < iou_threshold for k in kept):
            kept.append(e)
    return kept


# ---------------------------------------------------------------------------
# from_regions table induction (A4)
# ---------------------------------------------------------------------------


def _headers_for(bb: dict, col_headers, row_headers, row_sections) -> tuple[bool, bool, bool]:
    ch = any(intersection_over_self(bb, h) >= 0.5 for h in col_headers)
    rh = any(intersection_over_self(bb, h) >= 0.5 for h in row_headers)
    rs = any(intersection_over_self(bb, h) >= 0.5 for h in row_sections)
    return ch, rh, rs


def _span_from_merge(m: dict, lines: list[dict], axis: str, frac_threshold: float):
    idxs = []
    best_i, best_len = None, 0.0
    for i, elem in enumerate(lines):
        inter = intersection_bbox(m, elem)
        if not inter:
            continue
        if axis == "row":
            overlap_len, base = height(inter), max(1e-9, height(elem))
        else:
            overlap_len, base = width(inter), max(1e-9, width(elem))
        if overlap_len / base >= frac_threshold:
            idxs.append(i)
        if overlap_len > best_len:
            best_len, best_i = overlap_len, i
    if idxs:
        return min(idxs), max(idxs)
    if best_i is not None and best_len > 0.0:
        return best_i, best_i
    return None


def table_from_regions(
    table_bbox: dict,
    rows: list[dict],
    cols: list[dict],
    merges: list[dict],
    row_headers: Optional[list[dict]] = None,
    col_headers: Optional[list[dict]] = None,
    row_sections: Optional[list[dict]] = None,
    row_overlap_threshold: float = 0.5,
    col_overlap_threshold: float = 0.5,
) -> dict:
    """Induce TableData from layout regions (reference from_regions)."""
    row_headers = row_headers or []
    col_headers = col_headers or []
    row_sections = row_sections or []
    thresh = 0.5
    rows = list(rows) + list(row_sections)  # sections compensate missing rows
    rows = dedupe_bboxes([e for e in rows if intersection_over_self(e, table_bbox) >= thresh])
    cols = dedupe_bboxes([e for e in cols if intersection_over_self(e, table_bbox) >= thresh])
    merges = dedupe_bboxes([e for e in merges if intersection_over_self(e, table_bbox) >= thresh])
    col_headers = dedupe_bboxes([e for e in col_headers if intersection_over_self(e, table_bbox) >= thresh])
    row_headers = dedupe_bboxes([e for e in row_headers if intersection_over_self(e, table_bbox) >= thresh])
    row_sections = dedupe_bboxes([e for e in row_sections if intersection_over_self(e, table_bbox) >= thresh])

    rows.sort(key=lambda r: (r["t"] + r["b"]) / 2.0)
    cols.sort(key=lambda c: (c["l"] + c["r"]) / 2.0)

    cells: list[dict] = []
    covered: set[tuple[int, int]] = set()
    seen_rects: set[tuple] = set()

    def make_cell(sr, er, sc, ec, bb) -> dict:
        ch, rh, rs = _headers_for(bb, col_headers, row_headers, row_sections)
        return {
            "text": "",
            "row_span": er - sr + 1,
            "col_span": ec - sc + 1,
            "start_row_offset_idx": sr,
            "end_row_offset_idx": er + 1,
            "start_col_offset_idx": sc,
            "end_col_offset_idx": ec + 1,
            "bbox": bb,
            "column_header": ch,
            "row_header": rh,
            "row_section": rs,
        }

    for m in merges:
        rspan = _span_from_merge(m, rows, "row", row_overlap_threshold)
        cspan = _span_from_merge(m, cols, "col", col_overlap_threshold)
        if rspan is None or cspan is None:
            continue
        sr, er = rspan
        sc, ec = cspan
        if (sr, er, sc, ec) in seen_rects:
            continue
        seen_rects.add((sr, er, sc, ec))
        grid_bbox = bbox(cols[sc]["l"], rows[sr]["t"], cols[ec]["r"], rows[er]["b"])
        cells.append(make_cell(sr, er, sc, ec, grid_bbox))
        for ri in range(sr, er + 1):
            for ci in range(sc, ec + 1):
                covered.add((ri, ci))

    for ri, row in enumerate(rows):
        for ci, col in enumerate(cols):
            if (ri, ci) in covered:
                continue
            inter = intersection_bbox(row, col)
            if not inter:
                continue
            cells.append(make_cell(ri, ri, ci, ci, inter))

    if not rows or not cols:
        return {
            "table_cells": [
                {
                    "text": "",
                    "row_span": 1,
                    "col_span": 1,
                    "start_row_offset_idx": 0,
                    "end_row_offset_idx": 1,
                    "start_col_offset_idx": 0,
                    "end_col_offset_idx": 1,
                    "bbox": table_bbox,
                    "column_header": False,
                    "row_header": False,
                    "row_section": False,
                }
            ],
            "num_rows": 1,
            "num_cols": 1,
        }
    return {"table_cells": cells, "num_rows": len(rows), "num_cols": len(cols)}
