"""Tree mutation ops: insert/append/delete/replace (T6), hierarchize/flatten (T7).

Semantics follow the reference (document.py:802-1325, 2245-2947): inserted
items append to their typed array (stable end-of-array cref) and splice into
the parent's children at the sibling position; deletion removes whole
subtrees and compacts every ref through a per-array delta lookup.
"""

from __future__ import annotations

from typing import Iterator, Optional

from docling_core_spark.model import doc as M
from docling_core_spark.model.doc import Doc

_FLOATING_ARRAYS = ("tables", "pictures", "key_value_items", "form_items")


def _children(item: dict) -> list:
    return item.setdefault("children", [])


def insert_sibling(doc: Doc, item: dict, array: str, sibling: dict, after: bool = True) -> dict:
    """Insert a new item next to a sibling (reference insert_item_*_sibling)."""
    if sibling is doc.body or sibling["self_ref"] == "#/body":
        raise ValueError("cannot insert a sibling of the document body")
    parent = doc.parent_of(sibling)
    if parent is None:
        raise ValueError(f"sibling {sibling['self_ref']} has no parent")
    arr = getattr(doc, array)
    cref = f"#/{array}/{len(arr)}"
    item["self_ref"] = cref
    item["parent"] = {"$ref": parent["self_ref"]}
    item.setdefault("children", [])
    item.setdefault("content_layer", "body")
    arr.append(item)
    kids = _children(parent)
    idx = next(i for i, r in enumerate(kids) if r["$ref"] == sibling["self_ref"])
    kids.insert(idx + (1 if after else 0), {"$ref": cref})
    return item


def append_child(doc: Doc, item: dict, array: str, parent: Optional[dict] = None) -> dict:
    """Append a new leaf item under a parent (reference append_child_item)."""
    if item.get("children"):
        raise ValueError("cannot append an item that already has children")
    return doc._attach(array, item, parent)


def _iter_with_stack(doc: Doc, node: dict, stack: tuple = ()) -> Iterator[tuple[dict, tuple]]:
    yield node, stack
    for i, ref in enumerate(node.get("children", ())):
        yield from _iter_with_stack(doc, doc.resolve(ref["$ref"]), stack + (i,))


def delete_items(doc: Doc, items: list[dict]) -> None:
    """Delete items and their subtrees; compact and rewrite all refs."""
    target_refs = {it["self_ref"] for it in items}
    to_delete: dict[tuple, str] = {}
    for item, stack in _iter_with_stack(doc, doc.body):
        if item["self_ref"] in target_refs:
            to_delete[stack] = item["self_ref"]
        else:
            for i in range(len(stack) - 1):
                if stack[: i + 1] in to_delete:
                    to_delete[stack] = item["self_ref"]
                    break
    if len({r for r in to_delete.values() if r in target_refs}) < len(target_refs):
        raise ValueError(f"Cannot find all provided refs in doc: {sorted(target_refs)}")

    # detach from parents' children, deepest-last first
    for stack in sorted(to_delete, reverse=True):
        if not stack:
            continue
        parent = doc.body
        for i in stack[:-1]:
            parent = doc.resolve(parent["children"][i]["$ref"])
        del parent["children"][stack[-1]]

    # per-array deletion lookup
    lookup: dict[str, dict[int, int]] = {}
    deleted_crefs = set(to_delete.values())
    for cref in deleted_crefs:
        parts = cref.split("/")
        if len(parts) == 3:
            lookup.setdefault(parts[1], {})[int(parts[2])] = -1
    for array, idxs in lookup.items():
        arr = getattr(doc, array)
        for idx in sorted(idxs, reverse=True):
            del arr[idx]

    def remap(cref: str) -> str:
        parts = cref.split("/")
        if len(parts) != 3 or parts[1] not in lookup:
            return cref
        idx = int(parts[2])
        delta = sum(v for k, v in lookup[parts[1]].items() if idx >= k)
        return f"#/{parts[1]}/{idx + delta}"

    def remap_reflist(refs: list) -> list:
        return [{"$ref": remap(r["$ref"])} for r in refs if r["$ref"] not in deleted_crefs]

    def update(node: dict) -> None:
        for fld in ("captions", "references", "footnotes"):
            if fld in node:
                node[fld] = remap_reflist(node[fld])
        if "comments" in node:
            # fine refs keep their extra keys (range spans)
            node["comments"] = [
                {**r, "$ref": remap(r["$ref"])}
                for r in node["comments"]
                if r["$ref"] not in deleted_crefs
            ]
        if M.is_table_item(node):
            for cell in (node.get("data") or {}).get("table_cells", ()):
                ref = cell.get("ref")
                if ref:
                    if isinstance(ref, dict):
                        ref["$ref"] = remap(ref["$ref"])
                    else:
                        cell["ref"] = remap(ref)
        if node.get("parent"):
            node["parent"] = {"$ref": remap(node["parent"]["$ref"])}
        if node.get("self_ref"):
            node["self_ref"] = remap(node["self_ref"])
        node["children"] = remap_reflist(node.get("children", []))
        for ref in node["children"]:
            update(doc.resolve(ref["$ref"]))

    update(doc.body)


def replace_item(doc: Doc, old_item: dict, new_item: dict, array: str) -> dict:
    """Replace old with new (insert after + delete; reference replace_item)."""
    insert_sibling(doc, new_item, array, old_item, after=True)
    delete_items(doc, [old_item])
    return new_item


def _move_subtree(doc: Doc, item: dict, new_parent: dict) -> None:
    old_parent = doc.parent_of(item)
    if old_parent is not None:
        old_parent["children"] = [
            r for r in old_parent.get("children", []) if r["$ref"] != item["self_ref"]
        ]
    item["parent"] = {"$ref": new_parent["self_ref"]}
    _children(new_parent).append({"$ref": item["self_ref"]})


def _heading_level(item: dict) -> Optional[int]:
    lbl = item.get("label")
    if lbl == M.TITLE:
        return 0
    if lbl == M.SECTION_HEADER:
        return item.get("level", 1)
    return None


def hierarchize(doc: Doc) -> Doc:
    """Nest items under their preceding headings by level (reference _hierarchize)."""
    roots: dict[int, dict] = {-1: doc.body}
    order = [it for it, _ in doc.iterate_items(
        with_groups=True, traverse_pictures=True, included_content_layers=M.CONTENT_LAYERS
    ) if it is not doc.body]
    for item in order:
        # skip descendants of floating items (structural parent-child)
        cur = item
        floating = False
        while cur.get("parent"):
            parent = doc.resolve(cur["parent"]["$ref"])
            if M.ref_array(parent["self_ref"]) in _FLOATING_ARRAYS:
                floating = True
                break
            cur = parent
        if floating:
            continue
        lvl = _heading_level(item)
        target_level = max(k for k in roots if lvl is None or k < lvl)
        target = roots[target_level]

        def _is_descendant_of(node: dict, root: dict) -> bool:
            cur = node
            while cur.get("parent"):
                cur = doc.resolve(cur["parent"]["$ref"])
                if cur is root:
                    return True
            return root is doc.body and node.get("parent") is None

        if item is not target and not _is_descendant_of(item, target):
            _move_subtree(doc, item, target)
        if lvl is not None:
            for k in [k for k in roots if k >= lvl]:
                del roots[k]
            roots[lvl] = item
    return doc


def flatten(doc: Doc) -> Doc:
    """Undo hierarchize: heading children re-attach after the heading."""
    changed = True
    while changed:
        changed = False
        for item, _ in doc.iterate_items(
            with_groups=True, traverse_pictures=True, included_content_layers=M.CONTENT_LAYERS
        ):
            if _heading_level(item) is None:
                continue
            movable = [
                r for i, r in enumerate(item.get("children", []))
                if not (item.get("text", "") == "" and i == 0
                        and M.is_inline_group(doc.resolve(r["$ref"])))
            ]
            if not movable:
                continue
            parent = doc.parent_of(item) or doc.body
            kids = parent["children"]
            pos = next(i for i, r in enumerate(kids) if r["$ref"] == item["self_ref"])
            for offset, ref in enumerate(movable, start=1):
                child = doc.resolve(ref["$ref"])
                child["parent"] = {"$ref": parent["self_ref"]}
                kids.insert(pos + offset, ref)
            item["children"] = [r for r in item["children"] if r not in movable]
            changed = True
            break
    return doc
