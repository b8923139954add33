"""filter/concatenate re-indexing invariants (GT inputs not all shipped)."""

from __future__ import annotations

import pytest

from docling_core_spark.functions.serializers import export_to_markdown
from docling_core_spark.model.doc import Doc
from docling_core_spark.model.transform import concatenate, filter_pages

from .conftest import load_doc_json


def _assert_refs_consistent(doc: Doc) -> None:
    seen = set()
    for item, _ in doc.iterate_items(with_groups=True, traverse_pictures=True,
                                     included_content_layers={"body", "furniture", "background", "invisible", "notes"}):
        sr = item["self_ref"]
        assert sr not in seen, f"duplicate ref {sr}"
        seen.add(sr)
        for ref in item.get("children", ()):
            child = doc.resolve(ref["$ref"])
            assert child["parent"]["$ref"] == sr, f"parent mismatch for {ref['$ref']}"
    # array positions must match self_refs
    for arr in ("texts", "tables", "pictures", "groups"):
        for i, it in enumerate(getattr(doc, arr)):
            assert it["self_ref"] == f"#/{arr}/{i}"


def test_filter_identity_preserves_serialization():
    doc = Doc.from_dict(load_doc_json("doc/activities.json"))
    filtered = filter_pages(doc)  # no page filter = pure re-index
    _assert_refs_consistent(filtered)
    assert export_to_markdown(filtered) == export_to_markdown(doc)


def test_filter_single_page():
    doc = Doc.from_dict(load_doc_json("doc/activities.json"))
    p2 = filter_pages(doc, page_nrs={2})
    _assert_refs_consistent(p2)
    # reference semantics: page numbers are preserved (delta keys off the
    # doc's min page, not the filter set)
    assert set(p2.pages) == {"2"}
    for t in p2.texts:
        for prov in t.get("prov", ()):
            assert prov["page_no"] == 2


def test_filter_invalid_page_raises():
    doc = Doc.from_dict(load_doc_json("doc/activities.json"))
    with pytest.raises(ValueError, match="not present"):
        filter_pages(doc, page_nrs={99})


def test_concatenate_shifts_pages_and_reindexes():
    a = Doc.from_dict(load_doc_json("doc/activities.json"))
    b = Doc.from_dict(load_doc_json("doc/barchart.json"))
    merged = concatenate([a, b])
    _assert_refs_consistent(merged)
    assert len(merged.texts) == len(a.texts) + len(b.texts)
    assert len(merged.pages) == len(a.pages) + len(b.pages)
    max_a = max(int(k) for k in a.pages)
    assert set(int(k) for k in merged.pages) == set(range(1, max_a + len(b.pages) + 1))
    # markdown of the merge = markdown of the parts joined
    md_a, md_b = export_to_markdown(a), export_to_markdown(b)
    assert export_to_markdown(merged) == f"{md_a}\n\n{md_b}"


def test_concatenate_squeezes_names():
    a = Doc.from_dict(load_doc_json("doc/activities.json"))
    assert concatenate([a, a, a]).name == a.name


def test_iterate_items_cached_subtree_not_polluted_by_filtered_sibling_children():
    """Yield filters don't prune descent, so a yield-filtered sibling's
    children follow a subtree in the full walk at depth > depth(subtree):
    a subtree walk cached after the full one must not absorb them."""
    doc = Doc(name="t")
    grp = doc.add_group(name="g1")
    doc.add_text("text", "inside-1", parent=grp)
    doc.add_text("text", "inside-2", parent=grp)
    # next sibling of grp: furniture-layer item (filtered from a body-only
    # walk) carrying a BODY-layer child (yielded, at depth > depth(grp))
    filtered_sib = doc.add_text("text", "furniture-parent",
                                content_layer="furniture")
    doc.add_text("text", "alien-body-child", parent=filtered_sib,
                 content_layer="body")

    kw = dict(with_groups=True, traverse_pictures=False,
              included_content_layers={"body"})
    with doc.read_scope():
        full_cached = doc.iterate_items_cached(**kw)
        assert [it["text"] for it, _ in full_cached if "text" in it] == [
            "inside-1", "inside-2", "alien-body-child"]
        got = doc.iterate_items_cached(root=grp, **kw)
        assert doc.iterate_items_cached(root=grp, **kw) is got
    want = list(doc.iterate_items(root=grp, **kw))
    assert [(it["self_ref"], d) for it, d in got] == [
        (it["self_ref"], d) for it, d in want]
    assert all(it.get("text") != "alien-body-child" for it, _ in got)


def test_iterate_items_cached_slice_keeps_filtered_groups_descendants():
    """A cached subtree walk keeps descendants whose direct parent was
    itself yield-filtered (a group under with_groups=False, or a furniture
    node inside the subtree)."""
    doc = Doc(name="t2")
    outer = doc.add_group(name="outer")
    inner = doc.add_group(name="inner", parent=outer)
    doc.add_text("text", "deep", parent=inner)
    furn = doc.add_text("text", "furn-in-subtree", parent=outer,
                        content_layer="furniture")
    doc.add_text("text", "body-under-furn", parent=furn,
                 content_layer="body")
    doc.add_text("text", "tail-sibling")

    for wg in (True, False):
        kw = dict(with_groups=wg, traverse_pictures=False,
                  included_content_layers={"body"})
        with doc.read_scope():
            doc.iterate_items_cached(**kw)
            got = doc.iterate_items_cached(root=outer, **kw)
        want = list(doc.iterate_items(root=outer, **kw))
        assert [(it["self_ref"], d) for it, d in got] == [
            (it["self_ref"], d) for it, d in want], f"with_groups={wg}"


def test_iterate_items_cached_matches_generator_all_flags():
    """iterate_items_cached, inside a read scope and outside one, equals the
    lazy iterate_items generator item-for-item under every flag combo."""
    doc = Doc(name="t3")
    lst = doc.add_list_group(name="list")
    doc.add_list_item("one", parent=lst)
    doc.add_list_item("two", parent=lst)
    cap = doc.add_text("caption", "a caption")
    pic = doc.add_picture(caption=cap)
    doc.add_text("text", "inside the picture", parent=pic)
    # furniture-layer item with a body child: exercises the yield-filter path
    sib = doc.add_text("text", "furn", content_layer="furniture")
    doc.add_text("text", "body-child", parent=sib, content_layer="body")
    for with_groups in (False, True):
        for traverse_pictures in (False, True):
            for layers in (None, {"body"}, {"body", "furniture"}):
                kw = dict(with_groups=with_groups, traverse_pictures=traverse_pictures,
                          included_content_layers=layers)
                want = [(id(it), d) for it, d in doc.iterate_items(**kw)]
                assert [(id(it), d) for it, d in doc.iterate_items_cached(**kw)] == want
                with doc.read_scope():
                    for _ in range(2):
                        got = doc.iterate_items_cached(**kw)
                        assert [(id(it), d) for it, d in got] == want


def test_read_scope_keeps_memos_only_while_open():
    doc = Doc(name="s")
    doc.add_text("text", "a")
    assert doc.iterate_items_cached() is not doc.iterate_items_cached()
    with doc.read_scope():
        first = doc.iterate_items_cached()
        with doc.read_scope():
            assert doc.iterate_items_cached() is first
        assert doc.iterate_items_cached() is first
    assert doc.iterate_items_cached() is not first
