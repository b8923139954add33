"""Winnowing fingerprints: the local-match guarantee and edge shapes."""

from __future__ import annotations


def _fps(spark, rows, k=8, w=4):
    from docling_core_spark.operators.textstats import winnowing_fingerprints

    df = spark.createDataFrame(rows, "doc_id long, text string")
    # re-derive the selected hash SETS (not just the digest) for overlap
    # checks: same construction, pre-digest
    out = winnowing_fingerprints(df, k=k, w=w).collect()
    return {r.doc_id: r for r in out}


def test_winnowing_guarantee_shared_run_shares_digest_components(spark):
    from docling_core_spark.operators.textstats import winnowing_fingerprints

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "PREFIX one! " + shared + " SUFFIX one."),
        (2, "totally different lead-in... " + shared + " and another tail"),
        (3, "no overlap here at all, nothing in common whatsoever truly"),
    ]
    out = _fps(spark, rows)
    # guarantee proxy via digests of intersecting SETS is not direct; assert
    # via a pure-python mirror of the selection
    import hashlib

    def select(text, k=8, w=4):
        import re

        t = re.sub(r"[^a-z0-9]", "", text.lower())
        hs = [
            int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(t) - k + 1)
        ]
        if len(hs) >= w:
            sel = {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
        else:
            sel = set(hs)
        return sel

    s1, s2, s3 = (select(r[1]) for r in rows)
    assert s1 & s2, "docs sharing a long run must share a fingerprint"
    assert not (s1 & s3) or len(s1 & s3) < 3
    # and the Spark results agree with the mirror's set sizes/digests
    for doc_id, txt in [(1, rows[0][1]), (2, rows[1][1]), (3, rows[2][1])]:
        sel = select(txt)
        assert out[doc_id].n_selected == len(sel)
        digest = hashlib.md5(
            "|".join(str(x) for x in sorted(sel)).encode()
        ).hexdigest()
        assert out[doc_id].fp_digest == digest


def test_winnowing_short_and_empty_docs(spark):
    out = _fps(
        spark,
        [(1, ""), (2, "ab"), (3, "exactly8!"), (4, "tiny doc under window")],
    )
    assert out[1].n_kgrams == 0 and out[1].n_selected == 0
    assert out[2].n_kgrams == 0  # under k chars after normalization
    assert out[3].n_kgrams == 1 and out[3].n_selected == 1  # "exactly8" = 8 chars
    assert out[4].n_selected >= 1  # short doc: every hash prints


def test_identical_docs_identical_digest(spark):
    out = _fps(spark, [(1, "Same Content Here OK."), (2, "same content here ok")])
    assert out[1].fp_digest == out[2].fp_digest
