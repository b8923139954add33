"""Pins the exact text of every ``oracle_sql()`` string.

The DuckDB oracles are the independent half of each value-hash check, so a
refactor of the SQL builders must leave their output byte-identical.  Each
string is hashed with sha256 after the temp directory (embedded by the
single-process oracles' ``read_parquet`` paths) is replaced by a fixed token.
The digests are for the sf0.01 oracle inputs, whose directory name the
single-process oracle paths also embed.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest

from tests.test_oracle_parity import ORACLES, SF_DIR

pytestmark = [
    pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata not available"),
    pytest.mark.skipif(
        os.path.basename(SF_DIR.rstrip("/")) != "sf0.01",
        reason="digests are pinned for the sf0.01 oracle inputs",
    ),
]

DIGESTS = {
    "bloom_para_dedup": "9906928d9078f6e6f78c1e90669a67313734e8d036f40221c5843db87aee8f86",
    "bpe_tokenize": "2469fb8c0534e8e3aab7815aef73906ce4e0783867769f23dbcf1e1408037fcb",
    "bpe_train": "6b6c935158d216bca5fd8a6757ee3f1c188359fc1449fba9560434bcd641eaab",
    "c4_line_filter": "9bb2c93db8c8b629ed55fff9f711e6431486d6a7c8f90b87a09bc4d2cb5900f5",
    "c4_span_dedup": "8e85d9ef67a0fdfbb114db923c59f621404a32b08e0ef93b38245b65f942be65",
    "code_chunks_c": "ab5a042a071812b98823a6ed07cd73744b69b0d6ea37e0d9281dfff269780d37",
    "code_chunks_java": "16409162706885a8d2c183c376e956983595e44684294d67997405f15d936891",
    "code_chunks_js": "065dcbe8aeca45278b5b4478624860759fd17119321ac5acdc4cbe9d29906230",
    "code_chunks_python": "cd32ac51a9c0e54ac8c4d3cf0bea8612d2e2c60c666e253b2c34e73cbec35034",
    "code_chunks_ts": "a21c4549703a2f0bbd16e783ecdc39ea78fb6984102448ae72033c84d3ca6b62",
    "corpus_prep_pipeline": "cf3fda795ba73ccb9565f64d972e646fb241dc03d37d6edba9fddfb49e8c4629",
    "crawl_prep": "74f9e8dd1e3232f8265a8e59271407d52cb75f36ecfde9119ecc3bbd02ad3157",
    "curation_report": "f6ce61bb590c1967f163e5535b8f5fc47b0524c2247b29114dec711208f491b2",
    "decontaminate": "e95a0a0c7b5d75967ee837457bd3dc3049a3f05a6f66874f8f0f06a71a88bbbf",
    "dedup_against": "72bd8d712e4e0ebcbad422a3ad0e163e3413b2bb2bb4046dfaf2605976967102",
    "dedup_clusters": "db909dd9593c64d790ecf79d8fd387f08c115d56793465ced1dacb75d8da56d3",
    "dedup_exact": "a01aeab6b944cbdfce1444f42a4a7557c48139cb99c6634f8fe7c1d436c82265",
    "dedup_exact_substring": "bce62a1b02ee0cfd2248c2e51458eeb2fb98ce087b7b1866d55e52da667a52e3",
    "dedup_minhash_lsh": "a4f68c21a20077e4ded2f7819b826cb36014437519e35d6c1b821871cc606549",
    "dedup_ngram_jaccard": "29bd7e2be2c9d62db211e942268841bd75c8a156ddb9cb5453c44b605f51db43",
    "dedup_simhash": "c62a956cead148afc1641edc73df6c5a1d0851eca623ad9caadfeea206ba30b0",
    "doc_concatenate_by_lang": "187134ed84a46a38b6bb498079b1cceaaf70052c27a789fc5b995ccaa6bbe9ad",
    "doc_page_chunks": "fcde534e3a066e7fd2d52928be3ce555dc4a72cc88b0665f5d059993e603a594",
    "doc_profile_reference": "979b625b66bac2ac649a07f9e9d43e7ca0c400f1dce58dc1ac28689e244dc43e",
    "doclang_field_kv": "e39727cd09cb3ff43234f143a118e65ac19748c8026c5374d0cfa498aa101fbf",
    "dsir_select": "c0d7baf669ef732a7e3bb251dfb018cd4272346bb66bb6f819e6fdebe2718c85",
    "embedding_cosine_dedup": "7d99621103c6a084075f8866404a0a3577d042c7de6097f4d793425b30ba83d8",
    "extract_chunks": "62c570ff350375bff881f66259291e2a438c424d43b7c222fae8e8d916c71a08",
    "extract_chunks_bpe": "0d66e1711760385e886fcdec3a14040c729e8b933b1e38a0b353c476a936ff19",
    "extract_collection_profile": "6e5640681c0e1f0b73166d0b031d1b97f06883b963c6afed80f76e779fc84713",
    "extract_doc_profile": "a6a4868ee80dbc7dabc2be99f10531e6548902751a0340a2428fda602d88c678",
    "extract_doclang": "c7a08b83d22a5bb45697cd70c5cc4145d3c08cfd7cc84b3859a197487c635b48",
    "extract_doctags": "f49c7c5239fd7c91a312bba7203c4840319783b1ae871344124b3a8b00872dd4",
    "extract_html": "4840545ffd32531a66c13bdba116fb62a1d009f99cc496bbf4826f2ae64460be",
    "extract_markdown": "bfc43ed0baa34023733e875020bed7167149f68bf46837c9c218d55a6d63e1fc",
    "extract_plain_text": "27bf91382f24e48678e5d90fa143d1e8241371364b1c22a826dfa718d006e1a9",
    "fineweb_prep": "eb4de14a88ddc3dca55f4b5a9243c2db3bdf8671a5fb857b63aadda25b35a8d4",
    "fingerprints": "4e35e8283e4a269d8469fb4ba8e5d270f9fe11f18ec9d025b2e97878c6cc4709",
    "gopher_quality_filter": "1e56c8999fc51fdb77ca417c11c1f4755fc5c24aa22f66998e8331d2f28a692f",
    "host_pagerank": "65ae77c0cde126f5144c0b54faa1dc27e0aa4a4608c1f19b669591f6829b12bb",
    "host_quality_stats": "ce6b4685444ff0e1dcf230bd8c4cb8703774816d9f0df1f0a7a7914d99a9ff24",
    "language_id": "66dc69a68e92714d3ef5391695825e910f3782571f4ffd6137353470782111e3",
    "latest_crawl": "98ae92e9d3128cff3aad6135c6b7cba55ca4e58cc40713f734f2b6d6cd3df9a2",
    "lm_perplexity_score": "83eaa1af315ad4f3f794b5f0ecf9f19120ff41f156c7ee1d441f853e688da47f",
    "lm_train": "0222580375853d7e8d70a62bcbc99ebcc2976fb5d32484bdfce7c23a2482f02d",
    "main_content": "52d7c813626dc1583297ab24b5df745e251209ffe62cee5a6cf071458e873f60",
    "media_image_features": "a5dedc40e613e905cf44c000b341f8a2d22f000e22deaf1282ca6d28287ec999",
    "media_image_metadata": "770a4f50569b6ba69e541fe479a3c0e3a1ab289eacceba7c544ca369a731ffba",
    "media_video_frames": "78d290a6330f40fbf34309a53b13c79347fe9368fd6a8752d314894615597330",
    "mix_corpora": "e97c999c75d642938855c6924a2e490ca99626cde67293b008b18990a9bd1499",
    "near_dedup_corpus": "dae7853ec27bb8b0c78dc1e3bf253c0b957979e17b9242ed9c4549c33e236ac5",
    "outlink_edges": "0a3accfcf6137a4dcf3552843304d598c07cd2ce32564df038b08c6a5e911923",
    "pack_sequences": "44b834467837b4b287c70f3d5cff4f7e0b51a90768f5b80dfefc082189912644",
    "pdf_extract": "0ae31308f389d872f38f069c9740a09efac817fc380eb0eb18ade97c45c59089",
    "pdf_markdown": "9e4a60bfb3b997063a159dc760c844c76b99b85c6fd57adb94884ffe92f04ca1",
    "pii_redact": "a59c4b46d00bbb6e769ab20f450cce33b6f2a8550780732429581da7acbf1274",
    "profile_by_lang": "a744c0c6fbd54d51c3964c09ed998b98b186c978fc57cea1bb861ce692848f58",
    "profile_collection_stats": "4625b03ebdbd073f448ff901d825e987c5ac90bf7412a5c438940074ed5a241e",
    "profile_collection_stats_approx": "d2c23e344a6678b80e7a49b80f00a844b54b292ef0d75b7377e1de5a92136202",
    "profile_histogram_chars": "df94d37222f1b43fb18142ee906ba76b44fe9f0cb34daec47fd9e2f97e2c9c78",
    "quality_classifier_score": "496e4feb508716787bb5a261c652a05ecdd13dd19b882a3b3a1a149fa207e63a",
    "quality_classifier_train": "cb6a6062bc82bdcfcf51d27ddbefb2e44415a6a3d0abca60018e20da1400dede",
    "quality_scores": "8ee562a92f60641ca520e9aa9a1b4f1942d63616af586a85c75c41fada7c34db",
    "rel_events_hourly": "2e72ca5dfc0b2db31206df0f6e516783964bad4094c8e65f8d29ec4c9cfeb4f0",
    "rel_pricing_summary": "e0310a21063902bd8d7dff294ef7757d26dd6dd1338e8901c9a8e7a2561fb02c",
    "rel_top_customers": "695333d48d4215ad2d8f3e5159c7d3d67e72f6290bf3068ea3c3b4a57e986387",
    "repetition_scores": "8408d0218be36985e59543b115b043482a100cc10f6d8d3dad07382c4f137d96",
    "robots_filter": "759f8160ffa6c370bc4f2a101355db356fcad7731844c4904fe8369765eb65c6",
    "sample_hash_10pct": "357f76cfc752555f9ddbe2d97471f39b2879d85557e3777cd0093acc182b2720",
    "semdedup": "4d2fb183c7e77f80a29719dba91b99dd2297cb38307caf81c9a683ec41690723",
    "similarity_ann_lsh": "fc066a43dd2d02cf98924bf082a02f3d430514b3ecd89c2d89014f703fcc7386",
    "similarity_cosine_topk": "e57e8c86ed1591809dddc00fcaf03a0cf6300f9df0d8b1db7d4e2824ddacc5e3",
    "similarity_ivf_kmeans": "2b60740e6da22f01905d3c5dd101c8357b875677c19eb20d463b0490108c13c3",
    "similarity_ivf_topk": "9685cc6e7190ca1edd75e7eec18af71792346939d27ea10ceda9559f6f3926e6",
    "sitemap_ingest": "5f5bc55ca1bc221769317084abb29214d28c7d219d8e19a34943e43ef672cd41",
    "text_clean": "63ad4a967288c601a37c4602ac1e3cb103b51060e584745dac8b10eac4de07b9",
    "token_counts": "ebfc72ca71b1c3d796e3eafc842f0cdc988f747b2163bc9e18caee59f710350e",
    "url_filter": "98371e7e180e2bf947d29c3eaab2933672ed602093a7ef6cd8cbf7e27762e8ef",
    "url_normalized": "1d0671011d337e8e3c0c16008d47baf2a2bf1ba76b015857112ffa38a66053d9",
    "visualize_svg": "f40ad5d4864ce47beacc79f96e899102d13e6924f8a9577b6485f0e8679b8f83",
    "warc_ingest": "532781ee606f7a09446e8aa02f9cb6d00910be8ad6d2f0d35d430955e2dbde6d",
    "winnowing_fingerprints": "d28d7753789c50d7fe1433bfe406de1d4b6b0b375a6cf52c722ce39d539b9344",
}


@pytest.fixture(scope="module")
def oracle_text():
    tmp = tempfile.gettempdir()
    return {k: v.replace(tmp, "<TMP>") for k, v in ORACLES.items()}


def test_oracle_names_pinned(oracle_text):
    assert sorted(oracle_text) == sorted(DIGESTS)


@pytest.mark.parametrize("name", sorted(DIGESTS))
def test_oracle_sql_text_unchanged(oracle_text, name):
    digest = hashlib.sha256(oracle_text[name].encode()).hexdigest()
    assert digest == DIGESTS[name], f"{name}: oracle SQL text changed"
