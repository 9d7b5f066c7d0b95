"""Round-2 regression tests: VERDICT r1 next-steps + ADVICE r1 fixes.

Covers: candidate-only Jaccard verification (no all-pairs join, no global
sort), the md5-keyed hash family, multi-probe ANN recall, the
feature-histogram projection, degenerate-document verdicts, and the
O(n²)-guard on the exact cosine oracle.
"""

import pandas as pd
import pytest

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ----------------------------------------------------------- dedup scale --

def test_dedup_corpus_plan_has_no_all_pairs_join(spark):
    """VERDICT r1 'What's wrong' #2: the composite dedup must not pay the
    all-pairs Jaccard cost nor a global sort. Every join is equality-keyed
    (hash or broadcast), and nothing range-partitions (= global orderBy)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import deduplicate_corpus

    plan = plan_of(deduplicate_corpus(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "rangepartitioning" not in plan
    assert "GlobalLimit" not in plan


@pytest.mark.parametrize("max_shingle_df", [None, 3])
def test_candidate_jaccard_matches_all_pairs_on_candidates(spark, max_shingle_df):
    """The candidate-restricted Jaccard over the doc-array relation must
    equal the all-pairs Jaccard on every candidate pair (same intersection
    /size math, different join shape) — also under a df cap that actually
    drops shingles (cap 3 removes pairs at sf0.001)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        _jaccard,
        _shingle_overlap,
        candidate_jaccard,
        minhash_doc_arrays,
        minhash_lsh_candidates_from,
        minhash_signatures_arr,
        shingle_table,
    )

    base = minhash_doc_arrays(spark, SF_SMALL).cache()
    cands = minhash_lsh_candidates_from(minhash_signatures_arr(base))
    by_cand = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in candidate_jaccard(cands, base, max_shingle_df=max_shingle_df).collect()
    }
    all_pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in _shingle_overlap(shingle_table(spark, SF_SMALL), max_shingle_df)
        .select(
            "id1", "id2", _jaccard(F.col("n_common"), F.col("n_sh1"), F.col("n_sh2"))
            .alias("jaccard")
        )
        .collect()
    }
    cand_keys = {(r["id1"], r["id2"]) for r in cands.collect()}
    base.unpersist()
    assert by_cand
    for key in cand_keys:
        assert by_cand.get(key) == all_pairs.get(key), key


def test_lsh_bucket_stats_shape(spark):
    from sbb_ocr_postcorrection_spark.operators.dedup import lsh_bucket_stats

    rows = {r["band"]: r for r in lsh_bucket_stats(spark, SF_SMALL).collect()}
    assert sorted(rows) == [0, 1, 2, 3]
    for r in rows.values():
        assert r["n_buckets"] >= 1
        assert r["max_bucket"] >= 1
        assert r["n_capped"] == 0  # toy scale: the default cap never bites


def test_simhash_rotations_superset_of_single(spark):
    """Rotation 0 IS the single-prefix bucketing, so the multi-probe union
    must contain every single-probe pair."""
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        simhash_bucket_pairs,
        simhash_rotation_pairs,
    )

    single = {(r["id1"], r["id2"]) for r in simhash_bucket_pairs(spark, SF_SMALL).collect()}
    multi = {(r["id1"], r["id2"]) for r in simhash_rotation_pairs(spark, SF_SMALL).collect()}
    assert single <= multi


def test_embedding_cosine_guard_refuses_large_input(spark, monkeypatch):
    from sbb_ocr_postcorrection_spark.operators import dedup

    monkeypatch.setattr(dedup, "COSINE_MAX_ROWS", 1)
    with pytest.raises(ValueError, match="lsh_bucketed_topk"):
        dedup.embedding_cosine_pairs(spark, SF_SMALL)


# ------------------------------------------------------------------- ann --

def test_multiprobe_recall_at_least_single_probe(spark, monkeypatch):
    """Hamming-1 multi-probe explores a superset of the single bucket, so
    per-probe recall vs brute force can only improve."""
    from sbb_ocr_postcorrection_spark.operators import similarity as S
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
        lsh_multiprobe_topk,
    )

    monkeypatch.setattr(S, "ANN_K", S.LSH_K)  # exact top-k at the LSH depth
    exact = {}
    for r in brute_force_topk(spark, SF).collect():
        exact.setdefault(r["probe_id"], set()).add(r["cand_id"])
    single = {}
    for r in lsh_bucketed_topk(spark, SF).collect():
        single.setdefault(r["probe_id"], set()).add(r["cand_id"])
    multi = {}
    for r in lsh_multiprobe_topk(spark, SF).collect():
        multi.setdefault(r["probe_id"], set()).add(r["cand_id"])

    def recall(approx):
        hits = sum(len(exact[p] & approx.get(p, set())) for p in exact)
        return hits / sum(len(v) for v in exact.values())

    assert recall(multi) >= recall(single)
    assert recall(multi) > 0


# ------------------------------------------------------------ multimodal --

def test_feature_components_consistent_with_embeddings(spark):
    """embedding[dim] must equal cnt/n_bytes (float32) — the two kernel
    projections are the same histogram."""
    import numpy as np

    from oracles import feature_embeddings
    from sbb_ocr_postcorrection_spark.operators.multimodal import feature_components

    comp = feature_components(spark, SF_SMALL).collect()
    embs = {r["doc_id"]: r["embedding"] for r in feature_embeddings(spark, SF_SMALL).collect()}
    assert comp
    for r in comp:
        expect = np.float32(r["cnt"] / max(r["n_bytes"], 1))
        assert embs[r["doc_id"]][r["dim"]] == pytest.approx(float(expect), abs=1e-7)


# --------------------------------------------------- degenerate documents --

@pytest.fixture()
def docs_with_empty(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["hello world foo bar baz qux quux corge grault",
                     "", "   "],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [46, 0, 3],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_split_roundtrip_keeps_empty_docs(spark, docs_with_empty):
    """ADVICE r1 #3: empty docs must appear with an explicit verdict, not
    vanish at posexplode."""
    from sbb_ocr_postcorrection_spark.operators.lines import split_roundtrip

    rows = {r["parent_id"]: r for r in split_roundtrip(spark, docs_with_empty).collect()}
    assert sorted(rows) == [0, 1, 2]
    assert all(r["roundtrip_ok"] == 1 for r in rows.values())
    assert rows[1]["n_parts"] == 1  # the empty sentinel part


def test_pdf_layout_keeps_empty_docs(spark, docs_with_empty):
    """ADVICE r1 #3 (pdf flavor): empty docs get an explicit row with
    n_lines=0/n_pages=0 and a PASSING roundtrip ('' == '')."""
    from sbb_ocr_postcorrection_spark.operators.pdf_layout import pdf_layout_query

    rows = {r["url"]: r for r in pdf_layout_query(spark, docs_with_empty).collect()}
    assert sorted(rows) == ["pdf://doc/0", "pdf://doc/1", "pdf://doc/2"]
    assert all(r["roundtrip_ok"] == 1 for r in rows.values())
    assert rows["pdf://doc/1"]["n_lines"] == 0
    assert rows["pdf://doc/1"]["n_pages"] == 0
    assert rows["pdf://doc/0"]["n_lines"] == 2  # 9 tokens / 8 per line
    assert rows["pdf://doc/0"]["n_pages"] == 2


def test_pdf_synthesis_kernel_runs_once(spark):
    """VERDICT r1 'What's wrong' #4: the pdfs branch is persisted, so the
    (Python) synthesis kernel executes once per doc, not twice. Proxy: the
    optimized plan contains an InMemoryRelation for the pdfs subtree."""
    from sbb_ocr_postcorrection_spark.operators.pdf_layout import pdf_layout_query

    df = pdf_layout_query(spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    df.unpersist()  # no-op on the result; cache cleanup happens at session end


# -------------------------------------------------------------------- mets --

def test_mets_parse_roundtrip_and_classification():
    """The ElementTree walk must classify typed OCR-D links vs bare-digit
    image IDs exactly like the reference (xml_parser.py:270-283)."""
    from sbb_ocr_postcorrection_spark.operators.mets import (
        make_mets,
        parse_mets_links,
    )

    xml = make_mets("src_a", [5, 2])
    rows = parse_mets_links(xml)
    assert ("PHYS_000002", "OCR", 7) in rows
    assert ("PHYS_000002", "GT", 8) in rows
    assert ("PHYS_000002", "IMG", 9) in rows
    assert ("PHYS_000005", "OCR", 16) in rows
    assert len(rows) == 6  # sorted, 3 links per div


def test_mets_parse_tolerates_junk_children():
    from sbb_ocr_postcorrection_spark.operators.mets import parse_mets_links

    xml = (
        '<?xml version="1.0"?>'
        '<mets:mets xmlns:mets="http://www.loc.gov/METS/">'
        '<mets:structMap><mets:div ID="PHYS_1">'
        '<mets:fptr FILEID="OCR-D-OCR_4"/>'
        '<mets:fptr FILEID="no-digits-here"/>'
        '<mets:fptr/>'
        "</mets:div><mets:div><mets:fptr FILEID='7'/></mets:div>"
        "</mets:structMap></mets:mets>"
    )
    rows = parse_mets_links(xml)
    # unparseable children skipped; div without ID skipped entirely
    assert rows == [("PHYS_1", "OCR", 4)]


def test_mets_escapes_source_attribute():
    from sbb_ocr_postcorrection_spark.operators.mets import (
        make_mets,
        parse_mets_links,
    )

    xml = make_mets('we&ird<"src>', [1])
    rows = parse_mets_links(xml)  # must not raise ParseError
    assert rows == [
        ("PHYS_000001", "OCR", 4),
        ("PHYS_000001", "GT", 5),
        ("PHYS_000001", "IMG", 6),
    ]


def test_persist_slot_unpersists_previous(spark):
    from sbb_ocr_postcorrection_spark.operators.relational import (
        _PERSIST_SLOTS,
        persist_slot,
    )

    a = persist_slot("t_slot", spark.range(10))
    a.count()
    assert a.storageLevel.useMemory
    b = persist_slot("t_slot", spark.range(20))
    b.count()
    # previous occupant evicted, new one cached, exactly one slot entry
    assert not a.storageLevel.useMemory
    assert b.storageLevel.useMemory
    assert _PERSIST_SLOTS["t_slot"] is b
    b.unpersist()
    del _PERSIST_SLOTS["t_slot"]


def _hot_bucket_docs(spark, d):
    """30 identical docs (they share EVERY band and SimHash bucket: the
    boilerplate-heavy skew case) plus 5 unique ones, written as the
    documents table under ``d``; returns the C(30,2) hot pairs."""
    base = ("the quick brown fox jumps over the lazy dog near the old "
            "river bank while birds sing in tall green trees")
    texts = [base] * 30 + [
        f"unique document number {i} with its own words about topic {i}"
        for i in range(5)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return {(i, j) for i in range(30) for j in range(i + 1, 30)}


def test_lsh_on_hot_bucket(spark, tmp_path):
    """Skew stress for the band-bucket self-join: all C(30,2) pairs of the
    hot bucket are candidates, a cap of 29 drops every bucket holding the
    30 identical docs, and a cap of 30 keeps everything (boundary: <=)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        minhash_lsh_candidates_from,
        minhash_signatures,
    )

    d = str(tmp_path)
    hot = _hot_bucket_docs(spark, d)

    def pairs(max_bucket_size=None):
        sig = minhash_signatures(spark, d)
        return {
            (r["id1"], r["id2"])
            for r in minhash_lsh_candidates_from(sig, max_bucket_size).collect()
        }

    plain = pairs()
    assert hot <= plain
    assert not (hot & pairs(max_bucket_size=29))  # the hot cluster is gone
    assert pairs(max_bucket_size=30) == plain


def test_simhash_rotations_on_hot_bucket(spark, tmp_path):
    """The same 30 identical docs share every rotation's SimHash bucket:
    each C(30,2) pair appears once (distinct across rotations)."""
    from sbb_ocr_postcorrection_spark.operators.dedup import simhash_rotation_pairs

    d = str(tmp_path)
    hot = _hot_bucket_docs(spark, d)
    rows = [(r["id1"], r["id2"]) for r in simhash_rotation_pairs(spark, d).collect()]
    assert len(rows) == len(set(rows))
    assert hot <= set(rows)
    assert all(i < j for i, j in rows)


def test_quantization_error_bound(spark):
    """Symmetric int8 quantization: per-vector max reconstruction error is
    bounded by one quantization step (scale/127) and codes stay in int8
    range."""
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        quantize_embeddings,
    )

    rows = quantize_embeddings(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert -127 <= r["q_min"] <= r["q_max"] <= 127
        if r["scale"] > 0:
            assert r["max_abs_err"] <= r["scale"] / 127 + 1e-9, r
