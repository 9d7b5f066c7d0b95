"""Corpus-build chain (§3.1): NW line alignment, band scoring, windows,
rollup stats, stratified split — reference invariants ported as pytest."""

import pytest

from sbb_ocr_postcorrection_spark.align import align_page, score_pair, seq_align
from sbb_ocr_postcorrection_spark.datagen import generate_pages, pages_to_arrow


def test_seq_align_identity():
    lines = ["aaa bbb", "ccc ddd", "eee"]
    assert seq_align(lines, lines) == [(0, 0), (1, 1), (2, 2)]


def test_seq_align_gap():
    ocr = ["aaa bbb", "eee fff"]
    gt = ["aaa bbb", "ccc ddd", "eee fff"]
    pairs = seq_align(ocr, gt)
    assert (0, 0) in pairs and (1, 2) in pairs
    assert (None, 1) in pairs  # missing OCR line = gap


def test_score_pair_band_rule():
    # identical → lev 0 within [0, round(0.1*len)] → similar
    r = score_pair("wasser und licht", "wasser und licht")
    assert r["similarity"] == 1 and r["levenshtein"] == 0
    # one error in 16 chars → allowed = round(1.6) = 2 → still similar
    r = score_pair("wasscr und licht", "wasser und licht")
    assert r["levenshtein"] == 1 and r["similarity"] == 1
    # completely different → dissimilar
    r = score_pair("xxxxxxxxxxxxxxxx", "wasser und licht")
    assert r["similarity"] == 0


def test_align_page_line_ids_sequential():
    rows = align_page(["a b c"], ["a b c", "d e f"])
    assert [r["line_id"] for r in rows] == [0, 1]


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(
        pages_to_arrow(generate_pages(60, seed=23)).to_pandas()
    )


def test_corpus_pipeline_end_to_end(spark, pages_df, monkeypatch):
    from sbb_ocr_postcorrection_spark.operators import alignment

    monkeypatch.setattr(alignment, "CORPUS_LANG", "de")
    stages = alignment.corpus_pipeline(pages_df)
    alignments = stages["alignments"].collect()
    assert alignments
    # schema & invariant parity with the reference's asserts
    for r in alignments:
        assert r["similarity"] in (0, 1)
        assert r["min_dist"] <= r["allowed_dist"]
        assert (r["similarity"] == 1) == (
            r["min_dist"] <= r["levenshtein"] <= r["allowed_dist"]
        )
    # synthetic pages at 12% noise: most lines align & stay in band
    n_sim = sum(r["similarity"] for r in alignments)
    assert n_sim / len(alignments) > 0.5

    # windows: ≤4 tokens per side, at least one side nonempty (windows run
    # over the LONGER stream, so the shorter side may run out), pos from 0
    w = stages["windows"].collect()
    assert w
    assert all(len(r["gt_win"].split()) <= 4 for r in w)
    assert all(len(r["ocr_win"].split()) <= 4 for r in w)
    assert all(r["gt_win"] or r["ocr_win"] for r in w)
    assert min(r["pos"] for r in w) == 0

    # stats rollup: the corpus-total row (doc_id null) equals the sum
    stats = stages["stats"].collect()
    total = [r for r in stats if r["doc_id"] is None]
    per_doc = [r for r in stats if r["doc_id"] is not None]
    assert len(total) == 1
    assert total[0]["n_lines"] == sum(r["n_lines"] for r in per_doc)

    # split: deterministic, partitioned, ~80/10/10
    split = {(r["cer_bucket"], r["split"]): r["n_lines"] for r in stages["split"].collect()}
    n_total = sum(split.values())
    assert n_total == len(alignments)
    n_train = sum(v for (b, s), v in split.items() if s == "train")
    assert 0.6 < n_train / n_total < 0.95


def test_alignments_deterministic(spark, pages_df):
    from sbb_ocr_postcorrection_spark.operators.alignment import build_alignments

    a = sorted(map(tuple, build_alignments(pages_df).collect()))
    b = sorted(map(tuple, build_alignments(pages_df.repartition(5)).collect()))
    assert a == b
