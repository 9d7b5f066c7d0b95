"""deduplicate_corpus keep/drop semantics on a crafted corpus.

The near-dup pair is a 46-word text with ONE word changed: shingle Jaccard
0.875 (≥ the 0.8 threshold) and deterministically recalled by the banded
MinHash on this fixed input (LSH here is a pure function of the text)."""

import pandas as pd
import pytest

from sbb_ocr_postcorrection_spark.operators import dedup as D
from sbb_ocr_postcorrection_spark.operators.dedup import deduplicate_corpus

BASE = ("the quick brown fox jumps over the lazy dog near the old river "
        "bank while birds sing in the tall green trees above and clouds "
        "drift slowly across the wide blue summer sky as children play "
        "games on the warm soft grass beside the quiet stone bridge")


@pytest.fixture()
def crafted_docs(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4, 5],
            "text": [
                BASE,                                # keeper of exact group
                BASE,                                # exact dup of 0
                BASE.replace("lazy", "sleepy"),      # near dup (J = 0.875)
                "completely different words about spark engines and parquet "
                "files flowing through distributed shuffle stages tonight",
                BASE,                                # exact dup of 0
                "another unrelated document with its own vocabulary talking "
                "about ocean tides and lunar cycles in winter evenings",
            ],
            "lang": ["en"] * 6,
            "source": ["s"] * 6,
            "n_chars": [len(BASE)] * 3 + [100, len(BASE), 100],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_keep_rules(spark, crafted_docs):
    rows = {r["doc_id"]: r for r in deduplicate_corpus(spark, crafted_docs).collect()}
    assert rows[0]["keep"] == 1 and rows[0]["drop_reason"] == "kept"
    assert rows[1]["keep"] == 0 and rows[1]["drop_reason"] == "exact_dup"
    assert rows[4]["keep"] == 0 and rows[4]["drop_reason"] == "exact_dup"
    # near dup: one changed word in 46 → J=0.875 ≥ 0.8 → dropped
    assert rows[2]["keep"] == 0 and rows[2]["drop_reason"] == "near_dup"
    # distinct docs survive
    assert rows[3]["keep"] == 1
    assert rows[5]["keep"] == 1
    kept = sorted(i for i, r in rows.items() if r["keep"] == 1)
    assert kept == [0, 3, 5]


def test_threshold_spares_weaker_matches(spark, crafted_docs, monkeypatch):
    # raising the bar above 0.875 keeps the near-dup
    monkeypatch.setattr(D, "NEAR_DUP_JACCARD", 0.9)
    rows = {r["doc_id"]: r for r in deduplicate_corpus(spark, crafted_docs).collect()}
    assert rows[2]["keep"] == 1
    assert rows[1]["keep"] == 0  # exact dups unaffected by the threshold


# ----- connected components (operators/components.py) -----

from sbb_ocr_postcorrection_spark.operators.components import (  # noqa: E402
    connected_components,
    duplicate_components,
)


def test_connected_components_toy(spark):
    # chain 1-2-3-4, pair 10-11, self-loop 5 (ignored), triangle 20-21-22
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (11, 10), (5, 5), (20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )
    res = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert res == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-id canonical labels
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_connected_components_skewed_celebrity_graph(spark, monkeypatch):
    """Skew stress (VERDICT r2 next-step #7): one celebrity node with a
    10^4-edge star plus several 256-node chains. Assertions pin the two
    scale properties the algorithm exists for: convergence stays O(log n)
    rounds (MAX_ROUNDS=15 would RAISE if the celebrity degraded it — a
    chain of 256 alone needs ~8), and no stage materializes a neighbor
    list (no collect_list/collect_set in the plan — the window-min shape
    is what keeps a 10^7-degree node from becoming one giant array row).
    Correctness is cross-checked against driver-side union-find."""
    star_n = 10_000
    edges = [(0, i) for i in range(1, star_n + 1)]
    chain_nodes = []
    for c in range(4):
        base = 1_000_000 * (c + 1)
        chain_nodes.extend(base + i for i in range(256))
        edges.extend((base + i, base + i + 1) for i in range(255))
    # tie chain 0 into the star so the celebrity component also has depth
    edges.append((star_n // 2, 1_000_000))
    df = spark.createDataFrame(edges, "src long, dst long").repartition(8)

    from sbb_ocr_postcorrection_spark.operators import components as C

    lg = C._large_star(df)
    plan = lg._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "collect_set" not in plan

    monkeypatch.setattr(C, "MAX_ROUNDS", 15)
    res = {
        r["node"]: r["component"]
        for r in C.connected_components(df).collect()
    }
    nodes = set(range(star_n + 1)) | set(chain_nodes)
    expected = _union_find_components(edges, nodes)
    assert res == expected
    # every star member + chain 0 landed in component 0; other chains kept
    # their own min id
    assert res[1_000_000 + 255] == 0
    assert res[2_000_000 + 255] == 2_000_000


def test_duplicate_components_match_union_find(spark):
    sf = "/root/testdata/sf0.001"
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        candidate_jaccard,
        exact_groups,
        minhash_doc_arrays,
        minhash_lsh_candidates_from,
        minhash_signatures_arr,
    )
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf}/documents.parquet")
    doc_ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    exact_edges = [
        (r["doc_id"], r["keeper_id"])
        for r in d.select("doc_id", F.md5("text").alias("content_hash"))
        .join(exact_groups(spark, sf), "content_hash")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .collect()
    ]
    base = minhash_doc_arrays(spark, sf)
    near_edges = [
        (r["id1"], r["id2"])
        for r in candidate_jaccard(
            minhash_lsh_candidates_from(
                minhash_signatures_arr(base), max_bucket_size=D.MAX_BUCKET_SIZE
            ),
            base,
            max_shingle_df=D.MAX_SHINGLE_DF,
        )
        .filter(F.col("jaccard") >= D.NEAR_DUP_JACCARD)
        .collect()
    ]
    expected = _union_find_components(exact_edges + near_edges, doc_ids)
    got = {
        r["doc_id"]: (r["component_id"], r["component_size"])
        for r in duplicate_components(spark, sf).collect()
    }
    assert set(got) == set(expected)
    sizes = {}
    for n, c in expected.items():
        sizes[c] = sizes.get(c, 0) + 1
    for n in expected:
        assert got[n] == (expected[n], sizes[expected[n]]), n
    # the graph must be non-trivial for this test to mean anything
    assert any(s > 1 for _c, s in got.values())


# ----- extended curation pipeline (contamination + LM stages) -----


def test_curation_new_stages_fire(spark, tmp_path):
    """Every branch of the extended verdict fires on a crafted corpus:
    exact_dup beats contamination; a heavy-overlap non-dup is
    'contaminated'; a corpus-unique token triggers 'lm_rare_tokens';
    a clean page on a majority-junk host is 'bad_host' (while the junk
    neighbors keep their own 'lang_filtered' — a doc's own gate beats the
    host verdict); reordered pool docs are 'kept'."""
    from sbb_ocr_postcorrection_spark.operators.curation import curate_corpus

    pool = ("the river stone light green tree bird song wind cloud rain "
            "field morning water and sun moon star lake hill").split()
    A = " ".join(pool)                                   # doc 0: benchmark
    run12 = " ".join(pool[:12])                          # 12-token run of A
    tail8 = "lake sun water moon and star hill morning"
    # two token-disjoint junk texts (shared shingles would make them
    # near-dups of each other, and dedup precedes the language gate)
    junk_a = "zzz qqq xxx vvv kkk jjj wwz uuz ttz ssz"   # no stopwords
    junk_b = "yyp ppq rrx nnv mmk llj wwq uux ttv ssw"   # no stopwords
    docs = {
        0: A,                                            # benchmark, kept
        1: run12 + " " + tail8,                          # contaminated
        2: "and the water sun moon star lake hill morning rain zzzuniq "
           "cloud wind song bird tree green light stone river",  # lm_rare
        3: A,                                            # exact_dup of 0
        # host 4 = docs {4, 11, 18}: doc 4 is clean but its two neighbors
        # fail the language gate → host rate 1/3 < threshold → bad_host
        4: "green tree the bird and song water cloud rain wind field "
           "morning star moon sun lake hill river stone light",
        11: junk_a,                                      # lang_filtered
        18: junk_b,                                      # lang_filtered
        5: "hill lake star the moon sun and water morning field wind rain "
           "cloud song bird tree green light river stone",       # kept
    }
    ids = sorted(docs)
    pdf = pd.DataFrame(
        {
            "doc_id": ids,
            "text": [docs[i] for i in ids],
            "lang": ["en"] * len(ids),
            "source": ["s"] * len(ids),
            "n_chars": [len(docs[i]) for i in ids],
        }
    )
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r["reason"] for r in curate_corpus(spark, d).collect()}
    assert got[0] == "kept"          # benchmark doc itself survives
    assert got[3] == "exact_dup"     # duplicate beats contamination
    assert got[1] == "contaminated"  # 12-token run shared, not a near-dup
    assert got[2] == "lm_rare_tokens"
    assert got[4] == "bad_host"      # clean page, majority-junk host
    assert got[11] == "lang_filtered" and got[18] == "lang_filtered"
    assert got[5] == "kept"


def test_passage_dedup_banner_on_every_page(spark):
    """VERDICT r3 #6: total contamination — EVERY document carries the
    boilerplate banner, so the covered-position relation is corpus-sized
    (one reason the covered join deliberately carries no broadcast hint;
    a forced broadcast would ship the whole corpus to every executor at
    scale). The banner must be stripped from every document while each
    document's unique tail survives untouched, and the plan must stay
    equality-joined (no cartesian fallback)."""
    from pyspark.sql import functions as F

    from sbb_ocr_postcorrection_spark.operators.lines import (
        PASSAGE_BOILER,
        passage_dedup,
    )

    n = 400
    # banner = exactly 2 lines (6 tokens at 3 tokens/line); tail = 6
    # unique tokens (2 more lines), distinct across documents
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(PASSAGE_BOILER + " "),
            F.format_string(
                "u%da u%db u%dc u%dd u%de u%df",
                *([F.col("id").cast("int")] * 6),
            ),
        ).alias("text"),
    )
    out = passage_dedup(spark, "/root/testdata/sf0.001", docs=docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == n
    for i in range(n):
        r = rows[i]
        assert r["n_lines"] == 4 and r["n_kept"] == 2
        assert r["cleaned_text"] == (
            f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f"
        )


def test_minhash_incremental_matches_in_corpus_candidates(spark):
    """Cross-snapshot probing must surface exactly the in-corpus LSH
    candidate pairs that straddle the parity split, with candidate-only
    Jaccard verdicts consistent with the pair relation."""
    from sbb_ocr_postcorrection_spark.operators.dedup import (
        minhash_incremental,
        minhash_lsh_candidates,
    )

    sf = "/root/testdata/sf0.01"
    cands = {
        tuple(sorted((r["id1"], r["id2"])))
        for r in minhash_lsh_candidates(spark, sf).collect()
    }
    cross = {p for p in cands if (p[0] % 2) != (p[1] % 2)}
    inc = minhash_incremental(spark, sf).collect()
    got = {tuple(sorted((r["batch_id"], r["hist_id"]))) for r in inc}
    assert got == cross
    for r in inc:
        assert r["batch_id"] % 2 == 1 and r["hist_id"] % 2 == 0
        assert 1 <= r["n_band_hits"] <= 4
        assert r["is_dup"] == int(r["jaccard"] >= 0.8)
    # at least one verified near-dup crosses the snapshot boundary
    assert any(r["is_dup"] for r in inc)
