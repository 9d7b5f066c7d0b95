"""Winnowing fingerprints: exact parity with a pure-Python
implementation of the published algorithm, plus the detection guarantee
(any shared substring ≥ k+w−1 chars must produce a match pair)."""

import hashlib
from collections import defaultdict

import duckdb

from sbb_ocr_postcorrection_spark.operators.dedup import (
    QUOTE_ID_BASE,
    QUOTE_MOD,
    QUOTE_SUFFIX,
)
from sbb_ocr_postcorrection_spark.operators.winnow import (
    WIN_K,
    WIN_MAX_DF,
    WIN_MIN_SHARED,
    WIN_W,
    winnow_fingerprints,
    winnow_matches,
)

SF = "/root/testdata/sf0.001"


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _corpus():
    docs = {}
    for doc_id, text in duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall():
        docs[doc_id] = text
        if doc_id % QUOTE_MOD == 0:
            cut = max(len(text) * 2 // 5, 1)
            docs[doc_id + QUOTE_ID_BASE] = text[:cut] + QUOTE_SUFFIX
    return docs


def _ref_fps(text):
    t = (text or "").lower()
    n = len(t)
    if n < WIN_K + WIN_W - 1:
        return set()
    hs = [_h60(t[i : i + WIN_K]) for i in range(n - WIN_K + 1)]
    out = set()
    for s in range(len(hs) - WIN_W + 1):
        win = [(hs[s + j], -(s + j)) for j in range(WIN_W)]
        h, negi = min(win)
        out.add((h, -negi + 1))  # 1-based position
    return out


def test_winnow_fingerprints_match_reference(spark):
    want = {
        (doc_id, h, pos)
        for doc_id, text in _corpus().items()
        for h, pos in _ref_fps(text)
    }
    got = {
        (r["doc_id"], r["fp_hash"], r["pos"])
        for r in winnow_fingerprints(spark, SF).collect()
    }
    assert got == want


def test_winnow_np_twin_non_ascii(spark):
    """The kernel's character-vs-byte branch: multi-byte text (accents,
    combining marks, CJK) must slice by CHARACTERS exactly like Spark's
    substr() and the DuckDB oracle, so the kernel equals the pure-Python
    reference row-for-row."""
    body = (
        "die digitalisierung früher drucke erzeugt zeichenfehler über "
        "länge und straße hinweg — 学术论文的去重检测需要位置鲁棒的指纹 "
        "while plain ascii spans keep the byte fast path honest here "
    )
    rows = [
        (1, body * 3),
        (2, "prefix words éüö " + body * 3 + " suffix tail"),
        (3, "unrelated content entirely" + " filler" * 40),
        (4, None),
        (5, "short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (doc_id, h, pos) for doc_id, text in rows for h, pos in _ref_fps(text)
    }
    knl = {
        (r["doc_id"], r["fp_hash"], r["pos"])
        for r in winnow_fingerprints(spark, SF, docs=docs).collect()
    }
    assert knl == want
    assert want  # non-vacuous: the long docs produce fingerprints


def test_winnow_matches_reference_and_guarantee(spark):
    docs = _corpus()
    fps = {d: {h for h, _ in _ref_fps(t)} for d, t in docs.items()}
    df = defaultdict(int)
    for s in fps.values():
        for h in s:
            df[h] += 1
    keep = {h for h, n in df.items() if n <= WIN_MAX_DF}
    want = {}
    ids = sorted(fps)
    by_h = defaultdict(set)
    for d, s in fps.items():
        for h in s & keep:
            by_h[h].add(d)
    cand = {
        (a, b)
        for members in by_h.values()
        for a in members
        for b in members
        if a < b
    }
    for a, b in cand:
        shared = len(fps[a] & fps[b] & keep)
        if shared >= WIN_MIN_SHARED:
            want[(a, b)] = (
                shared,
                len(fps[a]),
                len(fps[b]),
                round(shared / min(len(fps[a]), len(fps[b])), 6),
            )
    got = {
        (r["id1"], r["id2"]): (
            r["n_shared"],
            r["n_fp1"],
            r["n_fp2"],
            r["overlap"],
        )
        for r in winnow_matches(spark, SF).collect()
    }
    assert got == want
    # detection guarantee: long-enough excerpts MUST be paired with their
    # source (their shared prefix is far beyond k+w-1 chars)
    long_quotes = [
        d
        for d in docs
        if d >= QUOTE_ID_BASE
        and len(docs[d - QUOTE_ID_BASE]) * 2 // 5 >= 3 * (WIN_K + WIN_W - 1)
    ]
    assert long_quotes
    missing = [
        d for d in long_quotes if (d - QUOTE_ID_BASE, d) not in got
    ]
    assert not missing, f"guarantee violated for {missing[:5]}"


def test_passage_retrieval_matches_reference(spark):
    """Top-k retrieval == a pure-Python replay of chunk → feature-hash
    embed → cosine ranking (pinned ties)."""
    import math
    from collections import Counter

    from sbb_ocr_postcorrection_spark.operators.lines import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
    )
    from sbb_ocr_postcorrection_spark.operators.similarity import (
        RAG_DIM,
        RAG_PROBE_MOD,
        RAG_TOP_K,
        passage_retrieval,
    )

    def chunks(text):
        t = [w for w in (text or "").lower().split(" ") if w]
        if not t:
            return []
        n = len(t)
        nw = (max(n - CHUNK_TOKENS, 0) + CHUNK_STRIDE - 1) // CHUNK_STRIDE + 1
        return [
            (k, t[k * CHUNK_STRIDE : k * CHUNK_STRIDE + CHUNK_TOKENS])
            for k in range(nw)
        ]

    def vec(tokens):
        v = Counter()
        for tok in tokens:
            h = _h60(tok)
            v[h % RAG_DIM] += 1 if (h // RAG_DIM) % 2 == 0 else -1
        return {b: s for b, s in v.items() if s}

    probes, cands = {}, {}
    for doc_id, text in duckdb.sql(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet'"
    ).fetchall():
        for k, toks in chunks(text):
            if doc_id % RAG_PROBE_MOD == 0:
                if k == 0:
                    probes[doc_id] = vec(toks)
            else:
                cands[(doc_id, k)] = vec(toks)
    want = {}
    for pid, qv in probes.items():
        qn = sum(s * s for s in qv.values())
        scored = []
        for (did, cid), pv in cands.items():
            dot = sum(qv[b] * pv.get(b, 0) for b in qv)
            pn = sum(s * s for s in pv.values())
            if dot == 0 and not (set(qv) & set(pv)):
                continue  # bucket join emits no row for disjoint supports
            scored.append(
                (round(dot / math.sqrt(qn * pn), 6), did, cid)
            )
        scored.sort(key=lambda x: (-x[0], x[1], x[2]))
        for rank, (cos, did, cid) in enumerate(scored[:RAG_TOP_K], start=1):
            want[(pid, rank)] = (did, cid, cos)
    got = {
        (r["probe_id"], r["rank"]): (r["doc_id"], r["chunk_id"], r["cosine"])
        for r in passage_retrieval(spark, SF).collect()
    }
    assert got == want
    assert got, "probes exist"
