"""Sequence-packing layout: conservation/shape invariants on the shipped
corpus, exactness on a crafted one, and the two-level-prefix plan contract."""

from pyspark.sql import functions as F

from sbb_ocr_postcorrection_spark.operators import packing as P

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_sequence_pack_invariants(spark):
    from sbb_ocr_postcorrection_spark.functions.exprs import tokens_expr

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    total_slots = docs.select(
        F.sum(F.size(tokens_expr(F.col("text"))) + 1).alias("s")
    ).collect()[0]["s"]
    rows = sorted(
        P.sequence_pack(spark, SF_DIR).collect(), key=lambda r: r["window_id"]
    )
    # windows are contiguous from 0 and conserve every slot exactly once
    assert [r["window_id"] for r in rows] == list(range(len(rows)))
    assert sum(r["n_tokens"] for r in rows) == total_slots
    # every window is full except possibly the last
    assert all(r["n_tokens"] == P.SEQ_LEN for r in rows[:-1])
    assert 0 < rows[-1]["n_tokens"] <= P.SEQ_LEN
    # doc ranges tile monotonically: a window's first doc is the previous
    # window's last doc (shared straddler) or the next doc after it
    for prev, cur in zip(rows, rows[1:]):
        assert cur["first_doc"] in (prev["last_doc"], prev["last_doc"] + 1)
        assert cur["first_doc"] <= cur["last_doc"]


def test_sequence_pack_crafted_layout(spark, monkeypatch):
    """Hand-computed layout: SEQ_LEN=8, docs of 3/9/2 tokens (+1 EOS each)
    = slots 4+10+3, stream length 17 → windows of 8/8/1."""
    monkeypatch.setattr(P, "SEQ_LEN", 8)
    monkeypatch.setattr(P, "BUCKET_DOCS", 2)
    docs = spark.createDataFrame(
        [
            (0, "a b c"),                       # 4 slots: [0,4)
            (1, "d e f g h i j k l"),           # 10 slots: [4,14)
            (2, "m n"),                         # 3 slots: [14,17)
        ],
        "doc_id long, text string",
    )
    rows = {
        r["window_id"]: r
        for r in P.sequence_pack(spark, SF_DIR, docs=docs).collect()
    }
    assert set(rows) == {0, 1, 2}
    # window 0: doc0 fully (4) + doc1 partially (4)
    assert rows[0]["n_tokens"] == 8 and rows[0]["n_docs"] == 2
    assert (rows[0]["first_doc"], rows[0]["last_doc"]) == (0, 1)
    # window 1: doc1 continues (6) + doc2 starts (2)
    assert rows[1]["n_tokens"] == 8 and rows[1]["n_docs"] == 2
    assert (rows[1]["first_doc"], rows[1]["last_doc"]) == (1, 2)
    # window 2: doc2 tail (1)
    assert rows[2]["n_tokens"] == 1 and rows[2]["n_docs"] == 1
    assert (rows[2]["first_doc"], rows[2]["last_doc"]) == (2, 2)


def test_sequence_pack_randomized_cross_check(spark, monkeypatch):
    """120 docs with seeded-random token counts (including empties and
    window-sized and window-straddling lengths) against an independent
    pure-Python packer, at an odd seq_len/bucket size."""
    import random

    rng = random.Random(7)
    texts = []
    for i in range(120):
        n = rng.choice([0, 1, 5, 12, 13, 25, 26, 40, rng.randint(0, 60)])
        texts.append((i, " ".join(f"w{j}" for j in range(n))))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    seq_len, bucket = 13, 7
    monkeypatch.setattr(P, "SEQ_LEN", seq_len)
    monkeypatch.setattr(P, "BUCKET_DOCS", bucket)
    got = {
        r["window_id"]: (r["n_tokens"], r["n_docs"], r["first_doc"], r["last_doc"])
        for r in P.sequence_pack(spark, SF_DIR, docs=docs).collect()
    }
    # reference packer
    want: dict[int, list] = {}
    off = 0
    for i, t in texts:
        n = len(t.split()) + 1
        for w in range(off // seq_len, (off + n - 1) // seq_len + 1):
            slots = min(off + n, (w + 1) * seq_len) - max(off, w * seq_len)
            e = want.setdefault(w, [0, 0, i, i])
            e[0] += slots
            e[1] += 1
            e[3] = i
        off += n
    assert got == {w: tuple(e) for w, e in want.items()}


def test_sequence_pack_plan_two_level_prefix(spark):
    """The doc-level cumsum must be partitioned by bucket (parallel); the
    ONLY single-partition exchange is the tiny bucket rollup, and the
    bucket-offset rejoin is a broadcast."""
    plan = plan_of(P.sequence_pack(spark, SF_DIR))
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(bkt" in plan
    assert "BroadcastExchange" in plan
    # counts is persisted: the corpus-wide tokenize feeds both the bucket
    # rollup and the placement from ONE in-memory relation
    assert "InMemoryTableScan" in plan


def test_shard_manifest_consistent_with_pack(spark):
    """Shard rollups must tie out against the per-window layout: token
    totals per shard equal the window sums, window counts match, the
    dominant source never exceeds the shard total, and shards are
    full-size except the last."""
    from sbb_ocr_postcorrection_spark.operators.packing import (
        SEQ_LEN,
        SHARD_WINDOWS,
        sequence_pack,
        shard_manifest,
    )

    sf = "/root/testdata/sf0.001"
    windows = sequence_pack(spark, sf).collect()
    shards = {r["shard_id"]: r for r in shard_manifest(spark, sf).collect()}
    by_shard = {}
    for w in windows:
        sid = w["window_id"] // SHARD_WINDOWS
        tot, n = by_shard.get(sid, (0, 0))
        by_shard[sid] = (tot + w["n_tokens"], n + 1)
    assert set(shards) == set(by_shard)
    last = max(shards)
    for sid, (tot, n) in by_shard.items():
        r = shards[sid]
        assert r["n_tokens"] == tot
        assert r["n_windows"] == n
        assert 0 < r["top_source_slots"] <= r["n_tokens"]
        assert 1 <= r["n_sources"]
        assert 0.0 <= r["en_pct"] <= 100.0
        if sid != last:
            assert r["n_tokens"] == SEQ_LEN * SHARD_WINDOWS
