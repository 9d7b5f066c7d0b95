"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the MOSS algorithm): position-robust plagiarism /
contamination detection.

Rolling-hash fingerprinting (textstats.fingerprints) hashes FIXED
windows, so an insertion shifts every downstream fingerprint; winnowing
instead selects, for every window of w consecutive k-gram hashes, the
minimal hash (rightmost on ties) — guaranteeing any shared substring of
length ≥ w+k−1 contributes at least one IDENTICAL selected fingerprint
in both documents, regardless of where it sits. That local-minimum
guarantee is the published algorithm's whole point and what makes it the
standard cross-document overlap detector.

Engine-exactness: k-gram hashes are the repo's md5_60 (DuckDB replays
md5 bit-for-bit), window minima are the rightmost minimum hash per
window — row_number over (hash asc, pos desc) in the oracle — and match
scores are integer counts with one guarded IEEE division.

Scale shape: fingerprint SELECTION is per-document by definition, so
`winnow_fingerprints` and `_winnow_doc_fps` compute it inside an Arrow
kernel with ZERO shuffle and emit only the ~2n/(w+1) selected rows; the
DuckDB oracle's relational replay certifies the kernel. Cross-doc
matching is an equality join on the fingerprint hash with a
document-frequency cap (boilerplate fingerprints pair everything and
carry no plagiarism signal — the jaccard_pairs df-cap discipline),
never all-pairs. Non-vacuity: the containment family's
quote pages (dedup._quote_augmented) are injected — an excerpt shares
long substrings with its source, so winnowing MUST pair them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import _quote_augmented
from .relational import load

# Guarantee: any shared substring of length >= WIN_K + WIN_W - 1 = 27
# chars yields an identical selected fingerprint in both documents.
# k = 20 chars (MOSS-for-text territory): short k-grams are corpus-common
# in natural text and drown the signal (measured: k=5 emitted 87k pairs
# from 546 docs — effectively all-pairs; k=20 with df<=16, min_shared=3
# emits 83, including 44/46 planted excerpt pairs, the 2 misses being
# excerpts shorter than the guarantee length).
WIN_K = 20          # k-gram length (chars)
WIN_W = 8           # winnowing window (k-gram hashes per window)
WIN_MAX_DF = 16     # fingerprint document-frequency cap
WIN_MIN_SHARED = 3  # min shared fingerprints to report a pair


def _doc_selected(t: str):
    """Per-document winnow selection in NumPy: (h, sel) where h is the
    md5_60 hash of the k-gram at every 0-based position and sel the
    sorted unique selected positions — or None when the doc is shorter
    than one full window.

    Engine-exactness: `substr`/`length` are character-based in Spark, as
    is Python slicing (the caller keeps lower() JVM-side so
    locale-sensitive case folding cannot diverge); md5_60 == top 60 bits
    of the digest (first 15 hex chars); argmin over the REVERSED window
    axis returns the rightmost minimum's offset."""
    import hashlib

    import numpy as np

    n = len(t)
    nk = n - (WIN_K - 1)
    nw = nk - (WIN_W - 1)
    if nw < 1:
        return None
    md5 = hashlib.md5
    h = np.empty(nk, dtype=np.int64)
    enc = t.encode("utf-8")
    if len(enc) == n:
        # pure ASCII: slide a zero-copy memoryview over the bytes
        mv = memoryview(enc)
        for i in range(nk):
            h[i] = (
                int.from_bytes(md5(mv[i : i + WIN_K]).digest()[:8], "big")
                >> 4
            )
    else:
        # substr() counts CHARACTERS: slice the str, encode per k-gram
        for i in range(nk):
            h[i] = (
                int.from_bytes(
                    md5(t[i : i + WIN_K].encode("utf-8")).digest()[:8],
                    "big",
                )
                >> 4
            )
    rev = np.lib.stride_tricks.sliding_window_view(h, WIN_W)[:, ::-1]
    j = rev.argmin(axis=1)
    sel = np.unique(np.arange(nw) + (WIN_W - 1 - j))
    return h, sel


def _winnow_base(spark, sf_dir, docs):
    d = (
        docs
        if docs is not None
        else _quote_augmented(
            load(spark, sf_dir, "documents").repartition(
                spark.sparkContext.defaultParallelism
            )
        )
    )
    return d.select(
        "doc_id", F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("t")
    )


def winnow_fingerprints(spark, sf_dir, docs=None) -> DataFrame:
    """(doc_id, fp_hash, pos): the selected winnowing fingerprints of the
    quote-augmented corpus — min k-gram hash per sliding window,
    rightmost on ties, deduplicated. The k-gram hashes and the window
    selection run per document in NumPy inside an Arrow kernel, which
    emits only the selected fingerprints (≈ 2n/(w+1) rows) with ZERO
    shuffle: winnowing is per-document by definition, so partition-local
    work is the correct distribution at any scale."""
    from collections.abc import Iterator

    import pandas as pd

    base = _winnow_base(spark, sf_dir, docs)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                got = _doc_selected(t)
                if got is None:
                    continue
                h, sel = got
                out.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.full(
                                len(sel), doc_id, dtype=np.int64
                            ),
                            "fp_hash": h[sel],
                            "pos": (sel + 1).astype(np.int32),
                        }
                    )
                )
            yield (
                pd.concat(out)
                if out
                else pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        "fp_hash": pd.Series(dtype="int64"),
                        "pos": pd.Series(dtype="int32"),
                    }
                )
            )

    return base.mapInPandas(kern, "doc_id long, fp_hash long, pos int")


def _winnow_doc_fps(spark, sf_dir, docs=None) -> DataFrame:
    """(doc_id, fp_hash, n_fp): each document's DISTINCT selected
    fingerprints plus its fingerprint-set size, both computed inside the
    kernel — doc-local dedup makes the downstream global distinct (and
    the separate per-doc size aggregation + two rejoin hops) unnecessary,
    since a document never spans partitions."""
    from collections.abc import Iterator

    import pandas as pd

    base = _winnow_base(spark, sf_dir, docs)

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # accumulate numpy columns, ONE DataFrame per batch: a pandas
            # frame per document costs more than the hashing itself
            ids, fps, nfp = [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                got = _doc_selected(t)
                if got is None:
                    continue
                h, sel = got
                u = np.unique(h[sel])
                ids.append(np.full(len(u), doc_id, dtype=np.int64))
                fps.append(u)
                nfp.append(np.full(len(u), len(u), dtype=np.int64))
            yield (
                pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "fp_hash": np.concatenate(fps),
                        "n_fp": np.concatenate(nfp),
                    }
                )
                if ids
                else pd.DataFrame(
                    {
                        "doc_id": pd.Series(dtype="int64"),
                        "fp_hash": pd.Series(dtype="int64"),
                        "n_fp": pd.Series(dtype="int64"),
                    }
                )
            )

    return base.mapInPandas(kern, "doc_id long, fp_hash long, n_fp long")


def winnow_matches(
    spark,
    sf_dir,
    max_df: int = WIN_MAX_DF,
    min_shared: int = WIN_MIN_SHARED,
) -> DataFrame:
    """Cross-document winnowing matches: (id1, id2, n_shared, n_fp1,
    n_fp2, overlap) — pairs sharing ≥ min_shared selected fingerprints,
    overlap = shared / min(|fp1|, |fp2|) (the MOSS report score).

    Plan shape (r7 fast path): the kernel emits per-doc DISTINCT
    fingerprints WITH the per-doc set size carried on every row, and the
    whole pair generation is ONE exchange — groupBy(fp_hash) collects
    each fingerprint's sorted (doc_id, n_fp) posting list, the df cap is
    a filter on that SAME aggregate (df == posting length, so the
    separate hot-set rollup and its broadcast anti join disappear), and
    pairs expand in-array exactly like the LSH bucket expansion. The r6
    form shuffled the kernel output three times (hot rollup + both self-
    join sides) and needed it slot-persisted; with a single consumer the
    persist is gone too — the kernel runs once by construction."""
    fpd = _winnow_doc_fps(spark, sf_dir)
    groups = (
        fpd.groupBy("fp_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "n_fp"))
            ).alias("ds")
        )
        .where((F.size("ds") > 1) & (F.size("ds") <= max_df))
    )
    pairs = groups.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (a, i) -> "
                "transform(slice(ds, i + 2, size(ds)), b -> struct(a, b))))"
            )
        ).alias("p")
    ).select(
        F.col("p.a.doc_id").alias("id1"),
        F.col("p.a.n_fp").alias("n_fp1"),
        F.col("p.b.doc_id").alias("id2"),
        F.col("p.b.n_fp").alias("n_fp2"),
    )
    return (
        pairs.groupBy("id1", "id2", "n_fp1", "n_fp2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select(
            "id1",
            "id2",
            "n_shared",
            "n_fp1",
            "n_fp2",
            F.round(
                F.col("n_shared")
                / F.least(F.col("n_fp1"), F.col("n_fp2")),
                6,
            ).alias("overlap"),
        )
    )
