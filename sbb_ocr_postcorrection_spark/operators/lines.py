"""Line splitting + order-preserving reassembly — the F10/J7 pair.

The reference splits over-long lines at separator boundaries
(cli_preproc.py:29-68, applied :104-131), records boundaries in
line_ids.json, and re-joins after correction (cli_correct.py:34-59). Here:

* split: pandas-batched UDF returning array<string> (greedy grouping is
  inherently sequential per line) → posexplode carries (parent, pos) — the
  UDTF surface of SURVEY.md §2.9;
* reassemble: pure relational — groupBy(parent) over sort_array(struct(pos,
  part)), concat_ws. The round trip is exact by construction, which the
  query result itself certifies (roundtrip_ok per doc).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from .relational import load, persist_slot

MAX_LEN = 40


def _lenient_split(line: str) -> list[str]:
    """split_with_max_len, but a token longer than MAX_LEN becomes its own
    oversized part instead of raising (the reference raises ValueError,
    cli_preproc.py:49 — a crash per bad row is unacceptable in a job: task
    retries would re-crash deterministically). Oversized parts keep the
    roundtrip exact."""
    groups: list[list[str]] = [[]]
    for t in line.split(" "):
        if not t:
            continue
        if len(t) > MAX_LEN:
            if groups[-1]:
                groups.append([])
            groups[-1].append(t)
            groups.append([])
        elif len(" ".join(groups[-1] + [t])) > MAX_LEN:
            groups.append([t])
        else:
            groups[-1].append(t)
    return [" ".join(g) for g in groups if g]


def _split_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = pdf.copy()
        norm = [
            " ".join(str(t).split()) if t is not None else "" for t in pdf["text"]
        ]
        out["text_norm"] = norm
        # empty doc → one empty part: posexplode would otherwise drop the
        # doc entirely, silently skipping its roundtrip verdict (ADVICE r1
        # #3); the empty sentinel rejoins to "" == text_norm → ok=1
        out["parts"] = [_lenient_split(t) or [""] for t in norm]
        yield out[["doc_id", "text_norm", "parts"]]


def split_lines(spark, sf_dir) -> DataFrame:
    """documents.text → one row per ≤40-char part with (parent, pos);
    text_norm carries the kernel's own whitespace normalization so the
    roundtrip check compares against exactly what was split (Python
    str.split and Java \\s+ disagree on unicode whitespace)."""
    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    parts = d.select("doc_id", "text").mapInPandas(
        _split_kernel, schema="doc_id long, text_norm string, parts array<string>"
    )
    return parts.select(
        F.col("doc_id").alias("parent_id"),
        "text_norm",
        F.posexplode("parts").alias("pos", "part"),
    )


def split_roundtrip(spark, sf_dir) -> DataFrame:
    """Split → reassemble → verify: per doc, n_parts, max part length and
    whether the reassembly equals the (whitespace-normalized) original."""
    exploded = split_lines(spark, sf_dir)
    reassembled = exploded.groupBy("parent_id").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.max(F.length("part")).alias("max_part_len"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "part"))),
                lambda s: s["part"],
            ),
        ).alias("rejoined"),
        F.first("text_norm").alias("text_norm"),
    )
    return reassembled.select(
        "parent_id",
        "n_parts",
        "max_part_len",
        (F.col("rejoined") == F.col("text_norm")).cast("int").alias("roundtrip_ok"),
    )


# line_dedup defaults — the DuckDB oracle in queries.py interpolates THESE
# constants, so one definition drives both engines
LINE_TOKS = 3
HOT_LINE_DF = 5


def _doc_lines(d, n: int):
    """(doc_id, lns): the corpus as PER-DOCUMENT arrays of consecutive
    n-token chunks, ≥1 line per document (an empty/null doc gets one ''
    sentinel line so it can never vanish from a reassembly). The ONE
    chunking definition line_dedup and passage_dedup share — r7 keeps it
    doc-level so reassembly is in-array row math instead of a corpus-wide
    explode → groupBy(doc_id) exchange; the exploded (doc_id, pos, line)
    view is a posexplode away when cross-document counting needs it."""
    from ..functions.exprs import tokens_expr

    # tokens materialized as a column first: inlining the tokenizer into
    # the chunk lambda would re-evaluate split+filter per reference
    base = d.select("doc_id", tokens_expr(F.col("text")).alias("toks"))
    n_lines = F.greatest(
        F.ceil(F.size("toks") / F.lit(n)).cast("int"), F.lit(1)
    )
    return base.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.concat_ws(" ", F.slice("toks", (i - 1) * n + 1, n)),
        ).alias("lns"),
    )


def _reassemble_arr(base, covered):
    """Shared r7 reassembly: ``base`` is the per-doc (doc_id, lns) array
    relation, ``covered`` a (doc_id, drop_pos: array<int>) relation of
    0-based positions to remove (absent doc ⇒ keep everything). Survivors
    rejoin in position order as pure row math — the per-doc order is the
    array order, so there is no corpus-wide collect_list exchange; the
    only join is equality-keyed on doc_id and scales with the number of
    CONTAMINATED documents (AQE broadcasts it when small)."""
    joined = base.join(covered, "doc_id", "left")
    drop = F.coalesce(F.col("drop_pos"), F.array().cast("array<int>"))
    return joined.select(
        "doc_id",
        F.size("lns").cast("int").alias("n_lines"),
        (F.size("lns") - F.size(drop)).cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.filter("lns", lambda x, i: ~F.array_contains(drop, i)),
        ).alias("cleaned_text"),
    )


def line_dedup(
    spark, sf_dir, n_line_toks: int = LINE_TOKS, hot_df: int = HOT_LINE_DF,
    docs=None,
) -> DataFrame:
    """Inter-document repeated-line removal (the RefinedWeb/CCNet-style
    boilerplate-line filter): a line occurring in ≥ hot_df distinct
    documents is dropped from EVERY document, and each document is
    reassembled from its surviving lines in order.

    Lines are consecutive ``n_line_toks``-token chunks of the lowercased
    token stream — deterministic and SQL-expressible on both engines (the
    same convention pdf_layout uses), standing in for newline-split lines
    the synthetic corpus doesn't have.

    Scale design (100 TB): the per-doc line-array relation is computed
    once (persisted — it feeds the hot-line aggregation and the final
    reassembly; Spark reuses exchanges, not arbitrary lineage). The
    hot-line set is a two-phase aggregation over the exploded view whose
    RESULT is tiny by construction (lines repeated across ≥ hot_df docs —
    boilerplate vocabulary, not corpus-sized), so marking is a broadcast
    join producing the covered (doc_id, pos) set, which scales with the
    number of CONTAMINATED documents; reassembly is per-row array math
    (r7 — the old form paid a corpus-wide explode → collect_list
    exchange to rebuild orders the array already had). Since every
    document emits at least one line (empty docs produce a single ''
    sentinel), degenerate docs surface with empty cleaned text instead
    of vanishing (ADVICE r1 #3).
    """
    d = docs if docs is not None else load(spark, sf_dir, "documents")
    base = persist_slot("line_dedup_base", _doc_lines(d, n_line_toks))
    rows = base.select("doc_id", F.posexplode("lns").alias("pos", "line"))
    hot = (
        rows.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("line_df"))
        .filter(F.col("line_df") >= hot_df)
        .select("line")
    )
    covered = (
        rows.join(F.broadcast(hot), "line")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("drop_pos"))
    )
    return _reassemble_arr(base, covered)


# passage_dedup defaults — interpolated into the DuckDB oracle
PASSAGE_LINES = 2
HOT_PASSAGE_DF = 5
# exactly PASSAGE_LINES×LINE_TOKS tokens, so prepending it shifts chunk
# boundaries by whole lines and removal restores the original chunking
PASSAGE_BOILER = "this website uses cookies please accept"


def passage_dedup(
    spark, sf_dir, p_lines: int = PASSAGE_LINES, hot_df: int = HOT_PASSAGE_DF,
    n_line_toks: int = LINE_TOKS, docs=None,
) -> DataFrame:
    """Inter-document repeated-PASSAGE removal: the span-coverage form of
    boilerplate filtering. line_dedup drops lines that individually repeat
    across documents; real boilerplate (cookie banners, nav footers,
    license headers) spans SEVERAL consecutive lines whose pieces may be
    too generic (high-df noise) or too rare (below line df) on their own.
    Here every sliding window of ``p_lines`` consecutive lines is a
    passage; a passage repeated in ≥ hot_df distinct documents marks ALL
    the line positions it covers in every document carrying it, and
    covered lines are dropped before reassembly — the RefinedWeb
    "remove duplicated spans" semantic, position-aware (only the lines
    actually inside a hot span go; an identical sentence elsewhere in an
    uncontaminated context survives).

    Scale design (100 TB): the line relation is persisted once; passages
    derive from a per-doc sorted array (one shuffle) with the windows
    expanded in-array (no self-join); the hot set is a two-phase agg whose
    result is boilerplate-vocabulary-sized, so marking coverage is a
    broadcast join. The covered-position relation carries NO broadcast
    hint: it scales with the number of contaminated documents (a corpus
    where every page carries the banner makes it corpus-sized — a forced
    broadcast would OOM the driver); AQE broadcasts it when its stats
    say it is actually small, and the fallback is an equality join on
    (doc_id, pos). No join ever shuffles on anything but doc_id.

    Degenerate-window rules (review-pinned): documents SHORTER than
    p_lines emit no passages at all — whole-document duplication is
    exact-dedup's job, and a truncated window would let ≥hot_df identical
    one-line docs blank each other out entirely; and the empty-string
    passage can never go hot — ≥hot_df empty docs must each keep their
    '' sentinel line (the empty-doc-kept contract line_dedup pins).

    The driver fixture (docs=None) prepends PASSAGE_BOILER to every even
    doc_id — the corpus itself has no cross-document passages — and the
    oracle replays that augmentation, so the hash check certifies header
    stripping on exactly half the corpus with the other half untouched.
    """
    if docs is None:
        d = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(PASSAGE_BOILER + " "), F.coalesce("text", F.lit(""))),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    else:
        d = docs
    base = persist_slot("passage_dedup_base", _doc_lines(d, n_line_toks))
    # NO truncated windows: a doc shorter than p_lines contributes no
    # passages (guarded — Spark's sequence(1, 0) counts DOWN, it is not
    # empty). Such docs can then never be covered and keep everything.
    # r7: the line arrays are already per-doc, so the old explode →
    # collect_list rebuild (one corpus exchange) and the second persisted
    # relation are gone; passages explode straight off the cached arrays
    # for both consumers.
    windows = F.when(
        F.size("lns") >= p_lines,
        F.transform(
            F.sequence(F.lit(1), F.size("lns") - (p_lines - 1)),
            lambda i: F.concat_ws(" ", F.slice("lns", i, p_lines)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    passages = base.select(
        "doc_id", F.posexplode(windows).alias("wpos", "passage")
    )
    hot = (
        passages.groupBy("passage")
        .agg(F.countDistinct("doc_id").alias("passage_df"))
        # the all-empty-lines passage never goes hot: empty docs keep
        # their sentinel line
        .filter(
            (F.col("passage_df") >= hot_df)
            & (F.trim(F.col("passage")) != "")
        )
        .select("passage")
    )
    covered = (
        passages.join(F.broadcast(hot), "passage")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("wpos"), F.col("wpos") + (p_lines - 1))
            ).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("drop_pos"))
    )
    return _reassemble_arr(base, covered)


def split_roundtrip_flags(spark, sf_dir) -> DataFrame:
    """Driver-facing projection of split_roundtrip: (parent_id,
    roundtrip_ok). The greedy packing itself is not SQL-expressible, but
    the roundtrip invariant is — every document must reassemble exactly —
    so the DuckDB oracle (doc_id, 1) turns this from a rows-only row into a
    hash-checked one: any kernel regression breaks the value hash."""
    return split_roundtrip(spark, sf_dir).select("parent_id", "roundtrip_ok")


CHUNK_TOKENS = 32   # passage window length
CHUNK_STRIDE = 24   # window stride (8-token overlap)


def passage_windows(spark, sf_dir, docs=None) -> DataFrame:
    """RAG-export chunking: overlapping fixed-size token windows per
    document — (doc_id, chunk_id, start_tok, n_tok, passage). The
    retrieval-corpus preparation step every RAG/embedding pipeline runs
    after curation: stride < window so no answer span is cut at a chunk
    boundary without also appearing whole in a neighbor.

    Window count per doc is ceil(max(n−CHUNK, 0)/STRIDE) + 1 — the LAST
    window may be short (never empty), empty docs emit nothing; all
    window math is integer, the passage text is one in-array slice+join
    (no per-row Python, no self-join of positions).

    Scale shape: one bounded explode (≤ n/STRIDE + 1 rows per doc) in a
    narrow stage — chunking shuffles nothing; downstream embedding jobs
    consume (doc_id, chunk_id) as the natural bucket key."""
    from .relational import load as _load

    d = (
        docs
        if docs is not None
        else _load(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism
        )
    )
    from ..functions.exprs import tokens_expr

    base = d.select(
        "doc_id", tokens_expr(F.col("text")).alias("t")
    ).select("doc_id", "t", F.size("t").alias("n"))
    nw = (
        F.floor(
            (F.greatest(F.col("n") - CHUNK_TOKENS, F.lit(0)) + CHUNK_STRIDE - 1)
            / CHUNK_STRIDE
        ).cast("int")
        + 1
    )
    ex = base.where(F.col("n") >= 1).select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0), nw - 1)).alias("chunk_id"),
    )
    s = F.lit(1) + F.col("chunk_id") * CHUNK_STRIDE
    return ex.select(
        "doc_id",
        "chunk_id",
        s.alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - s + 1).alias("n_tok"),
        F.array_join(
            F.slice(F.col("t"), s, F.lit(CHUNK_TOKENS)), " "
        ).alias("passage"),
    )
