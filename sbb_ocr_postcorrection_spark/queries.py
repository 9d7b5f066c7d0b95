"""Driver-facing query registry: one entry per implemented operator class
(SURVEY.md §2), each with its DuckDB oracle SQL (None → rows-only check for
genuinely non-SQL ops like the extraction kernel itself).

Column-name contract: every computed column is aliased identically in the
Spark plan and the SQL so the driver's sorted-column value-hash matches.
Determinism contract: every top-k has a total-order tie-break; every double
is rounded at a decimal precision where binary doubles cannot sit exactly
on a rounding boundary (denominators 2^a·5^b with b>0 are not representable,
so HALF_UP vs HALF_EVEN never diverges).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import (
    anagram,
    bpe,
    components,
    dedup,
    index,
    evaluation,
    langprofile,
    linkgraph,
    lines,
    multimodal,
    packing,
    relational as R,
    selection,
    similarity,
    substring,
    temporal,
    textstats,
    urls,
    webstruct,
    winnow,
)
from .operators.textstats import DE_STOPS, EN_STOPS


def _pin(spark: SparkSession) -> None:
    """Pin session semantics the oracle comparison depends on and make sure
    Python workers can import this package even when the caller built the
    SparkSession before our PYTHONPATH export (addPyFile works at runtime
    on a live session; env vars do not reach an already-running JVM)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _ship_package(spark)


def _ship_package(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, "_sbb_pkg_shipped", False):
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                sources.append(os.path.join(root, f))
    # content-addressed zip name: a stale cached zip would make executors
    # run OLD kernel code after a source edit, silently breaking the
    # oracle/byte-identity contract
    digest = hashlib.sha256()
    for full in sorted(sources):
        with open(full, "rb") as fh:
            digest.update(full.encode())
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"sbb_ocr_postcorrection_spark_pyfiles_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sorted(sources):
                rel = os.path.join(
                    "sbb_ocr_postcorrection_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        pass  # already added in this context
    sc._sbb_pkg_shipped = True


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


# coalesce mirrors tokens_expr: NULL text ≡ empty document
_TOKS_SQL = (
    "list_filter(string_split(lower(coalesce(text, '')), ' '), x -> x <> '')"
)

# the ONE DuckDB form of canonical_url_expr (operators/urls.py) applied to a
# column named url — strpos-based first-'://' semantics, NOT split_part
_CANON_URL_SQL = urls.CANON_URL_SQL.format(u="url")

# the synthesized page url (synth_pages_from_documents) in DuckDB form
_URL_SQL = "'https://docs.example.org/' || source || '/' || CAST(doc_id AS VARCHAR)"

# the synth_url_expr arithmetic (operators/urls.py) in DuckDB form — shared
# by the url_dedup and url_blocklist oracles
_SYNTH_URL_SQL = """
              SELECT doc_id,
                     (CASE doc_id % 3 WHEN 0 THEN 'http://'
                           WHEN 1 THEN 'https://' ELSE 'HTTP://' END)
                     || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
                     || (CASE WHEN doc_id % 5 = 0
                           THEN upper('site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com')
                           ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' END)
                     || '/p/' || CAST(doc_id % 13 AS VARCHAR)
                     || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&ref=rss' ELSE '' END)
                     || (CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END) AS url
              FROM documents
"""


def _sq(s: str) -> str:
    """Python string → SQL single-quoted literal (quote doubling)."""
    return "'" + s.replace("'", "''") + "'"
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(l) - 2, 1)), "
    "i -> concat_ws(' ', l[i], l[i+1], l[i+2])))"
)


def _hex2int(hexpr: str) -> str:
    """DuckDB: first 15 hex chars of `hexpr` (an md5 hex string) → 60-bit
    int — the exact mirror of Spark's conv(substr(md5(x),1,15),16,10)."""
    return (
        "list_reduce(list_transform(generate_series(1, 15), "
        f"i -> strpos('0123456789abcdef', substr({hexpr}, i, 1)) - 1), "
        "(a, b) -> a * 16 + b)"
    )


def _ilog2_sql(x: str) -> str:
    """DuckDB mirror of operators.selection.with_ilog2 — Mitchell
    fixed-point log2 of a POSITIVE integer expression, exact int64:
    S·(length(bin(x))−1) + S·(x − 2^f) // 2^f. `x` must be a simple
    column reference (it is inlined four times)."""
    from .operators.selection import DSIR_S

    f = f"(length(bin({x})) - 1)"
    p = f"(CAST(1 AS BIGINT) << {f})"
    return f"({f} * {DSIR_S} + (({x} - {p}) * {DSIR_S}) // {p})"


def _anagram_ctes() -> str:
    """Shared CTE chain for the TICCL anagram lookup: OCR-noise-augmented
    vocabulary → power-sum keys → shifted-key equality join against the
    confusion dim (constants in lockstep with operators.anagram)."""
    from .operators.anagram import (
        ANAGRAM_CONFUSIONS,
        ANAGRAM_NOISE_MOD,
        ANAGRAM_NOISE_WORDS,
        _av,
    )

    values = ", ".join(
        f"('{s}', '{t}', CAST({_av(s) - _av(t)} AS BIGINT), {len(s) - len(t)})"
        for s, t in ANAGRAM_CONFUSIONS
    )
    a = "CAST(ascii(substr(word, i, 1)) AS BIGINT)"
    return f"""
            WITH aug AS (
              SELECT lower(coalesce(text, '')) ||
                     CASE WHEN doc_id % {ANAGRAM_NOISE_MOD} = 0
                          THEN ' {ANAGRAM_NOISE_WORDS}' ELSE '' END AS t
              FROM documents),
            tok AS (SELECT unnest(list_filter(string_split(t, ' '),
                                  x -> x <> '')) AS word FROM aug),
            vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS tf
                      FROM tok GROUP BY 1),
            keyed AS MATERIALIZED (
              SELECT word, tf,
                     CAST(list_sum(list_transform(
                            generate_series(1, length(word)),
                            i -> {a} * {a} * {a} * {a} * {a}))
                          AS BIGINT) AS key
              FROM vocab),
            conf AS (SELECT * FROM (VALUES {values})
                     AS v(sub_err, sub_true, delta, dlen)),
            hits AS (
              SELECT e.word AS err_word, e.tf AS err_tf,
                     c.word AS cand_word, c.tf AS cand_tf,
                     f.sub_err, f.sub_true, e.key AS anagram_key
              FROM keyed e CROSS JOIN conf f
              JOIN keyed c ON c.key = e.key - f.delta
              WHERE e.word <> c.word
                AND contains(e.word, f.sub_err)
                AND contains(c.word, f.sub_true)
                AND length(e.word) = length(c.word) + f.dlen
                AND c.tf > e.tf)"""


def _ahash_ctes() -> str:
    """Shared CTE chain: documents + flipped-byte twins → 60 evenly-spaced
    byte lumas → mean-threshold bits → 60-bit average hash (mirrors
    operators.multimodal._ahash_bytes; ASCII text ⇒ substr chars ARE the
    payload bytes)."""
    from .operators.multimodal import AHASH_BITS, _TWIN_OFFSET

    nb = AHASH_BITS
    return f"""
            WITH src AS (SELECT doc_id, coalesce(text, '') AS t
                         FROM documents),
            inp AS (
              SELECT doc_id, t FROM src
              UNION ALL
              SELECT doc_id + {_TWIN_OFFSET},
                     substr(t, 1, p7 - 1) || substr(t, p31, 1)
                       || substr(t, p7 + 1, p31 - p7 - 1) || substr(t, p7, 1)
                       || substr(t, p31 + 1)
              FROM (SELECT doc_id, t,
                           (7 * strlen(t)) // {nb} + 1 AS p7,
                           (31 * strlen(t)) // {nb} + 1 AS p31
                    FROM src)
              WHERE doc_id % 37 = 0 AND strlen(t) >= {nb}
            ),
            lum AS (
              SELECT doc_id, strlen(t) AS n,
                     list_transform(generate_series(0, {nb - 1}),
                       i -> ascii(substr(t,
                              CAST((i * strlen(t)) // {nb} + 1 AS INTEGER),
                              1))) AS ls
              FROM inp),
            lum2 AS (SELECT doc_id, n, ls, list_sum(ls) AS total FROM lum),
            ah AS (
              SELECT doc_id, CAST(n AS INTEGER) AS n_bytes,
                     CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
                          ELSE CAST(list_sum(list_transform(
                                 generate_series(0, {nb - 1}),
                                 i -> CASE WHEN {nb} * ls[i + 1] > total
                                           THEN (CAST(1 AS BIGINT) << i)
                                           ELSE CAST(0 AS BIGINT) END))
                               AS BIGINT) END AS ahash
              FROM lum2)"""


def _dsir_weight_ctes() -> str:
    """Shared CTE chain documents → bigram buckets → smoothed counts →
    Mitchell-log weights (mirrors operators.selection._weights_from_counts)."""
    from .operators.selection import DSIR_BUCKETS, DSIR_TARGET_LANG

    b = DSIR_BUCKETS
    return f"""
            WITH t AS (SELECT doc_id, lang,
                              (lang = '{DSIR_TARGET_LANG}') AS is_t,
                              {_TOKS_SQL} AS toks FROM documents),
            bgx AS (SELECT doc_id, is_t,
                           unnest(list_transform(
                             generate_series(1, len(toks) - 1),
                             i -> concat_ws(' ', toks[i], toks[i+1]))) AS g
                    FROM t WHERE len(toks) >= 2),
            bb AS MATERIALIZED (
              SELECT doc_id, is_t,
                     CAST({_hex2int('md5(g)')} % {b} AS BIGINT) AS bucket
              FROM bgx),
            cnt AS (SELECT bucket,
                           CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END)
                                AS BIGINT) AS ct,
                           CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END)
                                AS BIGINT) AS cr
                    FROM bb GROUP BY bucket),
            fullb AS (SELECT CAST(unnest(generate_series(0, {b - 1}))
                                  AS BIGINT) AS bucket),
            cc AS (SELECT fullb.bucket,
                          CAST(coalesce(ct, 0) AS BIGINT) AS ct,
                          CAST(coalesce(cr, 0) AS BIGINT) AS cr
                   FROM fullb LEFT JOIN cnt USING (bucket)),
            ccl AS (SELECT bucket, ct, cr,
                           CAST(ct + 1 AS BIGINT) AS ct1,
                           CAST(cr + 1 AS BIGINT) AS cr1 FROM cc),
            tot AS (SELECT CAST(sum(ct) + {b} AS BIGINT) AS nt1,
                           CAST(sum(cr) + {b} AS BIGINT) AS nr1 FROM cc),
            totl AS (SELECT {_ilog2_sql('nt1')} AS lnt,
                            {_ilog2_sql('nr1')} AS lnr FROM tot),
            w AS (SELECT bucket, ct, cr,
                         CAST({_ilog2_sql('ct1')} - {_ilog2_sql('cr1')}
                              + lnr - lnt AS BIGINT) AS w
                  FROM ccl, totl)"""


# per-doc DSIR score stage (appended after _dsir_weight_ctes with a comma)
_DSIR_SCORE_CTES = """
            pb AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS c
                   FROM bb GROUP BY 1, 2),
            psc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
                           CAST(sum(c * w) AS BIGINT) AS score
                    FROM pb JOIN w USING (bucket) GROUP BY 1),
            scored AS (
              SELECT d.doc_id, d.lang,
                     CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END
                          AS INTEGER) AS is_target,
                     CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                     CAST(coalesce(s.score, 0) AS BIGINT) AS score
              FROM documents d LEFT JOIN psc s USING (doc_id))"""


def _byte_at(i: str) -> str:
    """DuckDB: 1-based byte `i` of the UPPERCASE-hex blob column hx."""
    return (
        f"((strpos('0123456789ABCDEF', substr(hx, 2*({i})-1, 1)) - 1) * 16"
        f" + (strpos('0123456789ABCDEF', substr(hx, 2*({i}), 1)) - 1))"
    )


# MinHash/LSH constants mirrored from operators.dedup (kept in lockstep by
# tests/test_queries_oracle.py hash matches)
_MERSENNE = (1 << 31) - 1
_MINHASH_PERMS = [(2 * i + 1, 40503 * i + 7) for i in range(16)]
_N_PLANES = 8


def _minhash_sig_ctes(with_lang: bool = False) -> str:
    """Shared CTE chain documents → shingles → 60-bit hashes → 16-slot
    MinHash signatures → 4 banded hashes (mirrors operators.dedup)."""
    lang_col = ", lang" if with_lang else ""
    sig_cols = ", ".join(
        f"CAST(min((h * {a} + {b}) % {_MERSENNE}) AS BIGINT) AS mh_{j}"
        for j, (a, b) in enumerate(_MINHASH_PERMS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"CAST({_hex2int(f'''md5(concat_ws(',', mh_{4 * b}, mh_{4 * b + 1}, mh_{4 * b + 2}, mh_{4 * b + 3}))''')} AS BIGINT) AS band_hash "
        f"FROM sig"
        for b in range(4)
    )
    return f"""
        toks AS (SELECT doc_id{lang_col}, {_TOKS_SQL} AS l FROM documents),
        sh AS (SELECT doc_id{lang_col}, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
        mh AS (SELECT doc_id,
                      CAST({_hex2int('md5(shingle)')} % {_MERSENNE} AS BIGINT) AS h
               FROM sh),
        sig AS (SELECT doc_id, {sig_cols} FROM mh GROUP BY doc_id),
        bands AS ({band_selects})
    """


def _ivf_cents_sql(n_lists: int = 8, dim: int = 64) -> str:
    """DuckDB VALUES relation of the pinned IVF centroids — interpolated
    from operators.similarity.ivf_pinned_centroids so one definition drives
    both engines (dim 64 = the fixture embeddings' dimensionality at every
    SF)."""
    from .operators.similarity import ivf_pinned_centroids

    rows = ivf_pinned_centroids(n_lists, dim)
    vals = ", ".join(
        f"({c}, CAST([{', '.join(repr(w) for w in row)}] AS DOUBLE[]))"
        for c, row in enumerate(rows)
    )
    return f"(VALUES {vals}) cents(cell, w)"


def _ivf_trained_oracle(
    n_probes: int = 5,
    k: int = 5,
    n_lists: int = 8,
    probe_lists: int = 4,
    lloyd_iters: int = 1,
) -> str:
    """Full SQL replay of operators.similarity.ivf_topk — the TRAINED IVF
    (closing VERDICT r4 next-step #2, the bpe_train /
    quality_classifier_train convention): hash-sampled pool → greedy
    farthest-point seeding (one MATERIALIZED CTE stage per pick) →
    ``lloyd_iters`` Lloyd passes (rounded-9 argmax assignment, per-dim
    rounded-9 means, renormalize, empty/zero cells keep their previous
    centroid) → final assignment → probe-cell ranking → in-cell cosine
    top-k. Every decision both engines make runs on values rounded to 9
    decimals with the pinned tie-breaks (first pool index / smallest cell
    id), so the BLAS-vs-sequential reduction-order gap cannot flip a pick;
    MATERIALIZED everywhere because the seed stages reference each other
    through scalar IN-subqueries (the _bpe_stages_sql inlining lesson)."""
    hk = _hex2int("md5(CAST(vec_id AS VARCHAR))")
    parts = [
        """e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    en AS MATERIALIZED (
      SELECT vec_id, v,
             list_transform(v, x -> x / sqrt(list_inner_product(v, v))) AS vn
      FROM e),
    pool AS MATERIALIZED (
      SELECT vn, row_number() OVER (ORDER BY hkey, vec_id) AS pr
      FROM (SELECT vec_id, vn, """
        + hk
        + f""" AS hkey FROM en
            ORDER BY hkey, vec_id LIMIT {4 * n_lists}))"""
    ]
    # greedy farthest-point seeding: pick 0 is pool rank 1; pick k is the
    # non-chosen pool row minimizing (max rounded cosine to chosen), ties
    # to the lowest pool rank — exactly np.argmin over the masked matrix
    for s in range(1, n_lists):
        chosen = " UNION ALL ".join(
            ["SELECT CAST(1 AS BIGINT) AS pr"]
            + [f"SELECT pr FROM pk{j}" for j in range(1, s)]
        )
        parts.append(
            f"""fs{s} AS MATERIALIZED (
      SELECT p.pr, max(round(list_inner_product(p.vn, c.vn), 9)) AS ms
      FROM pool p, pool c
      WHERE c.pr IN ({chosen}) AND p.pr NOT IN ({chosen})
      GROUP BY p.pr),
    pk{s} AS MATERIALIZED (
      SELECT pr FROM fs{s} ORDER BY ms ASC, pr ASC LIMIT 1)"""
        )
    cents0 = " UNION ALL ".join(
        ["SELECT 0 AS cell, p.vn AS w FROM pool p WHERE p.pr = 1"]
        + [
            f"SELECT {j}, p.vn FROM pool p JOIN pk{j} USING (pr)"
            for j in range(1, n_lists)
        ]
    )
    parts.append(f"cents0 AS MATERIALIZED ({cents0})")
    # Lloyd refinement: rounded-9 argmax assignment (ties → smallest cell),
    # per-(cell, dim) mean rounded to 9, renormalized; cells with no
    # members (or a zero-norm mean) keep their previous centroid
    for it in range(max(lloyd_iters, 0)):
        parts.append(
            f"""asg{it} AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT en.vec_id, c.cell,
               row_number() OVER (PARTITION BY en.vec_id
                   ORDER BY round(list_inner_product(en.vn, c.w), 9) DESC,
                            c.cell) AS rn
        FROM en, cents{it} c) WHERE rn = 1),
    mn{it} AS MATERIALIZED (
      SELECT a.cell, u.d, round(avg(en.v[u.d]), 9) AS m
      FROM asg{it} a JOIN en USING (vec_id),
           unnest(generate_series(1, len(en.v))) AS u(d)
      GROUP BY 1, 2),
    mv{it} AS MATERIALIZED (
      SELECT cell, list(m ORDER BY d) AS mv FROM mn{it} GROUP BY cell),
    cents{it + 1} AS MATERIALIZED (
      SELECT c.cell,
             CASE WHEN mv.mv IS NOT NULL
                       AND sqrt(list_inner_product(mv.mv, mv.mv)) > 0
                  THEN list_transform(mv.mv,
                         x -> x / sqrt(list_inner_product(mv.mv, mv.mv)))
                  ELSE c.w END AS w
      FROM cents{it} c LEFT JOIN mv{it} mv USING (cell))"""
        )
    fin = max(lloyd_iters, 0)
    parts.append(
        f"""afin AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT en.vec_id, c.cell,
               row_number() OVER (PARTITION BY en.vec_id
                   ORDER BY round(list_inner_product(en.vn, c.w), 9) DESC,
                            c.cell) AS rn
        FROM en, cents{fin} c) WHERE rn = 1),
    pcells AS MATERIALIZED (
      SELECT probe_id, cell FROM (
        SELECT en.vec_id AS probe_id, c.cell,
               row_number() OVER (PARTITION BY en.vec_id
                   ORDER BY round(list_inner_product(en.vn, c.w), 9) DESC,
                            c.cell) AS rn
        FROM en, cents{fin} c WHERE en.vec_id < {n_probes})
      WHERE rn <= {probe_lists}),
    scored AS MATERIALIZED (
      SELECT p.probe_id, a.vec_id AS cand_id,
             round(list_inner_product(pe.vn, ce.vn), 4) AS cosine
      FROM pcells p
      JOIN afin a ON a.cell = p.cell AND a.vec_id >= {n_probes}
      JOIN en pe ON pe.vec_id = p.probe_id
      JOIN en ce ON ce.vec_id = a.vec_id),
    ranked AS (
      SELECT probe_id, cand_id, cosine,
             CAST(row_number() OVER (PARTITION BY probe_id
                  ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
      FROM scored)"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT probe_id, rank, cand_id, cosine FROM ranked"
        f" WHERE rank <= {k}"
    )


def _lsh_sig_cte() -> str:
    """Shared CTE: embeddings → (vec_id, v, nm, bucket) with the
    random-hyperplane bucket mirroring operators.similarity._plane_weight
    (md5 parity of p*10000+d)."""
    plane_terms = " + ".join(
        f"CASE WHEN list_inner_product(v, list_transform("
        f"generate_series(0, len(v) - 1), "
        f"d -> CASE WHEN {_hex2int(f'md5(CAST({p * 10_000} + d AS VARCHAR))')} % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END)) > 0 THEN {2 ** p} ELSE 0 END"
        for p in range(_N_PLANES)
    )
    return f"""
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sig AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm,
                       CAST({plane_terms} AS BIGINT) AS bucket
                FROM e)
    """


# --------------------------------------------------------------------------
# flagship: the extraction pipeline itself (rows-only check — the kernel is
# not SQL-expressible; its correctness gate is the byte-identity pytest)
# --------------------------------------------------------------------------

_PAGE_TMPL = (
    "<!DOCTYPE html><html><head><title>d</title><script>x()</script></head>"
    "<body><nav><ul><li><a href='/h'>home</a></li><li><a href='/a'>about</a>"
    "</li><li><a href='/c'>contact</a></li></ul></nav><main>{paras}</main>"
    "<footer><a href='/i'>imprint</a> <a href='/p'>privacy terms</a></footer>"
    "</body></html>"
)
# boilerplate injected between the two content paragraphs (shared by the
# page synth and the chars_in oracle arithmetic below)
_PROMO = "</p><div class='promo'><a href='/x'>subscribe newsletter</a></div><p>"
# bytes of synthesized html beyond the 2×len(text) payload (ASCII template,
# so bytes == chars); interpolated into the extract oracles so chars_in is
# hash-checked, not hand-pinned
_PAGE_OVERHEAD = (
    len(_PAGE_TMPL) - len("{paras}") + len("<p>") + len(_PROMO) + len("</p>")
)


def synth_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically wrap each documents row into the canonical pages
    schema (url, warc_ts, html, text, lang) — JVM-side template concat, so
    the page table is reproducible on any executor."""
    # hash-repartition on the key: the toy parquet is one split, which would
    # pin the downstream CPU-heavy kernels to a single core (real corpora
    # arrive with thousands of splits; this keeps the toy plan shaped the same)
    d = R.load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    paras = F.concat(
        F.lit("<p>"),
        F.col("text"),
        F.lit(_PROMO),
        F.reverse(F.col("text")),
        F.lit("</p>"),
    )
    html_str = F.concat(
        F.lit(_PAGE_TMPL.split("{paras}")[0]), paras, F.lit(_PAGE_TMPL.split("{paras}")[1])
    )
    return d.select(
        F.concat(
            F.lit("https://docs.example.org/"), F.col("source"), F.lit("/"), F.col("doc_id")
        ).alias("url"),
        (F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("doc_id") * 61)).alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def extract_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end two-stage extraction over synthesized pages: the
    fused detect → correct kernel, then the per-url output with metrics + content digest."""
    from .kernels_spark import extract_pages

    _pin(spark)
    pages = synth_pages_from_documents(spark, sf_dir)
    out = extract_pages(pages)
    return out.select(
        "url",
        "host",
        "lang",
        F.md5("extracted_text").alias("content_md5"),
        "n_blocks",
        "n_content_blocks",
        "n_spans",
        "n_flagged",
        "chars_in",
        "chars_out",
    )


def extract_host_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: skew-safe per-host rollup of extraction metrics via the salted
    two-phase aggregation."""
    from .kernels_spark import extract_pages
    from .pipeline import salted_host_agg

    _pin(spark)
    out = extract_pages(synth_pages_from_documents(spark, sf_dir))
    return salted_host_agg(
        out, ("chars_in", "sum"), ("chars_out", "sum"), ("url", "count")
    )


def _corpus_stage(stage: str):
    """queries() adapter for one stage of the §3.1 corpus chain."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .operators.alignment import corpus_pipeline

        _pin(spark)
        pages = synth_pages_from_documents(spark, sf_dir)
        return corpus_pipeline(pages, lang="en")[stage]

    run.__doc__ = f"corpus-build chain stage: {stage}"
    return run


def _pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pdf_layout import pdf_layout_query

    return pdf_layout_query(spark, sf_dir)


def _mets_link_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.mets import mets_link_table

    return mets_link_table(spark, sf_dir)


def _curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import curate_corpus

    return curate_corpus(spark, sf_dir)


def _curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import curation_report

    return curation_report(spark, sf_dir)


def _warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import warc_scan

    _pin(spark)
    return warc_scan(spark, sf_dir)


def _warc_gz_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import warc_gz_scan

    _pin(spark)
    return warc_gz_scan(spark, sf_dir)


def _warc_quarantine_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import warc_scan_quarantine

    _pin(spark)
    return warc_scan_quarantine(spark, sf_dir)


def _warc_cdx_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.warc import warc_cdx_lookup

    _pin(spark)
    return warc_cdx_lookup(spark, sf_dir)


def _robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.robots import robots_gate

    _pin(spark)
    return robots_gate(spark, sf_dir)


def _sitemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.sitemap import sitemap_scan

    _pin(spark)
    return sitemap_scan(spark, sf_dir)


def _robots_compliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.robots import robots_compliance

    _pin(spark)
    return robots_compliance(spark, sf_dir)


def _sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.sitemap import sitemap_coverage

    _pin(spark)
    return sitemap_coverage(spark, sf_dir)


def _crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.robots import crawl_schedule

    _pin(spark)
    return crawl_schedule(spark, sf_dir)


def _export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The export manifest's reason histogram (pipeline.
    export_training_corpus) as a driver-checked relation: every input doc
    accounted for by its curation verdict, with the kept/exported count
    the manifest reports as n_exported. Certifies the END PRODUCT's
    accounting, not just the verdict (VERDICT r2 next-step #8)."""
    from .operators.curation import curate_corpus

    _pin(spark)
    return (
        curate_corpus(spark, sf_dir)
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "reason",
            "n_docs",
            (F.col("reason") == "kept").cast("int").alias("is_exported"),
        )
    )


def _wordpiece_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.wordpiece import build_vocab_df
    from .operators.relational import load

    d = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return build_vocab_df(d, "text", k=200)


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def pinned(fn):
        def wrapped(spark, sf_dir):
            _pin(spark)
            return fn(spark, sf_dir)

        wrapped.__doc__ = fn.__doc__
        return wrapped

    return {
        # flagship kernels (rows-only)
        "extract_pipeline": extract_flagship,
        "extract_host_metrics": extract_host_metrics,
        # the reference's §3.1 corpus-build chain over synthesized pages
        # (NW alignment kernel → band scoring → windows → rollup → split);
        # kernel-derived → rows-only checks
        "corpus_alignments": _corpus_stage("alignments"),
        "corpus_windows": _corpus_stage("windows"),
        "corpus_stats": _corpus_stage("stats"),
        "corpus_split": _corpus_stage("split"),
        # filters / projections
        "filter_project": pinned(R.filter_project),
        "cer_bucket_hist": pinned(R.cer_bucket_hist),
        "similarity_band": pinned(R.similarity_band),
        # joins
        "equijoin_agg": pinned(R.equijoin_agg),
        "broadcast_dim_join": pinned(R.broadcast_dim_join),
        # S3: real METS XML link-table extraction (ElementTree parse →
        # pivoted dimension → broadcast remap join)
        "mets_link_table": pinned(_mets_link_table),
        # WARC file framing roundtrip (S-row: the Common-Crawl archive
        # format) — multi-record blobs parsed by cursor walk
        "warc_scan": _warc_scan,
        # .warc.gz form: per-record gzip members (Common Crawl layout),
        # member-walk + inflate + same framing parse, same oracle
        "warc_gz_scan": _warc_gz_scan,
        # error-resilient mode: corrupt archives quarantine (one status
        # row for the re-fetch queue), clean archives parse normally
        "warc_quarantine_scan": _warc_quarantine_scan,
        # CDX-style random access: write indexed archives, probe every
        # 17th doc through (file, offset, length) ranged point reads —
        # the returned values are what the reads DECODED, so the oracle
        # certifies the index, the member framing, and the inflate
        "warc_cdx_lookup": _warc_cdx_lookup,
        # robots.txt crawl-policy gate (RFC 9309 matcher in the kernel;
        # the fixture rules have a closed-form verdict the oracle states)
        "robots_gate": _robots_gate,
        # archive re-audit against current policies (takedown compliance)
        "robots_compliance": _robots_compliance,
        # politeness scheduler: per-host fetch slots x robots Crawl-delay
        "crawl_schedule": _crawl_schedule,
        # sitemap discovery frontier (hosts-sized XML parse + loc join)
        "sitemap_scan": _sitemap_scan,
        # per-host discovery-completeness audit: advertised vs crawled url
        # space (frontier gaps + stale-sitemap orphans)
        "sitemap_coverage": _sitemap_coverage,
        "routing_semi": pinned(R.routing_semi),
        "routing_anti": pinned(R.routing_anti),
        "reassembly": pinned(R.reassembly),
        # windows
        "sliding_window": pinned(R.sliding_window),
        "gaps_islands": pinned(R.gaps_islands),
        "topk_per_group": pinned(R.topk_per_group),
        # aggregations
        "rollup_stats": pinned(R.rollup_stats),
        "topk_vocab": pinned(R.topk_vocab),
        "bigram_confusion_topk": pinned(R.bigram_confusion_topk),
        "mean_by_group": pinned(R.mean_by_group),
        "minmax_by_group": pinned(R.minmax_by_group),
        "hourly_rollup": pinned(R.hourly_rollup),
        # as-of join: latest prior click per user for each error event,
        # union+ordered-window formulation (one shuffle, no range join)
        "asof_join": pinned(temporal.asof_join),
        # ordered-sequence funnel (view→click→purchase): chained per-step
        # min-aggs, no per-user ordered window over the full stream
        "funnel_analysis": pinned(temporal.funnel_analysis),
        # first-activity cohorts × day +1/+3/+7 retention (shifted-day
        # equality joins against the cohort dim, no windows)
        "cohort_retention": pinned(temporal.cohort_retention),
        "detector_eval": pinned(evaluation.detector_eval),
        # set ops / splits
        "stratified_split": pinned(R.stratified_split),
        "union_slices": pinned(R.union_slices),
        # dedup family — md5-keyed hashing, so every member (including the
        # banded-LSH candidate generation and the composite keep/drop flow)
        # is DuckDB-oracle-checked
        "dedup_exact": pinned(dedup.exact_groups),
        # normalization-aware exact dedup: canonical hash AFTER the
        # text_normalize folding catches typographic mirror variants
        "dedup_normalized": pinned(dedup.normalized_exact_groups),
        # encoding-damage gate: UTF-8-as-Latin-1 signatures + U+FFFD
        "mojibake_score": pinned(textstats.mojibake_score),
        # Shannon token entropy (Mitchell fixed-point): the info-theoretic
        # pair to quality_repetition (template spam low, salad high)
        "token_entropy": pinned(textstats.token_entropy),
        # the one-row dataset card (sizes, composition, hygiene, quality)
        "corpus_card": pinned(textstats.corpus_card),
        # per-doc integer TF-IDF key terms (extractive tagging export)
        "doc_keyterms": pinned(index.doc_keyterms),
        # URL-level dedup (the stage BEFORE content hashing in a web
        # pipeline): canonicalize scheme/case/www/query/fragment/slash
        # noise, one hash-agg on the canonical key
        "url_dedup": pinned(urls.url_dedup),
        # one-pass CUBE over (host, crawl day): all four grouping levels
        # of the crawl-ops dashboard from a single Expand + aggregation
        "crawl_cube": pinned(urls.crawl_cube),
        # crawl-budget tiers: per-host rollup + NTILE over the host dim
        "host_tiers": pinned(urls.host_tiers),
        # same result via the distributed rank path (no global window) —
        # same oracle, so the driver certifies the equivalence
        "host_tiers_scaled": pinned(urls.host_tiers_scaled),
        # integer-grid length histogram (float-free bin boundaries)
        "length_histogram": pinned(textstats.length_histogram),
        "url_blocklist": pinned(urls.url_blocklist_gate),
        # inter-document repeated-line removal (RefinedWeb/CCNet-style
        # boilerplate-line filter): tiny hot-line set → broadcast anti-join
        "line_dedup": pinned(lines.line_dedup),
        "passage_dedup": pinned(lines.passage_dedup),
        "substring_dedup": pinned(substring.substring_dedup),
        # host-level reputation gate: per-host lang-pass rate, integer
        # threshold, broadcast rejoin
        "host_reputation_gate": pinned(urls.host_reputation_gate),
        # cross-snapshot incremental dedup: history digest probe +
        # in-batch first-occurrence window on one shared hash key
        "dedup_incremental": pinned(dedup.incremental_dedup),
        "dedup_bloom": pinned(dedup.bloom_gate),
        "snapshot_diff": pinned(dedup.snapshot_diff),
        # training-sequence packing layout: two-level prefix sum (bucket
        # cumsum + broadcast bucket offsets), no global-sort window
        "seq_pack": pinned(packing.sequence_pack),
        # per-output-shard provenance manifest (the trainer's data card:
        # dominant source, source diversity, language share per shard)
        "shard_manifest": pinned(packing.shard_manifest),
        "dedup_jaccard_pairs": pinned(dedup.jaccard_pairs),
        "dedup_minhash_lsh": pinned(dedup.minhash_lsh_candidates),
        # fuzzy cross-snapshot dedup: batch probes yesterday's band-hash
        # index, candidate-only Jaccard verify (incremental × LSH)
        "dedup_minhash_incremental": pinned(dedup.minhash_incremental),
        "dedup_minhash_lsh_salted": pinned(dedup.minhash_lsh_candidates_salted),
        "dedup_lsh_bucket_stats": pinned(dedup.lsh_bucket_stats),
        # realized LSH recall curve vs exact-Jaccard ground truth
        "lsh_recall_eval": pinned(dedup.lsh_recall_eval),
        "dedup_embedding_cosine": pinned(dedup.embedding_cosine_pairs),
        "dedup_corpus_keep": pinned(dedup.deduplicate_corpus),
        # transitive duplicate clusters: large-star/small-star connected
        # components over exact + LSH-verified near-dup edges (oracle:
        # recursive-CTE min-id reachability)
        "dedup_components": pinned(components.duplicate_components),
        # the end-to-end curation verdict (lang + quality + repetition +
        # dedup composed) — oracle composes the stage SQLs as CTEs
        "curation_pipeline": pinned(_curation),
        # per-(source, reason) acceptance report over the composite verdict
        "curation_report": pinned(_curation_report),
        "export_audit": _export_audit,
        # benchmark decontamination (broadcast eval-shingle semi join)
        "decontaminate": pinned(dedup.decontaminate),
        # unigram-LM quality score (CCNet perplexity-filter analog,
        # integer aggregates for cross-engine exactness)
        "lm_unigram_score": pinned(textstats.lm_unigram_score),
        # bigram-LM surprise (integer inverse conditional probability):
        # catches common-words-alien-sequences docs the unigram LM passes
        "lm_bigram_score": pinned(textstats.lm_bigram_score),
        # quality-weighted deterministic downsampling (md5 coin)
        "corpus_sample": pinned(textstats.quality_weighted_sample),
        # PII detect + redact (JVM regexp over deterministically
        # PII-augmented text)
        "pii_redact": pinned(textstats.pii_redact),
        "corpus_mix": pinned(textstats.source_mix_sample),
        "quality_classifier": pinned(textstats.quality_classifier),
        # in-engine classifier TRAINING: batch perceptron (integer-exact,
        # so the learning loop itself is SQL-replay-certified) + scoring
        # under the learned weights
        "quality_classifier_train": pinned(textstats.quality_classifier_train),
        "quality_classifier_learned": pinned(
            textstats.quality_classifier_learned
        ),
        # held-out P/R/F1 of the learned filter: train on 4/5, score the
        # unseen fifth, aggregate the A9 confusion surface — fully replayed
        "quality_classifier_eval": pinned(textstats.quality_classifier_eval),
        # held-out P/R/F1 at a constant integer threshold grid — the curve
        # behind the production keep-threshold choice
        "quality_classifier_pr_curve": pinned(
            textstats.quality_classifier_pr_curve
        ),
        # calibrated keep-threshold selection: argmax over the sweep
        # (max-F1 and precision-floor picks, integer tie-breaks pinned)
        "quality_threshold_pick": pinned(textstats.quality_threshold_pick),
        # ... and the picked max-F1 cutoff applied to EVERY document —
        # the calibrated replacement for the fixed score>0 gate
        "quality_gate_calibrated": pinned(textstats.quality_gate_calibrated),
        # Gopher-rule quality signals (Rae et al. 2021 Appendix A):
        # word-shape + line-shape stats and the composite keep verdict
        "gopher_quality": pinned(textstats.gopher_quality),
        "lang_id_trigram": pinned(textstats.lang_id_trigram),
        # TRAINED language ID (Cavnar-Trenkle char-n-gram rank profiles,
        # learned from labeled data in-engine — closes the langid.py
        # parity gap with a trained detector instead of fixed heuristics):
        # profile table, held-out per-doc verdicts, confusion matrix
        "lang_id_train": pinned(langprofile.lang_id_train),
        "lang_id_learned": pinned(langprofile.lang_id_learned),
        "lang_id_eval": pinned(langprofile.lang_id_eval),
        # calibrated posterior gate (the reference's langid prob > 0.999,
        # union-bound form): integer Naive Bayes, Mitchell fixed-point logs
        "lang_id_posterior": pinned(langprofile.lang_id_posterior),
        "dedup_simhash": pinned(dedup.simhash_bucket_pairs),
        "dedup_simhash_multiprobe": pinned(dedup.simhash_rotation_pairs),
        # similarity search
        "ann_brute_force": pinned(similarity.brute_force_topk),
        "ann_lsh_bucketed": pinned(similarity.lsh_bucketed_topk),
        "ann_lsh_multiprobe": pinned(similarity.lsh_multiprobe_topk),
        "ann_ivf": pinned(similarity.ivf_topk),
        "ann_ivf_pinned": pinned(similarity.ivf_topk_pinned),
        # kept name: one fingerprint implementation serves both
        "fingerprints_np": pinned(textstats.fingerprints),
        # kept name: the bucket column of the one signature
        # implementation (the form ann_lsh_* consume), hash-certified
        # against the md5-parity plane formula
        "lsh_signatures_np": lambda spark, sf_dir: (
            _pin(spark)
            or similarity.lsh_signatures(spark, sf_dir).select(
                "vec_id", "label", "lsh_bucket"
            )
        ),
        "embedding_norms": pinned(similarity.embedding_norms),
        "embedding_quantize": pinned(similarity.quantize_embeddings),
        # text analysis
        "lang_id": pinned(textstats.lang_id),
        "quality_score": pinned(textstats.quality_score),
        "quality_repetition": pinned(textstats.repetition_stats),
        "token_stats": pinned(textstats.token_stats),
        # exact per-source length quantiles (interpolation bit-identical
        # to DuckDB quantile_cont; approx_percentile is the 100-TB path)
        "length_percentiles": pinned(textstats.length_percentiles),
        # unicode punctuation folding (translate map shared with the
        # oracle; deterministic fancy-char augmentation)
        "text_normalize": pinned(textstats.text_normalize),
        "bpe_token_stats": pinned(textstats.bpe_token_stats),
        # learned BPE: distributed merge training (selection certified by
        # a full replay oracle) + token counts under the learned merges
        "bpe_train": pinned(bpe.bpe_train),
        "bpe_tokenize": pinned(bpe.bpe_tokenize),
        # per-language tokenizer fertility under the learned merges
        "bpe_fertility": pinned(bpe.bpe_fertility),
        # deployment-shape tokenizer: greedy longest-match over the
        # shipped vocab alone (the WordPiece runtime form)
        "bpe_munch_tokenize": pinned(bpe.bpe_munch_tokenize),
        # merge-order vs greedy segmentation audit (token-budget drift)
        "tokenizer_divergence": pinned(bpe.tokenizer_divergence),
        "bpe_vocab": pinned(bpe.bpe_vocab),
        # tokenizer inference: text → learned-vocab id arrays (the input
        # seq_pack actually wants)
        "bpe_encode": pinned(bpe.bpe_encode),
        # M14: one-hot tensorization of learned token ids (bounded batch)
        "onehot_tensorize": pinned(bpe.onehot_tensorize),
        # corpus search surface: postings statistics + conjunctive
        # multi-term query (contamination audits / takedown lookups)
        "inverted_index": pinned(index.inverted_index),
        "keyword_search": pinned(index.keyword_search),
        "keyword_search_bm25": pinned(index.keyword_search_bm25),
        # per-doc distinctive terms: integer-only TF-IDF stand-in
        "rare_terms": pinned(index.rare_terms),
        # exact-adjacency phrase lookup via positional intersection
        "phrase_search": pinned(index.phrase_search),
        "token_class_freq": pinned(textstats.token_class_freq),
        "cer_bands_kernel": pinned(textstats.cer_bands_kernel),
        # grapheme-cluster CER (dinglehopper's distance unit, SURVEY §7.3):
        # combining marks injected in-plan, cluster DP in the kernel, and
        # a cluster→ASCII remap makes DuckDB levenshtein the exact oracle
        "cer_clusters": pinned(textstats.cer_clusters_kernel),
        "fingerprints": pinned(textstats.fingerprints),
        # wordpiece vocabulary build (A1/F3 surface) — distributed 1..3-gram
        # piece counting, top-200
        "wordpiece_vocab_topk": pinned(_wordpiece_vocab_topk),
        # line split → posexplode → relational reassembly (F10/J7 pair;
        # greedy split is kernel-side, but the roundtrip invariant is
        # SQL-stateable, so the driver projection is oracle-checked)
        "line_split_roundtrip": pinned(lines.split_roundtrip_flags),
        # PDF/layout parse (north_rule): real FlateDecode+text-matrix parser;
        # n_lines/n_pages/roundtrip_ok are pure functions of documents.text,
        # so the whole parse→reassemble path is oracle-checked
        "pdf_layout_parse": pinned(_pdf_layout),
        # multimodal plumbing: the codec stub is deterministic byte math, so
        # decode/resize/features all have exact DuckDB oracles over
        # hex(encode(text))
        # link-graph family: anchor extraction from the synthesized html
        # (JVM regexp, scan-side), host-level adjacency rollup, and
        # integer fixed-point PageRank whose K-iteration loop replays
        # bit-for-bit in the oracle (the bpe_train convention)
        "page_outlinks": pinned(linkgraph.page_outlinks),
        "link_graph": pinned(linkgraph.link_graph),
        "host_pagerank": pinned(linkgraph.host_pagerank),
        # HITS hubs/authorities: the role-separating companion to
        # PageRank (unnormalized integer power iteration, exact)
        "host_hits": pinned(linkgraph.host_hits),
        # seeded personalized variant: teleport + dangling mass flow only
        # to the trusted seed set (link-spam demotion / crawl priority)
        "host_trustrank": pinned(linkgraph.host_trustrank),
        # spam mass (VLDB'06): share of a host's PageRank not backed by
        # trust — the demotion decision surface fed by the two rank loops
        "host_spam_mass": pinned(linkgraph.host_spam_mass),
        # structural degree/reciprocity profile (link-farm features)
        "link_degree_stats": pinned(linkgraph.link_degree_stats),
        # deterministic label-propagation communities (topical clusters)
        "host_communities": pinned(linkgraph.host_communities),
        # cluster-granularity demotion table: communities x spam mass
        "community_profiles": pinned(linkgraph.community_profiles),
        # anchor-text aggregation per target host (the off-page web-IR
        # signal), tag-skeleton template clustering, cross-host mirror
        # rollup, PMI collocations, canonical keeper per dup component,
        # per-host language mix (r5 web-curation additions)
        "anchor_text_index": pinned(linkgraph.anchor_text_index),
        # asymmetric containment: quote/aggregator pages whose shingles sit
        # inside a larger doc (high containment, LOW Jaccard — the modality
        # the symmetric dedup family misses)
        "containment_pairs": pinned(dedup.containment_pairs),
        # per-section churn rollup of snapshot_diff -> adaptive recrawl tiers
        "crawl_change_rate": pinned(dedup.crawl_change_rate),
        "template_fingerprint": pinned(webstruct.template_fingerprint),
        "mirror_detection": pinned(webstruct.mirror_detection),
        # provenance overlap: which source pairs share distinct content
        "source_overlap_matrix": pinned(webstruct.source_overlap_matrix),
        # stable per-template audit sample (extraction QA workflow)
        "template_sample": pinned(webstruct.template_sample),
        # REAL kernel metrics rolled up per template skeleton
        "template_extract_metrics": pinned(webstruct.template_extract_metrics),
        "collocations": pinned(index.collocations),
        "component_canonical": pinned(components.component_canonical),
        "host_language_profile": pinned(urls.host_language_profile),
        # C4/RefinedWeb anti-domination rule: deterministic uniform cap on
        # any single host's contribution, every doc gets an auditable verdict
        "host_cap_sample": pinned(urls.host_cap_sample),
        # ingest-volume trend with integer-exact spike detection over the
        # day dimension (trailing self-join, no global window)
        "ingest_trend": pinned(temporal.ingest_trend),
        # per-host SELF-ADAPTIVE trailing baseline (the certified batch
        # twin of streaming.trailing_anomaly_stream)
        "host_trailing_anomaly": pinned(temporal.host_trailing_anomaly),
        # cross-doc lexical diversity (distinct-1/distinct-3 per source) —
        # template spam collapses here even when per-doc repetition passes
        "text_diversity": pinned(textstats.text_diversity),
        # SemDeDup: embedding-cluster dedup (paraphrase/re-encode twins no
        # lexical method sees), pinned-centroid clustering + in-cell prune
        "semantic_dedup": pinned(similarity.semantic_dedup),
        # winnowing (SIGMOD'03 / MOSS): position-robust fingerprint
        # selection + cross-doc plagiarism/contamination match pairs
        # (selection computed per-doc in an Arrow kernel, zero shuffle;
        # the _np name is kept and serves the same implementation)
        "winnow_fingerprints": pinned(winnow.winnow_fingerprints),
        "winnow_fingerprints_np": pinned(winnow.winnow_fingerprints),
        "winnow_matches": pinned(winnow.winnow_matches),
        # RAG-export chunking: overlapping fixed-size token windows
        "passage_windows": pinned(lines.passage_windows),
        # end-to-end RAG retrieval: chunk -> feature-hash embed -> sparse
        # relational dot product -> cosine top-k per probe
        "passage_retrieval": pinned(similarity.passage_retrieval),
        # Count-Min sketch with hash-checked estimates vs exact counts
        "cms_token_counts": pinned(index.cms_token_counts),
        # HyperLogLog with integer-exact register state and harmonic sum
        "hll_distinct_tokens": pinned(index.hll_distinct_tokens),
        "multimodal_decode": pinned(multimodal.decode_metadata),
        "multimodal_resize": pinned(multimodal.resize_metadata),
        "multimodal_features": pinned(multimodal.feature_components),
        "frame_sample": pinned(multimodal.frame_sample_plan),
        # perceptual average-hash fingerprints over the binary payload
        # path (aHash; luma sampling is the deterministic fake decode)
        "image_ahash": pinned(multimodal.image_ahash),
        # banded bucket join + Hamming verify — the image near-dup
        # pipeline, witness twins injected every 37th doc
        "image_ahash_dedup": pinned(multimodal.image_ahash_dedup),
        # realized recall of the 4×15 banding vs pigeonhole-complete
        # 10×6 ground truth, per Hamming value (the honesty instrument)
        "ahash_recall_eval": pinned(multimodal.ahash_recall_eval),
        # DSIR (Xie et al. 2023): hashed-bigram importance model between
        # the target domain and the raw pool — training is ONE aggregation
        # to a DSIR_BUCKETS-row dim (Mitchell fixed-point logs, int-exact)
        "dsir_weights": pinned(selection.dsir_weights),
        # incremental retrain: history counts + delta counts merged by
        # one sum — must equal full retraining (same oracle certifies)
        "dsir_weights_incremental": pinned(selection.dsir_weights_incremental),
        # per-doc fixed-point log importance score (weight dim broadcast)
        "dsir_score": pinned(selection.dsir_score),
        # deterministic Gumbel-race top-k resample of the raw pool
        "dsir_sample": pinned(selection.dsir_sample),
        # CCNet head/middle/tail per-language LM-score terciles (integer
        # order statistics over the (lang, score)-histogram dim)
        "ccnet_buckets": pinned(selection.ccnet_buckets),
        # two-phase (pretrain/anneal) schedule: top-decile quality slice
        # + deterministic shards + exporter-sortable curriculum key
        "curriculum_plan": pinned(selection.curriculum_plan),
        # temperature-scaled source mixing (alpha = 1/2 multinomial):
        # per-doc inclusion rate 1/isqrt(n_src), md5-coin deterministic
        "mix_temperature": pinned(selection.mix_temperature),
        # Heaps-law vocabulary growth at power-of-two doc checkpoints
        "vocab_growth": pinned(selection.vocab_growth),
        # pairwise source KL divergence (Mitchell fixed-point logs) —
        # the outlier/redundant-feed diagnostic behind mix weighting
        "source_divergence": pinned(selection.source_divergence),
        # contrastive triplet mining (hard negatives for metric
        # learning): one window pass picks positive + hard negative
        "triplet_mining": pinned(similarity.triplet_mining),
        # TICCL anagram-hash OCR-variant lookup (Reynaert 2010; closes
        # the reference's Makefile.anagram experiment in-engine)
        "anagram_candidates": pinned(anagram.anagram_candidates),
        # best correction per error word (frequency-directed, pinned ties)
        "anagram_corrections": pinned(anagram.anagram_corrections),
    }


def _bpe_stages_sql(num_merges: int) -> str:
    """CTE chain replaying operators.bpe.train_merges in DuckDB: per
    stage, adjacent-pair counts over the word-freq table, top-1 with the
    pinned tie-break (scalar subquery), one anchored replace. Every
    stage CTE is MATERIALIZED: DuckDB inlines plain CTEs, and the
    4 scalar-subquery references per stage would otherwise expand the
    chain into ~4^K scans of documents (measured: blows the 20k fd
    limit at K=8). Certifies
    merge SELECTION, not just the apply — the whole training loop is in
    the oracle. Generated (not hand-written) so num_merges stays one
    constant shared with the Spark side."""
    from .operators.textstats import _BPE_PATTERN

    parts = [
        f"""pieces AS MATERIALIZED (
      SELECT doc_id,
             unnest(regexp_extract_all(
                 replace(coalesce(text, ''), chr(31), ''),
                 '{_BPE_PATTERN}')) AS piece
      FROM documents
    ),
    wf0 AS MATERIALIZED (
      SELECT regexp_replace(piece, '(.)', chr(31) || '\\1' || chr(31), 'gs')
               AS w,
             count(*) AS freq
      FROM pieces GROUP BY 1
    )"""
    ]
    for k in range(num_merges):
        parts.append(
            f"""pr{k} AS MATERIALIZED (
      SELECT s.syms[t.i] AS l, s.syms[t.i + 1] AS r, sum(s.freq) AS cnt
      FROM (SELECT list_filter(string_split(w, chr(31)), x -> x <> '')
                     AS syms, freq
            FROM wf{k}) s,
           unnest(generate_series(1, len(s.syms) - 1)) AS t(i)
      GROUP BY 1, 2
    ),
    p{k} AS MATERIALIZED (SELECT l, r FROM pr{k} ORDER BY cnt DESC, l, r LIMIT 1),
    wf{k + 1} AS MATERIALIZED (
      SELECT replace(w,
          chr(31) || (SELECT l FROM p{k}) || chr(31) || chr(31)
                  || (SELECT r FROM p{k}) || chr(31),
          chr(31) || (SELECT l FROM p{k}) || (SELECT r FROM p{k}) || chr(31))
            AS w,
          freq
      FROM wf{k})"""
        )
    return "WITH " + ",\n".join(parts)


def _bpe_train_oracle(num_merges: int) -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, (SELECT l FROM p{k}) AS lhs, "
        f"(SELECT r FROM p{k}) AS rhs"
        for k in range(num_merges)
    )
    return _bpe_stages_sql(num_merges) + "\n" + union


def _bpe_tokenize_oracle(num_merges: int) -> str:
    chain = "w"
    for k in range(num_merges):
        chain = (
            f"replace({chain}, chr(31) || (SELECT l FROM p{k}) || chr(31)"
            f" || chr(31) || (SELECT r FROM p{k}) || chr(31),"
            f" chr(31) || (SELECT l FROM p{k}) || (SELECT r FROM p{k})"
            f" || chr(31))"
        )
    return (
        _bpe_stages_sql(num_merges)
        + f""",
    dw AS MATERIALIZED (
      SELECT doc_id,
             regexp_replace(piece, '(.)', chr(31) || '\\1' || chr(31), 'gs')
               AS w
      FROM pieces
    ),
    g AS MATERIALIZED (
      SELECT doc_id, count(*) AS n_pieces,
             sum(len(list_filter(string_split({chain}, chr(31)),
                                 x -> x <> ''))) AS n_tok
      FROM dw GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(g.n_pieces, 0) AS INTEGER) AS n_pieces,
           CAST(coalesce(g.n_tok, 0) AS INTEGER) AS n_bpe_tokens
    FROM documents d LEFT JOIN g USING (doc_id)"""
    )


def _bpe_chain(num_merges: int) -> str:
    """Nested replace expression applying the learned merges in rank
    order to a wrapped-word column ``w`` (shared by the tokenize and
    encode oracles)."""
    chain = "w"
    for k in range(num_merges):
        chain = (
            f"replace({chain}, chr(31) || (SELECT l FROM p{k}) || chr(31)"
            f" || chr(31) || (SELECT r FROM p{k}) || chr(31),"
            f" chr(31) || (SELECT l FROM p{k}) || (SELECT r FROM p{k})"
            f" || chr(31))"
        )
    return chain


def _bpe_encode_oracle(num_merges: int) -> str:
    from .operators.textstats import _BPE_PATTERN

    return (
        _bpe_stages_sql(num_merges)
        + f""",
    vocab AS MATERIALIZED (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY vfreq DESC, symbol)
                  AS INTEGER) AS vocab_id
      FROM (SELECT s AS symbol, sum(freq) AS vfreq
            FROM (SELECT unnest(list_filter(string_split(w, chr(31)),
                                            x -> x <> '')) AS s, freq
                  FROM wf{num_merges})
            GROUP BY 1)
    ),
    dp AS MATERIALIZED (
      SELECT doc_id, i AS piece_pos,
             regexp_replace(t.ps[i], '(.)', chr(31) || '\\1' || chr(31),
                            'gs') AS w
      FROM (SELECT doc_id,
                   regexp_extract_all(
                       replace(coalesce(text, ''), chr(31), ''),
                       '{_BPE_PATTERN}') AS ps
            FROM documents) t,
           unnest(generate_series(1, len(t.ps))) AS u(i)
    ),
    dsym AS MATERIALIZED (
      SELECT doc_id, piece_pos, j AS sym_pos, t.syms[j] AS symbol
      FROM (SELECT doc_id, piece_pos,
                   list_filter(string_split({_bpe_chain(num_merges)},
                                            chr(31)), x -> x <> '') AS syms
            FROM dp) t,
           unnest(generate_series(1, len(t.syms))) AS u(j)
    ),
    enc AS MATERIALIZED (
      SELECT s.doc_id,
             list(v.vocab_id ORDER BY s.piece_pos, s.sym_pos) AS token_ids
      FROM dsym s JOIN vocab v USING (symbol) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(len(e.token_ids), 0) AS INTEGER) AS n_tokens,
           coalesce(e.token_ids, CAST([] AS INTEGER[])) AS token_ids
    FROM documents d LEFT JOIN enc e USING (doc_id)"""
    )


def _bpe_munch_oracle(num_merges: int, stages: int) -> str:
    """Maximal-munch inference replay: training CTEs + vocab (shared with
    the encode oracle) + ``stages`` chained MATERIALIZED munch steps —
    each emits one symbol per active cursor via a correlated
    longest-prefix lookup (ORDER BY length DESC LIMIT 1), then advances
    the cursor. ``stages`` must cover the longest piece (fixture max is
    8 chars; the test pins this bound at every SF)."""
    from .operators.textstats import _BPE_PATTERN

    parts = (
        _bpe_stages_sql(num_merges)
        + f""",
    vocab AS MATERIALIZED (
      SELECT symbol,
             CAST(row_number() OVER (ORDER BY vfreq DESC, symbol)
                  AS INTEGER) AS vocab_id
      FROM (SELECT s AS symbol, sum(freq) AS vfreq
            FROM (SELECT unnest(list_filter(string_split(w, chr(31)),
                                            x -> x <> '')) AS s, freq
                  FROM wf{num_merges})
            GROUP BY 1)
    ),
    mp AS MATERIALIZED (
      SELECT doc_id, i - 1 AS piece_pos, t.ps[i] AS piece
      FROM (SELECT doc_id,
                   regexp_extract_all(
                       replace(coalesce(text, ''), chr(31), ''),
                       '{_BPE_PATTERN}') AS ps
            FROM documents) t,
           unnest(generate_series(1, len(t.ps))) AS u(i)
    ),
    st0 AS MATERIALIZED (
      SELECT doc_id, piece_pos, piece, 1 AS pos, 0 AS ord
      FROM mp WHERE length(piece) >= 1
    )"""
    )
    for k in range(1, stages + 1):
        parts += f""",
    em{k} AS MATERIALIZED (
      SELECT s.doc_id, s.piece_pos, s.ord,
             coalesce(
               (SELECT v.symbol FROM vocab v
                WHERE v.symbol = substr(s.piece, s.pos, length(v.symbol))
                ORDER BY length(v.symbol) DESC, v.symbol LIMIT 1),
               substr(s.piece, s.pos, 1)) AS symbol
      FROM st{k - 1} s
    ),
    st{k} AS MATERIALIZED (
      SELECT s.doc_id, s.piece_pos, s.piece,
             s.pos + length(e.symbol) AS pos, s.ord + 1 AS ord
      FROM st{k - 1} s
      JOIN em{k} e ON e.doc_id = s.doc_id AND e.piece_pos = s.piece_pos
      WHERE s.pos + length(e.symbol) <= length(s.piece)
    )"""
    union = " UNION ALL ".join(
        f"SELECT * FROM em{k}" for k in range(1, stages + 1)
    )
    return (
        parts
        + f"""
    SELECT e.doc_id, CAST(e.piece_pos AS INTEGER) AS piece_pos,
           CAST(e.ord AS INTEGER) AS sym_pos, e.symbol,
           CAST(coalesce(v.vocab_id, -1) AS INTEGER) AS vocab_id
    FROM ({union}) e LEFT JOIN vocab v USING (symbol)"""
    )


def _perceptron_stages_sql(epochs: int, train_where: str = "") -> str:
    """CTE chain replaying operators.textstats.train_perceptron in DuckDB
    (the _bpe_stages_sql pattern): per epoch, score under the current
    weights, mark mistakes (y·score ≤ 0), apply the summed integer
    update. Certifies weight LEARNING end-to-end — batch perceptron is
    deterministic and integer-only, so there is nothing to drift.
    MATERIALIZED for the same ~4^K-inlining reason as the BPE stages.
    train_where (e.g. "WHERE doc_id % 5 != 0") restricts the TRAINING
    fold for the held-out eval oracle."""
    from .operators.textstats import CLF_DIM

    bucket = _hex2int("md5(token)") + f" % {CLF_DIM}"
    parts = [
        f"""t AS MATERIALIZED (
      SELECT doc_id, coalesce(text, '') AS text, {_TOKS_SQL} AS toks
      FROM documents {train_where}
    ),
    lab AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(toks) >= 10
                   AND round(length(regexp_replace(lower(text), '[^a-z]',
                                                   '', 'g'))
                             / greatest(length(text), 1), 4) > 0.6
                  THEN 1 ELSE -1 END AS y
      FROM t
    ),
    feats AS MATERIALIZED (
      SELECT doc_id, {bucket} AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM t)
      GROUP BY 1, 2
    ),
    w0 AS MATERIALIZED (
      SELECT unnest(generate_series(0, {CLF_DIM - 1})) AS bucket,
             CAST(0 AS BIGINT) AS weight
    )"""
    ]
    for k in range(epochs):
        parts.append(
            f"""sc{k} AS MATERIALIZED (
      SELECT f.doc_id, sum(w.weight * f.cnt) AS s
      FROM feats f JOIN w{k} w USING (bucket) GROUP BY 1
    ),
    mis{k} AS MATERIALIZED (
      SELECT l.doc_id, l.y FROM lab l LEFT JOIN sc{k} s USING (doc_id)
      WHERE l.y * coalesce(s.s, 0) <= 0
    ),
    d{k} AS MATERIALIZED (
      SELECT f.bucket, sum(m.y * f.cnt) AS delta
      FROM mis{k} m JOIN feats f USING (doc_id) GROUP BY 1
    ),
    w{k + 1} AS MATERIALIZED (
      SELECT w.bucket, w.weight + coalesce(d.delta, 0) AS weight
      FROM w{k} w LEFT JOIN d{k} d USING (bucket)
    )"""
        )
    return "WITH " + ",\n".join(parts)


def _perceptron_train_oracle(epochs: int) -> str:
    return (
        _perceptron_stages_sql(epochs)
        + f"""
    SELECT CAST(bucket AS INTEGER) AS bucket,
           CAST(weight AS BIGINT) AS weight
    FROM w{epochs}"""
    )


def _perceptron_learned_oracle(epochs: int) -> str:
    return (
        _perceptron_stages_sql(epochs)
        + f""",
    scf AS MATERIALIZED (
      SELECT f.doc_id, sum(w.weight * f.cnt) AS s
      FROM feats f JOIN w{epochs} w USING (bucket) GROUP BY 1
    )
    SELECT l.doc_id,
           CAST(coalesce(s.s, 0) AS BIGINT) AS clf_score,
           CAST(CASE WHEN coalesce(s.s, 0) > 0 THEN 1 ELSE 0 END
                AS INTEGER) AS pred_keep,
           CAST(CASE WHEN l.y = 1 THEN 1 ELSE 0 END AS INTEGER)
             AS label_keep
    FROM lab l LEFT JOIN scf s USING (doc_id)"""
    )


def _perceptron_eval_oracle(epochs: int) -> str:
    """Held-out P/R/F1 of the LEARNED classifier (VERDICT r4 next-step
    #6): replay training on the 4/5 fold (doc_id % CLF_EVAL_FOLD != 0),
    score the held-out fifth under the final weights, then fold the 4
    integer confusion cells into the detector_eval metric expressions —
    so the oracle certifies the training, the inference, AND the
    evaluation rollup in one statement."""
    from .operators.textstats import CLF_DIM, CLF_EVAL_FOLD

    bucket = _hex2int("md5(token)") + f" % {CLF_DIM}"
    return (
        _perceptron_stages_sql(
            epochs, f"WHERE doc_id % {CLF_EVAL_FOLD} != 0"
        )
        + f""",
    th AS MATERIALIZED (
      SELECT doc_id, coalesce(text, '') AS text, {_TOKS_SQL} AS toks
      FROM documents WHERE doc_id % {CLF_EVAL_FOLD} = 0
    ),
    labh AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(toks) >= 10
                   AND round(length(regexp_replace(lower(text), '[^a-z]',
                                                   '', 'g'))
                             / greatest(length(text), 1), 4) > 0.6
                  THEN 1 ELSE 0 END AS t
      FROM th
    ),
    featsh AS MATERIALIZED (
      SELECT doc_id, {bucket} AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM th)
      GROUP BY 1, 2
    ),
    sch AS MATERIALIZED (
      SELECT f.doc_id, sum(w.weight * f.cnt) AS s
      FROM featsh f JOIN w{epochs} w USING (bucket) GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN coalesce(s.s, 0) > 0 THEN 1 ELSE 0 END AS p, l.t
      FROM labh l LEFT JOIN sch s USING (doc_id)
    ),
    c AS (
      SELECT CAST(sum(p * t) AS BIGINT) AS tp,
             CAST(sum(p * (1 - t)) AS BIGINT) AS fp,
             CAST(sum((1 - p) * t) AS BIGINT) AS fn,
             CAST(sum((1 - p) * (1 - t)) AS BIGINT) AS tn
      FROM b
    )
    SELECT tp, fp, fn, tn,
           round(tp / greatest(tp + fp, 1), 6) AS prec,
           round(tp / greatest(tp + fn, 1), 6) AS rec,
           round(2 * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1))
                 / greatest(tp / greatest(tp + fp, 1)
                            + tp / greatest(tp + fn, 1), 1e-12), 6) AS f1,
           round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy
    FROM c"""
    )


def _perceptron_pr_curve_oracle(epochs: int) -> str:
    """Threshold-sweep replay: training CTEs + held-out scoring (shared
    with _perceptron_eval_oracle) + the constant arithmetic grid and the
    grid × score-rollup conditional aggregation — all integers until the
    final guarded divisions."""
    from .operators.textstats import CLF_DIM, CLF_EVAL_FOLD, PR_GRID

    bucket = _hex2int("md5(token)") + f" % {CLF_DIM}"
    return (
        _perceptron_stages_sql(
            epochs, f"WHERE doc_id % {CLF_EVAL_FOLD} != 0"
        )
        + f""",
    th AS MATERIALIZED (
      SELECT doc_id, coalesce(text, '') AS text, {_TOKS_SQL} AS toks
      FROM documents WHERE doc_id % {CLF_EVAL_FOLD} = 0
    ),
    labh AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN len(toks) >= 10
                   AND round(length(regexp_replace(lower(text), '[^a-z]',
                                                   '', 'g'))
                             / greatest(length(text), 1), 4) > 0.6
                  THEN 1 ELSE 0 END AS t
      FROM th
    ),
    featsh AS MATERIALIZED (
      SELECT doc_id, {bucket} AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM th)
      GROUP BY 1, 2
    ),
    sch AS MATERIALIZED (
      SELECT f.doc_id, sum(w.weight * f.cnt) AS s
      FROM featsh f JOIN w{epochs} w USING (bucket) GROUP BY 1
    ),
    prc_sc AS (
      SELECT l.doc_id, CAST(coalesce(s.s, 0) AS BIGINT) AS clf_score, l.t
      FROM labh l LEFT JOIN sch s USING (doc_id)
    ),
    prc_per AS (
      SELECT clf_score, CAST(sum(t) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(t) AS BIGINT) AS n_neg
      FROM prc_sc GROUP BY 1
    ),
    prc_mm AS (SELECT min(clf_score) AS lo, max(clf_score) AS hi FROM prc_per),
    prc_thr AS (
      SELECT DISTINCT CAST(lo + (i * (hi - lo)) // {PR_GRID} AS BIGINT)
               AS thr
      FROM prc_mm CROSS JOIN generate_series(0, {PR_GRID}) t(i)
    ),
    prc_cells AS (
      SELECT th.thr,
             CAST(sum(CASE WHEN p.clf_score >= th.thr THEN p.n_pos
                      ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p.clf_score >= th.thr THEN p.n_neg
                      ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN p.clf_score < th.thr THEN p.n_pos
                      ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN p.clf_score < th.thr THEN p.n_neg
                      ELSE 0 END) AS BIGINT) AS tn
      FROM prc_thr th CROSS JOIN prc_per p GROUP BY 1
    )
    SELECT thr, tp, fp, fn, tn,
           round(tp / greatest(tp + fp, 1), 6) AS prec,
           round(tp / greatest(tp + fn, 1), 6) AS rec,
           round(2 * tp / greatest(2 * tp + fp + fn, 1), 6) AS f1
    FROM prc_cells"""
    )


def _perceptron_gate_calibrated_oracle(epochs: int) -> str:
    """End-to-end calibrated-gate replay: train on the 4/5 fold, score
    the held-out fifth, rebuild the threshold grid cells, argmax-pick the
    max-F1 cutoff (unrounded IEEE F1, thr-asc tie), then score EVERY
    document under the same final weights and emit its keep verdict —
    the full calibration loop certified in one statement. CTEs carry a
    qg_ prefix (the _perceptron_stages_sql chain already owns sc*/w*
    names)."""
    from .operators.textstats import (
        CLF_DIM,
        CLF_EVAL_FOLD,
        PR_GRID,
    )

    bucket = _hex2int("md5(token)") + f" % {CLF_DIM}"
    return (
        _perceptron_stages_sql(
            epochs, f"WHERE doc_id % {CLF_EVAL_FOLD} != 0"
        )
        + f""",
    qg_all AS MATERIALIZED (
      SELECT doc_id, coalesce(text, '') AS text, {_TOKS_SQL} AS toks
      FROM documents
    ),
    qg_feats AS MATERIALIZED (
      SELECT doc_id, {bucket} AS bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(toks) AS token FROM qg_all)
      GROUP BY 1, 2
    ),
    qg_sc AS MATERIALIZED (
      SELECT f.doc_id, sum(w.weight * f.cnt) AS s
      FROM qg_feats f JOIN w{epochs} w USING (bucket) GROUP BY 1
    ),
    qg_labh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 10
                   AND round(length(regexp_replace(lower(text), '[^a-z]',
                                                   '', 'g'))
                             / greatest(length(text), 1), 4) > 0.6
                  THEN 1 ELSE 0 END AS t
      FROM qg_all WHERE doc_id % {CLF_EVAL_FOLD} = 0
    ),
    qg_per AS (
      SELECT CAST(coalesce(s.s, 0) AS BIGINT) AS clf_score,
             CAST(sum(l.t) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(l.t) AS BIGINT) AS n_neg
      FROM qg_labh l LEFT JOIN qg_sc s USING (doc_id)
      GROUP BY 1
    ),
    qg_mm AS (SELECT min(clf_score) AS lo, max(clf_score) AS hi FROM qg_per),
    qg_thr AS (
      SELECT DISTINCT CAST(lo + (i * (hi - lo)) // {PR_GRID} AS BIGINT)
               AS thr
      FROM qg_mm CROSS JOIN generate_series(0, {PR_GRID}) t(i)
    ),
    qg_cells AS (
      SELECT th.thr,
             CAST(sum(CASE WHEN p.clf_score >= th.thr THEN p.n_pos
                      ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN p.clf_score >= th.thr THEN p.n_neg
                      ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN p.clf_score < th.thr THEN p.n_pos
                      ELSE 0 END) AS BIGINT) AS fn
      FROM qg_thr th CROSS JOIN qg_per p GROUP BY 1
    ),
    qg_pick AS (
      SELECT thr FROM (
        SELECT thr, row_number() OVER (
                 ORDER BY (2 * tp) / greatest(2 * tp + fp + fn, 1) DESC,
                          thr ASC) AS rn
        FROM qg_cells) WHERE rn = 1
    )
    SELECT a.doc_id,
           CAST(coalesce(s.s, 0) AS BIGINT) AS clf_score,
           p.thr,
           CAST(CASE WHEN coalesce(s.s, 0) >= p.thr THEN 1 ELSE 0 END
                AS INTEGER) AS keep
    FROM qg_all a
    LEFT JOIN qg_sc s USING (doc_id)
    CROSS JOIN qg_pick p"""
    )


def _lpa_oracle(iters: int) -> str:
    """Chained-CTE replay of host_communities: undirected adjacency from
    the synth edge multiset, K synchronous min-tie-break majority-vote
    rounds (the PageRank convention)."""
    H = linkgraph.N_HOSTS
    parts = [
        f"""e AS MATERIALIZED (
      SELECT DISTINCT doc_id % {H} AS src_id,
                      (doc_id * 31 + j) % {H} AS dst_id
      FROM documents CROSS JOIN generate_series(1, {linkgraph.LINK_FANOUT}) t(j)
      WHERE doc_id % {H} <> (doc_id * 31 + j) % {H})""",
        """adj AS MATERIALIZED (
      SELECT src_id AS v, dst_id AS u FROM e
      UNION SELECT dst_id, src_id FROM e)""",
        """lab0 AS MATERIALIZED (
      SELECT DISTINCT v, CAST(v AS BIGINT) AS lab FROM adj)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""nb{k} AS MATERIALIZED (
      SELECT a.v, l.lab, count(*) AS c
      FROM adj a JOIN lab{k - 1} l ON l.v = a.u
      GROUP BY 1, 2)"""
        )
        parts.append(
            f"""lab{k} AS MATERIALIZED (
      SELECT v, lab FROM (
        SELECT v, lab,
               row_number() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
        FROM nb{k}) WHERE rn = 1)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    sizes AS (SELECT lab, count(*) AS community_size
              FROM lab{iters} GROUP BY 1)
    SELECT 'host' || CAST(l.v AS VARCHAR) || '.example.net' AS host,
           l.lab AS community_id,
           CAST(s.community_size AS BIGINT) AS community_size
    FROM lab{iters} l JOIN sizes s USING (lab)"""
    )


def _hits_oracle(iters: int) -> str:
    """Chained-CTE replay of host_hits: distinct edges, unnormalized
    integer power iteration, authorities-then-hubs update order (the
    PageRank-oracle convention — one MATERIALIZED pair per iteration)."""
    H = linkgraph.N_HOSTS
    parts = [
        f"""he AS MATERIALIZED (
      SELECT DISTINCT doc_id % {H} AS src_id,
                      (doc_id * 31 + j) % {H} AS dst_id
      FROM documents
      CROSS JOIN generate_series(1, {linkgraph.LINK_FANOUT}) t(j)
      WHERE doc_id % {H} <> (doc_id * 31 + j) % {H})""",
        """hn AS MATERIALIZED (
      SELECT DISTINCT id FROM (
        SELECT src_id AS id FROM he
        UNION ALL SELECT dst_id FROM he))""",
        """s0 AS MATERIALIZED (
      SELECT id, CAST(1 AS BIGINT) AS a, CAST(1 AS BIGINT) AS h FROM hn)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""ha{k} AS MATERIALIZED (
      SELECT n.id, CAST(coalesce(x.a_in, 0) AS BIGINT) AS a
      FROM hn n LEFT JOIN (
        SELECT e.dst_id AS id, sum(s.h) AS a_in
        FROM he e JOIN s{k - 1} s ON e.src_id = s.id GROUP BY 1) x
      USING (id)),
    s{k} AS MATERIALIZED (
      SELECT a.id, a.a, CAST(coalesce(y.h_out, 0) AS BIGINT) AS h
      FROM ha{k} a LEFT JOIN (
        SELECT e.src_id AS id, sum(a2.a) AS h_out
        FROM he e JOIN ha{k} a2 ON e.dst_id = a2.id GROUP BY 1) y
      USING (id))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT 'host' || CAST(id AS VARCHAR) || '.example.net' AS host,
           a AS authority, h AS hub
    FROM s{iters}"""
    )


def _pagerank_oracle(iters: int, seed_mod: int | None = None) -> str:
    """Full SQL replay of operators.linkgraph.host_pagerank /
    host_trustrank: rebuild the deterministic edge multiset from
    `documents`, then chain one MATERIALIZED CTE trio (contributions,
    dangling mass, new ranks) per iteration. All arithmetic is int64
    multiply / `//` / sum — integer sums are associative, so DuckDB's
    serial loop equals Spark's parallel one bit-for-bit (the bpe_train /
    ivf_trained convention). seed_mod restricts teleport + dangling mass
    to the {id % seed_mod == 0} seed set (TrustRank)."""
    H = linkgraph.N_HOSTS
    S = linkgraph.PR_SCALE
    seed = "TRUE" if seed_mod is None else f"(id % {seed_mod} = 0)"
    parts = [
        f"""e AS MATERIALIZED (
      SELECT DISTINCT doc_id % {H} AS src_id,
                      (doc_id * 31 + j) % {H} AS dst_id
      FROM documents CROSS JOIN generate_series(1, {linkgraph.LINK_FANOUT}) t(j)
      WHERE doc_id % {H} <> (doc_id * 31 + j) % {H})""",
        """nodes AS MATERIALIZED (
      SELECT src_id AS id FROM e UNION SELECT dst_id FROM e)""",
        f"nn AS MATERIALIZED (SELECT count(*) AS n FROM nodes WHERE {seed})",
        """deg AS MATERIALIZED (
      SELECT src_id, count(*) AS deg FROM e GROUP BY src_id)""",
        f"""r0 AS MATERIALIZED (
      SELECT id, CAST(CASE WHEN {seed}
                 THEN {S} // (SELECT n FROM nn) ELSE 0 END AS BIGINT) AS rank
      FROM nodes)""",
    ]
    base = f"(3 * {S}) // (20 * (SELECT n FROM nn))"
    for k in range(1, iters + 1):
        parts.append(
            f"""c{k} AS MATERIALIZED (
      SELECT e.dst_id, sum((17 * r.rank) // (20 * d.deg)) AS inflow
      FROM e JOIN deg d ON d.src_id = e.src_id
      JOIN r{k - 1} r ON r.id = e.src_id
      GROUP BY e.dst_id)"""
        )
        parts.append(
            f"""dm{k} AS MATERIALIZED (
      SELECT coalesce(sum(rank), 0) AS dmass FROM r{k - 1}
      WHERE id NOT IN (SELECT src_id FROM deg))"""
        )
        parts.append(
            f"""r{k} AS MATERIALIZED (
      SELECT nodes.id,
             CAST(CASE WHEN {seed} THEN {base}
                  + (17 * (SELECT dmass FROM dm{k}))
                      // (20 * (SELECT n FROM nn)) ELSE 0 END
                  + coalesce(c.inflow, 0) AS BIGINT) AS rank
      FROM nodes LEFT JOIN c{k} c ON c.dst_id = nodes.id)"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT 'host' || CAST(id AS VARCHAR) || '.example.net' AS host,
           rank AS rank_fp,
           round(rank / {S}.0, 9) AS rank_share
    FROM r{iters}"""
    )


def _components_ctes() -> str:
    """Shared recursive CTE chain replaying `duplicate_components`:
    exact-dup + LSH-verified near-dup edges → min-label connected
    components (`comp`) → component sizes (`szs`). `dedup_components`
    projects it directly; `component_canonical` adds the keeper
    selection on top."""
    return f"""RECURSIVE {_minhash_sig_ctes(with_lang=True)},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            shf AS (SELECT * FROM sh WHERE shingle NOT IN (
                      SELECT shingle FROM (
                        SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
                      WHERE df > 10000)),
            bok AS (SELECT band, band_hash FROM bands
                    GROUP BY band, band_hash HAVING count(*) BETWEEN 2 AND 1000),
            cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM bands a
                      JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                                  AND a.doc_id < b.doc_id
                      JOIN bok kk ON a.band = kk.band AND a.band_hash = kk.band_hash),
            inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
                      FROM shf a JOIN shf b
                        ON a.lang = b.lang AND a.shingle = b.shingle
                       AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            near AS (SELECT i.id1, i.id2
                     FROM inter i
                     JOIN sizes sa ON i.id1 = sa.doc_id
                     JOIN sizes sb ON i.id2 = sb.doc_id
                     JOIN cands c ON c.id1 = i.id1 AND c.id2 = i.id2
                     WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6)
                           >= 0.8),
            ex AS (SELECT md5(text) AS chash, min(doc_id) AS keeper
                   FROM documents GROUP BY 1),
            exp AS (SELECT e.keeper AS id1, d.doc_id AS id2
                    FROM documents d JOIN ex e ON md5(d.text) = e.chash
                    WHERE d.doc_id <> e.keeper),
            pairs AS (SELECT id1, id2 FROM near
                      UNION SELECT id1, id2 FROM exp),
            edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                      UNION SELECT id2, id1 FROM pairs),
            reach(node, comp) AS (
                SELECT doc_id, doc_id FROM documents
              UNION
                SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
            ),
            comp AS (SELECT node AS doc_id, min(comp) AS component_id
                     FROM reach GROUP BY node),
            szs AS (SELECT component_id, count(*) AS component_size
                    FROM comp GROUP BY 1)"""


def _langid_ctes() -> str:
    """Shared CTE chain replaying operators.langprofile: augmented text →
    bounded trigram explode → training-fold class profiles (top-K rank,
    pinned tie-break) → held-out doc profiles. One phrase CASE
    (langprofile.phrase_case_sql) drives both engines."""
    LP = langprofile
    return f"""
        aug AS (
          SELECT doc_id, lang,
                 substr({LP.phrase_case_sql()} || ' ' ||
                        lower(coalesce(text, '')), 1, {LP.LID_PREFIX}) AS t
          FROM documents),
        tri AS (
          SELECT doc_id, lang,
                 unnest(list_transform(
                   generate_series(1, greatest(length(t) - 2, 1)),
                   i -> substr(t, i, 3))) AS g
          FROM aug),
        ccnt AS (
          SELECT lang, g, count(*) AS n FROM tri
          WHERE doc_id % {LP.LID_FOLD} <> 0 GROUP BY lang, g),
        cprof AS (
          SELECT lang, g, rank, n FROM (
            SELECT lang, g, n,
                   CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY n DESC, g) AS INTEGER) AS rank
            FROM ccnt) WHERE rank <= {LP.LID_K}),
        dcnt AS (
          SELECT doc_id, g, count(*) AS n FROM tri
          WHERE doc_id % {LP.LID_FOLD} = 0 GROUP BY doc_id, g),
        dprof AS (
          SELECT doc_id, g, rank FROM (
            SELECT doc_id, g,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY n DESC, g) AS INTEGER) AS rank
            FROM dcnt) WHERE rank <= {LP.LID_K})
    """


def _langid_learned_sql() -> str:
    LP = langprofile
    return f"""
        WITH {_langid_ctes()},
        matched AS (
          SELECT d.doc_id, c.lang AS cand,
                 sum(abs(d.rank - c.rank)) AS msum, count(*) AS nmatch
          FROM dprof d JOIN cprof c ON c.g = d.g
          GROUP BY d.doc_id, c.lang),
        ntri AS (SELECT doc_id, count(*) AS ntri FROM dprof GROUP BY doc_id),
        langs AS (SELECT DISTINCT lang AS cand FROM cprof),
        dist AS (
          SELECT n.doc_id, l.cand,
                 CAST(coalesce(m.msum, 0)
                      + (n.ntri - coalesce(m.nmatch, 0)) * {LP.LID_K}
                   AS BIGINT) AS dist
          FROM ntri n CROSS JOIN langs l
          LEFT JOIN matched m ON m.doc_id = n.doc_id AND m.cand = l.cand),
        best AS (
          SELECT doc_id, cand AS pred_lang, dist AS best_dist FROM (
            SELECT doc_id, cand, dist,
                   row_number() OVER (PARTITION BY doc_id
                        ORDER BY dist, cand) AS rn
            FROM dist) WHERE rn = 1)
        SELECT d.doc_id, d.lang AS true_lang, b.pred_lang, b.best_dist,
               CAST(b.pred_lang = d.lang AS INTEGER) AS correct
        FROM documents d JOIN best b ON b.doc_id = d.doc_id
        WHERE d.doc_id % {LP.LID_FOLD} = 0
    """


def oracle_sql() -> dict[str, str]:
    from .sources import robots as robots_mod

    de = _sql_list(DE_STOPS)
    en = _sql_list(EN_STOPS)
    sql = {
        "filter_project": """
            SELECT l_orderkey, l_linenumber,
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))
                     / 10000.0 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_discount > 0.05
        """,
        "cer_bucket_hist": """
            SELECT CASE WHEN l_discount = 0.0 THEN '0.00'
                        WHEN l_discount < 0.02 THEN '<0.02'
                        WHEN l_discount < 0.04 THEN '<0.04'
                        WHEN l_discount < 0.06 THEN '<0.06'
                        WHEN l_discount < 0.08 THEN '<0.08'
                        WHEN l_discount < 0.10 THEN '<0.10'
                        ELSE '>=0.10' END AS cer_bucket,
                   count(*) AS n_lines
            FROM lineitem GROUP BY 1
        """,
        "similarity_band": """
            SELECT l_orderkey, l_linenumber,
                   CAST(floor(l_quantity / 10) AS BIGINT) AS allowed_dist,
                   CASE WHEN l_linenumber <= floor(l_quantity / 10) THEN 1 ELSE 0 END AS similarity
            FROM lineitem
        """,
        "equijoin_agg": """
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     / 100.0 AS sum_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "broadcast_dim_join": """
            SELECT r_name, count(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "mets_link_table": """
            SELECT source,
                   'PHYS_' || printf('%06d', doc_id) AS page_id,
                   doc_id, lang,
                   3 * doc_id + 1 AS ocr_id,
                   3 * doc_id + 2 AS gt_id,
                   3 * doc_id + 3 AS img_id
            FROM documents
        """,
        "routing_semi": """
            SELECT c_nationkey, count(*) AS n_with_orders
            FROM customer WHERE EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        """,
        "routing_anti": """
            SELECT p_brand, count(*) AS n_never_ordered
            FROM part WHERE NOT EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_partkey = p_partkey
                AND l_shipdate >= TIMESTAMP '2001-06-01')
            GROUP BY p_brand
        """,
        "reassembly": """
            SELECT l_orderkey,
                   string_agg(l_returnflag, ''
                              ORDER BY l_linenumber, l_returnflag) AS flags_in_order,
                   count(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        """,
        "sliding_window": """
            SELECT event_id, user_id,
                   round(sum(value) OVER w, 4) AS win_sum,
                   count(*) OVER w AS win_len
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
        """,
        "gaps_islands": """
            WITH g AS (
              SELECT user_id, event_id, value,
                     CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                               - lag(CAST(floor(epoch(ts)) AS BIGINT))
                                 OVER (PARTITION BY user_id ORDER BY event_id) > 1800
                          THEN 1 ELSE 0 END AS gap
              FROM events
            ), s AS (
              SELECT user_id, value,
                     CAST(sum(gap) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
                       AS session_id
              FROM g
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 4) AS session_value
            FROM s GROUP BY user_id, session_id
        """,
        "topk_per_group": """
            SELECT user_id, rn, event_id, value FROM (
              SELECT user_id, event_id, value,
                     CAST(row_number() OVER (PARTITION BY user_id
                          ORDER BY value DESC, event_id) AS INTEGER) AS rn
              FROM events) t
            WHERE rn <= 3
        """,
        "rollup_stats": """
            SELECT l_returnflag, l_linestatus, count(*) AS n_lines,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "topk_vocab": f"""
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest({_TOKS_SQL}) AS word FROM documents) t
            GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 100
        """,
        "bigram_confusion_topk": f"""
            WITH toks AS (SELECT {_TOKS_SQL} AS l FROM documents)
            SELECT bigram, count(*) AS cnt
            FROM (SELECT unnest(list_transform(
                     generate_series(1, len(l) - 1),
                     i -> l[i] || ' ' || l[i+1])) AS bigram
                  FROM toks WHERE len(l) >= 2) t
            GROUP BY bigram ORDER BY cnt DESC, bigram ASC LIMIT 50
        """,
        "mean_by_group": """
            SELECT l_returnflag, round(avg(l_discount), 6) AS avg_discount,
                   round(avg(l_quantity), 6) AS avg_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "minmax_by_group": """
            SELECT event_type, round(max(value), 4) AS max_value,
                   round(min(value), 4) AS min_value, count(*) AS n
            FROM events GROUP BY event_type
        """,
        "hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "cohort_retention": """
            WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                         FROM events),
            firstd AS (SELECT user_id, min(day) AS cohort_day
                       FROM act GROUP BY 1),
            cohorts AS (SELECT cohort_day,
                               CAST(count(*) AS BIGINT) AS n_users
                        FROM firstd GROUP BY 1),
            r1 AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS ret
                   FROM firstd f JOIN act a
                     ON a.user_id = f.user_id
                    AND a.day = f.cohort_day + 1 GROUP BY 1),
            r3 AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS ret
                   FROM firstd f JOIN act a
                     ON a.user_id = f.user_id
                    AND a.day = f.cohort_day + 3 GROUP BY 1),
            r7 AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS ret
                   FROM firstd f JOIN act a
                     ON a.user_id = f.user_id
                    AND a.day = f.cohort_day + 7 GROUP BY 1)
            SELECT c.cohort_day, c.n_users,
                   coalesce(r1.ret, 0) AS d1_retained,
                   round(coalesce(r1.ret, 0) * 100.0 / c.n_users, 6)
                     AS d1_pct,
                   coalesce(r3.ret, 0) AS d3_retained,
                   round(coalesce(r3.ret, 0) * 100.0 / c.n_users, 6)
                     AS d3_pct,
                   coalesce(r7.ret, 0) AS d7_retained,
                   round(coalesce(r7.ret, 0) * 100.0 / c.n_users, 6)
                     AS d7_pct
            FROM cohorts c
            LEFT JOIN r1 USING (cohort_day)
            LEFT JOIN r3 USING (cohort_day)
            LEFT JOIN r7 USING (cohort_day)
        """,
        "funnel_analysis": """
            WITH ev AS (
              SELECT user_id, event_type, ts FROM events
              WHERE NOT ((user_id % 7 = 0 AND event_type = 'purchase')
                         OR (user_id % 11 = 0 AND event_type = 'click'))),
            s1 AS (SELECT user_id, min(ts) AS t_view FROM ev
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t_click
                   FROM ev e JOIN s1 USING (user_id)
                   WHERE e.event_type = 'click' AND e.ts > s1.t_view
                   GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t_purchase
                   FROM ev e JOIN s2 USING (user_id)
                   WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
                   GROUP BY 1),
            users AS (SELECT DISTINCT user_id FROM ev)
            SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
                   CAST((CASE WHEN s1.t_view IS NULL THEN 0 ELSE 1 END)
                      + (CASE WHEN s2.t_click IS NULL THEN 0 ELSE 1 END)
                      + (CASE WHEN s3.t_purchase IS NULL THEN 0 ELSE 1 END)
                        AS INTEGER) AS funnel_depth,
                   CAST(CASE WHEN s3.t_purchase IS NULL THEN 0 ELSE 1 END
                        AS INTEGER) AS converted
            FROM users u
            LEFT JOIN s1 USING (user_id)
            LEFT JOIN s2 USING (user_id)
            LEFT JOIN s3 USING (user_id)
        """,
        "asof_join": """
            WITH tagged AS (
              SELECT user_id, ts, 'c' AS side, event_id,
                     event_id AS r_id, ts AS r_ts
              FROM events WHERE event_type = 'click'
              UNION ALL
              SELECT user_id, ts, 'p', event_id,
                     CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
              FROM events WHERE event_type = 'error'
            ),
            carried AS (
              SELECT user_id, ts, side, event_id,
                     last_value(r_id IGNORE NULLS) OVER w AS ref_id,
                     last_value(r_ts IGNORE NULLS) OVER w AS ref_ts
              FROM tagged
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY ts, side, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id, ts, ref_id, ref_ts,
                   epoch_us(ts) - epoch_us(ref_ts) AS lag_us
            FROM carried WHERE side = 'p'
        """,
        "detector_eval": """
            WITH b AS (
              SELECT CASE WHEN value > 15 THEN 1 ELSE 0 END AS p,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS t
              FROM events
            ), c AS (
              SELECT CAST(sum(p * t) AS BIGINT) AS tp,
                     CAST(sum(p * (1 - t)) AS BIGINT) AS fp,
                     CAST(sum((1 - p) * t) AS BIGINT) AS fn,
                     CAST(sum((1 - p) * (1 - t)) AS BIGINT) AS tn
              FROM b
            )
            SELECT tp, fp, fn, tn,
                   round(tp / greatest(tp + fp, 1), 6) AS prec,
                   round(tp / greatest(tp + fn, 1), 6) AS rec,
                   round(2 * (tp / greatest(tp + fp, 1)) * (tp / greatest(tp + fn, 1))
                         / greatest(tp / greatest(tp + fp, 1)
                                    + tp / greatest(tp + fn, 1), 1e-12), 6) AS f1,
                   round((tp + tn) / (tp + fp + fn + tn), 6) AS accuracy
            FROM c
        """,
        "stratified_split": """
            SELECT o_orderstatus,
                   CAST((o_orderkey * 2654435761) % 4294967296 % 10 AS INTEGER)
                     AS split_bucket,
                   count(*) AS n_orders,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     / 100.0 AS sum_price
            FROM orders GROUP BY 1, 2
        """,
        "union_slices": """
            SELECT o_orderstatus, count(*) AS n,
                   round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                         / count(*)) / 100.0 AS avg_price
            FROM (
              SELECT * FROM orders WHERE o_orderstatus = 'O' AND o_totalprice < 50000
              UNION ALL
              SELECT * FROM orders WHERE o_orderstatus = 'F'
            ) u GROUP BY o_orderstatus
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, count(*) AS n_copies,
                   min(doc_id) AS keeper_id
            FROM documents GROUP BY md5(text)
        """,
        "url_dedup": f"""
            WITH u AS ({_SYNTH_URL_SQL}
            ), canon AS (
              SELECT doc_id, url,
                     {_CANON_URL_SQL} AS canon_url
              FROM u
            )
            SELECT canon_url, count(*) AS n_dupes,
                   count(DISTINCT url) AS n_variants,
                   min(doc_id) AS keeper_id
            FROM canon GROUP BY canon_url
        """,
        # the per-line coalesce matters: DuckDB's array_to_string over an
        # EMPTY slice (a zero-token document's single line) yields NULL,
        # which list_filter would silently drop — Spark's concat_ws yields
        # '' and keeps the line. Same at the end for all-lines-dropped
        # docs. Constants interpolated from lines.LINE_TOKS/HOT_LINE_DF so
        # one definition drives both engines.
        "line_dedup": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS l FROM documents
            ), lns AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(CAST(ceil(len(l) / {lines.LINE_TOKS}.0) AS BIGINT), 1) + 1),
                       i -> coalesce(array_to_string(
                              list_slice(l, (i-1)*{lines.LINE_TOKS} + 1,
                                         (i-1)*{lines.LINE_TOKS} + {lines.LINE_TOKS}), ' '), '')
                     ) AS lines
              FROM toks
            ), inst AS (
              SELECT DISTINCT doc_id, line
              FROM (SELECT doc_id, unnest(lines) AS line FROM lns)
            ), hot AS (
              SELECT line FROM inst GROUP BY line HAVING count(*) >= {lines.HOT_LINE_DF}
            ), hotlist AS (
              SELECT coalesce(list(line), []) AS hl FROM hot
            )
            SELECT doc_id, CAST(len(lines) AS INTEGER) AS n_lines,
                   CAST(len(kept) AS INTEGER) AS n_kept,
                   coalesce(array_to_string(kept, ' '), '') AS cleaned_text
            FROM (
              SELECT doc_id, lines,
                     list_filter(lines, x -> NOT list_contains(hl, x)) AS kept
              FROM lns, hotlist
            )
        """,
        # passage (sliding-window span) dedup: the fixture prepends the
        # boiler header to even docs; constants interpolate from
        # operators.lines so one definition drives both engines
        "passage_dedup": f"""
            WITH aug AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN {_sq(lines.PASSAGE_BOILER + " ")} || coalesce(text, '')
                          ELSE text END AS text
              FROM documents
            ), toks AS (
              SELECT doc_id, {_TOKS_SQL} AS l FROM aug
            ), lns AS (
              SELECT doc_id,
                     list_transform(
                       range(1, greatest(CAST(ceil(len(l) / {lines.LINE_TOKS}.0) AS BIGINT), 1) + 1),
                       i -> coalesce(array_to_string(
                              list_slice(l, (i-1)*{lines.LINE_TOKS} + 1,
                                         (i-1)*{lines.LINE_TOKS} + {lines.LINE_TOKS}), ' '), '')
                     ) AS lines
              FROM toks
            ), pw AS (
              -- docs shorter than p_lines emit NO windows (CASE, mirroring
              -- the Spark guard — no truncated whole-doc passages)
              SELECT doc_id,
                     unnest(CASE WHEN len(lines) >= {lines.PASSAGE_LINES}
                       THEN list_transform(
                         range(1, len(lines) - {lines.PASSAGE_LINES - 1} + 1),
                         i -> coalesce(array_to_string(
                                list_slice(lines, i, i + {lines.PASSAGE_LINES - 1}), ' '), ''))
                       ELSE [] END) AS passage,
                     unnest(CASE WHEN len(lines) >= {lines.PASSAGE_LINES}
                       THEN range(0, len(lines) - {lines.PASSAGE_LINES - 1})
                       ELSE [] END) AS wpos
              FROM lns
            ), hot AS (
              -- the all-empty-lines passage never goes hot (empty docs
              -- keep their sentinel line)
              SELECT passage FROM (SELECT DISTINCT doc_id, passage FROM pw)
              WHERE trim(passage) <> ''
              GROUP BY passage HAVING count(*) >= {lines.HOT_PASSAGE_DF}
            ), cov AS (
              SELECT DISTINCT doc_id, pos FROM (
                SELECT doc_id,
                       unnest(range(wpos, wpos + {lines.PASSAGE_LINES})) AS pos
                FROM pw WHERE passage IN (SELECT passage FROM hot))
            ), lrow AS (
              SELECT doc_id, unnest(lines) AS line,
                     unnest(range(0, len(lines))) AS pos
              FROM lns
            ), j AS (
              SELECT l.doc_id, l.pos, l.line,
                     CASE WHEN c.pos IS NULL THEN 1 ELSE 0 END AS keep
              FROM lrow l LEFT JOIN cov c
                ON c.doc_id = l.doc_id AND c.pos = l.pos
            )
            SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lines,
                   CAST(sum(keep) AS INTEGER) AS n_kept,
                   coalesce(string_agg(CASE WHEN keep = 1 THEN line END,
                                       ' ' ORDER BY pos), '') AS cleaned_text
            FROM j GROUP BY doc_id
        """,
        "length_percentiles": """
            SELECT source, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90,
                   round(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY source
        """,
        # the translate map and the augmentation fixtures interpolate from
        # the SAME module constants the Spark operator uses
        "dedup_normalized": f"""
            WITH base AS (SELECT doc_id, coalesce(text, '') AS t
                          FROM documents),
            allr AS (
              SELECT doc_id, t FROM base
              UNION ALL
              SELECT doc_id + {dedup.NORM_DUP_OFFSET},
                     translate(t, ' ', {_sq(chr(0xA0))})
              FROM base WHERE doc_id % {dedup.NORM_DUP_MOD} = 0),
            h AS (
              SELECT doc_id, md5(t) AS rh,
                     md5(lower(trim(regexp_replace(
                       translate(t, {_sq(textstats.NORM_FROM)},
                                 {_sq(textstats.NORM_TO)}),
                       {_sq(textstats.NORM_WS_RE)}, ' ', 'g')))) AS norm_hash
              FROM allr)
            SELECT norm_hash, CAST(count(*) AS BIGINT) AS n_copies,
                   CAST(count(DISTINCT rh) AS BIGINT) AS n_raw_variants,
                   min(doc_id) AS keeper_id
            FROM h GROUP BY 1
        """,
        "mojibake_score": f"""
            WITH t AS (
              SELECT doc_id,
                     coalesce(text, '') ||
                     (CASE WHEN doc_id % 11 = 0
                           THEN {_sq(textstats.MOJI_FIX_A)} ELSE '' END) ||
                     (CASE WHEN doc_id % 13 = 0
                           THEN {_sq(textstats.MOJI_FIX_B)} ELSE '' END) AS t
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                        {_sq(textstats.MOJI_PAIR_RE)})) AS INTEGER)
                     AS n_bad_pairs,
                   CAST(length(t) - length(translate(t,
                        {_sq(textstats.MOJI_REPL)}, '')) AS INTEGER)
                     AS n_replacement,
                   CAST(CASE WHEN len(regexp_extract_all(t,
                             {_sq(textstats.MOJI_PAIR_RE)})) > 0
                          OR length(t) <> length(translate(t,
                             {_sq(textstats.MOJI_REPL)}, ''))
                             THEN 1 ELSE 0 END AS INTEGER) AS mojibake_flag
            FROM t
        """,
        "token_entropy": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                         FROM documents),
            ct AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
                   FROM tok GROUP BY 1, 2),
            per AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                           CAST(count(*) AS BIGINT) AS n_distinct,
                           CAST(sum(c * {_ilog2_sql('c')}) AS BIGINT)
                             AS sum_clc
                    FROM ct GROUP BY 1),
            h AS (SELECT doc_id, n_tokens, n_distinct,
                         CAST(n_tokens * {_ilog2_sql('n_tokens')}
                              - sum_clc AS BIGINT) AS h_num
                  FROM per)
            SELECT d.doc_id,
                   coalesce(h.n_tokens, 0) AS n_tokens,
                   coalesce(h.n_distinct, 0) AS n_distinct,
                   coalesce(h.h_num, 0) AS h_num,
                   round(coalesce(CAST(h.h_num AS DOUBLE)
                                  / (h.n_tokens * {selection.DSIR_S}), 0.0), 6)
                     AS entropy_bits
            FROM documents d LEFT JOIN h USING (doc_id)
        """,
        "doc_keyterms": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                         FROM documents),
            ct AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
                   FROM tok GROUP BY 1, 2),
            dfx AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                    FROM ct GROUP BY 1),
            nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
                   FROM documents),
            sc AS (SELECT c.doc_id, c.token, c.c, dfx.df,
                          CAST(c.c * ({_ilog2_sql('n_docs')}
                                      - {_ilog2_sql('df')}) AS BIGINT)
                            AS tfidf_num
                   FROM ct c JOIN dfx USING (token), nd)
            SELECT doc_id, CAST(rank AS INTEGER) AS rank, token,
                   c AS tf, df, tfidf_num
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY tfidf_num DESC, token) AS rank
                  FROM sc)
            WHERE rank <= {index.KEYTERMS_K}
        """,
        "text_normalize": f"""
            WITH t AS (
              SELECT doc_id,
                     coalesce(text, '') ||
                     (CASE WHEN doc_id % 3 = 0 THEN {_sq(textstats.NORM_FIX_A)}
                           ELSE '' END) ||
                     (CASE WHEN doc_id % 5 = 0 THEN {_sq(textstats.NORM_FIX_B)}
                           ELSE '' END) AS t
              FROM documents
            ), n AS (
              SELECT doc_id, t,
                     regexp_replace(
                       translate(t, {_sq(textstats.NORM_FROM)},
                                 {_sq(textstats.NORM_TO)}),
                       {_sq(textstats.NORM_WS_RE)}, ' ', 'g') AS norm_text
              FROM t
            )
            SELECT doc_id, norm_text,
                   CAST(length(t) - length(norm_text) AS INTEGER)
                     AS n_chars_delta,
                   CAST(length(t) -
                        length(translate(t, {_sq(textstats.NORM_FROM)}, ''))
                        AS INTEGER) AS n_folded
            FROM n
        """,
        # the oracle computes the SAME layout with the naive global-prefix
        # window (equivalent because buckets are doc_id ranges: bucket
        # offset + within-bucket cumsum == global cumsum); constants
        # interpolate from packing.SEQ_LEN/BUCKET_DOCS
        "seq_pack": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS l FROM documents
            ), counts AS (
              -- null text ≡ empty doc (1 EOS slot), as in the operator
              SELECT doc_id, coalesce(len(l) + 1, 1) AS n_slots FROM toks
            ), placed AS (
              SELECT doc_id, n_slots,
                     -- sum() is HUGEINT in DuckDB; range() needs BIGINT
                     CAST(coalesce(sum(n_slots) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS off
              FROM counts
            ), spans AS (
              SELECT doc_id, off, n_slots,
                     unnest(range(off // {packing.SEQ_LEN},
                                  (off + n_slots - 1) // {packing.SEQ_LEN} + 1))
                     AS window_id
              FROM placed
            )
            SELECT window_id,
                   CAST(sum(least(off + n_slots, (window_id + 1) * {packing.SEQ_LEN})
                            - greatest(off, window_id * {packing.SEQ_LEN}))
                        AS BIGINT) AS n_tokens,
                   count(*) AS n_docs,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM spans GROUP BY window_id
        """,
        # shard manifest: the seq_pack layout CTEs + attribute join +
        # per-(shard, source) dominant pick over the source dim
        "shard_manifest": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKS_SQL} AS l FROM documents
            ), counts AS (
              SELECT doc_id, coalesce(len(l) + 1, 1) AS n_slots FROM toks
            ), placed AS (
              SELECT doc_id, n_slots,
                     CAST(coalesce(sum(n_slots) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS off
              FROM counts
            ), spans AS (
              SELECT doc_id, off, n_slots,
                     unnest(range(off // {packing.SEQ_LEN},
                                  (off + n_slots - 1) // {packing.SEQ_LEN} + 1))
                     AS window_id
              FROM placed
            ), sp AS (
              SELECT s.doc_id,
                     s.window_id // {packing.SHARD_WINDOWS} AS shard_id,
                     s.window_id,
                     least(s.off + s.n_slots,
                           (s.window_id + 1) * {packing.SEQ_LEN})
                       - greatest(s.off, s.window_id * {packing.SEQ_LEN})
                       AS slots_here,
                     d.source, d.lang
              FROM spans s JOIN documents d USING (doc_id)
            ), per_src AS (
              SELECT shard_id, source,
                     CAST(sum(slots_here) AS BIGINT) AS src_slots
              FROM sp GROUP BY 1, 2
            ), top AS (
              SELECT shard_id, source AS top_source,
                     src_slots AS top_source_slots
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY shard_id
                      ORDER BY src_slots DESC, source) AS rn
                    FROM per_src)
              WHERE rn = 1
            ), roll AS (
              SELECT shard_id,
                     CAST(count(DISTINCT window_id) AS BIGINT) AS n_windows,
                     CAST(sum(slots_here) AS BIGINT) AS n_tokens,
                     CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                     CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                     CAST(sum(CASE WHEN lang = 'en' THEN slots_here
                              ELSE 0 END) AS BIGINT) AS en_slots
              FROM sp GROUP BY 1
            )
            SELECT r.shard_id, r.n_windows, r.n_tokens, r.n_docs,
                   r.n_sources, t.top_source, t.top_source_slots,
                   round(r.en_slots * 100.0 / r.n_tokens, 6) AS en_pct
            FROM roll r JOIN top t USING (shard_id)
        """,
        # content remap (self-join on arithmetic base ids) synthesizes the
        # duplicate groups the corpus lacks — mirrored exactly in the
        # Spark operator's driver path; see dedup.incremental_dedup
        "dedup_incremental": """
            WITH remap AS (
              SELECT doc_id, text,
                     CASE WHEN doc_id % 10 = 7 THEN doc_id - (doc_id % 100) + 7
                          WHEN doc_id % 5 = 0 THEN doc_id - (doc_id % 20)
                          ELSE doc_id END AS base_id
              FROM documents
            ), c AS (
              -- left join: a doc whose arithmetic base id is absent keeps
              -- its own text (sparse doc_id ranges must not lose rows)
              SELECT r.doc_id, coalesce(b.text, r.text) AS text
              FROM remap r LEFT JOIN documents b ON b.doc_id = r.base_id
            ), hashed AS (
              SELECT doc_id, md5(text) AS content_hash FROM c
            ), hist AS (
              SELECT DISTINCT content_hash FROM hashed WHERE doc_id % 2 = 0
            ), batch AS (
              SELECT doc_id, content_hash FROM hashed WHERE doc_id % 2 = 1
            ), fl AS (
              SELECT b.doc_id, b.content_hash,
                     CAST(CASE WHEN h.content_hash IS NULL THEN 0 ELSE 1 END
                          AS INTEGER) AS in_history,
                     CAST(CASE WHEN row_number() OVER (
                            PARTITION BY b.content_hash ORDER BY b.doc_id) = 1
                          THEN 1 ELSE 0 END AS INTEGER) AS first_in_batch
              FROM batch b LEFT JOIN hist h USING (content_hash)
            )
            SELECT doc_id, content_hash, in_history, first_in_batch,
                   CAST(CASE WHEN in_history = 0 AND first_in_batch = 1
                        THEN 1 ELSE 0 END AS INTEGER) AS keep
            FROM fl
        """,
        # blocklist gate: suffix explode replayed in SQL; blocked set +
        # path regex interpolate from operators.urls (one definition)
        "url_blocklist": f"""
            WITH u AS ({_SYNTH_URL_SQL}
            ), c AS (
              SELECT doc_id, {_CANON_URL_SQL} AS canon FROM u
            ), hp AS (
              -- policy-host normalization mirrors _host_path_suffixes:
              -- strip userinfo (after the LAST '@'), port, trailing dots
              SELECT doc_id,
                     regexp_replace(
                       split_part(string_split(split_part(canon, '/', 1), '@')[-1],
                                  ':', 1),
                       '\\.+$', '') AS host,
                     substr(canon, length(split_part(canon, '/', 1)) + 1)
                       AS path
              FROM c
            ), sfx AS (
              SELECT doc_id, host, path,
                     unnest(list_transform(
                       range(1, len(string_split(host, '.')) + 1),
                       i -> array_to_string(string_split(host, '.')[i:], '.')))
                       AS suffix
              FROM hp
            ), v AS (
              SELECT doc_id, host, path,
                     max(CASE WHEN suffix IN
                           ({', '.join(_sq(h) for h in urls.BLOCKED_HOSTS)})
                         THEN 1 ELSE 0 END) AS bh
              FROM sfx GROUP BY 1, 2, 3
            )
            SELECT doc_id, host, CAST(bh AS INTEGER) AS blocked_host,
                   CAST(CASE WHEN regexp_matches(path,
                          {_sq(urls.BLOCKED_PATH_RE)}) THEN 1 ELSE 0 END
                        AS INTEGER) AS blocked_path,
                   CAST(CASE WHEN bh = 0 AND NOT regexp_matches(path,
                          {_sq(urls.BLOCKED_PATH_RE)}) THEN 1 ELSE 0 END
                        AS INTEGER) AS url_pass
            FROM v
        """,
        # snapshot diff: presence from the join sides, hash equality for
        # changed/unchanged — verdict classes replayed with the same
        # fixture arithmetic
        "snapshot_diff": """
            WITH u AS (
              SELECT doc_id,
                     'https://docs.example.org/' || source || '/'
                       || CAST(doc_id AS VARCHAR) AS url,
                     text
              FROM documents
            ), o AS (
              SELECT url, md5(text) AS old_hash FROM u WHERE doc_id < 400
            ), n AS (
              SELECT url,
                     md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                          ELSE text END) AS new_hash
              FROM u WHERE doc_id >= 100
            )
            SELECT coalesce(o.url, n.url) AS url, o.old_hash, n.new_hash,
                   CASE WHEN o.url IS NULL THEN 'added'
                        WHEN n.url IS NULL THEN 'removed'
                        WHEN o.old_hash = n.new_hash THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM o FULL OUTER JOIN n ON o.url = n.url
        """,
        # Bloom gate: the oracle replays the bitmap semantically — all k
        # md5-keyed positions present in the history position set — so the
        # driver certifies the kernel's FALSE POSITIVES too, not just true
        # hits. Geometry constants interpolate from operators.dedup.
        "dedup_bloom": f"""
            WITH remap AS (
              SELECT doc_id, text,
                     CASE WHEN doc_id % 10 = 7 THEN doc_id - (doc_id % 100) + 7
                          WHEN doc_id % 5 = 0 THEN doc_id - (doc_id % 20)
                          ELSE doc_id END AS base_id
              FROM documents
            ), c AS (
              SELECT r.doc_id, coalesce(b.text, r.text) AS text
              FROM remap r LEFT JOIN documents b ON b.doc_id = r.base_id
            ), hashed AS (
              -- batch side mirrors the Spark sentinel: null text keeps its
              -- per-doc identity and probes like any digest; history nulls
              -- are dropped before the filter build (nothing can match)
              SELECT doc_id,
                     coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR))
                       AS content_hash,
                     md5(text) AS raw_hash
              FROM c
            ), js AS (
              SELECT unnest(generate_series(0, {dedup.BLOOM_K_HASHES - 1})) AS j
            ), hp AS (
              SELECT DISTINCT
                     {_hex2int("md5(h || '|' || CAST(j AS VARCHAR))")}
                       % {dedup.BLOOM_M_BITS} AS pos
              FROM (SELECT DISTINCT raw_hash AS h FROM hashed
                    WHERE doc_id % 2 = 0 AND raw_hash IS NOT NULL) CROSS JOIN js
            ), bp AS (
              SELECT doc_id, content_hash,
                     {_hex2int("md5(content_hash || '|' || CAST(j AS VARCHAR))")}
                       % {dedup.BLOOM_M_BITS} AS pos
              FROM hashed CROSS JOIN js WHERE doc_id % 2 = 1
            ), hits AS (
              SELECT b.doc_id, b.content_hash, count(h.pos) AS n_hit
              FROM bp b LEFT JOIN hp h USING (pos)
              GROUP BY 1, 2
            )
            SELECT doc_id, content_hash,
                   CAST(CASE WHEN n_hit = {dedup.BLOOM_K_HASHES} THEN 1 ELSE 0 END
                        AS INTEGER) AS bloom_hit
            FROM hits
        """,
        "dedup_jaccard_pairs": f"""
            WITH toks AS (
              SELECT doc_id, lang, {_TOKS_SQL} AS l FROM documents
            ), sh AS (
              SELECT doc_id, lang, unnest({_SHINGLES_SQL}) AS shingle FROM toks
            ), sizes AS (
              SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
              SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
              FROM sh a JOIN sh b
                ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id1, id2,
                   round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON id1 = sa.doc_id
            JOIN sizes sb ON id2 = sb.doc_id
            WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) > 0
            ORDER BY jaccard DESC, id1 ASC, id2 ASC LIMIT 100
        """,
        "dedup_embedding_cosine": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm FROM e)
            SELECT a.vec_id AS id1, b.vec_id AS id2,
                   round(list_inner_product(a.v, b.v) / (a.nm * b.nm), 4) AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            ORDER BY cosine DESC, id1 ASC, id2 ASC LIMIT 100
        """,
        "ann_brute_force": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
            corpus AS (SELECT vec_id AS cand_id, v AS cv FROM e WHERE vec_id >= 5),
            scored AS (
              SELECT probe_id, cand_id,
                     round(list_inner_product(pv, cv) /
                           (sqrt(list_inner_product(pv, pv)) *
                            sqrt(list_inner_product(cv, cv))), 4) AS cosine
              FROM probes, corpus
            ), ranked AS (
              SELECT probe_id, cand_id, cosine,
                     CAST(row_number() OVER (PARTITION BY probe_id
                          ORDER BY cosine DESC, cand_id) AS INTEGER) AS rank
              FROM scored)
            SELECT probe_id, rank, cand_id, cosine FROM ranked WHERE rank <= 5
        """,
        "embedding_quantize": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            s AS (SELECT vec_id, v,
                         list_max(list_transform(v, x -> abs(x))) AS scale
                  FROM e),
            q AS (SELECT vec_id, v, scale,
                         CASE WHEN scale > 0 THEN
                           list_transform(v, x ->
                             CAST(floor(abs(x / scale * 127))
                                  * (CASE WHEN x < 0 THEN -1 ELSE 1 END)
                                  AS INTEGER))
                         ELSE list_transform(v, x -> 0) END AS qs
                  FROM s)
            SELECT vec_id, scale,
                   CAST(len(qs) AS INTEGER) AS n_dims,
                   CAST(list_sum(qs) AS BIGINT) AS q_sum,
                   CAST(list_min(qs) AS INTEGER) AS q_min,
                   CAST(list_max(qs) AS INTEGER) AS q_max,
                   round(list_max(list_transform(generate_series(1, len(v)),
                         i -> abs(v[i] - qs[i] * scale / 127.0))), 9)
                     AS max_abs_err
            FROM q
        """,
        "embedding_norms": """
            WITH n AS (
              SELECT label,
                     sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))) AS norm
              FROM embeddings)
            SELECT label, count(*) AS n_vecs, round(avg(norm), 4) AS avg_norm,
                   round(max(norm), 4) AS max_norm
            FROM n GROUP BY label
        """,
        "lang_id": f"""
            WITH t AS (SELECT doc_id, lang, len({_TOKS_SQL}) AS n_toks,
                              {_TOKS_SQL} AS toks FROM documents),
            h AS (
              SELECT doc_id, lang, n_toks,
                     CAST(len(list_filter(toks, x -> list_contains({de}, x))) AS INTEGER) AS de_hits,
                     CAST(len(list_filter(toks, x -> list_contains({en}, x))) AS INTEGER) AS en_hits
              FROM t),
            g AS (
              SELECT doc_id, lang, de_hits, en_hits,
                     CASE WHEN de_hits > en_hits THEN 'de'
                          WHEN en_hits > de_hits THEN 'en'
                          ELSE 'unk' END AS lang_guess,
                     round(greatest(de_hits, en_hits) / greatest(n_toks, 1), 6)
                       AS lang_conf
              FROM h)
            SELECT doc_id, lang, de_hits, en_hits, lang_guess, lang_conf,
                   CAST(CASE WHEN lang_guess <> 'unk' AND lang_conf >= 0.05
                             THEN 1 ELSE 0 END AS INTEGER) AS lang_pass
            FROM g
        """,
        "quality_score": f"""
            WITH t AS (SELECT doc_id, coalesce(text, '') AS text,
                              {_TOKS_SQL} AS toks FROM documents),
            m AS (
              SELECT doc_id,
                     CAST(len(toks) AS INTEGER) AS n_tokens,
                     round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                           / greatest(length(text), 1), 4) AS alpha_ratio,
                     round(list_sum(list_transform(toks, t -> length(t)))
                           / greatest(len(toks), 1), 4) AS mean_token_len
              FROM t)
            SELECT doc_id, n_tokens, alpha_ratio, mean_token_len,
                   CASE WHEN n_tokens >= 10 AND alpha_ratio > 0.6 THEN 1 ELSE 0 END
                     AS quality_keep
            FROM m
        """,
        "quality_repetition": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            base AS (
              SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
                     round(len(list_distinct(toks)) / greatest(len(toks), 1), 6)
                       AS distinct_ratio
              FROM t),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1])) AS bigram
              FROM t WHERE len(toks) >= 2),
            pd AS (
              SELECT doc_id, round(max(cnt) / sum(cnt), 6) AS top_bigram_frac
              FROM (SELECT doc_id, bigram, count(*) AS cnt
                    FROM bg GROUP BY 1, 2) c
              GROUP BY doc_id)
            SELECT b.doc_id, b.n_tokens, b.distinct_ratio,
                   coalesce(pd.top_bigram_frac, 0.0) AS top_bigram_frac,
                   CAST(CASE WHEN b.distinct_ratio >= 0.2
                              AND coalesce(pd.top_bigram_frac, 0.0) <= 0.18
                             THEN 1 ELSE 0 END AS INTEGER) AS repetition_keep
            FROM base b LEFT JOIN pd ON b.doc_id = pd.doc_id
        """,
        "token_stats": f"""
            WITH t AS (SELECT source, lang, len({_TOKS_SQL}) AS n_toks FROM documents)
            SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                   round(avg(n_toks), 4) AS avg_tokens,
                   count(DISTINCT lang) AS n_langs
            FROM t GROUP BY source
        """,
        "bpe_token_stats": f"""
            WITH t AS (
              SELECT doc_id,
                     len({_TOKS_SQL}) AS ws,
                     len(regexp_extract_all(coalesce(text, ''),
                                            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                       AS bpe
              FROM documents)
            SELECT doc_id,
                   CAST(ws AS INTEGER) AS n_ws_tokens,
                   CAST(bpe AS INTEGER) AS n_bpe_pieces,
                   round(bpe / greatest(ws, 1), 4) AS pieces_per_word
            FROM t
        """,
        "token_class_freq": f"""
            WITH tok AS (
              SELECT unnest({_TOKS_SQL}) AS token FROM documents
            ), cls AS (
              SELECT token,
                     CASE WHEN list_contains({de}, token) THEN 'de_stop'
                          WHEN list_contains({en}, token) THEN 'en_stop'
                          WHEN regexp_matches(token, '^[0-9]+$') THEN 'numeric'
                          ELSE 'other' END AS token_class
              FROM tok
            ), counts AS (
              SELECT token_class, token, count(*) AS cnt
              FROM cls GROUP BY token_class, token
            )
            SELECT token_class, rnk, token, cnt FROM (
              SELECT token_class, token, cnt,
                     CAST(row_number() OVER (PARTITION BY token_class
                          ORDER BY cnt DESC, token ASC) AS INTEGER) AS rnk
              FROM counts) t
            WHERE rnk <= 20
        """,
        "cer_bands_kernel": """
            WITH s AS (
              SELECT doc_id,
                     substr(lower(text), 1, 60) AS gt,
                     reverse(substr(lower(text), 1, 60)) AS ocr
              FROM documents
            ), m AS (
              SELECT doc_id,
                     CAST(levenshtein(ocr, gt) AS INTEGER) AS lev,
                     round(levenshtein(ocr, gt) / greatest(length(gt), 1), 6) AS cer
              FROM s)
            SELECT doc_id, lev, cer,
                   CASE WHEN cer = 0.0 THEN '0.00'
                        WHEN cer < 0.02 THEN '<0.02'
                        WHEN cer < 0.04 THEN '<0.04'
                        WHEN cer < 0.06 THEN '<0.06'
                        WHEN cer < 0.08 THEN '<0.08'
                        WHEN cer < 0.10 THEN '<0.10'
                        ELSE '>=0.10' END AS cer_band
            FROM m
        """,
        "cer_clusters": """
            -- the Spark side injects U+0301 after every 'e' (gt) / 'a'
            -- (ocr) and measures CLUSTER-level distance; each base+mark
            -- pair is one cluster, so remapping it to an otherwise-absent
            -- ASCII letter makes byte-level levenshtein the exact
            -- cluster-level distance, and length() the cluster count
            WITH s AS (
              SELECT doc_id, substr(lower(coalesce(text, '')), 1, 40) AS p
              FROM documents
            ), r AS (
              SELECT doc_id,
                     replace(p, 'e', 'E') AS gtc,
                     replace(p, 'a', 'A') AS occ
              FROM s
            )
            SELECT doc_id,
                   CAST(levenshtein(occ, gtc) AS INTEGER) AS lev_c,
                   round(CASE WHEN levenshtein(occ, gtc) = 0 THEN 0.0
                              ELSE levenshtein(occ, gtc)
                                   / greatest(length(gtc), 1) END, 6) AS cer_c,
                   CAST(length(gtc) AS INTEGER) AS n_clusters
            FROM r
        """,
        "fingerprints": f"""
            WITH t AS (SELECT doc_id, coalesce(text, '') AS text,
                              {_TOKS_SQL} AS toks FROM documents)
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
                   list_reduce(
                     list_prepend(7::BIGINT,
                       list_transform(generate_series(1, length(text)),
                                      i -> unicode(substr(text, i, 1))::BIGINT)),
                     (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp,
                   CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens
            FROM t
        """,
        "wordpiece_vocab_topk": f"""
            WITH tok AS (
              SELECT unnest({_TOKS_SQL}) AS token FROM documents
            ), pieces AS (
              SELECT unnest(flatten(list_transform(generate_series(1, 3),
                       n -> list_transform(
                              generate_series(1, greatest(length(token) - n + 1, 0)),
                              i -> substr(token, i, n))))) AS piece
              FROM tok)
            SELECT piece, count(*) AS cnt
            FROM pieces WHERE piece <> ''
            GROUP BY piece ORDER BY cnt DESC, piece ASC LIMIT 200
        """,
        "frame_sample": """
            SELECT doc_id, CAST(length(text) AS INTEGER) AS payload_len
            FROM documents WHERE doc_id % 10 = 0
        """,
        "dedup_minhash_lsh": f"""
            WITH {_minhash_sig_ctes()}
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        """,
        "dedup_minhash_incremental": f"""
            WITH {_minhash_sig_ctes(with_lang=True)},
            hb AS (SELECT doc_id AS hist_id, band, band_hash
                   FROM bands WHERE doc_id % 2 = 0),
            bb AS (SELECT doc_id AS batch_id, band, band_hash
                   FROM bands WHERE doc_id % 2 <> 0),
            cand AS (SELECT batch_id, hist_id,
                            CAST(count(*) AS BIGINT) AS n_band_hits
                     FROM bb JOIN hb USING (band, band_hash)
                     GROUP BY 1, 2),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (SELECT c.batch_id, c.hist_id, count(*) AS n_common
                      FROM cand c
                      JOIN sh a ON a.doc_id = c.batch_id
                      JOIN sh b ON b.doc_id = c.hist_id
                                AND b.shingle = a.shingle
                                AND b.lang = a.lang
                      GROUP BY 1, 2),
            jac AS (SELECT i.batch_id, i.hist_id,
                           round(i.n_common /
                                 (sa.n_sh + sb.n_sh - i.n_common), 6)
                             AS jaccard
                    FROM inter i
                    JOIN sizes sa ON sa.doc_id = i.batch_id
                    JOIN sizes sb ON sb.doc_id = i.hist_id)
            SELECT c.batch_id, c.hist_id, c.n_band_hits,
                   coalesce(j.jaccard, 0.0) AS jaccard,
                   CAST(CASE WHEN coalesce(j.jaccard, 0.0) >= 0.8
                             THEN 1 ELSE 0 END AS INTEGER) AS is_dup
            FROM cand c LEFT JOIN jac j
              ON j.batch_id = c.batch_id AND j.hist_id = c.hist_id
        """,
        "dedup_lsh_bucket_stats": f"""
            WITH {_minhash_sig_ctes()},
            bsz AS (SELECT band, band_hash, count(*) AS sz
                    FROM bands GROUP BY 1, 2)
            SELECT band, count(*) AS n_buckets,
                   CAST(max(sz) AS BIGINT) AS max_bucket,
                   CAST(sum(CASE WHEN sz > 1000 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_capped
            FROM bsz GROUP BY band
        """,
        "dedup_simhash": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents),
            h AS (SELECT doc_id, CAST({_hex2int('md5(token)')} AS BIGINT) AS h FROM tok),
            votes AS (SELECT doc_id,
                      {', '.join(f"sum(CASE WHEN (h // {2 ** i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(60))}
                      FROM h GROUP BY doc_id),
            fp AS (SELECT doc_id,
                   CAST({' + '.join(f"CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(60))} AS BIGINT) AS simhash
                   FROM votes),
            k AS (SELECT doc_id, CAST(simhash // {2 ** 44} AS BIGINT) AS bucket FROM fp)
            SELECT a.doc_id AS id1, b.doc_id AS id2, a.bucket AS bucket
            FROM k a JOIN k b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        """,
        "dedup_simhash_multiprobe": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token FROM documents),
            h AS (SELECT doc_id, CAST({_hex2int('md5(token)')} AS BIGINT) AS h FROM tok),
            votes AS (SELECT doc_id,
                      {', '.join(f"sum(CASE WHEN (h // {2 ** i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}" for i in range(60))}
                      FROM h GROUP BY doc_id),
            fp AS (SELECT doc_id,
                   CAST({' + '.join(f"CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(60))} AS BIGINT) AS simhash
                   FROM votes),
            k AS (
              SELECT doc_id, 0 AS rot,
                     CAST(simhash // {2 ** 44} AS BIGINT) AS bucket FROM fp
              UNION ALL
              SELECT doc_id, 20,
                     CAST(((simhash % {2 ** 40}) * {2 ** 20} + simhash // {2 ** 40})
                          // {2 ** 44} AS BIGINT) FROM fp
              UNION ALL
              SELECT doc_id, 40,
                     CAST(((simhash % {2 ** 20}) * {2 ** 40} + simhash // {2 ** 20})
                          // {2 ** 44} AS BIGINT) FROM fp
            )
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM k a JOIN k b
              ON a.rot = b.rot AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        """,
        "dedup_corpus_keep": f"""
            WITH {_minhash_sig_ctes(with_lang=True)},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            shf AS (SELECT * FROM sh WHERE shingle NOT IN (
                      SELECT shingle FROM (
                        SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
                      WHERE df > 10000)),
            bok AS (SELECT band, band_hash FROM bands
                    GROUP BY band, band_hash HAVING count(*) BETWEEN 2 AND 1000),
            cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                      FROM bands a
                      JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                                  AND a.doc_id < b.doc_id
                      JOIN bok kk ON a.band = kk.band AND a.band_hash = kk.band_hash),
            inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
                      FROM shf a JOIN shf b
                        ON a.lang = b.lang AND a.shingle = b.shingle
                       AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            near AS (SELECT DISTINCT i.id2 AS doc_id
                     FROM inter i
                     JOIN sizes sa ON i.id1 = sa.doc_id
                     JOIN sizes sb ON i.id2 = sb.doc_id
                     JOIN cands c ON c.id1 = i.id1 AND c.id2 = i.id2
                     WHERE round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6)
                           >= 0.8),
            ex AS (SELECT md5(text) AS chash, min(doc_id) AS keeper
                   FROM documents GROUP BY 1),
            exl AS (SELECT d.doc_id, 'exact_dup' AS drop_reason
                    FROM documents d JOIN ex e ON md5(d.text) = e.chash
                    WHERE d.doc_id <> e.keeper),
            nl AS (SELECT doc_id, 'near_dup' AS drop_reason FROM near),
            losers AS (SELECT doc_id, min(drop_reason) AS drop_reason
                       FROM (SELECT * FROM exl UNION ALL SELECT * FROM nl) u
                       GROUP BY doc_id)
            SELECT d.doc_id, d.lang, d.source,
                   CAST(CASE WHEN l.drop_reason IS NULL THEN 1 ELSE 0 END
                        AS INTEGER) AS keep,
                   coalesce(l.drop_reason, 'kept') AS drop_reason
            FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
        """,
        "lm_unigram_score": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                         FROM documents),
            tf AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
            per AS (SELECT doc_id, count(*) AS n_tokens,
                           sum(tf) AS sum_tf, min(tf) AS min_tf
                    FROM tok JOIN tf USING (token) GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(p.n_tokens, 0) AS n_tokens,
                   CAST(coalesce(p.sum_tf, 0) AS BIGINT) AS sum_tf,
                   coalesce(p.min_tf, 0) AS min_tf,
                   round(coalesce(CAST(p.sum_tf AS DOUBLE) / p.n_tokens, 0.0), 4)
                     AS mean_tf,
                   CAST(CASE WHEN p.min_tf IS NULL OR p.min_tf >= 2
                             THEN 1 ELSE 0 END AS INTEGER) AS lm_keep
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        # bigram surprise: ctx(w1) // c2(w1,w2) — all integers, div and
        # // agree (nonnegative); keep rule cross-multiplied
        "lm_bigram_score": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            bgx AS (SELECT doc_id,
                           unnest(list_transform(
                             generate_series(1, len(toks) - 1),
                             i -> struct_pack(w1 := toks[i],
                                              w2 := toks[i+1]))) AS b
                    FROM t WHERE len(toks) >= 2),
            bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgx),
            c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf GROUP BY 1, 2),
            ctx AS (SELECT w1, count(*) AS ctx FROM bgf GROUP BY 1),
            rt AS (SELECT c2.w1, c2.w2,
                          CAST(ctx.ctx // c2.c2 AS BIGINT) AS r
                   FROM c2 JOIN ctx USING (w1)),
            per AS (SELECT doc_id,
                           CAST(count(*) AS BIGINT) AS n_bigrams,
                           CAST(sum(r) AS BIGINT) AS sum_r,
                           CAST(max(r) AS BIGINT) AS max_r
                    FROM bgf JOIN rt USING (w1, w2) GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(p.n_bigrams, 0) AS n_bigrams,
                   coalesce(p.sum_r, 0) AS sum_r,
                   coalesce(p.max_r, 0) AS max_r,
                   round(coalesce(CAST(p.sum_r AS DOUBLE) / p.n_bigrams,
                                  0.0), 4) AS mean_surprise,
                   CAST(CASE WHEN p.n_bigrams IS NULL
                              OR (p.max_r <= {textstats.LM2_MAX_R}
                                  AND p.sum_r <= {textstats.LM2_MAX_MEAN}
                                      * p.n_bigrams)
                             THEN 1 ELSE 0 END AS INTEGER) AS lm2_keep
            FROM documents d LEFT JOIN per p USING (doc_id)
        """,
        "decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS l FROM documents),
            sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM toks),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 41 = 0),
            hits AS (SELECT doc_id, count(*) AS n_overlap
                     FROM sh JOIN bench USING (shingle)
                     WHERE doc_id % 41 <> 0 GROUP BY doc_id)
            SELECT d.doc_id,
                   CASE WHEN d.doc_id % 41 = 0 THEN 'benchmark'
                        ELSE 'train' END AS role,
                   coalesce(h.n_overlap, 0) AS n_overlap,
                   CAST(CASE WHEN d.doc_id % 41 <> 0
                              AND coalesce(h.n_overlap, 0) >= 1
                             THEN 1 ELSE 0 END AS INTEGER) AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
        """,
        # trigram profiles interpolate from operators.textstats constants
        "lang_id_trigram": f"""
            WITH t AS (SELECT doc_id, lower(coalesce(text, '')) AS tx
                       FROM documents),
            h AS (
              SELECT doc_id,
                     CAST(len(list_filter({_sql_list(textstats.DE_TRIGRAMS)},
                          g -> contains(tx, g))) AS INTEGER) AS de_tri_hits,
                     CAST(len(list_filter({_sql_list(textstats.EN_TRIGRAMS)},
                          g -> contains(tx, g))) AS INTEGER) AS en_tri_hits
              FROM t
            )
            SELECT doc_id, de_tri_hits, en_tri_hits,
                   CASE WHEN de_tri_hits > en_tri_hits THEN 'de'
                        WHEN en_tri_hits > de_tri_hits THEN 'en'
                        ELSE 'unk' END AS tri_lang_guess,
                   CAST(de_tri_hits - en_tri_hits AS INTEGER) AS tri_margin
            FROM h
        """,
        # hashed-linear classifier: bucket + weight are pure md5 arithmetic
        # (geometry constants from operators.textstats); every doc surfaces
        # (unnest of [NULL] for token-less docs ≡ Spark's explode_outer)
        "quality_classifier": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS l FROM documents),
            tok AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END)
                       AS token
              FROM t
            ), w AS (
              SELECT doc_id, token,
                     CASE WHEN token IS NULL THEN 0
                          ELSE {_hex2int(
                            "md5('qw|' || CAST("
                            + _hex2int("md5(token)")
                            + f" % {textstats.CLF_DIM} AS VARCHAR))"
                          )} % 5 - 2 END AS wt
              FROM tok
            )
            SELECT doc_id,
                   CAST(count(token) AS INTEGER) AS n_tokens,
                   CAST(sum(wt) AS BIGINT) AS clf_score,
                   CAST(CASE WHEN sum(wt) >= {textstats.CLF_THRESHOLD}
                        THEN 1 ELSE 0 END AS INTEGER) AS clf_keep
            FROM w GROUP BY doc_id
        """,
        # mixing-law constants interpolate from operators.textstats so one
        # definition drives both engines; the keep verdict is one integer
        # inequality (no float rates to diverge)
        "corpus_mix": f"""
            WITH base AS (
              SELECT doc_id, source, len({_TOKS_SQL}) AS n_tokens,
                     CAST(1 + 3 * (CAST(substr(source, 4) AS INTEGER) % 4)
                          AS BIGINT) AS w
              FROM documents
            ), ps AS (
              SELECT source, w, count(*) AS n_docs, sum(n_tokens) AS t_s
              FROM base GROUP BY 1, 2
            ), tot AS (SELECT sum(w) AS sum_w, sum(t_s) AS t_total FROM ps),
            j AS (
              -- HUGEINT mirrors the Spark side's decimal(38,0): int64
              -- overflows at 10^12-token corpora
              SELECT b.doc_id, b.source, b.n_tokens, b.w, p.t_s,
                     t.sum_w, t.t_total,
                     CASE WHEN CAST({_hex2int("md5('mix|' || CAST(b.doc_id AS VARCHAR))")}
                                    % {textstats.MIX_COIN_MOD} AS HUGEINT)
                               * t.sum_w * p.t_s * {textstats.MIX_BUDGET_DEN}
                          < CAST({textstats.MIX_BUDGET_NUM}
                                 * {textstats.MIX_COIN_MOD} AS HUGEINT)
                            * t.t_total * b.w
                          THEN 1 ELSE 0 END AS mix_keep
              FROM base b JOIN ps p USING (source) CROSS JOIN tot t
            )
            SELECT source, w, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
                   CAST(sum(mix_keep) AS BIGINT) AS n_kept,
                   CAST(sum(n_tokens * mix_keep) AS BIGINT) AS tokens_kept,
                   CAST(max(CASE WHEN CAST({textstats.MIX_BUDGET_NUM} AS HUGEINT)
                                      * t_total * w
                                      >= CAST(sum_w AS HUGEINT) * t_s
                                         * {textstats.MIX_BUDGET_DEN}
                                 THEN 1 ELSE 0 END) AS INTEGER) AS rate_capped
            FROM j GROUP BY 1, 2
        """,
        "pii_redact": r"""
            WITH aug AS (
              SELECT doc_id, coalesce(text, '') ||
                CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com'
                     ELSE '' END ||
                CASE WHEN doc_id % 11 = 0
                     THEN ' call +1 555 '
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(t,
                     '\+[0-9]{1,2} [0-9]{3} [0-9]{4}')) AS INTEGER) AS n_phones,
                   regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\+[0-9]{1,2} [0-9]{3} [0-9]{4}', '<PHONE>', 'g')
                     AS redacted
            FROM aug
        """,
        "dedup_components": f"""
            WITH {_components_ctes()}
            SELECT c.doc_id, c.component_id,
                   CAST(s.component_size AS BIGINT) AS component_size
            FROM comp c JOIN szs s USING (component_id)
        """,
        "component_canonical": f"""
            WITH {_components_ctes()},
            lab AS (SELECT c.doc_id, c.component_id, s.component_size
                    FROM comp c JOIN szs s USING (component_id)
                    WHERE s.component_size >= 2),
            ranked AS (SELECT l.component_id, l.component_size, l.doc_id,
                              d.n_chars,
                              row_number() OVER (PARTITION BY l.component_id
                                   ORDER BY d.n_chars DESC, l.doc_id) AS rn
                       FROM lab l JOIN documents d USING (doc_id))
            SELECT component_id,
                   CAST(component_size AS BIGINT) AS component_size,
                   doc_id AS keeper_doc_id, n_chars AS keeper_n_chars,
                   CAST(component_size - 1 AS BIGINT) AS n_dropped
            FROM ranked WHERE rn = 1
        """,
        "ann_lsh_bucketed": f"""
            WITH {_lsh_sig_cte()},
            probes AS (SELECT vec_id AS probe_id, bucket AS pb, v AS pv, nm AS pn
                       FROM sig WHERE vec_id < 5),
            corpus AS (SELECT vec_id AS cand_id, bucket AS cb, v AS cv, nm AS cn
                       FROM sig WHERE vec_id >= 5),
            scored AS (SELECT probe_id, cand_id,
                              round(list_inner_product(pv, cv) / (pn * cn), 4)
                                AS cosine
                       FROM probes JOIN corpus ON pb = cb),
            ranked AS (SELECT probe_id, cand_id, cosine,
                              CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, cand_id) AS INTEGER)
                                AS rank
                       FROM scored)
            SELECT probe_id, rank, cand_id, cosine FROM ranked WHERE rank <= 3
        """,
        "ann_lsh_multiprobe": f"""
            WITH {_lsh_sig_cte()},
            probes AS (SELECT vec_id AS probe_id,
                              unnest([bucket,
                                      {', '.join(f'xor(bucket, {2 ** p})' for p in range(_N_PLANES))}])
                                AS pb,
                              v AS pv, nm AS pn
                       FROM sig WHERE vec_id < 5),
            corpus AS (SELECT vec_id AS cand_id, bucket AS cb, v AS cv, nm AS cn
                       FROM sig WHERE vec_id >= 5),
            scored AS (SELECT probe_id, cand_id,
                              round(list_inner_product(pv, cv) / (pn * cn), 4)
                                AS cosine
                       FROM probes JOIN corpus ON pb = cb),
            ranked AS (SELECT probe_id, cand_id, cosine,
                              CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, cand_id) AS INTEGER)
                                AS rank
                       FROM scored)
            SELECT probe_id, rank, cand_id, cosine FROM ranked WHERE rank <= 3
        """,
        # lsh_signatures' buckets must equal the md5-parity plane formula
        "lsh_signatures_np": f"""
            WITH {_lsh_sig_cte()}
            SELECT s.vec_id, e2.label, CAST(s.bucket AS BIGINT) AS lsh_bucket
            FROM sig s JOIN embeddings e2 USING (vec_id)
        """,
        # pinned-centroid IVF: assignment/probe ranking on (dot DESC, cell)
        # both sides; ±1 centroids share a norm, so raw-dot argmax ≡ cosine
        "ann_ivf_pinned": f"""
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            d AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm,
                         cell, list_inner_product(v, w) AS dot
                  FROM e CROSS JOIN {_ivf_cents_sql()}),
            corp AS (SELECT vec_id AS cand_id, v AS cv, nm AS cn, cell
                     FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                ORDER BY dot DESC, cell) AS rn
                           FROM d WHERE vec_id >= 5)
                     WHERE rn = 1),
            pr AS (SELECT vec_id AS probe_id, v AS pv, nm AS pn, cell
                   FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                              ORDER BY dot DESC, cell) AS rn
                         FROM d WHERE vec_id < 5)
                   WHERE rn <= 4),
            scored AS (SELECT probe_id, cand_id,
                              round(list_inner_product(pv, cv) / (pn * cn), 4)
                                AS cosine
                       FROM pr JOIN corp USING (cell)),
            ranked AS (SELECT probe_id, cand_id, cosine,
                              CAST(row_number() OVER (PARTITION BY probe_id
                                   ORDER BY cosine DESC, cand_id) AS INTEGER)
                                AS rank
                       FROM scored)
            SELECT probe_id, rank, cand_id, cosine FROM ranked WHERE rank <= 5
        """,
        "line_split_roundtrip": """
            SELECT doc_id AS parent_id, CAST(1 AS INTEGER) AS roundtrip_ok
            FROM documents
        """,
        "pdf_layout_parse": f"""
            WITH t AS (SELECT doc_id, len({_TOKS_SQL}) AS n FROM documents)
            SELECT 'pdf://doc/' || doc_id AS url,
                   CAST(CASE WHEN n = 0 THEN 0 ELSE ceil(n / 8.0) END AS BIGINT)
                     AS n_lines,
                   CAST(CASE WHEN n = 0 THEN 0 WHEN n > 8 THEN 2 ELSE 1 END
                        AS INTEGER) AS n_pages,
                   CAST(1 AS INTEGER) AS roundtrip_ok
            FROM t
        """,
        "multimodal_decode": f"""
            WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
            d AS (SELECT doc_id, hx, length(hx) // 2 AS n FROM b)
            SELECT doc_id,
                   CAST(n AS INTEGER) AS n_bytes,
                   CAST(CASE WHEN n = 0 THEN 0
                             ELSE 64 + {_byte_at('1')} % 192 END AS INTEGER) AS width,
                   CAST(CASE WHEN n = 0 THEN 0
                             ELSE 64 + {_byte_at('n')} % 128 END AS INTEGER) AS height,
                   CAST(CASE WHEN n = 0 THEN 0
                             ELSE 1 + {_byte_at('n // 2 + 1')} % 3 END AS INTEGER)
                     AS channels,
                   CASE WHEN n = 0 THEN 0.0
                        ELSE CAST(list_sum(list_transform(
                               generate_series(1, least(n, 256)),
                               i -> {_byte_at('i')}))
                             * 1000000 // (least(n, 256) * 255) AS BIGINT)
                             / 1000000.0 END AS mean_luma
            FROM d
        """,
        "multimodal_resize": f"""
            WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
            d AS (SELECT doc_id, hx, length(hx) // 2 AS n FROM b),
            g AS (SELECT doc_id,
                         CASE WHEN n = 0 THEN 0
                              ELSE 64 + {_byte_at('1')} % 192 END AS w,
                         CASE WHEN n = 0 THEN 0
                              ELSE 64 + {_byte_at('n')} % 128 END AS h,
                         CASE WHEN n = 0 THEN 0
                              ELSE 1 + {_byte_at('n // 2 + 1')} % 3 END AS c
                  FROM d),
            s AS (SELECT doc_id, w, h, c,
                         CASE WHEN w = 0 THEN 0.0
                              ELSE least(1.0, 64.0 / greatest(w, h)) END AS scale
                  FROM g)
            SELECT doc_id,
                   CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                   CAST(trunc(w * scale) AS INTEGER) AS thumb_width,
                   CAST(trunc(h * scale) AS INTEGER) AS thumb_height,
                   CAST(CAST(trunc(w * scale) AS INTEGER)
                        * CAST(trunc(h * scale) AS INTEGER) * c AS INTEGER)
                     AS thumb_bytes
            FROM s
        """,
        "multimodal_features": f"""
            WITH b AS (SELECT doc_id, hex(encode(text)) AS hx FROM documents),
            bytes AS (SELECT doc_id,
                             unnest(list_transform(
                               generate_series(1, length(hx) // 2),
                               i -> {_byte_at('i')})) AS byte
                      FROM b),
            counts AS (SELECT doc_id, CAST(byte % 16 AS INTEGER) AS dim,
                              count(*) AS cnt
                       FROM bytes GROUP BY 1, 2),
            docs AS (SELECT doc_id, CAST(length(hx) // 2 AS INTEGER) AS n_bytes
                     FROM b),
            dims AS (SELECT CAST(unnest(generate_series(0, 15)) AS INTEGER) AS dim)
            SELECT d.doc_id, dm.dim,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt, d.n_bytes
            FROM docs d CROSS JOIN dims dm
            LEFT JOIN counts c ON c.doc_id = d.doc_id AND c.dim = dm.dim
        """,
        # ------------------------------------------------------------------
        # flagship + corpus family: the synthetic page fixture is simple
        # enough that the KERNEL OUTPUTS THEMSELVES are SQL-derivable — the
        # extraction recovers exactly text + '\n' + reverse(text) (content
        # blocks of the synth template), and the NW alignment of the two
        # recovered lines against the one gt line has a closed form (the
        # exact-match line pairs diagonally, the reversed line pairs with a
        # gap; no synthetic text is a palindrome or contains '\n' — both
        # properties the parity probe asserts). So the former rows-only
        # family is hash-checked end-to-end: any kernel regression breaks
        # these value hashes. Verified round-3 at sf0.001/0.01/0.1.
        # round_even = Python round() (banker's) for allowed_dist.
        "extract_pipeline": f"""
            SELECT {_URL_SQL} AS url,
                   'docs.example.org' AS host, lang,
                   md5(text || chr(10) || reverse(text)) AS content_md5,
                   CAST(7 AS INTEGER) AS n_blocks,
                   CAST(2 AS INTEGER) AS n_content_blocks,
                   CAST(2 * len(string_split(text, ' ')) AS INTEGER) AS n_spans,
                   CAST(0 AS INTEGER) AS n_flagged,
                   CAST(2 * length(text) + {_PAGE_OVERHEAD} AS BIGINT) AS chars_in,
                   CAST(2 * length(text) + 1 AS BIGINT) AS chars_out
            FROM documents
        """,
        "extract_host_metrics": f"""
            SELECT 'docs.example.org' AS host,
                   CAST(sum(2 * length(text) + {_PAGE_OVERHEAD}) AS BIGINT)
                     AS sum_chars_in,
                   CAST(sum(2 * length(text) + 1) AS BIGINT) AS sum_chars_out,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
        """,
        # WARC roundtrip: the oracle re-derives every record field from
        # the documents table (payload = the synthesized page html, built
        # from the interpolated template pieces), so a parser that
        # mis-advances the record cursor breaks every later record's hash
        "warc_scan": f"""
            WITH h AS (
              SELECT doc_id, {_URL_SQL} AS url,
                     strftime(TIMESTAMP '2024-01-01 00:00:00'
                              + to_seconds(doc_id * 61),
                              '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                     {_sq(_PAGE_TMPL.split("{paras}")[0] + "<p>")} || text
                       || {_sq(_PROMO)} || reverse(text)
                       || {_sq("</p>" + _PAGE_TMPL.split("{paras}")[1])}
                       AS html
              FROM documents
            )
            SELECT url, warc_date,
                   -- BYTE length (the Spark side frames the utf-8 payload):
                   -- char-count length() only coincides on ASCII text
                   CAST(octet_length(encode(html)) AS BIGINT)
                     AS content_length,
                   md5(html) AS payload_md5
            FROM h
        """,
        # robots fixture closed form: odd-k hosts disallow the /p/1 prefix
        # (paths 1, 10, 11) but re-allow /p/12 via the longer rule
        "robots_gate": """
            SELECT doc_id,
                   'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                     AS host,
                   '/p/' || CAST(doc_id % 13 AS VARCHAR) AS path,
                   CAST(CASE WHEN (doc_id % 7) % 2 = 1
                              AND (doc_id % 13) IN (1, 10, 11)
                        THEN 0 ELSE 1 END AS INTEGER) AS robots_allowed
            FROM documents
        """,
        # sitemap closed form: every (host k, path p) advertised with the
        # arithmetic lastmod; known iff an even doc_id < 100 hits the pair
        "sitemap_scan": """
            WITH adv AS (
              SELECT k, p,
                     'site' || CAST(k AS VARCHAR) || '.example.com' AS host,
                     'https://site' || CAST(k AS VARCHAR)
                       || '.example.com/p/' || CAST(p AS VARCHAR) AS loc,
                     strftime(DATE '2024-01-01' + to_days(CAST(k * 13 + p AS INTEGER)),
                              '%Y-%m-%d') AS lastmod
              FROM (SELECT unnest(range(0, 7)) AS k),
                   (SELECT unnest(range(0, 13)) AS p)
            ), kn AS (
              SELECT DISTINCT doc_id % 7 AS k, doc_id % 13 AS p
              FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100
            )
            SELECT a.host, a.loc, a.lastmod,
                   CAST(CASE WHEN kn.k IS NULL THEN 0 ELSE 1 END AS INTEGER)
                     AS known
            FROM adv a LEFT JOIN kn ON kn.k = a.k AND kn.p = a.p
        """,
        # schedule closed form: dense doc_ids → slot = doc_id DIV 7 within
        # host site{doc_id%7}; delay = 1 + k%3 from the synth robots text
        "crawl_schedule": """
            SELECT doc_id,
                   'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                     AS host,
                   CAST(doc_id // 7 AS INTEGER) AS slot,
                   CAST(1 + (doc_id % 7) % 3 AS INTEGER) AS delay_s,
                   CAST((doc_id // 7) * (1 + (doc_id % 7) % 3) AS BIGINT)
                     AS fetch_offset_s
            FROM documents
        """,
        "corpus_alignments": f"""
            WITH d AS (SELECT {_URL_SQL} AS doc_id, text, lang
                       FROM documents WHERE lang = 'en')
            SELECT doc_id, 'p0' AS page_id, '0' AS line_id,
                   text AS ocr, text AS gt,
                   0.0 AS cer, CAST(0 AS INTEGER) AS levenshtein,
                   CAST(0 AS INTEGER) AS min_dist,
                   CAST(round_even(length(text) * 0.1, 0) AS INTEGER)
                     AS allowed_dist,
                   CAST(1 AS INTEGER) AS similarity, lang
            FROM d
            UNION ALL
            SELECT doc_id, 'p0', '1',
                   reverse(text), '',
                   CAST(length(text) AS DOUBLE),
                   CAST(length(text) AS INTEGER), CAST(0 AS INTEGER),
                   CAST(0 AS INTEGER), CAST(0 AS INTEGER), lang
            FROM d
        """,
        "corpus_windows": f"""
            WITH d AS (
              SELECT {_URL_SQL} AS doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents WHERE lang = 'en'
            ), w AS (
              SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS i
              FROM d
            )
            SELECT doc_id, 'p0' AS page_id, '0' AS line_id,
                   CAST(i - 1 AS INTEGER) AS pos,
                   array_to_string(toks[i:i+3], ' ') AS ocr_win,
                   array_to_string(toks[i:i+3], ' ') AS gt_win
            FROM w
        """,
        "corpus_stats": f"""
            WITH d AS (SELECT {_URL_SQL} AS doc_id, length(text) AS L
                       FROM documents WHERE lang = 'en')
            SELECT doc_id, CAST(2 AS BIGINT) AS n_lines,
                   CAST(1 AS BIGINT) AS n_similar,
                   round(L / 2.0, 6) AS avg_cer, 0.5 AS similar_ratio
            FROM d
            UNION ALL
            SELECT NULL, CAST(2 * count(*) AS BIGINT),
                   CAST(count(*) AS BIGINT),
                   round(sum(L) / (2.0 * count(*)), 6), 0.5
            FROM d
        """,
        "corpus_split": f"""
            WITH d AS (SELECT {_URL_SQL} AS doc_id FROM documents
                       WHERE lang = 'en'),
            r AS (
              SELECT doc_id, '0' AS line_id, '0.00' AS cer_bucket FROM d
              UNION ALL
              SELECT doc_id, '1', '>=0.10' FROM d
            ), s AS (
              SELECT cer_bucket,
                     {_hex2int("md5(doc_id || '|' || line_id)")} % 10 AS h
              FROM r
            )
            SELECT cer_bucket,
                   CASE WHEN h < 8 THEN 'train'
                        WHEN h < 9 THEN 'test' ELSE 'val' END AS split,
                   CAST(count(*) AS BIGINT) AS n_lines
            FROM s GROUP BY 1, 2
        """,
        # trained IVF: the whole k-means training (hash-pool seeding +
        # Lloyd) replays as MATERIALIZED CTE stages — rounded-9 decisions
        # with pinned tie-breaks make the centroid collect SQL-decidable
        # (formerly the registry's one rows-only query)
        "ann_ivf": _ivf_trained_oracle(),
        # triplet mining: the ann_brute_force cosine conventions + one
        # (probe, is_pos) window + conditional-aggregation pivot
        "triplet_mining": """
            WITH e AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
            probes AS (SELECT vec_id AS probe_id, label AS probe_label,
                              v AS pv FROM e WHERE vec_id < 16),
            corpus AS (SELECT vec_id AS cand_id, label AS clabel, v AS cv
                       FROM e WHERE vec_id >= 16),
            scored AS (
              SELECT probe_id, probe_label, cand_id,
                     round(list_inner_product(pv, cv) /
                           (sqrt(list_inner_product(pv, pv)) *
                            sqrt(list_inner_product(cv, cv))), 4) AS cosine,
                     CAST(CASE WHEN clabel = probe_label THEN 1 ELSE 0 END
                          AS INTEGER) AS is_pos
              FROM probes, corpus),
            top AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY probe_id, is_pos
                  ORDER BY cosine DESC, cand_id) AS rn
                FROM scored) WHERE rn = 1),
            piv AS (
              SELECT probe_id, probe_label,
                     max(CASE WHEN is_pos = 1 THEN cand_id END) AS pos_id,
                     max(CASE WHEN is_pos = 1 THEN cosine END) AS pos_cos,
                     max(CASE WHEN is_pos = 0 THEN cand_id END) AS neg_id,
                     max(CASE WHEN is_pos = 0 THEN cosine END) AS neg_cos
              FROM top GROUP BY 1, 2)
            SELECT probe_id, probe_label, pos_id, pos_cos, neg_id, neg_cos,
                   pos_cos - neg_cos AS margin,
                   CAST(CASE WHEN pos_cos - neg_cos <= 0 THEN 1 ELSE 0 END
                        AS INTEGER) AS violated
            FROM piv
            WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
        """,
        # TICCL anagram keys: Σ code^5 power-sum fold + shifted-key join
        "anagram_candidates": f"""
            {_anagram_ctes()}
            SELECT err_word, err_tf, cand_word, cand_tf,
                   sub_err, sub_true, anagram_key
            FROM hits
        """,
        "anagram_corrections": f"""
            {_anagram_ctes()}
            SELECT err_word, err_tf, cand_word, cand_tf, sub_err, sub_true
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY err_word
                    ORDER BY cand_tf DESC, cand_word) AS rn
                  FROM hits)
            WHERE rn = 1
        """,
        # perceptual aHash: luma sampling + mean-threshold bits replay as
        # pure integer/string SQL (ASCII payload ⇒ chars are bytes)
        "image_ahash": f"""
            {_ahash_ctes()}
            SELECT doc_id, n_bytes, ahash FROM ah
        """,
        "image_ahash_dedup": f"""
            {_ahash_ctes()},
            bd AS (SELECT doc_id, ahash, bnd,
                          (ahash >> (bnd * 15)) & 32767 AS band_val
                   FROM ah, (SELECT unnest(generate_series(0,
                        {multimodal.AHASH_BANDS - 1})) AS bnd)),
            pr AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                          CAST(bit_count(xor(a.ahash, b.ahash))
                               AS INTEGER) AS hamming
                   FROM bd a JOIN bd b
                     ON a.bnd = b.bnd AND a.band_val = b.band_val
                        AND a.doc_id < b.doc_id)
            SELECT a_id, b_id, hamming FROM pr
            WHERE hamming <= {multimodal.AHASH_MAX_HAM}
        """,
        # aHash recall instrument: 10×6-bit ground-truth blocking
        # (pigeonhole-complete ≤ 9 flips) vs the production 4×15 banding
        "ahash_recall_eval": f"""
            {_ahash_ctes()},
            bd4 AS (SELECT doc_id, ahash, bnd,
                           (ahash >> (bnd * 15)) & 32767 AS bv
                    FROM ah, (SELECT unnest(generate_series(0, 3)) AS bnd)),
            bd10 AS (SELECT doc_id, ahash, bnd,
                            (ahash >> (bnd * 6)) & 63 AS bv
                     FROM ah,
                          (SELECT unnest(generate_series(0, 9)) AS bnd)),
            truth AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                             CAST(bit_count(xor(a.ahash, b.ahash))
                                  AS INTEGER) AS hamming
                      FROM bd10 a JOIN bd10 b
                        ON a.bnd = b.bnd AND a.bv = b.bv
                           AND a.doc_id < b.doc_id
                      WHERE bit_count(xor(a.ahash, b.ahash))
                            <= {multimodal.AHASH_MAX_HAM}),
            cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                     FROM bd4 a JOIN bd4 b
                       ON a.bnd = b.bnd AND a.bv = b.bv
                          AND a.doc_id < b.doc_id),
            agg AS (SELECT t.hamming,
                           CAST(count(*) AS BIGINT) AS n_true_pairs,
                           CAST(sum(CASE WHEN c.a_id IS NULL THEN 0
                                         ELSE 1 END) AS BIGINT) AS n_caught
                    FROM truth t LEFT JOIN cand c
                      ON c.a_id = t.a_id AND c.b_id = t.b_id
                    GROUP BY 1)
            SELECT hamming, n_true_pairs, n_caught,
                   round(n_caught * 100.0 / n_true_pairs, 6) AS recall_pct
            FROM agg
        """,
        # DSIR importance model: the bucket-count "training" aggregation
        # + Mitchell fixed-point logs replay directly (all int64)
        "dsir_weights": f"""
            {_dsir_weight_ctes()}
            SELECT bucket, ct, cr, w FROM w
        """,
        "dsir_score": f"""
            {_dsir_weight_ctes()},
            {_DSIR_SCORE_CTES}
            SELECT doc_id, lang, is_target, n_grams, score FROM scored
        """,
        "dsir_sample": f"""
            {_dsir_weight_ctes()},
            {_DSIR_SCORE_CTES},
            raw AS (
              SELECT doc_id, lang, n_grams, score,
                     CAST({_hex2int("md5('dsir|' || CAST(doc_id AS VARCHAR))")}
                          % {1 << selection._U_BITS} + 1 AS BIGINT) AS u1
              FROM scored WHERE is_target = 0
            ),
            r2 AS (SELECT doc_id, lang, n_grams, score,
                          CAST({selection._U_BITS * selection.DSIR_S}
                               - {_ilog2_sql('u1')} + 1 AS BIGINT) AS e1
                   FROM raw),
            r3 AS (SELECT doc_id, lang, n_grams, score,
                          CAST({selection.DSIR_TAU} * {_ilog2_sql('e1')}
                               - score AS BIGINT) AS race_key
                   FROM r2)
            SELECT doc_id, lang, n_grams, score, race_key FROM r3
            ORDER BY race_key, doc_id LIMIT {selection.DSIR_K}
        """,
        # CCNet terciles: lm_bigram surprise chain + per-(lang, m)
        # histogram + cumulative window over the histogram dim
        "ccnet_buckets": f"""
            WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
            bgx AS (SELECT doc_id,
                           unnest(list_transform(
                             generate_series(1, len(toks) - 1),
                             i -> struct_pack(w1 := toks[i],
                                              w2 := toks[i+1]))) AS b
                    FROM t WHERE len(toks) >= 2),
            bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgx),
            c2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf GROUP BY 1, 2),
            ctx AS (SELECT w1, count(*) AS ctx FROM bgf GROUP BY 1),
            rt AS (SELECT c2.w1, c2.w2,
                          CAST(ctx.ctx // c2.c2 AS BIGINT) AS r
                   FROM c2 JOIN ctx USING (w1)),
            per AS (SELECT doc_id, count(*) AS n_bigrams, sum(r) AS sum_r
                    FROM bgf JOIN rt USING (w1, w2) GROUP BY 1),
            sc AS (SELECT d.doc_id, d.lang,
                          CAST(coalesce(p.sum_r, 0)
                               // greatest(coalesce(p.n_bigrams, 0), 1)
                               AS BIGINT) AS m
                   FROM documents d LEFT JOIN per p USING (doc_id)),
            hist AS (SELECT lang, m, count(*) AS c FROM sc GROUP BY 1, 2),
            cum AS (SELECT lang, m,
                           sum(c) OVER (PARTITION BY lang ORDER BY m) AS cum,
                           sum(c) OVER (PARTITION BY lang) AS n_l
                    FROM hist),
            thr AS (SELECT lang,
                           min(CASE WHEN cum * 3 >= n_l THEN m END) AS t1,
                           min(CASE WHEN cum * 3 >= 2 * n_l THEN m END) AS t2
                    FROM cum GROUP BY 1)
            SELECT sc.doc_id, sc.lang, sc.m,
                   CASE WHEN sc.m <= t.t1 THEN 'head'
                        WHEN sc.m <= t.t2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc JOIN thr t USING (lang)
        """,
        # temperature mixing: isqrt is floor(correctly-rounded IEEE sqrt)
        # — deterministic in both engines for exact int64 casts
        "mix_temperature": f"""
            WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
                       FROM documents GROUP BY 1),
            w AS (SELECT source, n_src,
                         CAST(greatest(floor(sqrt(CAST(n_src AS DOUBLE))), 1)
                              AS BIGINT) AS w_src
                  FROM s)
            SELECT d.doc_id, d.source, w.n_src, w.w_src,
                   CAST(CASE WHEN
                       {_hex2int("md5('mix|' || CAST(doc_id AS VARCHAR))")}
                       % w.w_src = 0 THEN 1 ELSE 0 END AS INTEGER) AS kept
            FROM documents d JOIN w USING (source)
        """,
        # source KL: support-of-a smoothed divergence, Mitchell logs;
        # the single display division is a two-flop IEEE expression on
        # exact integers (never lands on a 6-decimal rounding boundary)
        "source_divergence": f"""
            WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS token
                         FROM documents),
            cnt AS MATERIALIZED (
              SELECT source, token, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
            ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tok
                   FROM cnt GROUP BY 1),
            vs AS (SELECT CAST(count(DISTINCT token) AS BIGINT) AS v
                   FROM cnt),
            pairs AS (
              SELECT a.source AS source_a, b2.source AS source_b,
                     a.token, a.c AS c_a,
                     CAST(coalesce(b.c, 0) AS BIGINT) AS c_b
              FROM cnt a
              JOIN ns b2 ON b2.source <> a.source
              LEFT JOIN cnt b
                ON b.source = b2.source AND b.token = a.token),
            terms AS (
              SELECT p.source_a, p.source_b, p.c_a, p.c_b,
                     CAST(p.c_a * (nb.n_tok + vs.v) AS BIGINT) AS x1,
                     CAST((p.c_b + 1) * na.n_tok AS BIGINT) AS x2,
                     na.n_tok AS n_a
              FROM pairs p
              JOIN ns na ON na.source = p.source_a
              JOIN ns nb ON nb.source = p.source_b, vs),
            agg AS (
              SELECT source_a, source_b,
                     CAST(count(*) AS BIGINT) AS n_terms_a,
                     CAST(sum(CASE WHEN c_b > 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_shared,
                     CAST(sum(c_a * ({_ilog2_sql('x1')}
                                     - {_ilog2_sql('x2')}))
                          AS BIGINT) AS kl_num,
                     max(n_a) AS n_a
              FROM terms GROUP BY 1, 2)
            SELECT source_a, source_b, n_terms_a, n_shared, kl_num,
                   round(CAST(kl_num AS DOUBLE)
                         / CAST(n_a * {selection.DSIR_S} AS DOUBLE), 6)
                     AS kl_bits
            FROM agg
        """,
        "vocab_growth": f"""
            WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                         FROM documents),
            firsts AS (SELECT token, min(doc_id) AS first_doc
                       FROM tok GROUP BY 1),
            pd AS (SELECT doc_id, len({_TOKS_SQL}) AS n_tok FROM documents),
            cps AS (SELECT CAST(CAST(1 AS BIGINT) << j AS BIGINT) AS checkpoint
                    FROM (SELECT unnest(generate_series(0,
                          {selection.HEAPS_CHECKPOINTS - 1})) AS j)),
            vocab AS (SELECT checkpoint, CAST(count(*) AS BIGINT) AS vocab_size
                      FROM firsts, cps WHERE first_doc < checkpoint
                      GROUP BY 1),
            tk AS (SELECT checkpoint, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                          CAST(count(*) AS BIGINT) AS n_docs_used
                   FROM pd, cps WHERE doc_id < checkpoint GROUP BY 1)
            SELECT c.checkpoint, t.n_docs_used,
                   CAST(coalesce(v.vocab_size, 0) AS BIGINT) AS vocab_size,
                   CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens
            FROM cps c
            LEFT JOIN vocab v USING (checkpoint)
            LEFT JOIN tk t USING (checkpoint)
            WHERE t.n_docs_used IS NOT NULL
        """,
    }
    # the salted LSH expansion must produce EXACTLY the unsalted candidate
    # set — same oracle, so the driver itself certifies the equivalence
    sql["dedup_minhash_lsh_salted"] = sql["dedup_minhash_lsh"]
    # incremental DSIR retrain must reproduce full retraining exactly
    # (counts are additive) — same oracle, driver certifies equivalence
    sql["dsir_weights_incremental"] = sql["dsir_weights"]
    # dataset card: compose the mojibake and classifier oracles as
    # scoped subqueries over the same definitions the per-doc ops certify
    sql["corpus_card"] = f"""
        WITH base AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_en_docs,
                 CAST(count(DISTINCT md5(coalesce(text, ''))) AS BIGINT)
                   AS n_distinct_texts
          FROM documents),
        tok AS (SELECT unnest({_TOKS_SQL}) AS token FROM documents),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(count(DISTINCT token) AS BIGINT) AS vocab_size
               FROM tok),
        mj AS (SELECT CAST(sum(mojibake_flag) AS BIGINT) AS n_mojibake
               FROM ({sql['mojibake_score']})),
        q AS (SELECT CAST(sum(clf_keep) AS BIGINT) AS n_quality_keep
              FROM ({sql['quality_classifier']}))
        SELECT n_docs, n_tokens, vocab_size, n_langs, n_sources,
               round(n_en_docs * 100.0 / n_docs, 6) AS en_pct,
               CAST(n_docs - n_distinct_texts AS BIGINT)
                 AS n_exact_dup_docs,
               round((n_docs - n_distinct_texts) * 100.0 / n_docs, 6)
                 AS dup_pct,
               n_mojibake,
               round(n_quality_keep * 100.0 / n_docs, 6)
                 AS quality_keep_pct
        FROM base, tt, mj, q
    """
    # curriculum plan: compose the classifier-score oracle, decile
    # threshold from the descending histogram cumulative
    from .operators.selection import CUR_DECILE, CUR_KEY_BITS, CUR_SHARDS

    sql["curriculum_plan"] = f"""
        WITH qc AS ({sql['quality_classifier']}),
        q2 AS (SELECT doc_id, clf_score FROM qc),
        hist AS (SELECT clf_score, count(*) AS c FROM q2 GROUP BY 1),
        cum AS (SELECT clf_score,
                       sum(c) OVER (ORDER BY clf_score DESC) AS cumd
                FROM hist),
        nn AS (SELECT count(*) AS n FROM q2),
        thr AS (SELECT max(CASE WHEN cumd * {CUR_DECILE} >= n
                                THEN clf_score END) AS t
                FROM cum, nn)
        SELECT doc_id, clf_score,
               CASE WHEN clf_score >= t THEN 'anneal'
                    ELSE 'pretrain' END AS phase,
               CAST({_hex2int("md5('cur|' || CAST(doc_id AS VARCHAR))")}
                    % {CUR_SHARDS} AS INTEGER) AS shard,
               CAST(clf_score * {1 << CUR_KEY_BITS}
                    + {_hex2int("md5('ck|' || CAST(doc_id AS VARCHAR))")}
                      % {1 << CUR_KEY_BITS} AS BIGINT) AS curriculum_key
        FROM q2, thr
    """
    # the _np alias serves the same implementation, so the same oracle
    sql["fingerprints_np"] = sql["fingerprints"]
    # the .warc.gz scan must inflate back to EXACTLY the plain archive's
    # records — same oracle, so the driver certifies the member walk +
    # inflate + framing parse end-to-end
    sql["warc_gz_scan"] = sql["warc_scan"]
    # point reads through the CDX index must decode the same records the
    # synth closed form describes — md5 over the INFLATED payload bytes
    sql["warc_cdx_lookup"] = f"""
        WITH h AS (
          SELECT doc_id, {_URL_SQL} AS url,
                 strftime(TIMESTAMP '2024-01-01 00:00:00'
                          + to_seconds(doc_id * 61),
                          '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                 {_sq(_PAGE_TMPL.split("{paras}")[0] + "<p>")} || text
                   || {_sq(_PROMO)} || reverse(text)
                   || {_sq("</p>" + _PAGE_TMPL.split("{paras}")[1])}
                   AS html
          FROM documents
          WHERE doc_id % 17 = 0
        )
        SELECT url, warc_date, md5(html) AS payload_md5
        FROM h
    """
    sql["rare_terms"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                     FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfs AS (SELECT token, CAST(count(*) AS BIGINT) AS df
                FROM tf GROUP BY 1),
        r AS (
          SELECT f.doc_id, f.token, CAST(f.tf AS BIGINT) AS tf, d.df,
                 row_number() OVER (
                   PARTITION BY f.doc_id
                   ORDER BY d.df ASC, f.tf DESC, f.token ASC
                 ) AS rnk
          FROM tf f JOIN dfs d USING (token)
        )
        SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, token, tf, df
        FROM r WHERE rnk <= {index.RARE_TERMS_K}
    """
    sql["phrase_search"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
        bg AS (
          SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                        i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM t WHERE len(toks) >= 2
        ),
        top AS (SELECT bigram
                FROM (SELECT bigram, count(*) AS c FROM bg GROUP BY 1)
                ORDER BY c DESC, bigram LIMIT 1),
        ph AS (
          SELECT string_split((SELECT bigram FROM top), ' ')[i] AS token,
                 i - 1 AS off
          FROM unnest(generate_series(1, 2)) AS u(i)
        ),
        pos AS (
          SELECT doc_id, i - 1 AS p, t.toks[i] AS token
          FROM t, unnest(generate_series(1, len(t.toks))) AS u(i)
        ),
        a AS (
          SELECT pos.doc_id, pos.p - ph.off AS anchor,
                 count(DISTINCT ph.off) AS k
          FROM pos JOIN ph USING (token) GROUP BY 1, 2
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
               CAST(min(anchor) AS INTEGER) AS first_pos
        FROM a WHERE k = 2 GROUP BY doc_id
    """
    sql["host_tiers"] = """
        WITH h AS (
          SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                   AS host,
                 n_chars
          FROM documents
        ), per_host AS (
          SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM h GROUP BY host
        )
        SELECT host, n_docs, total_chars,
               CAST(ntile(4) OVER (ORDER BY total_chars DESC, host)
                    AS INTEGER) AS tier
        FROM per_host
    """
    # the scale-out path must reproduce the NTILE window bit-for-bit
    sql["host_tiers_scaled"] = sql["host_tiers"]
    sql["length_histogram"] = """
        SELECT source,
               CAST(CASE WHEN n_chars < 0 THEN 0
                         WHEN n_chars >= 2000 THEN 21
                         ELSE n_chars // 100 + 1 END AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars
        FROM documents GROUP BY 1, 2
    """
    # CUBE report: DuckDB GROUP BY CUBE with GROUPING() mirroring Spark's
    # grouping_id() bit order (first listed dimension = high bit)
    sql["crawl_cube"] = """
        WITH b AS (
          SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                   AS host,
                 DATE '2024-01-01' + CAST(doc_id % 5 AS INTEGER) AS dt,
                 n_chars
          FROM documents
        )
        SELECT host, dt, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(GROUPING(host, dt) AS INTEGER) AS gid
        FROM b GROUP BY CUBE (host, dt)
    """
    # quarantine mode: clean files replay the warc_scan relation with an
    # 'ok' status; the deterministically-corrupted files (file_id % 7 == 3)
    # contribute exactly one 'quarantined' row each — both branches in
    # closed form
    sql["warc_quarantine_scan"] = f"""
        WITH h AS (
          SELECT doc_id, {_URL_SQL} AS url,
                 strftime(TIMESTAMP '2024-01-01 00:00:00'
                          + to_seconds(doc_id * 61),
                          '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
                 {_sq(_PAGE_TMPL.split("{paras}")[0] + "<p>")} || text
                   || {_sq(_PROMO)} || reverse(text)
                   || {_sq("</p>" + _PAGE_TMPL.split("{paras}")[1])}
                   AS html
          FROM documents
        )
        SELECT CAST(doc_id // 50 AS BIGINT) AS file_id, url, warc_date,
               CAST(octet_length(encode(html)) AS BIGINT) AS content_length,
               md5(html) AS payload_md5, 'ok' AS status
        FROM h WHERE (doc_id // 50) % 7 <> 3
        UNION ALL
        SELECT DISTINCT CAST(doc_id // 50 AS BIGINT) AS file_id,
               CAST(NULL AS VARCHAR) AS url,
               CAST(NULL AS VARCHAR) AS warc_date,
               CAST(NULL AS BIGINT) AS content_length,
               CAST(NULL AS VARCHAR) AS payload_md5,
               'quarantined' AS status
        FROM documents WHERE (doc_id // 50) % 7 = 3
    """
    # learned-BPE oracles replay the ENTIRE training loop (merge selection
    # + apply) as generated CTE stages — see _bpe_stages_sql
    sql["bpe_train"] = _bpe_train_oracle(8)
    sql["bpe_tokenize"] = _bpe_tokenize_oracle(8)
    sql["bpe_munch_tokenize"] = _bpe_munch_oracle(8, bpe.MUNCH_STAGES)
    sql["tokenizer_divergence"] = f"""
        WITH enc AS ({_bpe_encode_oracle(8)}),
        mn AS ({_bpe_munch_oracle(8, bpe.MUNCH_STAGES)}),
        mids AS (SELECT doc_id,
                        list(vocab_id ORDER BY piece_pos, sym_pos)
                          AS munch_ids
                 FROM mn GROUP BY 1)
        SELECT e.doc_id, e.n_tokens AS n_bpe_tokens,
               CAST(coalesce(len(i.munch_ids), 0) AS INTEGER)
                 AS n_munch_tokens,
               CAST(coalesce(i.munch_ids, CAST([] AS INTEGER[]))
                    = e.token_ids AS INTEGER) AS same_segmentation
        FROM enc e LEFT JOIN mids i USING (doc_id)
    """
    sql["bpe_fertility"] = f"""
        WITH tok AS ({_bpe_tokenize_oracle(8)})
        SELECT d.lang, count(*) AS n_docs,
               CAST(sum(t.n_pieces) AS BIGINT) AS n_pieces,
               CAST(sum(t.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
               round(sum(t.n_bpe_tokens)
                     / greatest(sum(t.n_pieces), 1), 6) AS fertility
        FROM documents d JOIN tok t USING (doc_id) GROUP BY 1
    """
    sql["bpe_vocab"] = (
        _bpe_stages_sql(8)
        + """
    SELECT CAST(row_number() OVER (ORDER BY freq DESC, symbol)
                AS INTEGER) AS vocab_id,
           symbol, CAST(freq AS BIGINT) AS freq
    FROM (SELECT s AS symbol, sum(freq) AS freq
          FROM (SELECT unnest(list_filter(string_split(w, chr(31)),
                                          x -> x <> '')) AS s, freq
                FROM wf8)
          GROUP BY 1)"""
    )
    sql["bpe_encode"] = _bpe_encode_oracle(8)
    # M14 one-hot: compose the encode replay, explode positions, build
    # the indicator list against the in-plan vocab-size dim
    from .operators.bpe import ONEHOT_MOD, ONEHOT_POS

    sql["onehot_tensorize"] = f"""
        WITH enc AS ({sql['bpe_encode']}),
        ex AS (SELECT doc_id, CAST(j - 1 AS INTEGER) AS pos,
                      token_ids[j] AS vocab_id
               FROM enc,
                    unnest(generate_series(1,
                       least(len(token_ids), {ONEHOT_POS}))) AS u(j)
               WHERE doc_id % {ONEHOT_MOD} = 0),
        vs AS (SELECT CAST(max(x) AS INTEGER) AS v
               FROM (SELECT unnest(token_ids) AS x FROM enc))
        SELECT doc_id, pos, vocab_id,
               list_transform(generate_series(1, v),
                 j -> CAST(CASE WHEN j = vocab_id THEN 1 ELSE 0 END
                           AS INTEGER)) AS onehot
        FROM ex, vs
    """
    sql["inverted_index"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                     FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
        SELECT token, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               list_sort(list(doc_id))[1:{index.INDEX_POSTING_CAP}]
                 AS top_postings
        FROM tf GROUP BY token
    """
    sql["keyword_search"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                     FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        terms AS (SELECT token
                  FROM (SELECT token, sum(tf) AS cf FROM tf GROUP BY 1)
                  ORDER BY cf DESC, token LIMIT {index.SEARCH_TERMS}),
        hits AS (SELECT f.doc_id, count(*) AS n_matched, sum(f.tf) AS score
                 FROM tf f JOIN terms t USING (token) GROUP BY 1),
        sel AS (SELECT doc_id, score FROM hits
                WHERE n_matched = {index.SEARCH_TERMS})
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS INTEGER) AS rank,
               doc_id, CAST(score AS BIGINT) AS score
        FROM sel ORDER BY 1 LIMIT {index.SEARCH_K}
    """
    sql["keyword_search_bm25"] = f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS token
                     FROM documents),
        tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        terms AS (SELECT token, df
                  FROM (SELECT token, sum(tf) AS cf, count(*) AS df
                        FROM tf GROUP BY 1)
                  ORDER BY cf DESC, token LIMIT {index.SEARCH_TERMS}),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        c AS (SELECT (SELECT count(*) FROM documents) AS n,
                     (SELECT coalesce(sum(dl), 0) FROM dl) AS tt),
        -- per-term BM25: exact-int64 ratios, IEEE division, no libm —
        -- mirrors operators.index.keyword_search_bm25's fixed-point math
        per AS (SELECT f.doc_id,
                       (CAST(2*c.n - 2*t.df + 1 AS DOUBLE)
                          / CAST(2*t.df + 1 AS DOUBLE))
                     * (CAST(22*c.tt*f.tf AS DOUBLE)
                          / CAST(10*c.tt*f.tf + 3*c.tt + 9*d.dl*c.n
                                 AS DOUBLE)) AS s
                FROM tf f JOIN terms t USING (token)
                          JOIN dl d USING (doc_id), c),
        g AS (SELECT doc_id, count(*) AS m,
                     round(list_reduce(list_sort(list(s)), (a, b) -> a + b),
                           4) AS score
              FROM per GROUP BY doc_id)
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                    AS INTEGER) AS rank, doc_id, score
        FROM (SELECT * FROM g WHERE m = {index.SEARCH_TERMS}
              ORDER BY score DESC, doc_id LIMIT {index.SEARCH_K})
    """
    L = substring.SUBSTR_L
    sql["substring_dedup"] = f"""
        WITH aug AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0
                      THEN {_sq(substring.SUBSTR_BOILER + ' ')} || coalesce(text, '')
                      ELSE text END AS text
          FROM documents),
        tk AS MATERIALIZED (SELECT doc_id, {_TOKS_SQL} AS l FROM aug),
        anch AS MATERIALIZED (
          -- alias must NOT be i: _hex2int's inner lambda variable i would
          -- shadow it inside the md5 argument (round-5 lesson)
          SELECT doc_id, ap AS p,
                 CAST({_hex2int("md5(array_to_string(t.l[ap:ap+" + str(L - 1) + "], ' '))")}
                      AS BIGINT) AS h
          FROM tk t, unnest(generate_series(1, len(t.l) - {L - 1})) AS u(ap)),
        hot AS MATERIALIZED (
          SELECT h FROM anch GROUP BY h
          HAVING count(DISTINCT doc_id) >= {substring.SUBSTR_DUP_DF}),
        cov AS MATERIALIZED (
          SELECT a.doc_id, a.p FROM anch a JOIN hot USING (h)),
        isl AS (
          SELECT doc_id, p,
                 CASE WHEN max(p) OVER w1 IS NULL
                           OR p > max(p) OVER w1 + {L} THEN 1 ELSE 0 END AS f
          FROM cov
          WINDOW w1 AS (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        isl2 AS (
          SELECT doc_id, p,
                 sum(f) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS isl
          FROM isl),
        spans AS MATERIALIZED (
          SELECT doc_id, isl, min(p) AS s, max(p) + {L - 1} AS e
          FROM isl2 GROUP BY 1, 2),
        pos AS MATERIALIZED (
          SELECT doc_id, i AS pos, t.l[i] AS tok
          FROM tk t, unnest(generate_series(1, len(t.l))) AS u(i)),
        dropped AS MATERIALIZED (
          SELECT p.doc_id, p.pos FROM pos p
          JOIN spans s ON p.doc_id = s.doc_id AND p.pos BETWEEN s.s AND s.e),
        kept AS (
          SELECT p.doc_id, p.pos, p.tok
          FROM pos p LEFT JOIN dropped d
            ON p.doc_id = d.doc_id AND p.pos = d.pos
          WHERE d.pos IS NULL),
        g AS MATERIALIZED (
          SELECT doc_id, count(*) AS n_kept,
                 array_to_string(list(tok ORDER BY pos), ' ') AS text_deduped
          FROM kept GROUP BY 1),
        sc AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY 1)
        SELECT t.doc_id,
               CAST(len(t.l) AS INTEGER) AS n_tokens,
               CAST(coalesce(sc.n_spans, 0) AS INTEGER) AS n_spans,
               CAST(len(t.l) - coalesce(g.n_kept, 0) AS INTEGER) AS n_dropped,
               coalesce(g.text_deduped, '') AS text_deduped
        FROM tk t LEFT JOIN sc USING (doc_id) LEFT JOIN g USING (doc_id)
    """
    # batch-perceptron training replay (learned weights + learned scoring)
    sql["quality_classifier_train"] = _perceptron_train_oracle(
        textstats.CLF_EPOCHS
    )
    sql["quality_classifier_learned"] = _perceptron_learned_oracle(
        textstats.CLF_EPOCHS
    )
    sql["quality_classifier_eval"] = _perceptron_eval_oracle(
        textstats.CLF_EPOCHS
    )
    sql["quality_classifier_pr_curve"] = _perceptron_pr_curve_oracle(
        textstats.CLF_EPOCHS
    )
    # Gopher signals: integer pairs + guarded divisions; the keep rule is
    # cross-multiplied integer comparisons (never rounded floats); the
    # bigram mode is a doc-partitioned row_number with pinned ties
    sql["gopher_quality"] = f"""
        WITH gq AS (
          SELECT doc_id, lower(coalesce(text, '')) AS t, {_TOKS_SQL} AS toks
          FROM documents
        ),
        gq2 AS (
          SELECT doc_id, toks,
                 (CASE WHEN doc_id % {textstats.GOPHER_BULLET_MOD} = 0
                       THEN '- promo item' || chr(10) || '- promo item'
                            || chr(10) ELSE '' END)
                 || regexp_replace(t, '\\. ', '.' || chr(10), 'g')
                 || (CASE WHEN doc_id % {textstats.GOPHER_ELLIPSIS_MOD} = 0
                          THEN chr(10) || 'read more...' || chr(10)
                               || 'read more...' ELSE '' END) AS ft
          FROM gq
        ),
        gst AS (
          SELECT doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST(coalesce(list_sum(
                     list_transform(toks, x -> length(x))), 0) AS BIGINT)
                   AS sum_len,
                 CAST(len(list_filter(toks,
                     x -> regexp_full_match(x, '[a-z]+'))) AS BIGINT)
                   AS alpha_words,
                 list_filter(string_split(ft, chr(10)), x -> x <> '')
                   AS lines
          FROM gq2
        ),
        gst2 AS (
          SELECT doc_id, n_tokens, sum_len, alpha_words,
                 CAST(len(lines) AS BIGINT) AS n_lines,
                 CAST(len(list_distinct(lines)) AS BIGINT)
                   AS n_distinct_lines,
                 CAST(len(list_filter(lines, x -> starts_with(x, '- ')))
                   AS BIGINT) AS bullet_lines,
                 CAST(len(list_filter(lines, x -> ends_with(x, '...')))
                   AS BIGINT) AS ellipsis_lines
          FROM gst
        ),
        gbg AS (
          SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 1),
                        i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg
          FROM gq2 WHERE len(toks) >= 2
        ),
        gbc AS (SELECT doc_id, bg, count(*) AS cnt FROM gbg GROUP BY 1, 2),
        gtop AS (
          SELECT doc_id, cnt AS top_bigram_cnt FROM (
            SELECT doc_id, cnt, row_number() OVER (
                     PARTITION BY doc_id ORDER BY cnt DESC, bg ASC) AS rn
            FROM gbc) WHERE rn = 1
        )
        SELECT s.doc_id,
               CAST(s.n_tokens AS INTEGER) AS n_tokens,
               round(s.sum_len / greatest(s.n_tokens, 1), 6)
                 AS mean_word_len,
               round(s.alpha_words / greatest(s.n_tokens, 1), 6)
                 AS frac_alpha_words,
               round((s.n_lines - s.n_distinct_lines)
                     / greatest(s.n_lines, 1), 6) AS dup_line_frac,
               round(s.bullet_lines / greatest(s.n_lines, 1), 6)
                 AS bullet_frac,
               round(s.ellipsis_lines / greatest(s.n_lines, 1), 6)
                 AS ellipsis_frac,
               round(2 * coalesce(t.top_bigram_cnt, 0)
                     / greatest(s.n_tokens, 1), 6) AS top_bigram_frac,
               CAST(CASE WHEN s.n_tokens >= 10
                          AND s.sum_len >= 3 * s.n_tokens
                          AND s.sum_len <= 10 * s.n_tokens
                          AND s.alpha_words * 10 >= s.n_tokens * 8
                          AND (s.n_lines - s.n_distinct_lines) * 10
                              <= s.n_lines * 3
                          AND s.bullet_lines * 10 <= s.n_lines * 9
                          AND s.ellipsis_lines * 10 <= s.n_lines * 3
                          AND 4 * coalesce(t.top_bigram_cnt, 0)
                              <= s.n_tokens
                         THEN 1 ELSE 0 END AS INTEGER) AS gopher_keep
        FROM gst2 s LEFT JOIN gtop t USING (doc_id)
    """
    # threshold argmax over the sweep: F1 ranked by the UNROUNDED single
    # IEEE division on exact integers (deterministic both engines), ties
    # -> lowest thr; precision floor compared as the exact integer
    # inequality tp*DEN >= (tp+fp)*NUM
    sql["quality_threshold_pick"] = f"""
        WITH qtp_prc AS ({sql["quality_classifier_pr_curve"]}),
        qtp_rk AS (
          SELECT *, row_number() OVER (
                   ORDER BY (2 * tp) / greatest(2 * tp + fp + fn, 1) DESC,
                            thr ASC) AS rn
          FROM qtp_prc),
        qtp_fl AS (
          SELECT *, row_number() OVER (ORDER BY tp DESC, thr ASC) AS rn
          FROM qtp_prc
          WHERE tp * {textstats.QT_FLOOR_DEN}
                  >= (tp + fp) * {textstats.QT_FLOOR_NUM}
            AND tp + fp > 0)
        SELECT 'max_f1' AS pick, thr, tp, fp, fn, tn, prec, rec, f1
        FROM qtp_rk WHERE rn = 1
        UNION ALL
        SELECT 'precision_floor' AS pick, thr, tp, fp, fn, tn, prec, rec, f1
        FROM qtp_fl WHERE rn = 1
    """
    sql["quality_gate_calibrated"] = _perceptron_gate_calibrated_oracle(
        textstats.CLF_EPOCHS
    )
    # the composite curation verdict reuses the stage oracles as CTEs, so
    # the END-TO-END flow is hash-checked, not just its parts (DuckDB
    # supports nested WITH inside a CTE body)
    # quality-weighted sampling reuses the quality_score oracle as a CTE;
    # the md5-derived coin mirrors operators.dedup.md5_60 exactly
    # the host gate reuses the lang_id oracle as its per-doc stage; the
    # threshold constant interpolates from the operator module so one
    # definition drives both engines
    sql["host_reputation_gate"] = f"""
        WITH lng AS ({sql["lang_id"]}),
        h AS (
          SELECT doc_id,
                 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
          FROM documents
        ), j AS (
          SELECT h.doc_id, h.host, lng.lang_pass
          FROM h JOIN lng ON h.doc_id = lng.doc_id
        ), st AS (
          SELECT host, count(*) AS host_docs,
                 sum(lang_pass) AS host_pass_cnt
          FROM j GROUP BY host
        )
        SELECT j.doc_id, j.host, j.lang_pass, st.host_docs,
               round(host_pass_cnt / host_docs, 6) AS host_pass_rate,
               CAST(CASE WHEN host_pass_cnt * 100 >=
                              {urls.HOST_MIN_PASS_PCT} * host_docs
                    THEN 1 ELSE 0 END AS INTEGER) AS host_pass
        FROM j JOIN st ON j.host = st.host
    """
    sql["corpus_sample"] = f"""
        WITH ql AS ({sql["quality_score"]})
        SELECT doc_id, quality_keep,
               CAST(CASE WHEN quality_keep = 1 THEN 100 ELSE 10 END
                    AS INTEGER) AS rate_pct,
               CAST({_hex2int("md5(CAST(doc_id AS VARCHAR))")} % 100
                    AS BIGINT) AS slot,
               CAST(CASE WHEN {_hex2int("md5(CAST(doc_id AS VARCHAR))")} % 100
                         < CASE WHEN quality_keep = 1 THEN 100 ELSE 10 END
                    THEN 1 ELSE 0 END AS INTEGER) AS sampled
        FROM ql
    """
    sql["curation_pipeline"] = f"""
        WITH dd AS ({sql["dedup_corpus_keep"]}),
        dc AS ({sql["decontaminate"]}),
        lng AS ({sql["lang_id"]}),
        hg AS ({sql["host_reputation_gate"]}),
        ql AS ({sql["quality_score"]}),
        rp AS ({sql["quality_repetition"]}),
        lm AS ({sql["lm_unigram_score"]}),
        v AS (
          SELECT dd.doc_id, dd.lang, dd.source,
                 CASE WHEN dd.keep = 0 THEN dd.drop_reason
                      WHEN dc.role = 'train' AND dc.n_overlap >= 8
                           THEN 'contaminated'
                      WHEN lng.lang_pass = 0 THEN 'lang_filtered'
                      WHEN hg.host_pass = 0 THEN 'bad_host'
                      WHEN ql.quality_keep = 0 THEN 'low_quality'
                      WHEN rp.repetition_keep = 0 THEN 'repetitive'
                      WHEN lm.lm_keep = 0 THEN 'lm_rare_tokens'
                      ELSE 'kept' END AS reason
          FROM dd
          JOIN dc ON dd.doc_id = dc.doc_id
          JOIN lng ON dd.doc_id = lng.doc_id
          JOIN hg ON dd.doc_id = hg.doc_id
          JOIN ql ON dd.doc_id = ql.doc_id
          JOIN rp ON dd.doc_id = rp.doc_id
          JOIN lm ON dd.doc_id = lm.doc_id)
        SELECT doc_id, lang, source,
               CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS INTEGER)
                 AS keep,
               reason
        FROM v
    """
    # acceptance report = GROUP BY over the composite verdict CTE; the
    # share window runs over the already-aggregated (source × reason) rows
    sql["curation_report"] = f"""
        WITH cp AS ({sql["curation_pipeline"]}),
        agg AS (
          SELECT source, reason, count(*) AS n_docs
          FROM cp GROUP BY source, reason
        )
        SELECT source, reason, n_docs,
               round(n_docs * 100.0 /
                     sum(n_docs) OVER (PARTITION BY source), 6)
                 AS pct_of_source
        FROM agg
    """
    # the export manifest's accounting (reason histogram + exported bit):
    # pure aggregation over the curation verdict CTE
    sql["export_audit"] = f"""
        WITH cp AS ({sql["curation_pipeline"]})
        SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(CASE WHEN reason = 'kept' THEN 1 ELSE 0 END AS INTEGER)
                 AS is_exported
        FROM cp GROUP BY reason
    """
    # link-graph family: the outlink parse is restated as the known
    # template href multiset (6 constant anchors per page + the
    # data-dependent /doc/{id} self anchor the Spark side must extract
    # per-row); adjacency and PageRank rebuild the same integer edge
    # multiset from documents
    sql["page_outlinks"] = """
        WITH paths AS (
          SELECT unnest(['/h', '/a', '/c', '/i', '/p', '/x']) AS path
          FROM documents
          UNION ALL
          SELECT '/doc/' || CAST(doc_id AS VARCHAR) FROM documents
        )
        SELECT path, count(*) AS n_links FROM paths GROUP BY path
    """
    sql["link_graph"] = f"""
        WITH e AS (
          SELECT doc_id % {linkgraph.N_HOSTS} AS src_id,
                 (doc_id * 31 + j) % {linkgraph.N_HOSTS} AS dst_id
          FROM documents
          CROSS JOIN generate_series(1, {linkgraph.LINK_FANOUT}) t(j)
        )
        SELECT 'host' || CAST(src_id AS VARCHAR) || '.example.net' AS src_host,
               'host' || CAST(dst_id AS VARCHAR) || '.example.net' AS dst_host,
               count(*) AS n_links
        FROM e WHERE src_id <> dst_id
        GROUP BY src_id, dst_id
    """
    sql["host_pagerank"] = _pagerank_oracle(linkgraph.PR_ITERS)
    sql["host_hits"] = _hits_oracle(linkgraph.HITS_ITERS)
    sql["host_trustrank"] = _pagerank_oracle(
        linkgraph.PR_ITERS, seed_mod=linkgraph.TRUST_SEED_MOD
    )
    # spam mass: the two rank replays composed as subquery CTEs (each
    # carries its own WITH chain; names are scoped per subquery); the
    # greatest(·, 0) clamp keeps // and Spark's div on nonnegative
    # operands, where they agree
    _sm = (
        f"(greatest(pr.rank_fp - tr.rank_fp, 0) * {linkgraph.SPAM_SCALE})"
        " // pr.rank_fp"
    )
    sql["host_communities"] = _lpa_oracle(linkgraph.LPA_ITERS)
    _csm = (
        f"(greatest(pagerank_fp - trustrank_fp, 0) * {linkgraph.SPAM_SCALE})"
        " // pagerank_fp"
    )
    sql["community_profiles"] = f"""
        WITH comm AS ({_lpa_oracle(linkgraph.LPA_ITERS)}),
        pr AS ({_pagerank_oracle(linkgraph.PR_ITERS)}),
        tr AS ({_pagerank_oracle(linkgraph.PR_ITERS,
                                 seed_mod=linkgraph.TRUST_SEED_MOD)}),
        sm AS (
          SELECT pr.host, pr.rank_fp AS h_pr, tr.rank_fp AS h_tr,
                 CAST((greatest(pr.rank_fp - tr.rank_fp, 0)
                       * {linkgraph.SPAM_SCALE}) // pr.rank_fp
                      >= {linkgraph.SPAM_THRESHOLD_FP} AS INTEGER) AS cand
          FROM pr JOIN tr USING (host)),
        agg AS (
          SELECT c.community_id, count(*) AS n_hosts,
                 CAST(sum(s.h_pr) AS BIGINT) AS pagerank_fp,
                 CAST(sum(s.h_tr) AS BIGINT) AS trustrank_fp,
                 CAST(sum(s.cand) AS BIGINT) AS n_spam_hosts
          FROM comm c JOIN sm s USING (host)
          GROUP BY 1)
        SELECT community_id, n_hosts, pagerank_fp, trustrank_fp,
               {_csm} AS spam_mass_fp, n_spam_hosts
        FROM agg
    """
    sql["host_spam_mass"] = f"""
        WITH pr AS ({_pagerank_oracle(linkgraph.PR_ITERS)}),
        tr AS ({_pagerank_oracle(linkgraph.PR_ITERS,
                                 seed_mod=linkgraph.TRUST_SEED_MOD)})
        SELECT pr.host, pr.rank_fp AS pagerank_fp,
               tr.rank_fp AS trustrank_fp,
               {_sm} AS spam_mass_fp,
               CAST({_sm} >= {linkgraph.SPAM_THRESHOLD_FP} AS INTEGER)
                 AS spam_candidate
        FROM pr JOIN tr USING (host)
    """
    # trained language ID (Cavnar-Trenkle n-gram rank profiles): training
    # is one aggregation, so the whole learn->classify->evaluate path is
    # plain (non-chained) SQL
    sql["lang_id_train"] = f"""
        WITH {_langid_ctes()}
        SELECT lang, g, rank, n FROM cprof
    """
    sql["lang_id_learned"] = _langid_learned_sql()
    # posterior gate: NB log-likelihoods in Mitchell fixed-point units,
    # union-bound 0.999 threshold on the best-vs-runner-up gap
    sql["lang_id_posterior"] = f"""
        WITH {_langid_ctes()},
        nlt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_l
                FROM ccnt GROUP BY 1),
        vv AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS v FROM ccnt),
        den AS (SELECT lang, CAST(n_l + v AS BIGINT) AS d1 FROM nlt, vv),
        den2 AS (SELECT lang, CAST({_ilog2_sql('d1')} AS BIGINT) AS lden
                 FROM den),
        model AS (SELECT c.lang AS cand, c.g,
                         CAST({_ilog2_sql('n1')} - d.lden AS BIGINT) AS w
                  FROM (SELECT lang, g, CAST(n + 1 AS BIGINT) AS n1
                        FROM ccnt) c
                  JOIN den2 d ON d.lang = c.lang),
        w0 AS (SELECT lang AS cand, CAST(-lden AS BIGINT) AS w0 FROM den2),
        dgc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
                FROM tri GROUP BY 1, 2),
        matched AS (SELECT doc_id, cand,
                           CAST(sum(c * w) AS BIGINT) AS msum,
                           CAST(sum(c) AS BIGINT) AS mc
                    FROM dgc JOIN model USING (g) GROUP BY 1, 2),
        ctot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS c_tot
                 FROM dgc GROUP BY 1),
        ll AS (SELECT t.doc_id, w0.cand,
                      CAST(coalesce(m.msum, 0)
                           + (t.c_tot - coalesce(m.mc, 0)) * w0.w0
                           AS BIGINT) AS ll
               FROM ctot t CROSS JOIN w0
               LEFT JOIN matched m
                 ON m.doc_id = t.doc_id AND m.cand = w0.cand),
        rk AS (SELECT doc_id, cand, ll,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY ll DESC, cand) AS rn
               FROM ll),
        nlc AS (SELECT CAST({langprofile.LID_PROB_ODDS} * (count(*) - 1)
                            AS BIGINT) AS x FROM nlt),
        gatec AS (SELECT CAST({_ilog2_sql('x')} AS BIGINT) AS gate FROM nlc)
        SELECT d.doc_id, d.lang AS true_lang, b.cand AS pred_lang,
               b.ll AS ll_best, CAST(b.ll - r.ll AS BIGINT) AS gap, g.gate,
               CAST(CASE WHEN b.ll - r.ll > g.gate THEN 1 ELSE 0 END
                    AS INTEGER) AS prob_pass,
               CAST(CASE WHEN b.cand = d.lang THEN 1 ELSE 0 END
                    AS INTEGER) AS correct
        FROM documents d
        JOIN (SELECT * FROM rk WHERE rn = 1) b USING (doc_id)
        JOIN (SELECT * FROM rk WHERE rn = 2) r USING (doc_id)
        CROSS JOIN gatec g
    """
    sql["lang_id_eval"] = f"""
        WITH verdicts AS ({_langid_learned_sql()}),
        agg AS (
          SELECT true_lang, pred_lang, count(*) AS n_docs
          FROM verdicts GROUP BY true_lang, pred_lang)
        SELECT true_lang, pred_lang, n_docs,
               round(n_docs * 100.0 /
                     sum(n_docs) OVER (PARTITION BY true_lang), 6)
                 AS pct_of_true
        FROM agg
    """
    # r5 web-curation additions: anchor text, templates, mirrors,
    # collocations, canonical keepers, host language mix
    NH, LF = linkgraph.N_HOSTS, linkgraph.LINK_FANOUT
    quote_suffix = dedup.QUOTE_SUFFIX.replace("'", "''")
    sql["containment_pairs"] = f"""
        WITH docs2 AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + {dedup.QUOTE_ID_BASE}, lang,
                 substr(text, 1, greatest((length(text) * 2) // 5, 1))
                   || '{quote_suffix}'
          FROM documents WHERE doc_id % {dedup.QUOTE_MOD} = 0),
        toks AS (SELECT doc_id, lang, {_TOKS_SQL} AS l FROM docs2),
        sh AS (SELECT doc_id, lang, unnest({_SHINGLES_SQL}) AS shingle
               FROM toks),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        shf AS (SELECT * FROM sh WHERE shingle NOT IN (
                  SELECT shingle FROM (
                    SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
                  WHERE df > {dedup.CONTAIN_MAX_DF})),
        inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                         count(*) AS n_common
                  FROM shf a JOIN shf b
                    ON a.lang = b.lang AND a.shingle = b.shingle
                   AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        sc AS (SELECT i.id1, i.id2, i.n_common,
                      round(i.n_common / sa.n_sh, 6) AS containment1,
                      round(i.n_common / sb.n_sh, 6) AS containment2,
                      round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6)
                        AS jaccard
               FROM inter i
               JOIN sizes sa ON i.id1 = sa.doc_id
               JOIN sizes sb ON i.id2 = sb.doc_id)
        SELECT id1, id2, n_common, containment1, containment2, jaccard,
               CASE WHEN containment1 >= containment2 THEN id1 ELSE id2 END
                 AS contained_id
        FROM sc
        WHERE greatest(containment1, containment2) >= {dedup.CONTAIN_THRESHOLD}
    """
    sql["anchor_text_index"] = f"""
        WITH e AS (
          SELECT doc_id % {NH} AS src_id, (doc_id * 31 + j) % {NH} AS dst_id,
                 trim(substr(lower(coalesce(text, '')), 1,
                      {linkgraph.ANCHOR_LEN})) AS anchor
          FROM documents CROSS JOIN generate_series(1, {LF}) t(j)),
        e2 AS (SELECT * FROM e WHERE src_id <> dst_id),
        pa AS (SELECT dst_id, anchor, count(*) AS n FROM e2 GROUP BY 1, 2),
        top AS (SELECT dst_id, anchor AS top_anchor, n AS top_anchor_n FROM (
                  SELECT dst_id, anchor, n,
                         row_number() OVER (PARTITION BY dst_id
                              ORDER BY n DESC, anchor) AS rn
                  FROM pa) WHERE rn = 1),
        roll AS (SELECT dst_id, count(*) AS n_anchors,
                        count(DISTINCT src_id) AS n_src_hosts
                 FROM e2 GROUP BY 1)
        SELECT 'host' || CAST(r.dst_id AS VARCHAR) || '.example.net' AS dst_host,
               r.n_anchors, r.n_src_hosts, t.top_anchor, t.top_anchor_n
        FROM roll r JOIN top t USING (dst_id)
    """
    tmpl_pre, tmpl_post = (s.replace("'", "''") for s in _PAGE_TMPL.split("{paras}"))
    promo_sql = _PROMO.replace("'", "''")
    sql["template_fingerprint"] = f"""
        WITH pages AS (
          SELECT 'https://docs.example.org/' || source || '/' ||
                   CAST(doc_id AS VARCHAR) AS url,
                 '<ul>' || repeat('<li>i</li>', CAST(doc_id % {webstruct.LI_MOD} AS INT))
                   || '</ul>' || '{tmpl_pre}' || '<p>' || text || '{promo_sql}'
                   || reverse(text) || '</p>' || '{tmpl_post}' AS html2
          FROM documents),
        sig AS (
          SELECT url,
                 md5(array_to_string(
                   regexp_extract_all(html2, '{webstruct.TAG_RE}', 1), ','))
                   AS template_sig,
                 len(regexp_extract_all(html2, '{webstruct.TAG_RE}', 1)) AS n_tags
          FROM pages)
        SELECT template_sig, count(*) AS n_pages,
               CAST(min(n_tags) AS INT) AS n_tags, min(url) AS example_url
        FROM sig GROUP BY 1
    """
    sql["mirror_detection"] = f"""
        WITH m AS (
          SELECT doc_id, doc_id % {NH} AS host_id,
                 md5(coalesce(text, '')) AS digest
          FROM documents
          UNION ALL
          SELECT doc_id + {webstruct.MIRROR_ID_BASE},
                 (doc_id + {webstruct.MIRROR_HOST_SHIFT}) % {NH},
                 md5(coalesce(text, ''))
          FROM documents WHERE doc_id % {webstruct.MIRROR_MOD} = 0),
        g AS (SELECT digest, count(*) AS n_docs,
                     count(DISTINCT host_id) AS n_hosts,
                     min(host_id) AS cid, min(doc_id) AS first_doc
              FROM m GROUP BY 1)
        SELECT digest, n_docs, n_hosts,
               'host' || CAST(cid AS VARCHAR) || '.example.net' AS canonical_host,
               first_doc
        FROM g WHERE n_hosts >= 2
    """
    sql["collocations"] = f"""
        WITH toks AS (
          SELECT list_filter(string_split(lower(coalesce(text, '')), ' '),
                             x -> x <> '') AS t
          FROM documents),
        big AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM (
                  SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
                  FROM toks WHERE len(t) >= 2)),
        bc AS (SELECT w1, w2, count(*) AS n_xy FROM big GROUP BY 1, 2
               HAVING count(*) >= {index.COLL_MIN}),
        uc AS (SELECT w, count(*) AS n FROM (
                 SELECT unnest(t) AS w FROM toks) GROUP BY 1)
        SELECT b.w1, b.w2, b.n_xy,
               (b.n_xy * {index.COLL_SCALE}) // (u1.n * u2.n) AS lift_fp
        FROM bc b
        JOIN uc u1 ON u1.w = b.w1
        JOIN uc u2 ON u2.w = b.w2
        ORDER BY lift_fp DESC, b.w1, b.w2 LIMIT {index.COLL_K}
    """
    sql["crawl_change_rate"] = f"""
        WITH u AS (
          SELECT doc_id,
                 'https://docs.example.org/' || source || '/'
                   || CAST(doc_id AS VARCHAR) AS url,
                 text
          FROM documents
        ), o AS (
          SELECT url, md5(text) AS old_hash FROM u WHERE doc_id < 400
        ), n AS (
          SELECT url,
                 md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                      ELSE text END) AS new_hash
          FROM u WHERE doc_id >= 100
        ), diff AS (
          SELECT coalesce(o.url, n.url) AS url,
                 CASE WHEN o.url IS NULL THEN 'added'
                      WHEN n.url IS NULL THEN 'removed'
                      WHEN o.old_hash = n.new_hash THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM o FULL OUTER JOIN n ON o.url = n.url
        ), agg AS (
          SELECT regexp_extract(url, 'org/([^/]+)/', 1) AS section,
                 count(*) AS n_urls,
                 sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS n_added,
                 sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS n_removed,
                 sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS n_changed,
                 sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS n_unchanged
          FROM diff GROUP BY 1
        )
        SELECT section, n_urls,
               CAST(n_added AS BIGINT) AS n_added,
               CAST(n_removed AS BIGINT) AS n_removed,
               CAST(n_changed AS BIGINT) AS n_changed,
               CAST(n_unchanged AS BIGINT) AS n_unchanged,
               round(n_changed * 100.0 /
                     greatest(n_changed + n_unchanged, 1), 6)
                 AS change_rate_pct,
               CASE WHEN round(n_changed * 100.0 /
                         greatest(n_changed + n_unchanged, 1), 6)
                         >= {dedup.CHANGE_HOT_PCT} THEN 'hot'
                    WHEN round(n_changed * 100.0 /
                         greatest(n_changed + n_unchanged, 1), 6)
                         >= {dedup.CHANGE_WARM_PCT} THEN 'warm'
                    ELSE 'cold' END AS revisit_tier
        FROM agg
    """
    CH, ST = lines.CHUNK_TOKENS, lines.CHUNK_STRIDE
    sql["passage_windows"] = f"""
        WITH toks AS (
          SELECT doc_id, {_TOKS_SQL} AS t, len({_TOKS_SQL}) AS n
          FROM documents),
        ex AS (
          SELECT doc_id, t, n,
                 unnest(generate_series(0,
                   CAST((greatest(n - {CH}, 0) + {ST - 1}) // {ST}
                        AS INTEGER))) AS chunk_id
          FROM toks WHERE n >= 1)
        SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
               CAST(1 + chunk_id * {ST} AS INTEGER) AS start_tok,
               CAST(least({CH}, n - (1 + chunk_id * {ST}) + 1) AS INTEGER)
                 AS n_tok,
               array_to_string(t[1 + chunk_id * {ST}
                                 : chunk_id * {ST} + {CH}], ' ') AS passage
        FROM ex
    """
    sql["cms_token_counts"] = f"""
        WITH tok AS (
          SELECT tokk AS token FROM (
            SELECT unnest({_TOKS_SQL}) AS tokk FROM documents)),
        rh AS (SELECT token, r, md5(CAST(r AS VARCHAR) || '|' || token) AS mh
               FROM tok CROSS JOIN generate_series(0, {index.CMS_DEPTH - 1}) g(r)),
        cells AS (SELECT token, r,
                         CAST({_hex2int("mh")} % {index.CMS_WIDTH} AS INTEGER)
                           AS cell
                  FROM rh),
        counters AS (SELECT r, cell, count(*) AS c FROM cells GROUP BY 1, 2),
        exact AS (SELECT token, count(*) AS exact_tf FROM tok GROUP BY 1),
        probes AS (SELECT token, exact_tf FROM exact
                   ORDER BY exact_tf DESC, token LIMIT {index.CMS_PROBES}),
        ph AS (SELECT token, exact_tf, r,
                      md5(CAST(r AS VARCHAR) || '|' || token) AS mh
               FROM probes CROSS JOIN generate_series(0, {index.CMS_DEPTH - 1}) g(r)),
        pc AS (SELECT token, exact_tf, r,
                      CAST({_hex2int("mh")} % {index.CMS_WIDTH} AS INTEGER)
                        AS cell
               FROM ph),
        est AS (SELECT p.token, p.exact_tf, min(c.c) AS cms_estimate
                FROM pc p JOIN counters c USING (r, cell) GROUP BY 1, 2)
        SELECT token, exact_tf,
               CAST(cms_estimate AS BIGINT) AS cms_estimate,
               CAST(cms_estimate - exact_tf AS BIGINT) AS overestimate
        FROM est
    """
    HM = index.HLL_BUCKETS
    sql["hll_distinct_tokens"] = f"""
        WITH tok AS (
          SELECT source, tokk AS token FROM (
            SELECT source, unnest({_TOKS_SQL}) AS tokk FROM documents)),
        th AS (SELECT source, token, {_hex2int("mh")} AS h FROM (
                 SELECT source, token, md5(token) AS mh FROM tok)),
        hb AS (SELECT source, CAST(h % {HM} AS INTEGER) AS bucket,
                      h // {HM} AS v
               FROM th),
        regs AS (SELECT source, bucket,
                        max(CASE WHEN v = 0 THEN 55
                            ELSE 55 - length(bin(v)) + 1 END) AS m
                 FROM hb GROUP BY 1, 2),
        snum AS (SELECT source,
                        CAST(sum(CAST(1 AS BIGINT) << (55 - m))
                             + ({HM} - count(*))
                               * (CAST(1 AS BIGINT) << 55) AS BIGINT)
                          AS s_num,
                        count(*) AS n_present
                 FROM regs GROUP BY 1),
        exact AS (SELECT source, count(DISTINCT token) AS exact_distinct
                  FROM tok GROUP BY 1),
        est AS (SELECT s.source, e.exact_distinct,
                       CAST({HM} - s.n_present AS BIGINT) AS n_zero,
                       s.s_num,
                       CASE WHEN s.n_present < {HM}
                             AND ({index.HLL_ALPHA_M2}
                                  * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
                                  / CAST(s.s_num AS DOUBLE)) < {2.5 * HM}
                            THEN {float(HM)} * ln({float(HM)}
                                 / ({HM} - s.n_present))
                            ELSE {index.HLL_ALPHA_M2}
                                 * CAST(CAST(1 AS BIGINT) << 55 AS DOUBLE)
                                 / CAST(s.s_num AS DOUBLE) END AS e
                FROM snum s JOIN exact e USING (source))
        SELECT source, exact_distinct, n_zero, s_num,
               round(e, 4) AS hll_estimate,
               round((round(e, 4) - exact_distinct) * 100.0
                     / exact_distinct, 4) AS err_pct
        FROM est
    """
    _rag_dim = similarity.RAG_DIM
    _toks_passage = _TOKS_SQL.replace("text", "passage")
    sql["passage_retrieval"] = f"""
        WITH pwin AS ({sql["passage_windows"]}),
        pt AS (SELECT doc_id, chunk_id, {_toks_passage} AS t FROM pwin),
        cex AS (SELECT doc_id, chunk_id, md5(tok) AS mh FROM (
                  SELECT doc_id, chunk_id, unnest(t) AS tok FROM pt
                  WHERE doc_id % {similarity.RAG_PROBE_MOD} <> 0)),
        qex AS (SELECT probe_id, md5(tok) AS mh FROM (
                  SELECT doc_id AS probe_id, unnest(t) AS tok FROM pt
                  WHERE doc_id % {similarity.RAG_PROBE_MOD} = 0
                    AND chunk_id = 0)),
        ch AS (SELECT doc_id, chunk_id, {_hex2int("mh")} AS h FROM cex),
        qh AS (SELECT probe_id, {_hex2int("mh")} AS h FROM qex),
        pv AS (SELECT doc_id, chunk_id,
                      CAST(h % {_rag_dim} AS INTEGER) AS bucket,
                      CAST(sum(CASE WHEN (h // {_rag_dim}) % 2 = 0
                               THEN 1 ELSE -1 END) AS BIGINT) AS s
               FROM ch GROUP BY 1, 2, 3 HAVING s <> 0),
        qv AS (SELECT probe_id,
                      CAST(h % {_rag_dim} AS INTEGER) AS bucket,
                      CAST(sum(CASE WHEN (h // {_rag_dim}) % 2 = 0
                               THEN 1 ELSE -1 END) AS BIGINT) AS s
               FROM qh GROUP BY 1, 2 HAVING s <> 0),
        qn AS (SELECT probe_id, sum(s * s) AS qn FROM qv GROUP BY 1),
        pn AS (SELECT doc_id, chunk_id, sum(s * s) AS pn
               FROM pv GROUP BY 1, 2),
        dots AS (SELECT q.probe_id, p.doc_id, p.chunk_id,
                        sum(q.s * p.s) AS dot
                 FROM qv q JOIN pv p USING (bucket)
                 GROUP BY 1, 2, 3),
        scored AS (SELECT d.probe_id, d.doc_id, d.chunk_id,
                          round(d.dot / sqrt(CAST(q.qn * p.pn AS DOUBLE)), 6)
                            AS cosine
                   FROM dots d
                   JOIN qn q USING (probe_id)
                   JOIN pn p ON p.doc_id = d.doc_id
                            AND p.chunk_id = d.chunk_id)
        SELECT probe_id,
               CAST(row_number() OVER (PARTITION BY probe_id
                    ORDER BY cosine DESC, doc_id, chunk_id) AS INTEGER)
                 AS rank,
               doc_id, chunk_id, cosine
        FROM scored
        QUALIFY rank <= {similarity.RAG_TOP_K}
    """
    # winnowing: quote-augmented corpus (the containment docs2 CTE) →
    # md5_60 k-gram hashes → rightmost-min window selection → matches
    _winnow_sel = f"""
        docs2 AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + {dedup.QUOTE_ID_BASE}, lang,
                 substr(text, 1, greatest((length(text) * 2) // 5, 1))
                   || '{quote_suffix}'
          FROM documents WHERE doc_id % {dedup.QUOTE_MOD} = 0),
        wbase AS (SELECT doc_id, lower(coalesce(text, '')) AS t,
                         length(lower(coalesce(text, ''))) AS n
                  FROM docs2),
        kgh AS (SELECT doc_id, n, i, md5(substr(t, i, {winnow.WIN_K})) AS mh
                FROM (SELECT doc_id, t, n,
                             unnest(generate_series(1, n - {winnow.WIN_K - 1}))
                               AS i
                      FROM wbase WHERE n >= {winnow.WIN_K})),
        -- _hex2int's reduce lambda binds a variable named i, so the md5
        -- hex MUST be a materialized column here, never an inline
        -- expression that itself references the position column i
        kg AS (SELECT doc_id, n, i, {_hex2int("mh")} AS h FROM kgh),
        spread AS (SELECT doc_id, i, h,
                          unnest(generate_series(
                            greatest(i - {winnow.WIN_W - 1}, 1),
                            least(i, n - {winnow.WIN_K + winnow.WIN_W - 2})))
                            AS s
                   FROM kg
                   WHERE n - {winnow.WIN_K + winnow.WIN_W - 2} >= 1),
        sel AS (SELECT DISTINCT doc_id, h AS fp_hash, i AS pos FROM (
                  SELECT doc_id, s, h, i,
                         row_number() OVER (PARTITION BY doc_id, s
                              ORDER BY h, i DESC) AS rn
                  FROM spread) WHERE rn = 1)"""
    sql["winnow_fingerprints"] = f"""
        WITH {_winnow_sel}
        SELECT doc_id, CAST(fp_hash AS BIGINT) AS fp_hash,
               CAST(pos AS INTEGER) AS pos
        FROM sel
    """
    # the _np alias serves the same kernel, so the same oracle
    sql["winnow_fingerprints_np"] = sql["winnow_fingerprints"]
    sql["winnow_matches"] = f"""
        WITH {_winnow_sel},
        fpd AS (SELECT DISTINCT doc_id, fp_hash FROM sel),
        sizes AS (SELECT doc_id, count(*) AS n_fp FROM fpd GROUP BY 1),
        fpf AS (SELECT * FROM fpd WHERE fp_hash NOT IN (
                  SELECT fp_hash FROM (
                    SELECT fp_hash, count(*) AS df FROM fpd GROUP BY 1)
                  WHERE df > {winnow.WIN_MAX_DF})),
        pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                         count(*) AS n_shared
                  FROM fpf a JOIN fpf b
                    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
                  GROUP BY 1, 2
                  HAVING count(*) >= {winnow.WIN_MIN_SHARED})
        SELECT p.id1, p.id2, p.n_shared,
               s1.n_fp AS n_fp1, s2.n_fp AS n_fp2,
               round(p.n_shared / least(s1.n_fp, s2.n_fp), 6) AS overlap
        FROM pairs p
        JOIN sizes s1 ON s1.doc_id = p.id1
        JOIN sizes s2 ON s2.doc_id = p.id2
    """
    sql["link_degree_stats"] = f"""
        WITH e AS (
          SELECT DISTINCT doc_id % {NH} AS src_id,
                          (doc_id * 31 + j) % {NH} AS dst_id
          FROM documents CROSS JOIN generate_series(1, {LF}) t(j)
          WHERE doc_id % {NH} <> (doc_id * 31 + j) % {NH}),
        nodes AS (SELECT src_id AS id FROM e UNION SELECT dst_id FROM e),
        od AS (SELECT src_id, count(*) AS out_deg FROM e GROUP BY 1),
        ind AS (SELECT dst_id, count(*) AS in_deg FROM e GROUP BY 1),
        rc AS (SELECT a.src_id, count(*) AS n_reciprocal
               FROM e a JOIN e b
                 ON b.src_id = a.dst_id AND b.dst_id = a.src_id
               GROUP BY 1)
        SELECT 'host' || CAST(n.id AS VARCHAR) || '.example.net' AS host,
               CAST(coalesce(o.out_deg, 0) AS BIGINT) AS out_deg,
               CAST(coalesce(i.in_deg, 0) AS BIGINT) AS in_deg,
               CAST(coalesce(r.n_reciprocal, 0) AS BIGINT) AS n_reciprocal
        FROM nodes n
        LEFT JOIN od o ON o.src_id = n.id
        LEFT JOIN ind i ON i.dst_id = n.id
        LEFT JOIN rc r ON r.src_id = n.id
    """
    sql["semantic_dedup"] = f"""
        WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
        e AS (SELECT vec_id, v FROM e0
              UNION ALL
              SELECT vec_id + {similarity.SEM_DUP_ID_BASE},
                     list_transform(v, x -> x * 2)
              FROM e0 WHERE vec_id % {similarity.SEM_DUP_MOD} = 0),
        d AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nm,
                     cell, list_inner_product(v, w) AS dot
              FROM e CROSS JOIN {_ivf_cents_sql()}),
        asg AS (SELECT vec_id, v, nm, CAST(cell AS INTEGER) AS cell
                FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                           ORDER BY dot DESC, cell) AS rn
                      FROM d) WHERE rn = 1),
        pairs AS (SELECT b.vec_id AS id2, a.vec_id AS id1,
                         round(list_inner_product(a.v, b.v)
                               / (a.nm * b.nm), 4) AS cosine
                  FROM asg a JOIN asg b
                    ON a.cell = b.cell AND a.vec_id < b.vec_id),
        dups AS (SELECT id2, min(id1) AS twin,
                        CAST(count(*) AS BIGINT) AS n_dups
                 FROM pairs WHERE cosine >= {similarity.SEM_THRESHOLD}
                 GROUP BY id2)
        SELECT s.vec_id, s.cell,
               coalesce(d.n_dups, 0) AS n_dups,
               CAST(coalesce(d.twin, s.vec_id) AS BIGINT) AS keeper,
               CAST(CASE WHEN d.twin IS NULL THEN 0 ELSE 1 END AS INTEGER)
                 AS dropped
        FROM asg s LEFT JOIN dups d ON d.id2 = s.vec_id
    """
    sql["sitemap_coverage"] = """
        WITH adv AS (
          SELECT 'https://site' || CAST(k AS VARCHAR)
                   || '.example.com/p/' || CAST(p AS VARCHAR) AS loc
          FROM (SELECT unnest(range(0, 7)) AS k),
               (SELECT unnest(range(0, 13)) AS p)
        ), crawled AS (
          SELECT DISTINCT loc FROM (
            SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/p/' || CAST(doc_id % 13 AS VARCHAR)
                     AS loc
            FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100
            UNION ALL
            SELECT 'https://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.example.com/p/'
                     || CAST(100 + doc_id % 13 AS VARCHAR)
            FROM documents WHERE doc_id % 9 = 0)
        ), j AS (
          SELECT coalesce(a.loc, c.loc) AS loc,
                 CASE WHEN a.loc IS NULL THEN 0 ELSE 1 END AS adv,
                 CASE WHEN c.loc IS NULL THEN 0 ELSE 1 END AS crw
          FROM adv a FULL OUTER JOIN crawled c ON a.loc = c.loc
        ), agg AS (
          SELECT regexp_extract(loc, 'https://([^/]+)/', 1) AS host,
                 CAST(sum(adv) AS BIGINT) AS n_advertised,
                 CAST(sum(crw) AS BIGINT) AS n_crawled,
                 CAST(sum(adv * crw) AS BIGINT) AS n_both,
                 CAST(sum(adv * (1 - crw)) AS BIGINT) AS n_sitemap_only,
                 CAST(sum((1 - adv) * crw) AS BIGINT) AS n_crawled_only
          FROM j GROUP BY 1
        )
        SELECT host, n_advertised, n_crawled, n_both, n_sitemap_only,
               n_crawled_only,
               round(n_both * 100.0 / greatest(n_advertised, 1), 6)
                 AS coverage_pct
        FROM agg
    """
    sql["text_diversity"] = f"""
        WITH toks AS (
          SELECT source, {_TOKS_SQL} AS t FROM documents),
        uni AS (
          SELECT source, count(*) AS n_tokens,
                 count(DISTINCT w) AS n_vocab
          FROM (SELECT source, unnest(t) AS w FROM toks) GROUP BY 1),
        tri AS (
          SELECT source, count(*) AS n_trigrams,
                 count(DISTINCT g) AS n_tri_distinct
          FROM (
            SELECT source,
                   unnest(CASE WHEN len(t) >= 3 THEN list_transform(
                     generate_series(1, len(t) - 2),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                   ELSE [] END) AS g
            FROM toks) GROUP BY 1)
        SELECT u.source, u.n_tokens, u.n_vocab,
               CAST(coalesce(t.n_trigrams, 0) AS BIGINT) AS n_trigrams,
               CAST(coalesce(t.n_tri_distinct, 0) AS BIGINT)
                 AS n_tri_distinct,
               round(u.n_vocab / greatest(u.n_tokens, 1), 6) AS distinct1,
               round(coalesce(t.n_tri_distinct, 0)
                     / greatest(coalesce(t.n_trigrams, 0), 1), 6)
                 AS distinct3
        FROM uni u LEFT JOIN tri t USING (source)
    """
    sql["ingest_trend"] = f"""
        WITH per AS (
          SELECT DATE '2024-01-01'
                   + CAST(doc_id % {temporal.TREND_DAYS} AS INTEGER) AS dt,
                 count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars_day
          FROM documents GROUP BY 1),
        trail AS (
          SELECT a.dt, a.n_docs, a.n_chars_day,
                 CAST(coalesce(sum(b.n_chars_day), 0) AS BIGINT)
                   AS trail_chars,
                 CAST(count(b.dt) AS BIGINT) AS n_prior_days
          FROM per a LEFT JOIN per b
            ON a.dt - b.dt BETWEEN 1 AND {temporal.TREND_WINDOW}
          GROUP BY 1, 2, 3)
        SELECT dt, n_docs, n_chars_day, trail_chars, n_prior_days,
               CAST(n_prior_days > 0
                    AND n_chars_day * {temporal.TREND_WINDOW}
                        > {temporal.SPIKE_FACTOR} * trail_chars
                 AS INTEGER) AS spike
        FROM trail
    """
    # per-host trailing lag window: ROWS BETWEEN N PRECEDING AND 1
    # PRECEDING in both engines; doc_id >= 0 so div/// agree
    sql["host_trailing_anomaly"] = f"""
        WITH per AS (
          SELECT 'h' || CAST(doc_id % {temporal.TA_HOSTS} AS VARCHAR)
                   AS host,
                 CAST(CASE WHEN doc_id % 5 = 0 THEN {temporal.TA_SPIKE_EPOCH}
                      ELSE (doc_id // {temporal.TA_HOSTS})
                           % {temporal.TA_EPOCHS} END AS BIGINT) AS epoch,
                 CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY 1, 2),
        tr AS (
          SELECT host, epoch, n_docs,
                 CAST(coalesce(sum(n_docs) OVER w, 0) AS BIGINT)
                   AS trail_sum,
                 CAST(count(*) OVER w AS BIGINT) AS n_trail
          FROM per
          WINDOW w AS (PARTITION BY host ORDER BY epoch
                       ROWS BETWEEN {temporal.TA_TRAIL} PRECEDING
                       AND 1 PRECEDING))
        SELECT host, epoch, n_docs, trail_sum, n_trail,
               CAST(n_trail = {temporal.TA_TRAIL}
                    AND n_docs * {temporal.TA_TRAIL}
                        > {temporal.TA_FACTOR} * trail_sum
                 AS INTEGER) AS anomaly
        FROM tr
    """
    sql["host_cap_sample"] = f"""
        WITH ranked AS (
          SELECT doc_id,
                 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                   AS host,
                 md5('cap|' || CAST(doc_id AS VARCHAR)) AS coin
          FROM documents),
        w AS (SELECT doc_id, host,
                     CAST(row_number() OVER (PARTITION BY host
                          ORDER BY coin, doc_id) AS INTEGER) AS rank_in_host
              FROM ranked)
        SELECT doc_id, host, rank_in_host,
               CAST(rank_in_host <= {urls.HOST_CAP} AS INTEGER) AS kept
        FROM w
    """
    _bands_case = " ".join(
        f"WHEN jaccard >= {lo} AND jaccard < {hi} THEN '{lo:.1f}'"
        for lo, hi in dedup.RECALL_BANDS
    )
    # the sig chain over the partial-variant-augmented corpus: the ONE
    # "FROM documents" inside _minhash_sig_ctes' toks CTE is repointed at
    # docs2 (generator output has exactly that one occurrence)
    _recall_sig = _minhash_sig_ctes(with_lang=True).replace(
        "FROM documents", "FROM docs2"
    )
    sql["lsh_recall_eval"] = f"""
        WITH docs2 AS (
          SELECT doc_id, lang, text FROM documents
          UNION ALL
          SELECT doc_id + {dedup.PARTIAL_ID_BASE}, lang,
                 array_to_string(
                   l2[1 : greatest(CAST(ceil(len(l2) * {dedup.PARTIAL_KEEP})
                                        AS INTEGER), 1)], ' ')
                   || ' uvar' || CAST(doc_id AS VARCHAR)
          FROM (SELECT doc_id, lang, {_TOKS_SQL} AS l2 FROM documents
                WHERE doc_id % {dedup.PARTIAL_MOD} = 0)),
        {_recall_sig},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        shf AS (SELECT * FROM sh WHERE shingle NOT IN (
                  SELECT shingle FROM (
                    SELECT shingle, count(*) AS df FROM sh GROUP BY shingle)
                  WHERE df > 10000)),
        inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
                         count(*) AS n_common
                  FROM shf a JOIN shf b
                    ON a.lang = b.lang AND a.shingle = b.shingle
                   AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
        truth AS (SELECT i.id1, i.id2,
                         round(i.n_common
                               / (sa.n_sh + sb.n_sh - i.n_common), 6)
                           AS jaccard
                  FROM inter i
                  JOIN sizes sa ON i.id1 = sa.doc_id
                  JOIN sizes sb ON i.id2 = sb.doc_id),
        tband AS (SELECT id1, id2, jaccard,
                         CASE {_bands_case} END AS band_lo
                  FROM truth
                  WHERE jaccard >= {dedup.RECALL_BANDS[0][0]}),
        cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                  FROM bands a
                  JOIN bands b ON a.band = b.band
                              AND a.band_hash = b.band_hash
                              AND a.doc_id < b.doc_id),
        j AS (SELECT t.band_lo,
                     CASE WHEN c.id1 IS NULL THEN 0 ELSE 1 END AS hit
              FROM tband t LEFT JOIN cands c
                ON c.id1 = t.id1 AND c.id2 = t.id2),
        agg AS (SELECT band_lo, count(*) AS n_true_pairs,
                       CAST(sum(hit) AS BIGINT) AS n_candidates_hit
                FROM j GROUP BY 1)
        SELECT band_lo, n_true_pairs, n_candidates_hit,
               round(n_candidates_hit * 100.0 / n_true_pairs, 6)
                 AS recall_pct
        FROM agg
    """
    sql["robots_compliance"] = f"""
        WITH v AS (
          SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
                   AS host,
                 CASE WHEN (doc_id % 7) % 2 = 1
                       AND (doc_id % 13) IN (1, 10, 11)
                 THEN 0 ELSE 1 END AS robots_allowed
          FROM documents),
        agg AS (SELECT host, count(*) AS n_urls,
                       CAST(sum(1 - robots_allowed) AS BIGINT)
                         AS n_disallowed
                FROM v GROUP BY 1)
        SELECT host, n_urls, n_disallowed,
               round(n_disallowed * 100.0 / n_urls, 6) AS disallowed_pct,
               CASE WHEN round(n_disallowed * 100.0 / n_urls, 6)
                         > {robots_mod.COMPLY_PURGE_PCT}
                    THEN 'purge_and_recrawl'
                    WHEN round(n_disallowed * 100.0 / n_urls, 6) > 0.0
                    THEN 'purge' ELSE 'compliant' END AS action
        FROM agg
    """
    sql["template_extract_metrics"] = f"""
        WITH t AS (
          SELECT doc_id, text,
                 md5(array_to_string(
                   regexp_extract_all(
                     '<ul>' || repeat('<li>i</li>',
                                      CAST(doc_id % {webstruct.LI_MOD} AS INT))
                       || '</ul>' || '{tmpl_pre}' || '<p>' || text
                       || '{promo_sql}' || reverse(text) || '</p>'
                       || '{tmpl_post}',
                     '{webstruct.TAG_RE}', 1), ',')) AS template_sig
          FROM documents),
        agg AS (
          SELECT template_sig, count(*) AS n_pages,
                 CAST(sum(2 * length(text) + {_PAGE_OVERHEAD}) AS BIGINT)
                   AS sum_chars_in,
                 CAST(sum(2 * length(text) + 1) AS BIGINT) AS sum_chars_out,
                 CAST(sum(2 * len(string_split(text, ' '))) AS BIGINT)
                   AS sum_spans
          FROM t GROUP BY 1)
        SELECT template_sig, n_pages, sum_chars_in, sum_chars_out,
               round(sum_chars_out / greatest(sum_chars_in, 1), 6)
                 AS extraction_ratio,
               round(sum_spans / n_pages, 6) AS spans_per_page
        FROM agg
    """
    sql["template_sample"] = f"""
        WITH pages AS (
          SELECT 'https://docs.example.org/' || source || '/' ||
                   CAST(doc_id AS VARCHAR) AS url,
                 '<ul>' || repeat('<li>i</li>', CAST(doc_id % {webstruct.LI_MOD} AS INT))
                   || '</ul>' || '{tmpl_pre}' || '<p>' || text || '{promo_sql}'
                   || reverse(text) || '</p>' || '{tmpl_post}' AS html2
          FROM documents),
        sig AS (
          SELECT url,
                 md5(array_to_string(
                   regexp_extract_all(html2, '{webstruct.TAG_RE}', 1), ','))
                   AS template_sig
          FROM pages),
        sizes AS (SELECT template_sig, count(*) AS n_pages
                  FROM sig GROUP BY 1),
        ranked AS (
          SELECT template_sig, url,
                 CAST(row_number() OVER (PARTITION BY template_sig
                      ORDER BY md5('tsample|' || url), url) AS INTEGER)
                   AS rank
          FROM sig)
        SELECT r.template_sig, r.rank, r.url, s.n_pages
        FROM ranked r JOIN sizes s USING (template_sig)
        WHERE r.rank <= {webstruct.TEMPLATE_SAMPLE_K}
    """
    sql["source_overlap_matrix"] = f"""
        WITH sd AS (
          SELECT DISTINCT source, digest FROM (
            SELECT source, md5(coalesce(text, '')) AS digest FROM documents
            UNION ALL
            SELECT 'syndicated', md5(coalesce(text, ''))
            FROM documents WHERE doc_id % {webstruct.SYND_MOD} = 0)),
        sizes AS (SELECT source, count(*) AS n_distinct FROM sd GROUP BY 1),
        pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                         count(*) AS n_shared_digests
                  FROM sd a JOIN sd b ON a.digest = b.digest
                                     AND a.source <> b.source
                  GROUP BY 1, 2)
        SELECT p.source_a, p.source_b, p.n_shared_digests,
               sa.n_distinct AS n_a, sb.n_distinct AS n_b,
               round(p.n_shared_digests * 100.0 / sa.n_distinct, 6)
                 AS pct_of_a
        FROM pairs p
        JOIN sizes sa ON sa.source = p.source_a
        JOIN sizes sb ON sb.source = p.source_b
    """
    sql["host_language_profile"] = """
        WITH per AS (
          SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host,
                 lang, count(*) AS n
          FROM documents GROUP BY 1, 2),
        top AS (SELECT host, lang AS top_lang, n AS top_lang_docs FROM (
                  SELECT host, lang, n,
                         row_number() OVER (PARTITION BY host
                              ORDER BY n DESC, lang) AS rn
                  FROM per) WHERE rn = 1),
        roll AS (SELECT host, sum(n) AS n_docs FROM per GROUP BY 1)
        SELECT r.host, CAST(r.n_docs AS BIGINT) AS n_docs, t.top_lang,
               t.top_lang_docs,
               round(t.top_lang_docs * 100.0 / r.n_docs, 6) AS top_lang_pct
        FROM roll r JOIN top t USING (host)
    """
    return sql
