"""Connected components over the duplicate graph — cluster-level dedup.

A training pipeline that drops "the second doc of every near-dup pair"
under-deletes: near-duplication is transitive in practice (A≈B, B≈C ⇒ one
canonical doc should survive out of {A,B,C}, not two). The standard fix is
to treat verified duplicate pairs as edges and keep one document per
connected component.

The component algorithm here is alternating large-star / small-star
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
— the shape that survives 100 TB:

* each round is a window-min + filter over the edge list — an equality-
  keyed shuffle on the node id, NO collect_list of neighbor sets (a
  celebrity node with 10^7 neighbors would otherwise materialize one giant
  array row);
* rounds converge in O(log n) — the driver loop runs a handful of cheap
  passes, each localCheckpointed so the lineage (and therefore the task
  closure) stays constant-size across iterations. On a real cluster the
  per-round materialization would be a reliable checkpoint / parquet
  intermediate instead;
* convergence is detected by an order-independent checksum
  (count + sum of per-edge hashes), one tiny agg job per round — not a
  driver-side collect of the edge list.

Graft analog: the reference builds per-document duplicate groups during
corpus assembly (SURVEY.md §2 U-rows); this lifts that grouping to the
transitive closure a web-scale corpus needs. The DuckDB oracle computes
the same components via a recursive CTE (min-id reachability fixpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .dedup import exact_groups, minhash_doc_arrays, near_dup_pairs
from .relational import load, persist_slot


def _checksum(edges: DataFrame) -> tuple[int, int]:
    """Order-independent edge-set fingerprint: (row count, xor of hashes).

    bit_xor instead of sum — ANSI mode makes a sum of 64-bit hashes a long
    overflow. xxhash64 is fine here: the checksum never leaves the driver
    loop, so DuckDB reproducibility is irrelevant (unlike the md5-keyed
    dedup family)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than u to u's minimum neighborhood id.

    Emits (v, m) for v ∈ Γ(u), v > u, where m = min(Γ(u) ∪ {u}) — computed
    with a window min per node, never a collected neighbor array."""
    bidir = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = F.least(F.min("dst").over(W.partitionBy("src")), F.col("src"))
    return (
        bidir.withColumn("m", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every SMALLER neighbor (and u itself) to the minimum.

    Input edges are first normalized to point larger→smaller; per larger
    endpoint u, m = min of its smaller neighbors, and every member of
    Γ_small(u) ∪ {u} except m is re-pointed at m."""
    norm = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    withm = norm.withColumn("m", F.min("dst").over(W.partitionBy("src")))
    repoint = withm.filter(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    own = withm.select("src", F.col("m").alias("dst"))
    return repoint.unionByName(own).distinct()


MAX_ROUNDS = 25  # connected_components' convergence cap


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) undirected edge list → (node, component) assignments,
    component = min node id reachable. Nodes with no edges do not appear
    (callers join back to their entity table for singletons).

    Raises instead of silently truncating if MAX_ROUNDS is hit — 25 rounds
    covers graphs of ~2^25 nodes diameter-wise (convergence is
    O(log n) rounds), so hitting the cap means something is wrong."""
    cur = edges.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    prev_sig = _checksum(cur)
    for _ in range(MAX_ROUNDS):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        sig = _checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {MAX_ROUNDS} rounds"
        )
    # converged: every edge points node → component min (a star graph);
    # roots appear only on the dst side, so add their self-assignment
    assign = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    return (
        assign.unionByName(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )


def duplicate_components(spark, sf_dir) -> DataFrame:
    """Cluster-level dedup verdict: every document labeled with its
    duplicate-component id and the component size.

    Edges = exact-duplicate pairs (doc → digest-group keeper) ∪
    near_dup_pairs over the persisted doc-array relation — the SAME
    function and constants deduplicate_corpus runs, so the two operators
    agree on what counts as a duplicate by construction. Singleton
    documents get their own id as component. A pipeline keeps min(doc_id)
    per component — exactly one survivor per transitive duplicate
    cluster."""
    d = load(spark, sf_dir, "documents")
    exact_edges = (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .join(exact_groups(spark, sf_dir), "content_hash")
        .filter(F.col("doc_id") != F.col("keeper_id"))
        .select(F.col("doc_id").alias("src"), F.col("keeper_id").alias("dst"))
    )
    base = persist_slot("dup_components_base", minhash_doc_arrays(spark, sf_dir))
    near_edges = near_dup_pairs(base).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    comp = connected_components(exact_edges.unionByName(near_edges))
    labeled = d.select("doc_id").join(
        comp, d["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component_id")
    )
    sizes = labeled.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return labeled.join(sizes, "component_id").select(
        "doc_id", "component_id", "component_size"
    )


def component_canonical(spark, sf_dir) -> DataFrame:
    """One keeper per duplicate component: (component_id, component_size,
    keeper_doc_id, keeper_n_chars, n_dropped) — the selection pass a
    dedup pipeline runs AFTER clustering. `duplicate_components` labels
    every doc; this picks the canonical survivor per cluster by the
    pinned total order (n_chars desc, doc_id asc): keep the LONGEST copy
    (truncated scrapes lose to the full text), doc_id as the
    deterministic tie-break. Emits only multi-doc components — singletons
    need no selection.

    Scale shape: one doc_id equality join onto the labels (doc-dimension,
    not broadcast) and a window partitioned by component_id — components
    are small by construction (duplicate clusters), so no skewed window
    partitions; never a global sort."""
    labels = duplicate_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.partitionBy("component_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = (
        labels.where(F.col("component_size") >= 2)
        .join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
    )
    return ranked.where(F.col("rn") == 1).select(
        "component_id",
        "component_size",
        F.col("doc_id").alias("keeper_doc_id"),
        F.col("n_chars").alias("keeper_n_chars"),
        (F.col("component_size") - 1).alias("n_dropped"),
    )
