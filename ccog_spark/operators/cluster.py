"""Connected components over the near-duplicate candidate graph (the
clustering step of E35: duplicate groups = components; keep the
smallest doc_id per component).

Algorithm: smallest-label propagation — every vertex starts with its
own id; each iteration every vertex takes the min of its own and its
neighbours' labels; converges in O(diameter) rounds. Implemented as a
driver loop of join+aggregate (each round: one shuffle on vertex id),
with convergence detected by a changed-labels count. This is the
standard Spark shape for iterative graph algorithms without GraphX
(public HashToMin / label-propagation literature).

Scale: near-dup components are tiny (dup clusters of 2-10 docs), so
diameter ≈ 2-3 and rounds stay few; each round's shuffle carries one
(id, label) pair per edge endpoint. Each round is persisted behind a
leaf-sized plan that keeps its RDD lineage, so plan depth stays
constant across rounds and every cache stays safe to release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccog_spark import cache_ledger


def _leaf(df: DataFrame) -> DataFrame:
    """``df``'s rows behind a leaf-sized plan (a LogicalRDD over its
    row RDD, built JVM-side: no Python round trip) that keeps the full
    RDD lineage. Unlike a checkpoint it stays recomputable, so a persist
    of it is a plain cache that any ledger release may drop."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(
        df._jdf.javaRDD(), df._jdf.schema()
    )
    return DataFrame(jdf, spark)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """edges (src, dst) → (doc_id, cluster) with cluster = min vertex id
    reachable in the component. Vertices = edge endpoints."""
    # the previous direct call's result cache (see the end)
    cache_ledger.release_owner(edges.sparkSession, "connected_components")
    both = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).unionByName(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    ).distinct()
    # Pre-partition the edge frame by v ONCE (round 18, guide §2.4
    # "remove shuffles outright"): every loop round joins `both` on v,
    # and the cached InMemoryRelation preserves this partitioning, so
    # the edge side — the LARGE side, |edges| ≥ |vertices| — enters
    # each round's join without an exchange. One upfront shuffle buys
    # one saved edge-frame shuffle per round.
    both = both.repartition(F.col("v")).persist()

    # init folds the FIRST propagation round: label₀ = min(self, all
    # 1-hop neighbours) comes straight off a groupBy over `both` — no
    # join needed — so pair/star components (the common near-dup case)
    # confirm convergence after ONE loop round instead of two
    labels = (
        both.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select(
            F.col("u").alias("doc_id"),
            F.least(F.col("u"), F.col("_mn")).alias("label"),
        )
        .persist()
    )

    label_t = labels.schema["label"].dataType
    prev = labels
    for it in range(max_iter):
        # ONE aggregate per round (round 18, VERDICT r17 #3 "aggregate
        # the join output once"): neighbour labels from the edge join
        # UNION the self rows, then a single groupBy(doc_id) computes
        # the new label (min over self ∪ neighbours — identical to the
        # old least(label, coalesce(nbr_label, label)) since every
        # vertex has a self row) AND carries the old label for the
        # convergence count (only the self row's `old` is non-null and
        # min ignores nulls). This replaces the old
        # [join → groupBy(u) → left-join-back-to-labels] shape: one
        # join + one exchange instead of two joins + two exchanges —
        # fewer shuffled bytes and fewer AQE stage jobs per round,
        # same labels.
        nbr = both.join(labels, both.v == labels.doc_id).select(
            F.col("u").alias("doc_id"),
            F.col("label"),
            F.lit(None).cast(label_t).alias("old"),
        )
        stepped = (
            labels.select(
                "doc_id", "label", F.col("label").alias("old")
            )
            .unionByName(nbr)
            .groupBy("doc_id")
            .agg(
                F.min("label").alias("label"),
                F.min("old").alias("old_label"),
            )
            .select("doc_id", "old_label", "label")
        )
        # Plan truncation EVERY round (round 17): without it the
        # round-N plan text embeds every prior round's full plan —
        # label propagation references `labels` twice per round (the
        # join and the select), so the tree GROWS EXPONENTIALLY in
        # rounds (pipeline_e2e's captured sf0.1 plan: 26 387 lines /
        # 3007 Exchange nodes after two rounds; the optimizer walks all
        # of it on every action — guide §7.3 "planning time itself
        # becomes the bottleneck"). `_leaf` cuts the PLAN but keeps the
        # RDD lineage, so — unlike a localCheckpoint, whose blocks
        # cannot be recomputed — every round is an ordinary persist
        # that the cache ledger may release while a result is still
        # lazy or running. The changed-labels count below materializes
        # the cache as a side effect (no extra eager job).
        stepped = _leaf(stepped).persist()
        changed = stepped.where(F.col("label") != F.col("old_label")).count()
        # the count above materialized `stepped`; the previous round's
        # cache is now dead weight (consumers of the select below hit
        # stepped's cache, and a recompute only re-reads its shuffle)
        prev.unpersist()
        prev = stepped
        labels = stepped.select("doc_id", "label")
        if changed == 0:
            break
    both.unpersist()
    # the result reads the last round's cache: ledger-tracked, so the
    # registry drops it when another query starts and a direct caller's
    # next call drops the previous one (bm25_topk's rule)
    cache_ledger.track_uncaptured(
        edges.sparkSession, "connected_components", prev
    )
    return labels.select("doc_id", F.col("label").alias("cluster"))
