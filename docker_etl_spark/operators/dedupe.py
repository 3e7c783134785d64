"""Deduplication operators (SURVEY.md §2.5 W1-W3, §2.3 J11, §2.7 U3).

The reference's dominant dedup idiom is BigQuery
``QUALIFY ROW_NUMBER() OVER (PARTITION BY key ORDER BY ...) = 1``
(graphics_dashboard.sql:164-169; graphics_trends.sql:88-92;
experiments_monitoring_data_export/export.py:119-131). In Spark that
is a single window + filter — one shuffle on the partition key, no
join. The min-by join variant (user_reports_dedupe/view.sql:1-6) is
also expressed as the same window dedup, which Catalyst executes
without the self-join the SQL implies.

Scale notes: the window shuffles once on ``keys``; at 100 TB that is
the unavoidable shuffle (dedup is a per-key decision). Skewed keys
are handled by AQE skew-join/partition splitting; ordering columns
should include a deterministic tiebreak (the reference uses
FARM_FINGERPRINT for this — see
functions.scalars.deterministic_order_key).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _cols(cols: Sequence[Column | str]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


def dedupe_latest_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Keep exactly one row per key, the first under ``order_by`` (W1/W2).

    ``order_by`` should be a *total* order within each key (add a
    unique tiebreak column) so results are deterministic.

    Reference: graphics_dashboard.sql:164-169 (latest ping per
    client); experiments export.py:119-131 (one row per timestamp).
    """
    w = Window.partitionBy(*keys).orderBy(*_cols(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedupe_min_by_join(
    df: DataFrame, keys: Sequence[str], order_col: str
) -> DataFrame:
    """Min-by dedupe (J11): keep the row holding MIN(order_col) per key.

    Reference formulation is a groupBy+min joined back
    (user_reports_dedupe/view.sql:1-6); the window form below is
    plan-equivalent with one fewer shuffle (no join).
    """
    return dedupe_latest_per_key(df, keys, [F.col(order_col).asc()])


def dedupe_natural_key(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Streaming-style natural-key dedup (U3/T3): arbitrary survivor.

    Reference: fxci_etl/loaders/bigquery.py:60-73 (drop duplicate
    task records before insert); broken_site_report_ml/main.py:279-286.
    ``dropDuplicates`` is the Spark-native form (map-side partial
    dedup before the shuffle — cheaper than a window when any
    survivor is acceptable).
    """
    return df.dropDuplicates(list(keys))


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 20,
    algorithm: str = "min-label",
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every
    node labeled with the smallest node id reachable from it — the
    step that turns pairwise similarity output (x04/x05/x10/x12
    pairs) into droppable duplicate *clusters* (keep one doc per
    component, drop the rest).

    Spark-first iterative min-label propagation: each round joins the
    current labels across the edge list and takes the per-node min of
    (own label, neighbors' labels); converged when no label changed.
    Rounds needed = component diameter — near-dup clusters are tiny
    and dense, so 2-4 rounds in practice; each round is two
    shuffles on bounded (node, label) pairs, the standard
    large-graph CC recipe (no driver-side graph state — only the
    changed-label COUNT is collected per round).

    CONVERGENCE CONTRACT: if labels are still changing when
    ``max_iterations`` is exhausted (a component of diameter >
    max_iterations — e.g. a pathological boilerplate chain at corpus
    scale), this RAISES rather than silently returning wrong labels.
    Raise max_iterations (cost is per-round, only unconverged rounds
    run), or pass ``algorithm="two-phase"`` — the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14), which converges in
    O(log^2 n) rounds INDEPENDENT of diameter: the right choice for
    long-chain graphs. Both algorithms label every node with the
    component minimum, so results are identical.

    Returns (node, component) with component = min reachable id.
    """
    if algorithm == "two-phase":
        return _connected_components_two_phase(
            pairs, a_col, b_col, max_iterations
        )
    if algorithm != "min-label":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    edges = (
        pairs.select(
            F.col(a_col).alias("u"), F.col(b_col).alias("v")
        )
        .union(
            pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v"))
        )
        .distinct()
        # Materialize once: the pair list is usually the output of an
        # expensive similarity pipeline (minhash/LSH); without this the
        # iterative joins below would recompute it every round.
        .localCheckpoint(eager=True)
    )
    # Labels start as each node's own id.
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    converged = False
    for _ in range(max_iterations):
        # Min neighbor label per node, via one edge join.
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "v").withColumnRenamed(
                    "component", "v_comp"
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("v_comp").alias("n_comp"))
            .withColumnRenamed("u", "node")
        )
        updated = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("n_comp"), F.col("component")),
                ).alias("component"),
                (F.coalesce(F.col("n_comp"), F.col("component"))
                 < F.col("component")).alias("__changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        changed = updated.filter(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — a component has diameter > max_iterations; "
            "returning would mislabel clusters. Raise max_iterations, or "
            "use algorithm='two-phase' (diameter-independent rounds)."
        )
    return labels


def _cc_min_to_neighbors(edges: DataFrame) -> DataFrame:
    """(u, m_u) where m_u = min(N(u) ∪ {u}) — the star center each
    phase links neighbors to. One groupBy on narrow (u, v) pairs."""
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("m"))
        .select("u", F.least(F.col("u"), F.col("m")).alias("m"))
    )


def _cc_edge_fingerprint(edges: DataFrame) -> tuple:
    """Order-independent edge-set fingerprint (count + two hash
    sums) — one aggregate job, no driver-side edge data."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64("v", "u", F.lit(7)).cast("decimal(38,0)")).alias("h2"),
    ).collect()[0]
    return (row.n, row.h1, row.h2)


def _connected_components_two_phase(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iterations: int,
) -> DataFrame:
    """Alternating large-star / small-star CC (Kiveris et al.,
    SoCC'14): each round reshapes the edge set toward per-component
    stars rooted at the minimum id; rounds needed are O(log^2 n)
    regardless of diameter (vs diameter rounds for min-label
    propagation). Per phase: one groupBy(min) + one join — narrow
    (node, node) pairs only, no per-node adjacency arrays, so hot
    nodes never blow an aggregation buffer.

    large-star: every neighbor v > u links to min(N⁺(u));
    small-star: every neighbor v <= u (and u itself) links to it.
    Converged when a round leaves the edge set unchanged
    (order-independent count+hash fingerprint).
    """
    und = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        m = _cc_min_to_neighbors(e)
        return (
            e.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges downward so N(u) here is the small neighbors
        down = e.filter(F.col("v") <= F.col("u")).union(
            e.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("u").alias("v")
            )
        )
        m = _cc_min_to_neighbors(down)
        linked = (
            down.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return linked

    edges = und
    fp = None
    converged = False
    for _ in range(max_iterations):
        # one round = large-star then small-star, then a symmetric
        # view for the next round's neighborhoods
        stars = small_star(large_star(edges).union(edges).distinct())
        stars = stars.localCheckpoint(eager=True)
        new_fp = _cc_edge_fingerprint(stars)
        sym = stars.union(
            stars.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()
        edges = sym
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        raise RuntimeError(
            f"two-phase connected_components did not stabilize in "
            f"{max_iterations} rounds"
        )
    # stars now link every non-root node to its component min; roots
    # (component minima) appear only on the v side
    stars = edges.filter(F.col("v") < F.col("u")).select(
        F.col("u").alias("node"), F.col("v").alias("component")
    )
    # a node may briefly carry several down-links; the component is
    # the smallest
    labels = stars.groupBy("node").agg(F.min("component").alias("component"))
    roots = (
        labels.select(F.col("component").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    singletons = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .join(roots.select("node"), "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return labels.unionByName(roots).unionByName(singletons).distinct()


#: The read schema (DDL) of a :func:`write_digest_store` ledger. The
#: prefix is a string: inference types a store whose every prefix is
#: all digits (``digest_prefix=09``) int, and string prefix pruning
#: then fails with a cast error.
DIGEST_SCHEMA = "content_md5 string, digest_prefix string"


def write_digest_store(
    store: DataFrame,
    path: str,
    prefix_chars: int = 2,
    mode: str = "overwrite",
) -> None:
    """Persist the ``content_md5`` column of ``store`` as a
    content-digest store (:data:`DIGEST_SCHEMA`) in its 100 TB layout:
    ``partitionBy`` on the digest's first ``prefix_chars`` hex chars
    (256 directories at the default). An ingest batch touches only
    the prefixes its own digests hash into, so the batch anti-join
    scans a bounded slice of a store holding billions of digests —
    the reference's incremental-aggregate pattern
    (etl/user_reports_aggregate.py:17-53) applied to the dedup
    ledger. md5 is uniform, so partitions stay balanced by
    construction.

    Mutations hold the single-writer lease (``sources/stores.py``) —
    the store is bare parquet, so concurrency safety is enforced at
    the writer, not assumed."""
    from docker_etl_spark.sources.stores import store_writer_lock

    out = store.select(
        "content_md5",
        F.substring("content_md5", 1, prefix_chars).alias("digest_prefix"),
    )
    # Hash-repartition on the partition column first: without it every
    # input partition opens a writer in every prefix directory it
    # touches (~n_partitions × 256 file commits per batch — measured
    # 4.9 s for an 18k-row batch, 8× the actual write); with it each
    # directory gets one right-sized file per batch and the commit
    # count is the task count. Explicit count (write_repartition):
    # AQE otherwise coalesces the few-MB batch to ONE task that pays
    # all 256 directory commits serially (measured 6.3 s at 1.3 s
    # CPU for the same write that takes ~1 s across 32 tasks).
    from docker_etl_spark.sources.stores import write_repartition

    out = write_repartition(out, ("digest_prefix",))
    with store_writer_lock(path, owner="write_digest_store"):
        out.write.mode(mode).partitionBy("digest_prefix").parquet(path)


def load_digest_store(spark, path: str) -> DataFrame:
    """Read a :func:`write_digest_store` layout with its declared
    schema — no inference job."""
    return spark.read.schema(DIGEST_SCHEMA).parquet(path)


def delete_from_digest_store(spark, path: str, digests) -> int:
    """Purge digests from a content-digest store — the takedown
    lifecycle's DEDUP-LEDGER leg (r12: a purge that tombstones the
    search/vector stores but leaves the digest ledger keeps
    rejecting re-licensed or corrected re-ingests of the same
    content as "duplicate of deleted content" forever).

    Unlike the search/IVF-PQ tombstone sidecars, this is an
    IMMEDIATE TARGETED PARTITION REWRITE — exactly what the
    digest-prefix layout is for: the delete list's prefixes (at most
    16^prefix_chars directories, typically far fewer) are the only
    partitions read, anti-joined, and dynamically overwritten; the
    rest of a store holding billions of digests is untouched.
    Dynamic overwrite only replaces partitions PRESENT in the new
    data, so prefixes whose every digest was deleted are removed
    explicitly afterwards (they would otherwise survive as stale
    directories). The whole mutation holds the single-writer lease;
    the batch-your-takedowns pattern (one call per purge batch, not
    per digest) keeps the rewrite count bounded.

    ``digests``: list of digest strings or a 1-column DataFrame.
    Returns the number of digest rows removed."""
    from docker_etl_spark.sources.stores import (
        parquet_path_exists,
        store_writer_lock,
    )

    if isinstance(digests, DataFrame):
        dl = digests.select(
            F.col(digests.columns[0]).alias("content_md5")
        ).distinct()
    else:
        vals = list(digests)
        if not vals:
            raise ValueError("delete_from_digest_store: empty digests")
        dl = spark.createDataFrame(
            [(v,) for v in vals], ["content_md5"]
        ).distinct()
    if not parquet_path_exists(spark, path):
        return 0
    with store_writer_lock(path, owner="delete_from_digest_store"):
        # infer prefix_chars from the layout (first partition value)
        sample = (
            load_digest_store(spark, path).select("digest_prefix").limit(1)
        ).collect()
        if not sample:
            return 0
        n_pfx = len(sample[0][0])
        dl = dl.withColumn(
            "digest_prefix", F.substring("content_md5", 1, n_pfx)
        ).localCheckpoint()
        prefixes = sorted(
            r[0] for r in dl.select("digest_prefix").distinct().collect()
        )
        affected = load_digest_store(spark, path).filter(
            F.col("digest_prefix").isin(prefixes)
        )
        kept = affected.join(
            dl.select("content_md5"), "content_md5", "left_anti"
        )
        # eager barrier: the write below dynamically overwrites the
        # same partitions this plan reads (the r9 read-then-overwrite
        # hazard); the slice is prefix-bounded, so the checkpoint is
        # cheap relative to the rewrite
        kept = kept.localCheckpoint()
        n_before = affected.count()
        n_after = kept.count()
        survivors = {
            r[0]
            for r in kept.select("digest_prefix").distinct().collect()
        }
        from docker_etl_spark.sources.stores import write_repartition

        (
            write_repartition(kept, ("digest_prefix",))
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("digest_prefix")
            .parquet(path)
        )
        # prefixes left with zero survivors: dynamic overwrite wrote
        # nothing there — drop the stale directories explicitly
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for p in prefixes:
            if p not in survivors:
                hp = jvm.org.apache.hadoop.fs.Path(
                    f"{path}/digest_prefix={p}"
                )
                fs = hp.getFileSystem(conf)
                if fs.exists(hp):
                    fs.delete(hp, True)
    spark.catalog.clearCache()
    return n_before - n_after


def incremental_content_dedup(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    digest_col: str = "content_md5",
    prefix_chars: int = 2,
) -> DataFrame:
    """Dedup an incoming batch against the corpus already ingested —
    the continuous-corpus-build form of exact dedup (reference
    patterns U4 set-diff sync + T3 natural-key dedup, applied to
    content digests): a crawler re-delivers most of what it saw last
    week; only genuinely new content may append.

    Two stages, both digest-keyed: (1) intra-batch — min id per
    content digest survives; (2) cross-batch — left_anti against the
    store's digest set. Returns survivors WITH the digest column so
    the caller appends rows and digests in one write (the store needs
    only (digest) — at 100 TB keep it as its own compact table, never
    re-derive it from corpus text).

    Shuffles: one window on digest + one anti-join on digest. The
    anti-join build side is the digest store — broadcast when small,
    hash-partitioned when not; never text-to-text comparison.

    PARTITIONED-STORE FAST PATH: when ``store`` carries a
    ``digest_prefix`` column (the :func:`write_digest_store` layout),
    the batch's distinct prefixes — at most ``16^prefix_chars``
    values, collected in one single-task job over the (small by
    definition) batch, pinned first by an eager local checkpoint that
    runs the md5 on all of its partitions — are pushed as a static IN
    predicate on the store's partition column, so the scan reads only
    the matching directories (plan-pinned in
    ``tests/test_physical_plans.py::test_digest_store_partition_pruning``).
    The store probe then runs large-side-probe/small-side-build: the
    pruned store is semi-joined against the broadcast batch digests
    (read from the pin, so the window runs once), and only those
    (bounded) matches feed the final anti-join.
    """
    d = new_docs.withColumn(digest_col, F.md5(F.col(text_col)))
    fast = "digest_prefix" in store.columns
    if fast:
        # the prefixes and the probe must see the same batch rows
        d = d.localCheckpoint(eager=True)
    w = Window.partitionBy(digest_col).orderBy(id_col)
    batch_unique = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if fast:
        prefixes = sorted(
            r[0]
            for r in d.select(
                F.substring(F.col(digest_col), 1, prefix_chars).alias("p")
            )
            # one task over the pinned rows: the distinct needs no
            # shuffle, so the collect is one job
            .coalesce(1)
            .distinct()
            .collect()
        )
        pruned = store.filter(F.col("digest_prefix").isin(prefixes))
        matches = pruned.join(
            F.broadcast(d.select(digest_col).distinct()),
            digest_col,
            "left_semi",
        ).select(digest_col)
        return batch_unique.join(matches, digest_col, "left_anti")
    seen = store.select(
        F.md5(F.col(text_col)).alias(digest_col)
        if digest_col not in store.columns
        else F.col(digest_col)
    ).distinct()
    return batch_unique.join(seen, digest_col, "left_anti")


def keep_best_per_cluster(
    labels: DataFrame,
    quality: DataFrame,
    quality_col: str,
    node_col: str = "node",
    component_col: str = "component",
) -> DataFrame:
    """Quality-aware dedup survivor selection: given
    ``connected_components`` labels and a per-node quality score,
    elect the highest-quality member of each near-dup cluster (tie ->
    lowest id) — what production dedup actually keeps (the longest /
    cleanest copy), instead of an arbitrary or min-id survivor.

    ``quality`` must carry (node_col, quality_col). One join on the
    node id + one window per component (components are tiny — the
    window partitions are bounded by cluster size, not corpus size).

    Returns (cluster_id, n_members, keep_id, keep_quality).
    ``keep_quality`` keeps the input column's type (integral types
    widen to long for cross-engine stability; fractional scores —
    lm_score, removed_frac — pass through unchanged, never
    truncated).
    """
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    m = labels.join(quality.select(node_col, quality_col), node_col)
    w = Window.partitionBy(component_col).orderBy(
        F.desc(quality_col), F.asc(node_col)
    )
    ranked = m.withColumn("__rn", F.row_number().over(w))
    is_best = F.col("__rn") == 1
    q_type = quality.schema[quality_col].dataType
    keep_q = F.max(F.when(is_best, F.col(quality_col)))
    if isinstance(q_type, (ByteType, ShortType, IntegerType, LongType)):
        keep_q = keep_q.cast("long")
    return ranked.groupBy(F.col(component_col).alias("cluster_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.max(F.when(is_best, F.col(node_col))).cast("long").alias("keep_id"),
        keep_q.alias("keep_quality"),
    )
