"""Round-13 tests: correctness fixes taken from the r12 verdict
(batch-MaxScore pair-collect overflow, MaxScore bound slack) and
focused tests for operators whose internals changed during the
optimization pass."""

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_ROWS = [
    (1, "spark shuffle join join window"),
    (2, "spark window aggregate scan"),
    (3, "join scan shuffle spark spark"),
    (4, "window join probe scan scan"),
    (5, "unique sentinel phrase spark"),
    (6, "spark spark spark join"),
]


def _store(spark, tmp_path, name="r13store", rows=None, split=3):
    from docker_etl_spark.operators.search import (
        build_postings,
        write_search_index,
    )

    df = _docs(spark, rows or _ROWS)
    path = str(tmp_path / name)
    p0, s0 = build_postings(df.filter(F.col("doc_id") < split), "text", "doc_id")
    write_search_index(p0, s0, path, batch_id=0)
    p1, s1 = build_postings(df.filter(F.col("doc_id") >= split), "text", "doc_id")
    write_search_index(p1, s1, path, batch_id=1)
    return path


def test_batch_pruned_at_cap_not_over_still_prunes(spark, tmp_path):
    """Exactly AT the cap (not over) the pruned path must still run:
    the overflow check fires only when the +1 sentinel row arrives."""
    from docker_etl_spark.operators.search import (
        search_bm25_topk_batch,
        search_bm25_topk_batch_pruned,
    )

    path = _store(spark, tmp_path)
    # 8 queries x 2 terms = 16 pairs == cap exactly.
    q = spark.createDataFrame(
        [(i, ["spark", "join"]) for i in range(8)],
        "query_id long, terms array<string>",
    )
    diag = {}
    got = sorted(
        tuple(r)
        for r in search_bm25_topk_batch_pruned(
            q, path, k=3, max_query_terms=2, _diag=diag
        ).collect()
    )
    # The overflow check must NOT fire at exactly the cap (the two
    # shared terms may still fall back for split reasons — that is
    # fine; what is pinned is that the pair collect was not deemed
    # truncated).
    assert "pair" not in diag.get("reason", ""), diag
    ref = sorted(
        tuple(r)
        for r in search_bm25_topk_batch(
            q, path, k=3, max_query_terms=2
        ).collect()
    )
    assert got == ref


def test_apply_signature_deletes_keeps_unapplied_tombstones(spark, tmp_path):
    """r12 ADVICE: apply_signature_deletes used to rmtree the whole
    sidecar after the rewrite, destroying any tombstone appended
    between the pin and the clear — a silently lost purge. The
    sidecar carries __batch_id partitions and the clear drops only
    the batches at or below the apply's horizon. Two delete batches,
    apply up to batch 0 — batch 1's tombstone must survive the clear
    (still read-side-excluded) while batch 0's is physically
    gone."""
    from docker_etl_spark.operators.text_dedup import (
        apply_signature_deletes,
        delete_from_signature_store,
        load_signature_store,
        minhash_signature,
        read_signature_deletes,
        word_shingles,
        write_signature_store,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc{i} tail words") for i in range(1, 5)],
        "doc_id long, text string",
    )
    sigs = docs.select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
    )
    path = str(tmp_path / "sigstore")
    write_signature_store(sigs, path, bands=3, num_perm=12)

    delete_from_signature_store(spark, path, [1], batch_id=0)
    delete_from_signature_store(spark, path, [2], batch_id=1)
    res = apply_signature_deletes(spark, path, up_to_batch=0)
    assert res is not None
    # batch 1 (id 2) survived the clear: still pending read-side
    pending = {r[0] for r in read_signature_deletes(spark, path).collect()}
    assert pending == {2}
    # id 1 physically gone; id 2 still excluded by the read-side
    # anti-join even though its rows are physically present
    raw_ids = {
        r[0]
        for r in load_signature_store(
            spark, path, apply_deletes=False
        ).select("doc_id").distinct().collect()
    }
    assert 1 not in raw_ids and 2 in raw_ids
    live_ids = {
        r[0]
        for r in load_signature_store(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert live_ids == {3, 4}
    # a full apply now drains the sidecar entirely
    assert apply_signature_deletes(spark, path, up_to_batch=1) is not None
    assert read_signature_deletes(spark, path) is None
    live_ids = {
        r[0]
        for r in load_signature_store(spark, path)
        .select("doc_id").distinct().collect()
    }
    assert live_ids == {3, 4}


def test_write_repartition_pins_explicit_partition_count(spark, tmp_path):
    """Optimization-round invariant: the pre-partitionBy hash
    distribution must carry an EXPLICIT partition count
    (REPARTITION_BY_NUM). A bare repartition(col) is
    REPARTITION_BY_COL, which AQE's coalescing shrinks by bytes — a
    few-MB store batch collapses to ONE task that creates every
    partition directory serially (measured 6.3 s for a
    256-directory digest write vs ~1 s spread across the cores).
    Layout must be unchanged: one file per directory per batch."""
    import os

    from docker_etl_spark.operators.dedupe import write_digest_store
    from docker_etl_spark.sources.stores import write_repartition

    df = spark.range(2000).select(
        F.md5(F.col("id").cast("string")).alias("content_md5")
    )
    out = write_repartition(
        df.withColumn(
            "digest_prefix", F.substring("content_md5", 1, 2)
        ),
        ("digest_prefix",),
    )
    import re

    # the explicit count shows as the RepartitionByExpression's
    # trailing numPartitions in the optimized plan (a bare
    # repartition(col) has NO trailing count there) and as
    # REPARTITION_BY_NUM on the physical Exchange
    n = spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(
        rf"RepartitionByExpression \[digest_prefix#\d+\], {n}\b", plan
    ), plan
    phys = out._jdf.queryExecution().sparkPlan().toString()
    assert "REPARTITION_BY_NUM" in phys, phys

    # layout invariant: each prefix directory holds exactly one file
    path = str(tmp_path / "digests")
    write_digest_store(df, path)
    for d in os.listdir(path):
        if not d.startswith("digest_prefix="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(path, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)


def test_signlsh_sql_builders_bit_identical_to_column_form(spark):
    """The one-parse SQL forms of signlsh_table_buckets /
    signlsh_probe_buckets (hot-path driver-latency fix) must produce
    exactly the buckets the Column forms produce, in both exact-int
    and float-plane modes."""
    from docker_etl_spark.operators.similarity import (
        signlsh_probe_buckets,
        signlsh_table_buckets,
    )

    df = spark.range(50).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: ((F.col("id") * 37 + i * 13) % 19 - 9).cast("bigint"),
        ).alias("v"),
        F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: (((F.col("id") * 37 + i * 13) % 19 - 9) / 3.0),
        ).alias("vf"),
    )
    for exact, col in ((True, "v"), (False, "vf")):
        a = df.select(
            "id",
            signlsh_table_buckets(
                F.col(col), 16, 6, 3, 42, exact
            ).alias("k"),
        )
        b = df.select(
            "id",
            signlsh_table_buckets(col, 16, 6, 3, 42, exact).alias("k"),
        )
        assert a.collect() == b.collect(), f"table buckets exact={exact}"
        ap = df.select(
            "id",
            signlsh_probe_buckets(
                F.col(col), 16, 6, 3, 42, exact
            ).alias("k"),
        )
        bp = df.select(
            "id",
            signlsh_probe_buckets(col, 16, 6, 3, 42, exact).alias("k"),
        )
        assert ap.collect() == bp.collect(), f"probe buckets exact={exact}"
