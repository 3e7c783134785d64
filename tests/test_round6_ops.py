"""Round-6 operator tests: SemDeDup tier-skip + config guards,
scan-free dry-run, store maintenance, single-writer guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_round5_ops import _skewed_embeddings


# ---------------------------------------------------------------------
# semantic_dedup: config validation + scale-unsafe warning + tier skip
# ---------------------------------------------------------------------


def test_semantic_dedup_rejects_zero_planes(spark):
    """sub_bucket_planes=0 must raise, not silently fall through to
    auto-sizing (it used to be falsy under `or`)."""
    from docker_etl_spark.operators.similarity import semantic_dedup

    df = _skewed_embeddings(spark, n_big=10, n_small=3)
    with pytest.raises(ValueError, match="sub_bucket_planes"):
        semantic_dedup(df, k=2, max_cluster_size=4, sub_bucket_planes=0)


def test_semantic_dedup_warns_on_scale_unsafe_config(spark):
    """Pinned plane count with no star fallback is the measured
    374x-at-100x trap — it must warn loudly; the explicit silencer
    (differential-oracle replays) and the default config must not."""
    import warnings

    from docker_etl_spark.operators.similarity import semantic_dedup

    df = _skewed_embeddings(spark, n_big=10, n_small=3)
    with pytest.warns(UserWarning, match="quadratic"):
        semantic_dedup(
            df, k=2, max_cluster_size=4, sub_bucket_planes=2, star_bucket_cap=None
        )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # silenced replay config
        semantic_dedup(
            df,
            k=2,
            max_cluster_size=4,
            sub_bucket_planes=2,
            star_bucket_cap=None,
            warn_scale_unsafe=False,
        )
        # default (auto star tier) — linear path, nothing to warn about
        semantic_dedup(df, k=2, max_cluster_size=4, sub_bucket_planes=2)


def test_semantic_dedup_tier_skip_when_probe_bounds_buckets(spark):
    """When the k-row size probe proves no cluster exceeds the star
    cap, the tier machinery (stats aggregate + broadcast join) must
    vanish from the plan entirely — and results must be identical to
    a run where the machinery does execute."""
    from docker_etl_spark.operators.similarity import semantic_dedup

    df = _skewed_embeddings(spark, n_big=20, n_small=5)
    # probe runs (default cap), bound 25+twins << cap -> tier skipped
    skipped = semantic_dedup(df, k=2, threshold=0.999)
    assert "__bn" not in skipped._jdf.queryExecution().analyzed().toString()
    # no probe (cap None) + explicit star cap -> machinery must run
    ran = semantic_dedup(
        df, k=2, threshold=0.999, max_cluster_size=None, star_bucket_cap=100_000
    )
    assert "__bn" in ran._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, skipped.collect())) == sorted(
        map(tuple, ran.collect())
    )


# ---------------------------------------------------------------------
# Holt-Winters JVM fold (f10)
# ---------------------------------------------------------------------


def _hw_reference(ys, horizon, alpha, beta, gamma, m):
    """The recipe as a plain Python loop — same IEEE ops in the same
    order as the JVM fold, so equality must be EXACT."""
    l = sum(ys[:m]) / m
    b = (sum(ys[m : 2 * m]) / m - l) / m
    s = [y - l for y in ys[:m]]
    for y in ys:
        head = s[0]
        l_new = alpha * (y - head) + (1 - alpha) * (l + b)
        b = beta * (l_new - l) + (1 - beta) * b
        s = s[1:] + [gamma * (y - l_new) + (1 - gamma) * head]
        l = l_new
    return [l + h * b + s[(h - 1) % m] for h in range(1, horizon + 1)]


def test_holt_winters_fold_matches_reference_bitexact(spark):
    import datetime as dt

    from docker_etl_spark.operators.forecast import holt_winters_forecast

    ys = [
        10.0, 12.5, 9.25, 14.0, 11.75, 8.5, 13.0,
        10.5, 13.25, 9.75, 14.5, 12.0, 9.0, 13.5,
        11.0, 13.75, 10.25, 15.0, 12.5, 9.5, 14.0,
        11.5, 14.25, 10.75, 15.5, 13.0,
    ]
    rows = [
        ("a", dt.date(2024, 1, 1) + dt.timedelta(days=i), y)
        for i, y in enumerate(ys)
    ]
    df = spark.createDataFrame(rows, "seg string, ds date, y double")
    out = holt_winters_forecast(
        df, ["seg"], horizon_days=10, alpha=0.5, beta=0.1, gamma=0.2, season=7
    )
    got = {r.ds: r.yhat for r in out.collect()}
    want = _hw_reference(ys, 10, 0.5, 0.1, 0.2, 7)
    for h, w in enumerate(want, start=1):
        d = dt.date(2024, 1, 1) + dt.timedelta(days=len(ys) - 1 + h)
        assert got[d] == w  # exact, not approx

    # plan shape: zero Python stages, exactly one shuffle (the groupBy)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan
    assert plan.count("Exchange") <= 2  # partial->final agg exchange (+AQE read)


def test_holt_winters_drops_short_segments(spark):
    import datetime as dt

    from docker_etl_spark.operators.forecast import holt_winters_forecast

    rows = [
        ("short", dt.date(2024, 1, 1) + dt.timedelta(days=i), float(i))
        for i in range(10)  # < 2 seasons
    ]
    df = spark.createDataFrame(rows, "seg string, ds date, y double")
    assert holt_winters_forecast(df, ["seg"]).count() == 0


# ---------------------------------------------------------------------
# scan-free dry-run (D6)
# ---------------------------------------------------------------------


def _job_count(spark) -> int:
    """Monotone job counter: the DAGScheduler's next job id."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_dry_run_triggers_zero_spark_jobs(spark, sf_dir, tmp_path):
    """write=False must log the plan WITHOUT evaluating the frame —
    the old df.count() dry-run was a full pass at 100 TB."""
    from docker_etl_spark.sources.io import load_table, write_table

    df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .count()
    )
    before = _job_count(spark)
    write_table(df, str(tmp_path / "dry"), write=False)
    assert _job_count(spark) == before
    import os

    assert not os.path.exists(tmp_path / "dry")


# ---------------------------------------------------------------------
# single-writer lease on the incremental stores
# ---------------------------------------------------------------------


def test_store_writer_lock_blocks_second_writer(tmp_path):
    from docker_etl_spark.sources.stores import (
        ConcurrentWriteError,
        store_writer_lock,
    )

    path = str(tmp_path / "some_store")
    with store_writer_lock(path, owner="w1"):
        with pytest.raises(ConcurrentWriteError, match="locked by another"):
            with store_writer_lock(path, owner="w2"):
                pass
    # released: a new writer acquires cleanly
    with store_writer_lock(path, owner="w3"):
        pass


def test_store_writer_lock_stale_break_and_broken_lease(tmp_path):
    """A crashed writer's old lease can be broken via stale_after_sec;
    the original writer then fails LOUDLY on release (its mutations
    may have interleaved) instead of reporting success."""
    import os
    import time

    from docker_etl_spark.sources.stores import (
        ConcurrentWriteError,
        store_writer_lock,
    )

    path = str(tmp_path / "store2")
    lock = path + ".__writer_lock"
    with pytest.raises(ConcurrentWriteError, match="broken mid-write"):
        with store_writer_lock(path, owner="old"):
            # age the lease, then a second writer breaks it
            past = time.time() - 3600
            os.utime(lock, (past, past))
            with store_writer_lock(path, owner="breaker", stale_after_sec=60):
                pass
    # without stale_after_sec an old lease still blocks
    with store_writer_lock(path, owner="w1"):
        os.utime(lock, (time.time() - 3600,) * 2)
        with pytest.raises(ConcurrentWriteError):
            with store_writer_lock(path, owner="w2"):
                pass


def test_write_signature_store_holds_lease(spark, sf_dir, tmp_path):
    """The store writers acquire the lease — a concurrent holder makes
    the append fail loudly instead of interleaving."""
    from docker_etl_spark.operators.text_dedup import (
        minhash_signature,
        word_shingles,
        write_signature_store,
    )
    from docker_etl_spark.sources.io import load_table
    from docker_etl_spark.sources.stores import (
        ConcurrentWriteError,
        store_writer_lock,
    )

    docs = load_table(spark, sf_dir, "documents").limit(5)
    sigs = docs.select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
    )
    path = str(tmp_path / "locked_store")
    with store_writer_lock(path, owner="other-job"):
        with pytest.raises(ConcurrentWriteError):
            write_signature_store(sigs, path, bands=3, num_perm=12)
    write_signature_store(sigs, path, bands=3, num_perm=12)  # lease freed


# ---------------------------------------------------------------------
# store compaction (partition-layout-preserving)
# ---------------------------------------------------------------------


def test_compact_partitioned_store_bounds_files_same_results(
    spark, sf_dir, tmp_path
):
    """Fragment a signature store with many small appends (the
    streaming pattern), compact, and require: dedup results
    bit-identical, file count bounded, PartitionFilters still prune."""
    from docker_etl_spark.operators.text_dedup import (
        incremental_minhash_dedup,
        load_signature_store,
        minhash_signature,
        signature_store_schema,
        word_shingles,
        write_signature_store,
    )
    from docker_etl_spark.sources.io import load_table
    from docker_etl_spark.sources.stores import (
        compact_partitioned_store,
        parquet_file_count,
        parquet_row_count,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "frag_store")
    for i in range(4):  # 4 fragmented appends
        chunk = docs.filter(F.col("doc_id") % 8 == 2 * i)
        sigs = chunk.select(
            "doc_id",
            minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
        )
        write_signature_store(
            sigs, path, bands=3, num_perm=12,
            mode="overwrite" if i == 0 else "append",
        )
    batch = docs.filter(F.col("doc_id") % 2 == 1).limit(30)

    def run():
        return sorted(
            map(
                tuple,
                incremental_minhash_dedup(
                    batch, load_signature_store(spark, path), store_exploded=True
                ).collect(),
            )
        )

    before_rows = parquet_row_count(path)
    before_files = parquet_file_count(path)
    before = run()
    stats = compact_partitioned_store(
        spark, path, ("band",), signature_store_schema("bigint")
    )
    assert parquet_row_count(path) == before_rows == stats["rows"]
    # 3 band partitions -> at most one right-sized file each
    assert parquet_file_count(path) <= 3 < before_files
    assert run() == before
    # partition pruning survives the rewrite
    from tests.test_physical_plans import formatted

    pruned = incremental_minhash_dedup(
        batch, load_signature_store(spark, path),
        store_exploded=True, probe_bands=[0],
    )
    pf = [
        l for l in formatted(pruned).splitlines() if "PartitionFilters" in l
    ]
    assert pf and any("band" in l for l in pf), pf


# ---------------------------------------------------------------------
# stdlib baseline-JFIF codec + multimodal dispatch
# ---------------------------------------------------------------------


def _gradient_rgb(h, w):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            np.clip(x * 3, 0, 255),
            np.clip(y * 4, 0, 255),
            np.clip(255 - x * 2, 0, 255),
        ],
        axis=-1,
    ).astype(np.uint8)


import numpy as np  # noqa: E402


@pytest.mark.parametrize(
    "kw",
    [
        {"subsampling": "444", "quality": 95},
        {"subsampling": "420", "quality": 95},
        {"subsampling": "444", "quality": 95, "restart_interval": 2},
        {"subsampling": "420", "quality": 90, "restart_interval": 3},
    ],
)
def test_jpeg_roundtrip_gradient(kw):
    """Real pixels through encode → decode: smooth content must come
    back within normal lossy tolerance at high quality (this also
    exercises the decoder's interleaved-MCU upsample and restart
    paths via the encoder options)."""
    from docker_etl_spark.operators._jpeg import decode_jpeg, encode_jpeg

    arr = _gradient_rgb(40, 56)
    dec = decode_jpeg(encode_jpeg(arr, **kw))
    assert dec.shape == arr.shape
    err = np.abs(dec.astype(int) - arr.astype(int))
    assert err.mean() < 3.0 and err.max() <= 16


def test_jpeg_flat_color_exact_and_gray():
    """Flat fields are DC-only: decode must be EXACT (including the
    YCbCr round-trip, whose forward/backward matrices are independent
    formulas — a systematic transform bug cannot cancel out here)."""
    from docker_etl_spark.operators._jpeg import decode_jpeg, encode_jpeg

    c = np.zeros((16, 16, 3), np.uint8)
    c[:] = (200, 50, 100)
    dec = decode_jpeg(encode_jpeg(c, quality=95))
    assert np.abs(dec.astype(int) - c.astype(int)).max() <= 1
    y, _ = np.mgrid[0:40, 0:56]
    g = np.clip(y * 6, 0, 255).astype(np.uint8)[:, :, None]
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.shape == g.shape
    assert np.abs(dec.astype(int) - g.astype(int)).max() <= 1


@pytest.mark.parametrize("shape", [(1, 1, 3), (3, 5, 3), (9, 17, 3)])
@pytest.mark.parametrize("ss", ["444", "420"])
def test_jpeg_odd_and_tiny_dimensions(shape, ss):
    from docker_etl_spark.operators._jpeg import decode_jpeg, encode_jpeg

    a = (np.indices(shape[:2]).sum(0) * 17 % 256).astype(np.uint8)
    a = np.stack([a] * shape[2], axis=-1)
    dec = decode_jpeg(encode_jpeg(a, subsampling=ss, quality=95))
    assert dec.shape == a.shape
    assert np.abs(dec.astype(int) - a.astype(int)).max() <= 6


def test_jpeg_rejects_garbage_and_unsupported():
    from docker_etl_spark.operators._jpeg import JpegFormatError, decode_jpeg, encode_jpeg

    for bad in (b"", b"\x89PNG", b"not a jpeg", b"\xff\xd8\xff\xdb\x00"):
        with pytest.raises(JpegFormatError):
            decode_jpeg(bad)
    # truncated entropy data must raise, not return wrong pixels
    good = encode_jpeg(_gradient_rgb(24, 24), quality=90)
    with pytest.raises(JpegFormatError):
        decode_jpeg(good[: len(good) // 2])
    # progressive SOF2 marker refused explicitly
    prog = bytearray(good)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2
    with pytest.raises(JpegFormatError, match="SOF"):
        decode_jpeg(bytes(prog))


def test_decode_image_features_real_jpeg_capability(spark):
    """A REAL JPEG payload through the Spark kernel: decoder column
    says jpeg-stdlib and mean_luma matches the numpy ground truth of
    the decoded pixels."""
    from docker_etl_spark.operators._jpeg import decode_jpeg, encode_jpeg
    from docker_etl_spark.operators._png import mean_luma
    from docker_etl_spark.operators.multimodal import decode_image_features

    arr = _gradient_rgb(32, 48)
    payload = encode_jpeg(arr, subsampling="420", quality=90)
    want = mean_luma(decode_jpeg(payload))
    rows = [
        (1, bytearray(payload), {"kind": "image", "width": 48, "height": 32,
                                 "n_frames": 1, "sample_rate": 0}),
        (2, bytearray(b"opaque"), {"kind": "image", "width": 1, "height": 1,
                                   "n_frames": 1, "sample_rate": 0}),
    ]
    from docker_etl_spark.operators.multimodal import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.media_id: r for r in decode_image_features(df).collect()}
    assert got[1].decoder == "jpeg-stdlib"
    assert abs(got[1].mean_luma - want) < 1e-9
    assert got[2].decoder == "stub"


def test_resize_images_real_jpeg_capability(spark):
    from docker_etl_spark.operators._jpeg import decode_jpeg, encode_jpeg
    from docker_etl_spark.operators.multimodal import MEDIA_SCHEMA, resize_images

    payload = encode_jpeg(_gradient_rgb(32, 48), quality=95)
    rows = [
        (1, bytearray(payload), {"kind": "image", "width": 48, "height": 32,
                                 "n_frames": 1, "sample_rate": 0}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = resize_images(df, 12, 10).collect()[0]
    assert out.resized_by == "jpeg-stdlib"
    resized = decode_jpeg(bytes(out.content))
    assert resized.shape == (10, 12, 3)
    assert out.meta["width"] == 12 and out.meta["height"] == 10


def test_detect_media_format_census(spark):
    """Magic-byte census is a JVM expression and labels the four
    classes correctly."""
    from docker_etl_spark.operators._jpeg import encode_jpeg
    from docker_etl_spark.operators._png import encode_png
    from docker_etl_spark.operators.multimodal import detect_media_format

    png = encode_png(np.zeros((2, 2, 3), np.uint8))
    jpg = encode_jpeg(np.zeros((2, 2, 3), np.uint8))
    rows = [
        (1, bytearray(png)),
        (2, bytearray(jpg)),
        (3, bytearray(b"GIF89a....")),
        (4, bytearray(b"who knows")),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {
        r.id: r.fmt
        for r in df.select(
            "id", detect_media_format("content").alias("fmt")
        ).collect()
    }
    assert got == {1: "png", 2: "jpeg", 3: "gif", 4: "unknown"}
    plan = (
        df.select(detect_media_format("content"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan  # census never leaves the JVM


# ---------------------------------------------------------------------
# streaming sink redelivery idempotence
# ---------------------------------------------------------------------


def test_minhash_stream_out_is_idempotent_per_batch(spark, sf_dir, tmp_path):
    """Redelivering a batch (same batch_id) must REPLACE its out
    partition, not append duplicates — the at-least-once window the
    r5 ADVICE flagged."""
    from docker_etl_spark.sources.io import load_table
    from docker_etl_spark.streaming import minhash_dedup_stream

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    store = str(tmp_path / "re_store")
    out = str(tmp_path / "re_out")
    sink = minhash_dedup_stream(store, out)
    sink(docs, 0)
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    sink(docs, 0)  # redelivery
    second = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == second  # no duplication
    # store re-append is results-neutral: a later batch of the same
    # docs is still fully flagged as duplicates
    sink(docs.withColumn("doc_id", F.col("doc_id") + 10_000), 1)
    third = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert third == second  # every redelivered doc deduped


def test_minhash_stream_compacts_store_every_n_batches(
    spark, sf_dir, tmp_path
):
    """compact_every=2 must leave the store compacted after batch 1
    with unchanged dedup behaviour."""
    from docker_etl_spark.sources.io import load_table
    from docker_etl_spark.sources.stores import parquet_file_count
    from docker_etl_spark.streaming import minhash_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = str(tmp_path / "cs_store")
    out = str(tmp_path / "cs_out")
    sink = minhash_dedup_stream(store, out, compact_every=2)
    sink(docs.filter(F.col("doc_id") % 4 == 0), 0)
    sink(docs.filter(F.col("doc_id") % 4 == 1), 1)  # triggers compaction
    assert parquet_file_count(store) <= 3  # one file per band partition
    # compacted store still dedups: redeliver batch-0 docs as new ids
    dup = docs.filter(F.col("doc_id") % 4 == 0).withColumn(
        "doc_id", F.col("doc_id") + 50_000
    )
    sink(dup, 2)
    batch2 = [
        r.doc_id
        for r in spark.read.parquet(out).filter("__batch_id = 2").collect()
    ]
    assert batch2 == []  # all flagged against the compacted store


def test_embedding_stream_idempotent_and_compacts(spark, sf_dir, tmp_path):
    """The embedding sink shares the delivery contract: redelivered
    batch replaces its out partition; compact_every preserves the tbl
    partition layout and dedup behaviour."""
    from docker_etl_spark.sources.io import load_table
    from docker_etl_spark.sources.stores import parquet_file_count
    from docker_etl_spark.streaming import embedding_dedup_stream

    em = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    store = str(tmp_path / "es_store")
    out = str(tmp_path / "es_out")
    sink = embedding_dedup_stream(
        store, out, dim=64, threshold=0.99, compact_every=2
    )
    b0 = em.filter(F.col("vec_id") % 3 == 0)
    sink(b0, 0)
    first = sorted(r.vec_id for r in spark.read.parquet(out).collect())
    sink(b0, 0)  # redelivery replaces, store re-append results-neutral
    assert sorted(r.vec_id for r in spark.read.parquet(out).collect()) == first
    sink(em.filter(F.col("vec_id") % 3 == 1), 1)  # triggers compaction
    assert parquet_file_count(store) <= 2  # one file per tbl partition
    # exact copies of batch-0 vectors at new ids: all flagged
    dup = b0.withColumn("vec_id", F.col("vec_id") + 70_000)
    sink(dup, 2)
    assert (
        spark.read.parquet(out).filter("__batch_id = 2").count() == 0
    )


# ---------------------------------------------------------------------
# cross-document span dedup + benchmark span scrub (x54 / x55)
# ---------------------------------------------------------------------


def _span_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_doc_span_dedup_owner_keeps_span(spark):
    """A k-token window shared by two docs is cut from the non-owner
    only; the min-id owner and unrelated docs are untouched."""
    from docker_etl_spark.operators.corpus import cross_doc_span_dedup

    d = _span_docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "x y a b c d z"),
            (3, "p q r"),
        ],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in cross_doc_span_dedup(d, k=3).collect()
    }
    assert got[1]["clean_text"] == "a b c d e f"
    assert got[1]["n_removed"] == 0
    # doc 2: hits at pos 3 ("a b c") and 4 ("b c d") -> tokens 3-6 cut
    assert got[2]["clean_text"] == "x y z"
    assert got[2]["n_removed"] == 4
    assert got[2]["n_tokens"] == 7
    assert abs(got[2]["removed_frac"] - 4 / 7) < 1e-12
    assert got[3]["clean_text"] == "p q r"
    assert got[3]["n_removed"] == 0


def test_cross_doc_span_dedup_short_docs_pass_through(spark):
    """Documents shorter than k tokens emit no windows and survive
    verbatim (the sequence() count-down corner)."""
    from docker_etl_spark.operators.corpus import cross_doc_span_dedup

    d = _span_docs(spark, [(1, "a b"), (2, "a b"), (3, "a b c d")])
    got = {r["doc_id"]: r["clean_text"] for r in cross_doc_span_dedup(d, k=3).collect()}
    # the two 2-token twins are below window size: span dedup leaves
    # them alone (document-level dedup is x03's job, not this op's)
    assert got[1] == "a b" and got[2] == "a b"
    assert got[3] == "a b c d"


def test_scrub_benchmark_spans_cuts_leaked_windows_only(spark):
    """Every corpus window whose text appears in the benchmark set is
    excised; clean docs are untouched. The benchmark join must be a
    broadcast semi-join (eval sets are tiny at 100 TB corpus scale)."""
    from docker_etl_spark.operators.corpus import scrub_benchmark_spans

    bench = _span_docs(spark, [(100, "the quick brown fox")])
    corpus = _span_docs(
        spark,
        [
            (1, "hello the quick brown fox jumps"),
            (2, "nothing in common here at all"),
        ],
    )
    out = scrub_benchmark_spans(corpus, bench, k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    # hits at pos 2 ("the quick brown") and 3 ("quick brown fox")
    # -> tokens 2-5 cut
    assert got[1]["clean_text"] == "hello jumps"
    assert got[1]["n_removed"] == 4
    assert got[2]["clean_text"] == "nothing in common here at all"
    assert got[2]["n_removed"] == 0


# ---------------------------------------------------------------------
# DSIR importance resampling (x56)
# ---------------------------------------------------------------------


def test_dsir_select_prefers_target_like_docs(spark):
    """A source doc written in the target set's vocabulary must
    outscore sources with disjoint vocabulary; ranks are dense from 1
    and ties break on doc_id."""
    from docker_etl_spark.operators.corpus import dsir_select

    target = _span_docs(
        spark,
        [(100, "alpha beta gamma delta alpha beta"), (101, "alpha gamma beta")],
    )
    source = _span_docs(
        spark,
        [
            (1, "zig zag zog zug zeg"),
            (2, "alpha beta gamma alpha beta"),
            (3, "mumble frotz quux xyzzy plugh"),
        ],
    )
    got = dsir_select(source, target, n_buckets=64, k=3).collect()
    assert [r["sel_rank"] for r in got] == [1, 2, 3]
    assert got[0]["doc_id"] == 2
    assert got[0]["score_sum"] > got[1]["score_sum"]
    # target-vocab doc scores positive, disjoint-vocab docs negative
    assert got[0]["score_sum"] > 0 > got[1]["score_sum"]


# ---------------------------------------------------------------------
# reciprocal-rank fusion (x57)
# ---------------------------------------------------------------------


def test_rrf_fusion_semantics(spark):
    """Doc present in both arms beats single-arm docs; absent arm
    contributes exactly 0; ranks are dense and id-tiebroken."""
    from docker_etl_spark.operators.similarity import reciprocal_rank_fusion

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank long"
    )
    vec = spark.createDataFrame(
        [(11, 1), (13, 2)], "doc_id long, rank long"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in reciprocal_rank_fusion(
            [("lex", lex), ("vec", vec)], rrf_k=60
        ).collect()
    }
    assert got[11]["fused_rank"] == 1  # both arms
    assert got[11]["rrf_score"] == 1.0 / 62 + 1.0 / 61
    assert got[10]["rrf_score"] == 1.0 / 61  # vec arm absent -> 0
    assert got[10]["vec_rank"] is None
    assert sorted(r["fused_rank"] for r in got.values()) == [1, 2, 3, 4]
    # equal-score tie (lex rank 2 absent vec vs vec rank 2 absent lex)
    # breaks on doc_id: 11>10? no — check 12 (1/63) vs 13 (1/62)
    assert got[13]["fused_rank"] < got[12]["fused_rank"]


def test_rrf_rejects_empty_arms(spark):
    from docker_etl_spark.operators.similarity import reciprocal_rank_fusion

    with pytest.raises(ValueError):
        reciprocal_rank_fusion([])


# ---------------------------------------------------------------------
# BPE merge training (x58)
# ---------------------------------------------------------------------


def test_bpe_learns_textbook_merges(spark):
    """Sennrich-style fixture: 'low'x3 'lower' 'lowest' must learn
    l+o, lo+w, low+</w>, then low+e — including the fully-merged-word
    corner (round 4 sees 'low</w>' as ONE symbol and must not pair
    it)."""
    from docker_etl_spark.operators.text_analysis import bpe_train_merges

    docs = _span_docs(spark, [(1, "low low low lower lowest")])
    got = [tuple(r) for r in bpe_train_merges(docs, n_merges=5).collect()]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "low", "</w>", "low</w>", 3),
        (4, "low", "e", "lowe", 2),
        (5, "lowe", "r", "lower", 1),
    ]


def test_bpe_merge_is_greedy_nonoverlapping(spark):
    """'aaaa' with pair (a,a) merges left-to-right greedy to
    [aa, aa, </w>] — NOT [aa, a·a overlap]: round 1's count is 9
    (3 adjacent pairs x 3 words) and round 2 sees 'aa aa' and
    'aa </w>' TIED at 3 each (6 would mean overlapping merges),
    resolved by the pair-string tie-break ('<' < 'a')."""
    from docker_etl_spark.operators.text_analysis import bpe_train_merges

    docs = _span_docs(spark, [(1, "aaaa aaaa aaaa")])
    got = [tuple(r) for r in bpe_train_merges(docs, n_merges=2).collect()]
    assert got[0] == (1, "a", "a", "aa", 9)
    assert got[1] == (2, "aa", "</w>", "aa</w>", 3)


def test_bpe_apply_counts_subword_tokens(spark):
    """Applying the learned rules re-tokenizes: after l+o, lo+w,
    low+</w>, 'low' is ONE token (3 chars + marker collapsed),
    'lower' is low·e·r·</w> = 4."""
    from docker_etl_spark.operators.text_analysis import (
        bpe_apply_merges,
        bpe_train_merges,
    )

    train = _span_docs(spark, [(1, "low low low lower lowest")])
    rules = bpe_train_merges(train, n_merges=3)  # l+o, lo+w, low+</w>
    corpus = _span_docs(spark, [(10, "low lower"), (11, ""), (12, "xyz")])
    got = {
        r["doc_id"]: r.asDict()
        for r in bpe_apply_merges(corpus, rules).collect()
    }
    # 'low' -> [low</w>] = 1; 'lower' -> [low, e, r, </w>] = 4
    assert got[10]["n_words"] == 2
    assert got[10]["n_bpe_tokens"] == 5
    assert got[10]["tokens_per_word"] == 2.5
    assert got[11]["n_words"] == 0 and got[11]["n_bpe_tokens"] == 0
    assert got[11]["tokens_per_word"] is None
    # untouched word: chars + end marker
    assert got[12]["n_bpe_tokens"] == 4


def test_truncated_dim_recall_counts_overlap(spark):
    """Truncation flips the ranking: full top-2 is {c1, c4} but the
    2-dim prefix ties c1/c3/c4 at cos 1.0 (id tiebreak -> c1, c3),
    so recall@2 = 0.5."""
    from docker_etl_spark.operators.similarity import truncated_dim_recall

    q = spark.createDataFrame(
        [(100, [10, 0, 5, 0])], "query_id long, vec array<bigint>"
    )
    c = spark.createDataFrame(
        [
            (1, [10, 0, 5, 0]),   # full cos 1.0, trunc cos 1.0
            (2, [0, 1, 0, 0]),    # full cos 0,   trunc cos 0
            (3, [10, 0, -5, 0]),  # full cos 0.6, trunc cos 1.0
            (4, [5, 0, 10, 0]),   # full cos 0.8, trunc cos 1.0
        ],
        "corpus_id long, vec array<bigint>",
    )
    got = truncated_dim_recall(q, c, trunc_dim=2, k=2, exact_int=True).collect()
    assert len(got) == 1
    r = got[0]
    assert r["query_id"] == 100
    assert r["n_overlap"] == 1
    assert r["recall_at_k"] == 0.5


def test_mmr_rerank_prefers_diversity(spark):
    """With lambda=0.5 a redundant twin of the top hit (sim 1.0)
    drops below an orthogonal lower-relevance candidate; a pool
    smaller than select_k yields |pool| rows."""
    from docker_etl_spark.operators.similarity import mmr_rerank

    pool = spark.createDataFrame(
        [
            (1, 0.9, [10, 0]),   # top relevance
            (2, 0.85, [10, 0]),  # its exact-direction twin
            (3, 0.5, [0, 10]),   # orthogonal
        ],
        "cand_id long, rel double, vec array<bigint>",
    )
    got = mmr_rerank(pool, select_k=5, lambda_=0.5, exact_int=True).collect()
    assert [(r["mmr_rank"], r["cand_id"]) for r in got] == [(1, 1), (2, 3), (3, 2)]
    assert got[0]["mmr_score"] == 0.5 * 0.9
    assert got[1]["mmr_score"] == 0.5 * 0.5
    assert got[2]["mmr_score"] == 0.5 * 0.85 - 0.5 * 1.0


def test_psi_drift_hand_computed(spark):
    """PSI against hand-computed integer components: a fully flipped
    distribution drifts (psi ~1.66), a stable one doesn't (~0.034)."""
    from docker_etl_spark.operators.profiling import psi_drift

    rows = (
        [("g1", 5, 0)] * 3 + [("g1", 15, 1)] * 3
        + [("g2", 5, 0)] * 2 + [("g2", 5, 1)]
    )
    df = spark.createDataFrame(rows, "src string, v long, snap int")
    got = {
        r["src"]: r.asDict()
        for r in psi_drift(
            df, "src", "v", "snap", bucket_width=10, n_buckets=2
        ).collect()
    }
    # g1: num=(+15,-15), lw=(+1386294,-1386294) -> pn=41588820, den=25
    assert got["g1"]["n_base"] == 3 and got["g1"]["n_current"] == 3
    assert got["g1"]["psi"] == 41588820.0 / 25.0 / 1000000.0
    assert got["g1"]["drifted"] is True
    # g2: num=(+1,-1), lw=(117783,-287682) -> pn=405465, den=12
    assert got["g2"]["n_base"] == 2 and got["g2"]["n_current"] == 1
    assert got["g2"]["psi"] == 405465.0 / 12.0 / 1000000.0
    assert got["g2"]["drifted"] is False


def test_leakage_safe_split_co_travels_clusters(spark):
    """Docs 1-2-3 form one component (rep 1): all three draw rep 1's
    split (so doc 1 never 'moves'); singleton 4 keeps its own draw."""
    from docker_etl_spark.operators.corpus import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["doc_id"]: r.asDict() for r in leakage_safe_split(docs, pairs).collect()}
    assert [got[i]["rep_id"] for i in (1, 2, 3, 4)] == [1, 1, 1, 4]
    assert got[1]["split"] == got[2]["split"] == got[3]["split"]
    assert got[1]["split"] == got[1]["naive_split"] and not got[1]["moved"]
    assert got[4]["split"] == got[4]["naive_split"] and not got[4]["moved"]
    for i in (2, 3):
        assert got[i]["moved"] == (got[i]["split"] != got[i]["naive_split"])


def test_fuzzy_decontamination_ignores_batch_twins(spark):
    """include_batch_pairs=False: a corpus copy of a BENCHMARK doc is
    flagged (est 1.0) but two identical corpus docs do not flag each
    other — corpus-vs-corpus near-dups are dedup's business."""
    from docker_etl_spark.operators.text_dedup import (
        incremental_minhash_dedup,
        minhash_signature,
        word_shingles,
    )
    import pyspark.sql.functions as F

    bench_text = "the quick brown fox jumps over the lazy dog again today"
    twin_text = "completely different content about spark shuffles and pruning"
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, bench_text), (2, twin_text), (3, twin_text)],
        "doc_id long, text string",
    )
    sigs = bench.select(
        "doc_id", minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig")
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in incremental_minhash_dedup(
            corpus, sigs, include_batch_pairs=False
        ).collect()
    }
    assert got[1]["is_dup"] and got[1]["max_est"] == 1.0
    assert not got[2]["is_dup"] and not got[3]["is_dup"]
    assert got[2]["n_candidates"] == 0 and got[3]["n_candidates"] == 0


def test_corpus_diversity_ratios(spark):
    """Hand-checked census: a templated source (one doc repeated 3x)
    shows ttr 4/12 and trigram diversity 2/6; a <3-word source has
    zero trigrams and a NULL diversity."""
    from docker_etl_spark.operators.text_analysis import corpus_diversity

    rows = [("tmpl", "a b c d")] * 3 + [("rich", "x y z w"), ("tiny", "p q")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r["source"]: r.asDict() for r in corpus_diversity(df).collect()}
    t = got["tmpl"]
    assert (t["n_docs"], t["total_words"], t["distinct_words"]) == (3, 12, 4)
    assert t["type_token_ratio"] == 4.0 / 12.0
    assert (t["total_ngrams"], t["distinct_ngrams"]) == (6, 2)
    assert t["ngram_diversity"] == 2.0 / 6.0
    r = got["rich"]
    assert r["type_token_ratio"] == 1.0 and r["ngram_diversity"] == 1.0
    y = got["tiny"]
    assert (y["total_ngrams"], y["distinct_ngrams"]) == (0, 0)
    assert y["ngram_diversity"] is None and y["type_token_ratio"] == 1.0


def test_cdc_chunks_match_python_and_survive_edits(spark):
    """cdc_chunks equals a Python replica of the anchor rule, and an
    inserted word re-chunks only its own neighborhood — every chunk
    not containing the edit keeps its digest (the CDC property fixed
    windows lack)."""
    import hashlib

    from docker_etl_spark.operators.corpus import cdc_chunks

    def anchor(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 8 == 0

    def py_chunks(words):
        out, cur = [], []
        for w in words:
            cur.append(w)
            if anchor(w):
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    words = [f"tok{i}" for i in range(40)]
    edited = words[:17] + ["inserted"] + words[17:]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(edited))],
        "doc_id long, text string",
    )
    got = cdc_chunks(df).collect()
    by_doc = {1: [], 2: []}
    for r in sorted(got, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc[r["doc_id"]].append(r["chunk"])
        assert r["n_words"] == len(r["chunk"].split(" "))
    assert by_doc[1] == py_chunks(words)
    assert by_doc[2] == py_chunks(edited)
    # stability: at most the edited chunk (possibly split in two)
    # differs; everything else is digest-identical
    a, b = set(by_doc[1]), set(by_doc[2])
    assert len(a - b) <= 1
    assert len(b - a) <= 2


def test_training_order_invariant_to_range_partitions(spark):
    """Positions are a total order over the md5 draw, so the result
    is IDENTICAL whatever the range partition count — the property
    that makes the offsets-based distributed index equal the naive
    global window. Positions are contiguous 1..n_epochs*|df|."""
    from docker_etl_spark.operators.corpus import training_order

    docs = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    a = {
        (r["doc_id"], r["epoch"]): (r["position"], r["batch_id"])
        for r in training_order(docs, n_epochs=2, batch_size=8,
                                range_partitions=7).collect()
    }
    b = {
        (r["doc_id"], r["epoch"]): (r["position"], r["batch_id"])
        for r in training_order(docs, n_epochs=2, batch_size=8,
                                range_partitions=1).collect()
    }
    assert a == b
    positions = sorted(p for p, _ in a.values())
    assert positions == list(range(1, 101))
    for (doc, ep), (pos, bid) in a.items():
        assert bid == (pos - 1) // 8


def test_psi_equidepth_resolves_what_fixed_width_cannot(spark):
    """A shift WITHIN one fixed-width bucket: width-40 PSI sees one
    bucket on both sides (psi ~0, not drifted) while baseline-decile
    edges resolve the move (drifted). Groups absent from the
    baseline get no edges and are not scored."""
    from docker_etl_spark.operators.profiling import (
        psi_drift,
        psi_drift_equidepth,
    )

    rows = (
        [("g", v, 0) for v in range(1, 11)]   # baseline spread 1..10
        + [("g", 10, 1)] * 10                  # current: all at 10
        + [("new_only", 5, 1)] * 3             # no baseline -> unscored
    )
    df = spark.createDataFrame(rows, "src string, v long, snap int")
    eq = {
        r["src"]: r.asDict()
        for r in psi_drift_equidepth(df, "src", "v", "snap", 10).collect()
    }
    fw = {
        r["src"]: r.asDict()
        for r in psi_drift(df, "src", "v", "snap", 40, 10).collect()
    }
    assert eq["g"]["drifted"] is True and eq["g"]["psi"] > 1.0
    assert fw["g"]["drifted"] is False and abs(fw["g"]["psi"]) < 1e-9
    assert "new_only" not in eq       # no baseline edges -> unscored
    assert fw["new_only"]["n_base"] == 0


def test_source_containment_hand_checked(spark):
    """A={'a b c','b c d'}, B={'a b c','b c x'}: one common shingle
    -> containment 0.5 each, jaccard 1/3; disjoint pairs emit no
    row."""
    from docker_etl_spark.operators.text_analysis import (
        source_containment_matrix,
    )

    df = spark.createDataFrame(
        [("A", "a b c d"), ("B", "a b c x"), ("C", "z z z z")],
        "source string, text string",
    )
    rows = source_containment_matrix(df).collect()
    got = {(r["source_a"], r["source_b"]): r.asDict() for r in rows}
    assert set(got) == {("A", "B")}
    ab = got[("A", "B")]
    assert (ab["n_a"], ab["n_b"], ab["n_common"]) == (2, 2, 1)
    assert ab["containment_a"] == 0.5 and ab["containment_b"] == 0.5
    assert ab["jaccard"] == 1.0 / 3.0


def test_containment_join_is_directed_and_lossless(spark):
    """The asymmetric case Jaccard misses: doc 1 fully embedded in
    doc 2 -> (1,2) flagged at containment 1.0, (2,1) not (doc 2 is
    mostly novel); unrelated docs never pair."""
    from docker_etl_spark.operators.text_dedup import (
        containment_join,
        jaccard,
        word_shingles,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " zeta eta theta iota kappa lambda mu nu xi omicron pi"
    other = "totally different words with no overlap at all here friend"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in containment_join(df, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)]["containment"] == 1.0
    assert got[(1, 2)]["n_a"] == 3
    # and the pair's Jaccard is well below 0.8 — x04/x05 would miss it
    j = (
        df.filter(F.col("doc_id") == 1)
        .crossJoin(
            df.filter(F.col("doc_id") == 2).select(
                F.col("text").alias("t2")
            )
        )
        .select(
            jaccard(
                word_shingles("text", 3), word_shingles(F.col("t2"), 3)
            ).alias("j")
        )
        .collect()[0]["j"]
    )
    assert j < 0.3


def test_estimator_precision_eval_hand_case(spark):
    """Identical twins give an est-1.0 flagged TRUE pair; an
    unrelated doc adds no candidates — precision/candidate_recall
    are 1.0 on the clean fixture and the counts are exact."""
    from docker_etl_spark.operators.text_dedup import estimator_precision_eval

    t = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "nothing shared with anything else at all here")],
        "doc_id long, text string",
    )
    r = estimator_precision_eval(df).collect()[0].asDict()
    assert r["n_candidates"] == 1
    assert r["n_est_flagged"] == 1 and r["n_true_flagged"] == 1
    assert r["precision"] == 1.0 and r["candidate_recall"] == 1.0


def test_winnowing_guarantee_finds_embedded_passage(spark):
    """The winnowing guarantee: a shared run of >= window+n-1 = 6
    words ANYWHERE in two documents yields a shared fingerprint —
    here an 8-word passage embedded in different surroundings is
    caught; unrelated docs share nothing."""
    from docker_etl_spark.operators.text_dedup import winnow_match_pairs

    passage = "wise old owl lived in an oak tree"
    df = spark.createDataFrame(
        [
            (1, "once upon a time a " + passage + " near the meadow"),
            (2, "reporters noted that the " + passage + " was gone today"),
            (3, "completely unrelated text about spark physical plans here"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_match_pairs(df, min_shared=1).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(3 not in pair for pair in got)


def test_weighted_sample_topk_without_replacement_and_weight_bias(spark):
    """A-ES semantics: the draw is a fixed-size subset (no row twice),
    deterministic across runs, excludes weight<=0 rows, and a row
    with overwhelming weight is essentially always selected (its
    Exp(w) key concentrates near 0)."""
    from docker_etl_spark.operators.corpus import weighted_sample_topk

    rows = [(i, 1 if i else 10_000_000) for i in range(200)] + [(900, 0), (901, -3)]
    df = spark.createDataFrame(rows, "doc_id long, wgt long")
    got = weighted_sample_topk(df, "wgt", 20).collect()
    ids = [r["doc_id"] for r in got]
    assert len(ids) == 20 and len(set(ids)) == 20
    assert 900 not in ids and 901 not in ids
    assert 0 in ids  # weight 1e7 vs 1 -> key ~0, always drawn
    again = [r["doc_id"] for r in weighted_sample_topk(df, "wgt", 20).collect()]
    assert ids == again


def test_weighted_sample_topk_matches_hand_formula(spark):
    """The quantized key equals the hand-computed
    round(1e6 * -ln((u32+1)/2^32) / w) for every selected row."""
    import hashlib
    import math

    from docker_etl_spark.operators.corpus import weighted_sample_topk

    df = spark.createDataFrame(
        [(i, (i % 5) + 1) for i in range(50)], "doc_id long, wgt long"
    )
    got = weighted_sample_topk(df, "wgt", 50).collect()
    assert len(got) == 50
    for r in got:
        u32 = int(
            hashlib.md5(f"{r['doc_id']}\x1fwrs".encode()).hexdigest()[:8], 16
        )
        expect = round(-math.log((u32 + 1) / 4294967296.0) / r["wgt"] * 1e6)
        assert r["sample_key"] == expect, r


def test_weighted_sample_per_group_exact_k_and_key_parity(spark):
    """Exactly k rows per group (fewer when the group is smaller),
    weight<=0 rows excluded, and the per-group draw's keys equal the
    global sampler's keys row-for-row (shared derivation)."""
    from docker_etl_spark.operators.corpus import (
        weighted_sample_per_group,
        weighted_sample_topk,
    )

    rows = [(i, "g" + str(i % 3), (i % 7) + 1) for i in range(90)] + [
        (500, "g0", 0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, wgt long")
    got = weighted_sample_per_group(df, "dom", "wgt", 5).collect()
    per = {}
    for r in got:
        per.setdefault(r["dom"], []).append(r)
    assert set(per) == {"g0", "g1", "g2"}
    assert all(len(v) == 5 for v in per.values())
    assert all(r["doc_id"] != 500 for r in got)
    keys_global = {
        r["doc_id"]: r["sample_key"]
        for r in weighted_sample_topk(df, "wgt", 90).collect()
    }
    for r in got:
        assert keys_global[r["doc_id"]] == r["sample_key"]
    tiny = spark.createDataFrame(
        [(1, "solo", 2), (2, "solo", 3)], "doc_id long, dom string, wgt long"
    )
    assert weighted_sample_per_group(tiny, "dom", "wgt", 5).count() == 2


def test_weighted_sample_topk_inclusion_tracks_weight(spark):
    """Statistical pin of the A-ES semantics: in a fixed deterministic
    draw of 300 from 1500 rows weighted 1 vs 10 (750 each), the
    weight-10 stratum's expected share is ~83% of the sample even
    though it is 50% of the population (first-inclusion odds 10:1,
    renormalized as the draw progresses). Deterministic: one exact
    expected outcome per seed, asserted with a generous band that a
    uniform sampler (~150) or an inverted one can never hit."""
    from docker_etl_spark.operators.corpus import weighted_sample_topk

    df = spark.createDataFrame(
        [(i, 10 if i < 750 else 1) for i in range(1500)],
        "doc_id long, wgt long",
    )
    got = weighted_sample_topk(df, "wgt", 300).collect()
    heavy = sum(1 for r in got if r["wgt"] == 10)
    assert 200 <= heavy <= 295, heavy


def test_pagerank_exact_hand_cases(spark):
    """Two-node symmetric graph is a fixed point at scale//2 per node
    (hand-derivable: contrib = 5e11, r1 = 15%*5e11 + 85%*5e11); a
    star graph ranks the hub strictly above every leaf, leaves equal."""
    from docker_etl_spark.operators.graph import pagerank_exact

    pair = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r["node"]: r["rank_scaled"] for r in pagerank_exact(pair).collect()}
    assert got == {1: 500000000000, 2: 500000000000}

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    ranks = {
        r["node"]: r["rank_scaled"] for r in pagerank_exact(star).collect()
    }
    hub, leaves = ranks[0], [ranks[i] for i in range(1, 6)]
    assert all(hub > lf for lf in leaves)
    assert len(set(leaves)) == 1


def test_pagerank_rejects_bad_params(spark):
    from docker_etl_spark.operators.graph import pagerank_exact

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank_exact(df, iterations=0)
    with _pytest.raises(ValueError):
        pagerank_exact(df, damping_pct=101)
