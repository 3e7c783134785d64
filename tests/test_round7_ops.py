"""Round-7 operator tests: fused MinHash fold equivalence, streaming
delivery independence from session overwrite mode, store-lease
hardening, PSI clamp, compaction atomicity, MMR id types."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Fused MinHash fold — signatures bit-identical to the unfused shape
# ---------------------------------------------------------------------------


def _unfused_signature(shingles, num_perm, hash_fn):
    """The pre-round-7 reference shape: num_perm separate
    array_min(transform(...)) passes. Kept here as the equivalence
    oracle for the fused aggregate fold."""
    if hash_fn == "md5":
        def h(i):
            return F.array_min(
                F.transform(shingles, lambda s: F.md5(F.concat(s, F.lit(f"p{i}"))))
            )
    else:
        def h(i):
            return F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(s, F.lit(i)))
            )
    return F.array(*[h(i) for i in range(num_perm)])


@pytest.mark.parametrize("hash_fn,num_perm", [("md5", 12), ("xxhash64", 16)])
def test_minhash_fused_fold_matches_unfused(spark, hash_fn, num_perm):
    from docker_etl_spark.operators.text_dedup import (
        minhash_signature,
        word_shingles,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark pruning"),
        (4, "two words"),        # < shingle_n tokens -> empty shingles
        (5, ""),                 # empty text
        (6, None),               # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    sh = df.select("doc_id", word_shingles(F.col("text"), 3).alias("sh"))
    got = sh.select(
        "doc_id", minhash_signature(F.col("sh"), num_perm, hash_fn).alias("sig")
    )
    want = sh.select(
        "doc_id", _unfused_signature(F.col("sh"), num_perm, hash_fn).alias("sig")
    )
    diff = (
        got.alias("a")
        .join(want.alias("b"), "doc_id")
        .where(~F.expr("a.sig <=> b.sig"))
        .count()
    )
    assert diff == 0
    # empty-shingle docs produce the all-NULL signature, same as before
    nulls = got.filter(F.col("doc_id").isin(4, 5, 6)).collect()
    for r in nulls:
        assert r.sig == [None] * num_perm
    # NULL shingles column (not just empty) also yields the all-NULL sig
    null_sh = spark.createDataFrame([(9,)], "doc_id int").select(
        "doc_id", F.lit(None).cast("array<string>").alias("sh")
    )
    r = null_sh.select(
        minhash_signature(F.col("sh"), num_perm, hash_fn).alias("sig")
    ).first()
    assert r.sig == [None] * num_perm


# ---------------------------------------------------------------------------
# Store lease: adapter seam, non-local warning, atomic stale takeover
# ---------------------------------------------------------------------------


class _FakeLease:
    """In-memory LeaseAdapter contract fake (conditional-put model)."""

    def __init__(self):
        self.leases = {}

    def acquire(self, store_path, token):
        from docker_etl_spark.sources.stores import ConcurrentWriteError

        if store_path in self.leases:
            raise ConcurrentWriteError(f"{store_path} leased")
        self.leases[store_path] = token

    def verify(self, store_path, token):
        return self.leases.get(store_path) == token

    def release(self, store_path, token):
        self.leases.pop(store_path, None)


def test_lease_adapter_contract():
    from docker_etl_spark.sources.stores import (
        ConcurrentWriteError,
        store_writer_lock,
    )

    ad = _FakeLease()
    path = "s3://bucket/store"
    with store_writer_lock(path, owner="w1", adapter=ad):
        assert path in ad.leases
        # second writer through the same adapter fails loudly
        with pytest.raises(ConcurrentWriteError):
            with store_writer_lock(path, owner="w2", adapter=ad):
                pass
    assert path not in ad.leases  # released
    # a mid-write break (lease replaced) fails the original writer too
    with pytest.raises(ConcurrentWriteError):
        with store_writer_lock(path, owner="w1", adapter=ad):
            ad.leases[path] = "intruder"
    ad.leases.clear()


def test_lease_nonlocal_without_adapter_warns_once(caplog):
    import logging

    from docker_etl_spark.sources.stores import (
        _WARNED_UNSERIALIZED,
        store_writer_lock,
    )

    path = "s3://bucket/warnstore"
    _WARNED_UNSERIALIZED.discard(path)
    with caplog.at_level(logging.WARNING, logger="docker_etl_spark.sources.stores"):
        with store_writer_lock(path):
            pass
        with store_writer_lock(path):
            pass
    hits = [r for r in caplog.records if "NOT" in r.getMessage() and path in r.getMessage()]
    assert len(hits) == 1  # once per path per process, not per mutation


def test_lease_stale_takeover_is_atomic(tmp_path):
    import time as _time

    from docker_etl_spark.sources.stores import (
        ConcurrentWriteError,
        _lock_path,
        store_writer_lock,
    )

    store = str(tmp_path / "store")
    lock = _lock_path(store)
    # a crashed writer's stale lease
    with open(lock, "w") as f:
        f.write("dead pid=1 t=0")
    old = _time.time() - 3600
    import os as _os

    _os.utime(lock, (old, old))
    # breaker takes over and holds a fresh lease; a second (non-stale-
    # breaking) writer arriving during the hold fails loudly
    with store_writer_lock(store, owner="breaker", stale_after_sec=60):
        with pytest.raises(ConcurrentWriteError):
            with store_writer_lock(store, owner="late"):
                pass
    assert not _os.path.exists(lock)
    # losing-breaker path: the stale lock vanished between the read and
    # the rename (the other breaker claimed it) and the winner already
    # holds a fresh lock -> this breaker must raise, never yield
    with open(lock, "w") as f:
        f.write("fresh-winner pid=2 t=now")
    orig_rename = _os.rename

    def _claimed(src, dst, **kw):
        raise FileNotFoundError(src)

    _os.rename = _claimed
    try:
        # lock looks stale (old mtime) but the rename claim fails AND a
        # "winner" lock exists -> ConcurrentWriteError from O_EXCL
        _os.utime(lock, (old, old))
        with pytest.raises(ConcurrentWriteError):
            with store_writer_lock(store, owner="loser", stale_after_sec=60):
                pass
    finally:
        _os.rename = orig_rename
        _os.unlink(lock)


# ---------------------------------------------------------------------------
# Sketches: CMS merge algebra + quantile-rollup accuracy
# ---------------------------------------------------------------------------


def test_cms_sketches_merge_by_cell_sum(spark):
    """Two sketches over disjoint halves, summed per (row, bucket),
    must equal the sketch over the union — the mergeability that
    makes CMS per-day state at 100 TB."""
    from docker_etl_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    rows = [(i, f"k{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "i long, k string")
    a = count_min_sketch(df.filter("i % 2 = 0"), "k", depth=3, width=64)
    b = count_min_sketch(df.filter("i % 2 = 1"), "k", depth=3, width=64)
    merged = (
        a.unionByName(b)
        .groupBy("__row", "__bucket")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    full = count_min_sketch(df, "k", depth=3, width=64)
    assert (
        merged.exceptAll(full).count() == 0
        and full.exceptAll(merged).count() == 0
    )
    # and the estimate over the merged sketch upper-bounds exact counts
    probes = df.groupBy("k").agg(F.count("*").cast("long").alias("exact_n"))
    est = cms_estimate(merged, probes, "k", depth=3, width=64)
    bad = est.filter(F.col("cms_count") < F.col("exact_n")).count()
    assert bad == 0


def test_quantile_rollup_within_bucket_width(spark):
    """The p-lo estimate must sit at most bucket_width below the true
    p-th smallest value (floor-quantized exact quantile), and the
    daily state must merge to the same estimates as a direct pass."""
    import math
    import random

    from docker_etl_spark.operators.sketches import quantile_rollup

    rng = random.Random(7)
    rows = [
        (d % 5, "m", float(rng.randint(0, 9999))) for d in range(400)
    ]
    df = spark.createDataFrame(rows, "day int, month string, v double")
    daily, est = quantile_rollup(
        df, "day", "month", "v", bucket_width=100, percentiles=(50, 95, 99)
    )
    got = est.first()
    vals = sorted(r.v for r in df.select("v").collect())
    for p in (50, 95, 99):
        true = vals[math.ceil(p * len(vals) / 100) - 1]
        lo = got[f"p{p}_lo"]
        assert lo <= true < lo + 100 + 1e-9, (p, lo, true)
    # merge path: re-aggregate the daily state by hand -> same estimate
    # (the operator's rollup IS that aggregation; pin daily's schema)
    assert set(daily.columns) == {"day", "month", "__bkt", "n"}
    assert daily.agg(F.sum("n")).first()[0] == 400


# ---------------------------------------------------------------------------
# Product quantization: duplicates share codes; ADC finds planted twins
# ---------------------------------------------------------------------------


def test_pq_encode_adc_finds_planted_twin(spark):
    from docker_etl_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    import random

    rng = random.Random(3)
    base = [rng.uniform(-1, 1) for _ in range(8)]
    far = [rng.uniform(5, 6) for _ in range(8)]
    rows = [
        (0, base),
        (1, list(base)),                      # exact twin of 0
        (2, far),
        (3, [x + 4.0 for x in far]),
        (4, [x - 3.0 for x in base]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, dv array<double>")
    books = pq_train(df, "dv", "vec_id", dim=8, m=2, k=2, iterations=1)
    assert len(books) == 2 and len(books[0]) == 2 and len(books[0][0]) == 4
    codes = pq_encode(df, "dv", "vec_id", books)
    got = {r.vec_id: list(r.pq_code) for r in codes.collect()}
    assert got[0] == got[1]  # identical vectors -> identical codes
    out = pq_adc_topk(
        df.filter("vec_id = 0"), codes, books,
        vec_col="dv", query_id_col="vec_id", code_id_col="vec_id", topk=1,
    ).collect()
    assert len(out) == 1 and out[0].neighbor_id == 1  # the twin wins rank 1
    # query-bound guard
    with pytest.raises(ValueError):
        pq_adc_topk(
            df, codes, books, vec_col="dv", query_id_col="vec_id",
            code_id_col="vec_id", topk=1, max_queries=2,
        )


def test_fuzzy_entity_match_lossless_band(spark):
    """The length band must be COMPLETE for edit distance: pairs with
    |Δlen| <= max_distance always share an emitted bucket, including
    across a bucket boundary; unrelated names don't match."""
    from docker_etl_spark.operators.joins import fuzzy_entity_match

    rows = [
        (1, "acme corp"),     # len 9 (bucket 3 at width 3)
        (2, "acme corps"),    # len 10 (bucket 3) — ed 1
        (3, "acme cor"),      # len 8 (bucket 2, boundary case) — ed 1 to #1
        (4, "zzzzzz tools"),
    ]
    df = spark.createDataFrame(rows, "eid long, name string")
    out = fuzzy_entity_match(df, "eid", "name", max_distance=2)
    got = {(r.id_a, r.id_b): r.distance for r in out.collect()}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(2, 3)] == 2
    assert all(4 not in pair for pair in got)


def test_poisson_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    """The rank CI must bracket the exact mean on a well-behaved
    sample, and the whole construction must be partitioning-
    independent (pure integer draws keyed on ids)."""
    import random

    from docker_etl_spark.operators.aggregates import (
        poisson_bootstrap_mean_ci,
    )

    rng = random.Random(13)
    rows = [("g", i, rng.randint(50, 150)) for i in range(500)]
    df = spark.createDataFrame(rows, "grp string, id long, v long")
    out = poisson_bootstrap_mean_ci(df, ["grp"], "v", "id").first()
    assert out.n_rows == 500
    assert out.ci_lo <= out.mean <= out.ci_hi
    assert out.ci_hi - out.ci_lo < 20  # tight for n=500, sd~29
    out2 = poisson_bootstrap_mean_ci(
        df.repartition(17), ["grp"], "v", "id"
    ).first()
    assert (out.ci_lo, out.ci_hi) == (out2.ci_lo, out2.ci_hi)


def test_pack_shards_balances_and_is_partition_invariant(spark):
    """Serpentine LPT packing: per-shard totals spread by at most the
    max single weight on this input; assignment identical across
    range_partitions settings (the x67 invariance property); every
    doc lands in exactly one shard."""
    import random

    from docker_etl_spark.operators.corpus import pack_shards

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 500)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_shards(df, "n_tokens", n_shards=4, id_col="doc_id")
    per = {
        r.shard: r.t
        for r in out.groupBy("shard").agg(F.sum("weight").alias("t")).collect()
    }
    assert set(per) == {0, 1, 2, 3}
    assert out.count() == 400 and out.select("doc_id").distinct().count() == 400
    spread = max(per.values()) - min(per.values())
    assert spread <= 500, per  # bounded by the max single weight
    a = pack_shards(df, "n_tokens", 4, "doc_id", range_partitions=3)
    b = pack_shards(df, "n_tokens", 4, "doc_id", range_partitions=17)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_ivfpq_finds_twin_in_cell_and_prunes_cross_cell(spark):
    """Residual IVF-PQ, nprobe=1: a planted twin in the query's cell
    wins rank 1; vectors in OTHER cells never appear as candidates
    (the cell pruning that makes the scan cheap — and the recall
    trade nprobe controls)."""
    from docker_etl_spark.operators.similarity import ivfpq_build, ivfpq_topk

    import random

    rng = random.Random(5)
    a = [rng.uniform(0, 1) for _ in range(8)]
    b = [rng.uniform(90, 91) for _ in range(8)]  # far cluster
    rows = [
        (0, a),
        (1, list(a)),                 # twin of 0, same cell
        (2, [x + 0.4 for x in a]),    # same neighborhood
        (3, b),
        (4, [x + 0.2 for x in b]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, dv array<double>")
    index, coarse, books = ivfpq_build(
        df, "dv", "vec_id", dim=8, n_cells=2, coarse_iterations=2,
        m=2, k=2, pq_iterations=1,
    )
    out = ivfpq_topk(
        df.filter("vec_id = 0"), index, coarse, books,
        vec_col="dv", query_id_col="vec_id", topk=4,
    ).collect()
    got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert got[0] == 1                      # twin wins
    assert set(got) <= {1, 2, 3, 4}
    assert 3 not in got and 4 not in got    # other cell pruned away
    # nprobe = n_cells recovers the pruned candidates (flat-scan limit)
    out2 = ivfpq_topk(
        df.filter("vec_id = 0"), index, coarse, books,
        vec_col="dv", query_id_col="vec_id", topk=4, nprobe=2,
    ).collect()
    got2 = [r.neighbor_id for r in sorted(out2, key=lambda r: r.rank)]
    assert got2[0] == 1 and {3, 4} <= set(got2)


def test_cms_stream_matches_batch(spark, tmp_path):
    """The streaming CMS store (per-batch deltas, merged at read)
    must equal the one-shot batch sketch over the full corpus, and
    batch redelivery must not double-count (idempotent __batch_id
    partition overwrite)."""
    from docker_etl_spark.operators.sketches import (
        count_min_sketch,
        load_cms_store,
    )
    from docker_etl_spark.streaming import cms_sketch_stream

    rows = [(i, f"k{i % 11}") for i in range(300)]
    df = spark.createDataFrame(rows, "i long, k string")
    store = str(tmp_path / "cms_store")
    sink = cms_sketch_stream(store, "k", depth=3, width=64)
    b0, b1 = df.filter("i < 150"), df.filter("i >= 150")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # redelivery: replaces its own partition, no double count
    merged = load_cms_store(spark, store)
    full = count_min_sketch(df, "k", depth=3, width=64)
    assert (
        merged.exceptAll(full).count() == 0
        and full.exceptAll(merged).count() == 0
    )
    # time travel: as-of batch 0 reproduces the sketch as it stood
    # then, via partition pruning (plan-checked for the prune)
    asof = load_cms_store(spark, store, as_of_batch=0)
    b0_only = count_min_sketch(b0, "k", depth=3, width=64)
    assert (
        asof.exceptAll(b0_only).count() == 0
        and b0_only.exceptAll(asof).count() == 0
    )
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert "__batch_id" in plan  # the filter reaches the partitioned scan


def test_theil_sen_ignores_outliers(spark):
    """On y = 3x + noise-free data with two wild outliers, the
    Theil-Sen slope stays exactly 3.0 (the median of pairwise slopes
    is untouched by a minority of corrupted points); least squares
    would not."""
    from docker_etl_spark.operators.profiling import theil_sen_trend

    rows = [(i, 3 * i) for i in range(1, 31)]
    rows[4] = (5, 100000)   # wild outliers
    rows[20] = (21, -5000)
    df = spark.createDataFrame(rows, "t int, y int")
    out = theil_sen_trend(df, "t", "y").first()
    assert out.slope_per_period == 3.0
    assert out.n_pairs == 30 * 29 // 2


def test_mad_outliers_robust_to_the_spike_itself(spark):
    """A single huge spike must be flagged, and must NOT drag the
    median/MAD enough to unflag itself (the failure mode of
    mean/stddev z-scores); a flat series flags nothing new."""
    from docker_etl_spark.operators.profiling import mad_outliers

    rows = [(i, 100 + (i % 5)) for i in range(30)] + [(30, 5000)]
    df = spark.createDataFrame(rows, "t int, x int")
    out = {r.t: r for r in mad_outliers(df, "t", "x").collect()}
    assert out[30].outlier and out[30].median <= 104
    normal_flags = [t for t in range(30) if out[t].outlier]
    assert normal_flags == []  # the spike never poisons the estimator
    # rank-median check vs a Python model
    import statistics
    vals = sorted(x for _, x in rows)
    k = -(-len(vals) // 2)
    assert out[0].median == vals[k - 1]


def test_cusum_matches_textbook_recurrence(spark):
    """The windowed closed form S_t = P_t - min(0, min P_j) must equal
    the textbook recurrence S_t = max(0, S_{t-1} + d_t) row for row,
    and the alarm fires after a planted level shift."""
    from docker_etl_spark.operators.profiling import cusum_alarm

    rows = [(i, 10 if i < 20 else 14) for i in range(30)]
    df = spark.createDataFrame(rows, "t int, x int")
    out = cusum_alarm(df, "t", "x", threshold_scaled=200).orderBy("t").collect()
    n, tot = 30, sum(x for _, x in rows)
    s, model = 0, []
    for _t, x in rows:
        s = max(0, s + (n * x - tot))
        model.append(s)
    assert [r.cusum_scaled for r in out] == model
    assert not out[19].alarm and out[22].alarm  # fires after the shift


def test_quantile_rollup_stream_matches_batch(spark, tmp_path):
    """The streaming histogram store (per-batch deltas, merged at
    read) must equal the one-shot quantile_rollup daily state —
    including under batch redelivery."""
    from docker_etl_spark.operators.sketches import (
        load_histogram_store,
        quantile_rollup,
    )
    from docker_etl_spark.streaming import quantile_rollup_stream

    rows = [(i % 7, "m", float((i * 37) % 1000)) for i in range(300)]
    df = spark.createDataFrame(rows, "day int, month string, v double")
    store = str(tmp_path / "hist_store")
    sink = quantile_rollup_stream(store, "day", "month", "v", bucket_width=100)
    b0, b1 = df.filter("day < 4"), df.filter("day >= 4")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # redelivery replaces its own partition
    merged = load_histogram_store(spark, store, ["day", "month"])
    daily, _ = quantile_rollup(df, "day", "month", "v", bucket_width=100)
    assert (
        merged.exceptAll(daily).count() == 0
        and daily.exceptAll(merged).count() == 0
    )


# ---------------------------------------------------------------------------
# Multimodal census: planted payloads pin every decoder/format label
# ---------------------------------------------------------------------------


def test_media_census_planted_payload_labels(spark):
    """One planted payload per label class, so per-corpus stub rates
    stay visible: detect_media_format covers png/jpeg/gif/unknown,
    and the decode dispatch covers png-stdlib / jpeg-stdlib / stub
    (PIL is absent in this environment — the pil arm is env-gated)."""
    import numpy as np

    from docker_etl_spark.operators._jpeg import encode_jpeg
    from docker_etl_spark.operators._png import encode_png
    from docker_etl_spark.operators.multimodal import (
        HAVE_PIL,
        decode_image_features,
        detect_media_format,
    )

    png = encode_png(np.full((4, 5, 3), 128, dtype=np.uint8))
    jpg = encode_jpeg(np.full((8, 8, 3), 200, dtype=np.uint8), quality=95)
    gif = b"GIF89a" + b"\x00" * 32          # valid signature, stub decode
    blob = b"opaque sensor dump"            # unknown format, stub decode
    rows = [(1, png), (2, jpg), (3, gif), (4, blob)]
    df = spark.createDataFrame(rows, "media_id long, content binary").withColumn(
        "meta",
        F.struct(
            F.lit("image").alias("kind"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(1).alias("n_frames"),
            F.lit(0).alias("sample_rate"),
        ),
    )
    fmt = {
        r.media_id: r.fmt
        for r in df.select(
            "media_id", detect_media_format("content").alias("fmt")
        ).collect()
    }
    assert fmt == {1: "png", 2: "jpeg", 3: "gif", 4: "unknown"}

    assert not HAVE_PIL  # env premise: the pil arm stays unexercised here
    dec = {
        r.media_id: r.decoder for r in decode_image_features(df).collect()
    }
    assert dec == {1: "png-stdlib", 2: "jpeg-stdlib", 3: "stub", 4: "stub"}
    # the flat planted images have known luminance through the real codecs
    lum = {
        r.media_id: r.mean_luma for r in decode_image_features(df).collect()
    }
    assert abs(lum[1] - 128.0) < 1.0
    assert abs(lum[2] - 200.0) < 3.0


def _make_wav(freq_hz=440, sr=8000, seconds=0.5, amp=10000):
    import io
    import math
    import struct
    import wave

    n = int(sr * seconds)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(
            b"".join(
                struct.pack(
                    "<h", int(amp * math.sin(2 * math.pi * freq_hz * i / sr))
                )
                for i in range(n)
            )
        )
    return buf.getvalue()


def test_audio_decode_wav_stdlib_and_stub(spark):
    """Planted PCM WAV decodes for real (duration/sample-rate exact,
    RMS ~ amp/sqrt(2) for a sine); opaque payloads fall to the
    labelled stub; the format census labels wav byte-for-byte."""
    from docker_etl_spark.operators.multimodal import (
        decode_audio_features,
        detect_media_format,
    )

    wav = _make_wav()
    rows = [(1, wav), (2, b"RIFFxxxxJUNK" + b"\x00" * 8), (3, b"opaque")]
    df = spark.createDataFrame(rows, "media_id long, content binary").withColumn(
        "meta",
        F.struct(
            F.lit("audio").alias("kind"),
            F.lit(0).alias("width"),
            F.lit(0).alias("height"),
            F.lit(0).alias("n_frames"),
            F.lit(8000).alias("sample_rate"),
        ),
    )
    fmt = {
        r.media_id: r.fmt
        for r in df.select(
            "media_id", detect_media_format("content").alias("fmt")
        ).collect()
    }
    assert fmt == {1: "wav", 2: "unknown", 3: "unknown"}
    got = {r.media_id: r for r in decode_audio_features(df).collect()}
    assert got[1].decoder == "wav-stdlib"
    assert abs(got[1].duration_sec - 0.5) < 1e-9
    assert got[1].sample_rate_hz == 8000
    assert abs(got[1].rms - 10000 / 2**0.5) < 60  # sine RMS = amp/sqrt(2)
    assert got[2].decoder == "stub" and got[3].decoder == "stub"


# ---------------------------------------------------------------------------
# PSI: negative values clamp into bucket 0 (not silently dropped)
# ---------------------------------------------------------------------------


def test_psi_counts_negative_values(spark):
    from docker_etl_spark.operators.profiling import psi_drift, value_histogram

    rows = [("g", -50, 0), ("g", -1, 0), ("g", 5, 0), ("g", 5, 1), ("g", 995, 1)]
    df = spark.createDataFrame(rows, "grp string, v int, snap int")
    out = psi_drift(df, "grp", "v", "snap", bucket_width=10, n_buckets=10).first()
    # all 5 rows counted: 3 baseline (two negatives -> bucket 0), 2 current
    assert out.n_base == 3 and out.n_current == 2
    vh = value_histogram(df, "grp", "v", 10, 10)
    got = {r["__bkt"]: r["__n"] for r in vh.collect()}
    assert got[0] == 3 + 1  # two negatives + one v=5 baseline + one v=5 current
    assert got[9] == 1  # 995 clamps to the top bucket


# ---------------------------------------------------------------------------
# Compaction: crash recovery at entry
# ---------------------------------------------------------------------------


def _mk_store(spark, path):
    spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "v int, band int"
    ).write.partitionBy("band").parquet(path)


def test_compaction_rolls_forward_after_crash(spark, tmp_path):
    import os
    import shutil

    from docker_etl_spark.sources.stores import compact_partitioned_store

    live = str(tmp_path / "store")
    _mk_store(spark, live)
    # simulate: previous compaction crashed between the two renames —
    # live renamed to .bak, fully-written compacted copy left at tmp
    tmp = live + ".__compact"
    bak = live + ".__bak"
    shutil.copytree(live, tmp)
    os.rename(live, bak)
    out = compact_partitioned_store(spark, live, ("band",), "v int, band int")
    assert os.path.exists(live) and not os.path.exists(bak)
    assert out["rows"] == 30


def test_compaction_restores_backup_after_crash(spark, tmp_path):
    import os
    import shutil

    from docker_etl_spark.sources.stores import compact_partitioned_store

    live = str(tmp_path / "store")
    _mk_store(spark, live)
    # simulate: crash with an INCOMPLETE compacted copy (no _SUCCESS)
    tmp = live + ".__compact"
    bak = live + ".__bak"
    shutil.copytree(live, tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    os.rename(live, bak)
    out = compact_partitioned_store(spark, live, ("band",), "v int, band int")
    assert os.path.exists(live) and not os.path.exists(bak)
    assert out["rows"] == 30


# ---------------------------------------------------------------------------
# Directed PageRank: exact-integer model equivalence + dangling mass
# ---------------------------------------------------------------------------


def _pagerank_model(edges, iters, damp=85, scale=10**12, directed=True):
    """Pure-Python replay of pagerank_exact's documented integer
    recipe (floor divisions, dropped remainders, uniform dangling
    redistribution of D div n)."""
    E = set()
    for u, v in edges:
        if u != v:
            E.add((u, v))
            if not directed:
                E.add((v, u))
    nodes = sorted({u for u, _ in E} | {v for _, v in E})
    n = len(nodes)
    out = {}
    for u, _v in E:
        out[u] = out.get(u, 0) + 1
    r = {u: scale // n for u in nodes}
    for _ in range(iters):
        s = dict.fromkeys(nodes, 0)
        for u, v in E:
            s[v] += r[u] // out[u]
        share = (
            sum(r[u] for u in nodes if u not in out) // n if directed else 0
        )
        r = {
            u: ((100 - damp) * (scale // n)) // 100
            + (damp * (s[u] + share)) // 100
            for u in nodes
        }
    return r


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (2, 3)],                          # chain; 3 is dangling
        [(1, 2), (2, 1), (1, 3)],                  # cycle + dangling sink
        [(1, 2), (1, 3), (2, 3), (4, 1)],          # DAG, two sinks' worth
    ],
)
def test_pagerank_directed_matches_model(spark, edges):
    from docker_etl_spark.operators.graph import pagerank_exact

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_scaled
        for r in pagerank_exact(df, iterations=3, directed=True).collect()
    }
    want = _pagerank_model(edges, iters=3, directed=True)
    assert got == want
    # dangling mass is redistributed, not lost: totals stay within n
    # dropped remainders per round of the teleport+damp floor identity
    assert sum(got.values()) > 0


def test_pagerank_undirected_matches_model(spark):
    from docker_etl_spark.operators.graph import pagerank_exact

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank_scaled
        for r in pagerank_exact(df, iterations=3, directed=False).collect()
    }
    want = _pagerank_model(edges, iters=3, directed=False)
    assert got == want


def test_pagerank_directed_dangling_gets_rank(spark):
    """In a→b→c the sink c must accumulate the most rank (it receives
    b's whole contribution), and the dangling pool must flow back:
    with NO redistribution a would keep only teleport mass."""
    from docker_etl_spark.operators.graph import pagerank_exact

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {
        r.node: r.rank_scaled
        for r in pagerank_exact(df, iterations=5, directed=True).collect()
    }
    assert got[3] > got[2] > 0
    # a (node 1) receives ONLY teleport + dangling share; both present
    scale, n = 10**12, 3
    teleport = (15 * (scale // n)) // 100
    assert got[1] > teleport  # strictly more than teleport -> dangling share arrived


# ---------------------------------------------------------------------------
# mmr_rerank: id type follows the pool schema (string ids work)
# ---------------------------------------------------------------------------


def test_mmr_rerank_string_ids(spark):
    from docker_etl_spark.operators.similarity import mmr_rerank

    rows = [
        ("alpha", 0.9, [1.0, 0.0]),
        ("beta", 0.85, [1.0, 0.01]),   # near-dup of alpha
        ("gamma", 0.5, [0.0, 1.0]),    # orthogonal
    ]
    pool = spark.createDataFrame(rows, "cand_id string, rel double, vec array<double>")
    out = mmr_rerank(pool, select_k=2, lambda_=0.5).collect()
    got = [r.cand_id for r in sorted(out, key=lambda r: r.mmr_rank)]
    # rank 1 = highest rel; rank 2 = diverse gamma, not near-dup beta
    assert got == ["alpha", "gamma"]
    # and bigint pools still work identically
    rows_i = [(1, 0.9, [1.0, 0.0]), (2, 0.85, [1.0, 0.01]), (3, 0.5, [0.0, 1.0])]
    pool_i = spark.createDataFrame(rows_i, "cand_id long, rel double, vec array<double>")
    out_i = mmr_rerank(pool_i, select_k=2, lambda_=0.5).collect()
    assert [r.cand_id for r in sorted(out_i, key=lambda r: r.mmr_rank)] == [1, 3]


# ---------------------------------------------------------------------------
# Streaming delivery must not depend on session partitionOverwriteMode
# ---------------------------------------------------------------------------


def test_minhash_stream_survives_static_overwrite_mode(spark, tmp_path):
    """The per-batch survivors write sets partitionOverwriteMode=dynamic
    ON THE WRITER. Under a session pinned to Spark's default STATIC
    mode, batch N's write must still replace only out/__batch_id=N —
    not wipe every earlier batch's partition (the silent-loss failure
    ADVICE r6 flagged)."""
    from docker_etl_spark.streaming import minhash_dedup_stream

    schema = "doc_id bigint, text string"
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], schema
    )
    b1 = spark.createDataFrame(
        [(2, "completely different content about spark shuffle pruning")], schema
    )
    out = str(tmp_path / "out")
    store = str(tmp_path / "store")
    sink = minhash_dedup_stream(store, out)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        sink(b0, 0)
        sink(b1, 1)
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 2]  # batch 0's partition survived batch 1's write
        # and redelivery of batch 1 still replaces (not duplicates) it
        sink(b1, 1)
        got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
        assert got == [1, 2]
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
