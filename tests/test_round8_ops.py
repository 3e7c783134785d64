"""Round-8 operator tests: ADVICE hardening (MAD strict threshold,
ivfpq id-column ambiguity, CMS probe-column collisions), sample-
trained ANN quantizers, and the persistable IVF-PQ store."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE fixes
# ---------------------------------------------------------------------------


def test_mad_zero_never_flags_the_median_itself(spark):
    """MAD = 0 (majority-identical series): rows equal to the median
    must NOT flag (strict >); deviating rows still do."""
    from docker_etl_spark.operators.profiling import mad_outliers

    rows = [(i, 100) for i in range(20)] + [(20, 101), (21, 400)]
    df = spark.createDataFrame(rows, "t int, x int")
    out = {r.t: r for r in mad_outliers(df, "t", "x").collect()}
    assert out[0].mad == 0
    assert not any(out[t].outlier for t in range(20))  # value == median
    assert out[20].outlier and out[21].outlier  # any deviation flags


def test_ivfpq_topk_rejects_ambiguous_index_columns(spark):
    from docker_etl_spark.operators.similarity import ivfpq_build, ivfpq_topk

    em = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(8)],
        "vec_id long, dv array<double>",
    )
    index, cents, books = ivfpq_build(
        em, "dv", "vec_id", dim=2, n_cells=2, m=1, k=2
    )
    poisoned = index.withColumn("extra_attr", F.lit("x"))
    with pytest.raises(ValueError, match="exactly one id column"):
        ivfpq_topk(
            em.limit(1), poisoned, cents, books, vec_col="dv",
            query_id_col="vec_id", topk=1,
        )


# ---------------------------------------------------------------------------
# Sample-trained quantizers (max_training_points)
# ---------------------------------------------------------------------------


def _toy_vectors(spark, n=200, dim=8):
    rows = [
        (i, [float((i * 7 + d * 13) % 23) / 3.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, dv array<double>")


def test_kmeans_training_sample_is_the_md5_topn_draw(spark):
    """max_training_points trains on exactly the n smallest
    md5(id || ':seed') digests: centroids must equal an unsampled
    fit over that id set filtered out by hand."""
    import hashlib

    from docker_etl_spark.operators.similarity import (
        kmeans_assign_quantized,
    )

    df = _toy_vectors(spark)
    ids = list(range(200))
    drawn = sorted(
        ids, key=lambda i: (hashlib.md5(f"{i}:kmtrain".encode()).hexdigest(), i)
    )[:32]
    _, cents_sampled = kmeans_assign_quantized(
        df, "dv", "vec_id", k=3, iterations=2, max_training_points=32
    )
    sub = df.filter(F.col("vec_id").isin(drawn))
    _, cents_manual = kmeans_assign_quantized(
        sub, "dv", "vec_id", k=3, iterations=2
    )
    assert cents_sampled == cents_manual


def test_kmeans_sampled_mode_labels_the_full_input(spark):
    """The sample bounds TRAINING only: the returned frame labels
    every input row, against the FINAL centroids."""
    from docker_etl_spark.operators.similarity import (
        _pq_argmin,
        kmeans_assign_quantized,
    )

    df = _toy_vectors(spark)
    assigned, cents = kmeans_assign_quantized(
        df, "dv", "vec_id", k=3, iterations=2, max_training_points=32
    )
    rows = assigned.collect()
    assert len(rows) == 200
    # spot-check: labels are the argmin against the final centroids
    relabeled = (
        assigned.withColumn("__re", _pq_argmin(F.col("__vq"), cents))
        .filter(F.col("__cluster") != F.col("__re"))
        .count()
    )
    assert relabeled == 0


def test_pq_train_sample_shares_one_id_set_across_subspaces(spark):
    """Oversampling (n >= N) must degrade to the unsampled
    codebooks (same init, same rounds, every row in the sample)."""
    from docker_etl_spark.operators.similarity import pq_train

    df = _toy_vectors(spark, n=60)
    full = pq_train(df, "dv", "vec_id", dim=8, m=2, k=4, iterations=1)
    oversampled = pq_train(
        df, "dv", "vec_id", dim=8, m=2, k=4, iterations=1,
        max_training_points=10_000,
    )
    assert full == oversampled


def test_search_index_stream_matches_one_shot_build(spark, tmp_path):
    """Streaming ingest of a document stream must yield the same
    search results as one full-corpus build, incl. after redelivery."""
    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.streaming import search_index_stream

    rows = [
        (i, ["hash join window", "vector probe scan", "join join hash",
             "plain filler words"][i % 4] + f" extra{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # one-shot reference index
    ref = str(tmp_path / "ref")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, ref)
    expect = sorted(
        map(tuple, search_bm25_topk(spark, ref, ("hash", "join"), k=10).collect())
    )
    # streamed twin: 3 micro-batches, one redelivered
    store = str(tmp_path / "stream")
    sink = search_index_stream(store, "text", "doc_id")
    b = [df.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(b[0], 0)
    sink(b[1], 1)
    sink(b[2], 2)
    sink(b[1], 1)  # redelivery
    got = sorted(
        map(tuple, search_bm25_topk(spark, store, ("hash", "join"), k=10).collect())
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Persisted inverted-index search
# ---------------------------------------------------------------------------


def test_search_index_prunes_prefix_partitions_and_is_idempotent(
    spark, tmp_path
):
    """A probe must push a static IN on the term-prefix partition
    column; append redelivery must not change results; as-of reads
    reproduce the pre-append ranking."""
    import contextlib
    import io

    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    rows = [
        (1, "hash join window hash"),
        (2, "vector hash index probe"),
        (3, "window join join window scan"),
        (4, "totally unrelated words here"),
        (5, "hash hash hash vector"),
        (6, "join vector window vector"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    p0, s0 = build_postings(df.filter(F.col("doc_id") <= 3), "text", "doc_id")
    write_search_index(p0, s0, path, batch_id=0)
    pre = sorted(
        map(
            tuple,
            search_bm25_topk(
                spark, path, ("hash", "join"), k=10
            ).collect(),
        )
    )
    append_search_index(
        df.filter(F.col("doc_id") > 3), path, batch_id=1,
        text_col="text", id_col="doc_id",
    )
    out = search_bm25_topk(spark, path, ("hash", "join"), k=10)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    pf = [l for l in buf.getvalue().splitlines() if "PartitionFilters" in l]
    assert any("__pfx" in l and " IN " in l for l in pf), pf
    full = sorted(map(tuple, out.collect()))
    # doc 4 has no query terms -> absent; all others scored
    ids = {t[0] for t in full}
    assert ids == {1, 2, 3, 5, 6}
    # redelivery of batch 1 changes nothing
    append_search_index(
        df.filter(F.col("doc_id") > 3), path, batch_id=1,
        text_col="text", id_col="doc_id",
    )
    assert sorted(
        map(tuple, search_bm25_topk(spark, path, ("hash", "join"), k=10).collect())
    ) == full
    # as-of batch 0 reproduces the pre-append ranking exactly
    asof = sorted(
        map(
            tuple,
            search_bm25_topk(
                spark, open_store(spark, path, as_of_batch=0),
                ("hash", "join"), k=10,
            ).collect(),
        )
    )
    assert asof == pre
    # the top-k is a TakeOrderedAndProject (map-side partial top-k),
    # never a global row_number window over every matched document
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        search_bm25_topk(spark, path, ("hash", "join"), k=10).explain(
            "formatted"
        )
    assert "TakeOrderedAndProject" in buf2.getvalue()


def test_compact_ivfpq_store_folds_deltas_and_preserves_reads(
    spark, tmp_path
):
    """Folding deltas <= horizon into the base must leave the merged
    index and any as-of read at/above the horizon byte-identical,
    while shrinking the (cell, batch) directory count."""
    import glob

    from docker_etl_spark.operators.similarity import (
        compact_ivfpq_store,
        ivfpq_append,
        ivfpq_build,
        load_ivfpq_store,
        write_ivfpq_store,
    )
    from docker_etl_spark.sources.stores import open_store

    df = _toy_vectors(spark, n=150, dim=8)
    base = df.filter(F.col("vec_id") < 50)
    index, coarse, books = ivfpq_build(
        base, "dv", "vec_id", dim=8, n_cells=2, m=2, k=3,
        max_training_points=40,
    )
    store = str(tmp_path / "store")
    write_ivfpq_store(index, coarse, books, store, batch_id=0, id_col="vec_id")
    ivfpq_append(
        df.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100)),
        store, "dv", "vec_id", batch_id=1,
    )
    ivfpq_append(
        df.filter(F.col("vec_id") >= 100), store, "dv", "vec_id", batch_id=2,
    )
    before_full = sorted(
        map(tuple, load_ivfpq_store(spark, store)[0].collect())
    )
    before_asof1 = sorted(map(tuple, load_ivfpq_store(
        spark, open_store(spark, store, as_of_batch=1)
    )[0].collect()))
    dirs_before = len(glob.glob(store + "/codes/__cell=*/__batch_id=*"))
    stats = compact_ivfpq_store(spark, store, up_to_batch=1)
    dirs_after = len(glob.glob(store + "/codes/__cell=*/__batch_id=*"))
    assert dirs_after < dirs_before  # batches -1/0/1 folded per cell
    assert stats["rows"] == 150
    after_full = sorted(
        map(tuple, load_ivfpq_store(spark, store)[0].collect())
    )
    after_asof1 = sorted(map(tuple, load_ivfpq_store(
        spark, open_store(spark, store, as_of_batch=1)
    )[0].collect()))
    assert after_full == before_full
    assert after_asof1 == before_asof1
    # appends keep working after the swap
    assert load_ivfpq_store(spark, store)[1] == coarse


def test_seasonal_mad_flags_the_anomaly_not_the_rhythm(spark):
    """A strong weekly rhythm + one genuine anomaly: the plain MAD
    monitor flags every peak day (the rhythm IS deviation to it);
    the seasonal monitor flags exactly the anomaly."""
    import datetime as dt

    from docker_etl_spark.operators.profiling import (
        mad_outliers,
        seasonal_mad_outliers,
    )

    origin = dt.date(1995, 1, 2)  # a Monday; day index 1 in the mod-7 key
    rows = []
    for i in range(56):  # 8 weeks
        day = origin + dt.timedelta(days=i)
        val = 1000 if i % 7 == 0 else 100  # Mondays spike by design
        if i == 21:  # one genuine anomaly on a Monday
            val = 5000
        rows.append((day, val))
    df = spark.createDataFrame(rows, "day date, n int")
    seasonal = {
        r["day"]: r for r in seasonal_mad_outliers(df, "day", "n").collect()
    }
    anomaly_day = origin + dt.timedelta(days=21)
    assert seasonal[anomaly_day]["outlier"]
    flagged = [d for d, r in seasonal.items() if r["outlier"]]
    assert flagged == [anomaly_day]  # rhythm days stay clean
    # season medians reflect the rhythm, residuals are de-seasonalized
    assert seasonal[origin]["season_median"] == 1000
    assert seasonal[origin + dt.timedelta(days=1)]["season_median"] == 100
    # the plain monitor, by contrast, flags every peak Monday
    plain = {r["day"]: r for r in mad_outliers(df, "day", "n").collect()}
    mondays = [origin + dt.timedelta(days=7 * w) for w in range(8)]
    assert all(plain[d]["outlier"] for d in mondays)


# ---------------------------------------------------------------------------
# Multi-probe sign-LSH
# ---------------------------------------------------------------------------


def test_multiprobe_flips_the_lowest_margin_bit(spark):
    """The probe bucket must equal the home bucket with exactly the
    argmin-|projection| bit flipped (ties -> lower plane index),
    verified against a python model of the same quantized planes."""
    from docker_etl_spark.operators.similarity import (
        quantize_planes,
        random_hyperplanes,
        signlsh_probe_buckets,
    )

    dim, n_planes, n_tables, seed = 6, 5, 3, 42
    rows = [(i, [float((i * 3 + j) % 7) - 3.0 for j in range(dim)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vid long, dv array<double>")
    qdf = df.select(
        "vid",
        F.transform("dv", lambda x: F.floor(x * 1000).cast("bigint")).alias("v"),
    )
    out = {
        r["vid"]: list(r["pb"])
        for r in qdf.select(
            "vid",
            signlsh_probe_buckets(
                F.col("v"), dim, n_planes, n_tables, seed, exact_int=True
            ).alias("pb"),
        ).collect()
    }
    for vid, dv in rows:
        v = [int(x * 1000 // 1) if x >= 0 else -int(-x * 1000) for x in dv]
        v = [int(__import__("math").floor(x * 1000)) for x in dv]
        got = out[vid]
        for t in range(n_tables):
            planes = quantize_planes(random_hyperplanes(dim, n_planes, seed + t))
            projs = [sum(a * b for a, b in zip(v, p)) for p in planes]
            bits = [1 if p >= 0 else 0 for p in projs]
            home = sum(b << i for i, b in enumerate(bits))
            fi = min(range(n_planes), key=lambda i: (abs(projs[i]), i))
            flipped = home + (1 - 2 * bits[fi]) * (1 << fi)
            entry_home, entry_probe = got[2 * t], got[2 * t + 1]
            assert (entry_home["tbl"], entry_home["bkt"]) == (t, home)
            assert (entry_probe["tbl"], entry_probe["bkt"]) == (t, flipped)


def test_multiprobe_recall_dominates_home_only(spark):
    """Multi-probe candidates are a superset of home-only candidates,
    so its recall of the brute-force top-k can only be >=."""
    from docker_etl_spark.operators.similarity import cosine_topk_lsh

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vid long, dv array<double>")
    vq = F.transform("dv", lambda x: F.floor(x * 1000).cast("bigint"))
    q = df.filter(F.col("vid") < 8).select(
        F.col("vid").alias("query_id"), vq.alias("vec")
    )
    c = df.select(F.col("vid").alias("corpus_id"), vq.alias("vec"))
    kw = dict(dim=16, k=5, n_planes=6, n_tables=2, exact_int=True)
    home = cosine_topk_lsh(q, c, **kw).collect()
    probe = cosine_topk_lsh(q, c, multiprobe=True, **kw).collect()

    # brute-force ground truth on the quantized grid
    import math

    vecs = {i: [math.floor(x * 1000) for x in dv] for i, dv in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(vecs[a], vecs[b]))
        na = sum(x * x for x in vecs[a])
        nb = sum(x * x for x in vecs[b])
        return d / math.sqrt(na * nb)

    def recall(res):
        hits = 0
        for qid in range(8):
            truth = {
                n for _, n in sorted(
                    ((cos(qid, n), -n) for n in vecs if n != qid),
                    reverse=True,
                )[:5]
            }
            truth = {-n for n in truth}
            hits += sum(
                1 for r in res
                if r["query_id"] == qid and r["corpus_id"] in truth
            )
        return hits

    assert recall(probe) >= recall(home)
    assert len(probe) >= len(home)


@pytest.mark.parametrize("mtp", [None, 32])
def test_pq_train_fused_matches_per_subspace_kmeans(spark, mtp):
    """The fused one-job-per-round PQ training must produce codebooks
    bit-identical to m independent kmeans_assign_quantized runs (the
    pre-fusion reference shape)."""
    from docker_etl_spark.operators.similarity import (
        kmeans_assign_quantized,
        pq_train,
    )

    df = _toy_vectors(spark, n=90, dim=8)
    fused = pq_train(
        df, "dv", "vec_id", dim=8, m=2, k=3, iterations=2,
        max_training_points=mtp,
    )
    reference = []
    for s in range(2):
        sub = df.select(
            F.col("vec_id"), F.slice(F.col("dv"), s * 4 + 1, 4).alias("__sub")
        )
        _a, cents = kmeans_assign_quantized(
            sub, "__sub", "vec_id", 3, 2,
            max_training_points=mtp, sample_seed="pqtrain",
        )
        reference.append(cents)
    assert fused == reference


# ---------------------------------------------------------------------------
# Streaming IVF-PQ ingest (twin of ivfpq_append)
# ---------------------------------------------------------------------------


def test_ivfpq_stream_matches_batch_append(spark, tmp_path):
    """Streaming ingest through the foreachBatch sink must leave the
    store identical to one batch ivfpq_append of the same rows, and
    redelivery must not duplicate (idempotent __batch_id overwrite)."""
    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        load_ivfpq_store,
        write_ivfpq_store,
    )
    from docker_etl_spark.sources.stores import open_store
    from docker_etl_spark.streaming import ivfpq_index_stream

    df = _toy_vectors(spark, n=150, dim=8)
    base = df.filter(F.col("vec_id") < 50)
    index, coarse, books = ivfpq_build(
        base, "dv", "vec_id", dim=8, n_cells=2, m=2, k=3,
        max_training_points=40,
    )
    store = str(tmp_path / "ivfpq_stream_store")
    write_ivfpq_store(index, coarse, books, store, batch_id=0, id_col="vec_id")
    sink = ivfpq_index_stream(store, vec_col="dv", id_col="vec_id")
    b1 = df.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    b2 = df.filter(F.col("vec_id") >= 100)
    sink(b1, 1)
    sink(b2, 2)
    sink(b2, 2)  # redelivery
    idx, c2, b2books, _ = load_ivfpq_store(spark, store)
    assert idx.count() == 150
    assert c2 == coarse and b2books == books
    # snapshot read as of batch 1 excludes batch 2's rows
    idx1, *_ = load_ivfpq_store(
        spark, open_store(spark, store, as_of_batch=1)
    )
    assert idx1.count() == 100


# ---------------------------------------------------------------------------
# IVF-PQ exact refine
# ---------------------------------------------------------------------------


def test_ivfpq_refined_orders_by_exact_distance_and_beats_adc(spark):
    """The refined top-k must be ordered by exact integer L2 among
    the ADC candidate set, and its recall of the exact top-k can
    only be >= the raw ADC top-k's (it re-ranks a superset)."""
    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
        ivfpq_topk_refined,
    )

    df = _toy_vectors(spark, n=150, dim=8)
    index, coarse, books = ivfpq_build(
        df, "dv", "vec_id", dim=8, n_cells=2, m=2, k=3,
        max_training_points=50,
    )
    q = df.filter(F.col("vec_id") < 2)
    ref = ivfpq_topk_refined(
        q, index, coarse, books, df, vec_col="dv", query_id_col="vec_id",
        corpus_id_col="vec_id", topk=3, refine_factor=4,
    ).collect()
    # exact distances recomputed in python on the quantized grid
    vecs = {
        r["vec_id"]: [int(x * 1000 // 1) for x in r["dv"]]
        for r in df.collect()
    }

    def d(a, b):
        import math

        return sum(
            (int(math.floor(x)) - int(math.floor(y))) ** 2
            for x, y in zip(vecs[a], vecs[b])
        )

    by_q = {}
    for r in ref:
        by_q.setdefault(r["vec_id"], []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        dists = [r["exact_dist"] for r in rows]
        assert dists == sorted(dists)
        for r in rows:
            assert r["exact_dist"] == d(qid, r["neighbor_id"])
    # recall comparison vs raw ADC
    adc = ivfpq_topk(
        q, index, coarse, books, vec_col="dv", query_id_col="vec_id", topk=3
    ).collect()
    exact_top = {}
    for qid in (0, 1):
        cands = sorted(
            ((d(qid, n), n) for n in vecs if n != qid)
        )[:3]
        exact_top[qid] = {n for _, n in cands}
    rec_ref = sum(
        r["neighbor_id"] in exact_top[r["vec_id"]] for r in ref
    )
    rec_adc = sum(
        r["neighbor_id"] in exact_top[r["vec_id"]] for r in adc
    )
    assert rec_ref >= rec_adc


# ---------------------------------------------------------------------------
# MP4 video metadata (ISO-BMFF mvhd parse)
# ---------------------------------------------------------------------------


def _box(btype: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def _mp4(timescale: int, duration: int, version: int = 0) -> bytes:
    if version == 0:
        mvhd = (
            b"\x00\x00\x00\x00"  # version 0 + flags
            + (0).to_bytes(4, "big") * 2  # ctime, mtime
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(4, "big")
            + b"\x00" * 80
        )
    else:
        mvhd = (
            b"\x01\x00\x00\x00"
            + (0).to_bytes(8, "big") * 2
            + timescale.to_bytes(4, "big")
            + duration.to_bytes(8, "big")
            + b"\x00" * 80
        )
    return (
        _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + _box(b"moov", _box(b"mvhd", mvhd))
        + _box(b"mdat", b"\x00" * 32)
    )


def test_video_stats_parses_planted_mvhd_both_versions():
    from docker_etl_spark.operators.multimodal import _video_stats

    for ver in (0, 1):
        dur, ts, dec = _video_stats(_mp4(90_000, 270_000, version=ver))
        assert (dur, ts, dec) == (3.0, 90_000, "mp4-stdlib"), (ver, dur)
    # truncated moov -> stub, deterministically
    broken = _mp4(90_000, 270_000)[:20]
    d1 = _video_stats(broken)
    d2 = _video_stats(broken)
    assert d1 == d2 and d1[2] == "stub"
    assert _video_stats(b"plain text payload")[2] == "stub"


def test_decode_video_features_and_mp4_census_label(spark):
    from docker_etl_spark.operators.multimodal import (
        decode_video_features,
        detect_media_format,
    )

    rows = [
        (1, _mp4(600, 1800), None),
        (2, b"not a video at all", None),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id bigint, content binary, meta struct<kind string, "
        "width int, height int, n_frames int, sample_rate int>",
    )
    out = {
        r["media_id"]: r
        for r in decode_video_features(df)
        .withColumn("format", detect_media_format("content"))
        .collect()
    }
    assert out[1]["decoder"] == "mp4-stdlib" and out[1]["format"] == "mp4"
    assert out[1]["duration_sec"] == 3.0 and out[1]["timescale"] == 600
    assert out[2]["decoder"] == "stub" and out[2]["format"] == "unknown"


# ---------------------------------------------------------------------------
# Persistable IVF-PQ store
# ---------------------------------------------------------------------------


def test_ivfpq_store_roundtrip_and_partition_pruning(spark, tmp_path):
    """Persist -> reload -> probe must equal the one-shot probe
    bit-for-bit, and the pruned probe must push a static IN on
    __cell into the store scan (PartitionFilters)."""
    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_topk,
        load_ivfpq_store,
        write_ivfpq_store,
    )

    df = _toy_vectors(spark, n=120, dim=8)
    index, coarse, books = ivfpq_build(
        df, "dv", "vec_id", dim=8, n_cells=3, m=2, k=3,
        max_training_points=40,
    )
    queries = df.filter(F.col("vec_id") < 2)
    direct = ivfpq_topk(
        queries, index, coarse, books, vec_col="dv",
        query_id_col="vec_id", topk=3,
    ).collect()

    path = str(tmp_path / "ivfpq_store")
    write_ivfpq_store(index, coarse, books, path, id_col="vec_id")
    idx2, coarse2, books2, meta = load_ivfpq_store(spark, path)
    assert coarse2 == coarse and books2 == books
    assert meta["n_cells"] == 3 and meta["m"] == 2 and meta["k"] == 3
    out = ivfpq_topk(
        queries, idx2, coarse2, books2, vec_col="dv",
        query_id_col="vec_id", topk=3, prune_index_partitions=True,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, direct))
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    txt = buf.getvalue()
    pf_lines = [l for l in txt.splitlines() if "PartitionFilters" in l]
    assert any("__cell" in l and " IN " in l for l in pf_lines), pf_lines


def test_ivfpq_append_encodes_without_retraining_and_is_idempotent(
    spark, tmp_path
):
    """Appended vectors must carry codes equal to ivfpq_encode
    against the stored quantizers, and redelivering the same batch
    must leave the store byte-identical (dynamic overwrite of the
    batch's own partitions)."""
    from docker_etl_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_encode,
        load_ivfpq_store,
        write_ivfpq_store,
    )
    from docker_etl_spark.sources.stores import open_store

    df = _toy_vectors(spark, n=120, dim=8)
    first = df.filter(F.col("vec_id") < 60)
    second = df.filter(F.col("vec_id") >= 60)
    index, coarse, books = ivfpq_build(
        first, "dv", "vec_id", dim=8, n_cells=3, m=2, k=3,
        max_training_points=40,
    )
    path = str(tmp_path / "store")
    write_ivfpq_store(index, coarse, books, path, batch_id=0, id_col="vec_id")
    ivfpq_append(second, path, "dv", "vec_id", batch_id=1)
    idx, c2, b2, _meta = load_ivfpq_store(spark, path)
    assert idx.count() == 120
    expected = {
        (r["vec_id"], r["__cell"], tuple(r["pq_code"]))
        for r in ivfpq_encode(second, "dv", "vec_id", c2, b2).collect()
    }
    got = {
        (r["vec_id"], r["__cell"], tuple(r["pq_code"]))
        for r in idx.filter(F.col("vec_id") >= 60).collect()
    }
    assert got == expected
    before = sorted(map(tuple, idx.collect()))
    ivfpq_append(second, path, "dv", "vec_id", batch_id=1)  # redelivery
    idx_after, *_ = load_ivfpq_store(spark, path)
    assert sorted(map(tuple, idx_after.collect())) == before
    # as-of-batch snapshot read: batch 0 only
    idx_b0, *_ = load_ivfpq_store(
        spark, open_store(spark, path, as_of_batch=0)
    )
    assert idx_b0.count() == 60


def test_cms_estimate_rejects_reserved_probe_columns(spark):
    from docker_etl_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    df = spark.createDataFrame([("a",), ("b",)], "k string")
    sk = count_min_sketch(df, "k", depth=2, width=16)
    bad = spark.createDataFrame([("a", 1)], "k string, n int")
    with pytest.raises(ValueError, match="collide"):
        cms_estimate(sk, bad, "k", depth=2, width=16)
