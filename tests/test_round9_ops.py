"""Round-9 operator tests: ADVICE hardening (seasonal pmod, ftyp
size sanity, search-index meta sidecar, cross-batch id contracts),
BM25 store compaction, batch-query retrieval, and the retrieval-
quality eval."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ADVICE fixes
# ---------------------------------------------------------------------------


def test_seasonal_mad_pmod_keeps_weekday_whole_across_origin(spark):
    """Rows dated BEFORE season_origin must land in the SAME season
    bucket as the same weekday after it (r8 ADVICE: `%` takes the
    dividend's sign, splitting each weekday class in two)."""
    import datetime as dt

    from docker_etl_spark.operators.profiling import seasonal_mad_outliers

    origin = dt.date(1995, 1, 2)  # the operator default origin is 1995-01-01
    rows = []
    # 4 weeks BEFORE the origin and 4 weeks after: same rhythm.
    for i in range(-28, 28):
        day = origin + dt.timedelta(days=i)
        val = 1000 if i % 7 == 0 else 100  # Mondays spike by design
        rows.append((day, val))
    df = spark.createDataFrame(rows, "day date, n int")
    out = {r["day"]: r for r in seasonal_mad_outliers(df, "day", "n").collect()}
    # every season key is in [0, 7) even for pre-origin dates
    assert all(0 <= r["season"] < 7 for r in out.values())
    # pre-origin Monday and post-origin Monday share one bucket ->
    # both get the Monday median, and nothing flags (pure rhythm)
    pre_monday = origin + dt.timedelta(days=-7)
    assert out[pre_monday]["season"] == out[origin]["season"]
    assert out[pre_monday]["season_median"] == 1000
    assert not any(r["outlier"] for r in out.values())


def test_detect_media_format_rejects_textual_ftyp(spark):
    """'xxxxftyp...' (arbitrary text whose bytes 5-8 spell ftyp) must
    NOT be labeled mp4 — a real ftyp leads with a plausible big-endian
    box size in [16, len(payload)] (r8 ADVICE)."""
    from docker_etl_spark.operators.multimodal import detect_media_format

    good = (24).to_bytes(4, "big") + b"ftypisom" + b"\x00\x00\x02\x00isomiso2"
    rows = [
        (1, good),
        (2, b"xxxxftyp arbitrary text payload"),  # size = 0x78787878 > len
        (3, (8).to_bytes(4, "big") + b"ftypisom"),  # size 8 < 16: no brand
        (4, (64).to_bytes(4, "big") + b"ftypisom"),  # size 64 > payload len
    ]
    df = spark.createDataFrame(rows, "id int, content binary")
    out = {
        r["id"]: r["fmt"]
        for r in df.select("id", detect_media_format("content").alias("fmt")).collect()
    }
    assert out == {1: "mp4", 2: "unknown", 3: "unknown", 4: "unknown"}


# ---------------------------------------------------------------------------
# Search-index meta sidecar + append-only id contract
# ---------------------------------------------------------------------------


def _search_docs(spark):
    rows = [
        (1, "hash join window hash"),
        (2, "vector hash index probe"),
        (3, "window join join window scan"),
        (4, "totally unrelated words here"),
        (5, "hash hash hash vector"),
        (6, "join vector window vector"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_search_index_meta_sidecar_defaults_and_rejects_conflicts(
    spark, tmp_path
):
    """Non-default build parameters persist in the meta sidecar;
    probes read them from it, appends default from it and REJECT
    conflicting explicit values (r8 ADVICE: a wrong prefix_len
    silently misses every stored directory)."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        read_search_index_meta,
        search_bm25_topk,
        write_search_index,
    )

    df = _search_docs(spark)
    path = str(tmp_path / "idx1")
    p, s = build_postings(
        df.filter(F.col("doc_id") <= 3), "text", "doc_id",
        min_token_len=5, prefix_len=1,
    )
    write_search_index(p, s, path, batch_id=0, min_token_len=5, prefix_len=1)
    assert read_search_index_meta(spark, path) == {
        "prefix_len": 1, "min_token_len": 5, "positional": False,
        "has_dict": True,
    }
    # the probe reads prefix_len=1 from the sidecar and finds docs
    out = {
        r["doc_id"]: r
        for r in search_bm25_topk(
            spark, path, ("window", "vector"), k=10
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    # append with conflicting explicit params raises; default params resolve
    with pytest.raises(ValueError, match="min_token_len=3 conflicts"):
        append_search_index(
            df.filter(F.col("doc_id") > 3), path, batch_id=1,
            min_token_len=3,
        )
    append_search_index(df.filter(F.col("doc_id") > 3), path, batch_id=1)
    # min_token_len=5 came from the sidecar: 'hash'/'join'/'here'
    # tokens of the appended docs are NOT indexed
    got = spark.read.parquet(path + "/postings")
    assert got.filter(F.length("term") < 5).count() == 0
    assert got.filter(F.col("doc_id") == 5).count() > 0  # 'vector' indexed
    # rebuild-in-place with different params raises loudly
    p2, s2 = build_postings(df, "text", "doc_id")
    with pytest.raises(ValueError, match="rebuild at a fresh path"):
        write_search_index(p2, s2, path)


def test_append_search_index_id_collision_guard(spark, tmp_path):
    """assume_new_ids=False must drop re-ingested doc_ids so df and
    scores match a store that saw each document exactly once; the
    default documents the append-only contract."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        search_bm25_topk,
        write_search_index,
    )

    df = _search_docs(spark)
    ref = str(tmp_path / "ref")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, ref)
    expect = sorted(
        map(tuple, search_bm25_topk(spark, ref, ("hash", "join"), k=10).collect())
    )
    guarded = str(tmp_path / "guarded")
    p0, s0 = build_postings(df.filter(F.col("doc_id") <= 3), "text", "doc_id")
    write_search_index(p0, s0, guarded, batch_id=0)
    # batch 2 re-carries doc 3 (already stored) plus the new docs
    append_search_index(
        df.filter(F.col("doc_id") >= 3), guarded, batch_id=2,
        assume_new_ids=False,
    )
    got = sorted(
        map(tuple, search_bm25_topk(spark, guarded, ("hash", "join"), k=10).collect())
    )
    assert got == expect
    # the unguarded default double-counts doc 3's postings
    loose = str(tmp_path / "loose")
    write_search_index(p0, s0, loose, batch_id=0)
    append_search_index(df.filter(F.col("doc_id") >= 3), loose, batch_id=2)
    dup_rows = (
        spark.read.parquet(loose + "/postings")
        .filter(F.col("doc_id") == 3)
        .groupBy("term")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_rows > 0


def test_ivfpq_append_id_collision_guard(spark, tmp_path):
    """assume_new_ids=False must anti-join re-ingested vec_ids so the
    store never holds duplicate code rows for one id."""
    from docker_etl_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_build,
        load_ivfpq_store,
        write_ivfpq_store,
    )

    em = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3)]) for i in range(12)],
        "vec_id long, dv array<double>",
    )
    path = str(tmp_path / "ivf")
    evens = em.filter(F.col("vec_id") % 2 == 0)
    index, coarse, books = ivfpq_build(
        evens, "dv", "vec_id", dim=2, n_cells=2, m=1, k=2
    )
    write_ivfpq_store(index, coarse, books, path, batch_id=0, id_col="vec_id")
    # batch 1 re-carries vec_id 0 and 2 alongside the odd ids
    batch = em.filter((F.col("vec_id") % 2 == 1) | (F.col("vec_id") <= 2))
    ivfpq_append(batch, path, "dv", "vec_id", batch_id=1, assume_new_ids=False)
    idx, *_ = load_ivfpq_store(spark, path)
    per_id = idx.groupBy("vec_id").count().filter(F.col("count") > 1).count()
    assert per_id == 0
    assert idx.count() == 12
    # wrong id_col raises instead of silently joining nothing
    with pytest.raises(ValueError, match="id column"):
        ivfpq_append(
            batch.withColumnRenamed("vec_id", "other_id"), path, "dv",
            "other_id", batch_id=2, assume_new_ids=False,
        )


# ---------------------------------------------------------------------------
# BM25 store compaction
# ---------------------------------------------------------------------------


def _batch_dirs(root: str) -> int:
    import glob

    return len(glob.glob(root + "/**/__batch_id=*", recursive=True))


def test_compact_search_index_folds_and_preserves_reads(spark, tmp_path):
    """Folding deltas <= horizon must leave full reads and as-of reads
    at/above the horizon identical, collapse the per-prefix batch
    directories, and sum-fold the stats deltas to one exact row."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        compact_search_index,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    rows = [
        (i, ["hash join window", "vector probe scan", "join join hash",
             "plain filler words"][i % 4] + f" extra{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    b = [df.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    p0, s0 = build_postings(b[0], "text", "doc_id")
    write_search_index(p0, s0, path, batch_id=0)
    append_search_index(b[1], path, batch_id=1)
    append_search_index(b[2], path, batch_id=2)
    full_before = sorted(
        map(tuple, search_bm25_topk(spark, path, ("hash", "join"), k=30).collect())
    )
    asof1_before = sorted(
        map(
            tuple,
            search_bm25_topk(
                spark, open_store(spark, path, as_of_batch=1),
                ("hash", "join"), k=30,
            ).collect(),
        )
    )
    dirs_before = _batch_dirs(path + "/postings")
    res = compact_search_index(spark, path, up_to_batch=1)
    assert res["postings"]["files_after"] <= res["postings"]["files_before"]
    assert _batch_dirs(path + "/postings") < dirs_before
    # stats deltas <= 1 folded into a single exact base row
    st = spark.read.parquet(path + "/stats")
    assert st.filter(F.col("__batch_id") == -1).count() == 1
    assert st.count() == 2  # base + batch-2 delta
    full_after = sorted(
        map(tuple, search_bm25_topk(spark, path, ("hash", "join"), k=30).collect())
    )
    asof1_after = sorted(
        map(
            tuple,
            search_bm25_topk(
                spark, open_store(spark, path, as_of_batch=1),
                ("hash", "join"), k=30,
            ).collect(),
        )
    )
    assert full_after == full_before
    assert asof1_after == asof1_before
    # appends keep working after the swap
    append_search_index(
        spark.createDataFrame([(100, "hash window extra100")],
                              "doc_id long, text string"),
        path, batch_id=3,
    )
    assert 100 in {
        t[0]
        for t in search_bm25_topk(spark, path, ("hash",), k=40).collect()
    }


def test_search_index_stream_compact_every_keeps_results(spark, tmp_path):
    """The streaming hook must fold on schedule without changing the
    search results vs a one-shot build."""
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
    ref = str(tmp_path / "ref")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, ref)
    expect = sorted(
        map(tuple, search_bm25_topk(spark, ref, ("hash", "join"), k=40).collect())
    )
    store = str(tmp_path / "stream")
    sink = search_index_stream(store, "text", "doc_id", compact_every=2)
    b = [df.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    for i in range(4):
        sink(b[i], i)
    # two folds ran (after batches 1 and 3): everything sits in the base
    assert _batch_dirs(store + "/postings") == len(
        {
            d.rsplit("/", 1)[-1]
            for d in __import__("glob").glob(store + "/postings/__pfx=*")
        }
    )
    got = sorted(
        map(tuple, search_bm25_topk(spark, store, ("hash", "join"), k=40).collect())
    )
    assert got == expect


# ---------------------------------------------------------------------------
# Batch-query retrieval
# ---------------------------------------------------------------------------


def test_search_bm25_topk_batch_matches_single_query_calls(spark, tmp_path):
    """One plan for the whole eval set must reproduce q independent
    single-query searches bit-for-bit, scan the postings store
    exactly once (pruned), and take per-query top-k map-side."""
    import contextlib
    import io

    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        search_bm25_topk_batch,
        write_search_index,
    )

    rows = [
        (i, ["hash join window", "vector probe scan", "join join hash",
             "plain filler words"][i % 4] + f" extra{i}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, path)
    qdefs = [
        (0, ["hash", "join"]),
        (1, ["window", "vector"]),
        (2, ["hash", "vector", "window"]),
        (3, ["zzznope"]),  # matches nothing -> absent from the output
        (4, ["hash", "hash", "join"]),  # duplicate term must not double
    ]
    queries = spark.createDataFrame(qdefs, "query_id long, terms array<string>")
    batch = search_bm25_topk_batch(queries, path, k=7)
    got = {}
    for r in batch.collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["n_terms"], r["score_scaled"], r["rank"])
        )
    for qid, terms in qdefs:
        single = [
            (r["doc_id"], r["n_terms"], r["score_scaled"], r["rank"])
            for r in search_bm25_topk(spark, path, tuple(terms), k=7).collect()
        ]
        want = sorted(single, key=lambda t: t[3])
        have = sorted(got.get(qid, []), key=lambda t: t[3])
        assert have == want, (qid, have, want)
    assert 3 not in got
    # plan pins: ONE parquet scan (the pruned postings — df/totals/query
    # pairs are all driver-bounded local relations), prefix partition
    # pruning pushed, and the per-query top-k planned map-side.
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        batch.explain("formatted")
    plan = buf.getvalue()
    scan_locs = [
        line for line in plan.splitlines() if "InMemoryFileIndex" in line
    ]
    assert len(scan_locs) == 1 and "postings" in scan_locs[0], plan
    assert any(
        "__pfx" in line and " IN " in line
        for line in plan.splitlines()
        if "PartitionFilters" in line
    ), plan
    assert "WindowGroupLimit" in plan
    # guards: the term set and query set must stay driver-bounded
    with pytest.raises(ValueError, match="max_query_terms"):
        search_bm25_topk_batch(queries, path, k=7, max_query_terms=2)
    with pytest.raises(ValueError, match="max_queries"):
        search_bm25_topk_batch(queries, path, k=7, max_queries=2)


def test_positional_index_phrase_semantics(spark, tmp_path):
    """Adjacency, position-increment gaps, repeats, and the superset
    claim (BM25 runs unchanged on a positional store)."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_positional_postings,
        phrase_search_topk,
        search_bm25_topk,
        write_search_index,
    )

    rows = [
        (1, "alpha beta gamma filler words here"),       # alpha beta: adjacent
        (2, "alpha of beta gamma filler words"),         # 'of' consumes a position -> gap
        (3, "alpha beta alpha beta filler words"),       # phrase twice
        (4, "beta alpha gamma filler words here"),       # reversed -> no match
        (5, "echo echo tail words filler here"),         # repeated-term phrase
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pidx")
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_search_topk(spark, path, ("alpha", "beta"), k=10).collect()
    }
    assert got == {1: 1, 3: 2}  # doc 2 gapped, doc 4 reversed
    rep = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_search_topk(spark, path, ("echo", "echo"), k=10).collect()
    }
    assert rep == {5: 1}
    tri = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_search_topk(
            spark, path, ("alpha", "beta", "gamma"), k=10
        ).collect()
    }
    assert tri == {1: 1}
    # superset: BM25 top-k runs unchanged on the positional store
    bm = search_bm25_topk(spark, path, ("alpha", "beta"), k=10)
    assert {r["doc_id"] for r in bm.collect()} == {1, 2, 3, 4}
    # appends route through the positional builder via the meta flag
    append_search_index(
        spark.createDataFrame(
            [(6, "alpha beta closing words here now")], "doc_id long, text string"
        ),
        path, batch_id=1,
    )
    got2 = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_search_topk(spark, path, ("alpha", "beta"), k=10).collect()
    }
    assert got2 == {1: 1, 3: 2, 6: 1}
    # guards: non-positional store, never-indexed short phrase terms
    plain = str(tmp_path / "plain")
    from docker_etl_spark.operators.search import build_postings

    p2, s2 = build_postings(df, "text", "doc_id")
    write_search_index(p2, s2, plain)
    with pytest.raises(ValueError, match="not positional"):
        phrase_search_topk(spark, plain, ("alpha", "beta"), k=10)
    with pytest.raises(ValueError, match="min_token_len"):
        phrase_search_topk(spark, path, ("alpha", "of"), k=10)


def test_curation_stream_composition_and_redelivery(spark, tmp_path):
    """The composed sink must apply quality -> exact dedup -> near-dup
    in order across batches (quality-failed docs never touch either
    store; exact dups drop cross-batch via the digest store; near-dups
    drop against earlier survivors' signatures) and stay idempotent
    under redelivery."""
    from docker_etl_spark.streaming import curation_stream

    near = (
        "the river winds slowly through a wide green valley carrying "
        "cold clear water past willows herons and mossy stones toward "
        "the quiet sea"
    )
    rows = [
        (1, "bad"),  # fails quality (too short)
        (2, "the quick brown fox jumps over a lazy sleeping dog"),
        (3, near),
        (4, "the astronomer counts distant stars above silent frozen hills"),
        # batch 1:
        (12, "the quick brown fox jumps over a lazy sleeping dog"),  # exact dup of 2
        (13, near + " tonight"),  # near-dup of 3 (one appended word)
        (14, "the baker kneads warm dough before sunrise every single morning"),
        # batch 2:
        (22, "the quick brown fox jumps over a lazy sleeping dog"),  # exact dup again
        (24, "the sailor reads weathered charts beside a flickering oil lamp"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    root = str(tmp_path / "cur")
    sink = curation_stream(
        root + "/digests", root + "/sigs", root + "/out"
    )
    batches = [
        df.filter(F.col("doc_id") < 10),
        df.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)),
        df.filter(F.col("doc_id") >= 20),
    ]
    for i, b in enumerate(batches):
        sink(b, i)
    out = spark.read.parquet(root + "/out")
    assert {r["doc_id"] for r in out.select("doc_id").collect()} == {
        2, 3, 4, 14, 24,
    }
    # quality-failed doc 1 never entered the digest store
    digests = {
        r["content_md5"]
        for r in spark.read.parquet(root + "/digests").collect()
    }
    bad_md5 = df.filter("doc_id = 1").select(F.md5("text")).collect()[0][0]
    assert bad_md5 not in digests
    # near-dup-dropped doc 13's signature is NOT in the store
    # (survivors only), but its digest IS (content was ingested)
    sig_ids = {
        r["doc_id"] for r in spark.read.parquet(root + "/sigs").collect()
    }
    assert 13 not in sig_ids and {2, 3, 4, 14, 24} <= sig_ids
    dup13_md5 = df.filter("doc_id = 13").select(F.md5("text")).collect()[0][0]
    assert dup13_md5 in digests
    # redelivery of a completed batch changes nothing
    before = sorted(map(tuple, out.select("doc_id", "text").collect()))
    sink(batches[1], 1)
    after = sorted(
        map(
            tuple,
            spark.read.parquet(root + "/out")
            .select("doc_id", "text")
            .collect(),
        )
    )
    assert after == before


def test_search_bm25_topk_batch_as_of_snapshot(spark, tmp_path):
    """as_of_batch on the batch search must reproduce the pre-append
    ranking for every query — both postings and stats snapshot-read."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        search_bm25_topk_batch,
        write_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    rows = [
        (i, ["hash join window", "vector probe scan", "join join hash",
             "plain filler words"][i % 4] + f" extra{i}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    p0, s0 = build_postings(df.filter(F.col("doc_id") < 12), "text", "doc_id")
    write_search_index(p0, s0, path, batch_id=0)
    queries = spark.createDataFrame(
        [(0, ["hash", "join"]), (1, ["window", "vector"])],
        "query_id long, terms array<string>",
    )
    pre = sorted(
        map(tuple, search_bm25_topk_batch(queries, path, k=20).collect())
    )
    append_search_index(df.filter(F.col("doc_id") >= 12), path, batch_id=1)
    post = sorted(
        map(tuple, search_bm25_topk_batch(queries, path, k=20).collect())
    )
    asof = sorted(
        map(
            tuple,
            search_bm25_topk_batch(
                queries, open_store(spark, path, as_of_batch=0), k=20
            ).collect(),
        )
    )
    assert asof == pre
    assert {t[1] for t in post} > {t[1] for t in pre}  # appends visible


def test_bm25_topk_batch_from_postings_ground_truth_arm(spark):
    """The un-persisted arm must rank exactly like the store path on
    the same tokenization (it IS the eval ground truth)."""
    from docker_etl_spark.operators.search import (
        bm25_topk_batch_from_postings,
        build_postings,
    )

    rows = [
        (i, ["hash join window", "vector probe scan", "join join hash",
             "plain filler words"][i % 4] + f" extra{i}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    postings, stats = build_postings(df, "text", "doc_id")
    qt = spark.createDataFrame(
        [(0, "hash"), (0, "join"), (1, "vector")], "query_id long, term string"
    )
    out = bm25_topk_batch_from_postings(postings, stats, qt, k=5)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    assert all(len(v) == 5 for v in by_q.values())
    # ranks are 1..5 per query, scores non-increasing
    for v in by_q.values():
        v.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in v] == [1, 2, 3, 4, 5]
        assert all(
            v[i]["score_scaled"] >= v[i + 1]["score_scaled"]
            for i in range(4)
        )
