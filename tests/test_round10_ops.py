"""Round-10 operator tests: r9 ADVICE hardening — crashed-partial
meta sidecar self-heal, the compaction-horizon redelivery guard,
multi-row stats folding in the batch-BM25 ground-truth arm, the
eager append anti-join barrier, and digest-store dedup on
curation_stream compaction."""

import glob
import os

import pytest
from pyspark.sql import functions as F


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


# ---------------------------------------------------------------------------
# parquet_write_completed + meta sidecar crash window (r9 ADVICE #1)
# ---------------------------------------------------------------------------


def test_parquet_write_completed_rejects_partial_dirs(spark, tmp_path):
    """A bare directory (crashed before job commit) and a dir holding
    only _temporary task staging are 'absent'; a _SUCCESS marker or a
    committed data file means 'present'."""
    from docker_etl_spark.sources.stores import parquet_write_completed

    missing = str(tmp_path / "nope")
    assert not parquet_write_completed(spark, missing)

    empty = tmp_path / "empty"
    empty.mkdir()
    assert not parquet_write_completed(spark, str(empty))

    staging = tmp_path / "staging"
    (staging / "_temporary" / "0").mkdir(parents=True)
    (staging / "_temporary" / "0" / "part-0.parquet").write_bytes(b"x")
    assert not parquet_write_completed(spark, str(staging))

    committed = str(tmp_path / "committed")
    spark.createDataFrame([(1,)], "a int").write.parquet(committed)
    assert parquet_write_completed(spark, committed)

    # data file present but marker lost (e.g. cleanup tooling): still
    # complete — the file only reaches the top level after job commit
    no_marker = tmp_path / "nomarker"
    no_marker.mkdir()
    src = glob.glob(committed + "/*.parquet")[0]
    os.link(src, str(no_marker / os.path.basename(src)))
    assert parquet_write_completed(spark, str(no_marker))


def test_incomplete_meta_sidecar_self_heals(spark, tmp_path):
    """A crashed partial meta write (directory exists, nothing
    committed) must read as absent and be rewritten by the next
    write under the lease — not fail every later probe (r9 ADVICE)."""
    from docker_etl_spark.operators.search import (
        build_postings,
        read_search_index_meta,
        search_bm25_topk,
        write_search_index,
    )

    df = _search_docs(spark)
    path = str(tmp_path / "idx")
    # simulate the crash window: meta dir created, write never committed
    (tmp_path / "idx" / "meta").mkdir(parents=True)
    assert read_search_index_meta(spark, path) is None

    p, s = build_postings(df, "text", "doc_id", min_token_len=4, prefix_len=1)
    write_search_index(p, s, path, batch_id=0, min_token_len=4, prefix_len=1)
    # the redelivered first write healed the sidecar
    assert read_search_index_meta(spark, path) == {
        "prefix_len": 1, "min_token_len": 4, "positional": False,
        "has_dict": True,
    }
    got = {
        r["doc_id"]
        for r in search_bm25_topk(spark, path, ("window",), k=10).collect()
    }
    assert got == {1, 3, 6}


# ---------------------------------------------------------------------------
# Compaction horizon: redelivery at/below the fold is rejected (r9 ADVICE #3)
# ---------------------------------------------------------------------------


def test_write_below_compaction_horizon_rejected(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        compact_search_index,
        read_search_index_horizon,
        search_bm25_topk,
        write_search_index,
    )

    df = _search_docs(spark)
    path = str(tmp_path / "idx")
    b = {i: df.filter(F.col("doc_id") % 3 == i) for i in range(3)}
    p0, s0 = build_postings(b[0], "text", "doc_id")
    write_search_index(p0, s0, path, batch_id=0)
    append_search_index(b[1], path, batch_id=1)
    append_search_index(b[2], path, batch_id=2)
    assert read_search_index_horizon(spark, path) is None
    expect = sorted(
        map(
            tuple,
            search_bm25_topk(spark, path, ("hash", "join"), k=30).collect(),
        )
    )

    compact_search_index(spark, path, up_to_batch=1)
    assert read_search_index_horizon(spark, path) == 1

    # redelivering a folded batch would double-count: rejected
    with pytest.raises(ValueError, match="compaction horizon"):
        append_search_index(b[1], path, batch_id=1)
    p1, s1 = build_postings(b[1], "text", "doc_id")
    with pytest.raises(ValueError, match="compaction horizon"):
        write_search_index(p1, s1, path, batch_id=0)
    # the base write (batch_id=None -> -1) is below any horizon
    with pytest.raises(ValueError, match="compaction horizon"):
        write_search_index(p1, s1, path)

    # redelivery ABOVE the horizon stays idempotent; results unchanged
    append_search_index(b[2], path, batch_id=2)
    got = sorted(
        map(
            tuple,
            search_bm25_topk(spark, path, ("hash", "join"), k=30).collect(),
        )
    )
    assert got == expect

    # a later, higher compaction raises the horizon; a lower one never
    # lowers it
    compact_search_index(spark, path, up_to_batch=2)
    assert read_search_index_horizon(spark, path) == 2
    compact_search_index(spark, path, up_to_batch=1)
    assert read_search_index_horizon(spark, path) == 2


# ---------------------------------------------------------------------------
# Multi-row stats frames fold instead of duplicating rows (r9 ADVICE #4)
# ---------------------------------------------------------------------------


def test_bm25_batch_from_postings_folds_multirow_stats(spark):
    from docker_etl_spark.operators.search import (
        bm25_topk_batch_from_postings,
        build_postings,
    )

    df = _search_docs(spark)
    lo, hi = df.filter(F.col("doc_id") <= 3), df.filter(F.col("doc_id") > 3)
    p_lo, s_lo = build_postings(lo, "text", "doc_id")
    p_hi, s_hi = build_postings(hi, "text", "doc_id")
    postings = p_lo.unionByName(p_hi)
    folded = postings.sparkSession.createDataFrame(
        [
            (
                int(s_lo.collect()[0][0]) + int(s_hi.collect()[0][0]),
                int(s_lo.collect()[0][1]) + int(s_hi.collect()[0][1]),
            )
        ],
        "n_docs long, sum_dl long",
    )
    qt = spark.createDataFrame(
        [(1, "hash"), (1, "join"), (2, "window")], "query_id int, term string"
    )
    expect = sorted(
        map(
            tuple,
            bm25_topk_batch_from_postings(postings, folded, qt, k=10).collect(),
        )
    )
    # two un-folded delta rows must give the SAME ranking, not
    # duplicate every scored row through the crossJoin
    deltas = s_lo.unionByName(s_hi)
    got = sorted(
        map(
            tuple,
            bm25_topk_batch_from_postings(postings, deltas, qt, k=10).collect(),
        )
    )
    assert got == expect


# ---------------------------------------------------------------------------
# curation_stream compaction dedupes digest rows (r9 ADVICE #5)
# ---------------------------------------------------------------------------


def test_curation_stream_compaction_dedupes_digest_rows(spark, tmp_path):
    """A partial redelivery leaves duplicate digest rows; the
    scheduled digest-store fold must reclaim them (results were
    already neutral — this pins the storage claim)."""
    from docker_etl_spark.streaming import curation_stream

    rows = [
        (i, "the quick brown fox jumps over the lazy dog near bank %d" % i)
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dstore = str(tmp_path / "digests")
    sink = curation_stream(
        dstore,
        str(tmp_path / "sigs"),
        str(tmp_path / "out"),
        min_words=5,
        min_stopwords=1,
        digest_prefix_chars=1,
        compact_every=2,
    )
    b0 = df.filter(F.col("doc_id") < 4)
    sink(b0, 0)
    # simulate the partial-redelivery duplicate: the digest append
    # re-lands rows a crashed first delivery already wrote (a FULL
    # redelivery exact-drops everything, so duplicates only arise
    # from the crash-between-stages window)
    from docker_etl_spark.operators.dedupe import write_digest_store

    write_digest_store(
        spark.read.parquet(dstore).select("content_md5"),
        dstore,
        prefix_chars=1,
        mode="append",
    )
    dup = spark.read.parquet(dstore)
    assert dup.count() > dup.select("content_md5").distinct().count()
    # batch 1 hits the compact_every boundary -> fold + dedup
    sink(df.filter(F.col("doc_id") >= 4), 1)
    final = spark.read.parquet(dstore)
    assert final.count() == final.select("content_md5").distinct().count()
    assert final.select("content_md5").distinct().count() == 8


# ---------------------------------------------------------------------------
# Proximity (min-span) search over the positional index
# ---------------------------------------------------------------------------


def _positional_store(spark, tmp_path, name="prox"):
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        write_search_index,
    )

    rows = [
        (1, "alpha beta gamma delta"),          # span(alpha,gamma)=3
        (2, "alpha filler filler filler gamma"),  # span=5
        (3, "gamma alpha other words"),         # span=2 (order-free)
        (4, "alpha words only here"),           # gamma absent
        (5, "gamma beta words alpha gamma"),    # span=2 (alpha@4,gamma@5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / name)
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)
    return path


def test_proximity_search_min_span_and_slop(spark, tmp_path):
    from docker_etl_spark.operators.search import proximity_search_topk

    path = _positional_store(spark, tmp_path)
    # slop=0: adjacent in some order -> docs 3 and 5 (span 2)
    got = {
        r["doc_id"]: r["min_span"]
        for r in proximity_search_topk(
            spark, path, ("alpha", "gamma"), slop=0
        ).collect()
    }
    assert got == {3: 2, 5: 2}
    # slop=1 adds doc 1 (span 3); slop=3 adds doc 2 (span 5)
    out = proximity_search_topk(
        spark, path, ("alpha", "gamma"), slop=3, k=10
    ).collect()
    assert [(r["doc_id"], r["min_span"], r["rank"]) for r in out] == [
        (3, 2, 1), (5, 2, 2), (1, 3, 3), (2, 5, 4),
    ]
    # three terms: doc 1 only (alpha beta gamma adjacent -> span 3)
    got3 = proximity_search_topk(
        spark, path, ("alpha", "beta", "gamma"), slop=0
    ).collect()
    assert [(r["doc_id"], r["min_span"]) for r in got3] == [(1, 3)]


def test_proximity_search_guards(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_postings,
        proximity_search_topk,
        write_search_index,
    )

    path = _positional_store(spark, tmp_path)
    with pytest.raises(ValueError, match="duplicate"):
        proximity_search_topk(spark, path, ("alpha", "alpha"))
    with pytest.raises(ValueError, match="2-16"):
        proximity_search_topk(spark, path, ("alpha",))
    with pytest.raises(ValueError, match="2-16"):
        proximity_search_topk(
            spark, path, tuple(f"term{i:02d}" for i in range(17))
        )
    with pytest.raises(ValueError, match="shorter than"):
        proximity_search_topk(spark, path, ("alpha", "is"))
    flat = str(tmp_path / "flat")
    df = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, flat)
    with pytest.raises(ValueError, match="not positional"):
        proximity_search_topk(spark, flat, ("alpha", "beta"))


def test_proximity_position_cap_replayable(spark, tmp_path):
    """The per-term position cap keeps the list PREFIX — capped
    results are a deterministic function of the cap (the oracle
    replays the same slice)."""
    from docker_etl_spark.operators.search import proximity_search_topk

    rows = [(1, "alpha " + "pad " * 20 + "alpha gamma end")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        write_search_index,
    )

    path = str(tmp_path / "cap")
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)
    # uncapped: alpha@22 next to gamma@23 -> span 2
    full = proximity_search_topk(
        spark, path, ("alpha", "gamma"), slop=30, k=5
    ).collect()
    assert [(r["doc_id"], r["min_span"]) for r in full] == [(1, 2)]
    # cap=1 keeps only alpha@1 -> span 23
    capped = proximity_search_topk(
        spark, path, ("alpha", "gamma"), slop=30, k=5,
        max_positions_per_term=1,
    ).collect()
    assert [(r["doc_id"], r["min_span"]) for r in capped] == [(1, 23)]


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------


def test_pmi_collocations_exact_counts(spark):
    import math

    from docker_etl_spark.operators.text_analysis import pmi_collocations

    rows = [
        (1, "new york new york"),
        (2, "san francisco"),
        (3, "new jersey"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["w1"], r["w2"]): (r["n_pair"], r["pmi_scaled"])
        for r in pmi_collocations(df, min_count=2).collect()
    }
    # bigrams: new york x2, york new x1, san francisco x1, new jersey x1
    # N=5; c(new .)=3, c(. york)=2 -> pmi = ln(2*5/(3*2))
    assert set(out) == {("new", "york")}
    n_pair, pmi = out[("new", "york")]
    assert n_pair == 2
    assert pmi == round(1_000_000 * math.log(10 / 6))
    # min_count=1 surfaces all four pairs; marginals unchanged
    all_pairs = {
        (r["w1"], r["w2"]): r["pmi_scaled"]
        for r in pmi_collocations(df, min_count=1).collect()
    }
    assert len(all_pairs) == 4
    # san francisco: ln(1*5/(1*1)) = ln 5 -- the rare-pair pathology
    # min_count exists to drop
    assert all_pairs[("san", "francisco")] == round(1_000_000 * math.log(5))


# ---------------------------------------------------------------------------
# Positional store: streaming ingest parity + compaction preserves phrases
# ---------------------------------------------------------------------------


def test_positional_store_streaming_ingest_and_compaction(spark, tmp_path):
    """append_search_index dispatches the positional builder from the
    meta sidecar, so search_index_stream ingests into a positional
    store unchanged; folding batch deltas must leave phrase and
    proximity probes bit-identical."""
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        compact_search_index,
        phrase_search_topk,
        proximity_search_topk,
        write_search_index,
    )
    from docker_etl_spark.streaming import search_index_stream

    rows = [
        (i, ["alpha beta gamma", "beta gamma words", "gamma alpha beta",
             "plain filler text"][i % 4] + f" tail{i}")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    ref = str(tmp_path / "ref")
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, ref, positional=True)
    want_phrase = sorted(
        map(tuple, phrase_search_topk(spark, ref, ("beta", "gamma"), k=30).collect())
    )
    want_prox = sorted(
        map(
            tuple,
            proximity_search_topk(
                spark, ref, ("alpha", "gamma"), slop=2, k=30
            ).collect(),
        )
    )

    store = str(tmp_path / "stream")
    p0, s0 = build_positional_postings(
        df.filter(F.col("doc_id") % 3 == 0), "text", "doc_id"
    )
    write_search_index(p0, s0, store, batch_id=0, positional=True)
    sink = search_index_stream(store)
    for i in (1, 2):
        sink(df.filter(F.col("doc_id") % 3 == i), i)
    assert sorted(
        map(tuple, phrase_search_topk(spark, store, ("beta", "gamma"), k=30).collect())
    ) == want_phrase

    compact_search_index(spark, store, up_to_batch=2)
    assert sorted(
        map(tuple, phrase_search_topk(spark, store, ("beta", "gamma"), k=30).collect())
    ) == want_phrase
    assert sorted(
        map(
            tuple,
            proximity_search_topk(
                spark, store, ("alpha", "gamma"), slop=2, k=30
            ).collect(),
        )
    ) == want_prox


# ---------------------------------------------------------------------------
# Batch phrase search: one plan for a phrase eval set
# ---------------------------------------------------------------------------


def test_phrase_search_topk_batch_matches_single_calls(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_search_topk,
        phrase_search_topk_batch,
        write_search_index,
    )

    rows = [
        (1, "big data big pipelines move big data big"),
        (2, "data big data and more data"),
        (3, "small data only here"),
        (4, "big big big data data"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "idx")
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)

    phrases = {
        10: ("big", "data"),
        11: ("data", "big"),
        12: ("big", "data", "big"),   # repeated term, 3 slots
        13: ("small", "pipelines"),   # no match anywhere
    }
    queries = spark.createDataFrame(
        [(qid, list(ph)) for qid, ph in phrases.items()],
        "query_id long, phrase array<string>",
    )
    got = sorted(
        map(
            tuple,
            phrase_search_topk_batch(queries, path, k=10).collect(),
        )
    )
    want = []
    for qid, ph in phrases.items():
        for r in phrase_search_topk(spark, path, ph, k=10).collect():
            want.append((qid, r["doc_id"], r["phrase_tf"], r["rank"]))
    assert got == sorted(want)
    # sanity on the fixture: the repeated-term phrase matched doc 1
    # twice ("big data big" at 1 and 5) and the no-match query is absent
    by_q = {}
    for q, d, tf, rk in got:
        by_q.setdefault(q, []).append((d, tf, rk))
    assert by_q[12] == [(1, 2, 1)]
    assert 13 not in by_q
    # the whole eval set reads the postings store EXACTLY once, and
    # the per-query top-k plans as a group-limit (map-side), not a
    # global window
    plan = phrase_search_topk_batch(queries, path, k=10)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "WindowGroupLimit" in plan


def test_phrase_search_topk_batch_guards(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_postings,
        phrase_search_topk_batch,
        write_search_index,
    )

    path = _positional_store(spark, tmp_path, name="bguard")
    q = spark.createDataFrame(
        [(1, ["alpha", "is"])], "query_id long, phrase array<string>"
    )
    with pytest.raises(ValueError, match="shorter than"):
        phrase_search_topk_batch(q, path)
    q2 = spark.createDataFrame(
        [(1, ["alpha", "beta"]), (2, ["beta", "gamma"])],
        "query_id long, phrase array<string>",
    )
    with pytest.raises(ValueError, match="max_queries"):
        phrase_search_topk_batch(q2, path, max_queries=1)
    flat = str(tmp_path / "bflat")
    df = spark.createDataFrame([(1, "alpha beta")], "doc_id long, text string")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, flat)
    with pytest.raises(ValueError, match="not positional"):
        phrase_search_topk_batch(q2, flat)


# ---------------------------------------------------------------------------
# IVF-PQ compaction horizon (the search-store r9 ADVICE fix, symmetric)
# ---------------------------------------------------------------------------


def _toy_vectors(spark, n=150, dim=8):
    rows = [
        (i, [float((i * 7 + d * 13) % 23) / 3.0 for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, dv array<double>")


def test_ivfpq_write_below_compaction_horizon_rejected(spark, tmp_path):
    from docker_etl_spark.operators.similarity import (
        compact_ivfpq_store,
        ivfpq_append,
        ivfpq_build,
        load_ivfpq_store,
        read_ivfpq_horizon,
        write_ivfpq_store,
    )

    df = _toy_vectors(spark)
    base = df.filter(F.col("vec_id") < 50)
    index, coarse, books = ivfpq_build(
        base, "dv", "vec_id", dim=8, n_cells=2, m=2, k=3,
        max_training_points=40,
    )
    store = str(tmp_path / "store")
    write_ivfpq_store(index, coarse, books, store, batch_id=0, id_col="vec_id")
    b1 = df.filter((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    ivfpq_append(b1, store, "dv", "vec_id", batch_id=1)
    ivfpq_append(df.filter(F.col("vec_id") >= 100), store, "dv", "vec_id",
                 batch_id=2)
    assert read_ivfpq_horizon(spark, store) is None
    expect = sorted(map(tuple, load_ivfpq_store(spark, store)[0].collect()))

    compact_ivfpq_store(spark, store, up_to_batch=1)
    assert read_ivfpq_horizon(spark, store) == 1
    # redelivering a folded batch would duplicate code rows: rejected
    with pytest.raises(ValueError, match="compaction horizon"):
        ivfpq_append(b1, store, "dv", "vec_id", batch_id=1)
    with pytest.raises(ValueError, match="compaction horizon"):
        write_ivfpq_store(index, coarse, books, store, batch_id=0,
                          id_col="vec_id")
    with pytest.raises(ValueError, match="compaction horizon"):
        write_ivfpq_store(index, coarse, books, store, id_col="vec_id")
    # redelivery ABOVE the horizon stays idempotent; store unchanged
    ivfpq_append(df.filter(F.col("vec_id") >= 100), store, "dv", "vec_id",
                 batch_id=2)
    assert sorted(
        map(tuple, load_ivfpq_store(spark, store)[0].collect())
    ) == expect
    # a higher compaction raises the horizon; a lower one never lowers
    compact_ivfpq_store(spark, store, up_to_batch=2)
    assert read_ivfpq_horizon(spark, store) == 2
    compact_ivfpq_store(spark, store, up_to_batch=1)
    assert read_ivfpq_horizon(spark, store) == 2


# ---------------------------------------------------------------------------
# Randomized brute-force agreement: proximity + batch phrase over one store
# ---------------------------------------------------------------------------


def test_proximity_and_phrase_batch_match_bruteforce_model(spark, tmp_path):
    """Seeded random corpus, one positional store; min-span and
    phrase-tf verified against pure-Python brute force for a sweep of
    term pairs/triples and phrases (the property-test pattern with
    the store build paid once)."""
    import itertools
    import random

    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_search_topk_batch,
        proximity_search_topk,
        write_search_index,
    )

    rng = random.Random(20260816)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "it"]  # 'it' < mtl 3
    docs = {
        i: [rng.choice(vocab) for _ in range(rng.randint(2, 30))]
        for i in range(30)
    }
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()],
        "doc_id long, text string",
    )
    path = str(tmp_path / "rand")
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)

    def positions(ws, term):
        # 1-based RAW positions; min_token_len=3 filters 'it' from the
        # index but it still consumes a position
        return [i + 1 for i, w in enumerate(ws) if w == term and len(w) >= 3]

    def brute_min_span(ws, terms):
        pls = [positions(ws, t) for t in terms]
        if any(not pl for pl in pls):
            return None
        return min(
            max(c) - min(c) + 1 for c in itertools.product(*pls)
        )

    for terms in [("alpha", "beta"), ("gamma", "delta"),
                  ("alpha", "beta", "gamma"), ("eps", "delta", "beta")]:
        for slop in (0, 2, 5):
            got = {
                r["doc_id"]: r["min_span"]
                for r in proximity_search_topk(
                    spark, path, terms, slop=slop, k=100
                ).collect()
            }
            want = {}
            for i, ws in docs.items():
                sp = brute_min_span(ws, terms)
                if sp is not None and sp <= len(terms) + slop:
                    want[i] = sp
            assert got == want, (terms, slop)

    def brute_phrase_tf(ws, phrase):
        pls = [positions(ws, t) for t in set(phrase)]
        if any(not pl for pl in pls):
            return 0
        n = 0
        for st in range(1, len(ws) + 1):
            if all(
                st + off in positions(ws, t)
                for off, t in enumerate(phrase)
            ):
                n += 1
        return n

    phrases = {
        1: ["alpha", "beta"],
        2: ["beta", "alpha", "beta"],
        3: ["gamma", "gamma"],
        4: ["delta", "eps", "alpha"],
    }
    q = spark.createDataFrame(
        [(k, v) for k, v in phrases.items()],
        "query_id long, phrase array<string>",
    )
    got = {
        (r["query_id"], r["doc_id"]): r["phrase_tf"]
        for r in phrase_search_topk_batch(q, path, k=100).collect()
    }
    want = {}
    for qid, ph in phrases.items():
        for i, ws in docs.items():
            tf = brute_phrase_tf(ws, ph)
            if tf > 0:
                want[(qid, i)] = tf
    assert got == want


def test_proximity_search_topk_batch_matches_single_calls(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        proximity_search_topk,
        proximity_search_topk_batch,
    )

    path = _positional_store(spark, tmp_path, name="proxbatch")
    qdefs = {
        10: (("alpha", "gamma"), 0),
        11: (("alpha", "gamma"), 3),
        12: (("alpha", "beta", "gamma"), 1),
        13: (("delta", "beta"), 5),
    }
    q = spark.createDataFrame(
        [(qid, list(t), s) for qid, (t, s) in qdefs.items()],
        "query_id long, terms array<string>, slop int",
    )
    got = sorted(
        map(
            tuple,
            proximity_search_topk_batch(
                q, path, slop_col="slop", k=10
            ).collect(),
        )
    )
    want = []
    for qid, (t, s) in qdefs.items():
        for r in proximity_search_topk(spark, path, t, slop=s, k=10).collect():
            want.append((qid, r["doc_id"], r["min_span"], r["rank"]))
    assert got == sorted(want)
    # one pruned scan for the whole eval set; group top-k is map-side
    plan = (
        proximity_search_topk_batch(q, path, slop_col="slop", k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert "WindowGroupLimit" in plan
    # duplicate-term / wrong-arity queries are rejected with the id
    qbad = spark.createDataFrame(
        [(7, ["alpha", "alpha"])], "query_id long, terms array<string>"
    )
    with pytest.raises(ValueError, match="query_id=7"):
        proximity_search_topk_batch(qbad, path)


def test_search_index_stream_skips_redelivered_compacted_batch(
    spark, tmp_path
):
    """Crash between the scheduled fold and the checkpoint commit =>
    the engine redelivers the folded batch; the sink must treat it as
    a no-op (its rows are provably in the base), not raise through
    the horizon guard and not double-count."""
    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        write_search_index,
    )
    from docker_etl_spark.streaming import search_index_stream

    df = _search_docs(spark)
    store = str(tmp_path / "stream")
    b = {i: df.filter(F.col("doc_id") % 3 == i) for i in range(3)}
    p0, s0 = build_postings(b[0], "text", "doc_id")
    write_search_index(p0, s0, store, batch_id=0)
    sink = search_index_stream(store, compact_every=2)
    sink(b[1], 1)  # append + fold (horizon=1)
    expect = sorted(
        map(
            tuple,
            search_bm25_topk(spark, store, ("hash", "join"), k=30).collect(),
        )
    )
    sink(b[1], 1)  # redelivery after the fold: skip, no raise
    got = sorted(
        map(
            tuple,
            search_bm25_topk(spark, store, ("hash", "join"), k=30).collect(),
        )
    )
    assert got == expect
    sink(b[2], 2)  # later batches proceed normally
    assert (
        spark.read.parquet(store + "/postings")
        .filter(F.col("__batch_id") == 2)
        .count()
        > 0
    )


# ---------------------------------------------------------------------------
# Search-index census (store observability)
# ---------------------------------------------------------------------------


def test_search_index_census_counts_and_asof(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        search_index_census,
        write_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    df = spark.createDataFrame(
        [
            (1, "aaa bbb aaa"),        # dl=3, terms {aaa x2, bbb}
            (2, "bbb ccc"),            # dl=2
            (3, "x y"),                # zero indexed tokens: unsearchable
            (4, "aaa"),                # dl=1
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "census")
    p, s = build_postings(df.filter(F.col("doc_id") <= 2), "text", "doc_id")
    write_search_index(p, s, path, batch_id=0)
    append_search_index(df.filter(F.col("doc_id") > 2), path, batch_id=1)
    row = search_index_census(spark, path).collect()[0].asDict()
    assert row == {
        "n_terms": 3,            # aaa bbb ccc
        "n_docs": 3,             # doc 3 has no indexed tokens
        "n_postings": 5,         # (1,aaa)(1,bbb)(2,bbb)(2,ccc)(4,aaa)
        "max_df": 2,             # aaa and bbb both df=2 ...
        "max_df_term": "aaa",    # ... tie -> lower term
        "sum_dl": 6,
        "max_dl": 3,
        "n_batches": 2,
    }
    asof = search_index_census(
        spark, open_store(spark, path, as_of_batch=0)
    ).collect()[0]
    assert (asof["n_docs"], asof["n_postings"], asof["n_batches"]) == (2, 4, 1)


def test_phrase_match_positions_returns_sorted_starts(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        phrase_match_positions,
        write_search_index,
    )

    rows = [
        (1, "big data big pipelines move big data big"),
        (2, "data big data and more data"),
        (3, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pos")
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)
    got = {
        r["doc_id"]: (r["phrase_tf"], r["match_starts"], r["rank"])
        for r in phrase_match_positions(spark, path, ("big", "data")).collect()
    }
    # doc 1: "big data" at 1 and 6; doc 2: at 2
    assert got == {1: (2, [1, 6], 1), 2: (1, [2], 2)}


def test_scrub_spans_at_cuts_overlapping_spans_and_keeps_others(spark):
    from docker_etl_spark.operators.corpus import scrub_spans_at

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "untouched words here"),
        ],
        "doc_id long, text string",
    )
    # spans of 3 at starts 2 and 4: tokens 2-4 and 4-6 cut (overlap at 4)
    hits = spark.createDataFrame(
        [(1, 2), (1, 4)], "doc_id long, pos int"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in scrub_spans_at(docs, hits, span_len=3).collect()
    }
    assert got[1] == ("a", 6, 5)
    assert got[2] == ("untouched words here", 3, 0)


# ---------------------------------------------------------------------------
# Prefix (wildcard) search
# ---------------------------------------------------------------------------


def test_prefix_search_expansion_scoring_and_guards(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_postings,
        prefix_search_topk,
        search_bm25_topk,
        write_search_index,
    )

    rows = [
        (1, "window windows wind turbine"),
        (2, "window update"),
        (3, "winter storms arrive"),
        (4, "unrelated words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "pfx")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, path)

    # 'wind*' expands to {wind, window, windows}: docs 1 and 2 match;
    # scoring equals an explicit multi-term BM25 over the expansion
    got = sorted(
        map(tuple, prefix_search_topk(spark, path, "wind", k=10).collect())
    )
    want = sorted(
        map(
            tuple,
            search_bm25_topk(
                spark, path, ("wind", "window", "windows"), k=10
            ).collect(),
        )
    )
    assert got == want
    assert {r[0] for r in got} == {1, 2}
    # a 1-char prefix (shorter than the partition prefix) still works
    # via the startswith partition filter
    # ('words' in doc 4 also starts with 'w', so every doc matches)
    wi = {r["doc_id"] for r in prefix_search_topk(spark, path, "w", k=10).collect()}
    assert wi == {1, 2, 3, 4}
    # the maxBooleanClauses-style guard fails loudly
    with pytest.raises(ValueError, match="max_expanded_terms"):
        prefix_search_topk(spark, path, "w", k=10, max_expanded_terms=2)


def test_fuzzy_term_suggest_band_and_ranking(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_postings,
        fuzzy_term_suggest,
        write_search_index,
    )

    rows = [
        (1, "window window window"),
        (2, "window widow"),
        (3, "winnow grinder"),
        (4, "meadow window"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "fuzzy")
    p, s = build_postings(df, "text", "doc_id")
    write_search_index(p, s, path)
    got = [
        (r["term"], r["df"], r["dist"], r["rank"])
        for r in fuzzy_term_suggest(spark, path, "windod", max_dist=1).collect()
    ]
    # 'window' df=3 dist=1; 'winnow' is dist 2 (excluded); 'widow'
    # len 5 is inside the band but dist 2 (excluded)
    assert got == [("window", 3, 1, 1)]
    # dist 2 widens the net; ranking is df desc then dist then term
    got2 = [
        (r["term"], r["df"], r["dist"])
        for r in fuzzy_term_suggest(spark, path, "windod", max_dist=2).collect()
    ]
    assert got2 == [("window", 3, 1), ("widow", 1, 2), ("winnow", 1, 2)]
