"""Store snapshots (``sources/stores.open_store``): declared read
schemas, the per-probe job pin, snapshot isolation across an append,
and the guard that keeps store reads from inferring their schema.
"""

from __future__ import annotations

import ast
import math
import os
import shutil
from pathlib import Path

import pytest

_ROWS = [
    (1, "spark shuffle join join window"),
    (2, "spark window aggregate scan"),
    (3, "join scan shuffle spark spark"),
    (4, "window join probe scan scan"),
    (5, "unique sentinel phrase spark"),
    (6, "spark spark spark join"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _search_store(spark, path, rows=_ROWS, positional=False):
    from docker_etl_spark.operators.search import (
        build_positional_postings,
        build_postings,
        write_search_index,
    )

    builder = build_positional_postings if positional else build_postings
    p, s = builder(_docs(spark, rows), "text", "doc_id")
    write_search_index(p, s, path, batch_id=0, positional=positional)
    return path


def _ivfpq_store(spark, path):
    from docker_etl_spark.operators.similarity import (
        ivfpq_build,
        write_ivfpq_store,
    )

    vecs = spark.createDataFrame(
        [(i, [math.sin(0.7 * i + j) for j in range(8)]) for i in range(30)],
        "vec_id long, vec array<double>",
    )
    index, coarse, books = ivfpq_build(
        vecs, "vec", "vec_id", dim=8, n_cells=2, m=2, k=4
    )
    write_ivfpq_store(index, coarse, books, path, batch_id=0)
    return path


@pytest.mark.parametrize("kind", ["plain", "positional", "ivfpq"])
def test_declared_schemas_equal_inferred(spark, tmp_path, kind):
    """The schema a store records for each data directory is the one
    Spark infers on read, partition columns included."""
    from docker_etl_spark.sources.stores import open_store

    path = str(tmp_path / kind)
    if kind == "ivfpq":
        _ivfpq_store(spark, path)
        want = {"codes"}
    else:
        _search_store(spark, path, positional=kind == "positional")
        want = {"postings", "dict"}
    snap = open_store(spark, path)
    assert set(snap.schemas) == want
    for d, schema in snap.schemas.items():
        assert schema == spark.read.parquet(f"{path}/{d}").schema, d


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_all_digit_prefixes_pin_one_type(spark, tmp_path):
    """A store whose every ``__pfx`` is all digits: inference types the
    partition column int, the declared schema keeps it a string, and
    the BM25, fuzzy and census answers equal those computed from the
    inferring read."""
    from docker_etl_spark.operators.search import (
        bm25_topk_batch_from_postings,
        fuzzy_term_suggest,
        search_bm25_topk,
        search_index_census,
    )
    from docker_etl_spark.sources.stores import open_store

    rows = [
        (1, "1234 5678 1234 9012"),
        (2, "5678 9012 3456"),
        (3, "1234 3457 7890 7890"),
        (4, "9012 9013 1234"),
    ]
    path = _search_store(spark, str(tmp_path / "digits"), rows=rows)
    inferred = spark.read.parquet(path + "/postings")
    assert inferred.schema["__pfx"].dataType.simpleString() == "int"
    assert open_store(spark, path).schemas["postings"]["__pfx"].dataType \
        .simpleString() == "string"

    # BM25: the probe equals the from-postings ranking over the
    # inferring read
    terms = ("1234", "9012", "7890")
    got = [
        (r["doc_id"], r["n_terms"], r["score_scaled"], r["rank"])
        for r in search_bm25_topk(spark, path, terms, k=10).collect()
    ]
    qt = spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )
    want = [
        (r["doc_id"], r["n_terms"], r["score_scaled"], r["rank"])
        for r in bm25_topk_batch_from_postings(
            inferred, spark.read.parquet(path + "/stats"), qt, k=10
        ).orderBy("rank").collect()
    ]
    assert got == want and len(got) == 4

    prow = [r.asDict() for r in inferred.collect()]
    df = {}
    for r in prow:
        df[r["term"]] = df.get(r["term"], 0) + 1
    # fuzzy: every indexed term within one edit of the query, by df
    fz = sorted(
        (r["term"], r["df"], r["dist"])
        for r in fuzzy_term_suggest(spark, path, "9012", max_dist=1, k=10)
        .collect()
    )
    assert fz == sorted(
        (t, n, _levenshtein(t, "9012"))
        for t, n in df.items()
        if t != "9012" and _levenshtein(t, "9012") <= 1
    ) and fz
    # census
    c = search_index_census(spark, path).collect()[0].asDict()
    dl = {r["doc_id"]: r["dl"] for r in prow}
    top = min(df.items(), key=lambda kv: (-kv[1], kv[0]))
    assert c == {
        "n_terms": len(df), "n_docs": len(dl), "n_postings": len(prow),
        "max_df": top[1], "max_df_term": top[0], "sum_dl": sum(dl.values()),
        "max_dl": max(dl.values()), "n_batches": 1,
    }


def _stage_names(spark, fn):
    """Stage names of the Spark jobs ``fn()`` launches (one list per
    job), found by job group."""
    sc = spark.sparkContext
    group = f"snapshot-probe-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return [
        [tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds]
        for j in tracker.getJobIdsForGroup(group)
    ]


def test_probe_takes_at_most_four_jobs_and_no_schema_inference(
    spark, tmp_path
):
    """A BM25 and a phrase probe over a store with pending tombstones
    each launch at most 4 jobs, none of them a parquet schema
    inference (a "parquet at" job)."""
    from docker_etl_spark.operators.search import (
        delete_from_search_index,
        phrase_search_topk,
        search_bm25_topk,
    )

    path = _search_store(spark, str(tmp_path / "pin"), positional=True)
    delete_from_search_index(spark, path, [3], batch_id=1)
    probes = {
        "bm25": lambda: search_bm25_topk(
            spark, path, ("spark", "join"), k=3
        ).collect(),
        "phrase": lambda: phrase_search_topk(
            spark, path, ("spark", "window"), k=3
        ).collect(),
    }
    for name, probe in probes.items():
        probe()  # warm
        jobs = _stage_names(spark, probe)
        assert 0 < len(jobs) <= 4, (name, jobs)
        assert not any(
            s.startswith("parquet at") for stages in jobs for s in stages
        ), (name, jobs)


def test_probe_over_tombstones_takes_at_most_three_jobs(
    spark, tmp_path, engine_aqe
):
    """The pending tombstones exclude their ids with a literal
    predicate, not an anti-join whose broadcast is a job of its own: a
    BM25 and a phrase probe over a store with pending tombstones each
    launch at most 3 jobs under adaptive execution, and the deleted
    document is gone from both answers."""
    from docker_etl_spark.operators.search import (
        delete_from_search_index,
        phrase_search_topk,
        search_bm25_topk,
    )

    path = _search_store(spark, str(tmp_path / "pin3"), positional=True)
    delete_from_search_index(spark, path, [3], batch_id=1)
    probes = {
        "bm25": lambda: search_bm25_topk(
            spark, path, ("spark", "join"), k=10
        ).collect(),
        "phrase": lambda: phrase_search_topk(
            spark, path, ("spark", "shuffle"), k=10
        ).collect(),
    }
    for name, probe in probes.items():
        assert 3 not in {r["doc_id"] for r in probe()}, name
        jobs = _stage_names(spark, probe)
        assert 0 < len(jobs) <= 3, (name, jobs)


@pytest.mark.parametrize("literal_ids", [100, 0], ids=["literal", "join"])
@pytest.mark.parametrize(
    "id_type, ids", [("bigint", [1, None, 3]), ("string", ["a", None, "c"])]
)
def test_tombstone_predicate_equals_anti_join(
    spark, monkeypatch, id_type, ids, literal_ids
):
    """``drop_tombstoned`` answers as an anti-join on both of its arms
    (a literal predicate up to ``_TOMBSTONE_LITERAL_IDS`` ids, an
    anti-join past it): a null tombstone id matches nothing and a row
    with a null id survives."""
    from docker_etl_spark.sources import stores
    from docker_etl_spark.sources.stores import drop_tombstoned

    monkeypatch.setattr(stores, "_TOMBSTONE_LITERAL_IDS", literal_ids)
    vals = [1, 2, 3, 4] if id_type == "bigint" else ["a", "b", "c", "d"]
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate([*vals, None])], f"id {id_type}, n int"
    )
    tomb = spark.createDataFrame([(v,) for v in ids], f"id {id_type}")
    want = sorted(df.join(tomb, "id", "left_anti").collect(), key=lambda r: r.n)
    got = sorted(drop_tombstoned(df, ids, "id").collect(), key=lambda r: r.n)
    assert got == want
    assert [n for _v, n in got] == [1, 3, 4]


def test_probes_and_compaction_agree_past_the_literal_bound(
    spark, tmp_path, monkeypatch
):
    """Past ``_TOMBSTONE_LITERAL_IDS`` pending ids, reads and the
    compaction fold exclude the tombstones with an anti-join; probes,
    a compaction and the census answer as under the literal
    predicate, and only the join arm plans a join."""
    from docker_etl_spark.operators.search import (
        compact_search_index,
        delete_from_search_index,
        phrase_search_topk,
        search_bm25_topk,
        search_index_census,
    )
    from docker_etl_spark.sources import stores

    def run(literal_ids):
        monkeypatch.setattr(stores, "_TOMBSTONE_LITERAL_IDS", literal_ids)
        path = _search_store(
            spark, str(tmp_path / f"arm{literal_ids}"), positional=True
        )
        delete_from_search_index(spark, path, [3, 6, 99], batch_id=1)
        bm25 = search_bm25_topk(spark, path, ("spark", "join"), k=10)
        plan = bm25._jdf.queryExecution().optimizedPlan().toString()
        got = (
            sorted(map(tuple, bm25.collect())),
            sorted(map(tuple, phrase_search_topk(
                spark, path, ("spark", "window"), k=10).collect())),
        )
        compact_search_index(spark, path, up_to_batch=1)
        census = tuple(search_index_census(spark, path).collect()[0])
        return plan.count("LeftAnti"), got, census

    lit_anti, lit, lit_census = run(100)
    join_anti, joined, join_census = run(2)
    assert (joined, join_census) == (lit, lit_census)
    assert {r[0] for r in lit[0]}.isdisjoint({3, 6})
    assert lit_census[1] == 4  # n_docs
    assert join_anti > lit_anti


def test_string_id_ledger_live_read_equals_anti_join(spark, tmp_path):
    """A signature ledger keyed by string ids: the live read equals the
    raw read anti-joined with its pending tombstones."""
    from docker_etl_spark.operators.text_dedup import (
        delete_from_signature_store,
        load_signature_store,
        minhash_signature,
        read_signature_deletes,
        word_shingles,
        write_signature_store,
    )

    path = str(tmp_path / "sigs")
    sigs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in _ROWS], "doc_id string, text string"
    ).select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
    )
    write_signature_store(sigs, path, bands=3, num_perm=12)
    delete_from_signature_store(spark, path, ["d2", "d5", "nope"], batch_id=0)
    raw = load_signature_store(spark, path, apply_deletes=False)
    dels = read_signature_deletes(spark, path).select("doc_id")
    want = sorted(tuple(r) for r in raw.join(dels, "doc_id", "left_anti")
                  .select("doc_id", "band", "bkey").collect())
    got = sorted(tuple(r) for r in load_signature_store(spark, path)
                 .select("doc_id", "band", "bkey").collect())
    assert got == want
    assert {r[0] for r in got} == {"d1", "d3", "d4", "d6"}


def test_shared_snapshot_ignores_a_later_append(spark, tmp_path):
    """Two probes sharing one snapshot answer as the store stood when
    it was taken, even when an append commits between them; a fresh
    probe sees the append."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        phrase_search_topk,
        search_bm25_topk,
        search_index_census,
    )
    from docker_etl_spark.sources.stores import open_store

    path = _search_store(spark, str(tmp_path / "iso"), positional=True)

    def answers(store):
        return (
            sorted(map(tuple, search_bm25_topk(
                spark, store, ("spark", "join"), k=10).collect())),
            sorted(map(tuple, phrase_search_topk(
                spark, store, ("spark", "window"), k=10).collect())),
            tuple(search_index_census(spark, store).collect()[0]),
        )

    before = answers(path)
    snap = open_store(spark, path)
    bm25 = sorted(map(tuple, search_bm25_topk(
        spark, snap, ("spark", "join"), k=10).collect()))
    append_search_index(
        _docs(spark, [(7, "spark window spark join"), (8, "join join spark")]),
        path, batch_id=1,
    )
    assert (bm25, *answers(snap)[1:]) == before
    assert answers(snap) == before
    after = answers(path)
    assert after != before and after[2][1] == 8  # n_docs


def test_probes_return_the_stores_own_id_column(spark, tmp_path):
    """A store built with a non-``doc_id`` id column: each probe names
    the column from the snapshot's postings schema, with no id
    argument, returns it and drops its tombstoned ids by it."""
    from docker_etl_spark.operators.search import (
        bm25_term_snippets,
        build_positional_postings,
        delete_from_search_index,
        fuzzy_term_suggest,
        phrase_search_topk,
        proximity_search_topk,
        search_bm25_topk,
        search_bm25_topk_batch,
        search_bm25_topk_pruned,
        search_index_census,
        write_search_index,
    )

    docs = spark.createDataFrame(_ROWS, "url_id long, text string")
    path = str(tmp_path / "url")
    p, s = build_positional_postings(docs, "text", "url_id")
    write_search_index(p, s, path, batch_id=0, positional=True)
    delete_from_search_index(spark, path, [6], batch_id=1, id_col="url_id")
    queries = spark.createDataFrame(
        [(1, ["spark", "join"])], "query_id int, terms array<string>"
    )
    probes = {
        "bm25": search_bm25_topk(spark, path, ("spark", "join")),
        "batch": search_bm25_topk_batch(queries, path),
        "pruned": search_bm25_topk_pruned(spark, path, ("spark", "join")),
        "phrase": phrase_search_topk(spark, path, ("join", "join")),
        "proximity": proximity_search_topk(
            spark, path, ("join", "window"), slop=1
        ),
        "snippets": bm25_term_snippets(docs, path, ("sentinel",)),
    }
    got = {
        name: {r["url_id"] for r in df.collect()}
        for name, df in probes.items()
    }
    assert got == {
        "bm25": {1, 2, 3, 4, 5},
        "batch": {1, 2, 3, 4, 5},
        "pruned": {1, 2, 3, 4, 5},
        "phrase": {1},
        "proximity": {1, 4},
        "snippets": {5},
    }
    assert search_index_census(spark, path).collect()[0]["n_docs"] == 5
    assert [r["term"] for r in fuzzy_term_suggest(
        spark, path, "sparc").collect()] == ["spark"]


# ---------------------------------------------------------------------------
# Census: the metadata fold and its scan arm
# ---------------------------------------------------------------------------

#: the zero-token fixture of the round-10 census test: doc 3 indexes no
#: token (every word shorter than min_token_len)
_CENSUS_ROWS = [
    (1, "aaa bbb aaa"),
    (2, "bbb ccc"),
    (3, "x y"),
    (4, "aaa"),
]

#: a document id no store here ever ingests
_NEVER = 10**6


def _census(spark, store):
    """The census of ``store`` as a dict, checking it is one row."""
    from docker_etl_spark.operators.search import search_index_census

    rows = search_index_census(spark, store).collect()
    assert len(rows) == 1
    return rows[0].asDict()


def _two_batch_store(spark, path, rows=_CENSUS_ROWS):
    """``rows`` with ids ≤ 2 as batch 0, the rest appended as batch 1."""
    from docker_etl_spark.operators.search import append_search_index

    _search_store(spark, path, rows=[r for r in rows if r[0] <= 2])
    append_search_index(
        _docs(spark, [r for r in rows if r[0] > 2]), path, batch_id=1
    )
    return path


def _zero_token(spark, path):
    return _two_batch_store(spark, path), None, 2


def _sum_fold(spark, path):
    from docker_etl_spark.operators.search import compact_search_index

    _two_batch_store(spark, path)
    compact_search_index(spark, path, up_to_batch=1)
    return path, None, 2


def _tombstone_fold(spark, path):
    from docker_etl_spark.operators.search import (
        compact_search_index,
        delete_from_search_index,
    )

    _two_batch_store(spark, path)
    delete_from_search_index(spark, path, [1], batch_id=2)
    compact_search_index(spark, path, up_to_batch=2)
    return path, None, 3


def _as_of(spark, path):
    return _two_batch_store(spark, path), 0, 0


def _digits(spark, path):
    rows = [
        (1, "1234 5678 1234 9012"),
        (2, "5678 9012 3456"),
        (3, "1234 3457 7890 7890"),
        (4, "9012 9013 1234"),
    ]
    return _two_batch_store(spark, path, rows), None, 2


def _tokenless_batch(spark, path):
    """A third batch whose only document indexes no token: stats gets
    its row, postings and dict no partition."""
    from docker_etl_spark.operators.search import append_search_index

    _two_batch_store(spark, path)
    append_search_index(_docs(spark, [(5, "a b c")]), path, batch_id=2)
    return path, None, 3


def _meta_only(spark, path):
    """The crash window after the first write's meta: no batch of any
    directory committed."""
    _search_store(spark, path, rows=[])
    shutil.rmtree(path + "/stats")
    return path, None, 0


@pytest.mark.parametrize(
    "state",
    [_zero_token, _sum_fold, _tombstone_fold, _as_of, _digits,
     _tokenless_batch, _meta_only],
    ids=["zero_token", "sum_fold", "tombstone_fold", "as_of", "digits",
         "tokenless_batch", "meta_only"],
)
def test_census_fold_equals_scan(spark, tmp_path, state):
    """The census folded from the stats and dict sidecars equals the
    postings scan across store states. The reference scan is forced by
    a pending tombstone that names a never-ingested id, which changes
    no answer."""
    from docker_etl_spark.operators.search import (
        _census_fold,
        delete_from_search_index,
    )
    from docker_etl_spark.sources.stores import open_store

    path, as_of, tomb_batch = state(spark, str(tmp_path / "s"))
    snap = open_store(spark, path, as_of_batch=as_of)
    assert _census_fold(snap) is not None
    folded = _census(spark, snap)
    delete_from_search_index(spark, path, [_NEVER], batch_id=tomb_batch)
    snap = open_store(spark, path, as_of_batch=as_of)
    assert snap.tombstones == (_NEVER,)
    assert _census_fold(snap) is None
    assert _census(spark, snap) == folded


def test_census_fold_counts_by_hand_and_takes_no_job(spark, tmp_path):
    """With no pending tombstones the census launches no Spark job, and
    answers the round-10 hand counts (doc 3 indexed no token, so it is
    not a searchable document)."""
    path = _two_batch_store(spark, str(tmp_path / "hand"))
    want = {
        "n_terms": 3, "n_docs": 3, "n_postings": 5, "max_df": 2,
        "max_df_term": "aaa", "sum_dl": 6, "max_dl": 3, "n_batches": 2,
    }
    _census(spark, path)  # warm
    got = {}
    jobs = _stage_names(spark, lambda: got.update(_census(spark, path)))
    assert jobs == []
    assert got == want


def _foreign_stats(spark, path):
    """Stats written from a frame without n_searchable/max_dl (postings
    built elsewhere carry no stats observation)."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        build_postings,
        write_search_index,
    )

    p, s = build_postings(
        _docs(spark, [r for r in _CENSUS_ROWS if r[0] <= 2]), "text", "doc_id"
    )
    write_search_index(
        p.select("*"), s.select("n_docs", "sum_dl"), path, batch_id=0
    )
    append_search_index(
        _docs(spark, [r for r in _CENSUS_ROWS if r[0] > 2]), path, batch_id=1
    )


def _two_column_stats(spark, path):
    """Stats files with only the n_docs and sum_dl columns, as stores
    written before n_searchable/max_dl existed have them."""
    import pyarrow.parquet as pq

    _two_batch_store(spark, path)
    for f in Path(path, "stats").rglob("*.parquet"):
        pq.write_table(pq.read_table(f, columns=["n_docs", "sum_dl"]), f)
    # the Spark arm's writer left checksums of the old bytes
    for f in Path(path, "stats").rglob(".*.crc"):
        f.unlink()


def _uncommitted_dict(spark, path):
    _two_batch_store(spark, path)
    shutil.rmtree(path + "/dict")


@pytest.mark.parametrize("arm", ["direct", "spark"])
@pytest.mark.parametrize(
    "state",
    [_foreign_stats, _two_column_stats, _uncommitted_dict],
    ids=["foreign_stats", "two_column_stats", "uncommitted_dict"],
)
def test_census_scans_where_no_fold_is_exact(
    spark, tmp_path, monkeypatch, state, arm
):
    """A stats row without the fold's facts (null, or a file without
    the columns) and the uncommitted-dict crash window each take the
    scan, which answers as the folded census of the intact store — on
    the driver-direct sidecar arm and on the Spark arm an object-store
    deployment runs."""
    from docker_etl_spark.operators.search import _census_fold
    from docker_etl_spark.sources import stores
    from docker_etl_spark.sources.stores import open_store

    if arm == "spark":
        monkeypatch.setattr(stores, "_driver_direct", lambda path: None)
    want = _census(spark, _two_batch_store(spark, str(tmp_path / "ok")))
    path = str(tmp_path / "s")
    state(spark, path)
    snap = open_store(spark, path)
    assert _census_fold(snap) is None
    assert _census(spark, snap) == want


def test_census_of_an_emptied_store_is_one_row(spark, tmp_path):
    """Both documents deleted: the census is one row, pending (dict
    term facts still count the deleted documents, the doc-side COUNTs
    read 0 and its SUM/MAX null) and after the compaction that applies
    the deletes (every COUNT 0, every SUM/MAX null)."""
    from docker_etl_spark.operators.search import (
        compact_search_index,
        delete_from_search_index,
    )

    path = _search_store(
        spark, str(tmp_path / "empty"), rows=_CENSUS_ROWS[:2]
    )
    delete_from_search_index(spark, path, [1, 2], batch_id=1)
    assert _census(spark, path) == {
        "n_terms": 3, "n_docs": 0, "n_postings": 0, "max_df": 2,
        "max_df_term": "bbb", "sum_dl": None, "max_dl": None,
        "n_batches": 1,
    }
    compact_search_index(spark, path, up_to_batch=1)
    assert _census(spark, path) == {
        "n_terms": 0, "n_docs": 0, "n_postings": 0, "max_df": None,
        "max_df_term": None, "sum_dl": None, "max_dl": None,
        "n_batches": 0,
    }


def test_batch_id_must_fit_the_declared_int(spark, tmp_path):
    """``__batch_id`` is declared int: a batch id past it is refused
    before anything is written, not read back as null."""
    from docker_etl_spark.operators.search import delete_from_search_index

    path = _search_store(spark, str(tmp_path / "bid"))
    with pytest.raises(ValueError, match="does not fit"):
        delete_from_search_index(spark, path, [1], batch_id=2**31)
    assert not os.path.exists(path + "/deletes")


def test_pruned_probe_without_committed_dictionary(spark, tmp_path):
    """With the dictionary write uncommitted (the crash window), the
    pruned probe prunes with (df, max_tf) aggregated from the postings
    and still equals the exhaustive probe."""
    from docker_etl_spark.operators.search import (
        search_bm25_topk,
        search_bm25_topk_pruned,
    )

    rows = []
    for i in range(1, 41):
        words = ["common", f"filler{i % 7}", "pad"]
        if i % 10 == 0:
            words += ["rare", "rare"]
        rows.append((i, " ".join(words)))
    path = _search_store(spark, str(tmp_path / "nodict"), rows=rows)
    shutil.rmtree(path + "/dict")
    diag = {}
    got = [tuple(r) for r in search_bm25_topk_pruned(
        spark, path, ("rare", "common"), k=3, _diag=diag).collect()]
    ref = [tuple(r) for r in search_bm25_topk(
        spark, path, ("rare", "common"), k=3).collect()]
    assert diag["mode"] == "pruned", diag
    assert got == ref and len(got) == 3


def test_old_meta_without_schemas_is_refused(spark, tmp_path):
    """A store whose meta records no data schemas (written before they
    were declared) is refused with a rebuild hint, not read by
    inference."""
    from docker_etl_spark.operators.search import search_bm25_topk
    from docker_etl_spark.sources.stores import write_sidecar_rows

    path = _search_store(spark, str(tmp_path / "old"))
    write_sidecar_rows(
        spark, path + "/meta", [(2, 3, False)],
        [("prefix_len", "int32"), ("min_token_len", "int32"),
         ("positional", "bool")],
    )
    with pytest.raises(ValueError, match="rebuild"):
        search_bm25_topk(spark, path, ("spark",))


# ---------------------------------------------------------------------------
# Guard: store reads declare their schema
# ---------------------------------------------------------------------------

_SCANNED = (
    "docker_etl_spark/operators/dedupe.py",
    "docker_etl_spark/operators/search.py",
    "docker_etl_spark/operators/similarity.py",
    "docker_etl_spark/operators/text_dedup.py",
    "docker_etl_spark/sources/stores.py",
    "docker_etl_spark/streaming/core.py",
)

#: (file, function) → why its parquet read may infer the schema
_INFERRING_READS = {
    ("docker_etl_spark/sources/stores.py", "read_sidecar_rows"):
        "Spark arm of a bounded sidecar with no declared schema (meta, "
        "horizon, deletes, quantizer); local stores read pyarrow",
    ("docker_etl_spark/operators/text_dedup.py", "load_signature_store"):
        "public reader with no batch to type the id column from; the "
        "streaming ledger sink reads with signature_store_schema",
}


def _receiver_chain(node):
    """Attribute names and called method names from ``node`` down to
    the chain's root."""
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        if isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value
        elif isinstance(node, ast.Call):
            node = node.func
        else:
            node = node.value


def _parquet_reads(tree):
    """(enclosing function, line) of every ``….parquet(…)`` call whose
    receiver chain neither declares a schema nor writes."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                and fn is None
                else fn
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "parquet"
            ):
                chain = set(_receiver_chain(child.func.value))
                if not chain & {"schema", "write", "writeStream"}:
                    found.append((name, child.lineno))
            visit(child, name)

    visit(tree, None)
    return found


def test_store_reads_declare_their_schema():
    """Every parquet read in the store modules declares its schema
    (``spark.read.schema(...).parquet(...)``), except the named
    exceptions above — a bare read runs a schema-inference job per
    call."""
    root = Path(__file__).resolve().parents[1]
    bad, used = [], set()
    for rel in _SCANNED:
        tree = ast.parse((root / rel).read_text())
        for fn, line in _parquet_reads(tree):
            if (rel, fn) in _INFERRING_READS:
                used.add((rel, fn))
            else:
                bad.append(f"{rel}:{line} in {fn}")
    assert not bad, "schema-inferring store reads: " + ", ".join(bad)
    assert used == set(_INFERRING_READS), "stale allowlist entries"


def test_guard_flags_a_bare_read():
    src = (
        "def probe(spark, p, s):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.schema(s).parquet(p)\n"
        "    r = spark.read\n"
        "    c = r.parquet(p)\n"
        "    a.write.mode('overwrite').parquet(p)\n"
    )
    assert _parquet_reads(ast.parse(src)) == [("probe", 2), ("probe", 5)]
