"""The shared delta-store lifecycle in ``sources/stores.py``.

Both arms of the bounded sidecar operations (driver-direct and Spark)
run the same search-store, IVF-PQ-store and signature-ledger lifecycle
and must leave identical sidecars and answers; a tombstone list costs
no Spark job; the ledger's apply reads no schema and refuses the old
sidecar layout; compaction refuses a non-local store before it changes
anything; the Spark dictionary fold equals the driver-side one.
"""

from __future__ import annotations

import math
import os

import pytest

_ROWS = [
    (1, "spark shuffle join join window"),
    (2, "spark window aggregate scan"),
    (3, "join scan shuffle spark spark"),
    (4, "window join probe scan scan"),
    (5, "unique sentinel phrase spark"),
    (6, "spark spark spark join"),
    (7, "probe window window aggregate"),
    (8, "sentinel join scan"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _search_store(spark, path, split=4):
    from docker_etl_spark.operators.search import (
        build_postings,
        write_search_index,
    )

    p, s = build_postings(
        _docs(spark, [r for r in _ROWS if r[0] < split]), "text", "doc_id"
    )
    write_search_index(p, s, path, batch_id=0)
    return path


def _sidecars(path, names):
    """{sidecar: sorted (partition dirs, column types, row) triples},
    read with pyarrow whatever wrote the files."""
    import pyarrow.parquet as pq

    out = {}
    for name in names:
        root = os.path.join(path, name)
        got = []
        for d, _dirs, fns in os.walk(root):
            for fn in fns:
                if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                    t = pq.read_table(os.path.join(d, fn))
                    types = tuple((f.name, str(f.type)) for f in t.schema)
                    rel = os.path.relpath(d, root)
                    got += [
                        (rel, types, tuple(sorted(r.items())))
                        for r in t.to_pylist()
                    ]
        out[name] = sorted(got)
    return out


def _search_lifecycle(spark, path):
    from docker_etl_spark.operators.search import (
        _census_fold,
        append_search_index,
        delete_from_search_index,
        fuzzy_term_suggest,
        read_search_index_horizon,
        search_bm25_topk,
        search_bm25_topk_pruned,
        search_index_census,
    )
    from docker_etl_spark.sources.stores import open_store

    _search_store(spark, path)
    append_search_index(
        _docs(spark, [r for r in _ROWS if r[0] >= 4]), path, batch_id=1,
        assume_new_ids=False,
    )
    # no tombstone pending yet: the census folds the stats and dict
    # sidecars instead of scanning the postings
    assert _census_fold(open_store(spark, path)) is not None
    folded = search_index_census(spark, path).collect()
    delete_from_search_index(spark, path, [2, 6], batch_id=2)
    delete_from_search_index(
        spark, path, spark.createDataFrame([(7,), (7,)], "doc_id long"),
        batch_id=3,
    )
    assert read_search_index_horizon(spark, path) is None
    probes = {
        "topk": search_bm25_topk(spark, path, ("spark", "join"), k=10),
        "pruned": search_bm25_topk_pruned(
            spark, path, ("spark", "sentinel"), k=3
        ),
        "fuzzy": fuzzy_term_suggest(spark, path, "jpin"),
        "census": search_index_census(spark, path),
    }
    return {
        "folded_census": [tuple(r) for r in folded],
        **{
            name: sorted(tuple(r) for r in df.collect())
            for name, df in probes.items()
        },
    }, _sidecars(path, ("meta", "stats", "deletes"))


def _vec_rows(lo, hi, dim=8):
    return [
        (i, [math.sin(0.7 * i + j) for j in range(dim)])
        for i in range(lo, hi)
    ]


def _ivfpq_lifecycle(spark, path):
    from docker_etl_spark.operators.similarity import (
        delete_from_ivfpq_store,
        ivfpq_append,
        ivfpq_build,
        ivfpq_topk,
        load_ivfpq_store,
        read_ivfpq_horizon,
        write_ivfpq_store,
    )

    def vecs(lo, hi):
        return spark.createDataFrame(
            _vec_rows(lo, hi), "vec_id long, vec array<double>"
        )

    index, coarse, books = ivfpq_build(
        vecs(0, 30), "vec", "vec_id", dim=8, n_cells=2, m=2, k=4
    )
    write_ivfpq_store(index, coarse, books, path, batch_id=0)
    ivfpq_append(vecs(30, 40), path, "vec", "vec_id", batch_id=1,
                 assume_new_ids=False)
    delete_from_ivfpq_store(spark, path, [0, 1, 35], batch_id=2)
    assert read_ivfpq_horizon(spark, path) is None
    idx, coarse, books, _meta = load_ivfpq_store(spark, path)
    queries = spark.createDataFrame(
        [(100 + i, v) for i, v in _vec_rows(0, 4)],
        "qid long, vec array<double>",
    )
    probe = ivfpq_topk(
        queries, idx, coarse, books, vec_col="vec", query_id_col="qid",
        topk=3, nprobe=2,
    )
    return {
        "topk": sorted(tuple(r) for r in probe.collect()),
        "live": idx.count(),
    }, _sidecars(path, ("quantizer", "deletes"))


def _signature_store(spark, path):
    from docker_etl_spark.operators.text_dedup import (
        minhash_signature,
        word_shingles,
        write_signature_store,
    )

    sigs = _docs(spark, _ROWS).select(
        "doc_id",
        minhash_signature(word_shingles("text", 3), 12, "md5").alias("sig"),
    )
    write_signature_store(sigs, path, bands=3, num_perm=12)
    return path


def _signature_lifecycle(spark, path):
    from docker_etl_spark.operators.text_dedup import (
        apply_signature_deletes,
        delete_from_signature_store,
        load_signature_store,
    )

    def ids(apply_deletes=True):
        return sorted(
            r[0] for r in load_signature_store(spark, path, apply_deletes)
            .select("doc_id").distinct().collect()
        )

    _signature_store(spark, path)
    delete_from_signature_store(spark, path, [2, 6], batch_id=2)
    delete_from_signature_store(
        spark, path, spark.createDataFrame([(7,), (7,)], "doc_id long"),
        batch_id=3,
    )
    root = path + ".__lifecycle"
    pending = _sidecars(root, ("deletes",))["deletes"]
    live = ids()
    res = apply_signature_deletes(spark, path, up_to_batch=2)
    return {
        "live": live,
        "rows": res["rows"],
        "raw_after_apply": ids(apply_deletes=False),
        "live_after_apply": ids(),
    }, {"pending": pending, **_sidecars(root, ("deletes", "horizon"))}


@pytest.mark.parametrize(
    "lifecycle", [_search_lifecycle, _ivfpq_lifecycle, _signature_lifecycle]
)
def test_sidecar_arms_agree(spark, tmp_path, monkeypatch, lifecycle):
    """The write / append / delete / probe / census / load lifecycle
    gives the same answers and the same sidecar files (rows, column
    types, partition directories) on the driver-direct arm and on the
    Spark arm an object-store deployment runs."""
    from docker_etl_spark.sources import stores

    direct = lifecycle(spark, str(tmp_path / "direct"))
    with monkeypatch.context() as m:
        m.setattr(stores, "_driver_direct", lambda path: None)
        via_spark = lifecycle(spark, str(tmp_path / "spark"))
    assert via_spark == direct
    answers, sidecars = direct
    assert all(sidecars.values())
    assert all(answers.values())


def _jobs_in(spark, fn):
    """Spark jobs launched by ``fn()``, counted by job group."""
    sc = spark.sparkContext
    group = f"lifecycle-probe-{os.getpid()}-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "store, ids",
    [
        pytest.param("search", [3, 1, 3], id="ids0"),
        pytest.param("search", ["b", "a", "b"], id="ids1"),
        pytest.param("signature", [3, 1, 3], id="signature"),
    ],
)
def test_list_delete_takes_no_job(spark, tmp_path, store, ids):
    """A tombstone batch given as a Python list is written with no
    Spark job, and lands in the same partition with the same column
    type as the same ids given as a DataFrame (createDataFrame's
    inference: int → bigint, str → string)."""
    from docker_etl_spark.operators.search import delete_from_search_index
    from docker_etl_spark.operators.text_dedup import (
        delete_from_signature_store,
    )

    make, delete, root = {
        "search": (_search_store, delete_from_search_index, ""),
        "signature": (
            _signature_store, delete_from_signature_store, ".__lifecycle"
        ),
    }[store]
    listed = make(spark, str(tmp_path / "list"))
    framed = make(spark, str(tmp_path / "frame"))
    jobs = _jobs_in(spark, lambda: delete(spark, listed, ids, batch_id=5))
    assert jobs == []
    frame = spark.createDataFrame([(v,) for v in ids], ["doc_id"])
    delete(spark, framed, frame, batch_id=5)
    got = _sidecars(listed + root, ("deletes",))
    want = _sidecars(framed + root, ("deletes",))
    assert got == want
    assert {rel for rel, _t, _r in got["deletes"]} == {"__batch_id=5"}
    assert len(got["deletes"]) == 2


def test_signature_apply_reads_no_schema(spark, tmp_path, engine_aqe):
    """``apply_signature_deletes`` reads the ledger with its declared
    schema: at most 5 jobs and none of them a ``parquet at`` job (a
    schema inference; under adaptive execution the rewrite's own jobs
    are named by the adaptive stages that run them)."""
    from docker_etl_spark.operators.text_dedup import (
        apply_signature_deletes,
        delete_from_signature_store,
        load_signature_store,
    )

    path = _signature_store(spark, str(tmp_path / "sigs"))
    delete_from_signature_store(spark, path, [1, 6], batch_id=0)
    jobs = _jobs_in(
        spark, lambda: apply_signature_deletes(spark, path, up_to_batch=0)
    )
    tracker = spark.sparkContext.statusTracker()
    stages = [
        tracker.getStageInfo(s).name
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert 0 < len(jobs) <= 5, stages
    assert not any(n.startswith("parquet at") for n in stages), stages
    left = load_signature_store(spark, path, apply_deletes=False)
    assert {r[0] for r in left.select("doc_id").distinct().collect()} == {
        2, 3, 4, 5, 7, 8,
    }


def test_signature_apply_recovers_an_interrupted_swap(spark, tmp_path):
    """An apply that finds the ledger mid-swap (a crash between the two
    renames left only ``.__bak`` and a complete ``.__compact``) takes
    its schema from the backup, lets compaction roll the swap forward,
    and applies the pending tombstones."""
    import shutil

    from docker_etl_spark.operators.text_dedup import (
        apply_signature_deletes,
        delete_from_signature_store,
        load_signature_store,
    )

    path = _signature_store(spark, str(tmp_path / "sigs"))
    delete_from_signature_store(spark, path, [1], batch_id=0)
    shutil.copytree(path, path + ".__compact")
    os.rename(path, path + ".__bak")
    assert apply_signature_deletes(spark, path, up_to_batch=0) is not None
    assert not os.path.exists(path + ".__bak")
    left = load_signature_store(spark, path, apply_deletes=False)
    assert {r[0] for r in left.select("doc_id").distinct().collect()} == set(
        range(2, 9)
    )


def test_old_signature_sidecar_layout_raises(spark, tmp_path):
    """A ledger that still has pending tombstones in the old
    ``<path>.__deletes`` sidecar (``__del_batch`` partitions) is
    refused by every lifecycle call, naming that sidecar, rather than
    read as if nothing were pending."""
    from docker_etl_spark.operators.text_dedup import (
        apply_signature_deletes,
        delete_from_signature_store,
        load_signature_store,
        read_signature_deletes,
    )

    path = _signature_store(spark, str(tmp_path / "sigs"))
    spark.createDataFrame([(1, 0)], "doc_id long, __del_batch int").write \
        .partitionBy("__del_batch").parquet(path + ".__deletes")
    calls = (
        lambda: load_signature_store(spark, path),
        lambda: read_signature_deletes(spark, path),
        lambda: delete_from_signature_store(spark, path, [2], batch_id=0),
        lambda: apply_signature_deletes(spark, path, up_to_batch=0),
    )
    for call in calls:
        with pytest.raises(ValueError, match=r"sigs\.__deletes"):
            call()


def test_non_local_compaction_fails_before_any_change(spark, monkeypatch):
    """Compaction is local-only: an object-store path is refused with a
    ValueError before the horizon is recorded or any store is read."""
    from docker_etl_spark.operators.search import compact_search_index
    from docker_etl_spark.operators.similarity import compact_ivfpq_store
    from docker_etl_spark.sources import stores

    def untouched(*_a, **_k):
        raise AssertionError("store touched before the local-path check")

    for name in ("store_writer_lock", "parquet_write_completed",
                 "read_sidecar_rows", "write_sidecar_rows"):
        monkeypatch.setattr(stores, name, untouched)
    for compact in (compact_search_index, compact_ivfpq_store):

        def run(compact=compact):
            with pytest.raises(ValueError, match="local store path"):
                compact(spark, "s3a://bucket/store", up_to_batch=1)

        assert _jobs_in(spark, run) == []


@pytest.mark.parametrize("with_deletes", [False, True])
def test_spark_dict_fold_matches_driver_fold(
    spark, tmp_path, monkeypatch, with_deletes
):
    """The Spark dictionary fold (``fold_dict``, taken when the
    driver-side fold declines) gives the same folded dictionary as the
    driver-side fold, with and without tombstones to apply."""
    from docker_etl_spark.operators import search

    def compacted(path):
        _search_store(spark, path)
        search.append_search_index(
            _docs(spark, [r for r in _ROWS if r[0] >= 4]), path, batch_id=1
        )
        if with_deletes:
            search.delete_from_search_index(spark, path, [1, 6], batch_id=2)
        res = search.compact_search_index(spark, path, up_to_batch=2)
        return res, sorted(
            tuple(r)
            for r in search.read_search_dictionary(spark, path)
            .select("term", "df", "sum_tf", "max_tf")
            .collect()
        )

    res_direct, direct = compacted(str(tmp_path / "direct"))
    monkeypatch.setattr(
        search, "_compact_dict_driver_direct", lambda *a, **k: None
    )
    res_spark, via_spark = compacted(str(tmp_path / "spark"))
    assert via_spark == direct
    assert res_direct["dict"]["rows"] > 0 and res_spark["dict"]["rows"] > 0
    if with_deletes:
        # docs 1 and 6 gone: "spark" survives in docs 2, 3, 5 and
        # "shuffle" only in doc 3
        assert ("spark", 3, 4, 2) in direct
        assert ("shuffle", 1, 1, 1) in direct


def test_registry_store_paths_are_removed_at_exit(tmp_path):
    """A store-backed registry query's store outlives the query (the
    frame it returns is lazy) but not the process that made it."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import os\n"
        "from docker_etl_spark.queries import _x90_store_path\n"
        "p = _x90_store_path('atexit', 'sf')\n"
        "os.makedirs(os.path.join(p, 'postings'))\n"
        "print(p)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    path = out.stdout.strip().splitlines()[-1]
    assert path.startswith(str(tmp_path))
    assert not os.path.exists(path)
