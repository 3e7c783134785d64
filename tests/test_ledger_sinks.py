"""The streaming ledger sinks (``streaming/core.py`` LEDGER SINKS):
declared ledger schemas, the all-digit digest prefix, and redelivery
of a completed batch over all four sinks.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

_TEXTS = [
    "the quick brown fox jumps over the lazy dog by the river",
    "a slow green turtle walks under the tall oak tree at noon",
    "the old sailor reads weathered charts beside a flickering oil lamp",
    "the baker kneads warm dough before sunrise every single morning",
    "the astronomer counts distant stars above silent frozen hills",
]

#: three micro-batches: batch 1 repeats batch-0 content (an exact and a
#: near copy), batch 2 repeats batch-1 and batch-0 content at new ids
_DOC_BATCHES = [
    [(1, _TEXTS[0]), (2, _TEXTS[1]), (3, _TEXTS[2])],
    [(11, _TEXTS[0]), (12, _TEXTS[1] + " today"), (13, _TEXTS[3])],
    [(21, _TEXTS[3]), (22, _TEXTS[2]), (23, _TEXTS[4])],
]


def _vec(i):
    return [math.sin(1.3 * i + j) for j in range(8)]


_VEC_BATCHES = [
    [(1, _vec(1)), (2, _vec(2))],
    [(11, _vec(1)), (12, _vec(3))],
    [(21, _vec(3)), (22, _vec(2)), (23, _vec(4))],
]


def _sink(kind, root):
    from docker_etl_spark import streaming as S

    if kind == "minhash":
        return S.minhash_dedup_stream(
            root + "/store", root + "/out", compact_every=2
        )
    if kind == "embedding":
        return S.embedding_dedup_stream(
            root + "/store", root + "/out", dim=8, compact_every=2
        )
    if kind == "cdc":
        return S.cdc_chunk_dedup_stream(root + "/store", root + "/out")
    return S.curation_stream(
        root + "/digests", root + "/sigs", root + "/out",
        digest_prefix_chars=1, compact_every=2,
    )


def _batches(spark, kind):
    if kind == "embedding":
        schema = "vec_id long, embedding array<double>"
        rows = _VEC_BATCHES
    else:
        schema = "doc_id long, text string"
        rows = _DOC_BATCHES
    return [spark.createDataFrame(r, schema) for r in rows]


def _rows(spark, path, batch=None):
    df = spark.read.parquet(path)
    if batch is not None:
        df = df.filter(F.col("__batch_id") == batch)
    return sorted(repr(tuple(r)) for r in df.collect())


def _doc_ids(spark, kind, path, batch):
    df = spark.read.parquet(path).filter(F.col("__batch_id") == batch)
    if kind == "cdc":
        return {r[0] // 1_000_000 for r in df.select("chunk_id").collect()}
    id_col = "vec_id" if kind == "embedding" else "doc_id"
    return {r[0] for r in df.select(id_col).collect()}


@pytest.mark.parametrize("kind", ["minhash", "embedding", "cdc", "curation"])
def test_ledger_sink_redelivery_changes_nothing(spark, tmp_path, kind):
    """Redelivering a completed batch leaves the ``out_path`` rows as
    they were, and the next batch decides exactly as it does in a run
    without the redelivery (the re-appended ledger rows are
    results-neutral; with ``compact_every=2`` the redelivered batch
    compacts the ledgers a second time)."""
    b0, b1, b2 = _batches(spark, kind)
    redelivered = str(tmp_path / "redelivered")
    sink = _sink(kind, redelivered)
    sink(b0, 0)
    sink(b1, 1)
    before = _rows(spark, redelivered + "/out")
    sink(b1, 1)
    assert _rows(spark, redelivered + "/out") == before
    sink(b2, 2)

    control = str(tmp_path / "control")
    sink = _sink(kind, control)
    for i, b in enumerate((b0, b1, b2)):
        sink(b, i)
    assert _rows(spark, redelivered + "/out", 2) == _rows(
        spark, control + "/out", 2
    )
    # batch 2's copies of earlier content were dropped, its new doc kept
    assert _doc_ids(spark, kind, control + "/out", 2) == {23}


def _md5(text):
    return hashlib.md5(text.encode()).hexdigest()


def test_curation_digest_ledger_with_all_digit_prefixes(spark, tmp_path):
    """A digest ledger whose every committed prefix is a decimal digit:
    inference would type ``digest_prefix`` int and the next batch's
    string prefix pruning would fail with CAST_INVALID_INPUT; the
    declared schema keeps the prefix a string."""
    from docker_etl_spark.streaming import curation_stream

    texts = [f"the river runs past the old mill and the bridge number {i}"
             for i in range(20)]
    digit = next(t for t in texts if _md5(t)[0].isdigit())
    letter = next(t for t in texts if not _md5(t)[0].isdigit())
    root = str(tmp_path)
    sink = curation_stream(
        root + "/digests", root + "/sigs", root + "/out",
        digest_prefix_chars=1,
    )
    schema = "doc_id long, text string"
    sink(spark.createDataFrame([(1, digit)], schema), 0)
    assert spark.read.parquet(root + "/digests").schema[
        "digest_prefix"
    ].dataType.simpleString() == "int"
    sink(spark.createDataFrame([(2, letter), (3, digit)], schema), 1)
    got = {r[0] for r in spark.read.parquet(root + "/out").collect()}
    assert got == {1, 2}
    digests = {
        r["content_md5"]
        for r in spark.read.parquet(root + "/digests").collect()
    }
    assert digests == {_md5(digit), _md5(letter)}


@pytest.mark.parametrize(
    "ledger", ["digests", "signatures-md5", "signatures-xxhash64", "vectors"]
)
def test_ledger_declared_schemas_equal_inferred(spark, tmp_path, ledger):
    """Each ledger's declared read schema is the one Spark infers on a
    store with mixed (digit and letter) prefixes."""
    from docker_etl_spark.operators.dedupe import (
        DIGEST_SCHEMA,
        write_digest_store,
    )
    from docker_etl_spark.operators.similarity import vector_store_schema
    from docker_etl_spark.operators.text_dedup import signature_store_schema
    from docker_etl_spark.streaming import (
        embedding_dedup_stream,
        minhash_dedup_stream,
    )

    path = str(tmp_path / ledger)
    if ledger == "digests":
        digests = spark.createDataFrame(
            [(_md5(t),) for t in _TEXTS], "content_md5 string"
        )
        write_digest_store(digests, path, prefix_chars=1)
        prefixes = {_md5(t)[0] for t in _TEXTS}
        assert any(p.isdigit() for p in prefixes)
        assert not all(p.isdigit() for p in prefixes)
        declared = DIGEST_SCHEMA
    elif ledger == "vectors":
        b0 = _batches(spark, "embedding")[0]
        embedding_dedup_stream(path, str(tmp_path / "out"), dim=8)(b0, 0)
        declared = vector_store_schema("bigint")
    else:
        hash_fn = ledger.split("-")[1]
        b0 = _batches(spark, "minhash")[0]
        minhash_dedup_stream(
            path, str(tmp_path / "out"), hash_fn=hash_fn
        )(b0, 0)
        declared = signature_store_schema("bigint", hash_fn)
    assert (
        spark.read.schema(declared).parquet(path).schema
        == spark.read.parquet(path).schema
    )


def test_content_dedup_prefix_path_jobs(spark, tmp_path, engine_aqe):
    """The prefix fast path of ``incremental_content_dedup`` launches
    two jobs while it builds its frame, and no checkpoint of the
    window dedup: the batch's pin, one task per batch partition so the
    md5 runs on all cores, then the distinct-prefix collect over the
    pinned rows, one task with no shuffle. The answer is unchanged."""
    from docker_etl_spark.operators.dedupe import (
        incremental_content_dedup,
        load_digest_store,
        write_digest_store,
    )
    from tests.test_store_lifecycle import _jobs_in

    path = str(tmp_path / "digests")
    write_digest_store(
        spark.createDataFrame(
            [(_md5(t),) for t in _TEXTS[:3]], "content_md5 string"
        ),
        path, prefix_chars=1,
    )
    batch = spark.createDataFrame(
        [(1, _TEXTS[0]), (2, _TEXTS[3]), (3, _TEXTS[3]), (4, _TEXTS[4])],
        "doc_id long, text string",
    ).repartition(2).localCheckpoint()
    built = []
    jobs = _jobs_in(spark, lambda: built.append(incremental_content_dedup(
        batch, load_digest_store(spark, path), prefix_chars=1,
    )))
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        [tracker.getStageInfo(s).numTasks
         for s in tracker.getJobInfo(j).stageIds]
        for j in sorted(jobs)
    ]
    assert tasks == [[2], [1]], tasks
    assert sorted(r["doc_id"] for r in built[0].collect()) == [2, 4]
