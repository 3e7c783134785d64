"""Streaming semantics from the reference, as Structured Streaming
(SURVEY.md §2.11).

The reference's one true stream is the fxci pulse consumer (kombu
AMQP → buffered batches → BigQuery with GCS dead-letter), plus
windowed-batch DAP collectors. The mappings implemented here:

- T1 drain-until-quiet  → Trigger.AvailableNow (process the backlog,
  then stop) — fxci_etl/pulse/consume.py:47-60.
- T2 buffered micro-batching → native micro-batch model.
- T3 natural-key dedup  → withWatermark + dropDuplicates —
  fxci_etl/loaders/bigquery.py:60-73.
- T4 dead-letter on failed sink writes → foreachBatch with a
  failure-capture path — fxci_etl/loaders/bigquery.py:129-220 (failed
  inserts persisted to GCS, replayed next run).
- T6 fixed tumbling collection windows → window(ts, "5 minutes") —
  dap_collector/main.py:17,129-148.
- T8 lateness margin → withWatermark — etl/user_reports_aggregate.py:17-31
  (CURRENT_DATE - 2 days margin).

Event-time columns must be TIMESTAMP (LTZ): Spark rejects watermarks
on TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Cast NTZ
event time with ``col.cast("timestamp")`` (session timezone applies —
the engine pins UTC).

LEDGER SINKS. ``minhash_dedup_stream``, ``embedding_dedup_stream``,
``cdc_chunk_dedup_stream`` and ``curation_stream`` are one
foreachBatch sink, :func:`_ledger_sink`, over one or more dedup
stages — the reference's incremental ledger that each batch is
checked against and then appended to (etl/user_reports_aggregate.py:
17-53). Per micro-batch:

1. pin the batch (a lazy local checkpoint: the first job that reads
   it materializes it, every later one reads those rows);
2. read each stage's ledger with its declared schema — no inference
   job; only a genuinely absent ledger reads as an empty frame of
   that schema (a failing read fails the batch, which the streaming
   query retries, instead of admitting duplicates);
3. probe it; a stage's survivors, pinned, are the next stage's batch;
4. write the last stage's survivors IDEMPOTENTLY under
   ``out_path/__batch_id=N`` (:func:`_write_batch`): a redelivered
   batch replaces its own partition instead of duplicating rows;
5. append each stage's ledger rows, the last stage's first;
6. every ``compact_every`` batches, compact each ledger with
   :func:`~docker_etl_spark.sources.stores.compact_partitioned_store`
   and the declared schema, keeping its partition layout so the
   pruned probe plans are unchanged.

State lives in the ledgers, not in executor memory: restarts resume
from disk, and T3's state eviction is traded for the ledger's
O(corpus) disk. The appends are not atomic with the survivor write;
a redelivered batch may append the same rows twice, which is
results-neutral (every probe is an anti-join or deduplicates its
candidate pairs) and reclaimed by a deduplicating compaction. The
FIRST stage's ledger lands LAST, so a crash anywhere mid-batch heals
under redelivery: in ``curation_stream``, if the signatures landed
but the digests did not, the redelivered batch exact-passes, every
doc then matches its own stored signature and the empty survivor
write touches no partition; after full completion the redelivered
batch exact-drops everything.

Near-dup stages compare each doc with earlier SURVIVORS (a ledger
holds survivors only) and with every lower-id doc of its own batch.
Near-dup similarity is not transitive, so a doc whose only
above-threshold twin was dropped in an EARLIER batch survives here,
while a one-shot run over all batches flags it.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (S2 analogue for tests/batch-drain).

    File sources require an explicit schema — streaming cannot infer.
    ``max_files_per_trigger`` bounds micro-batch size, the engine's
    analogue of the reference's batch caps (S4).
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def tumbling_window_agg(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, Column],
    group_by: Sequence[str] = (),
    watermark: str | None = "10 minutes",
) -> DataFrame:
    """Tumbling-window aggregation with lateness watermark (T6 + T8).

    Identical call shape works on a batch DataFrame (watermark
    ignored) — the registry query t06_tumbling_5min is the batch twin.
    """
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream.groupBy(F.window(ts_col, window_duration).alias("w"), *group_by)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *group_by,
            *aggs.keys(),
        )
    )


def streaming_dedupe(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-ish natural-key dedup (T3): state-backed
    dropDuplicates bounded by a watermark so state is evictable —
    unbounded dedup state is the classic streaming OOM at scale.

    With ``ts_col`` set, uses ``dropDuplicatesWithinWatermark`` on the
    natural keys alone: duplicates of a key are suppressed for the
    watermark horizon and the key's state is then evicted, so state
    stays bounded without changing the dedup key (a plain
    ``dropDuplicates(keys)`` after ``withWatermark`` never evicts
    unless the event-time column is part of the subset)."""
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, watermark)
        if stream.isStreaming:
            return stream.dropDuplicatesWithinWatermark(list(keys))
    return stream.dropDuplicates(list(keys))


def foreach_batch_with_dead_letter(
    write_batch: Callable[[DataFrame, int], None],
    dead_letter_path: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch wrapper with a dead-letter capture path (T4).

    If ``write_batch`` raises, the batch is persisted to
    ``dead_letter_path`` (parquet, append) instead of failing the
    query — mirroring the reference's failed-insert GCS backup that a
    later run replays (fxci_etl/loaders/bigquery.py:129-220). Replay =
    read the path as another source and re-sink.
    """

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        try:
            write_batch(batch_df, batch_id)
        except Exception:
            log.exception(
                "batch %s failed; dead-lettering to %s", batch_id, dead_letter_path
            )
            batch_df.write.mode("append").parquet(dead_letter_path)

    return _fn


def drain_available(
    stream_df: DataFrame,
    sink: Callable[[DataFrame, int], None] | None = None,
    checkpoint: str | None = None,
    query_name: str = "drain",
    output_mode: str = "append",
    fmt: str = "memory",
    timeout_sec: int = 120,
) -> StreamingQuery:
    """Drain-until-quiet semantics (T1): process everything available,
    then stop — Trigger.AvailableNow, the Structured Streaming twin of
    the pulse consumer's 'stop when queue quiet' loop.

    With ``sink`` set, runs foreachBatch; otherwise writes to the
    named memory sink (test/debug). Blocks until the drain finishes.
    """
    writer = stream_df.writeStream.trigger(availableNow=True).outputMode(output_mode)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if sink is not None:
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format(fmt).queryName(query_name)
    q = writer.start()
    q.awaitTermination(timeout_sec)
    return q


def sessionize_with_state(
    events: DataFrame,
    key_cols: Sequence[str],
    time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization via
    ``applyInPandasWithState`` (§2.11 extension — the escape hatch the
    reference never needed because BigQuery jobs are batch; Spark's
    arbitrary-state API is how a pulse-like stream would track
    per-entity session state across micro-batches).

    Emits one row per CLOSED session (key, session_start,
    session_end, n_events); state times out ``gap`` after the last
    event (GroupStateTimeout.EventTimeTimeout driven by the
    watermark), so open sessions flush exactly when no more on-time
    data can extend them.

    Scale notes: state is per-key and O(1) (start, end, count — no
    event buffering); the shuffle is the groupBy(key). Watermark
    bounds state size; skewed keys shard upstream like any grouped
    aggregate.
    """
    import pandas as pd  # noqa: F401 (kernel-side)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Parse the gap once, driver-side, in ms (simple "<n> minutes/seconds").
    n, unit = gap.split()
    gap_ms = int(n) * {"seconds": 1_000, "minutes": 60_000, "hours": 3_600_000}[unit]

    out_schema = (
        ", ".join(f"{c} {t}" for c, t in events.select(*key_cols).dtypes)
        + ", session_start timestamp, session_end timestamp, n_events bigint"
    )
    state_schema = "start long, end long, n long"

    out_cols = [*key_cols, "session_start", "session_end", "n_events"]

    def row(key, s):
        return [*key, pd.Timestamp(s[0], unit="ms"), pd.Timestamp(s[1], unit="ms"), s[2]]

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            closed = state.get
            state.remove()
            yield pd.DataFrame([row(key, closed)], columns=out_cols)
            return
        # Merge batch events (ordered) into the open session, SPLITTING
        # at every gap: intra-batch closed sessions emit immediately,
        # only the trailing open session stays in state.
        ts_all: list[int] = []
        for pdf in pdf_iter:
            col = pdf[time_col].dropna()  # null event times carry no session signal
            ts_all.extend((col.astype("int64") // 1_000_000).tolist())
        ts_all.sort()
        cur = tuple(state.get) if state.exists else None
        closed: list[tuple[int, int, int]] = []
        for t in ts_all:
            if cur is None:
                cur = (t, t, 1)
            elif t - cur[1] <= gap_ms:
                # min() on the start: a late event can extend the open
                # session backwards, not just forwards.
                cur = (min(cur[0], t), max(cur[1], t), cur[2] + 1)
            else:
                closed.append(cur)
                cur = (t, t, 1)
        if cur is not None:
            state.update(cur)
            state.setTimeoutTimestamp(cur[1] + gap_ms)
        yield pd.DataFrame([row(key, s) for s in closed], columns=out_cols)

    return (
        events.withWatermark(time_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def corpus_filter_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming corpus preparation: the batch corpus kernels
    (operators/corpus.py) applied to documents as they land — the
    crawl-shard ingestion front of a training-data pipeline.

    Quality gating (Gopher rules) and PII redaction are stateless
    Column expressions, so they stream for free inside the
    micro-batch map; exact dedup keys on the md5 of the *redacted*
    text (two docs differing only in redacted PII are duplicates)
    through watermark-bounded state (T3 semantics — state evicts, no
    unbounded-state OOM).

    Output adds ``content_md5`` and replaces ``text_col`` with its
    redacted form. Works identically on a batch DataFrame (dedup
    falls back to plain dropDuplicates), which is how the twin test
    pins streaming == batch results.
    """
    from docker_etl_spark.operators.corpus import gopher_quality, pii_features

    keep = gopher_quality(F.col(text_col))["keep"]
    clean = pii_features(F.col(text_col))["clean_text"]
    prepared = (
        stream.filter(keep)
        .withColumn(text_col, clean)
        .withColumn("content_md5", F.md5(F.col(text_col)))
    )
    return streaming_dedupe(
        prepared, ["content_md5"], ts_col=ts_col, watermark=watermark
    )


class _Ledger(NamedTuple):
    """One dedup stage of :func:`_ledger_sink`: what differs between
    the ledger sinks."""

    path: str
    #: batch → the ledger's declared read schema (DDL), typed from it
    schema: Callable
    #: (batch, ledger) → (survivors, a function from the pinned
    #: survivors to the rows they append to the ledger)
    probe: Callable
    append: Callable  # ledger rows → appended to ``path``
    partition_cols: tuple[str, ...]
    transform: Callable | None = None  # the compaction fold


def _ledger_sink(
    out_path: str, compact_every: int | None, *stages: _Ledger
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch sink of every dedup stream: the LEDGER SINKS
    steps of the module docstring over ``stages``, in order."""
    from docker_etl_spark.sources.stores import (
        compact_partitioned_store,
        parquet_path_exists,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint(eager=False)
        done = []
        for st in stages:
            schema = st.schema(batch)
            ledger = (
                spark.read.schema(schema).parquet(st.path)
                if parquet_path_exists(spark, st.path)
                else spark.createDataFrame([], schema)
            )
            survivors, rows = st.probe(batch, ledger)
            batch = survivors.localCheckpoint(eager=True)
            done.append((st, schema, rows(batch)))
        _write_batch(batch, out_path, batch_id)
        for st, _schema, rows in reversed(done):
            st.append(rows)
        if compact_every and (batch_id + 1) % compact_every == 0:
            for st, schema, _rows in reversed(done):
                compact_partitioned_store(
                    spark, st.path, st.partition_cols,
                    transform=st.transform, schema=schema,
                )

    return _sink


def _write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the partition ``path/__batch_id=N``, replacing
    that partition only: dynamic overwrite, set on the writer, not
    assumed from the session (under Spark's default STATIC mode the
    same write would delete every earlier batch's partition)."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def _minhash_ledger(
    path, id_col, text_col, shingle_n, num_perm, bands, est_threshold,
    hash_fn,
) -> _Ledger:
    """The signature-store stage of :func:`minhash_dedup_stream` and
    :func:`curation_stream`."""
    from docker_etl_spark.operators.text_dedup import (
        drop_signature_deletes,
        incremental_minhash_dedup,
        signature_store_schema,
        write_signature_store,
    )

    def probe(batch, ledger):
        flags, sigs = incremental_minhash_dedup(
            batch, drop_signature_deletes(batch.sparkSession, path, ledger),
            id_col=id_col, text_col=text_col, shingle_n=shingle_n,
            num_perm=num_perm, bands=bands, est_threshold=est_threshold,
            hash_fn=hash_fn, store_exploded=True, return_sigs=True,
        )
        keep = flags.filter(~F.col("is_dup")).select(id_col)
        # the survivors' signatures come from the pass that flagged
        # them — never a second shingle + hash pass over their text
        return batch.join(keep, id_col, "left_semi"), lambda s: sigs.join(
            s.select(id_col), id_col, "left_semi"
        )

    return _Ledger(
        path,
        lambda b: signature_store_schema(
            b.schema[id_col].dataType.simpleString(), hash_fn, id_col
        ),
        probe,
        lambda rows: write_signature_store(
            rows, path, bands=bands, num_perm=num_perm, id_col=id_col,
            mode="append",
        ),
        ("band",),
    )


def _digest_ledger(path, prefix_chars, probe, transform=None) -> _Ledger:
    """The digest-store stage of :func:`cdc_chunk_dedup_stream` and
    :func:`curation_stream`; ``probe`` picks what is digested."""
    from docker_etl_spark.operators.dedupe import (
        DIGEST_SCHEMA,
        write_digest_store,
    )

    return _Ledger(
        path,
        lambda _b: DIGEST_SCHEMA,
        probe,
        lambda rows: write_digest_store(
            rows, path, prefix_chars=prefix_chars, mode="append"
        ),
        ("digest_prefix",),
        transform,
    )


def minhash_dedup_stream(
    store_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 12,
    bands: int = 3,
    est_threshold: float = 0.5,
    hash_fn: str = "md5",
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Ledger sink running the flagship LLM-dedup operator
    continuously: each micro-batch is near-dup-gated by
    ``incremental_minhash_dedup`` against the cumulative signature
    store (pending tombstones excluded), and the survivors'
    signatures append to it in its band-partitioned layout — a
    crawl-shard ingestion front that never re-reads or re-shingles
    ingested text. On the planted fixture the survivors equal one
    all-at-once run (pinned by
    ``tests/test_streaming.py::test_minhash_dedup_stream_matches_batch``);
    the batch-boundary corner is the module docstring's.
    ``compact_every`` folds the store's per-batch files every N
    batches and keeps every row.

    Wrap with :func:`foreach_batch_with_dead_letter` for T4 capture.
    """
    return _ledger_sink(
        out_path,
        compact_every,
        _minhash_ledger(
            store_path, id_col, text_col, shingle_n, num_perm, bands,
            est_threshold, hash_fn,
        ),
    )


def embedding_dedup_stream(
    store_path: str,
    out_path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    quant_scale: int = 1000,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Ledger sink for continuous EMBEDDING dedup — the modality twin
    of :func:`minhash_dedup_stream`: each micro-batch of vectors,
    quantized to ``floor(x * quant_scale)``, is near-dup-gated against
    the cumulative vector store (sign-LSH bucket joins + exact-int
    cosine), and the survivors' quantized vectors append to it in
    ``write_vector_store``'s tbl-partitioned layout."""
    from docker_etl_spark.operators.similarity import (
        incremental_embedding_dedup,
        vector_store_schema,
        write_vector_store,
    )

    quant = F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )

    def probe(batch, ledger):
        flags = incremental_embedding_dedup(
            batch.select(F.col(id_col), quant.alias("vec")), ledger,
            dim=dim, threshold=threshold, n_planes=n_planes,
            n_tables=n_tables, seed=seed, id_col=id_col, vec_col="vec",
            store_exploded=True,
        )
        keep = flags.filter(~F.col("is_dup")).select(id_col)
        return batch.join(keep, id_col, "left_semi"), lambda s: s.select(
            F.col(id_col), quant.alias("vec")
        )

    return _ledger_sink(
        out_path,
        compact_every,
        _Ledger(
            store_path,
            lambda b: vector_store_schema(
                b.schema[id_col].dataType.simpleString(), id_col
            ),
            probe,
            lambda rows: write_vector_store(
                rows, store_path, dim=dim, id_col=id_col, vec_col="vec",
                n_planes=n_planes, n_tables=n_tables, seed=seed,
                mode="append",
            ),
            ("tbl",),
        ),
    )


def psi_gate_stream(
    baseline_path: str,
    out_path: str,
    quarantine_path: str,
    group_col: str = "source",
    value_col: str = "n_chars",
    bucket_width: int = 40,
    n_buckets: int = 10,
    psi_threshold: float = 0.2,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch admission gate running x62's PSI drift check
    continuously: each micro-batch's per-group value distribution is
    compared against a persisted baseline histogram
    (:func:`~docker_etl_spark.operators.profiling.value_histogram`
    written once from a trusted snapshot); groups whose PSI exceeds
    ``psi_threshold`` are QUARANTINED wholesale (their rows land in
    ``quarantine_path`` for operator review) while stable groups
    flow to ``out_path`` — the "did this crawl shard's length
    profile silently shift?" guard a continuous ingest runs before
    admitting data to the training corpus.

    The gate decision reuses the exact batch operator
    (:func:`psi_from_counts` over the same complete bucket spine),
    so a quarantined group here would be exactly the ``drifted``
    rows of an x62-style run on (baseline snapshot, this batch) —
    twin-pinned in ``tests/test_streaming.py``.

    Delivery contract: both writes are idempotent per batch
    (dynamic partition overwrite under ``__batch_id=N``). The
    baseline is READ-ONLY state (groups x n_buckets rows,
    broadcast-sized, read with the group type of the batch); nothing
    appends, so there is no redelivery window at all.
    """
    from docker_etl_spark.operators.profiling import (
        psi_from_counts,
        value_histogram,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)
        gtype = batch_df.schema[group_col].dataType.simpleString()
        base = spark.read.schema(
            f"{group_col} {gtype}, __bkt long, __n long"
        ).parquet(baseline_path)
        cur = value_histogram(
            batch_df, group_col, value_col, bucket_width, n_buckets
        )
        spine = (
            batch_df.select(group_col)
            .distinct()
            .select(
                group_col,
                F.explode(
                    F.sequence(F.lit(0), F.lit(n_buckets - 1))
                ).alias("__bkt"),
            )
            .select(group_col, F.col("__bkt").cast("long").alias("__bkt"))
        )
        f = (
            spine.join(
                base.select(
                    group_col, "__bkt", F.col("__n").alias("__a")
                ),
                [group_col, "__bkt"],
                "left",
            )
            .join(
                cur.select(
                    group_col, "__bkt", F.col("__n").alias("__b")
                ),
                [group_col, "__bkt"],
                "left",
            )
            .select(
                group_col,
                "__bkt",
                F.coalesce(F.col("__a"), F.lit(0)).cast("long").alias("__a"),
                F.coalesce(F.col("__b"), F.lit(0)).cast("long").alias("__b"),
            )
        )
        verdict = psi_from_counts(f, group_col, n_buckets, psi_threshold)
        bad = verdict.filter(F.col("drifted")).select(group_col)
        _write_batch(
            batch_df.join(F.broadcast(bad), group_col, "left_anti"),
            out_path, batch_id,
        )
        _write_batch(
            batch_df.join(F.broadcast(bad), group_col, "left_semi"),
            quarantine_path, batch_id,
        )

    return _sink


def cdc_chunk_dedup_stream(
    store_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
    prefix_chars: int = 2,
) -> Callable[[DataFrame, int], None]:
    """Ledger sink running chunk-level exact dedup continuously: each
    micro-batch's documents are cut into content-defined chunks
    (:func:`~docker_etl_spark.operators.corpus.cdc_chunks` —
    boundaries survive edits, so a re-crawled page re-delivers mostly
    already-seen chunk digests), the chunks are gated against the
    cumulative prefix-partitioned digest store, and only genuinely
    new chunks land in ``out_path`` — the storage-dedup ingestion
    front (LBFS applied to a text corpus). Exact digest dedup is
    transitive, so the twin test pins strict equality with one
    chunk-level dedup over the whole corpus."""
    from docker_etl_spark.operators.corpus import cdc_chunks
    from docker_etl_spark.operators.dedupe import incremental_content_dedup

    def probe(batch, ledger):
        ch = cdc_chunks(
            batch, id_col=id_col, text_col=text_col, divisor=divisor
        ).withColumn(
            # unique orderable id per chunk row for the intra-batch
            # min-id survivor rule
            "chunk_id",
            F.col(id_col) * 1000000 + F.col("chunk_idx"),
        )
        survivors = incremental_content_dedup(
            ch, ledger, id_col="chunk_id", text_col="chunk",
            prefix_chars=prefix_chars,
        )
        return survivors, lambda s: s

    return _ledger_sink(
        out_path, None, _digest_ledger(store_path, prefix_chars, probe)
    )


def cms_sketch_stream(
    store_path: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a cumulative Count-Min sketch
    over a key stream — the frequency-profiling twin of the dedup
    stores: per micro-batch ONE sketch delta (<= depth*width cells)
    lands under ``__batch_id=N`` via dynamic partition overwrite, so
    delivery is idempotent per batch and NO prior state is ever
    rewritten (CMS cells merge by sum, so the merge happens at READ:
    :func:`~docker_etl_spark.operators.sketches.load_cms_store`).

    This is the streaming shape a 100 TB ingest wants for "how often
    has this key appeared so far": per-batch work is one bounded
    aggregate, store growth is depth*width rows per batch (compaction
    optional — the read-side merge is already cheap), and the batch
    twin (``count_min_sketch`` over the concatenated corpus) produces
    the identical merged sketch, pinned by
    tests/test_round7_ops.py::test_cms_stream_matches_batch.
    """
    from docker_etl_spark.operators.sketches import (
        count_min_sketch,
        write_cms_store,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        sk = count_min_sketch(batch_df, key_col, depth=depth, width=width)
        write_cms_store(sk, store_path, batch_id=batch_id)

    return _sink


def quantile_rollup_stream(
    store_path: str,
    unit_col: str,
    rollup_col: str,
    value_col: str,
    bucket_width: int,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining cumulative per-unit histogram
    state for quantile rollups — the x80 recipe fed by a stream: each
    micro-batch lands its (unit, rollup, bucket, n) delta under
    ``__batch_id=N`` (idempotent dynamic overwrite, lease-guarded);
    histogram cells merge by sum at READ
    (:func:`~docker_etl_spark.operators.sketches.load_histogram_store`),
    and the quantile estimates are recomputed from the merged state —
    raw values are scanned exactly once, at ingest. Twin-pinned
    against the one-shot :func:`~docker_etl_spark.operators.sketches.
    quantile_rollup` daily state in tests/test_round7_ops.py.
    """
    from docker_etl_spark.operators.sketches import (
        quantile_rollup,
        write_histogram_store,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        daily, _est = quantile_rollup(
            batch_df, unit_col, rollup_col, value_col, bucket_width
        )
        write_histogram_store(daily, store_path, batch_id=batch_id)

    return _sink


def ivfpq_index_stream(
    store_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink ingesting a vector stream into a persisted
    IVF-PQ index (:func:`~docker_etl_spark.operators.similarity.
    write_ivfpq_store` layout): each micro-batch encodes against the
    STORED quantizers — one map-only pass, no retraining (the FAISS
    add-after-train contract) — and lands its codes under
    ``__batch_id=N`` partitions via dynamic overwrite, so redelivery
    replaces exactly its own partitions (the batch's (cell, batch)
    partition set is a deterministic function of its rows). The
    index must have been built and persisted once (the train step);
    this sink is the ingest half. Probes read the merged store
    (:func:`load_ivfpq_store`, optionally of a snapshot) with cell
    partition pruning — per-batch ingest cost and probe cost are
    both independent of how many batches have landed.
    """
    from docker_etl_spark.operators.similarity import ivfpq_append

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ivfpq_append(batch_df, store_path, vec_col, id_col, batch_id)

    return _sink


def search_index_stream(
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_token_len: int | None = None,
    prefix_len: int | None = None,
    assume_new_ids: bool = True,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink ingesting a document stream into a persisted
    inverted index (:mod:`docker_etl_spark.operators.search`): each
    micro-batch is tokenized ONCE and lands its postings + mergeable
    stats delta under ``__batch_id=N`` — document frequency needs no
    stored update (probes derive it from fetched postings), so
    per-batch cost is one tokenize pass over the batch, independent
    of index size, and redelivery overwrites exactly its own
    partitions (a batch's (prefix, batch) partition set is a
    deterministic function of its rows).

    Build parameters default from the store's meta sidecar (explicit
    values are validated against it). The stream inherits
    :func:`~docker_etl_spark.operators.search.append_search_index`'s
    append-only id contract: a document id that re-arrives under a
    NEW batch_id silently inflates df and that doc's score — pass
    ``assume_new_ids=False`` to anti-join each batch against the
    store's ids first. ``compact_every`` folds batch deltas into the
    base partition every N batches via
    :func:`~docker_etl_spark.operators.search.compact_search_index`
    (streaming appends leave one parquet file per batch per term
    prefix plus one stats delta per batch — exactly the
    read-amplification compaction undoes)."""
    from docker_etl_spark.operators.search import (
        append_search_index,
        compact_search_index,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        from docker_etl_spark.operators.search import read_search_index_horizon
        from docker_etl_spark.operators.text_analysis import tokens
        from docker_etl_spark.sources.stores import open_store

        spark = batch_df.sparkSession
        horizon = read_search_index_horizon(spark, store_path)
        if horizon is not None and batch_id <= horizon:
            # Redelivery of an already-COMPACTED batch (crash landed
            # between the fold and the checkpoint commit) is a no-op —
            # but only if the batch's rows really ARE in the base.
            # An out-of-band compact_search_index with up_to_batch at
            # or above a batch this stream never delivered would
            # otherwise silently discard every later batch ≤ horizon
            # (r10 ADVICE). Verify by probing a bounded sample of the
            # batch's INDEXABLE doc ids against the store (a doc whose
            # tokens are all below min_token_len legitimately has no
            # posting rows; with assume_new_ids=False a deduped id was
            # already present, so presence still holds). The postings
            # scan is id-unpruned but this path only runs on the rare
            # redelivery-below-horizon recovery, never per batch.
            store = open_store(spark, store_path)
            mtl = store.meta["min_token_len"]
            indexable = F.exists(
                tokens(text_col), lambda t: F.length(t) >= mtl
            )
            sample_ids = [
                r[0]
                for r in batch_df.filter(indexable)
                .select(id_col)
                .orderBy(id_col)
                .limit(16)
                .collect()
            ]
            if sample_ids:
                present = {
                    r[0]
                    for r in store.read("postings")
                    .filter(F.col(id_col).isin(sample_ids))
                    .select(id_col)
                    .distinct()
                    .collect()
                }
                missing = [i for i in sample_ids if i not in present]
                if missing:
                    raise ValueError(
                        f"search_index_stream: batch {batch_id} is at or "
                        f"below the compaction horizon {horizon} at "
                        f"{store_path} but its documents (e.g. ids "
                        f"{missing[:4]}) are NOT in the store — the "
                        "horizon was advanced past a batch this stream "
                        "never appended (out-of-band compaction?); "
                        "skipping would silently lose data. Rebuild the "
                        "index or re-ingest from a source offset above "
                        "the folded range."
                    )
            log.warning(
                "search_index_stream: skipping redelivered batch %d at "
                "or below the compaction horizon %d (already folded "
                "into the base at %s; sample of %d batch ids verified "
                "present)",
                batch_id, horizon, store_path, len(sample_ids),
            )
            return
        append_search_index(
            batch_df, store_path, batch_id,
            text_col=text_col, id_col=id_col,
            min_token_len=min_token_len, prefix_len=prefix_len,
            assume_new_ids=assume_new_ids,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_search_index(spark, store_path, up_to_batch=batch_id)

    return _sink


def search_delete_stream(
    store_path: str,
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink applying a TOMBSTONE stream (takedown / PII-
    purge / CDC-delete events carrying document ids) to a persisted
    search index — the streaming twin of
    :func:`~docker_etl_spark.operators.search.
    delete_from_search_index`: each micro-batch's ids land as that
    batch's ``{path}/deletes`` delta (probes exclude them
    immediately; the next covering compaction applies them
    physically and re-derives stats/dictionary). Redelivery of the
    same batch is idempotent (dynamic overwrite of its own
    partition).

    BATCH CLOCK: the sink passes the stream's ``batch_id`` straight
    through, and the deletes sidecar shares the INGEST batches'
    ``__batch_id`` axis for snapshot reads and the horizon guard —
    when one store receives both an ingest stream and a delete
    stream, drive both from the same logical clock (one source, one
    query, or an offset scheme) or pick compaction horizons older
    than either stream's redelivery window.

    A redelivered batch at or below the compaction horizon follows
    the r11 verified-skip discipline: probe EVERY id in the batch
    against the postings (one semi-join; a delete batch is bounded)
    — if any is still PRESENT the
    tombstone was never applied (the horizon advanced past a delete
    batch this stream never landed — out-of-band compaction) and the
    sink raises loudly instead of silently dropping a purge request;
    if all are absent the deletes were applied and cleared, and the
    skip is safe (an id never ingested is also absent, and its
    tombstone is a no-op by contract either way)."""
    from docker_etl_spark.operators.search import delete_from_search_index

    return _delete_stream(
        store_path, id_col, "postings", delete_from_search_index,
        "search_delete_stream",
    )


def ivfpq_delete_stream(
    store_path: str,
    id_col: str = "vec_id",
) -> Callable[[DataFrame, int], None]:
    """:func:`search_delete_stream`'s twin for the persisted IVF-PQ
    store: tombstone ids land as ``{path}/deletes`` deltas
    (:func:`~docker_etl_spark.operators.similarity.
    delete_from_ivfpq_store`); probes exclude immediately, the next
    covering compaction drops the code rows physically. Same batch-
    clock contract and verified-skip discipline on redelivery below
    the horizon (presence probed against ``codes/``)."""
    from docker_etl_spark.operators.similarity import delete_from_ivfpq_store

    return _delete_stream(
        store_path, id_col, "codes", delete_from_ivfpq_store,
        "ivfpq_delete_stream",
    )


def _delete_stream(
    store_path: str, id_col: str, data_dir: str, delete, name: str
) -> Callable[[DataFrame, int], None]:
    """The tombstone-stream sink both delete streams share; they
    differ only in the data subdirectory a below-horizon redelivery
    is verified against and the delete function."""
    from docker_etl_spark.sources.stores import open_store, read_horizon

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        horizon = read_horizon(spark, store_path)
        if horizon is not None and batch_id <= horizon:
            # Probe EVERY id in the batch (r12 ADVICE: a 16-row
            # sorted sample lets a batch whose lowest ids happen to
            # be never-ingested no-ops pass verification while other
            # ids are still present — a silently dropped purge). A
            # delete batch is bounded, so one semi-join of the store
            # scan against the batch ids suffices; note this is an
            # O(store) read by design — ids are not a partition
            # column, and this path runs only on the rare
            # redelivered-below-horizon anomaly.
            present = [
                r[0]
                for r in open_store(spark, store_path)
                .read(data_dir)
                .select(id_col)
                .join(
                    F.broadcast(batch_df.select(id_col).distinct()),
                    id_col,
                    "left_semi",
                )
                .limit(4)
                .collect()
            ]
            if present:
                raise ValueError(
                    f"{name}: batch {batch_id} is at or below the "
                    f"compaction horizon {horizon} at {store_path} but "
                    f"its ids (e.g. {present[:4]}) are STILL PRESENT — "
                    "the horizon was advanced past a delete batch this "
                    "stream never landed (out-of-band compaction?); "
                    "skipping would silently drop a purge request. "
                    "Re-issue the deletes above the horizon."
                )
            log.warning(
                "%s: skipping redelivered delete batch %d at or below "
                "the compaction horizon %d (every batch id verified "
                "absent at %s)",
                name, batch_id, horizon, store_path,
            )
            return
        if batch_df.limit(1).count() == 0:
            return  # empty micro-batch: nothing to tombstone
        delete(
            spark, store_path, batch_df.select(id_col), batch_id,
            id_col=id_col,
        )

    return _sink


def curation_stream(
    digest_store_path: str,
    sig_store_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    min_stopwords: int = 1,
    shingle_n: int = 3,
    num_perm: int = 12,
    bands: int = 3,
    est_threshold: float = 0.5,
    hash_fn: str = "md5",
    digest_prefix_chars: int = 2,
    compact_every: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """The FULL curation pipeline (cp02's quality → exact dedup →
    near-dup dedup) as ONE ledger sink of two stages over one pinned
    batch:

    1. exact dedup — the Gopher quality gate (docs failing it never
       touch either store), then ``incremental_content_dedup``
       against the cumulative digest store;
    2. near-dup dedup — :func:`minhash_dedup_stream`'s stage against
       the signature store; its survivors land in ``out_path``.

    The digests of every exact-stage survivor (near-dup-dropped ones
    too: their content was ingested) append LAST, after the signature
    append — the module docstring's crash order. ``compact_every``
    compacts both stores; the digest fold also drops duplicate rows
    (safe: the digest probe is a pure anti-join on ``content_md5``),
    while the signature fold keeps its rows — partial redeliveries'
    duplicates there cost bytes, never results. Batch-boundary
    semantics are the module docstring's near-dup ones: equal to the
    one-shot cp02 run whenever duplicate clusters don't chain across
    dropped members.

    ``digest_prefix_chars`` sets the digest store's directory
    granularity (16^n partitions): the default 2 (256 directories)
    is the 100 TB layout; each batch write commits one file per
    touched directory, so small-corpus deployments should drop to 1
    (16 directories) — directory-commit overhead, not data volume,
    dominates tiny batch writes (measured ~4 s for an 18k-row batch
    at 256 dirs vs ~0.5 s at 16).
    """
    from docker_etl_spark.operators.corpus import gopher_quality
    from docker_etl_spark.operators.dedupe import incremental_content_dedup

    def exact(batch, ledger):
        kept = batch.filter(
            gopher_quality(
                F.col(text_col),
                min_words=min_words,
                min_stopwords=min_stopwords,
            )["keep"]
        )
        survivors = incremental_content_dedup(
            kept, ledger, id_col=id_col, text_col=text_col,
            prefix_chars=digest_prefix_chars,
        )
        return survivors.drop("content_md5"), lambda s: s.select(
            F.md5(F.col(text_col)).alias("content_md5")
        )

    return _ledger_sink(
        out_path,
        compact_every,
        _digest_ledger(
            digest_store_path, digest_prefix_chars, exact,
            transform=lambda df: df.dropDuplicates(),
        ),
        _minhash_ledger(
            sig_store_path, id_col, text_col, shingle_n, num_perm, bands,
            est_threshold, hash_fn,
        ),
    )
