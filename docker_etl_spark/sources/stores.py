"""Shared-store write discipline: single-writer lease, the delta-store
lifecycle, bounded sidecars and compaction.

The incremental digest/signature/vector stores
(operators/dedupe.write_digest_store, text_dedup.write_signature_store,
similarity.write_vector_store) are the engine's only mutable shared
state — plain-parquet append layouts with no table format underneath,
so a second concurrent writer would silently corrupt the directory
listing (half-written part files visible to the other's reads, lost
appends on overwrite races). The reference runs the analogous ledger
tables single-writer too — Airflow serializes its jobs and BigQuery
supplies the transactionality (fxci_etl/loaders/bigquery.py:129-220);
with bare parquet the single-writer assumption must be ENFORCED, not
assumed. :func:`store_writer_lock` is that guard: a sibling lease
file acquired O_CREAT|O_EXCL (atomic on POSIX) around every mutation.

Streaming appends also fragment these stores — one small parquet file
per micro-batch, exactly the read-amplification
:func:`compact_partitioned_store` exists to undo (the read-side twin
of the reference's write-side binpacking caps,
fxci_etl/loaders/bigquery.py:26-28). Compaction preserves the
partition layout (band / tbl / digest_prefix directories) so the
partition-pruned probe plans are unchanged, and sizes itself from
parquet FOOTER metadata — never a full-scan ``count()``.

DELTA-STORE LIFECYCLE. The search index (``{path}/postings``), the
IVF-PQ store (``{path}/codes``) and the MinHash signature ledger share
one on-disk lifecycle under a root: a 1-row ``{root}/horizon`` marker
(the highest batch a compaction folded; :func:`read_horizon`,
:func:`reject_at_or_below_horizon`, :func:`record_horizon`) and a
``{root}/deletes`` tombstone sidecar partitioned by ``__batch_id``
(:func:`delete_from_store`, :func:`tombstone_ids`,
:func:`clear_tombstones`), whose ids every read drops with
:func:`drop_tombstoned`. The root is the store's path, but the
ledger's bare ``band=N`` layout would read a sidecar as data, so its
root is a sibling: deletes, horizon and clear lease the root, the
data rewrite leases the ledger. Compaction records the horizon FIRST
and clears the applied tombstones LAST, so a crash anywhere between
leaves a read-consistent store that a re-run completes, and a delete
racing the fold lands above the horizon and stays pending.

THE ARM RULE. Bounded sidecar reads and writes
(:func:`read_sidecar_rows`, :func:`write_sidecar_rows`,
:func:`write_tombstone_sidecar`), the existence probes
(:func:`parquet_path_exists`, :func:`parquet_write_completed`) and the
layout listing (:func:`_listed_files`) each have two arms, and
:func:`_driver_direct` alone picks one: a LOCAL path runs driver-direct
— pyarrow, the directory listing and parquet footers, no Spark job
(metadata reads and writes should not be jobs, the table-format
manifest lesson) — and any other path runs as Spark jobs or a Hadoop
FileSystem listing. A tombstone batch given as a DataFrame also takes
the Spark arm past its row bound or for an id type outside
:data:`_SIDECAR_TYPES`. Both arms write the same files with the same
column types.

STORE SNAPSHOT. A probe, a census, a load or a compaction reads a
delta store through one :class:`StoreSnapshot` (:func:`open_store`),
taken once per call, or once per query and passed to each of its
probes. It pins the store's build parameters, the committed
``__batch_id`` values (every read keeps to the newest of them, so a
batch committed after the snapshot stays invisible), the pending
tombstone ids on the driver, the rows of a search store's bounded
``{path}/stats`` sidecar (one per batch: :data:`STATS_FIELDS`), read
once so that corpus totals and the census fold need no further read,
and the Spark read schema of each data directory (``postings`` and
``dict``, or ``codes``). The schemas are declared: the store's writer derives them
from the frame it writes and records them in ``{path}/meta``, so a
read is ``spark.read.schema(...).parquet(...)`` — no footer read and
no schema-inference job on either arm. Partition columns are pinned
to one type (``__pfx`` string, ``__batch_id`` and ``__cell`` int)
whatever their directory values look like. The snapshot is also the
only way to time-travel: ``open_store(spark, path, as_of_batch=N)``
reads the store as it stood after batch N, and every probe and load
takes that snapshot in place of the path.

COMPACTION IS LOCAL-ONLY. The two-rename swap needs a POSIX rename;
:func:`compact_partitioned_store`, :func:`compact_sidecar_partitioned`
and :func:`record_horizon` raise ``ValueError`` on any other path —
``record_horizon`` before it writes, so a non-local compaction fails
before it changes anything. Object-store layouts need a table format
(Delta/Iceberg) for safe swaps.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import time
from dataclasses import dataclass
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    IntegralType,
    LongType,
    MapType,
    StructField,
    StructType,
)

log = logging.getLogger(__name__)


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted to mutate a single-writer store (or a
    writer found its own lease broken mid-write)."""


class LeaseAdapter:
    """Injectable lease backend for store paths without POSIX O_EXCL
    (object stores). The contract mirrors the local lease-file
    semantics; implementations map it onto the store's conditional
    write primitive (S3 If-None-Match PUT, GCS x-goog-if-generation-
    match:0, ADLS lease API):

    - ``acquire(store_path, token)``: create the lease ATOMICALLY
      (conditional-put-if-absent); MUST raise
      :class:`ConcurrentWriteError` when a live lease exists. May
      implement its own staleness policy.
    - ``verify(store_path, token) -> bool``: True iff the lease still
      exists and carries exactly ``token`` (detects mid-write breaks).
    - ``release(store_path, token)``: delete the lease; best-effort
      (a failed delete surfaces as staleness to the next writer, not
      corruption).

    The engine ships no cloud implementation (no cloud SDKs in this
    environment); the seam exists so a deployment can supply one —
    the reference delegates the same transactionality to BigQuery
    (fxci_etl/loaders/bigquery.py:129-220).
    """

    def acquire(self, store_path: str, token: str) -> None:
        raise NotImplementedError

    def verify(self, store_path: str, token: str) -> bool:
        raise NotImplementedError

    def release(self, store_path: str, token: str) -> None:
        raise NotImplementedError


#: store paths already warned about in this process (non-local +
#: no adapter -> unserialized writers); warn once per path, not per
#: mutation, so a streaming loop does not spam the log
_WARNED_UNSERIALIZED: set[str] = set()


def _local_path(path: str) -> str | None:
    """The filesystem path when ``path`` is local, else None (object
    stores have no POSIX O_EXCL; coordination must come from the
    scheduler there, as in the reference's Airflow serialization)."""
    p = urlparse(path)
    if p.scheme in ("", "file"):
        return p.path or path
    return None


def _lock_path(store_path: str) -> str:
    return store_path.rstrip("/") + ".__writer_lock"


@contextlib.contextmanager
def store_writer_lock(
    store_path: str,
    owner: str | None = None,
    stale_after_sec: float | None = None,
    adapter: LeaseAdapter | None = None,
):
    """Single-writer lease around a store mutation.

    Acquire is an atomic ``O_CREAT|O_EXCL`` create of a sibling lease
    file recording (owner, pid, epoch). A second writer arriving while
    the lease exists raises :class:`ConcurrentWriteError` LOUDLY —
    never waits, never proceeds. ``stale_after_sec`` lets a new writer
    break a lease older than the given age (a crashed writer's
    leftover). Takeover is ATOMIC: the breaker first ``os.rename``\\ s
    the stale lock to a unique per-breaker name — rename succeeds for
    exactly one breaker, so two writers reading the same stale lease
    cannot both "win" and interleave (the loser's rename raises
    ENOENT and it falls through to the O_EXCL attempt, which then
    fails loudly against the winner's fresh lock). On release the
    lease content is verified: if it no longer matches this writer's
    token, someone broke the lease and wrote concurrently — the
    original writer ALSO fails loudly rather than reporting success
    over a possibly-interleaved store.

    Non-local store paths have no POSIX O_EXCL; pass ``adapter`` (a
    :class:`LeaseAdapter` mapping acquire/verify/release onto the
    object store's conditional-put primitive) to keep the guarantee.
    Without one the lease is SKIPPED and a WARNING is logged once per
    path per process — at that point nothing serializes writers but
    the caller's scheduler, which is exactly the silent trap the
    warning names.
    """
    token = f"{owner or 'writer'} pid={os.getpid()} t={time.time():.6f}"
    if adapter is not None:
        adapter.acquire(store_path, token)
        try:
            yield
        finally:
            if not adapter.verify(store_path, token):
                raise ConcurrentWriteError(
                    f"lease on {store_path} was broken mid-write; this "
                    "writer's mutations may have interleaved with another's "
                    "— verify the store before further appends"
                )
            adapter.release(store_path, token)
        return
    local = _local_path(store_path)
    if local is None:
        if store_path not in _WARNED_UNSERIALIZED:
            _WARNED_UNSERIALIZED.add(store_path)
            log.warning(
                "store_writer_lock: %s is not a local path and no "
                "LeaseAdapter was supplied — store mutations are NOT "
                "serialized by the engine; a concurrent writer will "
                "silently corrupt the store unless the scheduler "
                "serializes jobs. Supply a LeaseAdapter (conditional-put "
                "on the object store) to enforce single-writer.",
                store_path,
            )
        yield
        return
    lock = _lock_path(local)
    os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        holder = "<unreadable>"
        age = None
        try:
            with open(lock) as f:
                holder = f.read().strip()
            age = time.time() - os.path.getmtime(lock)
        except OSError:
            pass
        if stale_after_sec is not None and age is not None and age > stale_after_sec:
            log.warning(
                "store_writer_lock: breaking stale lease on %s (holder %r, "
                "age %.0fs > %.0fs)",
                store_path,
                holder,
                age,
                stale_after_sec,
            )
            # Atomic claim: exactly one breaker's rename succeeds.
            claim = f"{lock}.break.{os.getpid()}.{time.time_ns()}"
            with contextlib.suppress(FileNotFoundError):
                os.rename(lock, claim)
                os.unlink(claim)
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError as ex:
                raise ConcurrentWriteError(
                    f"store {store_path}: another writer won the stale-"
                    "lease takeover; not proceeding"
                ) from ex
        else:
            raise ConcurrentWriteError(
                f"store {store_path} is locked by another writer ({holder}); "
                "the incremental stores are single-writer — serialize "
                "mutations (or pass stale_after_sec to break an abandoned "
                "lease)"
            )
    with os.fdopen(fd, "w") as f:
        f.write(token)
    try:
        yield
    finally:
        current = None
        with contextlib.suppress(OSError):
            with open(lock) as f:
                current = f.read()
        if current != token:
            raise ConcurrentWriteError(
                f"lease on {store_path} was broken mid-write (now held by "
                f"{current!r}); this writer's mutations may have interleaved "
                "with another's — verify the store before further appends"
            )
        with contextlib.suppress(OSError):
            os.unlink(lock)


def write_repartition(df, partition_cols):
    """Hash-distribute on the partition columns with an EXPLICIT
    partition count before a multi-valued ``partitionBy`` write.

    ``repartition(cols)`` (no count) plans as REPARTITION_BY_COL,
    which AQE's partition coalescing is allowed to shrink by BYTES —
    and a store batch of a few MB collapses to ONE task that then
    creates every partition directory sequentially (measured: a
    256-directory digest write ran as a single task, 6.3 s wall at
    1.3 s CPU — pure file-create/commit latency that AQE cannot see).
    An explicit count (REPARTITION_BY_NUM) is a user contract AQE
    must keep, so directory commits spread across the cluster's
    cores. The count is ``defaultParallelism`` — scale-adaptive (the
    session's core budget locally, total executor cores on a
    cluster), never a constant tuned for either — FLOORED at a
    quarter of the configured shuffle partitions: on a cluster with
    dynamic allocation, ``defaultParallelism`` read at plan-build
    time reflects only the executors registered so far (can be ~2 at
    startup), which would quietly revert toward the serial-commit
    behaviour this helper exists to prevent. Layout is unchanged:
    every partition value still hashes wholly into one task, so each
    directory still receives exactly one file per batch."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    try:
        floor = int(spark.conf.get("spark.sql.shuffle.partitions")) // 4
    except Exception:
        floor = 0
    return df.repartition(max(n, floor, 1), *[str(c) for c in partition_cols])


def _driver_direct(path: str) -> str | None:
    """The arm rule (module docstring): the local filesystem path of
    ``path`` when its bounded store operations run driver-direct, None
    when they run as Spark jobs."""
    return _local_path(path)


def _local_store(path: str, caller: str) -> str:
    """The local filesystem path of a store about to be compacted;
    ``ValueError`` for any other path (compaction is local-only)."""
    local = _local_path(path)
    if local is None:
        raise ValueError(
            f"{caller} requires a local store path; object-store layouts "
            "need a table format (Delta/Iceberg) for safe swaps"
        )
    return local


def _hidden_component(name: str) -> bool:
    """Spark's listing convention (InMemoryFileIndex): "."-led names
    are always hidden; "_"-led names are hidden unless they contain
    "=" (partition directories like ``__pfx=ab``)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _committed_files(local: str, keep=None):
    """Yield ``(file, components)`` for every committed ``.parquet``
    file of a local layout, in sorted path order: ``components`` are
    the file's directory names below ``local``, still escaped as on
    disk (:func:`_partition_values` decodes them). Hidden and staging
    names are skipped with Spark's own listing rule, so the walk sees
    exactly the files a Spark read would; ``keep(dirname)`` prunes
    directories (partition pruning). A ``local`` that is itself a
    file yields just that file."""
    if os.path.isfile(local):
        yield local, ()
        return
    for root, dirs, fns in os.walk(local):
        dirs[:] = sorted(
            d for d in dirs
            if not _hidden_component(d) and (keep is None or keep(d))
        )
        rel = os.path.relpath(root, local)
        comps = () if rel == "." else tuple(rel.split(os.sep))
        for fn in sorted(fns):
            if fn.endswith(".parquet") and not _hidden_component(fn):
                yield os.path.join(root, fn), comps


def _partition_values(comps) -> dict[str, str]:
    """``key=value`` directory names → {key: percent-decoded value}."""
    return {
        k: unquote(v)
        for k, _, v in (c.partition("=") for c in comps if "=" in c)
    }


def _listed_files(spark, path: str):
    """Yield the directory components (escaped, as on disk) of every
    committed ``.parquet`` file of the layout DIRECTORY ``path``; an
    absent path or a plain file yields nothing. Driver-direct arm:
    :func:`_committed_files`. Spark arm: a recursive Hadoop FileSystem
    listing with the same hidden/staging rule — metadata calls, no
    Spark job."""
    local = _driver_direct(path)
    if local is not None:
        if os.path.isdir(local):
            yield from (comps for _f, comps in _committed_files(local))
        return
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath) or not fs.getFileStatus(hpath).isDirectory():
        return
    # listFiles returns FILESYSTEM-QUALIFIED paths; qualify the root
    # the same way or an authority-less input (hdfs:/x) never matches
    # the listed prefix and hidden-named ancestors of the store root
    # would read as task staging (ADVICE r11).
    root = str(fs.makeQualified(hpath)).rstrip("/")
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        parts = str(it.next().getPath())[len(root):].strip("/").split("/")
        if parts[-1].endswith(".parquet") and not any(
            _hidden_component(c) for c in parts
        ):
            yield tuple(parts[:-1])


def _footer_rows(f: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(f).metadata.num_rows


def parquet_row_count(path: str) -> int | None:
    """Total rows of a parquet file/directory from FOOTER metadata
    only — no Spark job, no data pages read. Returns None when the
    path is not locally walkable (caller falls back to a scan).
    Hidden/staging components (``_temporary`` task staging, dot-led
    temp files) are skipped with Spark's own listing convention, so
    the footer count always agrees with the Spark-scan fallback even
    over crash leftovers."""
    local = _local_path(path)
    if local is None or not os.path.exists(local):
        return None
    return sum(_footer_rows(f) for f, _ in _committed_files(local))


def parquet_file_count(path: str) -> int | None:
    """Data-file count of a local parquet layout (compaction metric).
    Applies the same hidden-component rule as :func:`parquet_row_count`
    so crash leftovers under ``_temporary``/dot-staging never count."""
    local = _local_path(path)
    if local is None or not os.path.exists(local):
        return None
    return sum(1 for _ in _committed_files(local))


#: Sidecar column types: arrow type string → Spark DDL type. One table
#: serves both arms, so a sidecar carries the same column types
#: whichever arm wrote it (``int32`` is Spark's ``int``, ``int64`` its
#: ``bigint``).
_SIDECAR_TYPES = {
    "int32": "int",
    "int64": "bigint",
    "bool": "boolean",
    "string": "string",
    "double": "double",
    "list<int64>": "array<bigint>",
}


def _arrow_type(name: str):
    import pyarrow as pa

    if name == "list<int64>":
        # Spark writes array<bigint> as a 3-level list whose element
        # field is named "element" — match it so mixed layouts stay
        # schema-identical
        return pa.list_(pa.field("element", pa.int64()))
    return pa.type_for_alias(name)


def _id_type(vals) -> str:
    """The sidecar type of a Python id list, as ``createDataFrame``
    infers it: int → ``int64`` (bigint), str → ``string``, float →
    ``double``."""
    kinds = {type(v) for v in vals if v is not None}
    for py, arrow in ((int, "int64"), (str, "string"), (float, "double")):
        if kinds <= {py}:
            return arrow
    raise TypeError(
        "ids must be all int, all str or all float; got "
        + ", ".join(sorted(k.__name__ for k in kinds))
    )


def _local_frame(spark, rows: list[tuple], schema: StructType) -> DataFrame:
    """A small driver-side relation (a query set, a per-term table, a
    pinned tombstone set), built from a pandas frame — Arrow-serialized
    when the session enables it, as the engine's does. A Python row
    list plans a pickled-RDD scan instead, and joining that as a
    broadcast measured about 0.2 s slower per relation (4 cores,
    local[2]) — per probe, for a few rows."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=schema.names), schema
    )


def read_sidecar_rows(
    spark,
    path: str,
    max_rows: int | None = None,
    partition_filter: dict[str, set[str]] | None = None,
    schema: StructType | None = None,
) -> list[dict] | None:
    """All rows of a BOUNDED sidecar parquet layout (1-row meta/horizon
    markers, quantizer tables, stats/dict deltas, tombstones) as
    dicts. Returns None when ``max_rows`` is given and the selected
    slice exceeds it; an absent or empty layout reads as no rows.

    ``partition_filter`` maps partition-column names to allowed
    STRING values and prunes ``key=value`` directories (both the
    escaped directory form and its percent-decoded form match).
    Partition values come back as strings on the driver-direct arm
    and with Spark's inferred types on the Spark arm — callers cast.

    Driver-direct arm: walk + footers + pyarrow, no job (a
    ``spark.read.parquet(...).collect()`` pays schema inference + job
    scheduling, ~0.3-0.7 s per read at any scale). The Spark arm
    reads with ``schema`` when the layout has a declared one."""
    local = _driver_direct(path)
    if local is None:
        reader = spark.read if schema is None else spark.read.schema(schema)
        d = reader.parquet(path)
        for key, allowed in (partition_filter or {}).items():
            d = d.filter(F.col(key).cast("string").isin(sorted(allowed)))
        if max_rows is not None:
            d = d.limit(max_rows + 1)
        rows = [r.asDict() for r in d.collect()]
        return None if max_rows is not None and len(rows) > max_rows else rows
    import pyarrow.parquet as pq

    def keep(dirname: str) -> bool:
        key, eq, val = dirname.partition("=")
        allowed = (partition_filter or {}).get(key) if eq else None
        return allowed is None or val in allowed or unquote(val) in allowed

    files = list(_committed_files(local, keep))
    if max_rows is not None and (
        sum(_footer_rows(f) for f, _ in files) > max_rows
    ):
        return None
    rows: list[dict] = []
    for f, comps in files:
        parts = _partition_values(comps)
        for r in pq.read_table(f).to_pylist():
            r.update(parts)
            rows.append(r)
    return rows


def write_sidecar_rows(
    spark,
    path: str,
    rows: list[tuple],
    schema: list[tuple[str, str]],
    partition: dict[str, object] | None = None,
) -> None:
    """Write a BOUNDED sidecar parquet layout from driver rows.
    ``schema`` is ``[(name, arrow_type_str)]`` over
    :data:`_SIDECAR_TYPES`. ``partition`` appends ``key=value``
    directory levels and replaces ONLY that directory (Spark's dynamic
    partition overwrite); None replaces the whole sidecar directory
    (Spark's plain overwrite). All call sites run under the store
    writer lease.

    Driver-direct arm crash ordering matches the Spark write: the new
    file lands under a hidden dot-name first, existing committed files
    are removed, then the hidden file renames into place — a crash
    before the unlink leaves the old sidecar intact; a crash between
    unlink and rename leaves a directory :func:`parquet_write_completed`
    reports ABSENT, which every sidecar reader already self-heals."""
    local = _driver_direct(path)
    if local is None:
        frame = _local_frame(
            spark, rows, StructType.fromDDL(
                ", ".join(f"`{n}` {_SIDECAR_TYPES[t]}" for n, t in schema)
            ),
        )
        if partition:
            frame = frame.withColumns(
                {k: F.lit(v) for k, v in partition.items()}
            )
        # dynamic overwrite replaces only the partitions written; with
        # no partition columns it is the plain overwrite
        (
            frame.repartition(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*(partition or {}))
            .parquet(path)
        )
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = local.rstrip("/")
    for k, v in (partition or {}).items():
        target = os.path.join(target, f"{k}={v}")
    os.makedirs(target, exist_ok=True)
    table = pa.table(
        [
            pa.array([r[i] for r in rows], type=_arrow_type(t))
            for i, (_n, t) in enumerate(schema)
        ],
        names=[n for n, _t in schema],
    )
    final = os.path.join(target, f"part-00000-{os.getpid()}.parquet")
    tmp = os.path.join(target, f".{os.path.basename(final)}.tmp")
    pq.write_table(table, tmp)
    for fn in os.listdir(target):
        if fn.endswith(".parquet") and not fn.startswith((".", "_")):
            os.unlink(os.path.join(target, fn))
    os.rename(tmp, final)


#: The most ids of a DataFrame delete batch collected driver-direct.
_TOMBSTONE_COLLECT_ROWS = 100_000


def write_tombstone_sidecar(spark, ids_df, path: str, batch_id: int) -> None:
    """Land one delete batch's distinct ids — the first column of
    ``ids_df`` — under its ``__batch_id`` partition of the tombstone
    sidecar at ``path``: dynamic overwrite of that one partition, so
    redelivery of the same batch replaces its own tombstones. The
    driver-direct arm pays one bounded collect; past
    :data:`_TOMBSTONE_COLLECT_ROWS`, or for an id type outside
    :data:`_SIDECAR_TYPES`, a Spark job writes the batch. (A Python id
    list needs no collect: :func:`delete_from_store` writes it without
    a job.)"""
    col = ids_df.columns[0]
    arrow = {s: a for a, s in _SIDECAR_TYPES.items()}.get(
        dict(ids_df.dtypes)[col]
    )
    got = None
    if _driver_direct(path) is not None and arrow is not None:
        got = [
            r[0]
            for r in ids_df.limit(_TOMBSTONE_COLLECT_ROWS + 1).collect()
        ]
    if got is None or len(got) > _TOMBSTONE_COLLECT_ROWS:
        (
            ids_df.select(col)
            .distinct()
            .withColumn("__batch_id", F.lit(int(batch_id)))
            .repartition(1)
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("__batch_id")
            .parquet(path)
        )
        return
    _write_tombstone_rows(spark, path, batch_id, col, arrow, got)


def _write_tombstone_rows(
    spark, path: str, batch_id: int, id_col: str, arrow: str, ids
) -> None:
    """A delete batch's distinct Python ``ids`` (sidecar type
    ``arrow``) as ``id_col`` under the batch's partition, through
    :func:`write_sidecar_rows`. An empty batch writes no partition,
    like the Spark write."""
    vals = sorted(set(ids), key=lambda v: (v is None, v))
    if vals:
        write_sidecar_rows(
            spark, path, [(v,) for v in vals], [(id_col, arrow)],
            partition={"__batch_id": int(batch_id)},
        )


# ---------------------------------------------------------------------------
# Delta-store lifecycle: horizon marker + tombstone sidecar
# ---------------------------------------------------------------------------


def read_horizon(spark, path: str) -> int | None:
    """The store's compaction horizon (highest ``up_to_batch`` any
    compaction folded), or None if never compacted. Kept as its OWN
    1-row sidecar at ``{path}/horizon`` rather than a meta column: it
    is rewritten on every compaction, and an incomplete rewrite
    degrades to "no guard until the next compaction rewrites it",
    never to corrupted build parameters."""
    if not parquet_write_completed(spark, path + "/horizon"):
        return None
    row = read_sidecar_rows(spark, path + "/horizon")[0]
    return int(row["compacted_through"])


def reject_at_or_below_horizon(
    spark, path: str, batch_id: int | None, caller: str
) -> None:
    """Raise ``ValueError`` when ``batch_id`` (None = the -1 base) is
    at or below the compaction horizon. Batches there were folded into
    the base (relabeled away, so dynamic overwrite would land a
    redelivered copy BESIDE its folded rows, double-counting them) and
    their tombstones applied and cleared. Callers hold the writer
    lease, so a concurrent compaction cannot raise the horizon between
    this check and the write."""
    bid = -1 if batch_id is None else batch_id
    if not -_MAX_BATCH_ID - 1 <= bid <= _MAX_BATCH_ID:
        raise ValueError(
            f"{caller}: batch_id={batch_id} does not fit the store's "
            "declared int __batch_id column"
        )
    horizon = read_horizon(spark, path)
    if horizon is not None and bid <= horizon:
        raise ValueError(
            f"{caller}: batch_id={batch_id} is at or below the store's "
            f"compaction horizon {horizon} at {path} — batches there were "
            "folded into the base and their tombstones applied, so this "
            "batch would double-count rows or name rows already gone; "
            "issue batches only above the horizon (pick compaction "
            "horizons older than any batch your source can still "
            "redeliver)"
        )


def record_horizon(spark, path: str, up_to_batch: int, owner: str) -> None:
    """Compaction's FIRST step: raise the ``{path}/horizon`` marker to
    ``up_to_batch`` under the writer lease (never lowering it), so
    writes at or below it are rejected before any fold runs — a crash
    between this and the fold leaves the guard active and the fold
    pending, and re-running the compaction completes it. Raises
    ``ValueError`` for a non-local store before anything is written
    (compaction is local-only)."""
    _local_store(path, owner)
    with store_writer_lock(path, owner=owner):
        prior = read_horizon(spark, path)
        if prior is None or up_to_batch > prior:
            write_sidecar_rows(
                spark, path + "/horizon", [(int(up_to_batch),)],
                [("compacted_through", "int64")],
            )


def delete_from_store(
    spark, path: str, ids, batch_id: int, id_col: str, caller: str
) -> None:
    """Tombstone ``ids`` as delete batch ``batch_id`` of the store at
    ``path``: writer-lease-guarded, rejected at or below the
    compaction horizon, idempotent under redelivery (dynamic
    overwrite of the batch's own partition). ``ids`` is a DataFrame
    whose first column holds them (see :func:`write_tombstone_sidecar`)
    or a Python list, typed as ``createDataFrame`` infers it (int →
    bigint, str → string) and written with no Spark job on the
    driver-direct arm."""
    if isinstance(ids, DataFrame):
        ids = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        ids = list(ids)
        if not ids:
            raise ValueError(f"{caller}: no ids to delete")
        arrow = _id_type(ids)
    with store_writer_lock(path, owner=caller):
        reject_at_or_below_horizon(spark, path, batch_id, caller)
        if isinstance(ids, DataFrame):
            write_tombstone_sidecar(spark, ids, path + "/deletes", batch_id)
        else:
            _write_tombstone_rows(
                spark, path + "/deletes", batch_id, id_col, arrow, ids
            )


def _tombstone_rows(spark, path: str, as_of_batch: int | None):
    """The PENDING tombstones of ``{path}/deletes`` at or below
    ``as_of_batch`` (all when None) as (id column, sidecar rows), or
    None when none are pending there. Gated on the sidecar being
    COMMITTED (a crash between mkdir and commit reads as absent — the
    sidecar self-heal contract)."""
    if not parquet_write_completed(spark, path + "/deletes"):
        return None
    sel = [
        r for r in read_sidecar_rows(spark, path + "/deletes")
        if as_of_batch is None or int(r["__batch_id"]) <= as_of_batch
    ]
    if not sel:
        return None
    return next(c for c in sel[0] if c != "__batch_id"), sel


def read_tombstones(
    spark, path: str, as_of_batch: int | None = None
) -> DataFrame | None:
    """The store's pending tombstones at or below ``as_of_batch`` as a
    local frame of one (id, ``__batch_id``) row per deleted row per
    delete batch, or None when none are pending there."""
    got = _tombstone_rows(spark, path, as_of_batch)
    if got is None:
        return None
    idc, sel = got
    ids = [r[idc] for r in sel]
    schema = StructType.fromDDL(
        f"`{idc}` {_SIDECAR_TYPES[_id_type(ids)]}, __batch_id int"
    )
    return _local_frame(
        spark, [(v, int(r["__batch_id"])) for v, r in zip(ids, sel)], schema
    )


def tombstone_ids(
    spark, path: str, as_of_batch: int | None = None
) -> tuple | None:
    """The distinct ids of the store's pending tombstones at or below
    ``as_of_batch``, or None when none are pending there: the pin of a
    :class:`StoreSnapshot` and of a compaction's fold (a delete batch
    landing during the fold is above the horizon :func:`record_horizon`
    already raised)."""
    got = _tombstone_rows(spark, path, as_of_batch)
    if got is None:
        return None
    idc, sel = got
    return tuple(dict.fromkeys(r[idc] for r in sel))


#: The most pending tombstone ids a read drops with literals. Each is a
#: py4j call and Catalyst work per read (about 0.7 ms per probe), where
#: the anti-join's broadcast is one job whatever their number; the two
#: cross near 100 ids (BM25 probe, 5,000-doc index, local[2]).
_TOMBSTONE_LITERAL_IDS = 100


def drop_tombstoned(df: DataFrame, ids, id_col: str) -> DataFrame:
    """``df`` without the rows whose ``id_col`` is one of the tombstone
    ``ids`` (:func:`tombstone_ids`; None or empty drops nothing): up
    to :data:`_TOMBSTONE_LITERAL_IDS` ids a literal ``NOT IN`` filter,
    no job; past it an anti-join against a local frame, one broadcast
    job. Either way a null tombstone id matches nothing, a row with a
    null id survives and partition pruning is unchanged."""
    vals = [v for v in ids or () if v is not None]
    if not vals:
        return df
    if len(vals) > _TOMBSTONE_LITERAL_IDS:
        schema = StructType.fromDDL(
            f"`{id_col}` {_SIDECAR_TYPES[_id_type(vals)]}"
        )
        frame = _local_frame(df.sparkSession, [(v,) for v in vals], schema)
        return df.join(frame, id_col, "left_anti")
    c = F.col(id_col)
    return df.filter(c.isNull() | ~c.isin(vals))


# ---------------------------------------------------------------------------
# Store snapshots: declared schemas, one metadata read per query
# ---------------------------------------------------------------------------


def _nullable(t):
    """``t`` with every field, array element and map value nullable —
    how a file-source read types what it reads."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType)) for f in t]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(t.keyType, _nullable(t.valueType))
    return t


def read_schema(df: DataFrame, partition_cols) -> StructType:
    """The schema a Spark read of ``df`` written ``partitionBy(
    *partition_cols)`` returns: the data columns in order, then the
    partition columns, all nullable. A partition column keeps its
    written type — a string stays a string even when every directory
    value is all digits (inference would type those int) — except
    that an integral one is int, as inference types a batch or cell
    number."""
    parts = [str(c) for c in partition_cols]
    types = {
        c: IntegerType() if isinstance(t, IntegralType) else t
        for c, t in ((c, df.schema[c].dataType) for c in parts)
    }
    return _nullable(
        StructType(
            [f for f in df.schema if f.name not in types]
            + [StructField(c, t) for c, t in types.items()]
        )
    )


#: The declared ``__batch_id`` type is int: a batch id must fit it.
_MAX_BATCH_ID = 2**31 - 1


def write_store_meta(
    spark, path: str, params: list[tuple[str, str, object]], schemas: dict
) -> None:
    """Write the store's 1-row ``{path}/meta``: its build parameters
    (``(name, arrow type, value)`` triples) and the read schema of
    each data directory, as one JSON column. Callers hold the lease."""
    doc = json.dumps({d: t.jsonValue() for d, t in sorted(schemas.items())})
    write_sidecar_rows(
        spark, path + "/meta", [(*(v for *_nt, v in params), doc)],
        [*((n, t) for n, t, _v in params), ("schemas", "string")],
    )


def read_store_meta(spark, path: str) -> tuple[dict, dict] | None:
    """(build parameters, {data directory: read schema}) from
    ``{path}/meta``, or None when no committed meta exists — a crashed
    partial meta write reads as absent, so the next write rewrites it
    under the lease (the sidecar self-heal contract)."""
    if not parquet_write_completed(spark, path + "/meta"):
        return None
    row = dict(read_sidecar_rows(spark, path + "/meta")[0])
    if "schemas" not in row:
        raise ValueError(
            f"store at {path} records no data schemas in its meta — it "
            "was written by an older engine; rebuild it at a fresh path"
        )
    doc = json.loads(row.pop("schemas"))
    return row, {d: StructType.fromJson(t) for d, t in doc.items()}


#: The columns of a search store's ``{path}/stats`` sidecar, one row
#: per ``__batch_id``: the batch's document count, its indexed-token
#: mass, its searchable documents (``dl > 0``: those with a posting)
#: and its longest document. A row written from a stats frame that
#: lacks the last two carries them null.
STATS_FIELDS = [
    ("n_docs", "int64"),
    ("sum_dl", "int64"),
    ("n_searchable", "int64"),
    ("max_dl", "int64"),
]

_STATS_SCHEMA = StructType(
    [StructField(n, LongType()) for n, _t in STATS_FIELDS]
    + [StructField("__batch_id", IntegerType())]
)


@dataclass(frozen=True)
class StoreSnapshot:
    """What one query reads of a delta store, pinned once by
    :func:`open_store` (see the module docstring)."""

    spark: object
    path: str
    meta: dict  # build parameters (none for IVF-PQ)
    batches: dict  # directory → committed __batch_id values, ascending
    #: the newest batch every read sees: :func:`open_store`'s
    #: ``as_of_batch``, else the newest batch committed when the
    #: snapshot was taken
    upto: int | None
    tombstones: tuple | None  # tombstone_ids: the pending ids
    schemas: dict  # data directory → read schema
    #: the stats sidecar's rows (dicts) at or below ``upto``; empty
    #: for a store without one
    stats: tuple

    def read(self, d: str, where=None) -> DataFrame:
        """The rows of data directory ``d`` matching ``where``, read with
        its declared schema and limited to the snapshot's batches (that
        filter last, so the plan lists the caller's partition filters
        first)."""
        df = self.spark.read.schema(self.schemas[d]).parquet(
            f"{self.path}/{d}"
        )
        if where is not None:
            df = df.filter(where)
        if self.upto is not None:
            df = df.filter(F.col("__batch_id") <= self.upto)
        return df

    def live(self, df: DataFrame, id_col: str) -> DataFrame:
        """``df`` without the rows the pinned tombstones name
        (:func:`drop_tombstoned`)."""
        return drop_tombstoned(df, self.tombstones, id_col)


def open_store(
    spark, path: str, as_of_batch: int | None = None
) -> StoreSnapshot:
    """Pin the delta store at ``path`` for one query: its meta (build
    parameters and declared schemas — required), pending tombstones,
    the committed batch ids (at or below ``as_of_batch``) of its data
    directories and of ``stats``, which carries every search batch,
    one that indexed no posting too, and those batches' stats rows.
    Driver-direct on a local path: pyarrow and the directory listing,
    no Spark job."""
    got = read_store_meta(spark, path)
    if got is None:
        raise ValueError(
            f"open_store: no store at {path} — its meta sidecar is "
            "missing or uncommitted (write the store first)"
        )
    meta, schemas = got
    batches = {}
    for d in (*schemas, "stats"):
        ids = {
            int(_partition_values(comps)["__batch_id"])
            for comps in _listed_files(spark, f"{path}/{d}")
        }
        batches[d] = tuple(
            sorted(b for b in ids if as_of_batch is None or b <= as_of_batch)
        )
    upto = as_of_batch if as_of_batch is not None else max(
        (b[-1] for b in batches.values() if b), default=None
    )
    stats = ()
    if batches["stats"]:
        stats = tuple(
            r
            for r in read_sidecar_rows(
                spark, f"{path}/stats", schema=_STATS_SCHEMA
            )
            if int(r["__batch_id"]) <= upto
        )
    return StoreSnapshot(
        spark, path, meta, batches, upto,
        tombstone_ids(spark, path, as_of_batch), schemas, stats,
    )


def as_snapshot(spark, store) -> StoreSnapshot:
    """``store`` when it already is a :class:`StoreSnapshot` (a query
    passing one snapshot to each of its probes), else
    :func:`open_store` of the path."""
    if isinstance(store, StoreSnapshot):
        return store
    return open_store(spark, store)


def fold_below_horizon(
    df: DataFrame, up_to_batch: int, tombstones: tuple | None, id_col: str
) -> DataFrame:
    """The data fold of a compaction: relabel ``__batch_id`` at or
    below the horizon to the -1 base and drop the rows the pinned
    ``tombstones`` ids name (Lucene's deletes-at-merge, FAISS
    ``remove_ids``)."""
    return drop_tombstoned(df, tombstones, id_col).withColumn(
        "__batch_id",
        F.when(F.col("__batch_id") <= up_to_batch, F.lit(-1)).otherwise(
            F.col("__batch_id")
        ),
    )


def clear_tombstones(spark, path: str, up_to_batch: int, owner: str) -> dict:
    """Compaction's LAST step: drop the applied tombstone partitions
    (``__batch_id <= up_to_batch``). Pure partition filtering — the
    surviving delta files are copied byte-for-byte and nothing is
    folded — so it reads no data. A crash before it leaves the applied
    tombstones pending, which is safe (reads exclude ids whose rows
    are already gone) and a re-run completes the clear."""
    return compact_sidecar_partitioned(
        spark, path + "/deletes", up_to_batch, lambda _gk, _tables: None,
        owner=owner, lock_path=path,
    )


# ---------------------------------------------------------------------------
# Compaction (local-only)
# ---------------------------------------------------------------------------


def _recover_interrupted_swap(local: str, tmp: str, bak: str, label: str) -> None:
    """Entry recovery for the two-rename swap (shared by the Spark and
    driver-direct compactions): a leftover ``.__bak`` with no live
    store is rolled forward (the fully-written ``.__compact`` renamed
    live — its ``_SUCCESS`` marker proves the temp write completed
    before any rename began) or rolled back (backup restored)."""
    if os.path.exists(bak) and not os.path.exists(local):
        if os.path.exists(os.path.join(tmp, "_SUCCESS")):
            log.warning(
                "compaction: completing interrupted swap at %s (rolling "
                "the compacted copy forward)",
                label,
            )
            os.rename(tmp, local)
            shutil.rmtree(bak)
        else:
            log.warning(
                "compaction: restoring backup after interrupted swap at %s",
                label,
            )
            os.rename(bak, local)


def _swap_compacted(local: str, tmp: str, bak: str) -> None:
    """The two-rename swap itself: live → .bak, tmp → live, rm .bak.
    Callers hold the writer lease; a crash between the renames is
    healed by :func:`_recover_interrupted_swap` on the next entry."""
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(local, bak)
    os.rename(tmp, local)
    shutil.rmtree(bak)


def compact_sidecar_partitioned(
    spark,
    path: str,
    up_to_batch: int,
    fold,
    group_levels: int = 0,
    always_fold_root: bool = False,
    max_rows: int | None = None,
    owner: str | None = None,
    lock_path: str | None = None,
) -> dict | None:
    """DRIVER-DIRECT compaction of a BOUNDED ``__batch_id``-partitioned
    sidecar store (stats deltas, delete tombstones, dictionary deltas)
    — the compaction twin of :func:`read_sidecar_rows` /
    :func:`write_sidecar_rows`. Routing a 3-row stats store through
    :func:`compact_partitioned_store` pays a full Spark read + an
    explicit-count shuffle + a partitioned write + commit protocol
    (~1-2 s of pure scheduling at ANY scale); metadata folds should
    not be jobs (the table-format manifest lesson, guide §5/§7.3).

    TIERED FOLD (the r12/r13 verdicts' ask, applied where it is
    crash-safe): partitions with ``__batch_id > up_to_batch`` are
    COPIED BYTE-FOR-BYTE into the compacted tree — never decoded,
    re-encoded, or re-ordered — so their schema, types and escaped
    directory names are preserved exactly; only partitions at or
    below the horizon are read and folded. ``fold(group_key_raw,
    tables)`` receives the raw (still-escaped) partition directory
    components above ``__batch_id`` (``group_levels`` of them — the
    dict store's ``__pfx=..`` level) and the pyarrow tables of that
    group's at-or-below-horizon files, and returns the folded base
    table (written under ``__batch_id=-1``) or None (nothing to
    write — the delete-clear shape). ``always_fold_root=True`` calls
    the fold even when no at-or-below-horizon files exist (the stats
    fold always emits a base row).

    Crash story is IDENTICAL to :func:`compact_partitioned_store`:
    the new tree is built under ``.__compact`` with a ``_SUCCESS``
    marker, the same two-rename swap runs under the writer lease, and
    entry recovery rolls an interrupted swap forward or back.
    Local-only (``ValueError`` otherwise); a file outside the
    ``[group dirs/]__batch_id=K`` layout raises ``ValueError``.
    Returns None, changing nothing, when ``max_rows`` is given and
    the store exceeds it (footer metadata check, no data read)."""
    import pyarrow.parquet as pq

    local = _local_store(path, "compact_sidecar_partitioned")
    tmp = local.rstrip("/") + ".__compact"
    bak = local.rstrip("/") + ".__bak"
    with store_writer_lock(lock_path or path, owner=owner or "compact_sidecar"):
        _recover_interrupted_swap(local, tmp, bak, path)
        entries: dict[tuple[tuple[str, ...], int], list[str]] = {}
        total_rows = 0
        for f, comps in _committed_files(local):
            if len(comps) != group_levels + 1 or not comps[-1].startswith(
                "__batch_id="
            ):
                raise ValueError(
                    f"compact_sidecar_partitioned: {f} is outside the "
                    f"expected [group dirs/]__batch_id=K layout of {path}"
                )
            bid = int(comps[-1].split("=", 1)[1])
            entries.setdefault((comps[:-1], bid), []).append(f)
            total_rows += _footer_rows(f)
            if max_rows is not None and total_rows > max_rows:
                return None
        files_before = sum(len(fs) for fs in entries.values())
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        files_after = 0
        fold_groups: dict[tuple[str, ...], list[str]] = {}
        for (gk, bid), files in sorted(entries.items()):
            if bid <= up_to_batch:
                fold_groups.setdefault(gk, []).extend(files)
            else:
                dst = os.path.join(tmp, *gk, f"__batch_id={bid}")
                os.makedirs(dst, exist_ok=True)
                for f in files:
                    shutil.copy2(f, os.path.join(dst, os.path.basename(f)))
                    files_after += 1
        if always_fold_root and group_levels == 0:
            fold_groups.setdefault((), [])
        for gk in sorted(fold_groups):
            tables = [pq.read_table(f) for f in sorted(fold_groups[gk])]
            base = fold(gk, tables)
            if base is None or base.num_rows == 0:
                continue
            dst = os.path.join(tmp, *gk, "__batch_id=-1")
            os.makedirs(dst, exist_ok=True)
            pq.write_table(
                base, os.path.join(dst, f"part-00000-{os.getpid()}.parquet")
            )
            files_after += 1
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        _swap_compacted(local, tmp, bak)
    spark.catalog.clearCache()
    return {
        "rows": total_rows,
        "files_before": files_before,
        "files_after": files_after,
    }


#: The most rows a compaction writes per file (``maxRecordsPerFile``).
_TARGET_ROWS_PER_FILE = 1_000_000


def compact_partitioned_store(
    spark,
    path: str,
    partition_cols: tuple[str, ...],
    schema: StructType | str,
    owner: str | None = None,
    transform=None,
    lock_path: str | None = None,
) -> dict:
    """Rewrite a partitioned parquet store into right-sized files,
    PRESERVING the partition directory layout (band=…/, tbl=…/,
    digest_prefix=…/) so partition-pruned probe plans are untouched.

    Streaming appends leave one small file per micro-batch per
    partition; after N batches a band probe reads N footers per
    directory. The rewrite is one hash repartition on the partition
    columns (each partition value lands in exactly one task → one
    right-sized file per directory, ``maxRecordsPerFile`` splitting
    oversize ones) — fully distributed, no driver data.

    Swap discipline: the compacted copy is written to a sibling temp
    dir, the live store is renamed to a ``.bak``, the temp renamed
    live, and the backup removed. The two renames are not one atomic
    operation, so a crash CAN land between them (no live directory at
    ``path``); entry therefore starts with crash RECOVERY — a leftover
    ``.bak`` with no live store is rolled forward (rename the
    fully-written ``.__compact`` live; the temp write completed
    before any rename began, its ``_SUCCESS`` marker is checked) or
    rolled back (restore the backup). Either way the next call sees a
    whole store. Readers must not race compaction — the swap window
    is writer-locked but reads take no lock (same contract as the
    reference's load-job table swaps). The writer lease is held
    across the whole swap (compaction IS a store mutation).

    Sizing comes from :func:`parquet_row_count` (footer metadata, no
    scan). Returns {"rows", "files_before", "files_after"}.

    ``transform``: optional DataFrame→DataFrame rewrite applied
    before the compacted copy is written — delta-folding compactions
    (e.g. relabeling old ``__batch_id`` partitions into the base)
    ride the same crash-recovering swap. ``lock_path``: take the
    writer lease on THIS path instead of ``path`` — callers whose
    store root differs from the compacted subdirectory (the IVF-PQ
    codes/ layout) must serialize against writers locking the root.
    ``schema``: the store's declared read schema (:func:`read_schema`,
    or a ledger's DDL), so the rewrite runs no schema-inference job.
    """
    local = _local_store(path, "compact_partitioned_store")
    tmp = local.rstrip("/") + ".__compact"
    bak = local.rstrip("/") + ".__bak"
    with store_writer_lock(lock_path or path, owner=owner or "compact"):
        _recover_interrupted_swap(local, tmp, bak, path)
        files_before = parquet_file_count(local) or 0
        rows = parquet_row_count(local)
        df = spark.read.schema(schema).parquet(local)
        if transform is not None:
            df = transform(df)
        shutil.rmtree(tmp, ignore_errors=True)
        (
            write_repartition(df, partition_cols)
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .option("maxRecordsPerFile", _TARGET_ROWS_PER_FILE)
            .parquet(tmp)
        )
        _swap_compacted(local, tmp, bak)
        files_after = parquet_file_count(local) or 0
    # Spark caches file listings per path string in some plans; make
    # sure later reads observe the swapped directory.
    spark.catalog.clearCache()
    return {"rows": rows, "files_before": files_before, "files_after": files_after}


# ---------------------------------------------------------------------------
# Existence probes
# ---------------------------------------------------------------------------


def parquet_path_exists(spark, path: str) -> bool:
    """Scheme-agnostic existence check via the Hadoop FileSystem —
    the narrow 'first batch: no store yet' test the streaming sinks
    need instead of a catch-all around the read (ADVICE r5: a bare
    except around the store read turned transient read errors into
    silent dedup bypass)."""
    local = _driver_direct(path)
    if local is not None:
        return os.path.exists(local)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def parquet_write_completed(spark, path: str) -> bool:
    """Existence check that also REJECTS a crashed partial write: the
    directory must exist AND carry at least one committed data file
    (``_temporary`` task staging is skipped — files there never
    job-committed). A ``_SUCCESS`` marker alone is NOT enough
    (ADVICE r10): a job that crashed between marker commit and
    renaming its data files — or a manually truncated sidecar —
    leaves a marker-only directory ``spark.read.parquet`` cannot
    schema-infer, defeating the self-heal this probe exists to
    provide.

    Sidecar readers need this instead of :func:`parquet_path_exists`
    (ADVICE r9): a crash between ``mkdir`` and job commit of a 1-row
    sidecar (search-index meta, horizon markers) leaves a directory
    that EXISTS but cannot be read, and an exists-only probe then
    fails every later read/write instead of letting the lock-guarded
    rewrite self-heal. An incomplete sidecar is reported absent, so
    the next writer rewrites it under the store lease.

    The Spark arm runs the same data-file check as a recursive Hadoop
    FileSystem listing (:func:`_listed_files`) — bounded for the 1-row
    sidecars this guards (a handful of objects per prefix)."""
    return next(_listed_files(spark, path), None) is not None
