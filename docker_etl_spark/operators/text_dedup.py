"""Text deduplication operators — exact, MinHash+LSH, SimHash, n-gram
Jaccard.

These are the training-data-pipeline operators layered on top of the
reference's dedup idioms (SURVEY.md §2.7 U2/U3): exact dedup is a
hash-groupBy; *near*-dup detection is MinHash signatures + LSH
banding so candidate generation is a bucket equi-join (shuffle on
band key) instead of an O(n²) cross join — the only formulation that
survives 100 TB.

Everything below is built from JVM higher-order functions (split /
transform / array_min / md5 / xxhash64) — no Python UDFs anywhere in
the hot path.

Hash portability: the fast path hashes shingles with xxhash64
(engine-specific values). ``hash_fn='md5'`` switches to md5 hex
strings, which any engine computes identically — that is what the
differential-oracle queries use; structure and semantics are
identical in both modes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from docker_etl_spark.operators._util import spread_for_compute as _spread

# ---------------------------------------------------------------------------
# Shingling
# ---------------------------------------------------------------------------


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    array<string>; empty array when the text has fewer than ``n``
    tokens.

    Construction: zip_with over ``n`` shifted slices of the token
    array. The obvious shape — transform over an index sequence with
    ``slice(split(text), i, n)`` in the lambda — re-evaluates the
    SPLIT once per gram (interpreted HOF lambdas re-evaluate every
    embedded subexpression; there is no common-subexpression
    elimination), i.e. O(tokens^2) character work per document. The
    zip_with chain references the split only from top-level
    expressions (~n+2 evaluations per row), so shingling is linear —
    and it is the first stage of every MinHash/Jaccard kernel.
    """
    t = F.col(text) if isinstance(text, str) else text
    w = F.split(t, " ")
    m = F.size(w) - n + 1
    grams = F.slice(w, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(w, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(
    shingles: Column, num_perm: int = 64, hash_fn: str = "xxhash64"
) -> Column:
    """MinHash signature: per permutation i, min over shingle hashes.

    xxhash64 mode → array<bigint> (fast path); md5 mode →
    array<string> (lexicographic min of hex digests — engine-portable
    and still a uniform permutation of the shingle space).

    Built as ONE ``aggregate`` fold over the shingle array carrying a
    ``num_perm``-wide accumulator: each shingle is visited exactly
    once, updating every permutation's running min in that visit.
    The earlier shape — ``num_perm`` separate
    ``array_min(transform(...))`` expressions — walks the array
    num_perm times AND references the input column num_perm times,
    so an inline shingling argument (the common call shape) is
    re-evaluated per permutation by projection collapse: measured 8x
    slower at 64 perms / 2x at 12 on sf0.1 documents. The fold
    references ``shingles`` exactly once (wrapped in a coalesce so a
    NULL input still yields the all-NULL signature), with a NULL-array
    zero — ``least`` skips NULLs, so empty arrays keep the all-NULL
    signature the min-over-empty semantics produced. Signatures are
    bit-identical to the unfused form in both hash modes (pinned by
    tests/test_round7_ops.py).
    """
    if hash_fn == "md5":
        zero = F.array(*[F.lit(None).cast("string")] * num_perm)

        def upd(acc: Column, s: Column) -> Column:
            return F.array(*[
                F.least(
                    F.element_at(acc, i + 1),
                    F.md5(F.concat(s, F.lit(f"p{i}"))),
                )
                for i in range(num_perm)
            ])
    else:
        zero = F.array(*[F.lit(None).cast("bigint")] * num_perm)

        def upd(acc: Column, s: Column) -> Column:
            return F.array(*[
                F.least(F.element_at(acc, i + 1), F.xxhash64(s, F.lit(i)))
                for i in range(num_perm)
            ])
    return F.aggregate(
        F.coalesce(shingles, F.array().cast("array<string>")), zero, upd
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH banding → candidate pairs (id_a < id_b), deduplicated.

    Each signature is cut into ``bands`` bands of ``rows_per_band``
    values; a band's key is md5 over its values. Candidates are pairs
    sharing any (band, key) bucket — a self equi-join on the bucket
    key, the scalable core: shuffle is on band keys, never a cross
    join.

    ``max_bucket_size`` drops pathological buckets (a near-universal
    shingle pattern can put thousands of docs in one bucket, turning
    the self-join quadratic). Dropped buckets lose recall on exactly
    the documents that match everything — the standard LSH trade; set
    None to disable.
    """
    # Band keys via ONE transform over the band index: the signature
    # array is referenced a single time, so the (expensive) signature
    # expression is never duplicated per band by projection collapse,
    # and driver-side construction is O(1) in bands × rows_per_band.
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(F.col(sig_col), b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                    "|",
                )
            ).alias("bkey"),
        ),
    )
    exploded = docs.select(
        F.col(id_col), F.explode(band_keys).alias("bk")
    ).select(id_col, "bk.band", "bk.bkey")

    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bkey")
        exploded = (
            exploded.withColumn("__bsz", F.count("*").over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )

    # Materialize (id, band, key) once — lazily, on first action.
    # Without the barrier the self-join below computes the whole
    # upstream (scan -> shingle -> num_perm-way signature) TWICE,
    # once per join side (broadcast asymmetry defeats exchange
    # reuse). The checkpointed rows are the compact candidate keys —
    # already the shuffle payload of the bucket join — so the barrier
    # adds no data volume at any scale, and saves a full signature
    # pass.
    exploded = exploded.localCheckpoint(eager=False)

    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs with exact-Jaccard
    verification.

    Pipeline: shingle → signature → LSH candidates → join shingle
    sets back → keep pairs with true Jaccard ≥ threshold. Returns
    (id_a, id_b, jaccard).

    Scale notes: two shuffles (band-bucket join, shingle re-join);
    the verify join is on candidate ids only — candidates are rare,
    so the re-join is tiny. Tune bands/rows so the LSH S-curve knee
    sits at ``threshold`` (b=3, r=4 → knee ≈ 0.76 for the default).
    """
    rows_per_band = num_perm // bands
    # Pre-filter on the CHEAP equivalent predicate (word_shingles is
    # non-empty iff the text has >= n tokens): a filter on the
    # shingle array itself gets pushed below the spread repartition,
    # evaluating the full shingle expression serially on the raw
    # input partitioning; the split-size test pushes to the scan
    # harmlessly and keeps shingling above the exchange.
    has_shingles = F.size(F.split(F.col(text_col), " ")) >= shingle_n
    # One lazy materialization of the shingle arrays serves all three
    # consumers (signature branch + both sides of the verify join);
    # without it each consumer re-scans and re-shingles the corpus.
    sh = _spread(docs.filter(has_shingles)).select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    ).localCheckpoint(eager=False)
    sig = sh.withColumn("sig", minhash_signature(F.col("shingles"), num_perm, hash_fn))
    cand = lsh_candidate_pairs(sig, id_col, "sig", bands, rows_per_band)
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("source",),
    length_col: str | None = "n_chars",
    length_tolerance: int = 20,
    shingle_n: int = 3,
    threshold: float = 0.01,
) -> DataFrame:
    """Blocked exact n-gram Jaccard similarity (the non-LSH variant).

    Candidate generation by *blocking* (equi-join on ``block_cols``
    plus a length band) instead of hashing — the classic dedup
    baseline. The length band is itself an EQUI key: lengths are
    bucketed at width ``length_tolerance + 1`` and the right side
    emits its bucket ±1, so every |Δlen| ≤ tolerance pair falls on
    exactly one (block, bucket) key — a pure hash join whose
    candidate count is near-linear, instead of the quadratic
    all-pairs-per-block join a non-equi length predicate degenerates
    to. Results are identical (the exact |Δlen| filter still applies
    after the join). LSH (minhash_near_duplicates) remains the path
    when no natural blocking exists.
    """
    # Cheap pushdown-safe pre-filter (see minhash_near_duplicates);
    # then one lazy materialization barrier so the a/b self-join
    # reads the shingle arrays once instead of re-shingling per side
    # (the arrays flow through the join either way — the barrier adds
    # no data volume, just removes a duplicate text pass).
    has_shingles = F.size(F.split(F.col(text_col), " ")) >= shingle_n
    sh = _spread(docs.filter(has_shingles)).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        *( [F.col(length_col)] if length_col else [] ),
        word_shingles(text_col, shingle_n).alias("shingles"),
    ).localCheckpoint(eager=False)
    bucket_w = length_tolerance + 1
    a = sh.withColumn("__bkt", F.floor(F.col(length_col) / bucket_w)) if length_col else sh
    if length_col:
        b = sh.select(
            "*",
            F.explode(
                F.array(
                    F.floor(F.col(length_col) / bucket_w) - 1,
                    F.floor(F.col(length_col) / bucket_w),
                    F.floor(F.col(length_col) / bucket_w) + 1,
                )
            ).alias("__bkt"),
        )
    else:
        b = sh
    a, b = a.alias("a"), b.alias("b")
    keys = [*block_cols, *(["__bkt"] if length_col else [])]
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in keys:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    if length_col:
        cond = cond & (
            F.abs(F.col(f"a.{length_col}") - F.col(f"b.{length_col}"))
            <= length_tolerance
        )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            jaccard(F.col("a.shingles"), F.col("b.shingles")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array: per bit, sum ±1 votes from
    each token's xxhash64; bit set where the vote is positive.

    Reference implementation (64-slot vote array folded per token).
    Kept as the semantic twin for ``simhash64_packed`` — production
    paths use the packed SWAR kernel, which this must always match
    (pinned by a differential unit test).
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    n = F.size(tokens)
    positions = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(positions, lambda i: F.bit_get(h, i).cast("long")),
            lambda a, b: a + b,
        ),
    )
    # pow2[63] is long-min: two's-complement value of the sign bit, so
    # OR-packing bit 63 works without shift overflow.
    pow2 = F.lit([1 << i for i in range(63)] + [-(1 << 63)])
    return F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v * 2 > n, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, b: a.bitwiseOR(b),
    )


# 0x0001000100010001: one 16-bit counter lane per strided bit group.
_LANE_MASK = 0x0001000100010001
_LANE_BASE = [1, 1 << 16, 1 << 32, 1 << 48]

# Per-token 64-bit hash expressions (SQL text, token var ``t``).
# ``md5`` mode is the engine-portable twin: the first 15 hex chars of
# the md5 digest as a 60-bit big-endian integer — any engine with
# md5() reproduces it exactly (bits 60-63 are always 0, which costs
# four signature bits but changes no pair's hamming distance since
# every signature shares the zeros).
_TOKEN_HASH_SQL = {
    "xxhash64": "xxhash64(t)",
    "md5": "cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)",
}

_SIMHASH_PACKED_SQL = """
aggregate(
  transform(slice({toks}, 1, 32767), t -> {hash}),
  array_repeat(0L, 17),
  (acc, h) -> zip_with(acc, sequence(0, 16),
      (a, k) -> a + if(k = 16, 1L, shiftrightunsigned(h, k) & {mask}L)),
  acc -> aggregate(
      zip_with(slice(acc, 1, 16), sequence(0, 15),
        (a, k) -> shiftleft(
            if(2 * (a & 65535L) > acc[16], 1L, 0L)
          | if(2 * (shiftrightunsigned(a, 16) & 65535L) > acc[16], {b16}L, 0L)
          | if(2 * (shiftrightunsigned(a, 32) & 65535L) > acc[16], {b32}L, 0L)
          | if(2 * (shiftrightunsigned(a, 48) & 65535L) > acc[16], {b48}L, 0L),
          k)),
      0L, (s, x) -> s | x))
"""


def simhash64_packed(tokens_sql: str, hash_fn: str = "xxhash64") -> Column:
    """SWAR SimHash: same signature as ``simhash64`` at ~4x less
    per-token work. Bit votes for the 64 positions accumulate into
    sixteen longs of four 16-bit lanes each (lane j of long k counts
    position k+16j), so the per-token update is 16 shift/mask/adds —
    ``(h >>> k) & 0x0001000100010001`` — instead of materializing a
    64-slot array. The 17th accumulator slot counts tokens for the
    strict-majority test; the finishing lambda extracts each lane,
    places its majority bit at the lane base, and shifts into
    position (shift amount is a lambda variable, hence the SQL-text
    form — the Python wrapper only takes int shift amounts).

    Lane counters are 16-bit, but under ANSI arithmetic (Spark 4
    default) the signed SWAR add raises ARITHMETIC_OVERFLOW once the
    top lane's counter (bits 48-63) reaches 32768 — so the enforced
    bound is a 32767-token prefix (``slice`` in the kernel). SimHash
    on a 32767-token prefix is a sane approximation for pathological
    web documents, and strictly better than either silent lane-carry
    corruption or a hard runtime error mid-dedup.

    ``tokens_sql`` is the token-array expression as SQL text (it is
    referenced exactly once, so upstream expressions are not
    re-evaluated per lane).
    """
    return F.expr(
        _SIMHASH_PACKED_SQL.format(
            toks=tokens_sql,
            hash=_TOKEN_HASH_SQL[hash_fn],
            mask=_LANE_MASK,
            b16=_LANE_BASE[1],
            b32=_LANE_BASE[2],
            b48=_LANE_BASE[3],
        )
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    block_bits: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs via banded blocking on signature chunks.

    Pigeonhole: two signatures within ``max_hamming`` bits of each
    other must agree exactly on at least one chunk when the 64 bits
    are split into more than ``max_hamming`` chunks — so candidates
    come from equi-joins on chunk values, never a cross join.

    By default the chunking is DERIVED from ``max_hamming``
    (``max_hamming + 1`` balanced chunks), so recall is always
    complete. An explicit ``block_bits`` is validated against the
    precondition (``64 // block_bits > max_hamming``) and rejected
    otherwise — silently missing hamming-4..8 pairs with 16-bit
    chunks was a real bug. Narrower chunks (bigger ``max_hamming``)
    mean coarser buckets and more candidate pairs to verify: at 100 TB
    keep ``max_hamming`` small or pre-shard by a cheap key (length
    band, language) before blocking. Returns (id_a, id_b, hamming).
    """
    if block_bits is not None:
        n_chunks = 64 // block_bits
        if n_chunks <= max_hamming:
            raise ValueError(
                f"block_bits={block_bits} gives {n_chunks} chunks, but pigeonhole "
                f"blocking needs > max_hamming={max_hamming} chunks to be "
                "recall-complete; pass block_bits=None to derive it"
            )
        widths = [block_bits] * n_chunks
    else:
        n_chunks = max_hamming + 1
        base, extra = divmod(64, n_chunks)
        widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    starts = [sum(widths[:c]) for c in range(n_chunks)]
    quoted = "`" + text_col.replace("`", "``") + "`"
    sigs = _spread(docs).select(
        F.col(id_col),
        simhash64_packed(f"split(lower({quoted}), ' ')", hash_fn).alias("sig"),
    )
    # A 64-bit-wide chunk needs the all-ones mask; (1 << 64) - 1
    # overflows a JVM long literal, so use -1 (two's complement).
    masks = [
        F.lit((1 << w) - 1 if w < 64 else -1).cast("long") for w in widths
    ]
    chunk_keys = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("sig", starts[c])
                .bitwiseAND(masks[c])
                .alias("ckey"),
            )
            for c in range(n_chunks)
        ]
    )
    exploded = sigs.select(id_col, "sig", F.explode(chunk_keys).alias("ck")).select(
        id_col, "sig", "ck.chunk", "ck.ckey"
    )
    # Lazy barrier: compute the SWAR signature pass once; the
    # self-join otherwise evaluates it per side (see
    # lsh_candidate_pairs). Rows are (id, sig, chunk, ckey) — the
    # join's own shuffle payload.
    exploded = exploded.localCheckpoint(eager=False)
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def signature_band_keys(
    sig_col: Column, bands: int, rows_per_band: int
) -> Column:
    """The (band, bkey) array for one signature — md5 over each
    band's '|'-joined values, identical to ``lsh_candidate_pairs``'
    keying so stored signatures and fresh ones bucket compatibly."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                    "|",
                )
            ).alias("bkey"),
        ),
    )


def signature_match_fraction(a: Column, b: Column, num_perm: int) -> Column:
    """The unbiased MinHash Jaccard estimator: fraction of equal
    signature positions. One IEEE division of exact ints."""
    matches = F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m)
    )
    return matches.cast("double") / F.lit(float(num_perm))


def write_signature_store(
    sigs: DataFrame,
    path: str,
    bands: int,
    num_perm: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    mode: str = "overwrite",
) -> None:
    """Persist a MinHash signature store in its 100 TB layout:
    band-EXPLODED (one row per (band, bkey, id, sig)) and
    ``partitionBy("band")``. Exploding at write time means ingest
    batches never re-derive band keys for already-seen documents, and
    the band partition column is what lets a band-subset probe
    (staged screening — see ``probe_bands``) prune the scan to the
    matching directories instead of reading the whole store.

    Mutations hold the single-writer lease (``sources/stores.py``) —
    the store is bare parquet, so concurrency safety is enforced at
    the writer, not assumed.
    """
    from docker_etl_spark.sources.stores import (
        store_writer_lock,
        write_repartition,
    )

    rows_per_band = num_perm // bands
    exploded = sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(
            signature_band_keys(F.col(sig_col), bands, rows_per_band)
        ).alias("bk"),
    ).select(id_col, sig_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    with store_writer_lock(path, owner="write_signature_store"):
        # hash-distribute on the partition column first (the
        # write_digest_store discipline): commits otherwise scale as
        # tasks × bands instead of one file per band directory;
        # explicit count so AQE cannot serialize the band commits
        write_repartition(exploded, ("band",)).write.mode(
            mode
        ).partitionBy("band").parquet(path)


def _signature_lifecycle(spark, path: str) -> str:
    """The sibling root of ``path`` under which the shared delta-store
    lifecycle (``sources/stores.py``) keeps the ledger's horizon and
    tombstones. Raises ``ValueError`` when the ledger still has pending
    tombstones in the old ``<path>.__deletes`` sidecar (``__del_batch``
    partitions), which no read here honors: a purge is never dropped
    silently."""
    from docker_etl_spark.sources.stores import parquet_write_completed

    base = path.rstrip("/")
    old = base + ".__deletes"
    if parquet_write_completed(spark, old):
        raise ValueError(
            f"signature ledger at {path} has pending tombstones at {old} "
            "in the old __del_batch layout; apply them with the engine "
            "that wrote them, or re-issue them with "
            "delete_from_signature_store and remove that sidecar"
        )
    return base + ".__lifecycle"


def read_signature_deletes(spark, path: str) -> DataFrame | None:
    """The ledger's pending tombstones as (id, ``__batch_id``) rows,
    or None (:func:`~docker_etl_spark.sources.stores.read_tombstones`)."""
    from docker_etl_spark.sources.stores import read_tombstones

    return read_tombstones(spark, _signature_lifecycle(spark, path))


def delete_from_signature_store(
    spark, path: str, ids, batch_id: int, id_col: str = "doc_id"
) -> None:
    """Tombstone documents in a MinHash signature ledger as delete
    batch ``batch_id`` — the takedown lifecycle's NEAR-DUP leg: a
    purged document's signatures must stop suppressing near-duplicates
    of a re-licensed or corrected re-ingest. The search and IVF-PQ
    stores' :func:`~docker_etl_spark.sources.stores.delete_from_store`
    on the ledger's lifecycle root. :func:`load_signature_store`
    excludes the ids at once; :func:`apply_signature_deletes` drops
    their rows from EVERY band partition in one rewrite, which is why
    the read-side tombstone comes first and one apply batches many
    purges."""
    from docker_etl_spark.sources.stores import delete_from_store

    delete_from_store(
        spark, _signature_lifecycle(spark, path), ids, batch_id, id_col,
        "delete_from_signature_store",
    )


def _ledger_schema(path: str) -> str:
    """:func:`signature_store_schema` of the local ledger at ``path``,
    typed from one parquet footer: the first column is the id, and the
    element type of ``sig`` names the hash. A swap that crashed between
    its renames leaves no live ledger, only the ``.__bak`` copy that
    compaction's entry recovery restores; its footer serves then."""
    from itertools import chain

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    from docker_etl_spark.sources.stores import _committed_files, _local_store

    local = _local_store(path, "apply_signature_deletes").rstrip("/")
    first = next(
        chain(_committed_files(local), _committed_files(local + ".__bak")),
        None,
    )
    if first is None:
        raise ValueError(f"no signature ledger at {path}")
    footer = pq.read_schema(first[0])
    hash_fn = (
        "md5" if pa.types.is_string(footer.field("sig").type.value_type)
        else "xxhash64"
    )
    return signature_store_schema(
        from_arrow_type(footer.field(0).type).simpleString(), hash_fn,
        footer.names[0],
    )


def apply_signature_deletes(spark, path: str, up_to_batch: int) -> dict | None:
    """Physically drop the ledger's tombstones at or below
    ``up_to_batch`` through the shared lifecycle: record the horizon
    FIRST, rewrite the band layout without the pinned ids through the
    crash-recovering swap (read with the ledger's declared schema), and
    clear the applied tombstone batches LAST. A delete batch landing
    meanwhile is above the horizon and stays pending. Returns None,
    with the horizon raised all the same, when no tombstone is pending
    at or below ``up_to_batch``. Local-only, as every compaction."""
    from docker_etl_spark.sources.stores import (
        clear_tombstones,
        compact_partitioned_store,
        drop_tombstoned,
        record_horizon,
        tombstone_ids,
    )

    owner = "apply_signature_deletes"
    root = _signature_lifecycle(spark, path)
    record_horizon(spark, root, up_to_batch, owner)
    ids = tombstone_ids(spark, root, up_to_batch)
    if ids is None:
        return None
    res = compact_partitioned_store(
        spark, path, ("band",), _ledger_schema(path),
        owner=owner,
        transform=lambda df: drop_tombstoned(df, ids, df.columns[0]),
    )
    clear_tombstones(spark, root, up_to_batch, owner)
    return res


def signature_store_schema(
    id_type: str, hash_fn: str = "md5", id_col: str = "doc_id"
) -> str:
    """The read schema (DDL) of a :func:`write_signature_store` ledger:
    the id (of type ``id_type``), the signature (``hash_fn``'s element
    type) and the band key, then the ``band`` partition column."""
    el = "string" if hash_fn == "md5" else "bigint"
    return f"{id_col} {id_type}, sig array<{el}>, bkey string, band int"


def load_signature_store(
    spark, path: str, apply_deletes: bool = True
) -> DataFrame:
    """Read a :func:`write_signature_store` layout back. The returned
    frame is already band-exploded — pass it to
    :func:`incremental_minhash_dedup` with ``store_exploded=True``.
    Pending tombstones (:func:`delete_from_signature_store`) are
    excluded unless ``apply_deletes=False`` (the raw view — e.g.
    auditing what a purge will drop)."""
    df = spark.read.parquet(path)
    return drop_signature_deletes(spark, path, df) if apply_deletes else df


def drop_signature_deletes(spark, path: str, store: DataFrame) -> DataFrame:
    """``store``, read from the signature ledger at ``path`` (its first
    column the id), without the ids its pending tombstones name."""
    from docker_etl_spark.sources.stores import drop_tombstoned, tombstone_ids

    ids = tombstone_ids(spark, _signature_lifecycle(spark, path))
    return drop_tombstoned(store, ids, store.columns[0])


def incremental_minhash_dedup(
    new_docs: DataFrame,
    signature_store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sig_col: str = "sig",
    shingle_n: int = 3,
    num_perm: int = 12,
    bands: int = 3,
    est_threshold: float = 0.5,
    hash_fn: str = "md5",
    store_exploded: bool = False,
    probe_bands: list[int] | None = None,
    max_bucket_size: int | None = 1000,
    include_batch_pairs: bool = True,
    return_sigs: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Near-dup dedup of an incoming batch against a corpus
    SIGNATURE store — the continuous-corpus-build form of MinHash
    LSH (the x32 exact-digest pattern upgraded to near-duplicates):
    the store holds only (id, signature); no text is ever re-read or
    re-shingled for ingested documents.

    Candidates come from the band-bucket equi-join (batch × store
    and batch × earlier-in-batch); similarity is the signature
    position-match fraction (the unbiased MinHash estimator — the
    store has no shingles to verify against, which is precisely the
    storage trade this operator exists for; run exact verification
    only on the flagged survivors' text if the pipeline keeps it).

    Returns one row per batch document: (id, n_candidates, max_est,
    is_dup). Append ``is_dup = false`` rows' signatures to the store.

    Scale: signatures computed once per batch doc (lazy barrier);
    both joins shuffle narrow (band, key) pairs. At 100 TB keep the
    store in the :func:`write_signature_store` layout (band-exploded,
    ``partitionBy("band")``) and pass it with ``store_exploded=True``
    — the store is then never re-exploded per batch, and a
    ``probe_bands`` subset (staged screening: cheap 1-band pass
    first, full-band confirm on its hits only) pushes a static band
    filter that PRUNES the store scan to the matching partition
    directories (plan-pinned in
    ``tests/test_physical_plans.py::test_signature_store_partition_pruning``).

    ``store_exploded``: the store frame already has columns
    (id, sig, band, bkey) — :func:`load_signature_store` output —
    instead of one (id, sig) row per document.
    ``return_sigs``: also return the batch's computed (id, sig)
    frame (filtered to docs long enough to shingle) so callers that
    persist survivor signatures — the streaming sinks — reuse THIS
    pass instead of re-shingling and re-hashing the survivors'
    text; at 100 TB the second MinHash pass is the single largest
    avoidable cost of an ingest batch.
    ``probe_bands``: restrict candidate generation (both store AND
    batch side) to these band indices; None = all bands.
    ``max_bucket_size``: the ``lsh_candidate_pairs`` hot-bucket guard
    applied to the incremental joins — a (band, key) bucket whose
    combined store+batch population exceeds the cap is dropped from
    BOTH sides before the equi-joins (one narrow count over the
    bucket keys; the hot set is tiny by construction and broadcast
    into anti-joins). Without it one boilerplate bucket of B store
    docs × b batch docs plans B·b candidate rows — the skew-harness
    failure mode. Dropped buckets lose recall on exactly the
    documents that match everything (the standard LSH trade); None
    disables.
    """
    rows_per_band = num_perm // bands
    has = F.size(F.split(F.col(text_col), " ")) >= shingle_n
    from docker_etl_spark.operators._util import spread_for_compute as _spread_

    sigs = (
        _spread_(new_docs.filter(has))
        .select(
            F.col(id_col),
            minhash_signature(
                word_shingles(text_col, shingle_n), num_perm, hash_fn
            ).alias("__sig"),
        )
        .localCheckpoint(eager=False)
    )
    new_b = sigs.select(
        F.col(id_col).alias("new_id"),
        F.col("__sig").alias("new_sig"),
        F.explode(
            signature_band_keys(F.col("__sig"), bands, rows_per_band)
        ).alias("bk"),
    ).select("new_id", "new_sig", "bk.band", "bk.bkey")
    if store_exploded:
        store_b = signature_store.select(
            F.col(id_col).alias("store_id"),
            F.col(sig_col).alias("store_sig"),
            F.col("band").cast("int").alias("band"),
            "bkey",
        )
    else:
        store_b = signature_store.select(
            F.col(id_col).alias("store_id"),
            F.col(sig_col).alias("store_sig"),
            F.explode(
                signature_band_keys(F.col(sig_col), bands, rows_per_band)
            ).alias("bk"),
        ).select("store_id", "store_sig", "bk.band", "bk.bkey")
    if probe_bands is not None:
        # Static IN filter on the store's PARTITION column — this is
        # the predicate the partitioned layout exists for: the scan
        # reads only the probed bands' directories.
        new_b = new_b.filter(F.col("band").isin(*probe_bands))
        store_b = store_b.filter(F.col("band").isin(*probe_bands))
    # The batch band-frame feeds up to FIVE consumers (hot-bucket
    # count, its own anti-join, the store join, and both sides of the
    # in-batch self-join); without a barrier each re-derives the band
    # md5 keys from the signature checkpoint. The batch is small by
    # definition (it is the incremental delta), so caching its narrow
    # (id, sig, band, bkey) rows is always safe — the STORE side is
    # deliberately NOT cached (at 100 TB it is the corpus).
    new_b = new_b.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        hot = (
            store_b.select("band", "bkey")
            .unionByName(new_b.select("band", "bkey"))
            .groupBy("band", "bkey")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bkey")
        )
        store_b = store_b.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
        new_b = new_b.join(
            F.broadcast(hot), ["band", "bkey"], "left_anti"
        ).localCheckpoint(eager=False)  # 3 joins consume the guarded batch

    est = signature_match_fraction(
        F.col("new_sig"), F.col("other_sig"), num_perm
    )
    vs_store = (
        new_b.join(
            store_b.withColumnRenamed("store_sig", "other_sig"),
            ["band", "bkey"],
        )
        .dropDuplicates(["new_id", "store_id"])
        .select("new_id", est.alias("est"))
    )
    # batch-internal: the HIGHER id is the duplicate of the earlier doc
    vs_batch = (
        new_b.alias("a")
        .join(
            new_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.new_id") > F.col("b.new_id")),
        )
        .select(
            F.col("a.new_id").alias("new_id"),
            F.col("b.new_id").alias("other_id"),
            signature_match_fraction(
                F.col("a.new_sig"), F.col("b.new_sig"), num_perm
            ).alias("est"),
        )
        .dropDuplicates(["new_id", "other_id"])
        .select("new_id", "est")
    )
    # ``include_batch_pairs=False`` drops the in-batch arm: the
    # decontamination form (is this corpus doc a fuzzy copy of a
    # BENCHMARK doc?) must not flag corpus-vs-corpus near-dups.
    cands = vs_store.unionByName(vs_batch) if include_batch_pairs else vs_store
    agg = cands.groupBy("new_id").agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.max("est").alias("max_est"),
    )
    flags = (
        new_docs.select(F.col(id_col))
        .join(agg.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("bigint")).alias(
                "n_candidates"
            ),
            F.coalesce(F.col("max_est"), F.lit(0.0)).alias("max_est"),
            (F.coalesce(F.col("max_est"), F.lit(0.0)) >= est_threshold).alias(
                "is_dup"
            ),
        )
    )
    if return_sigs:
        return flags, sigs.select(F.col(id_col), F.col("__sig").alias("sig"))
    return flags


def containment_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Lossless prefix-filtered containment join (the PPJoin/AllPairs
    prefix-filter principle, Chaudhuri et al. 2006 / Xiao et al.
    2008): all DIRECTED pairs (a, b) where containment
    ``|A ∩ B| / |A| >= threshold`` — the asymmetric near-dup case
    Jaccard misses (a short wire story embedded in a long article
    scores high containment but low Jaccard, so x04/x05 never flag
    it).

    Candidate generation is EXACT, not approximate: order every
    document's shingles by global (document-frequency, shingle) —
    rarest first — and take its prefix of ``floor(|A|(1-t)) + 1``
    entries. If B shares NO prefix shingle of A, then B misses all
    of them, so ``|A ∩ B| <= |A| - (floor(|A|(1-t)) + 1) < t|A|`` —
    below threshold. Joining A-prefixes against the full posting
    list therefore finds every qualifying pair, and the oracle can
    be brute-force all-pairs (hash-independent).

    Scale shape: the prefix side only carries each doc's RAREST
    shingles, whose posting lists are short by construction — the
    join fan-out per prefix entry is its own document frequency, so
    boilerplate shingles (huge df) never generate candidates; this
    is the whole point of prefix filtering. Shuffles: df count,
    sort-by-rarity re-collect, prefix⨝postings, verify re-join.

    Output: (id_a, id_b, n_a, n_common, containment), id_a != id_b,
    containment(A→B) >= threshold.
    """
    has = F.size(F.split(F.col(text_col), " ")) >= shingle_n
    sh = (
        _spread(docs.filter(has))
        .select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
        )
        .localCheckpoint(eager=False)
    )
    ex = sh.select(F.col(id_col), F.explode("shingles").alias("__g"))
    dfreq = ex.groupBy("__g").agg(F.count("*").cast("long").alias("__df"))
    ordered = (
        ex.join(dfreq, "__g")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("__g")))
            ).alias("__ord")
        )
    )
    prefix_len = (
        F.floor(F.size("__ord") * (1.0 - float(threshold))).cast("int") + 1
    )
    pref = ordered.select(
        F.col(id_col).alias("id_a"),
        F.explode(
            F.transform(
                F.slice("__ord", F.lit(1), prefix_len), lambda s: s["__g"]
            )
        ).alias("__g"),
    )
    cand = (
        pref.join(ex.select(F.col(id_col).alias("id_b"), "__g"), "__g")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("__sa"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("long")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("__sa").cast("long").alias("n_a"),
            inter.alias("n_common"),
            (inter.cast("double") / F.size("__sa").cast("double")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= float(threshold))
    )


def estimator_precision_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_perm: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """PRECISION of the MinHash position-match estimator over the
    LSH candidate set — the counterpart of the planted-twin RECALL
    harness (x52): of the pairs the estimator would admit at
    ``threshold`` (the store-probe decision rule, which has no
    shingles to verify against), how many are true near-dups by
    exact Jaccard? Ships the estimator's quality as a measured,
    regression-testable number instead of faith in the theory.

    One row: (n_candidates, n_est_flagged, n_true_candidates,
    n_true_flagged, precision, candidate_recall) — precision =
    true_flagged/est_flagged; candidate_recall = true_flagged/
    true_candidates (how many exact-qualifying candidate pairs the
    estimator keeps). Counts exact ints; ratios single divisions.

    Scale shape: identical to minhash_near_duplicates (band-bucket
    equi-join + one verify re-join); the summary is a 1-row agg.
    """
    rows_per_band = num_perm // bands
    has = F.size(F.split(F.col(text_col), " ")) >= shingle_n
    sh = (
        _spread(docs.filter(has))
        .select(
            F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
        )
        .localCheckpoint(eager=False)
    )
    sig = sh.withColumn(
        "sig", minhash_signature(F.col("shingles"), num_perm, hash_fn)
    )
    cand = lsh_candidate_pairs(sig, id_col, "sig", bands, rows_per_band)
    a = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("sig").alias("__siga"),
        F.col("shingles").alias("__sha"),
    )
    b = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("sig").alias("__sigb"),
        F.col("shingles").alias("__shb"),
    )
    est = signature_match_fraction(F.col("__siga"), F.col("__sigb"), num_perm)
    jac = jaccard(F.col("__sha"), F.col("__shb"))
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            (est >= float(threshold)).alias("__flag"),
            (jac >= float(threshold)).alias("__true"),
        )
    )
    n = F.count("*").cast("long")
    nf = F.sum(F.col("__flag").cast("long")).cast("long")
    nt = F.sum(F.col("__true").cast("long")).cast("long")
    ntf = F.sum((F.col("__flag") & F.col("__true")).cast("long")).cast("long")
    out = scored.agg(
        n.alias("n_candidates"),
        nf.alias("n_est_flagged"),
        nt.alias("n_true_candidates"),
        ntf.alias("n_true_flagged"),
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0, num.cast("double") / den.cast("double")
    )
    return out.select(
        "n_candidates",
        "n_est_flagged",
        "n_true_candidates",
        "n_true_flagged",
        ratio(F.col("n_true_flagged"), F.col("n_est_flagged")).alias(
            "precision"
        ),
        ratio(F.col("n_true_flagged"), F.col("n_true_candidates")).alias(
            "candidate_recall"
        ),
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): hash every word ``shingle_n``-
    gram, slide a ``window`` over consecutive hashes, keep each
    window's MINIMUM — guaranteeing that any match of at least
    ``window + shingle_n - 1`` words between two documents shares a
    selected fingerprint, while storing only ~2/(window+1) of the
    hashes. The local-selection guarantee is what x08's global
    fingerprints lack (a global min can live anywhere; winnowing's
    mins cover every region of the document).

    Pure array expressions (hash transform + per-window least +
    distinct); one row per (doc, fingerprint). Hashes are the
    engine-wide md5-bucket idiom, so selection replays exactly in
    SQL.

    Evaluation shape (the part that decides whether this is linear
    or quadratic PER DOCUMENT): the token array and the gram-hash
    array are each materialized behind their own projection so every
    downstream lambda references a bound attribute. Embedding the
    hash-transform expression directly inside the window lambda
    re-evaluates ALL n gram md5s for EVERY window — interpreted HOFs
    have no common-subexpression elimination, so that shape is
    O(n^2) md5 calls per doc (measured: the 10x sweep ran minutes
    instead of seconds before this split). The window minimum is
    ``least`` over ``window`` O(1) array indexes — no per-window
    slice allocation. Input is spread to full parallelism first
    (spread_for_compute): the hash map-stage is the CPU-dominant
    pass, and a one-file input would otherwise run it on one core.
    """
    long_enough = (
        F.size(F.split(F.col(text_col), " ")) >= shingle_n + window - 1
    )
    w = F.col("__w")
    toks = _spread(docs.filter(long_enough)).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    )
    hashed = toks.select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(0), F.size(w) - shingle_n),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice(w, i + 1, shingle_n), " ")), 1, 15
                ),
                16,
                10,
            ).cast("bigint"),
        ).alias("__h"),
    )
    h = F.col("__h")
    mins = F.transform(
        F.sequence(F.lit(0), F.size(h) - window),
        lambda i: F.least(*[F.get(h, i + j) for j in range(window)]),
    )
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def winnow_match_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_posting: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing
    fingerprints — the MOSS match-detection join: because selection
    is local, a shared run of ``window + shingle_n - 1`` words
    ANYWHERE in two documents guarantees a shared fingerprint, so
    this finds localized reuse (quoted paragraphs, copied passages)
    that whole-document similarity scores dilute away.

    Scale shape: explode → self equi-join ON THE FINGERPRINT (the
    x69 posting-list pattern); ``max_posting`` drops fingerprints
    whose posting list exceeds the cap (boilerplate windows — the
    LSH hot-bucket trade) before the join.

    Output: (id_a, id_b, n_shared), id_a < id_b.
    """
    fp = winnow_fingerprints(docs, id_col, text_col, shingle_n, window)
    if max_posting is not None:
        hot = (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_posting)
            .select("fingerprint")
        )
        fp = fp.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )
