"""Embedding similarity search: brute-force cosine top-k and an
LSH-bucketed approximate variant.

Scale design: the baseline broadcasts the (small) query set against
the full corpus — one pass over the corpus, no shuffle, dot products
as JVM higher-order expressions (zip_with/aggregate). The
random-hyperplane LSH variant buckets the corpus once and probes
only matching buckets — the 100 TB path when the query set is large.
No UDFs in either path.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docker_etl_spark.operators._util import spread_for_compute as _spread

from docker_etl_spark.sources.stores import (
    # the shared delta-store lifecycle's horizon marker and pending
    # tombstones, under their IVF-PQ names
    read_horizon as read_ivfpq_horizon,  # noqa: F401
    read_tombstones as read_ivfpq_deletes,  # noqa: F401
)


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays (fold over zip_with)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product (bigint arrays) — used by the
    differential oracle queries; same plan shape as ``dot``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def squared_norm(v: Column, exact_int: bool = False) -> Column:
    return (dot_int if exact_int else dot)(v, v)


def _norm_prod_double(n1: Column, n2: Column, exact_int: bool) -> Column:
    """``(n1 * n2)`` as double for a cosine denominator.

    In exact-int mode the naive int64 product overflows: two squared
    norms can each reach dim·(scale·|x|)², so n1·n2 blows past 2^63
    at |x| ≈ 3e4/scale for dim 64 — under ANSI mode that fails the
    whole job (found by skew_check's magnitude-10 fixture). The fix
    multiplies in DOUBLE: each squared norm is an exact int64 far
    below 2^53 (that would need |x|·scale ≈ 3.7e8), so each cast is
    exact and the IEEE product is the correctly-rounded value of the
    TRUE integer product — bit-identical to what DuckDB's int128
    multiply + CAST(... AS DOUBLE) produces, at plain-double cost
    (a first fix used DECIMAL(38,0), equally exact but ~30% slower
    on the pair stage from per-row BigDecimal)."""
    if exact_int:
        return n1.cast("double") * n2.cast("double")
    return (n1 * n2).cast("double")


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "vec",
    exact_int: bool = False,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries × scan corpus.

    Inputs: ``queries(query_id, vec)`` (small), ``corpus(corpus_id,
    vec)``. Output: (query_id, corpus_id, cosine), k rows per query,
    deterministic tiebreak on corpus_id.

    Scale notes: corpus is scanned once; per-query top-k runs through
    a window on query_id — the shuffle is on the (tiny) query-id
    space after a map-side filterable projection. Zero-norm vectors
    are excluded (cosine undefined).

    BASELINE ONLY: cost is |Q| x |corpus|. ``max_queries`` makes the
    contract enforceable — a query set past it raises instead of
    silently planning a corpus-side blow-up; route large query sets
    to the bucketed paths (``sign_lsh_topk`` / ``ivf_topk``), or use
    :func:`cosine_topk` which dispatches automatically. NOTE: when
    the guard is on it runs one EAGER Spark job at plan-construction
    time (a ``limit(max_queries+1).count()``); the query frame is
    localCheckpoint'ed first so its lineage executes once and the
    checkpointed rows feed the broadcast. ``max_queries=None`` skips
    the guard (and the eager action) entirely — callers that already
    know |Q| is bounded.
    """
    if max_queries is not None:
        # Materialize once: the count below and the broadcast both
        # read the checkpointed rows, not the (possibly expensive)
        # upstream lineage twice.
        queries = queries.localCheckpoint(eager=True)
        n_q = queries.limit(max_queries + 1).count()
        if n_q > max_queries:
            raise ValueError(
                f"cosine_topk_bruteforce got > {max_queries} query vectors; "
                "the broadcast-cross-join baseline is O(|Q| * |corpus|) — "
                "use sign_lsh_topk or ivf_topk for large query sets"
            )
    d = dot_int if exact_int else dot
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qv"),
        squared_norm(F.col(vec_col), exact_int).alias("__qn"),
    ).filter(F.col("__qn") > 0)
    c = _spread(corpus).select(
        F.col(corpus_id), F.col(vec_col).alias("__cv"),
        squared_norm(F.col(vec_col), exact_int).alias("__cn"),
    ).filter(F.col("__cn") > 0)
    pairs = F.broadcast(q).crossJoin(c).filter(F.col(query_id) != F.col(corpus_id))
    cos = d(F.col("__qv"), F.col("__cv")).cast("double") / F.sqrt(
        _norm_prod_double(F.col("__qn"), F.col("__cn"), exact_int)
    )
    scored = pairs.select(query_id, corpus_id, cos.alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "vec",
    exact_int: bool = False,
    small_query_limit: int = 10_000,
    centroids: DataFrame | None = None,
    nprobe: int = 2,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Default ANN entry point: routes by query-set size instead of
    making the caller pick a strategy.

    |Q| <= ``small_query_limit`` → :func:`cosine_topk_bruteforce`
    (exact; corpus scanned once, queries broadcast). Larger query
    sets SILENTLY take a bucketed approximate path: :func:`ivf_topk`
    when ``centroids`` is provided (cell-probe join), else
    :func:`cosine_topk_lsh` (multi-table sign-LSH) — never the
    O(|Q|·|corpus|) plan.

    The size probe is one eager ``limit(n+1).count()`` job on a
    localCheckpoint'ed query frame (lineage runs once; the
    checkpointed rows feed whichever path is chosen).
    """
    queries = queries.localCheckpoint(eager=True)
    n_q = queries.limit(small_query_limit + 1).count()
    if n_q <= small_query_limit:
        return cosine_topk_bruteforce(
            queries, corpus, k=k, query_id=query_id, corpus_id=corpus_id,
            vec_col=vec_col, exact_int=exact_int, max_queries=None,
        )
    if centroids is not None:
        return ivf_topk(
            queries, corpus, centroids, k=k, nprobe=nprobe,
            query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
            exact_int=exact_int,
        )
    return cosine_topk_lsh(
        queries, corpus, dim, k=k, n_planes=n_planes, n_tables=n_tables,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col,
        seed=seed, exact_int=exact_int,
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _matrix_literal(rows: list[list[float]]) -> Column:
    """array<array<double>> literal built as ONE SQL expression.

    ``F.lit`` on a nested list expands to thousands of py4j calls
    (one per element) — for a 64x64 plane matrix that is seconds of
    driver time per query build. A single ``expr`` string parses
    JVM-side in milliseconds. ``repr(float)`` round-trips exactly.
    """
    body = ",".join(
        "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def quantize_planes(planes: list[list[float]], scale: int = 1000) -> list[list[int]]:
    """floor(p·scale) integer quantization of a plane matrix — the
    cross-engine-exact LSH geometry (sign of an int64 dot product is
    bit-for-bit reproducible in any engine, unlike a float fold)."""
    return [[int(math.floor(x * scale)) for x in row] for row in planes]


def _matrix_literal_int(rows: list[list[int]]) -> Column:
    body = ",".join(
        "array(" + ",".join(f"{x}L" for x in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def signlsh_bucket(
    vec: Column, planes: list[list[float]], exact_int: bool = False
) -> Column:
    """Sign-LSH bucket id: one bit per hyperplane (sign of projection).

    Vectors with high cosine similarity land in the same bucket with
    probability 1 - θ/π per bit. Returns bigint bucket key.

    ``exact_int``: quantize the planes (floor·1000) and take int64
    dot products against an already-quantized int vector — identical
    bucketing in any engine (differential-oracle mode).
    """
    if exact_int:
        planes_lit = _matrix_literal_int(quantize_planes(planes))
    else:
        planes_lit = _matrix_literal(planes)
    d = dot_int if exact_int else dot
    pow2 = F.lit([1 << i for i in range(len(planes))])
    signs = F.transform(
        planes_lit,
        lambda p: F.when(d(vec, p) >= 0, F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ),
    )
    return F.aggregate(
        F.zip_with(signs, pow2, lambda s, p2: s * p2),
        F.lit(0).cast("bigint"),
        lambda a, b: a.bitwiseOR(b),
    )


def _plane_row_sqls(
    planes: list[list[float]], exact_int: bool
) -> tuple[list[str], str]:
    """Per-plane array-literal SQL snippets + the fold's zero literal."""
    if exact_int:
        rows = quantize_planes(planes)
        lits = [
            "array(" + ",".join(f"{int(x)}L" for x in r) + ")" for r in rows
        ]
        return lits, "CAST(0 AS BIGINT)"
    lits = [
        "array(" + ",".join(f"CAST({x!r} AS DOUBLE)" for x in r) + ")"
        for r in planes
    ]
    return lits, "CAST(0.0 AS DOUBLE)"


def _dot_sql(vec_sql: str, arr_sql: str, zero_sql: str) -> str:
    """The engine dot product (``dot``/``dot_int``'s zip-multiply
    fold) as one SQL string — same expression tree, zero py4j calls
    per plane."""
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, (x, y) -> x * y), "
        f"{zero_sql}, (acc, v) -> acc + v)"
    )


def _signlsh_table_buckets_sql(
    vec_sql: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    exact_int: bool,
) -> str:
    """:func:`signlsh_table_buckets` as ONE SQL string. Identical
    expression tree to the per-table ``signlsh_bucket`` build (same
    transform/zip_with/bitwise-OR fold, same literals), so bucket
    values are bit-identical; only WHERE the tree is built moves
    (one JVM-side parse instead of hundreds of py4j Column calls —
    building these through the Column API measured ~1.4 s of pure
    driver time per call at n_tables=4, n_planes=8, dim=64)."""
    pow2 = "array(" + ",".join(f"{1 << i}L" for i in range(n_planes)) + ")"
    tables = []
    for t in range(n_tables):
        lits, zero = _plane_row_sqls(
            random_hyperplanes(dim, n_planes, seed + t), exact_int
        )
        mat = "array(" + ",".join(lits) + ")"
        dot = _dot_sql(vec_sql, "p", zero)
        signs = (
            f"transform({mat}, p -> CASE WHEN {dot} >= 0 THEN "
            "CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
        bkt = (
            f"aggregate(zip_with({signs}, {pow2}, (s, p2) -> s * p2), "
            "CAST(0 AS BIGINT), (a, b) -> a | b)"
        )
        tables.append(f"struct({t} AS tbl, {bkt} AS bkt)")
    return "array(" + ",".join(tables) + ")"


def signlsh_table_buckets(
    vec: Column | str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    exact_int: bool = False,
) -> Column:
    """All ``n_tables`` sign-LSH bucket keys of a vector as ONE
    expression: array<struct<tbl:int, bkt:bigint>>.

    Each table's bucket subtree contains ONLY that table's plane
    matrix (one nested-array SQL literal each, O(1) py4j calls), so
    per-row work is exactly n_tables · n_planes dot products — a
    single shared all-tables projection array would be duplicated
    into every per-table expression by column reuse and cost
    n_tables× more. Bucket values are bit-identical to
    ``signlsh_bucket`` per table.

    Pass ``vec`` as a STRING (column name / SQL snippet) to build the
    whole expression as one SQL parse — the hot-path form: the Column
    build costs hundreds of py4j round trips per call (driver-side
    construction latency), the SQL form one. The Column form stays
    for composed expressions.
    """
    if isinstance(vec, str):
        return F.expr(
            _signlsh_table_buckets_sql(
                vec, dim, n_planes, n_tables, seed, exact_int
            )
        )
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                signlsh_bucket(
                    vec, random_hyperplanes(dim, n_planes, seed + t), exact_int
                ).alias("bkt"),
            )
            for t in range(n_tables)
        ]
    )


def _signlsh_probe_buckets_sql(
    vec_sql: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int,
    exact_int: bool,
) -> str:
    """:func:`signlsh_probe_buckets` as ONE SQL string — same
    expression tree (per-plane projections duplicated into sign,
    bucket and flip-delta subtrees exactly like the Column build, so
    bucket values are bit-identical), one JVM parse instead of ~3k
    py4j calls (measured ~3 s of pure driver construction per call
    at n_tables=4, n_planes=8, dim=64)."""
    entries = []
    for t in range(n_tables):
        lits, zero = _plane_row_sqls(
            random_hyperplanes(dim, n_planes, seed + t), exact_int
        )
        projs = [_dot_sql(vec_sql, lit, zero) for lit in lits]
        signs = [
            f"(CASE WHEN {p} >= 0 THEN CAST(1 AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for p in projs
        ]
        bucket = " + ".join(
            f"{s} * CAST({1 << i} AS BIGINT)" for i, s in enumerate(signs)
        )
        flips = "array(" + ",".join(
            f"struct(abs({projs[i]}) AS a, {i} AS i, "
            f"(CAST(1 AS BIGINT) - 2 * {signs[i]}) * "
            f"CAST({1 << i} AS BIGINT) AS delta)"
            for i in range(n_planes)
        ) + ")"
        lowest = f"element_at(sort_array({flips}), 1)"
        entries.append(f"struct({t} AS tbl, ({bucket}) AS bkt)")
        entries.append(
            f"struct({t} AS tbl, (({bucket}) + {lowest}.delta) AS bkt)"
        )
    return "array(" + ",".join(entries) + ")"


def signlsh_probe_buckets(
    vec: Column | str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    exact_int: bool = False,
) -> Column:
    """Multi-probe sign-LSH bucket keys for a QUERY vector: per
    table, the home bucket AND the bucket with the single
    LOWEST-MARGIN bit flipped (the plane whose projection is closest
    to zero is the most uncertain sign — flipping it probes the
    neighboring bucket a near-miss neighbor most likely fell into).
    Multi-probe is LSH's recall/cost knob, the same dial nprobe is
    for IVF: recall rises without adding tables (no extra corpus
    hashing or store space — the extra probes are query-side only).

    Ties on |projection| break to the lower plane index; a zero
    projection has sign-bit 1 (matching ``signlsh_bucket``'s
    ``>= 0``), so its flip subtracts 2^i. Returns
    array<struct<tbl:int, bkt:bigint>> of length 2·n_tables,
    home buckets first per table.

    Pass ``vec`` as a STRING (column name / SQL snippet) for the
    one-parse SQL build (see :func:`signlsh_table_buckets`).
    """
    if isinstance(vec, str):
        return F.expr(
            _signlsh_probe_buckets_sql(
                vec, dim, n_planes, n_tables, seed, exact_int
            )
        )
    d = dot_int if exact_int else dot
    entries = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + t)
        rows = quantize_planes(planes) if exact_int else planes
        projs = [
            d(
                vec,
                _int_array_literal([int(x) for x in r])
                if exact_int
                else F.lit(r).cast("array<double>"),
            )
            for r in rows
        ]
        signs = [
            F.when(p >= 0, F.lit(1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
            for p in projs
        ]
        bucket = None
        for i, s in enumerate(signs):
            term = s * F.lit(1 << i).cast("bigint")
            bucket = term if bucket is None else bucket + term
        # per-plane flip DELTA (what adding it does to the bucket):
        # +2^i when the bit is 0, -2^i when it is 1
        flips = F.array(
            *[
                F.struct(
                    F.abs(projs[i]).alias("a"),
                    F.lit(i).alias("i"),
                    (
                        (F.lit(1).cast("bigint") - F.lit(2) * signs[i])
                        * F.lit(1 << i).cast("bigint")
                    ).alias("delta"),
                )
                for i in range(n_planes)
            ]
        )
        lowest = F.element_at(F.sort_array(flips), 1)
        entries.append(
            F.struct(F.lit(t).alias("tbl"), bucket.alias("bkt"))
        )
        entries.append(
            F.struct(
                F.lit(t).alias("tbl"),
                (bucket + lowest["delta"]).alias("bkt"),
            )
        )
    return F.array(*entries)


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "vec",
    seed: int = 42,
    exact_int: bool = False,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH.

    Both sides are bucketed under ``n_tables`` independent hyperplane
    sets; candidates are bucket equi-join matches in any table; exact
    cosine is computed only for candidates. Recall rises with
    n_tables, cost with bucket collision rate (2^-n_planes).

    ``multiprobe``: queries additionally probe, per table, the bucket
    with their lowest-margin bit flipped
    (:func:`signlsh_probe_buckets`) — the query-side recall knob that
    costs no extra corpus hashing or store space, the LSH analogue of
    IVF's nprobe.

    Scale notes: this replaces the brute-force cross join with a
    shuffle on (table, bucket) — the corpus-side work is O(|corpus| ·
    n_tables) hashing plus candidate-local dot products.

    ``exact_int``: inputs are int-quantized vectors; bucketing uses
    int-quantized planes and the cosine is int/sqrt(int·int) — one
    deterministic IEEE op, so results hash-match any other engine.
    """
    def bucketed(df: DataFrame, idc: str, probe: bool = False) -> DataFrame:
        fn = signlsh_probe_buckets if probe else signlsh_table_buckets
        keys = fn(f"`{vec_col}`", dim, n_planes, n_tables, seed, exact_int)
        return _spread(df).select(
            F.col(idc), F.col(vec_col), F.explode(keys).alias("tb")
        ).select(idc, vec_col, "tb.tbl", "tb.bkt")

    d = dot_int if exact_int else dot
    qb = bucketed(queries, query_id, probe=multiprobe).withColumnRenamed(
        vec_col, "__qv"
    )
    cb = bucketed(corpus, corpus_id).withColumnRenamed(vec_col, "__cv")
    cand = (
        qb.join(cb, ["tbl", "bkt"])
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(query_id, corpus_id, "__qv", "__cv")
        .dropDuplicates([query_id, corpus_id])
    )
    qn = d(F.col("__qv"), F.col("__qv"))
    cn = d(F.col("__cv"), F.col("__cv"))
    cos = d(F.col("__qv"), F.col("__cv")).cast("double") / F.sqrt(
        _norm_prod_double(qn, cn, exact_int)
    )
    scored = cand.select(query_id, corpus_id, cos.alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    centroid_id: str = "centroid_id",
    vec_col: str = "vec",
    exact_int: bool = False,
    broadcast_probes: bool = False,
) -> DataFrame:
    """IVF-style approximate cosine top-k: coarse-quantize the corpus
    into centroid cells, probe only the ``nprobe`` nearest cells per
    query.

    ``broadcast_probes=True`` when the query batch is small: the
    probe side (|queries| × nprobe rows) broadcasts, so the assigned
    corpus never shuffles for the cell join — the common
    few-queries-huge-corpus shape. Leave False for query batches that
    rival the corpus.

    ``centroids(centroid_id, vec)`` is the coarse quantizer (seeded
    rows or k-means output — the cell-probe plan is identical).

    Scale notes: assignment is |corpus| × |centroids| dot products
    against a BROADCAST centroid table (no corpus shuffle), then one
    shuffle on cell id for the probe equi-join — the cross join of
    brute force never materializes. Recall is tuned by nprobe /
    centroid count; cells also give the natural unit for bucketed
    parquet layout so repeated query batches skip assignment.
    """
    d = dot_int if exact_int else dot

    def with_norm(df: DataFrame, idc: str) -> DataFrame:
        return df.select(
            F.col(idc),
            F.col(vec_col),
            squared_norm(F.col(vec_col), exact_int).alias("__n"),
        ).filter(F.col("__n") > 0)

    cent = centroids.select(
        F.col(centroid_id),
        F.col(vec_col).alias("__cent_v"),
        squared_norm(F.col(vec_col), exact_int).alias("__cent_n"),
    ).filter(F.col("__cent_n") > 0)

    def nearest_cells(df: DataFrame, idc: str, n_cells: int) -> DataFrame:
        cos = d(F.col(vec_col), F.col("__cent_v")).cast("double") / F.sqrt(
            _norm_prod_double(F.col("__n"), F.col("__cent_n"), exact_int)
        )
        scored = df.join(F.broadcast(cent)).select(
            idc, vec_col, "__n", F.col(centroid_id).alias("cell"), cos.alias("__cos")
        )
        w = Window.partitionBy(idc).orderBy(F.desc("__cos"), F.asc("cell"))
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n_cells)
            .drop("__rn", "__cos")
        )

    assigned = nearest_cells(with_norm(_spread(corpus), corpus_id), corpus_id, 1)
    probed = nearest_cells(with_norm(queries, query_id), query_id, nprobe)
    if broadcast_probes:
        probed = F.broadcast(probed)
    cand = probed.withColumnRenamed(vec_col, "__qv").withColumnRenamed(
        "__n", "__qn"
    ).join(
        assigned.withColumnRenamed(vec_col, "__cv").withColumnRenamed("__n", "__cn"),
        "cell",
    ).filter(F.col(query_id) != F.col(corpus_id))
    cos = d(F.col("__qv"), F.col("__cv")).cast("double") / F.sqrt(
        _norm_prod_double(F.col("__qn"), F.col("__cn"), exact_int)
    )
    scored = cand.select(query_id, corpus_id, cos.alias("cosine")).dropDuplicates(
        [query_id, corpus_id]
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def embedding_near_duplicates(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    seed: int = 42,
    exact_int: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) via the same sign-LSH bucketing, corpus against itself.
    ``exact_int`` as in ``cosine_topk_lsh`` (int-quantized inputs →
    engine-portable results)."""
    def bucketed(df: DataFrame) -> DataFrame:
        keys = signlsh_table_buckets(
            f"`{vec_col}`", dim, n_planes, n_tables, seed, exact_int
        )
        return _spread(df).select(
            F.col(id_col), F.col(vec_col), F.explode(keys).alias("tb")
        ).select(id_col, vec_col, "tb.tbl", "tb.bkt")

    bk = bucketed(corpus)
    a = bk.alias("a")
    b = bk.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("__va"),
            F.col(f"b.{vec_col}").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    d = dot_int if exact_int else dot
    cos = d(F.col("__va"), F.col("__vb")).cast("double") / F.sqrt(
        _norm_prod_double(
            d(F.col("__va"), F.col("__va")),
            d(F.col("__vb"), F.col("__vb")),
            exact_int,
        )
    )
    return cand.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


# ---------------------------------------------------------------------------
# int8 quantization (storage/compute compression for the ANN paths)
# ---------------------------------------------------------------------------


def quantize_vectors_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i * 127 /
    max|x|), giving values in [-127, 127] with one scale per vector
    (``{out_col}_scale`` = max|x| / 127, the dequantization factor).

    floor of a single correctly-rounded IEEE division is
    bit-reproducible across engines (no round-half cases), so the
    quantized vectors — unlike float dot products — hash-match a
    DuckDB oracle exactly. 4x smaller than float32 at rest; integer
    dot products thereafter are exact and overflow-safe
    (127^2 * dim << 2^63).

    All-zero vectors quantize to all-zero (scale NULL).
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    q = F.when(
        maxabs > 0,
        F.transform(
            v,
            lambda x: F.floor(x.cast("double") * 127 / maxabs).cast("bigint"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("bigint")))
    scale = F.when(maxabs > 0, maxabs / 127).otherwise(F.lit(None))
    return df.withColumn(out_col, q).withColumn(f"{out_col}_scale", scale)


# ---------------------------------------------------------------------------
# k-means (Lloyd) over quantized vectors — IVF centroid training
# ---------------------------------------------------------------------------


def kmeans_fit_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    iterations: int = 2,
    quant_scale: int = 1000,
    max_training_points: int | None = None,
    sample_seed: str = "kmtrain",
) -> DataFrame:
    """Train IVF coarse centroids with Lloyd's algorithm, entirely in
    integer arithmetic so every assignment is exact and
    cross-engine-reproducible (the training twin of ``ivf_topk``,
    which probes cells someone else trained).

    Deterministic spec: vectors quantize to floor(x * quant_scale);
    initial centroids are the quantized vectors of the k smallest ids;
    each round assigns every vector to the centroid minimizing the
    integer squared L2 distance (ties -> lower centroid index) and
    recomputes centroid dims as floor(sum / count) — a whole-second
    integer grid, so there is no float drift anywhere.

    Scale: per round = one broadcast of k centroid rows into a
    map-side argmin (k * dim multiplies per vector, no join shuffle)
    + one groupBy(cluster) shuffle bounded by k * dim. Iterations are
    driver-bounded (the standard fixed-rounds mini-batch recipe);
    centroids live in the plan as literals, never in driver loops
    over .collect()'ed corpus rows.

    Returns (cluster_id, n_members, member_id_sum, centroid_sum) —
    cluster cardinality, an exact membership checksum, and the sum of
    the centroid's dims (training-result fingerprint).
    """
    assigned, centroids = kmeans_assign_quantized(
        df, vec_col, id_col, k, iterations, quant_scale,
        max_training_points=max_training_points, sample_seed=sample_seed,
    )
    return (
        assigned.groupBy(F.col("__cluster").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("__id").cast("long").alias("member_id_sum"),
        )
        .withColumn(
            "centroid_sum",
            F.lit(0).cast("bigint")
            + sum(
                (F.when(F.col("cluster_id") == j, int(sum(c))).otherwise(0)
                 for j, c in enumerate(centroids)),
                F.lit(0),
            ).cast("bigint"),
        )
    )


def kmeans_assign_quantized(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    iterations: int = 2,
    quant_scale: int = 1000,
    max_training_points: int | None = None,
    sample_seed: str = "kmtrain",
) -> tuple[DataFrame, list[list[int]]]:
    """The assignment-level kernel under ``kmeans_fit_quantized``:
    returns (assigned frame with columns (__id, __vq, __cluster),
    final centroids). Same deterministic integer spec; exposed so
    composites (IVF layout, :func:`semantic_dedup`) can reuse the
    per-vector cluster labels without re-deriving them.

    ``max_training_points`` bounds TRAINING cost at a constant
    (FAISS practice: quantizers train on a sample, encode covers
    everything): the training set is the ``n`` rows with the
    smallest md5(id || ':' || sample_seed) digests (ties -> lower
    id) — a deterministic, engine-replayable draw (any engine that
    agrees on md5 agrees on the sample; the x21/x26 recipe turned
    into an exact-count top-n). Init centroids come from the k
    smallest ids OF THE SAMPLE and every Lloyd round scans only the
    sample; the returned ``assigned`` frame then labels the FULL
    input against the FINAL centroids (encode-with-trained-quantizer
    — note this differs from the unsampled mode, whose labels are
    the last round's pre-update assignment). Scale shape: the draw
    plans as TakeOrderedAndProject (map-side partial top-n) up to
    spark.sql.execution.topKSortFallbackThreshold (default 65536)
    and a bounded sort-limit beyond; each training round then costs
    O(n * k * dim) instead of a full-corpus pass.
    """
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    sel = df.select(F.col(id_col).alias("__id"), vq.alias("__vq"))
    # Spread BEFORE checkpointing: the checkpoint freezes its
    # partitioning, and every Lloyd round's distance/argmin fold (the
    # CPU-heavy interpreted-HOF part) runs map-side on exactly those
    # partitions — a single-file scan would otherwise pin the whole
    # training loop to 1-2 cores.
    if max_training_points is None:
        base = _spread(sel).localCheckpoint(eager=True)
        train = base
    else:
        hkey = F.md5(
            F.concat(
                F.col("__id").cast("string"), F.lit(":" + sample_seed)
            )
        )
        drawn = sel.orderBy(hkey.asc(), F.col("__id").asc()).limit(
            int(max_training_points)
        )
        # Spread by SAMPLE size, not session parallelism: ~64 rows
        # per partition keeps the Lloyd rounds parallel for big
        # samples without paying 32 near-empty partitions' scheduling
        # latency per round when the sample is small.
        n_parts = max(
            1,
            min(
                df.sparkSession.sparkContext.defaultParallelism,
                int(max_training_points) // 64,
            ),
        )
        train = drawn.repartition(n_parts).localCheckpoint(eager=True)

    # Init: k smallest ids' vectors, pulled as plan literals (k rows).
    init_rows = (
        train.orderBy("__id").limit(k).select("__id", "__vq").collect()
    )
    centroids = [
        list(r["__vq"]) for r in sorted(init_rows, key=lambda r: r["__id"])
    ]

    assigned = None
    for _ in range(iterations):
        # whole argmin as one SQL string — a single py4j round trip
        # instead of ~k·dim Column calls per round (see _sqdist_sql)
        assigned = train.withColumn(
            "__cluster", F.expr(_argmin_sql("__vq", centroids))
        )
        # one array-of-aggregates expression (a single F.expr round
        # trip) instead of one Column call per dimension — identical
        # aggregate expressions, same floor-mean per dim
        means = ",".join(
            "cast(floor(cast(sum(element_at(__vq, "
            f"{d + 1})) as double) / count(*)) as bigint)"
            for d in range(len(centroids[0]))
        )
        new_rows = (
            assigned.groupBy("__cluster")
            .agg(F.expr(f"array({means})").alias("ds"))
            .collect()
        )
        by_cluster = {r["__cluster"]: list(r["ds"]) for r in new_rows}
        centroids = [
            by_cluster[j]
            if j in by_cluster
            else centroids[j]  # empty cluster keeps its centroid
            for j in range(k)
        ]
    if max_training_points is not None:
        # Label the FULL input against the final centroids. Lazy: a
        # caller that only wants the centroids (pq_train) never pays
        # this pass — Catalyst prunes the unused argmin column.
        assigned = _spread(sel).withColumn(
            "__cluster", _pq_argmin("__vq", centroids)
        )
    assert assigned is not None
    return assigned, centroids


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.95,
    quant_scale: int = 1000,
    salt_buckets: int = 8,
    max_cluster_size: int | None = 100_000,
    lsh_seed: int = 42,
    sub_bucket_planes: int | None = None,
    star_bucket_cap: int | None | str = "auto",
    precomputed_assignment: tuple[DataFrame, list[list[int]]] | None = None,
    warn_scale_unsafe: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster embeddings with the integer-exact
    Lloyd kernel, compare vectors only WITHIN each cluster, and drop
    every vector whose cosine to a lower-id cluster-mate reaches
    ``threshold`` (greedy lowest-id survivor — the full
    connected-components treatment is ``connected_components`` over
    :func:`embedding_near_duplicates` pairs; this is the cheap
    cluster-local pass SemDeDup actually runs at scale).

    Exactness: quantized integer dot products; cosine is one IEEE
    division over a correctly-rounded sqrt, so any engine agreeing on
    the integers agrees on every keep/drop decision. Zero-norm
    vectors never pair (cosine undefined — and NaN comparison
    semantics differ across engines).

    Scale: the only pairwise work is the within-cluster self-join —
    an equi-join on the cluster label, never a corpus cross join.
    Cluster sizes bound the quadratic term: pick k ~ corpus_size /
    target_cluster_size (SemDeDup uses tens of thousands of clusters
    at web scale; the per-round training cost is k·dim-bounded, see
    ``kmeans_fit_quantized``). Skewed (oversized) clusters — the
    known failure mode — are handled AUTOMATICALLY: any cluster whose
    population exceeds ``max_cluster_size`` is sub-bucketed by
    sign-LSH inside the cell (plane count sized so the expected
    bucket ≈ the cap; one k-row size probe, the bounded
    library-collect class), and pairs form only within
    (cluster, sub-bucket). The giant cell's pairwise cost drops from
    |cluster|² to ~|cluster|²/2^planes — back inside the linear
    envelope — at the price of SemDeDup's usual approximation
    (near-twins split across buckets are kept). With
    ``star_bucket_cap=None`` (sub-bucketing only) exact twins are
    never missed: they share every sign bit, so they always land in
    the same sub-bucket and all-pairs comparison catches them. The
    DEFAULT ``star_bucket_cap="auto"`` path trades that guarantee
    away inside over-cap buckets: the tier-3 leader/star arm compares
    members only to the bucket's min-id hub, so two identical
    non-hub members both survive whenever their cosine to the hub is
    below threshold. Normal-size clusters keep the exact all-pairs
    semantics; ``max_cluster_size=None`` disables probe and
    sub-bucketing.

    ``star_bucket_cap`` arms the THIRD tier: sign-LSH cannot split a
    direction-tight bucket (near-identical vectors share every sign
    bit), so a (cluster, sub-bucket) population still past this cap
    switches from all-pairs to leader/star dedup — members compare
    only against the bucket's min-id hub, O(|bucket|) instead of
    |bucket|². Measured necessity: on the 30x derived corpus the
    sub-bucketed-but-starless pair stage still ran ~quadratic (342 s
    at 30x, 2169 s at 100x) because the replica clusters are
    direction-tight; with the star tier the same corpus is
    ~rows-linear at every scale (see BASELINE.md). One-sided like
    tier two: only ever keeps more than the exact pass. DEFAULT is
    ``"auto"`` — the star cap follows ``max_cluster_size``, so the
    default configuration is robustly linear for BOTH oversize modes
    (coarse quantizer AND genuine density); pass ``None`` to keep
    exact all-pairs inside every sub-bucket regardless of size.

    ``salt_buckets``: when k is far below the cluster's core count
    (small coarse quantizers), the pair join has only k distinct
    keys and the quadratic work lands on k tasks. The left side is
    salted by pmod(id, salt_buckets) and the right side replicated
    across salts, so join-key cardinality becomes k·salt_buckets —
    each pair still appears exactly once (in the left row's salt).
    Set to 1 when k alone already saturates the cluster.

    Returns (cluster_id, n_members, n_dropped, survivor_id_sum).
    """
    if precomputed_assignment is not None:
        # Composite queries that also consume the cluster assignment
        # (e.g. a census alongside the dedup) pass it in so Lloyd
        # training runs once, not once per consumer.
        assigned, centroids = precomputed_assignment
    else:
        assigned, centroids = kmeans_assign_quantized(
            df, vec_col, id_col, k, iterations, quant_scale
        )
        # Three consumers evaluate the assignment (the size probe, the
        # pair-stage vecs, the final marked join); the k-way distance
        # expression is the expensive part of each pass, so barrier it
        # once. Callers passing precomputed_assignment checkpoint on
        # their side.
        assigned = assigned.localCheckpoint(eager=False)
    if sub_bucket_planes is not None and sub_bucket_planes < 1:
        raise ValueError(
            f"sub_bucket_planes must be >= 1 when set (got {sub_bucket_planes}); "
            "pass None to auto-size from the biggest oversized cluster"
        )
    sub = F.lit(0).cast("bigint")
    max_cluster_n: int | None = None
    if max_cluster_size is not None:
        sizes = assigned.groupBy("__cluster").agg(
            F.count("*").alias("n")
        ).collect()  # k rows — bounded library-collect class
        max_cluster_n = max((int(r["n"]) for r in sizes), default=0)
        oversized = {
            int(r["__cluster"]): int(r["n"])
            for r in sizes
            if int(r["n"]) > max_cluster_size
        }
        if oversized:
            # plane count: auto-sized so expected bucket ~= the cap,
            # or pinned via sub_bucket_planes (differential-oracle
            # mode — a static SQL replay needs a fixed plane matrix)
            if sub_bucket_planes is not None:
                n_planes = sub_bucket_planes
            else:
                n_planes = max(
                    1,
                    math.ceil(
                        math.log2(max(oversized.values()) / max_cluster_size)
                    ),
                )
            planes = random_hyperplanes(len(centroids[0]), n_planes, lsh_seed)
            bkt = signlsh_bucket(F.col("__vq"), planes, exact_int=True)
            sub = F.when(
                F.col("__cluster").isin(*sorted(oversized)), bkt
            ).otherwise(F.lit(0)).cast("bigint")
    norm = dot_int(F.col("__vq"), F.col("__vq"))
    vecs = (
        assigned.select(
            "__cluster", "__id", "__vq", norm.alias("__n"), sub.alias("__sub")
        )
        .filter(F.col("__n") > 0)
        .localCheckpoint(eager=False)  # 3+ consumers below — one eval
    )
    if star_bucket_cap == "auto":
        star_bucket_cap = max_cluster_size
    if (
        warn_scale_unsafe
        and sub_bucket_planes is not None
        and star_bucket_cap is None
    ):
        # The measured trap (BASELINE.md): a pinned plane count with
        # no star fallback is quadratic by construction on
        # direction-tight oversize — 374x wall at 100x rows where the
        # tier-3 default is ~1.3x. Legitimate pinning (differential-
        # oracle replays) passes warn_scale_unsafe=False.
        import warnings

        warnings.warn(
            "semantic_dedup: sub_bucket_planes is pinned and "
            "star_bucket_cap is None — the pair stage is quadratic on "
            "direction-tight oversized clusters (measured 374x wall at "
            "100x rows vs ~1.3x with the tier-3 star fallback). Use "
            "star_bucket_cap='auto' in production, or pass "
            "warn_scale_unsafe=False if the pinned config is a "
            "deliberate small-fixture replay.",
            stacklevel=2,
        )
    star_members = None
    star_hubs = None
    if star_bucket_cap is not None and (
        max_cluster_n is None or max_cluster_n > star_bucket_cap
    ):
        # The k-row size probe already proved every (cluster, sub)
        # bucket population <= max_cluster_n; when that bound sits at
        # or under the star cap, no bucket can trip the tier and the
        # stats aggregate + broadcast join below would be a guaranteed
        # no-op — skip them (the common small-skew case pays zero for
        # the tier machinery).
        # Third tier: sign-LSH cannot split a DIRECTION-TIGHT bucket
        # (near-identical vectors share every sign bit — colliding is
        # what LSH is for), so a bucket still past the cap switches
        # from all-pairs to leader/star dedup: members compare only
        # to the bucket's min-id hub — O(|bucket|), not |bucket|².
        # One-sided like the sub-bucketing: a member whose only
        # near-twin is another non-hub member survives (recall trade,
        # documented); exact twins of the hub always drop.
        stats = vecs.groupBy("__cluster", "__sub").agg(
            F.count("*").alias("__bn"), F.min("__id").alias("__hub")
        )
        vs = vecs.join(F.broadcast(stats), ["__cluster", "__sub"])
        star_members = vs.filter(
            (F.col("__bn") > star_bucket_cap) & (F.col("__id") > F.col("__hub"))
        )
        star_hubs = vs.filter(
            (F.col("__bn") > star_bucket_cap) & (F.col("__id") == F.col("__hub"))
        ).select(
            "__cluster",
            "__sub",
            F.col("__vq").alias("__hvq"),
            F.col("__n").alias("__hn"),
        )
        vecs = vs.filter(F.col("__bn") <= star_bucket_cap).drop("__bn", "__hub")
    # EXPLICIT numbered repartition on the join keys: the per-pair
    # cosine is CPU-heavy (interpreted HOF dot) on a tiny-by-bytes
    # shuffle, exactly the shape AQE's size-based coalescing folds
    # back onto one core. REPARTITION_BY_NUM is exempt from AQE
    # coalescing, and matching HashPartitioning on both sides means
    # the join adds no further exchange.
    par = df.sparkSession.sparkContext.defaultParallelism
    a = (
        vecs.withColumn("__salt", F.pmod(F.col("__id"), F.lit(salt_buckets)))
        .repartition(par, "__cluster", "__sub", "__salt")
        .alias("a")
    )
    b = (
        vecs.withColumn(
            "__salt",
            F.explode(
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)).cast("array<bigint>")
            ),
        )
        .repartition(par, "__cluster", "__sub", "__salt")
        .alias("b")
    )
    pairs = a.join(
        b,
        (F.col("a.__cluster") == F.col("b.__cluster"))
        & (F.col("a.__sub") == F.col("b.__sub"))
        & (F.col("a.__salt") == F.col("b.__salt"))
        & (F.col("a.__id") < F.col("b.__id")),
    )
    cos = dot_int(F.col("a.__vq"), F.col("b.__vq")).cast("double") / F.sqrt(
        _norm_prod_double(F.col("a.__n"), F.col("b.__n"), exact_int=True)
    )
    pair_drops = pairs.filter(cos >= F.lit(threshold)).select(
        F.col("b.__cluster").alias("__cluster"),
        F.col("b.__id").alias("__id"),
    )
    if star_members is not None:
        star_cos = dot_int(F.col("__hvq"), F.col("__vq")).cast(
            "double"
        ) / F.sqrt(_norm_prod_double(F.col("__hn"), F.col("__n"), exact_int=True))
        star_drops = (
            star_members.join(F.broadcast(star_hubs), ["__cluster", "__sub"])
            .filter(star_cos >= F.lit(threshold))
            .select("__cluster", "__id")
        )
        pair_drops = pair_drops.unionByName(star_drops)
    dropped = pair_drops.distinct().withColumn("__dropped", F.lit(True))
    marked = assigned.join(dropped, ["__cluster", "__id"], "left")
    return marked.groupBy(F.col("__cluster").alias("cluster_id")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum(F.when(F.col("__dropped"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(F.col("__dropped").isNull(), F.col("__id")).otherwise(0))
        .cast("long")
        .alias("survivor_id_sum"),
    )


def label_centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 5,
    quant_scale: int = 1000,
) -> DataFrame:
    """Farthest-from-centroid members per label — the embedding-space
    curation op that surfaces mislabeled / noisy / off-distribution
    rows in a labeled corpus (label noise is the classic
    training-data defect; distance-to-class-centroid is its standard
    detector).

    Integer-exact like the rest of this module: vectors quantize to
    floor(x * quant_scale); each label's centroid dim is
    floor(sum / count) (ONE IEEE division of exact ints per dim);
    distances are integer squared L2, so the ranking — ties broken by
    id — is bit-reproducible on any engine.

    Plan shape at scale: posexplode to (label, dim) — corpus_rows ×
    dim rows but only ever aggregated, never joined wide; the
    centroid table is labels × dim (tiny, broadcast back); one window
    per label for top-k. Two shuffles + the window.

    Returns (label, vec_id, dist_sq, rank), rank 1 = farthest.
    """
    from pyspark.sql import Window

    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    base = df.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl"), vq.alias("__vq")
    )
    dims = (
        base.select("__id", "__lbl", F.posexplode("__vq").alias("__d", "__v"))
    )
    cent = (
        dims.groupBy("__lbl", "__d")
        .agg(
            F.floor(
                F.sum("__v").cast("double") / F.count("*").cast("double")
            )
            .cast("bigint")
            .alias("__c")
        )
    )
    dist = (
        dims.join(F.broadcast(cent), ["__lbl", "__d"])
        .withColumn("__dd", (F.col("__v") - F.col("__c")) * (F.col("__v") - F.col("__c")))
        .groupBy("__lbl", "__id")
        .agg(F.sum("__dd").cast("bigint").alias("dist_sq"))
    )
    w = Window.partitionBy("__lbl").orderBy(
        F.desc("dist_sq"), F.asc("__id")
    )
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__lbl").alias(label_col),
            F.col("__id").alias(id_col),
            F.col("dist_sq"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def hard_negative_mining(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "vec",
    exact_int: bool = False,
) -> DataFrame:
    """Contrastive-training data prep: for each anchor, the k most
    similar corpus vectors with a DIFFERENT label — the "hard
    negatives" that make embedding models learn boundaries (the
    highest-cosine wrong-label neighbors, not random negatives).

    Anchors broadcast (the small side — mini-batch or probe set);
    corpus is scanned once; ranking is one window per anchor id. For
    anchor sets past broadcast size, generate candidates with the
    bucketed paths (``cosine_topk_lsh`` / ``ivf_topk``) and apply the
    label-mismatch filter + window on their output — the plan shape
    is identical from the filter down.

    Returns (anchor_id, negative_id, cosine, rank), rank 1 = hardest.
    """
    d = dot_int if exact_int else dot
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("__albl"),
        F.col(vec_col).alias("__av"),
        squared_norm(F.col(vec_col), exact_int).alias("__an"),
    ).filter(F.col("__an") > 0)
    c = _spread(corpus).select(
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("__clbl"),
        F.col(vec_col).alias("__cv"),
        squared_norm(F.col(vec_col), exact_int).alias("__cn"),
    ).filter(F.col("__cn") > 0)
    pairs = (
        F.broadcast(a)
        .crossJoin(c)
        .filter(
            (F.col("anchor_id") != F.col("negative_id"))
            & (F.col("__albl") != F.col("__clbl"))
        )
    )
    cos = d(F.col("__av"), F.col("__cv")).cast("double") / F.sqrt(
        _norm_prod_double(F.col("__an"), F.col("__cn"), exact_int)
    )
    scored = pairs.select("anchor_id", "negative_id", cos.alias("cosine"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("negative_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def write_vector_store(
    vecs: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Persist an embedding signature store in its 100 TB layout: one
    row per (table, bucket, id, quantized vector), ``partitionBy`` on
    the LSH table index — the embedding twin of
    ``text_dedup.write_signature_store``. Bucket keys are computed
    ONCE at write time (ingest batches never re-hash stored vectors),
    and a table-subset probe (``probe_tables``) prunes the scan to
    the matching partition directories.

    ``vecs[vec_col]`` must already be int-quantized
    (floor(x·scale) bigint arrays) so bucketing and any later cosine
    verification are engine-exact.

    Mutations hold the single-writer lease (``sources/stores.py``) —
    the store is bare parquet, so concurrency safety is enforced at
    the writer, not assumed.
    """
    from docker_etl_spark.sources.stores import store_writer_lock

    keys = signlsh_table_buckets(
        f"`{vec_col}`", dim, n_planes, n_tables, seed, exact_int=True
    )
    exploded = vecs.select(
        F.col(id_col), F.col(vec_col), F.explode(keys).alias("tb")
    ).select(
        id_col, vec_col, F.col("tb.tbl").alias("tbl"), F.col("tb.bkt").alias("bkt")
    )
    with store_writer_lock(path, owner="write_vector_store"):
        # hash-distribute on the partition column first (the
        # write_digest_store discipline): commits otherwise scale as
        # tasks × tables instead of one file per table directory;
        # explicit count (write_repartition) so AQE cannot serialize
        # every table directory's commit into one task
        from docker_etl_spark.sources.stores import write_repartition

        write_repartition(exploded, ("tbl",)).write.mode(
            mode
        ).partitionBy("tbl").parquet(path)


def vector_store_schema(id_type: str, id_col: str = "vec_id") -> str:
    """The read schema (DDL) of a :func:`write_vector_store` ledger:
    the id (of type ``id_type``), the quantized vector and the bucket,
    then the ``tbl`` partition column."""
    return f"{id_col} {id_type}, vec array<bigint>, bkt bigint, tbl int"


def incremental_embedding_dedup(
    new_vecs: DataFrame,
    vector_store: DataFrame,
    dim: int,
    threshold: float = 0.99,
    n_planes: int = 8,
    n_tables: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    store_exploded: bool = False,
    probe_tables: list[int] | None = None,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup dedup of an incoming EMBEDDING batch against a vector
    store — ``text_dedup.incremental_minhash_dedup``'s semantics for
    the embedding modality (the continuous-corpus-build form of
    :func:`embedding_near_duplicates`): candidates come from
    multi-table sign-LSH bucket equi-joins (batch × store and batch ×
    earlier-in-batch), similarity is the exact-int cosine, and the
    batch row is a duplicate when its best candidate reaches
    ``threshold``.

    Returns one row per batch vector: (id, n_candidates, max_cos,
    is_dup). Append ``is_dup = false`` rows to the store via
    :func:`write_vector_store` (``mode="append"``).

    Scale: bucket keys shuffle as narrow (tbl, bkt) pairs; with the
    store in :func:`write_vector_store`'s layout pass
    ``store_exploded=True`` (no re-hashing) and optionally
    ``probe_tables`` for staged screening — the static table filter
    prunes the store scan to matching partitions.
    ``max_bucket_size`` drops pathological buckets from both sides
    (the LSH recall trade; the hot set is tiny and broadcast).
    Zero-norm vectors never pair (cosine undefined).
    """
    keys = signlsh_table_buckets(
        f"`{vec_col}`", dim, n_planes, n_tables, seed, exact_int=True
    )
    nrm = dot_int(F.col(vec_col), F.col(vec_col))
    new_b = (
        _spread(new_vecs)
        .select(
            F.col(id_col).alias("new_id"),
            F.col(vec_col).alias("new_vec"),
            nrm.alias("new_n"),
            F.explode(keys).alias("tb"),
        )
        .filter(F.col("new_n") > 0)
        .select("new_id", "new_vec", "new_n", "tb.tbl", "tb.bkt")
    )
    if store_exploded:
        store_b = vector_store.select(
            F.col(id_col).alias("store_id"),
            F.col(vec_col).alias("store_vec"),
            nrm.alias("store_n"),
            F.col("tbl").cast("int").alias("tbl"),
            "bkt",
        ).filter(F.col("store_n") > 0)
    else:
        store_b = (
            vector_store.select(
                F.col(id_col).alias("store_id"),
                F.col(vec_col).alias("store_vec"),
                nrm.alias("store_n"),
                F.explode(keys).alias("tb"),
            )
            .filter(F.col("store_n") > 0)
            .select("store_id", "store_vec", "store_n", "tb.tbl", "tb.bkt")
        )
    if probe_tables is not None:
        new_b = new_b.filter(F.col("tbl").isin(*probe_tables))
        store_b = store_b.filter(F.col("tbl").isin(*probe_tables))
    # Batch side feeds up to five consumers (hot count, anti-join,
    # store join, both self-join sides) — barrier it once so the
    # bucket hashing runs once per batch row. The store side is never
    # cached (at 100 TB it is the corpus); see
    # text_dedup.incremental_minhash_dedup for the same discipline.
    new_b = new_b.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        hot = (
            store_b.select("tbl", "bkt")
            .unionByName(new_b.select("tbl", "bkt"))
            .groupBy("tbl", "bkt")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("tbl", "bkt")
        )
        store_b = store_b.join(F.broadcast(hot), ["tbl", "bkt"], "left_anti")
        new_b = new_b.join(
            F.broadcast(hot), ["tbl", "bkt"], "left_anti"
        ).localCheckpoint(eager=False)

    def cosine(v_other: str, n_other: str) -> Column:
        return dot_int(F.col("new_vec"), F.col(v_other)).cast("double") / F.sqrt(
            _norm_prod_double(F.col("new_n"), F.col(n_other), exact_int=True)
        )

    vs_store = (
        new_b.join(store_b, ["tbl", "bkt"])
        .dropDuplicates(["new_id", "store_id"])
        .select("new_id", cosine("store_vec", "store_n").alias("cos"))
    )
    vs_batch = (
        new_b.alias("a")
        .join(
            new_b.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.new_id") > F.col("b.new_id")),
        )
        .select(
            F.col("a.new_id").alias("new_id"),
            F.col("b.new_id").alias("other_id"),
            F.col("a.new_vec").alias("new_vec"),
            F.col("a.new_n").alias("new_n"),
            F.col("b.new_vec").alias("b_vec"),
            F.col("b.new_n").alias("b_n"),
        )
        .dropDuplicates(["new_id", "other_id"])
        .select("new_id", cosine("b_vec", "b_n").alias("cos"))
    )
    cands = vs_store.unionByName(vs_batch)
    agg = cands.groupBy("new_id").agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.max("cos").alias("max_cos"),
    )
    return (
        new_vecs.select(F.col(id_col))
        .join(agg.withColumnRenamed("new_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_candidates"), F.lit(0).cast("bigint")).alias(
                "n_candidates"
            ),
            F.coalesce(F.col("max_cos"), F.lit(0.0)).alias("max_cos"),
            (F.coalesce(F.col("max_cos"), F.lit(0.0)) >= threshold).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# hybrid-retrieval rank fusion
# ---------------------------------------------------------------------------


def reciprocal_rank_fusion(
    arms: "list[tuple[str, DataFrame]]",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rrf_k: int = 60,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked
    retrieval arms: ``score(d) = sum over arms of 1/(rrf_k + rank)``,
    the standard recipe for fusing lexical (BM25) and vector (ANN)
    retrieval into one hybrid ranking without score calibration.

    ``arms`` is an ordered list of (name, frame) where each frame
    carries (id_col, rank_col); a document absent from an arm
    contributes 0. Contributions are added LEFT-TO-RIGHT in declared
    arm order (each quotient is one correctly-rounded IEEE op), so
    the fused score is bit-reproducible across engines and
    partitionings. Output: id_col, one ``<name>_rank`` per arm
    (null when absent), ``rrf_score``, and ``fused_rank``
    (tie-broken on id).

    Scale shape: each arm is already a bounded top-N list, so the
    full-outer chain joins N-row frames — trivially small next to
    the retrieval passes that produced them; the final ranking
    windows over <= sum(N) rows.
    """
    from functools import reduce

    if not arms:
        raise ValueError("reciprocal_rank_fusion needs at least one arm")
    fused = None
    for name, df in arms:
        a = df.select(F.col(id_col), F.col(rank_col).alias(f"{name}_rank"))
        fused = a if fused is None else fused.join(a, id_col, "full_outer")
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(rrf_k) + F.col(f"{name}_rank")), F.lit(0.0)
        )
        for name, _ in arms
    ]
    score = reduce(lambda a, b: a + b, contribs)
    out = fused.withColumn("rrf_score", score)
    w = Window.orderBy(F.desc("rrf_score"), F.col(id_col))
    if top_k is not None:
        out = out.orderBy(F.desc("rrf_score"), F.col(id_col)).limit(top_k)
    return out.withColumn("fused_rank", F.row_number().over(w).cast("long"))


def truncated_dim_recall(
    queries: DataFrame,
    corpus: DataFrame,
    trunc_dim: int,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec_col: str = "vec",
    exact_int: bool = False,
) -> DataFrame:
    """Matryoshka-style truncation audit: how much retrieval quality
    survives keeping only the first ``trunc_dim`` embedding
    dimensions? Runs the brute-force cosine top-k twice — full vector
    and prefix slice — and reports per-query recall@k of the
    truncated arm against the full-dimension arm: the number every
    MRL deployment (Kusupati et al. 2022) measures before swapping a
    cheap low-dim prefilter in front of the full-dim ranker.

    Output: (query_id, n_overlap, recall_at_k), one row per query
    with a nonzero-norm full vector. ``recall_at_k`` is a small-int
    ratio (n_overlap/k) — exact in double.

    Scale shape: both arms broadcast the SAME bounded query set and
    scan the corpus once each (the slice is a map-side projection, so
    the truncated scan moves trunc_dim/dim of the vector bytes); the
    overlap join runs on two k·|Q|-row frames — trivial next to the
    scans. At 100 TB the brute-force arms swap for the bucketed
    paths; the recall join is unchanged.
    """
    full = cosine_topk_bruteforce(
        queries, corpus, k=k, query_id=query_id, corpus_id=corpus_id,
        vec_col=vec_col, exact_int=exact_int, max_queries=None,
    )
    sl = F.slice(F.col(vec_col), 1, trunc_dim)
    trunc = cosine_topk_bruteforce(
        queries.select(query_id, sl.alias(vec_col)),
        corpus.select(corpus_id, sl.alias(vec_col)),
        k=k, query_id=query_id, corpus_id=corpus_id,
        vec_col=vec_col, exact_int=exact_int, max_queries=None,
    )
    hits = (
        full.select(query_id, corpus_id)
        .join(trunc.select(query_id, corpus_id), [query_id, corpus_id])
        .groupBy(query_id)
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    base = full.select(query_id).distinct()
    n = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint")
    return base.join(hits, query_id, "left").select(
        query_id,
        n.alias("n_overlap"),
        (n.cast("double") / float(k)).alias("recall_at_k"),
    )


def mmr_rerank(
    pool: DataFrame,
    select_k: int,
    lambda_: float = 0.5,
    id_col: str = "cand_id",
    rel_col: str = "rel",
    vec_col: str = "vec",
    exact_int: bool = False,
    max_pool: int | None = 1024,
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``select_k`` items maximizing

        lambda * rel(c)  -  (1 - lambda) * max_{s in selected} sim(c, s)

    — the standard diversity pass between retrieval and a training
    batch / context window, so near-duplicate hits don't crowd out
    coverage. ``pool`` carries (id, rel, vec); pairwise sims are
    cosine computed here with the engine-wide kernel.

    The greedy loop is data-dependent but ``select_k`` is a fixed
    parameter, so the selection UNROLLS into the plan: the pool
    collapses to ONE row holding a sorted candidate array (each
    entry: id, rel, sims-map to every other candidate), and each of
    the k steps is a column expression folding over that array
    (argmax with (score desc, id asc) tiebreak) — no driver loop, no
    Python stage, deterministic under any partitioning. Per-step
    score is ``lambda*rel - (1-lambda)*maxsim``, two IEEE multiplies
    and one subtract in fixed order, replayable cross-engine.

    Scale shape: MMR is quadratic in the POOL by nature, so the pool
    must be a bounded top-N (that's also its retrieval contract);
    ``max_pool`` enforces it eagerly like the brute-force guard. The
    pairwise-sim join is |pool|^2 rows of narrow structs; everything
    after is one row.

    Output: (mmr_rank, id_col, rel_col, mmr_score), ``min(select_k,
    |pool|)`` rows.
    """
    if max_pool is not None:
        pool = pool.localCheckpoint(eager=True)
        n_p = pool.limit(max_pool + 1).count()
        if n_p > max_pool:
            raise ValueError(
                f"mmr_rerank got > {max_pool} pool rows; MMR is O(|pool|^2) "
                "— cut the pool to a bounded top-N first"
            )
    # Key/id types follow the pool's actual id column (string ids are
    # as legitimate as bigints; hard-coding bigint failed at analysis
    # time for any other type — ADVICE r6)
    id_type = pool.schema[id_col].dataType.simpleString()
    d = dot_int if exact_int else dot
    a = pool.select(
        F.col(id_col).alias("__a"), F.col(vec_col).alias("__av"),
        squared_norm(F.col(vec_col), exact_int).alias("__an"),
    )
    b = pool.select(
        F.col(id_col).alias("__b"), F.col(vec_col).alias("__bv"),
        squared_norm(F.col(vec_col), exact_int).alias("__bn"),
    )
    sim = d(F.col("__av"), F.col("__bv")).cast("double") / F.sqrt(
        _norm_prod_double(F.col("__an"), F.col("__bn"), exact_int)
    )
    simmap = (
        # The pool is bounded (max_pool guard), so the non-equi
        # pairwise join broadcasts one side — BroadcastNestedLoopJoin
        # over |pool|^2, never a CartesianProduct.
        a.join(F.broadcast(b), F.col("__a") != F.col("__b"))
        .filter((F.col("__an") > 0) & (F.col("__bn") > 0))
        .select("__a", F.struct(F.col("__b").alias("key"), sim.alias("value")).alias("__kv"))
        .groupBy("__a")
        .agg(F.map_from_entries(F.collect_list("__kv")).alias("__sims"))
    )
    cands = (
        pool.select(F.col(id_col).alias("__a"), F.col(rel_col).alias("__rel"))
        .join(simmap, "__a", "left")
        .select(
            F.struct(
                F.col("__a").alias("id"),
                F.col("__rel").alias("rel"),
                F.coalesce(
                    F.col("__sims"),
                    F.map_from_entries(
                        F.array().cast(
                            f"array<struct<key:{id_type},value:double>>"
                        )
                    ),
                ).alias("sims"),
            ).alias("__c")
        )
        # No ordering needed: each step is an argmax fold with a
        # total (score DESC, id ASC) order, so the result is
        # invariant to the collect_list permutation.
        .agg(F.collect_list("__c").alias("__cands"))
    )
    lam, mu = float(lambda_), 1.0 - float(lambda_)

    def best_expr(sel):
        def step(acc, c):
            ms = F.coalesce(
                F.array_max(
                    F.transform(sel, lambda s: F.element_at(c["sims"], s))
                ),
                F.lit(0.0),
            )
            sc = F.lit(lam) * c["rel"] - F.lit(mu) * ms
            take = acc["id"].isNull() | (sc > acc["score"]) | (
                (sc == acc["score"]) & (c["id"] < acc["id"])
            )
            new = F.struct(
                c["id"].alias("id"), c["rel"].alias("rel"), sc.alias("score")
            )
            return F.when(take, new).otherwise(acc)

        remaining = F.filter(
            F.col("__cands"), lambda c: ~F.array_contains(sel, c["id"])
        )
        init = F.struct(
            F.lit(None).cast(id_type).alias("id"),
            F.lit(None).cast("double").alias("rel"),
            F.lit(None).cast("double").alias("score"),
        )
        return F.aggregate(remaining, init, step)

    # The k greedy steps run as ONE runtime fold over sequence(1, k).
    # They used to be UNROLLED into k withColumn steps, but Catalyst's
    # projection collapse inlines each step's selection array into the
    # next step's argmax twice, so the analyzed tree grows
    # exponentially in k — at k=8 the driver spent ~2 s per run just
    # analyzing the plan (guide §7.3: huge expression trees built in
    # loops are driver-side planning cost). The fold evaluates the
    # SAME per-step argmax (identical math, fold order and (score
    # DESC, id ASC) tiebreak — step r still scans candidates not yet
    # in the selection, appends the pick's id (null once the pool is
    # exhausted, exactly like the unrolled concat) and ranks by
    # position), so results are bit-identical while the tree is one
    # step deep.
    picks_type = (
        f"array<struct<mmr_rank:bigint,{id_col}:{id_type},"
        f"{rel_col}:double,mmr_score:double>>"
    )
    if select_k < 1:
        # the unrolled loop built zero picks; keep that contract
        # (sequence(1, 0) would count DOWN, not produce an empty seq)
        picks = F.array().cast(picks_type)
    else:
        def fold_step(acc, _r):
            best = best_expr(acc["sel"])
            pick = F.struct(
                (F.size(acc["picks"]) + 1).cast("bigint").alias("mmr_rank"),
                best["id"].alias(id_col),
                best["rel"].cast("double").alias(rel_col),
                best["score"].cast("double").alias("mmr_score"),
            )
            return F.struct(
                F.concat(acc["sel"], F.array(best["id"])).alias("sel"),
                F.concat(acc["picks"], F.array(pick)).alias("picks"),
            )

        picks = F.aggregate(
            F.sequence(F.lit(1), F.lit(int(select_k))),
            F.struct(
                F.array().cast(f"array<{id_type}>").alias("sel"),
                F.array().cast(picks_type).alias("picks"),
            ),
            fold_step,
        )["picks"]
    return (
        cands.select(F.explode(picks).alias("__p"))
        .select("__p.*")
        .filter(F.col(id_col).isNotNull())
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression half)
# ---------------------------------------------------------------------------


def _int_array_literal(c: list[int]) -> Column:
    return F.expr(_int_array_sql(c))


def _int_array_sql(c: list[int]) -> str:
    return "array(" + ",".join(f"{int(x)}L" for x in c) + ")"


def _sqdist_sql(vec_sql: str, c: list[int]) -> str:
    """Integer squared-L2 between a vector SQL expression and a
    centroid literal, as ONE SQL string.

    Expression-tree construction is DRIVER-side cost: building these
    per-centroid folds through the Column API costs dozens of py4j
    round trips each (an IVF-PQ build paid ~20k round trips ≈ 6 s of
    pure driver latency at fixture scale); one ``F.expr`` string is a
    single round trip and parses JVM-side. The parsed tree is the
    same zip_with/aggregate fold, so plans and results are unchanged.
    """
    return (
        f"aggregate(zip_with({vec_sql}, {_int_array_sql(c)}, "
        "(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )


def _adc_table_sql(vec_sql: str, book: list[list[int]]) -> str:
    """ADC distance table: array of squared-L2 to every codeword."""
    return "array(" + ", ".join(_sqdist_sql(vec_sql, c) for c in book) + ")"


def _argmin_sql(vec_sql: str, book: list[list[int]]) -> str:
    """argmin over the codebook of integer squared L2, ties → lower
    cid. ``array_min`` over (d, cid) structs IS the Lloyd argmin
    order (struct comparison is lexicographic; distances of one row
    are either all non-null or — for a null vector — all null, and
    equal-null distances fall through to the lower cid), matching the
    strict-< when-chain it replaces in every case."""
    structs = ", ".join(
        f"struct({_sqdist_sql(vec_sql, c)} AS d, {j} AS cid)"
        for j, c in enumerate(book)
    )
    return f"array_min(array({structs})).cid"


def _centroid_pick_sql(cell_sql: str, cents: list[list[int]]) -> str:
    """The centroid literal of a (0-based) cell id column: one
    element_at over an array-of-arrays literal — replaces a per-cell
    CASE chain with identical results for cell ∈ [0, k)."""
    arrs = ", ".join(_int_array_sql(c) for c in cents)
    return f"element_at(array({arrs}), ({cell_sql}) + 1)"


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 4,
    k: int = 16,
    iterations: int = 1,
    quant_scale: int = 1000,
    max_training_points: int | None = None,
    sample_seed: str = "pqtrain",
) -> list[list[list[int]]]:
    """Train product-quantization codebooks (Jégou et al. 2011): the
    vector splits into ``m`` subspaces of dim/m dims, each trained
    with the engine's deterministic integer Lloyd kernel
    (:func:`kmeans_assign_quantized`'s spec: quantize floor(x*scale),
    k-smallest-id init, argmin ties -> lower cid, floor-mean update,
    empty cluster keeps its centroid). Returns
    ``codebooks[s][cid] -> centroid ints`` — m*k*(dim/m) integers of
    driver state, the same bounded class as the IVF centroids.

    PQ is the compression half of IVF-PQ, the production ANN layout
    at 100 TB: codes are m small ints per vector (16x smaller than
    the raw floats at dim=64/m=4), and ADC search replaces dim
    multiplies per candidate with m table lookups
    (:func:`pq_adc_topk`). Compose with the IVF cell layout
    (:func:`ivf_topk`'s coarse quantizer) to prune candidates first.

    ``max_training_points``: every subspace trains on the SAME
    deterministic md5-drawn id sample (the draw keys on id + the
    shared seed, so the sampled id set is identical across
    subspaces — one sample CTE replays it in an oracle); encoding
    still covers every vector.

    Execution is FUSED across subspaces (bit-identical to m
    independent :func:`kmeans_assign_quantized` runs, pinned by
    test): one draw + one checkpoint of the training frame, one
    k-row init collect serving every subspace, and one aggregation
    job per Lloyd round — rows explode into (subspace, cluster,
    slice) and hash-aggregate on (s, cid), so the shuffled state is
    bounded by partitions·m·k rows however large the training set,
    and the per-round job count drops from m to 1.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    sel = df.select(F.col(id_col).alias("__id"), vq.alias("__vq"))
    if max_training_points is None:
        train = _spread(sel).localCheckpoint(eager=True)
    else:
        hkey = F.md5(
            F.concat(F.col("__id").cast("string"), F.lit(":" + sample_seed))
        )
        drawn = sel.orderBy(hkey.asc(), F.col("__id").asc()).limit(
            int(max_training_points)
        )
        n_parts = max(
            1,
            min(
                df.sparkSession.sparkContext.defaultParallelism,
                int(max_training_points) // 64,
            ),
        )
        train = drawn.repartition(n_parts).localCheckpoint(eager=True)

    # one k-row collect serves every subspace's init (k smallest ids
    # of the training set, sliced per subspace driver-side)
    init_rows = train.orderBy("__id").limit(k).select("__id", "__vq").collect()
    full = [
        list(r["__vq"]) for r in sorted(init_rows, key=lambda r: r["__id"])
    ]
    books = [[v[s * d : (s + 1) * d] for v in full] for s in range(m)]

    for _ in range(iterations):
        # one job: explode each row into its m (subspace, cluster,
        # slice) assignments, hash-aggregate per-dim sums + counts
        entries = F.array(
            *[
                F.struct(
                    F.lit(s).alias("s"),
                    _pq_argmin(
                        f"slice(__vq, {s * d + 1}, {d})", books[s]
                    ).alias("cid"),
                    F.slice(F.col("__vq"), s * d + 1, d).alias("sv"),
                )
                for s in range(m)
            ]
        )
        # one array-of-aggregates expression per round (a single
        # F.expr round trip) instead of one Column call per dimension
        means = ",".join(
            "cast(floor(cast(sum(element_at(sv, "
            f"{j + 1})) as double) / count(*)) as bigint)"
            for j in range(d)
        )
        rows = (
            train.select(F.explode(entries).alias("e"))
            .select("e.s", "e.cid", "e.sv")
            .groupBy("s", "cid")
            .agg(F.expr(f"array({means})").alias("ds"))
            .collect()
        )
        upd = {(r["s"], r["cid"]): list(r["ds"]) for r in rows}
        books = [
            [
                upd.get((s, cid), books[s][cid])  # empty keeps centroid
                for cid in range(len(books[s]))
            ]
            for s in range(m)
        ]
    return books


def _pq_argmin(slice_ref: str | Column, book: list[list[int]]) -> Column:
    """Code = argmin over the codebook of integer squared L2 to the
    (already-quantized) slice, ties -> lower cid — the Lloyd
    assignment spec applied at encode time. Pass the slice as a SQL
    snippet so the whole argmin is ONE ``F.expr`` round trip (see
    :func:`_sqdist_sql`) — the hot-path form; a Column builds the
    same array_min-over-(d, cid)-structs tree through the Column API
    (identical argmin: struct comparison is lexicographic, equal
    distances fall through to the lower cid)."""
    if isinstance(slice_ref, str):
        return F.expr(_argmin_sql(slice_ref, book))
    structs = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        slice_ref,
                        _int_array_literal(c),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ).alias("d"),
                F.lit(j).alias("cid"),
            )
            for j, c in enumerate(book)
        ]
    )
    return F.array_min(structs)["cid"]


def _pq_codes(vq_sql: str, codebooks: list[list[list[int]]]) -> Column:
    """The m-int PQ code of an ALREADY-QUANTIZED vector column (named
    by its SQL snippet): per subspace, argmin over the codebook of
    integer squared L2 on the slice (ties -> lower cid)."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    parts = ", ".join(
        f"cast({_argmin_sql(f'slice({vq_sql}, {s * d + 1}, {d})', codebooks[s])} as int)"
        for s in range(m)
    )
    return F.expr(f"array({parts})")


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[int]]],
    quant_scale: int = 1000,
) -> DataFrame:
    """Encode vectors against trained codebooks → (id, pq_code:
    array<int> of length m). Map-only: the codebooks ride the plan as
    literals (m*k centroid arrays), every row pays m*k slice
    distances once — no join, no shuffle.
    """
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    base = df.select(F.col(id_col), vq.alias("__vq"))
    return base.select(
        F.col(id_col), _pq_codes("__vq", codebooks).alias("pq_code")
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str,
    query_id_col: str,
    code_id_col: str,
    topk: int = 3,
    quant_scale: int = 1000,
    max_queries: int | None = 1024,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes one
    k-entry distance table PER SUBSPACE (query slice vs every
    codeword — m*k integer distances, built as plan expressions);
    each candidate then costs m table LOOKUPS + (m-1) adds instead of
    dim multiplies — the 16x per-candidate CPU cut (dim=64, m=4) that
    makes brute ADC scans tractable and IVF-PQ probes cheap.

    The query side (with its tables) is broadcast; candidates never
    shuffle. ``max_queries`` guards the |codes| x |queries| output the
    same way the brute-force cosine guard does — the production path
    prunes candidates with the IVF coarse cells first. Distances are
    exact integers (quantized grid), so ranking replays cross-engine;
    ties break to the lower candidate id.

    Output: (query_id_col, rank, neighbor_id, adc_dist); self-pairs
    (same id) excluded.
    """
    from pyspark.sql import Window

    if max_queries is not None:
        queries = queries.localCheckpoint(eager=True)
        nq = queries.limit(max_queries + 1).count()
        if nq > max_queries:
            raise ValueError(
                f"pq_adc_topk got > {max_queries} queries; ADC scans cost "
                "|codes| x |queries| — prune with IVF cells or cut the "
                "query set"
            )
    m = len(codebooks)
    d = len(codebooks[0][0])
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    q = queries.select(F.col(query_id_col).alias("__qid"), vq.alias("__qv"))
    tables = [
        F.expr(
            _adc_table_sql(f"slice(__qv, {s * d + 1}, {d})", codebooks[s])
        ).alias(f"__t{s}")
        for s in range(m)
    ]
    qt = q.select("__qid", *tables)
    dist = sum(
        (
            F.element_at(
                F.col(f"__t{s}"),
                F.element_at(F.col("pq_code"), s + 1) + F.lit(1),
            )
            for s in range(1, m)
        ),
        F.element_at(
            F.col("__t0"), F.element_at(F.col("pq_code"), 1) + F.lit(1)
        ),
    )
    cand = (
        codes.crossJoin(F.broadcast(qt))
        .filter(F.col(code_id_col) != F.col("__qid"))
        .select(
            F.col("__qid"),
            F.col(code_id_col).alias("neighbor_id"),
            dist.cast("bigint").alias("adc_dist"),
        )
    )
    w = Window.partitionBy("__qid").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("__qid").alias(query_id_col),
            "rank",
            "neighbor_id",
            "adc_dist",
        )
    )


def ivfpq_build(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_cells: int = 4,
    coarse_iterations: int = 2,
    m: int = 2,
    k: int = 4,
    pq_iterations: int = 1,
    quant_scale: int = 1000,
    max_training_points: int | None = None,
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]]]:
    """Build the full IVF-PQ index layout (Jégou 2011): coarse-assign
    every vector to one of ``n_cells`` integer-Lloyd cells, then
    product-quantize the RESIDUAL (vector − its cell centroid) — the
    composition production ANN systems (FAISS IVFPQ) ship, because
    residuals concentrate near the origin where a small codebook
    spends its codewords well.

    Returns (index, coarse_centroids, codebooks):
    - index: (id_col, __cell, pq_code) — the persistable layout, one
      row per vector, m small ints of payload;
    - coarse_centroids[cid] / codebooks[s][cid]: bounded driver
      state (plan literals downstream).

    Scale shape: coarse training/assignment is the
    :func:`kmeans_assign_quantized` recipe (broadcast centroids,
    map-side argmin); residuals are a zip_with against the assigned
    centroid literal (map-only, via a CASE over n_cells literals);
    PQ training sees only the residual frame. Everything integer.

    ``max_training_points`` bounds BOTH training stages (coarse
    Lloyd via seed 'kmtrain', PQ Lloyd on residuals via seed
    'pqtrain') at a constant number of vectors — FAISS practice:
    quantizers train on a sample, the index still encodes every
    vector. At 100 TB this turns several full-corpus passes per
    index build into one bounded draw + one full encode pass.
    """
    assigned, coarse = kmeans_assign_quantized(
        df, vec_col, id_col, n_cells, coarse_iterations, quant_scale,
        max_training_points=max_training_points,
    )
    # Cells are RE-ASSIGNED against the FINAL centroids (the FAISS
    # convention: encode with the trained quantizer, not the last
    # Lloyd round's pre-update assignment), then residual = quantized
    # vector - final cell centroid (per-cell literal CASE, map-only).
    cell = _pq_argmin("__vq", coarse)
    cdf = assigned.select(
        F.col("__id").alias(id_col), F.col("__vq"), cell.alias("__cell")
    )
    resid = F.expr(
        "zip_with(__vq, "
        + _centroid_pick_sql("__cell", coarse)
        + ", (x, y) -> x - y)"
    )
    # Eager: a lazy local checkpoint materializes at first action,
    # which would land inside pq_train's Lloyd loop and re-evaluate
    # the residual CASE chain there AND again in pq_encode (house
    # discipline, cf. corpus.py pack_shards offsets).
    rdf = cdf.select(
        F.col(id_col), F.col("__cell"), resid.alias("__resid")
    ).localCheckpoint(eager=True)
    # PQ codebooks train on residuals; quant_scale=1 (already integers)
    books = pq_train(
        rdf, "__resid", id_col, dim=dim, m=m, k=k,
        iterations=pq_iterations, quant_scale=1,
        max_training_points=max_training_points,
    )
    # Cell and codes both derive from the checkpointed residual frame
    # — one map-side select, no join.
    index = rdf.select(
        F.col(id_col),
        F.col("__cell"),
        _pq_codes("__resid", books).alias("pq_code"),
    )
    return index, coarse, books


def ivfpq_topk(
    queries: DataFrame,
    index: DataFrame,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    vec_col: str,
    query_id_col: str,
    topk: int = 3,
    nprobe: int = 1,
    quant_scale: int = 1000,
    max_queries: int | None = 1024,
    prune_index_partitions: bool = False,
) -> DataFrame:
    """IVF-PQ search: each query routes to its ``nprobe`` nearest
    coarse cells (sorted (dist, cid) — argmin ties to the lower cid,
    the Lloyd spec), builds ADC tables against its RESIDUAL in each
    probed cell, and scans only those cells' codes — the candidate
    set shrinks ~n_cells/nprobe-fold before any per-candidate work,
    and each survivor costs m table lookups. ``nprobe`` is THE
    recall/cost knob of IVF search: 1 is the cheapest scan (misses
    neighbors whose cell differs from the query's), n_cells
    degenerates to the flat ADC scan. The cell equi-join replaces
    pq_adc_topk's cross join: candidates shuffle once on the cell
    id, queries (x nprobe rows) broadcast.

    Output: (query_id_col, rank, neighbor_id, adc_dist); self-pairs
    excluded. Exact integers end-to-end, lower-id tiebreak.

    ``prune_index_partitions``: collect the distinct probed cell ids
    (bounded by n_cells, the library-collect class) and filter the
    index with a STATIC IN on ``__cell`` — against a
    :func:`write_ivfpq_store` layout (partitionBy ``__cell``) this
    pushes PartitionFilters into the scan, so only the probed cells'
    directories are read at all.
    """
    from pyspark.sql import Window

    if max_queries is not None:
        queries = queries.localCheckpoint(eager=True)
        nq = queries.limit(max_queries + 1).count()
        if nq > max_queries:
            raise ValueError(
                f"ivfpq_topk got > {max_queries} queries; bound the query "
                "set (the index side is already cell-pruned)"
            )
    m = len(codebooks)
    d = len(codebooks[0][0])
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    q = queries.select(F.col(query_id_col).alias("__qid"), vq.alias("__qv"))
    # route to the nprobe nearest coarse cells (ties -> lower cid:
    # struct sort on (dist, cid) is exactly the Lloyd argmin order);
    # one SQL string — a single py4j round trip (see _sqdist_sql)
    structs = ", ".join(
        f"struct({_sqdist_sql('__qv', c)} AS d, {j} AS cid)"
        for j, c in enumerate(coarse)
    )
    probed = F.expr(
        f"slice(sort_array(array({structs})), 1, {min(nprobe, len(coarse))})"
    )
    qcell = q.select(
        "__qid", "__qv", F.explode(probed).alias("__pc")
    ).select("__qid", "__qv", F.col("__pc.cid").alias("__cell"))
    if prune_index_partitions:
        probed_cells = sorted(
            r["__cell"]
            for r in qcell.select("__cell").distinct().collect()
        )
        index = index.filter(F.col("__cell").isin(probed_cells))
    qr = qcell.select(
        "__qid",
        "__cell",
        F.expr(
            "zip_with(__qv, "
            + _centroid_pick_sql("__cell", coarse)
            + ", (x, y) -> x - y)"
        ).alias("__qres"),
    )
    tables = [
        F.expr(
            _adc_table_sql(f"slice(__qres, {s * d + 1}, {d})", codebooks[s])
        ).alias(f"__t{s}")
        for s in range(m)
    ]
    qt = qr.select("__qid", "__cell", *tables)
    dist = sum(
        (
            F.element_at(
                F.col(f"__t{s}"),
                F.element_at(F.col("pq_code"), s + 1) + F.lit(1),
            )
            for s in range(1, m)
        ),
        F.element_at(
            F.col("__t0"), F.element_at(F.col("pq_code"), 1) + F.lit(1)
        ),
    )
    # the index id column is whatever isn't the cell/code payload;
    # refuse ambiguity rather than silently binding a joined-on extra
    # column as the neighbour id
    id_cands = [c for c in index.columns if c not in ("__cell", "pq_code")]
    if len(id_cands) != 1:
        raise ValueError(
            "ivfpq_topk: index must have exactly one id column besides "
            f"__cell/pq_code, found {id_cands}; select the id column "
            "explicitly before calling"
        )
    id_name = id_cands[0]
    cand = (
        index.join(F.broadcast(qt), "__cell")
        .filter(F.col("__qid") != F.col(id_name))
        .select(
            F.col("__qid"),
            F.col(id_name).alias("neighbor_id"),
            dist.cast("bigint").alias("adc_dist"),
        )
    )
    w = Window.partitionBy("__qid").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("__qid").alias(query_id_col),
            "rank",
            "neighbor_id",
            "adc_dist",
        )
    )


def ivfpq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    quant_scale: int = 1000,
) -> DataFrame:
    """Encode vectors against ALREADY-TRAINED IVF-PQ quantizers →
    (id_col, __cell, pq_code) — the no-retraining half of the index
    lifecycle (:func:`ivfpq_append` uses it to ingest new batches
    against a stored index's quantizers; reference analogue: the
    persist-and-merge ledger pattern, etl/user_reports_aggregate.py:17).

    One map-only pass: quantize → coarse argmin (cell) → residual
    against the cell centroid (a CASE over n_cells literals) →
    per-subspace code argmin. No shuffle, no join, no driver state
    beyond the quantizer literals.
    """
    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint"),
    )
    base = df.select(F.col(id_col), vq.alias("__vq"))
    cdf = base.select(
        F.col(id_col),
        F.col("__vq"),
        _pq_argmin("__vq", coarse).alias("__cell"),
    )
    resid = F.expr(
        "zip_with(__vq, "
        + _centroid_pick_sql("__cell", coarse)
        + ", (x, y) -> x - y)"
    )
    # Bind the residual behind its own projection: _pq_codes slices
    # it m times and interpreted HOF lambdas have no CSE.
    rdf = cdf.select(F.col(id_col), F.col("__cell"), resid.alias("__resid"))
    return rdf.select(
        F.col(id_col),
        F.col("__cell"),
        _pq_codes("__resid", codebooks).alias("pq_code"),
    )


def write_ivfpq_store(
    index: DataFrame,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    path: str,
    quant_scale: int = 1000,
    batch_id: int | None = None,
    id_col: str = "vec_id",
) -> None:
    """Persist an IVF-PQ index in its 100 TB layout: codes under
    ``{path}/codes`` partitioned by (``__cell``, ``__batch_id``) —
    probe-side cell pruning is directory pruning, and each ingest
    batch owns its own leaf partitions — plus a small quantizer
    sidecar under ``{path}/quantizer`` (coarse centroids + PQ
    codebooks + meta as k·dim integer rows, the bounded driver
    state, so later batches encode WITHOUT retraining).

    Delivery discipline: per-write dynamic partition overwrite. The
    (cell, batch) partitions a batch writes are a DETERMINISTIC
    function of its rows (cell = argmin against stored centroids),
    so a redelivery touches a superset of any crashed partial
    attempt's partitions — leftovers cannot survive. Writer-lease-
    guarded like every store mutation.

    REBUILD CONTRACT: dynamic overwrite replaces only the partitions
    present in THIS write — redelivery is idempotent, but a
    ``batch_id=None`` write over an existing store whose CONTENT
    differs leaves the old build's other (cell, batch) partitions in
    place (and the new quantizer sidecar then mislabels them). A full
    rebuild must target a fresh path or delete the old layout first.

    COMPACTION HORIZON: once :func:`compact_ivfpq_store` has folded
    batches ≤ H into the base, a write with ``batch_id <= H``
    (including the ``None`` → -1 base write) is REJECTED — its
    partitions were relabeled away, so dynamic overwrite would land
    the redelivered codes BESIDE their folded copies and every probe
    would see those ids twice (the search-store r9 ADVICE hazard,
    fixed symmetrically here).
    """
    from docker_etl_spark.sources.stores import (
        read_schema,
        reject_at_or_below_horizon,
        store_writer_lock,
        write_repartition,
        write_sidecar_rows,
        write_store_meta,
    )

    spark = index.sparkSession
    codes = index.select(
        F.col(id_col),
        F.col("pq_code"),
        F.col("__cell"),
        F.lit(-1 if batch_id is None else batch_id).alias("__batch_id"),
    )
    layout = ("__cell", "__batch_id")
    qrows = [
        ("meta", 0, 0, [len(coarse), len(codebooks), len(codebooks[0]),
                        len(codebooks[0][0]), quant_scale])
    ]
    qrows += [("coarse", 0, cid, list(c)) for cid, c in enumerate(coarse)]
    qrows += [
        ("codebook", s, cid, list(c))
        for s, book in enumerate(codebooks)
        for cid, c in enumerate(book)
    ]
    with store_writer_lock(path, owner="write_ivfpq_store"):
        # horizon check under the lease (a concurrent compaction could
        # otherwise raise the horizon between check and write)
        reject_at_or_below_horizon(spark, path, batch_id, "write_ivfpq_store")
        # the codes' read schema, declared so no load infers it
        write_store_meta(
            spark, path, [], {"codes": read_schema(codes, layout)}
        )
        (
            codes
            # hash-distribute on the partition column first (the
            # write_digest_store discipline): commits otherwise scale
            # as tasks × cells instead of one file per cell directory;
            # explicit count (write_repartition) so AQE cannot
            # serialize every cell directory's commit into one task
            .transform(lambda d: write_repartition(d, ("__cell",)))
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy(*layout)
            .parquet(path + "/codes")
        )
        # the quantizer rows are a local Python collection already
        write_sidecar_rows(
            spark,
            path + "/quantizer",
            qrows,
            [
                ("part", "string"),
                ("idx0", "int32"),
                ("idx1", "int32"),
                ("vals", "list<int64>"),
            ],
        )


def delete_from_ivfpq_store(
    spark,
    path: str,
    vec_ids,
    batch_id: int,
    id_col: str = "vec_id",
) -> None:
    """Tombstone vectors in a persisted IVF-PQ index — FAISS's
    ``remove_ids`` re-expressed for the store layout (the search
    store's :func:`~docker_etl_spark.operators.search.
    delete_from_search_index`, symmetrically): ids land as a bounded
    ``{path}/deletes`` sidecar delta; every
    :func:`load_ivfpq_store`-based probe immediately filters its ids
    out of its codes frame (applied after cell pruning);
    the next :func:`compact_ivfpq_store` whose horizon covers
    ``batch_id`` physically drops the code rows and clears the
    applied tombstones. Writer-lease-guarded, idempotent under
    redelivery (dynamic overwrite of its own partition), rejected at
    or below the compaction horizon; a deleted id must not be
    re-ingested (its tombstone excludes the new copy too —
    ``ivfpq_append(assume_new_ids=False)`` keeps treating deleted
    ids as seen)."""
    from docker_etl_spark.sources.stores import delete_from_store

    delete_from_store(
        spark, path, vec_ids, batch_id, id_col, "delete_from_ivfpq_store"
    )


def load_ivfpq_store(
    spark, path, apply_deletes: bool = True
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]], dict]:
    """Reload a :func:`write_ivfpq_store` index →
    (index frame (id, __cell, pq_code), coarse, codebooks, meta).

    ``path`` is a store path or a
    :class:`~docker_etl_spark.sources.stores.StoreSnapshot` (a snapshot
    opened at a batch reads the store as of that batch). The
    quantizer sidecar is a bounded collect (n_cells·dim +
    m·k·(dim/m) integer rows); the codes frame is the lazily-scanned
    store, read with its declared schema — cell pruning happens at
    probe time (``ivfpq_topk(..., prune_index_partitions=True)``).
    """
    from docker_etl_spark.sources.stores import as_snapshot, read_sidecar_rows

    snap = as_snapshot(spark, path)
    q = read_sidecar_rows(spark, snap.path + "/quantizer")
    meta_row = next(r for r in q if r["part"] == "meta")
    n_cells, m, k, d, quant_scale = (int(x) for x in meta_row["vals"])
    coarse_rows = {r["idx1"]: list(r["vals"]) for r in q if r["part"] == "coarse"}
    coarse = [coarse_rows[j] for j in range(n_cells)]
    books: list[list[list[int]]] = []
    for s in range(m):
        by_cid = {
            r["idx1"]: list(r["vals"])
            for r in q
            if r["part"] == "codebook" and r["idx0"] == s
        }
        books.append([by_cid[c] for c in range(k)])
    meta = {
        "n_cells": n_cells,
        "m": m,
        "k": k,
        "subspace_dim": d,
        "quant_scale": quant_scale,
    }
    codes = snap.read("codes")
    id_name = [
        c for c in codes.columns
        if c not in ("__cell", "pq_code", "__batch_id")
    ]
    index = codes.select(*id_name, "__cell", "pq_code")
    # tombstone filter (every probe sees only live vectors; the
    # literal id filter rides ABOVE the cell-pruned scan, so
    # partition pruning is unchanged). ``apply_deletes=False`` is the
    # ingest path's raw view — deleted ids stay "seen" for the
    # append-only id contract.
    if apply_deletes:
        index = snap.live(index, id_name[0])
    return index, coarse, books, meta


def ivfpq_append(
    new_vecs: DataFrame,
    path: str,
    vec_col: str,
    id_col: str,
    batch_id: int,
    assume_new_ids: bool = True,
) -> None:
    """Ingest a new vector batch into a stored IVF-PQ index: encode
    against the STORED quantizers (no retraining — coarse cells and
    codebooks stay fixed, the FAISS add-after-train contract) and
    write the codes as this batch's ``__batch_id`` delta. A 100 TB
    pipeline thus pays one map-only encode pass per batch instead of
    rebuilding cells and codebooks; redelivery of the same batch
    overwrites exactly its own partitions (see
    :func:`write_ivfpq_store`).

    ID CONTRACT (append-only ids): batches must carry ids the store
    has never seen — re-ingesting an existing ``id_col`` under a NEW
    ``__batch_id`` lands duplicate code rows, so the same id appears
    twice in every probe's candidate set. (Redelivery of the SAME
    batch_id is safe.) Set ``assume_new_ids=False`` to enforce it:
    the batch is anti-joined against the store's ids (one
    column-pruned scan of codes/) and only genuinely new vectors are
    encoded. Writes below the store's compaction horizon are rejected
    (see :func:`write_ivfpq_store`).
    """
    from docker_etl_spark.sources.stores import (
        reject_at_or_below_horizon,
        store_writer_lock,
        write_repartition,
    )

    spark = new_vecs.sparkSession
    # fail-fast pre-check; re-checked under the lease before the write
    reject_at_or_below_horizon(spark, path, batch_id, "ivfpq_append")
    # raw view (apply_deletes=False): a deleted id stays "seen", so
    # assume_new_ids=False filters re-ingests of purged ids — their
    # tombstone would exclude the new copy anyway
    _idx, coarse, books, meta = load_ivfpq_store(
        spark, path, apply_deletes=False
    )
    if not assume_new_ids:
        if id_col not in _idx.columns:
            raise ValueError(
                f"ivfpq_append: id_col={id_col!r} does not match the "
                f"store's id column (store columns: {_idx.columns})"
            )
        # Eager barrier (the search-store r9 ADVICE fix, applied
        # symmetrically): the anti-join reads codes/ — the same root
        # the write below dynamically overwrites. Materializing the
        # surviving batch first means no store scan is live during
        # the write.
        new_vecs = new_vecs.join(
            _idx.select(F.col(id_col)).distinct(), id_col, "left_anti"
        ).localCheckpoint()
    enc = ivfpq_encode(
        new_vecs, vec_col, id_col, coarse, books,
        quant_scale=meta["quant_scale"],
    )
    with store_writer_lock(path, owner="ivfpq_append"):
        reject_at_or_below_horizon(spark, path, batch_id, "ivfpq_append")
        (
            enc.select(
                F.col(id_col),
                F.col("pq_code"),
                F.col("__cell"),
                F.lit(batch_id).alias("__batch_id"),
            )
            # one file per cell directory — see write_ivfpq_store
            .transform(lambda d: write_repartition(d, ("__cell",)))
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy("__cell", "__batch_id")
            .parquet(path + "/codes")
        )


def ivfpq_topk_refined(
    queries: DataFrame,
    index: DataFrame,
    coarse: list[list[int]],
    codebooks: list[list[list[int]]],
    corpus_vecs: DataFrame,
    vec_col: str,
    query_id_col: str,
    corpus_id_col: str,
    topk: int = 3,
    refine_factor: int = 4,
    nprobe: int = 1,
    quant_scale: int = 1000,
    max_queries: int | None = 1024,
    prune_index_partitions: bool = False,
) -> DataFrame:
    """IVF-PQ search with an EXACT re-rank (the FAISS IVFPQR refine
    step): ADC distances are lossy (residuals quantized to m
    codewords), so production ANN takes the top ``topk *
    refine_factor`` ADC candidates and re-ranks them by exact
    distance on the ORIGINAL vectors — recall of the exact metric at
    a cost bounded by the candidate budget, not the corpus.

    Scale shape: the ADC stage is :func:`ivfpq_topk` (cell-pruned
    scan); the refine stage joins the BOUNDED candidate set
    (|Q|·topk·refine_factor rows, broadcast) against the vector
    table — one equi-join that fetches exactly the candidate rows —
    then one window per query. The corpus is never scanned at full
    dimensionality beyond those fetches.

    Output: (query_id_col, rank, neighbor_id, exact_dist) — exact
    integer squared L2 on the quantized grid, ties -> lower id.
    """
    from pyspark.sql import Window

    cand = ivfpq_topk(
        queries, index, coarse, codebooks, vec_col, query_id_col,
        topk=topk * refine_factor, nprobe=nprobe,
        quant_scale=quant_scale, max_queries=max_queries,
        prune_index_partitions=prune_index_partitions,
    ).select(F.col(query_id_col).alias("__qid"), "neighbor_id")
    quant = lambda c: F.transform(  # noqa: E731
        c, lambda x: F.floor(x.cast("double") * quant_scale).cast("bigint")
    )
    nv = corpus_vecs.select(
        F.col(corpus_id_col).alias("neighbor_id"),
        quant(F.col(vec_col)).alias("__nv"),
    )
    qv = queries.select(
        F.col(query_id_col).alias("__qid"), quant(F.col(vec_col)).alias("__qv")
    )
    fetched = nv.join(F.broadcast(cand), "neighbor_id").join(
        F.broadcast(qv), "__qid"
    )
    exact = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__nv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = fetched.select(
        "__qid", "neighbor_id", exact.cast("bigint").alias("exact_dist")
    )
    w = Window.partitionBy("__qid").orderBy(
        F.asc("exact_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("__qid").alias(query_id_col),
            "rank",
            "neighbor_id",
            "exact_dist",
        )
    )


def compact_ivfpq_store(spark, path: str, up_to_batch: int) -> dict:
    """Fold an IVF-PQ store's batch deltas with ``__batch_id <=
    up_to_batch`` into the base partition (``__batch_id = -1``) and
    right-size the files — after N streaming appends a cell probe
    lists N+1 directories and N+1 sets of footers; folding restores
    one directory per cell below the horizon while appends above it
    keep landing as deltas.

    Rides :func:`~docker_etl_spark.sources.stores.
    compact_partitioned_store`'s crash-recovering swap (temp write →
    backup rename → live rename, with roll-forward/roll-back
    recovery on entry), and takes the writer lease on the STORE ROOT
    — the same lock write/append use — so compaction serializes
    against concurrent ingest. Local stores only: any other path
    raises ``ValueError`` before anything is written.

    Trade (explicit): snapshots opened at a batch remain exact
    for horizons >= ``up_to_batch``; below it the per-batch
    granularity is intentionally collapsed into the base — pick the
    horizon as "older than any snapshot you still replay AND any
    batch the source can still redeliver".

    The horizon is RECORDED FIRST (a 1-row ``{path}/horizon``
    sidecar under the writer lease, before the fold) and
    :func:`write_ivfpq_store` / :func:`ivfpq_append` reject any
    ``batch_id`` at or below it — a redelivered folded batch would
    otherwise land duplicate code rows beside their folded copies
    (the search-store r9 ADVICE hazard). A crash between the horizon
    write and the fold leaves the guard active and the fold pending;
    re-running the compaction completes it.
    """
    from docker_etl_spark.sources.stores import (
        clear_tombstones,
        compact_partitioned_store,
        fold_below_horizon,
        open_store,
        record_horizon,
    )

    owner = "compact_ivfpq_store"
    record_horizon(spark, path, up_to_batch, owner)
    # tombstones at or below the horizon are applied PHYSICALLY here
    # (FAISS remove_ids semantics, the search-store recipe): the codes
    # fold anti-joins them and the applied entries are cleared from
    # the sidecar LAST
    snap = open_store(spark, path, as_of_batch=up_to_batch)
    del_ids = snap.tombstones
    res = compact_partitioned_store(
        spark,
        path + "/codes",
        ("__cell", "__batch_id"),
        owner=owner,
        transform=lambda df: fold_below_horizon(
            df,
            up_to_batch,
            del_ids,
            next(
                c for c in df.columns
                if c not in ("__cell", "pq_code", "__batch_id")
            ),
        ),
        lock_path=path,
        schema=snap.schemas["codes"],
    )
    if del_ids is not None:
        clear_tombstones(spark, path, up_to_batch, owner)
    return res
