"""The benchmark's workloads: seeded operation streams over the
engine's public functions, each op's output checked after the timed
phase.

An :class:`Op` is one closed-loop client request.  Frame-returning
calls are timed from the call into the engine until their rows are
collected (``build`` ends when the public function returns the
frame, ``action`` when the rows are in the driver); eager calls are
timed until they return.  Each workload yields *passes* — op lists
of fixed composition — and the runner repeats passes until the
run's seconds are spent, always finishing the pass it is in.
"""

from __future__ import annotations

import glob
import os
import random
import re
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

import datagen


@dataclass
class Op:
    kind: str  # op type, e.g. "query", "append", "search_bm25_topk"
    side: str  # "read" or "write"
    call: Callable[[], Any]
    frame: bool = False  # call() returns a DataFrame to collect
    label: str = ""
    # result -> error message or None; checks run after the timed
    # phase, in op order
    check: Callable[[Any], str | None] | None = None
    result: Any = None
    error: str | None = None
    t_build: float = 0.0
    t_total: float = 0.0
    input_bytes: int = 0
    diag: dict | None = None  # the engine's ``_diag`` record of the call
    span: int = -1  # root span id (traced run)
    files_created: int = 0  # traced run


class Steps(dict):
    """Named setup-step durations, for the run's diagnostics line."""

    def __call__(self, name: str, fn: Callable[[], Any]) -> Any:
        t = time.perf_counter()
        r = fn()
        self[name] = self.get(name, 0.0) + time.perf_counter() - t
        return r


def warm_python_workers(spark) -> None:
    """Fork the Python worker pool up front: one no-op pandas stage
    across every task slot."""
    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par * 4, numPartitions=par)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def collect_rows(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


# ---------------------------------------------------------------------------
# relational: read-only registry queries
# ---------------------------------------------------------------------------

#: registry families the workload draws from — short analytic
#: queries that touch no persisted store
_FAMILIES = set("a an c co cd d dq dr e f fi g gd h j o p pd pr s sq u w".split())
#: queries whose sf0.1 result exceeds 20k rows: collecting them times
#: the Python client, not the engine
_LARGE_RESULTS = {
    "d07_scd2_intervals", "f01_date_family", "f03_user_story_parse",
    "u01_orders_unpivot", "w02_one_per_timestamp", "w05_share_of_day",
    "w08_sessionization",
}
_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


def relational_queries() -> tuple[list[str], str]:
    """(the timed query set, the warm-up query): every fourth eligible
    registry query by name, so each run executes the same set."""
    from docker_etl_spark.queries import ORACLES, QUERIES

    eligible = sorted(
        n for n in QUERIES
        if re.match(r"[a-z]+", n).group() in _FAMILIES
        and n in ORACLES and n not in _LARGE_RESULTS
    )
    return eligible[::4], eligible[1]


class Relational:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = os.path.join(work, "inputs", "sf0.1")
        self.steps = Steps()

    def make_inputs(self) -> None:
        datagen.write_tables(self.seed, self.sf_dir)

    def setup(self) -> None:
        from docker_etl_spark.queries import QUERIES

        self.names, warm_q = relational_queries()
        self.steps("warm_workers", lambda: warm_python_workers(self.spark))
        self.steps("warm_query", lambda: QUERIES[warm_q](self.spark, self.sf_dir).collect())

    def passes(self, rng: random.Random) -> Iterator[list[Op]]:
        from docker_etl_spark.queries import QUERIES

        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield [
                Op("query", "read",
                   (lambda q=q: QUERIES[q](self.spark, self.sf_dir)),
                   frame=True, label=q, check=self._checker(q))
                for q in order
            ]

    def _checker(self, q: str):
        def check(result) -> str | None:
            from tests.oracle import normalize

            cols, rows = result
            d_cols, d_rows = self._oracle(q)
            if sorted(cols) != sorted(d_cols):
                return f"{q}: columns {sorted(cols)} != {sorted(d_cols)}"
            if normalize(rows, cols) != normalize(d_rows, d_cols):
                return f"{q}: rows differ from the DuckDB oracle"
            return None

        return check

    def _oracle(self, q: str):
        from docker_etl_spark.queries import ORACLES
        from tests.oracle import duck_result

        if not hasattr(self, "_con"):
            import duckdb

            self._con = duckdb.connect(config={"threads": 2})
            for t in _TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
        return duck_result(self._con, ORACLES[q])

    def store_dirs(self) -> list[str]:
        # the registry's temporary stores land under the run's TMPDIR
        return [os.path.join(self.work, "tmp")]

    def close(self) -> None:
        if hasattr(self, "_con"):
            self._con.close()


# ---------------------------------------------------------------------------
# store_lifecycle: a search index and a curation stream, read and written
# ---------------------------------------------------------------------------

_APPEND_DOCS = 250
_DELETE_DOCS = 25
_STREAM_DOCS = 500
_STREAM_WARM_DOCS = 100
BATCH_QUERIES = 16
#: the curation sink compacts its stores on every second micro-batch:
#: setup feeds batch 0 (plain), so the first cycle's batch compacts
_STREAM_COMPACT_EVERY = 2


def _terms(rng: random.Random) -> tuple[str, ...]:
    """1–4 distinct terms from the whole indexed vocabulary."""
    return tuple(rng.sample(datagen.INDEXED_VOCAB, rng.randint(1, 4)))


def _mixed_terms(rng: random.Random) -> tuple[str, ...]:
    """One common term and 1–3 rare ones, in seeded order: a query
    with a MaxScore split, so the pruned probes take the pruned plan."""
    q = [rng.choice(datagen.COMMON_TERMS)] + rng.sample(datagen.RARE_TERMS, rng.randint(1, 3))
    rng.shuffle(q)
    return tuple(q)


def _misspell(rng: random.Random, term: str) -> str:
    i = rng.randrange(len(term))
    return term[:i] + rng.choice("xqz") + term[i + 1:]


@dataclass
class _Ledger:
    """What the workload submitted, to check outputs against."""

    live: set[int] = field(default_factory=set)  # every id ingested
    deleted: set[int] = field(default_factory=set)
    stream_texts: dict[int, str] = field(default_factory=dict)
    results: dict[str, Any] = field(default_factory=dict)


class StoreLifecycle:
    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.stores = os.path.join(work, "stores")
        self.index = os.path.join(self.stores, "index")
        self.curation = os.path.join(self.stores, "curation")
        self.docs_path = os.path.join(work, "inputs", "documents.parquet")
        self.ledger = _Ledger()
        self.np_rng = None
        self.batch_id = 0
        self.stream_batch = 0
        self.next_id = 0
        self.steps = Steps()

    # -- inputs ------------------------------------------------------------
    def make_inputs(self) -> None:
        import numpy as np

        self.np_rng = np.random.default_rng([self.seed, 0x5709E])
        docs = datagen.documents(self.np_rng, datagen.SF01["documents"])
        os.makedirs(os.path.dirname(self.docs_path), exist_ok=True)
        pq.write_table(docs, self.docs_path)
        self.next_id = docs.num_rows
        self.ledger.live.update(docs["doc_id"].to_pylist())

    def _new_docs(self, n: int) -> pa.Table:
        t = datagen.documents(self.np_rng, n, first_id=self.next_id)
        self.next_id += n
        return t

    def _stream_docs(self, n: int = _STREAM_DOCS) -> pa.Table:
        """A micro-batch: fresh documents plus near and exact copies of
        documents from this and earlier micro-batches."""
        t = self._new_docs(n)
        texts = t["text"].to_pylist()
        seen = list(self.ledger.stream_texts.values())
        pool_rng = random.Random(int(self.np_rng.integers(1 << 30)))
        for i in range(n):
            r = pool_rng.random()
            pool = seen + texts[:i]
            if r < 0.05 and pool:
                texts[i] = pool_rng.choice(pool) + " dup"
            elif r < 0.10 and pool:
                texts[i] = pool_rng.choice(pool)
        ids = t["doc_id"].to_pylist()
        self.ledger.stream_texts.update(zip(ids, texts))
        return t.set_column(1, "text", pa.array(texts)).set_column(
            4, "n_chars", pa.array([len(x) for x in texts], pa.int64())
        )

    def _frame(self, t: pa.Table):
        return self.spark.createDataFrame(t.to_pandas())

    # -- setup -------------------------------------------------------------
    def setup(self) -> None:
        from docker_etl_spark.operators import search as S
        from docker_etl_spark.streaming import curation_stream

        def build_index() -> None:
            docs = self.spark.read.parquet(self.docs_path)
            p, s = S.build_positional_postings(docs, "text", "doc_id")
            S.write_search_index(p, s, self.index, batch_id=0, positional=True)

        def warm_probes() -> None:
            # throwaway probes of the read types whose first call is
            # markedly slower than later ones
            for op in self._probes(random.Random(self.seed)):
                if op.kind in ("search_bm25_topk", "phrase_search_topk"):
                    op.call().collect()

        self.sink = curation_stream(
            self.curation + "/digests", self.curation + "/sigs",
            self.curation + "/out", digest_prefix_chars=1,
            compact_every=_STREAM_COMPACT_EVERY,
        )
        self.steps("index", build_index)
        self.steps("warm_probes", warm_probes)
        # A small first micro-batch lands in setup: it forks the Python
        # worker pool, warms the curation path and gives the timed
        # batches non-empty stores.
        first = self._frame(self._stream_docs(_STREAM_WARM_DOCS))
        self.steps("stream", lambda: self.sink(first, 0))
        self.batch_id = 1
        self.stream_batch = 1

    # -- ops ---------------------------------------------------------------
    def _probes(self, rng: random.Random) -> list[Op]:
        from docker_etl_spark.operators import search as S
        from tests.oracle import normalize

        sp, idx, led = self.spark, self.index, self.ledger
        q = _mixed_terms(rng)
        # common terms, so the pair occurs next to each other somewhere
        phrase = tuple(rng.sample(datagen.COMMON_TERMS, 2))
        fuzzy = _misspell(rng, rng.choice(datagen.INDEXED_VOCAB))
        batch = [(i, list(_terms(rng))) for i in range(BATCH_QUERIES)]
        batch[0] = (0, list(q))
        # the batch records each query's plan here without launching a
        # job (the single probe's ``_diag`` would add two count jobs)
        batch_diag: dict = {}

        def qframe():
            return sp.createDataFrame(batch, "query_id int, terms array<string>")

        def keep(key):
            def check(result):
                led.results[key] = result
                return None
            return check

        def same_as(key, what):
            def check(result):
                other = led.results.get(key)
                if other is None:
                    return f"{what}: reference result missing"
                if normalize(result[1], result[0]) != normalize(other[1], other[0]):
                    return f"{what}: differs from {key}"
                return None
            return check

        def batch_has_single(result):
            """Query 0 of the batch equals the single-query probe, and
            took the pruned plan: the same split and the same θ test
            as the single pruned probe, on the same index state."""
            if "0" not in batch_diag.get("valid", ()):
                return ("batch: query 0 was not pruned "
                        f"({batch_diag.get('reason') or 'validity check failed'})")
            cols, rows = result
            single = led.results.get("topk")
            if single is None:
                return "batch: single-query result missing"
            s_cols, s_rows = single
            pick = [cols.index(c) for c in s_cols]
            qi = cols.index("query_id")
            mine = [tuple(r[j] for j in pick) for r in rows if r[qi] == 0]
            if normalize(mine, s_cols) != normalize(s_rows, s_cols):
                return "batch: query 0 differs from the single-query probe"
            return None

        def nonempty(what):
            def check(result):
                return None if result[1] else f"{what}: no rows"
            return check

        return [
            Op("search_bm25_topk", "read", lambda: S.search_bm25_topk(sp, idx, q),
               frame=True, check=keep("topk")),
            Op("search_bm25_topk_pruned", "read",
               lambda: S.search_bm25_topk_pruned(sp, idx, q),
               frame=True, check=same_as("topk", "pruned")),
            Op("search_bm25_topk_batch_pruned", "read",
               lambda: S.search_bm25_topk_batch_pruned(qframe(), idx, _diag=batch_diag),
               frame=True, check=batch_has_single, diag=batch_diag),
            Op("phrase_search_topk", "read",
               lambda: S.phrase_search_topk(sp, idx, phrase), frame=True,
               check=nonempty(f"phrase {phrase}")),
            Op("fuzzy_term_suggest", "read",
               lambda: S.fuzzy_term_suggest(sp, idx, fuzzy), frame=True,
               check=nonempty(f"fuzzy {fuzzy}")),
        ]

    def passes(self, rng: random.Random) -> Iterator[list[Op]]:
        while True:
            yield self._cycle(rng)

    def _cycle(self, rng: random.Random) -> list[Op]:
        """One lifecycle cycle. Every op's inputs are made here, before
        the cycle runs, so no op's timing includes them."""
        from docker_etl_spark.operators import search as S

        sp, idx, led = self.spark, self.index, self.ledger
        ops: list[Op] = []

        new = self._new_docs(_APPEND_DOCS)
        new_df = self._frame(new)
        append_batch = self.batch_id
        self.batch_id += 1

        led.live.update(new["doc_id"].to_pylist())
        ops.append(Op("append_search_index", "write",
                      lambda: S.append_search_index(new_df, idx, batch_id=append_batch),
                      input_bytes=new.nbytes))

        victims = rng.sample(sorted(led.live - led.deleted), _DELETE_DOCS)
        led.deleted.update(victims)
        delete_batch = self.batch_id
        self.batch_id += 1
        ops.append(Op("delete_from_search_index", "write",
                      lambda: S.delete_from_search_index(sp, idx, victims, batch_id=delete_batch)))
        ops.extend(self._probes(rng))

        mb = self._stream_docs()
        mb_df = self._frame(mb)
        mb_id = self.stream_batch
        self.stream_batch += 1
        ops.append(Op("curation_micro_batch", "write",
                      lambda: self.sink(mb_df, mb_id), input_bytes=mb.nbytes,
                      check=lambda _: self._survivors_check(mb_id)))

        horizon = self.batch_id - 1
        ops.append(Op("compact_search_index", "write",
                      lambda: S.compact_search_index(sp, idx, up_to_batch=horizon)))
        live = len(led.live - led.deleted)
        ops.append(Op("search_index_census", "read",
                      lambda: S.search_index_census(sp, idx), frame=True,
                      check=lambda r: self._census_check(r, live)))
        return ops

    @staticmethod
    def _census_check(result, live: int) -> str | None:
        cols, rows = result
        n_docs = rows[0][cols.index("n_docs")]
        return None if n_docs == live else f"census: n_docs {n_docs} != live {live}"

    def _survivors_check(self, batch: int) -> str | None:
        """The micro-batch's survivors exclude every injected exact
        duplicate: each surviving text is held by its lowest-id copy
        among all documents streamed so far."""
        files = glob.glob(os.path.join(self.curation, "out", f"__batch_id={batch}", "*.parquet"))
        if not files:
            return f"stream batch {batch}: no survivors written"
        first: dict[str, int] = {}
        for i, x in sorted(self.ledger.stream_texts.items()):
            first.setdefault(x, i)
        for f in files:
            t = pq.read_table(f, columns=["doc_id", "text"])
            for i, x in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
                if first[x] != i:
                    return f"stream batch {batch}: survivor {i} duplicates {first[x]}"
        return None

    def store_dirs(self) -> list[str]:
        return [self.stores]

    def close(self) -> None:
        pass


WORKLOADS = {"relational": Relational, "store_lifecycle": StoreLifecycle}


def file_set(paths) -> set[str]:
    return {os.path.join(r, n) for p in paths for r, _, names in os.walk(p) for n in names}


def dir_bytes(paths) -> int:
    """Bytes on disk under ``paths``."""
    total = 0
    for f in file_set(paths):
        try:
            total += os.path.getsize(f)
        except OSError:
            pass
    return total
