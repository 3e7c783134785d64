"""Shared fixtures: one local SparkSession, a DuckDB oracle, a
background oracle prefetch pool, and a per-session query-frame cache.

The suite's wall-clock is dominated by two redundancies (r13 VERDICT
item #1 — the driver's pytest run must COMPLETE inside its budget):

- The quadratic DuckDB oracles (x12's LSH self-join, the dedup
  clusters) cost tens of seconds each and run strictly serially with
  the Spark side idle. :class:`OraclePool` computes every collected
  differential tier's oracle results on a small background thread
  pool (DuckDB releases the GIL), overlapping ground-truth derivation
  with the Spark-side tests. Every oracle is still computed fresh
  WITHIN the run — nothing is cached across runs.
- Registry query frames were built (stores rebuilt, plans analyzed)
  up to three times each: once for the plan pins, once for the
  no-cartesian sweep, once for the differential compare. The
  session-scoped :func:`qdf` cache builds each (query, sf_dir) frame
  exactly once; the plan tests inspect the same frame the
  differential test executes.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from docker_etl_spark.queries import ORACLES, QUERIES
from docker_etl_spark.session import get_spark
from docker_etl_spark.sources.io import TESTDATA_TABLES

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_HEAVY = "/root/testdata/sf0.01"

#: oracle names actually collected per tier (set during collection so
#: a filtered run, e.g. -k p01, never burns CPU prefetching oracles no
#: test will consume)
_COLLECTED_ORACLES: dict[str, set[str]] = {"smoke": set(), "heavy": set()}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "sf001: heavy-kernel differential tier at driver scale (sf0.01); "
        'deselect with -m "not sf001" while iterating',
    )


def _oracle_slot(item) -> tuple[str, str] | None:
    """(tier, oracle name) of a differential test item, else None."""
    if "[" not in item.nodeid:
        return None
    param = item.nodeid.rsplit("[", 1)[1].rstrip("]")
    if param not in ORACLES:
        return None
    if "test_queries_differential.py::test_query_matches_oracle" in item.nodeid:
        return "smoke", param
    if "test_sf001_heavy" in item.nodeid:
        return "heavy", param
    return None


def pytest_collection_modifyitems(config, items):
    for it in items:
        slot = _oracle_slot(it)
        if slot is not None:
            _COLLECTED_ORACLES[slot[0]].add(slot[1])


def pytest_deselected(items):
    """``-m``/``-k`` deselect after collection registered the items'
    oracles; drop those so a ``-m "not sf001"`` run never computes
    the heavy oracles in the background (each tier holds one item
    per oracle name)."""
    for it in items:
        slot = _oracle_slot(it)
        if slot is not None:
            _COLLECTED_ORACLES[slot[0]].discard(slot[1])


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="docker-etl-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        # the qdf frame cache keeps localCheckpoint blocks and
        # broadcast pieces referenced for the session; the default
        # 1 GB local-mode heap exhausts its storage region late in
        # the run (TorrentBroadcast store failures) — give the test
        # driver real memory (driver == executor in local mode)
        extra_conf={"spark.driver.memory": "6g", "spark.sql.adaptive.enabled": "false"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the test tables registered as views —
    the same registration the driver's correctness harness uses."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _run_oracle(sf_dir: str, sql: str):
    """One oracle on its own connection (DuckDB connections are not
    thread-safe to share; separate connections run independently).
    Per-connection thread cap keeps N concurrent oracles from
    oversubscribing the box the Spark tests also run on."""
    con = duckdb.connect()
    try:
        con.execute(
            "SET threads TO "
            + os.environ.get("SPARK_GRAFT_TEST_ORACLE_DUCK_THREADS", "4")
        )
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


class OraclePool:
    """Background DuckDB oracle evaluation: submit early, block only
    when a test needs its result. Results are per-(sf_dir, name) and
    live for the session; everything is recomputed next run."""

    def __init__(self):
        self._pool = ThreadPoolExecutor(
            max_workers=int(
                os.environ.get("SPARK_GRAFT_TEST_ORACLE_WORKERS", "6")
            ),
            thread_name_prefix="oracle-prefetch",
        )
        self._futs: dict[tuple[str, str], object] = {}

    def submit(self, sf_dir: str, name: str):
        key = (sf_dir, name)
        if key not in self._futs:
            self._futs[key] = self._pool.submit(
                _run_oracle, sf_dir, ORACLES[name]
            )
        return self._futs[key]

    def submit_many(self, sf_dir: str, names):
        for n in names:
            self.submit(sf_dir, n)

    def result(self, sf_dir: str, name: str):
        return self.submit(sf_dir, name).result()

    def shutdown(self):
        self._pool.shutdown(wait=False, cancel_futures=True)


@pytest.fixture(scope="session")
def oracle_pool():
    pool = OraclePool()
    pool.submit_many(SF_SMOKE, sorted(_COLLECTED_ORACLES["smoke"]))
    pool.submit_many(SF_HEAVY, sorted(_COLLECTED_ORACLES["heavy"]))
    yield pool
    pool.shutdown()


@pytest.fixture(scope="session", autouse=True)
def _start_oracle_prefetch(request):
    """Kick the prefetch off at session start (first test), not when
    the differential modules are finally reached."""
    if _COLLECTED_ORACLES["smoke"] or _COLLECTED_ORACLES["heavy"]:
        request.getfixturevalue("oracle_pool")
    yield


@pytest.fixture(scope="session")
def qdf(spark):
    """Session cache of built registry query frames: ``qdf(name)`` /
    ``qdf(name, sf_dir)``. Building a store-lifecycle query IS the
    expensive part (the store writes run at build time); the plan
    pins, the no-cartesian sweep and the differential compare all
    inspect/execute the same frame instead of rebuilding the store
    three times. Each (name, sf_dir) still builds fresh every run.

    ``evict=True`` (the differential tiers — the LAST consumer of
    almost every frame) pops the entry after returning it, releasing
    the frame's localCheckpoint blocks to the session instead of
    pinning all ~220 queries' RDDs until exit."""
    cache: dict[tuple[str, str], object] = {}

    def get(name: str, sf_dir: str = SF_SMOKE, evict: bool = False):
        key = (name, sf_dir)
        if key in cache:
            return cache.pop(key) if evict else cache[key]
        df = QUERIES[name](spark, sf_dir)
        if not evict:
            cache[key] = df
        return df

    return get
