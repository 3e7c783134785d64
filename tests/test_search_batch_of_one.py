"""Single-query search probes as batches of one, and the store and
session invariants that ride with them: the duplicate-term rule the
single probes now share with their batch twins, the driver-direct
dictionary compaction's fold-group guard, and AQE staying on in every
session the engine builds for production use."""

import ast
import glob
import os
from pathlib import Path

from pyspark.sql import functions as F

_ROWS = [
    (1, "hash join window hash"),
    (2, "vector hash index probe"),
    (3, "window join join window scan"),
    (4, "totally unrelated words here"),
    (5, "hash hash hash vector"),
    (6, "join vector window vector"),
    (7, "zebra crossing join"),
    (8, "zebra stripes hash"),
]


def _store(spark, tmp_path, name, rows=_ROWS, split=4):
    from docker_etl_spark.operators.search import (
        build_postings,
        write_search_index,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / name)
    for bid, part in enumerate(
        (df.filter(F.col("doc_id") <= split), df.filter(F.col("doc_id") > split))
    ):
        p, s = build_postings(part, "text", "doc_id")
        write_search_index(p, s, path, batch_id=bid)
    return path


def test_single_probe_counts_a_repeated_term_once(spark, tmp_path):
    """A repeated query term must not double its score: the single
    probes follow their batch twins' dedupe rule."""
    from docker_etl_spark.operators.search import (
        search_bm25_topk,
        search_bm25_topk_pruned,
    )

    path = _store(spark, tmp_path, "dup")
    for probe in (search_bm25_topk, search_bm25_topk_pruned):
        once = [tuple(r) for r in probe(spark, path, ("hash", "join"), k=8).collect()]
        twice = [
            tuple(r)
            for r in probe(spark, path, ("hash", "hash", "join"), k=8).collect()
        ]
        assert twice == once and len(once) > 0, probe.__name__


def test_dict_compaction_skips_fileless_leftover_batch_dir(spark, tmp_path):
    """A crashed partial dictionary write can leave an at-or-below-
    horizon batch directory with no data file. The driver-direct fold
    forms no fold group from it, so it must not count the directory
    as covering its prefix: the compacted dictionary has to equal the
    one the Spark fold recomputes from the surviving postings."""
    from docker_etl_spark.operators.search import (
        compact_search_index,
        delete_from_search_index,
        read_search_dictionary,
    )

    path = _store(spark, tmp_path, "leftover", split=6)
    # 'zebra' (prefix 'ze') lives only in batch 1; drop that batch's
    # dictionary files but keep the directory
    leftover = os.path.join(path, "dict", "__pfx=ze", "__batch_id=1")
    files = glob.glob(os.path.join(leftover, "*"))
    assert any(f.endswith(".parquet") for f in files)
    for f in files:
        os.remove(f)
    delete_from_search_index(spark, path, [2], batch_id=2)
    compact_search_index(spark, path, up_to_batch=2)

    got = {
        tuple(r)
        for r in read_search_dictionary(spark, path)
        .select("term", "df", "sum_tf", "max_tf")
        .collect()
    }
    want = {
        tuple(r)
        for r in spark.read.parquet(path + "/postings")
        .groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("tf").cast("long").alias("max_tf"),
        )
        .collect()
    }
    assert "zebra" in {t for t, *_ in want}
    assert got == want


def test_engine_sessions_keep_aqe_on():
    """The test session turns AQE off (conftest), so no plan pin can
    notice if the engine's own sessions lost it: the engine defaults
    enable AQE, and the bench and driver entry points pass no conf
    that turns it off."""
    from docker_etl_spark import session

    assert session._ENGINE_DEFAULTS["spark.sql.adaptive.enabled"] == "true"
    repo = Path(__file__).resolve().parents[1]
    key = "spark.sql.adaptive.enabled"
    for name in ("bench.py", "__spark_entry__.py"):
        tree = ast.parse((repo / name).read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                pairs = zip(node.keys, node.values)
            elif isinstance(node, ast.Call) and len(node.args) >= 2:
                pairs = [(node.args[0], node.args[1])]
            else:
                continue
            for k, v in pairs:
                if isinstance(k, ast.Constant) and k.value == key:
                    assert isinstance(v, ast.Constant), (name, ast.dump(v))
                    assert str(v.value).lower() == "true", (name, v.value)
