"""Plan-shape pins for the LLM-ops scale paths on the MULTI-FILE layout
(the realistic production lake shape, unlike the driver fixtures'
single-row-group files): the shuffle structure must be CONSTANT in data
size — the same exchange count at 1x and 2x — and the native multi-file
path must never take the `_ensure_parallel` repartition shim.

These pin the plan shapes whose wall-clock behavior scale_harness.py
measures (results recorded in SCALING.md).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from scale_harness import TABLES, _shard

#: the five LLM-ops scale paths from the round-5 verdict's top task
SCALE_OPS = [
    "d07_minhash_lsh_pairs",
    "d13_canonical_corpus",
    "d14_canonical_corpus_lsh",
    "x29_contamination_check",
    "e03_similar_pairs_lsh",
    "e04_knn_ivf",
    # round-8: the two-phase token-budget mix — its shuffle structure
    # (bounds agg, tiny partials/offsets, one doc-row exchange) must
    # stay constant in data size like every other scale path
    "x35_token_budget_mix",
]

#: gram-window text ops: pinned for exchange-count constancy only —
#: on the 4-file fixture their `_ensure_parallel` scan shim fires by
#: design (4 files/row-groups < half the 32 local cores), so the
#: no-Repartition check doesn't apply; on production multi-file
#: layouts the shim no-ops (its own unit tests cover that)
GRAM_OPS = ["d19_duplicate_passages", "d22_substring_dedup"]

from spaceparts_data_pipeline_spark.queries import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def scale_dirs(spark, sf_small, tmp_path_factory):
    """1x and 2x multi-file layouts synthesized exactly like
    scale_harness.py (shared `_shard` transforms), 4 files per table."""
    base = tmp_path_factory.mktemp("scale_plans")
    dirs = {}
    for scale, n_shards in (("x1", 1), ("x2", 2)):
        out = str(base / scale)
        for t in TABLES:
            src = spark.read.parquet(os.path.join(sf_small, f"{t}.parquet"))
            df = _shard(src, t, 0)
            for s in range(1, n_shards):
                df = df.unionByName(_shard(src, t, s))
            df.repartition(4).write.mode("overwrite").parquet(
                os.path.join(out, f"{t}.parquet"))
        dirs[scale] = out
    return dirs


def _exchanges(spark, name, sf_dir):
    plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning"), plan


@pytest.mark.parametrize("name", SCALE_OPS + GRAM_OPS)
def test_exchange_count_constant_in_data_size(spark, scale_dirs, name):
    n1, p1 = _exchanges(spark, name, scale_dirs["x1"])
    n2, p2 = _exchanges(spark, name, scale_dirs["x2"])
    assert n1 == n2, f"{name}: shuffle structure grew with data ({n1} -> {n2})"
    # cost must grow with data, never with plan depth: no range-partition
    # global sorts hiding in either plan
    for p in (p1, p2):
        assert "Exchange rangepartitioning" not in p


@pytest.mark.parametrize("name", SCALE_OPS)
def test_multifile_layout_never_takes_parallelize_shim(spark, scale_dirs, name):
    """On a >=2-file layout the `_maybe_parallelize`/`_ensure_parallel`
    shim (a Repartition fix-up for single-row-group test files) must
    no-op: the scan parallelism comes from the files themselves."""
    df = QUERIES[name](spark, scale_dirs["x2"])
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "Repartition" not in analyzed, name


def test_x35_no_bare_source_window(spark, scale_dirs):
    """The two-phase token_budget_mix (round-7 verdict #3): the window
    that carries DOCUMENT rows must partition on (source, __sub), never
    on bare `source` ordered by the doc id — that shape sorts an entire
    source on ONE reducer (the web-crawl source is most of a 100 TB
    corpus). The only bare-source window allowed is the offsets prefix
    sum over the tiny partials frame, which orders by __sub, not doc_id.
    """
    import re

    plan = QUERIES["x35_token_budget_mix"](
        spark, scale_dirs["x2"])._jdf.queryExecution().executedPlan().toString()
    bad = re.findall(r"windowspecdefinition\(source#\d+, doc_id#\d+", plan)
    assert not bad, f"bare-source window over doc rows: {bad}"
    # and the doc-row window really is sub-sharded
    assert re.search(r"windowspecdefinition\(source#\d+, __sub#\d+, doc_id#\d+", plan), plan
    # empirical spread: the sort work must land on MORE reducers than
    # there are sources (the naive plan caps non-empty partitions at the
    # source cardinality; (source, __sub) keys spread over the full
    # shuffle width). AQE's partition coalescing is disabled for the
    # materialization — on KB-sized test data it folds everything into
    # one partition and would measure the fixture, not the plan.
    # (an uncapped budget keeps every sub-shard's rows — the driver
    # query's small budget would leave only each source's first
    # sub-shard after the filter and measure the output, not the sort)
    from spaceparts_data_pipeline_spark.operators import text

    docs = spark.read.parquet(
        os.path.join(scale_dirs["x2"], "documents.parquet"))
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        df = text.token_budget_mix(docs, default_budget=10**12)
        n_sources = docs.select("source").distinct().count()
        non_empty = sum(
            1 for n in df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
            if n > 0)
    finally:
        spark.conf.set(coalesce_key, prior)
    assert non_empty > n_sources, (n_sources, non_empty)


def test_shard_transforms_preserve_within_shard_structure(spark, sf_small):
    """The harness's embedding shard transform is an orthogonal ±1
    diagonal — within-shard cosines must be EXACTLY the 1x cosines, so
    measured per-shard work is the 1x work (the fixture scales the
    corpus, not the similarity structure)."""
    e = spark.read.parquet(os.path.join(sf_small, "embeddings.parquet")).limit(10)
    s1 = _shard(e, "embeddings", 1)
    dot = F.aggregate(
        F.zip_with("a", "b", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)
    def pair_dots(df):
        a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("a"))
        b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("b"))
        rows = (a.crossJoin(b).filter(F.col("ia") < F.col("ib"))
                .select((F.col("ia") % 1000).alias("ia"), (F.col("ib") % 1000).alias("ib"),
                        F.round(dot, 4).alias("d")).collect())
        return {(r["ia"], r["ib"]): r["d"] for r in rows}
    assert pair_dots(s1) == pair_dots(e.select("vec_id", "embedding"))


def test_scale_share_reads_footers_under_a_path_with_a_space(spark, tmp_path):
    """``inputFiles()`` returns percent-encoded URIs (``a%20b``): the
    footer probe must decode them, or every local layout under a
    directory with a space silently loses the share. One file holding
    one row group per core reaches the flip point only through the
    footer read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from spaceparts_data_pipeline_spark.operators.lineage import scale_share

    cores = spark.sparkContext.defaultParallelism
    root = tmp_path / "a b"
    root.mkdir()
    pq.write_table(pa.table({"x": list(range(cores * 10))}),
                   str(root / "part-0.parquet"), row_group_size=10)
    df = spark.read.parquet(str(root))
    assert "%20" in df.inputFiles()[0]
    assert scale_share(df, mode="auto") is True
