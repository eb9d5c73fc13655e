"""The workloads: what one op is, and the untimed checks of its outputs.

``setup`` generates a workload's inputs, loads them and checks the load;
``prepare`` readies the next op (untimed); ``op`` is the timed unit of
work; ``check`` compares an op's result with what the generator injected
and returns the mismatches; ``finish`` runs the end-of-run checks. Every
call into the engine goes through the package's public entry points.
Import this module only after the package is importable (run.py).
"""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gen
from spaceparts_data_pipeline_spark.operators.dedup import META_COLUMNS
from spaceparts_data_pipeline_spark.plans import gold, runner
from spaceparts_data_pipeline_spark.queries import all_oracles, all_queries
from spaceparts_data_pipeline_spark.streaming.incremental import (
    effective_watermark, run_incremental_pipeline,
)

#: fact rows in the landing's base load
N_INVOICES = 20_000
#: bench.py's 11 HEADLINE queries plus the composed corpus funnel
QUERY_MIX = (
    "q01_pricing_summary", "q03_top_revenue_orders", "q04_flagship_sales_eur",
    "q05_dedup_latest_events", "q16_budget_variance_monthly",
    "p01_silver_events_pipeline", "d04_text_quality", "d07_minhash_lsh_pairs",
    "e01_knn_topk", "e05_knn_topk_vectorized", "e03_similar_pairs_lsh",
    "c01_corpus_funnel",
)


def gold_hash(spark, table: str) -> tuple[int, int]:
    """(rows, order-insensitive value hash) of a gold table, over every
    column except the per-run stamps (operators.dedup.META_COLUMNS)."""
    df = spark.table(table)
    cols = sorted(c for c in df.columns if c not in META_COLUMNS)
    h = F.xxhash64(*[F.coalesce(F.col(c).cast("string"), F.lit("\x00null")) for c in cols])
    row = df.agg(F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)"))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def _statuses(tree, path="") -> list[str]:
    """Every non-success status in a pipeline result, with its path."""
    bad = []
    if isinstance(tree, dict):
        st = tree.get("status")
        if st is not None and st != "success":
            bad.append(f"{path or 'run'}: {st} {str(tree.get('error', ''))[:200]}")
        for k, v in tree.items():
            if isinstance(v, dict):
                bad.extend(_statuses(v, f"{path}.{k}" if path else k))
    return bad


class IncrementalRound:
    """One op = one incremental round over a seeded delta appended to
    ``fact_invoices`` as a new file: bronze and silver through
    ``run_incremental_pipeline``, then gold's keyed MERGE of
    ``gold_fact_sales`` at watermark = the round's start
    (``lookback_days=0``), so gold merges only that round's changes.
    ``run_incremental_pipeline`` would merge every gold model, and the
    landing holds only the sales star, so gold is called directly with
    that one model (``skip_gold=True`` + ``plans.gold.run_incremental``)."""

    name = "incremental_round"
    #: untimed rounds after the base load. The first round also merges
    #: the full delta once (see ``check``); a cold JVM runs it slower.
    warm_ops = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.landing = gen.SalesLanding(os.path.join(work, "landing"), seed, N_INVOICES)
        self.models = [m for m in gold.MODELS if m.name == "gold_fact_sales"]
        self.delta_bytes: list[int] = []

    def _sources(self, tables=None):
        return {t: self.spark.read.parquet(os.path.join(self.landing.root, t))
                for t in tables or sorted(os.listdir(self.landing.root))}

    def setup(self) -> list[str]:
        """Base load through the incremental path's first run (bronze full
        extraction, first silver write, gold's full-refresh fallback)."""
        base = self.landing.write_base()
        res = run_incremental_pipeline(self.spark, self._sources(), skip_gold=True)
        res["gold"] = gold.run_incremental(self.spark, dt.datetime.now(), models=self.models)
        bad = _statuses(res)
        rows, _ = gold_hash(self.spark, "gold_fact_sales")
        if rows != base["gold_rows"]:
            bad.append(f"base load: gold_fact_sales rows {rows} != expected {base['gold_rows']}")
        return bad

    def prepare(self) -> None:
        """Write the next round's delta; note the quarantine sink's size."""
        self.round = self.landing.write_round()
        self.delta_bytes.append(self.round["delta_bytes"])
        self.sink_rows = self.spark.table("silver_quarantine_fact_invoices").count()

    def op(self, tracer=None):
        now = dt.datetime.now()
        # only the fact table lands deltas; the dims stay as the base load left them
        result = run_incremental_pipeline(self.spark, self._sources(["fact_invoices"]),
                                          skip_gold=True)
        result["gold"] = gold.run_incremental(
            self.spark, effective_watermark(0, now), execution_id=result["execution_id"],
            models=self.models)
        return result

    def check(self, result) -> list[str]:
        bad = _statuses(result)
        merged = result["gold"].get("gold_fact_sales", {}).get("records")
        expected = self.round["merged_keys"]
        if self.landing.rounds == 1:
            # the base load took gold's full-refresh fallback, which writes
            # no secondary-source control rows, so the first round merges
            # the full delta once (plans/gold.py SECONDARY_CONTROL_TABLE)
            expected = len(self.landing.expected_gold_keys())
        if merged != expected:
            bad.append(f"round {self.landing.rounds}: gold merged {merged} rows, "
                       f"expected {expected}")
        return bad

    def result_counts(self, result) -> dict:
        """Rows the round added to the (exactly-once) quarantine sink, and
        the changed rows gold merged."""
        n = self.spark.table("silver_quarantine_fact_invoices").count()
        return {"plans.silver.quarantined_rows": n - self.sink_rows,
                "plans.gold.changed_rows": sum(r.get("records", 0) for r in result["gold"].values()
                                               if isinstance(r, dict))}

    def stored_bytes_per_source_byte(self, written: list[int]) -> float:
        """Median over the timed rounds of bytes written per delta byte."""
        return float(np.median([w / d for w, d in zip(written, self.delta_bytes[-len(written):])]))

    def finish(self) -> list[str]:
        """Incremental ≡ full: one full refresh over the same landing must
        give the gold the rounds built."""
        inc = gold_hash(self.spark, "gold_fact_sales")
        bad = _statuses(runner.run_pipeline(self.spark, self._sources(), models=self.models))
        full = gold_hash(self.spark, "gold_fact_sales")
        expected = len(self.landing.expected_gold_keys())
        if inc != full:
            bad.append(f"incremental gold (rows, hash) {inc} != full refresh {full}")
        if full[0] != expected:
            bad.append(f"full refresh gold rows {full[0]} != expected {expected}")
        return bad


def _normalize(df: pd.DataFrame) -> list[tuple]:
    """Rows with columns in name order, sorted, NaN and timestamps made
    comparable across engines."""
    def cell(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime().replace(tzinfo=None)
        return v

    df = df[sorted(df.columns)]
    return sorted((tuple(cell(v) for v in row) for row in df.itertuples(index=False, name=None)),
                  key=repr)


class QueryMix:
    """One op = one pass over ``QUERY_MIX`` in a seeded order, each query
    built through ``all_queries()`` and executed into the noop sink."""

    name = "query_mix"
    #: the setup's oracle pass runs every query once and warms the JVM up
    warm_ops = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.data = os.path.join(work, "analytics")
        self.seed = seed
        self.rng = np.random.default_rng(seed)

    def setup(self) -> list[str]:
        """Generate the tables, then compare every query that has a DuckDB
        twin with it."""
        self.input_bytes = gen.write_analytics(self.data, self.seed)
        self.queries = all_queries()
        oracles = all_oracles()
        bad = []
        with duckdb.connect() as con:
            for f in sorted(os.listdir(self.data)):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                            f"SELECT * FROM read_parquet('{os.path.join(self.data, f)}')")
            for name in QUERY_MIX:
                got = self.queries[name](self.spark, self.data).toPandas()
                if name not in oracles:
                    continue
                want = con.execute(oracles[name]).df()
                if sorted(got.columns) != sorted(want.columns) or _normalize(got) != _normalize(want):
                    bad.append(f"{name}: {len(got)} rows differ from its DuckDB twin "
                               f"({len(want)} rows)")
        return bad

    def prepare(self) -> None:
        pass

    def op(self, tracer=None):
        for i in self.rng.permutation(len(QUERY_MIX)):
            name = QUERY_MIX[i]
            if tracer is None:
                self.queries[name](self.spark, self.data).write.format("noop").mode("overwrite").save()
                continue
            idx = tracer.open(f"queries.{name}", "queries.query")
            try:
                df = tracer.call(f"queries.{name}.build", "queries.build",
                                 self.queries[name], self.spark, self.data)
                tracer.call(f"queries.{name}.exec", "queries.exec",
                            df.write.format("noop").mode("overwrite").save)
            finally:
                tracer.close(idx)
        return {"status": "success"}

    def check(self, result) -> list[str]:
        return []

    def result_counts(self, result) -> dict:
        return {}

    def stored_bytes_per_source_byte(self, written: list[int]) -> float:
        """Bytes a pass writes (the c01 funnel's stores) per input byte."""
        return float(np.median(written)) / self.input_bytes

    def finish(self) -> list[str]:
        return []


WORKLOADS = {w.name: w for w in (IncrementalRound, QueryMix)}
