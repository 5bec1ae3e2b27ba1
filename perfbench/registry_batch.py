"""registry_batch: the batch side of the engine, through its query registry.

The alarm-path queries over a seeded sf0.1-shaped ``events`` table and the
curation queries over an sf0.1-shaped corpus run in an order the seed
permutes. Each query is materialized with a noop write, as ``bench.py``
does. The corpus comes from a fixed seed, so the DuckDB oracle's result
hashes for the curation queries are cached across runs.

This workload bypasses the streaming layer and the consumer operators, so
it is the no-change control for canary_live work, and canary_live is the
control for work on the plans, tables, alarm, KPL, dedup, similarity and
text-statistics code.
"""

from __future__ import annotations

import os
import time
from collections.abc import Sequence

import numpy as np

from datagen import documents_table, embeddings_table, events_table, write_table
from harness import Ctx, noop, prefix_chain, query_pass, run_setup
from oracle import Oracle
from runtime import gc_seconds

#: One query per batch layer the benchmark times: the flagship alarm path
#: (``sources.tables``, ``operators.lag``, ``operators.alarm``), MinHash-LSH
#: dedup, brute-force cosine top-k, and text statistics. The flagship's own
#: time is the workload's latency: how long a batch alarm evaluation takes.
#: Each query's time is its best of ``PASSES`` warm passes (a neighbour on
#: the machine only ever slows a query down); the pass wall is their sum.
FLAGSHIP = "health_lag_alarm"
QUERIES = (FLAGSHIP, "dedup_minhash_lsh", "ann_topk_bruteforce", "text_quality")
#: Timed passes per run. The JIT is still compiling during the first
#: one, so each query takes its best.
PASSES = 3
EVENTS_ROWS = 100_000
CORPUS_SEED = 20240101
DOCUMENTS_ROWS = 5000
EMBEDDINGS_ROWS = 2000
#: The flagship's alarm threshold (lag seconds at period close).
FLAGSHIP_THRESHOLD = 30.0
#: ann_topk_bruteforce's query set: vec_id below this.
ANN_QUERIES = 50
#: kinesis_sim scan and KPL probe size: 2 shards x 5000 records.
SIM_SHARDS, SIM_PER_SHARD = 2, 5000


class QuerySet:
    """Registry queries over one data directory.

    Set-up collects every result (the value check needs them) and drops a
    query that raises, as one failed operation, from the timed passes.
    """

    def __init__(self, ctx: Ctx, names: Sequence[str], data_dir: str) -> None:
        self.ctx = ctx
        self.names = list(names)
        self.data_dir = data_dir
        self.queries: list = []
        self.results: dict = {}
        self.errors: dict[str, str] = {}
        self.warm_s: dict[str, float] = {}

    def warm(self) -> None:
        """Registry import and one untimed pass that collects every result."""
        from amazon_kinesis_data_streams_health_check_spark.plans.registry import all_queries

        reg = all_queries()
        for n in self.names:
            q = reg[n]
            t0 = time.perf_counter()
            try:
                self.results[n] = q.builder(self.ctx.spark, self.data_dir).toPandas()
            except Exception as e:  # a failing query is a failed operation
                self.errors[n] = repr(e)[:300]
                continue
            finally:
                self.warm_s[n] = time.perf_counter() - t0
            self.queries.append(q)

    def check(self, oracle: Oracle) -> None:
        """Each query is one operation: it must run, and its values must
        equal its oracle's."""
        failed = len(self.errors)
        notes = [f"{n}: {e}" for n, e in self.errors.items()]
        for q in self.queries:
            got = self.results[q.name]
            why = oracle.mismatch(got, q.oracle) if q.oracle else (None if len(got) else "empty")
            if why:
                failed += 1
                notes.append(f"{q.name}: {why}")
        self.ctx.ledger.record(len(self.names), failed, "queries")
        self.ctx.ledger.notes.extend(notes)

    def passes(self, n: int) -> list[dict]:
        return [query_pass(self.ctx, self.queries, self.data_dir, f"pass:{i}") for i in range(n)]


def _alarm_probe(ctx: Ctx, data_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from amazon_kinesis_data_streams_health_check_spark.operators.alarm import (
        evaluate_alarm,
        with_period_grid,
    )
    from amazon_kinesis_data_streams_health_check_spark.operators.lag import (
        staleness_at_window_close,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import parallel_scan

    events = parallel_scan(ctx.spark, data_dir, "events")
    lagged = staleness_at_window_close(events, ts_col="ts", payload_col="props", key_col="event_type")
    maxed = lagged.groupBy("stream_name", "window_start", "window_end").agg(
        F.max("lag_seconds").alias("max_value"),
        F.count(F.lit(1)).alias("n_datapoints"),
    )
    grid = with_period_grid(maxed)
    alerts = evaluate_alarm(grid, threshold=FLAGSHIP_THRESHOLD, treat_missing="breaching")
    s = prefix_chain(
        ctx,
        "alarm-chain",
        [("scan", events), ("lag", lagged), ("tumbling_max", maxed), ("grid", grid), ("evaluate", alerts)],
    )
    return {
        "sources.scan_s": s["scan"],
        "operators.lag.self_s": s["lag"],
        "operators.alarm.tumbling_max.self_s": s["tumbling_max"],
        "operators.alarm.grid.self_s": s["grid"],
        "operators.alarm.evaluate.self_s": s["evaluate"],
        "operators.alarm.grid_rows": float(grid.count()),
    }


def _kpl_probe(ctx: Ctx) -> dict[str, float]:
    from amazon_kinesis_data_streams_health_check_spark.operators.kpl_agg import (
        explode_kpl,
        pack_kpl,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.kinesis_sim import (
        register_kinesis_sim,
    )

    register_kinesis_sim(ctx.spark)
    raw = (
        ctx.spark.read.format("kinesis_sim")
        .option("numShards", SIM_SHARDS)
        .option("recordsPerShard", SIM_PER_SHARD)
        .load()
    )
    exploded = explode_kpl(
        pack_kpl(raw, max_per_blob=5),
        pk_col="agg_partition_key",
        data_col="agg_data",
        keep_cols=("shard_id",),
    )
    # The first read starts the data source's Python workers: keep that
    # out of the scan rate.
    noop(raw)
    s = prefix_chain(ctx, "kpl-chain", [("sim", raw), ("kpl", exploded)])
    return {
        "sources.kinesis_sim.rows_per_s": SIM_SHARDS * SIM_PER_SHARD / max(s["sim"], 1e-9),
        "operators.kpl_agg.self_s": s["kpl"],
    }


def _dedup_probe(ctx: Ctx, data_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from amazon_kinesis_data_streams_health_check_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        lsh_candidate_pairs,
        verified_jaccard,
        with_bands,
        with_minhash,
        with_shingles,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import parallel_scan

    docs = parallel_scan(ctx.spark, data_dir, "documents")
    shingled = with_shingles(docs).select("doc_id", "sh")
    minhashed = with_minhash(shingled)
    pairs = lsh_candidate_pairs(with_bands(minhashed))
    verified = verified_jaccard(pairs, shingled)
    s = prefix_chain(
        ctx,
        "dedup-chain",
        [("scan", docs), ("shingle", shingled), ("minhash", minhashed), ("lsh", pairs), ("verify", verified)],
    )
    # The banding's design threshold: the pairs LSH is built to find.
    j_star = (1.0 / LSH_BANDS) ** (1.0 / LSH_ROWS)
    n_cand = pairs.count()
    n_ver = verified.filter(F.col("jaccard") >= j_star).count()
    return {
        "sources.scan_s": s["scan"],
        "operators.dedup.shingle.self_s": s["shingle"],
        "operators.dedup.minhash.self_s": s["minhash"],
        "operators.dedup.lsh.self_s": s["lsh"],
        "operators.dedup.verify.self_s": s["verify"],
        "operators.dedup.candidate_pairs": float(n_cand),
        "operators.dedup.verified_pairs": float(n_ver),
        "operators.dedup.precision": n_ver / n_cand if n_cand else 0.0,
    }


def _similarity_probe(ctx: Ctx, data_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from amazon_kinesis_data_streams_health_check_spark.operators.similarity import (
        brute_force_topk,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import parallel_scan

    emb = parallel_scan(ctx.spark, data_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_QUERIES)
    topk = brute_force_topk(emb, queries, k=10)
    s = prefix_chain(ctx, "similarity-chain", [("scan", emb), ("topk", topk)])
    return {
        "sources.scan_s": s["scan"],
        "operators.similarity.self_s": s["topk"],
        "operators.similarity.pairs_scored": float(queries.count() * (emb.count() - 1)),
    }


def _textstats_probe(ctx: Ctx, data_dir: str) -> dict[str, float]:
    from amazon_kinesis_data_streams_health_check_spark.operators.textstats import (
        with_quality_score,
        with_token_stats,
    )
    from amazon_kinesis_data_streams_health_check_spark.sources.tables import parallel_scan

    docs = parallel_scan(ctx.spark, data_dir, "documents")
    scored = with_quality_score(with_token_stats(docs))
    s = prefix_chain(ctx, "textstats-chain", [("scan", docs), ("textstats", scored)])
    return {"operators.textstats.self_s": s["textstats"]}


def _layers(ctx: Ctx, data_dir: str, traced: dict) -> dict[str, float]:
    out = {
        "plans.build_s": traced["build_s"],
        "plans.exec_s": traced["exec_s"],
        "plans.jobs": float(traced["jobs"]),
    }
    probes = [
        _alarm_probe(ctx, data_dir),
        _kpl_probe(ctx),
        _dedup_probe(ctx, data_dir),
        _similarity_probe(ctx, data_dir),
        _textstats_probe(ctx, data_dir),
    ]
    for p in probes:
        out.update(p)
    out["sources.scan_s"] = sum(p.get("sources.scan_s", 0.0) for p in probes)
    return out


def run(ctx: Ctx) -> dict:
    data_dir = os.path.join(ctx.work, "data")
    write_table(events_table(np.random.default_rng(ctx.seed), EVENTS_ROWS), data_dir, "events")
    corpus = np.random.default_rng(CORPUS_SEED)
    write_table(documents_table(corpus, DOCUMENTS_ROWS), data_dir, "documents")
    write_table(embeddings_table(corpus, EMBEDDINGS_ROWS), data_dir, "embeddings")
    order = [QUERIES[i] for i in np.random.default_rng(ctx.seed).permutation(len(QUERIES))]
    qs = QuerySet(ctx, order, data_dir)
    traced = ctx.trace
    ctx.trace = False
    setup = run_setup(ctx, qs.warm)
    # A traced run reports no end-to-end metric: the untraced passes around
    # its traced one are the baseline for the tracing overhead.
    rounds = qs.passes(1 if traced else PASSES)
    best = {q.name: min(r["query_walls"][q.name] for r in rounds) for q in qs.queries}
    out = {
        "setup": setup,
        "e2e": {
            "latency_s": best[FLAGSHIP],
            "batch_wall_s": sum(best.values()),
        },
        "env": {
            "passes": len(rounds),
            "query_order": order,
            "setup_query_s": qs.warm_s,
            "pass_query_s": [r["query_walls"] for r in rounds],
            "events_rows": EVENTS_ROWS,
            "documents_rows": DOCUMENTS_ROWS,
            "embeddings_rows": EMBEDDINGS_ROWS,
        },
        "check": lambda: qs.check(Oracle(data_dir, ctx.cache_dir, ctx.cpus)),
    }
    if not traced:
        return out

    ctx.trace = True
    t_start = time.time()
    gc0 = gc_seconds(ctx.spark)
    # One traced pass: enough for the per-pass plan figures, and it keeps a
    # traced run inside its time limit.
    (tr,) = qs.passes(1)
    gc_s = gc_seconds(ctx.spark) - gc0
    out["window"] = (t_start, time.time())
    ctx.trace = False
    (after,) = qs.passes(1)
    layers = _layers(ctx, data_dir, tr)
    layers["runtime.gc_s"] = gc_s
    # The JIT is still compiling, so each pass is faster than the one before:
    # compare with the mean of the untraced passes on either side.
    layers["trace.overhead_s"] = tr["wall_s"] - (rounds[0]["wall_s"] + after["wall_s"]) / 2
    out["layers"] = layers
    return out
