"""The ``registry`` workload: a fixed slice of the query registry, each
query run through the noop sink, in a seeded order.

The slice holds two queries from each module family the registry
exercises: plain relational SQL in ``queries.py``, the ``functions/``
library (text statistics, dedup) and the ``operators/`` CDC operators,
one of them over ``operators/apply`` (the merge the stream workload
reaches through ``sinks.stage_merge``). A full registry pass takes
minutes even on the smallest tables, more than one run may take; these
six were the steadiest of a nine-query trial across seeds.

Set-up runs one untimed noop pass, three queries at a time, to pay
codegen and the first JIT compiles. The timed region runs ``PASSES``
noop passes, each in its own seeded order, and keeps each query's
fastest pass. After it, outside the memory and time measurement, every
query's rows are collected and compared with its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import stats

SF = 0.01
# timed passes; a query's time is its fastest, as the JIT keeps making a
# query faster for ten or so runs. The work is fixed: --seconds does not change it.
PASSES = 5
LAYERS = ("registry.", "spark.", "storage.", "tracing.")  # per-layer metrics it measures
FAMILIES = {
    "queries": ["q4_priority_with_bulk", "topk_per_group"],
    "functions": ["quality_score", "winnowing_fingerprints"],
    "operators": ["cdc_apply_orders", "update_pair_filter"],
}
FAMILY_OF = {q: fam for fam, qs in FAMILIES.items() for q in qs}


def _exchanges(sdf) -> int:
    """Exchange nodes in the query's physical plan (planned, not run)."""
    return sdf._jdf.queryExecution().executedPlan().toString().count("Exchange")


def _noop(sdf) -> None:
    """Run the query to completion without collecting its rows."""
    sdf.write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    from dtle_spark.queries import REGISTRY

    spark, seed = ctx.spark, ctx.seed
    data_dir = os.path.join(ctx.work, "data")
    ctx.generate(data_dir, SF)
    ctx.phase("generate")
    rng = random.Random(seed)
    names = sorted(FAMILY_OF)
    errors: dict[str, str] = {}

    def query(name: str):
        return REGISTRY[name].spark_fn(spark, data_dir)

    def warm(name: str) -> None:
        try:
            _noop(query(name))
        except Exception as e:  # the timed passes count it as failed
            errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])

    # one untimed pass, three at a time: cold queries are mostly
    # scheduling and codegen, which leave cores idle
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(warm, rng.sample(names, len(names))))
    exchanges = {}
    if ctx.tracer is not None:
        exchanges = {n: _exchanges(query(n)) for n in names}
    ctx.phase("warm_pass")

    samples: dict[str, list[float]] = {n: [] for n in names}
    failed_runs = 0
    ctx.setup_done()
    for _ in range(PASSES):
        for name in rng.sample(names, len(names)):
            sp = None
            if ctx.tracer is not None:
                sp = ctx.tracer.begin(f"registry.{FAMILY_OF[name]}", query=name)
            t = time.perf_counter()
            try:
                _noop(query(name))
                samples[name].append(time.perf_counter() - t)
            except Exception as e:  # counted in failed; the pass goes on
                failed_runs += 1
                errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])
            finally:
                if sp is not None:
                    ctx.tracer.end(sp, sample_storage=True)
    ctx.timed_done()

    # -- correctness gate (outside the timed region) -------------------------
    checks: dict[str, bool] = {}
    oracle = ctx.oracle(data_dir)

    def check(name: str) -> None:
        try:
            checks[name] = oracle.matches(query(name), REGISTRY[name].oracle)
        except Exception as e:  # a failing query is counted, not fatal
            checks[name] = False
            errors.setdefault(name, f"{type(e).__name__}: {e}"[:300])

    try:
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(pool.map(check, names))
    finally:
        oracle.close()

    # a query's cost is its fastest pass (as in bench.py): with a handful
    # of samples a single GC pause or JIT stall would move a median
    per_query = {n: min(v) for n, v in samples.items() if v}
    total = sum(per_query.values())
    tail_q, tail_v = stats.tail(list(per_query.values()))
    detail = {
        "sf": SF,
        "queries": len(names),
        "passes": PASSES,
        "query_total_s": total,
        "query_p50_s": float(np.median(list(per_query.values()))),
        "query_tail_s": tail_v,
        "query_tail_percentile": tail_q,
        "query_n": len(per_query),
        "per_query_s": per_query,
        "samples_s": samples,
        "checks": checks,
        "errors": errors,
    }
    e2e = {
        "throughput_per_s": (len(per_query) / total, "1/s"),
        "latency_p50_s": (detail["query_p50_s"], "s"),
    }
    layer = {}
    if ctx.tracer is not None:
        layer = _layer_metrics(ctx.tracer, PASSES, exchanges)
    return {
        "e2e": e2e, "detail": detail, "layer": layer,
        "attempted": len(checks) + PASSES * len(names),
        "failed": sum(1 for ok in checks.values() if not ok) + failed_runs,
    }


def _layer_metrics(tracer, passes: int, exchanges: dict[str, int]) -> dict:
    tracer.resolve()
    out = {}
    top = []
    for fam, qs in FAMILIES.items():
        spans = tracer.named(f"registry.{fam}")
        top += spans
        out[f"registry.{fam}.wall_s"] = (sum(s["end"] - s["start"] for s in spans) / passes, "s")
        out[f"registry.{fam}.jobs"] = (sum(s["jobs"] for s in spans) / passes, "count")
        out[f"registry.{fam}.stages"] = (sum(s["stages"] for s in spans) / passes, "count")
        out[f"registry.{fam}.exchanges"] = (sum(exchanges.get(q, 0) for q in qs), "count")
        out[f"registry.{fam}.shuffle_bytes"] = (
            sum(s["shuffle_write_bytes"] for s in spans) / passes, "bytes")

    out.update(tracer.spark_metrics(top))
    return out
