"""Closed query loop: one client runs registered queries back to back.

The query set is fixed (see ``query_set``); the seed permutes the order of
every pass and the generated data. A warm-up pass runs every query once
before timing, so landings, code generation and Python workers exist when
the timed passes start. Passes run whole, until ``seconds`` have elapsed,
so every run times the same mix of queries. Each query is timed from the
start of its plan build to the end of its result action (``toPandas``).
At least ``MIN_PASSES`` passes run. Latency percentiles are taken across
queries, over each query's median time.

After timing, the last result of every query is checked against its DuckDB
oracle (``franzoxide_spark.oracle``); queries without an oracle must return
rows.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from layers import QueryTracer

# Registry modules whose queries the loop draws from: the relational
# contract (plus its window and envelope rows) and the LLM-data surface.
FAMILIES = (("relational", "windows_batch", "envelope"), ("llm",))
# Every STRIDE-th query of each family, in registration order, keeps a
# run inside the benchmark's time budget while covering both families.
STRIDE = 8
# No query on the stride builds a session landing; q35 routes its self-join
# through the dedup family's shared shingle landing (operators/dedup.py), so
# the landing layer is measured too.
LANDING_QUERIES = ("q35_ngram_jaccard_pairs",)
# At least this many timed passes, so the sample count does not flip with
# small changes in pass time: two passes take 13 s or more on a 4-core
# host, longer than the benchmark's 10 s run, so every run times two.
MIN_PASSES = 2


class _Result:
    """Stands in for a DataFrame in ``oracle.compare``: it only calls
    ``toPandas()``."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


def query_set() -> list[str]:
    from franzoxide_spark import queries as Q

    Q.load_all()
    names: list[str] = []
    for family in FAMILIES:
        members = [
            n for n, fn in Q.QUERIES.items()
            if fn.__module__.rsplit(".", 1)[-1] in family
        ]
        names += members[::STRIDE]
    return names + [n for n in LANDING_QUERIES if n not in names]


def _landing_tables(warehouse: str) -> int:
    if not os.path.isdir(warehouse):
        return 0
    return sum(1 for e in os.scandir(warehouse) if e.is_dir())


def run(spark, ctx, seconds: float, trace: bool) -> dict:
    from franzoxide_spark import queries as Q
    from franzoxide_spark.oracle import compare, run_oracle

    names = query_set()
    rng = random.Random(ctx.seed)
    data = ctx.data_dir
    failures: list[str] = []
    last: dict[str, object] = {}

    # warm-up pass: part of set-up, never timed
    t = time.perf_counter()
    order = names[:]
    rng.shuffle(order)
    for name in order:
        try:
            last[name] = Q.QUERIES[name](spark, data).toPandas()
        except Exception as e:  # a failing query is a failed op, not a crash
            failures.append(f"{name} warm-up: {e!r}"[:300])
    warmup_s = time.perf_counter() - t
    landings = _landing_tables(ctx.warehouse)
    setup_s = time.perf_counter() - ctx.t0

    tracer = QueryTracer(spark) if trace else None
    per_query: dict[str, list[float]] = {name: [] for name in names}
    attempted = 0
    passes = 0
    op = 0
    t_loop = time.perf_counter()
    while passes < MIN_PASSES or time.perf_counter() - t_loop < seconds:
        rng.shuffle(order)
        for name in order:
            op += 1
            attempted += 1
            try:
                if tracer:
                    tracer.begin(op)
                t0 = time.perf_counter()
                df = Q.QUERIES[name](spark, data)
                t1 = time.perf_counter()
                if tracer:
                    tracer.built(op)
                pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as e:
                failures.append(f"{name}: {e!r}"[:300])
                continue
            per_query[name].append((t2 - t0) * 1e3)
            last[name] = pdf
            if tracer:
                tracer.end(op, df, len(pdf), t1 - t0, t2 - t1)
        passes += 1
    loop_s = time.perf_counter() - t_loop
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()

    # correctness gate, after timing
    for name in names:
        pdf = last.get(name)
        if pdf is None:
            continue  # already counted: it failed in every attempt
        if name in Q.ORACLES:
            ok, diag = compare(_Result(pdf), run_oracle(Q.ORACLES[name], data))
        else:
            ok, diag = len(pdf) > 0, f"rows={len(pdf)}"
        if not ok:
            failures.append(f"{name} oracle: {diag}"[:300])

    # Each query's median over the passes, then percentiles across queries
    # (interpolated): pooled samples of a few distinct queries sit in
    # clusters, and a pooled percentile jumps between them.
    typical = [statistics.median(v) for v in per_query.values() if v]
    samples = sum(len(v) for v in per_query.values())
    out = {
        "attempted": attempted,
        "failed": len(failures),
        "failures": failures,
        "e2e": {
            "setup_s": setup_s,
            "throughput": samples / loop_s,
            "latency_ms_p50": statistics.median(typical),
            "latency_ms_p75": statistics.quantiles(typical, n=4)[2],
        },
        "samples": samples,
        "info": {"queries": len(names), "passes": passes,
                 "warmup_s": warmup_s,
                 "per_query_ms": {n: round(statistics.median(v), 1)
                                  for n, v in per_query.items() if v}},
    }
    if tracer:
        layers = tracer.per_pass(passes)
        layers.update({
            "warmup.pass_s": warmup_s,
            "landing.tables": float(landings),
            "session.persisted_rdds": float(persisted),
            "trace.overhead_pct": 100.0 * tracer.overhead_s / loop_s,
        })
        out["layers"] = layers
    return out
