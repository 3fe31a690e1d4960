"""Streaming workload: the connector pipeline, then the ingest gate, in one
Spark session (see ``connector_stream`` and ``ingest_gate``).

Set-up warms both pipelines, at the same time, before anything is timed.
Then the connector's open loop runs, and after it the gate's drains.

- latency: connector segments, due time -> sink commit, in the open loop
  (median and interpolated third quartile, as in ``session_loop``);
- throughput: documents per second through both gates, drained.

Traced figures are read after the gate's drains, outside every timed
phase; ``trace.overhead_pct`` is that read-out's wall time as a share of
the timed phases' wall time.
"""

from __future__ import annotations

import statistics
import time

from connector_stream import PERIOD_S, SEGMENT_RECORDS, Connector
from ingest_gate import Gate
from layers import StageTotals, durations


def run(spark, ctx, seconds: float, trace: bool) -> dict:
    conn, gate = Connector(spark, ctx), Gate(spark, ctx)
    marks = {}
    conn.start(seconds)
    marks["connector_start_s"] = time.perf_counter()
    gate.prepare()  # while the connector's seed batch runs
    marks["gate_prepare_s"] = time.perf_counter()
    conn.await_seed()
    marks["connector_seed_s"] = setup_end = time.perf_counter()
    conn.open_loop()
    marks["open_loop_s"] = time.perf_counter()
    gate.drains()
    marks["gate_drains_s"] = time.perf_counter()
    failures = conn.check() + gate.check()
    marks["check_s"] = time.perf_counter()

    out = {
        "attempted": conn.n_records + gate.docs * len(gate.gates),
        "failed": len(failures),
        "failures": failures,
        "e2e": {
            "setup_s": setup_end - ctx.t0,
            "throughput": gate.docs / sum(gate.drain_s.values()),
            "latency_ms_p50": statistics.median(conn.lat_ms),
            "latency_ms_p75": statistics.quantiles(conn.lat_ms, n=4)[2],
        },
        "samples": len(conn.lat_ms),
        "info": {
            "offered_records_per_s": SEGMENT_RECORDS / PERIOD_S,
            "segments": len(conn.segments),
            "open_loop_batch_ms": [p.durationMs.get("triggerExecution")
                                   for p in conn.progress],
            "gate_drain_s": gate.drain_s,
            "phases": durations(ctx.t0, marks),
        },
    }
    if trace:
        t = time.perf_counter()
        layers = {
            **StageTotals(spark).for_groups([str(conn.query.runId)] + gate.run_ids,
                                            skip=conn.warm_jobs),
            **conn.layers(),
            **gate.layers(),
        }
        timed_s = marks["gate_drains_s"] - setup_end
        layers["trace.overhead_pct"] = 100.0 * (time.perf_counter() - t) / timed_s
        out["layers"] = layers
    return out
