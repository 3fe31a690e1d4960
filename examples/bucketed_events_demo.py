"""Measured evidence for the events-family scale claim: an events table
landed bucketed by the user key makes every user-keyed operator in the
family run WITHOUT its shuffle.

The events queries (rolling features q89, sessionization q74/q168, TTL
dedup q177, funnels q71, retention q73, ...) all share one plan shape:
ONE exchange on the user key, then key-bounded window/fold/group work.
At 100 TB that exchange is the dominant cost and it repeats per query.
The land-once/join-many answer (the same trade the dedup family's
shingle landing makes, see bucketed_join_demo.py) is to land events
bucketed by the user key: every downstream user-keyed aggregation,
window, and stateful fold then reads pre-partitioned buckets and the
exchange disappears (visible in the plan), paid once at landing time.

This script lands the fixture events both ways — plain parquet and a
bucketed+sorted table (bucketBy on the key, sortBy (key, ts)) — runs
q177's batch face (TTL-session dedup: lag + running-sum windows + a
group-by, all on the user key) over each through measure.compare_arms
(identical rows first, then interleaved timed runs), prints exchange
counts and timings, and asserts the bucketed plan is exchange-FREE.

Measured at sf0.1 on local[32] (warm best-of-3): plain 3.7 s /
1 exchange -> bucketed 1.8 s / 0 exchanges; the delta grows with data
because the exchange is the only super-scan term. The in-partition Sort
survives (Spark cannot prove sortBy(key, ts) orders (key,
unix_timestamp(ts))) — it is local, spill-free per bucket, and cheap.

Usage: python examples/bucketed_events_demo.py
       [env: SPARK_GRAFT_SF_DIR (/root/testdata/sf0.1), N_BUCKETS (16)]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from franzoxide_spark.measure import compare_arms  # noqa: E402
from franzoxide_spark.operators.landing import land_events_relation  # noqa: E402
from franzoxide_spark.session import get_spark  # noqa: E402
from franzoxide_spark.streaming.stateful import batch_ttl_session_dedup  # noqa: E402
from franzoxide_spark.tables import table  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_buckets = int(os.environ.get("N_BUCKETS", "16"))
    spark = get_spark(driver_memory="8g")
    spark.sparkContext.setLogLevel("WARN")

    ev = table(spark, sf_dir, "events")
    # land once, bucketed by the raw user key and in-bucket sorted by
    # (key, ts) — the write is the amortized cost. shared_events_relation
    # adds the session/marker/adoption flow on top of this call.
    spark.sql("DROP TABLE IF EXISTS events_by_user")
    t0 = time.time()
    evb = land_events_relation(
        ev, "user_id", "ts", "events_by_user", n_buckets=n_buckets
    )
    landed_s = time.time() - t0

    def dedup(df):
        return lambda: batch_ttl_session_dedup(
            df, "user_id", "event_type", "ts", 3600
        )

    arms = compare_arms(
        spark, {"plain": dedup(ev), "bucketed": dedup(evb)}, runs=3
    )
    print(json.dumps(arms, indent=1))
    print(f"landing wrote {n_buckets} buckets in {landed_s:.2f}s (one-time)")

    assert arms["plain"]["exchanges"] >= 1, (
        "plain path should shuffle on the user key"
    )
    assert arms["bucketed"]["exchanges"] == 0, (
        "bucketed path must be exchange-free"
    )
    print("invariants hold: exchange-free bucketed plan, identical relation")
    spark.sql("DROP TABLE IF EXISTS events_by_user")
    spark.stop()


if __name__ == "__main__":
    main()
