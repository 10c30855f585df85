"""Governed-warehouse mart on popelines_spark (round-5 operators).

Composes the round-5 operators the way a governed events warehouse runs
its daily close:

  SCD Type-2 user-state history (gaps-and-islands) →
  last-touch marketing attribution (7-day lookback as-of) →
  per-source dataset cards published next to each snapshot →
  EWMA-smoothed daily revenue per nation for the trend dashboard →
  PageRank over the nation trade graph for the supply-map view →
  a privacy-safe external release of event counts (seeded Laplace noise) →
  (round 7) the fact feed landed exactly-once into a MANIFEST table —
  incremental ACID appends with time travel and retention GC
  (popelines_spark/manifest.py + streaming/manifest_sink.py).

Every stage is a keyed shuffle, a broadcast of a tiny frame, or a
bounded iterative join (PageRank state = one row per node); nothing
collects to the driver — the returned counts are scalar aggregates.

Run:  python examples/governed_warehouse.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import functions as F


def build_mart(spark, sf_dir: str, out_dir: str):
    from popelines_spark.operators import eventseq
    from popelines_spark.queries.ext_analytics2 import (
        c_attribution,
        c_dataset_card,
        c_dp_counts,
        c_ewma_daily,
        c_pagerank_nations,
    )
    from popelines_spark.tables import load

    ev = load(spark, sf_dir, "events")

    # 1. SCD2 history: the versioned dimension a MERGE-based warehouse
    #    maintains incrementally; here rebuilt exactly from the feed
    scd2 = eventseq.scd2_runs(ev, "user_id", "ts", "event_type", "event_id")
    scd2.write.mode("overwrite").parquet(f"{out_dir}/user_state_history")

    # 2. attribution + 3. dataset cards + 4. trend series + 5. supply map
    marts = {
        "attribution": c_attribution(spark, sf_dir),
        "dataset_cards": c_dataset_card(spark, sf_dir),
        "revenue_trend": c_ewma_daily(spark, sf_dir),
        "nation_rank": c_pagerank_nations(spark, sf_dir),
        # 6. the ONLY table leaving the governed boundary: noisy counts
        "public_release": c_dp_counts(spark, sf_dir),
    }
    counts = {"user_state_history": scd2.count()}
    for name, df in marts.items():
        df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
        counts[name] = spark.read.parquet(f"{out_dir}/{name}").count()

    # 7. (round 7) land the raw feed in the governed ACID layout:
    #    two daily batches append incrementally (old files untouched),
    #    a replayed batch id is a no-op, and yesterday's version stays
    #    queryable until retention GC
    from popelines_spark.manifest import (
        append_manifest_table,
        read_manifest_table,
    )

    day1 = ev.filter(F.dayofmonth("ts") % 2 == 0)
    day2 = ev.filter(F.dayofmonth("ts") % 2 == 1)
    append_manifest_table(spark, out_dir, "events_acid", day1, batch_id=1)
    v2 = append_manifest_table(
        spark, out_dir, "events_acid", day2, batch_id=2
    )
    # crash-replay of batch 2: exactly-once, same version comes back
    assert append_manifest_table(
        spark, out_dir, "events_acid", day2, batch_id=2
    ) == v2
    counts["events_acid"] = read_manifest_table(
        spark, out_dir, "events_acid"
    ).count()
    counts["events_acid_v1"] = read_manifest_table(
        spark, out_dir, "events_acid", version=1
    ).count()
    return counts


def main() -> None:
    from popelines_spark.session import get_spark, scratch_dir

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else scratch_dir("governed")
    spark = get_spark(app_name="governed_warehouse_example")
    counts = build_mart(spark, sf_dir, out_dir)
    for name, n in sorted(counts.items()):
        print(f"RESULT {name}: {n} rows")


if __name__ == "__main__":
    main()
