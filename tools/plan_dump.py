#!/usr/bin/env python
"""Dump .explain('formatted') for the headline bench queries (a round's
optimization evidence): plans/<round>/<query>_<tag>.txt.

Usage: python tools/plan_dump.py <round> <tag> [sf_dir] [query ...]

e.g. ``python tools/plan_dump.py r13 before`` writes plans/r13/*_before.txt.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "agg_pricing_summary",
    "scan_filter_project",
    "join_equi_broadcast",
    "join_multiway_fact",
    "window_topk_per_group",
    "func_json",
    "cdc_lww_materialize",
    "cdc_sink_records",
    "dedup_minhash_lsh",
]


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_name = sys.argv.pop(1)
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or HEADLINE

    from go_pq_cdc_kafka_spark.queries import REGISTRY
    from go_pq_cdc_kafka_spark.session import get_spark

    spark = get_spark(app_name=f"{round_name}-plans")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_name)
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")

    # the CDC snapshot pipeline is not a registry entry; build it like bench.py
    if not sys.argv[3:]:
        from go_pq_cdc_kafka_spark.plans.routing import RoutingTable
        from go_pq_cdc_kafka_spark.sources.snapshot import snapshot_from_parquet
        from go_pq_cdc_kafka_spark.streaming.pipeline import CdcPipeline

        src = snapshot_from_parquet(
            spark, os.path.join(sf_dir, "lineitem.parquet"), "lineitem"
        )
        pipe = CdcPipeline(
            source=src,
            routing=RoutingTable({"public.lineitem": "lineitem.cdc"}),
            pk_field="l_orderkey",
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            pipe.run_batch().explain("formatted")
        path = os.path.join(out_dir, f"cdc_pipeline_snapshot_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
