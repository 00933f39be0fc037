#!/usr/bin/env python
"""Attribute the flagship's scaling growth: how much of
``sendas_full_pipeline``'s wall time is the R7 gap-fold (the engine's
one Python/mapInPandas stage) vs everything else (mark-union shuffle,
row-id join, R4 invoice semi-join, broadcast enrichment)?

    python tools/flagship_attribution.py [factor ...]

For each factor, builds the replicated dataset (same generator as
tools/scale_bench.py) and times the flagship twice: the full rule set,
and with the R7 entry filtered out of ``RULE_TABLE`` (so its mark set
— the mapInPandas fold plus its INGRESO dedup feeder — and its C5
zeroing drop out of the plan while every other rule keeps its relative
fold order). The delta is R7's marginal cost at that scale. min of 2
runs after a warmup, noop sink, fresh session per factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scale_bench import build_scaled  # noqa: E402


def timed(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> int:
    from etl_sendas_spark.plans import capital_sendas as cs
    from etl_sendas_spark.plans.inventory import sendas_full_pipeline
    from etl_sendas_spark.session import get_spark

    factors = [int(a) for a in sys.argv[1:]] or [10]
    src_dir = "/root/testdata/sf0.1"
    out: dict[str, dict] = {}
    full_table = cs.RULE_TABLE
    no_r7 = {key: rule for key, rule in full_table.items() if key != "c5"}

    for factor in factors:
        data_dir = f"/tmp/sendas_scale_x{factor}"
        build_scaled(src_dir, factor, data_dir)
        spark = get_spark(app_name=f"flagship_attr_x{factor}")

        def run():
            sendas_full_pipeline(spark, data_dir).write.format("noop").mode(
                "overwrite"
            ).save()

        runs = int(os.environ.get("FLAGSHIP_ATTR_RUNS", "2"))
        warmup = os.environ.get("FLAGSHIP_ATTR_WARMUP", "1") == "1"
        # 'full' | 'no_r7' | 'both' — run one variant per process for
        # clean same-session-state comparisons at big factors
        variant = os.environ.get("FLAGSHIP_ATTR_VARIANT", "both")
        entry: dict[str, float] = {}
        if variant in ("full", "both"):
            if warmup:
                run()
            entry["full"] = timed(run, runs=runs)
        if variant in ("no_r7", "both"):
            cs.RULE_TABLE = no_r7
            try:
                if warmup:
                    run()
                entry["no_r7"] = timed(run, runs=runs)
            finally:
                cs.RULE_TABLE = full_table
        if "full" in entry and "no_r7" in entry:
            entry["r7_marginal"] = round(entry["full"] - entry["no_r7"], 3)
            entry["r7_share"] = round(entry["r7_marginal"] / entry["full"], 3)
        out[f"x{factor}"] = entry
        spark.stop()

    print(json.dumps({"src": src_dir, "results": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
