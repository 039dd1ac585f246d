"""Core-scaling bench at an arbitrary SF (VERDICT r10 #1).

The sf0.1 headline tier is overhead-bound: BENCH_r10_c8 measured
8 cores ~= 32 cores (median low/high ratio 0.85) because at that scale
the bench times planning/scheduling, not data-parallel throughput. This
tool times a NAMED query list at a bigger SF (the 10x replica from
tools/gen_scale.py) so the round's plan-shaped scale levers show up on
the clock, with the bench's canary/probe discipline.

Usage:
    SPARK_GRAFT_SF_DIR=.scratch/sf1 SPARK_GRAFT_CPUS=32 \
        SPARK_GRAFT_DRIVER_MEM=24g \
        python tools/bench_scale.py OUT.json QUERY [QUERY...]

Prints one JSON line and writes the full record to OUT.json. Query
functions and oracles are untouched — this is a measurement harness
only; the driver's bench.py contract is unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 3:
        print("usage: bench_scale.py OUT.json QUERY...", file=sys.stderr)
        return 2
    out_path, names = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", ".scratch/sf1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench import (
        CANARY_HIGH,
        CANARY_LOW,
        _cpu_probe,
        _jvm_canary_point,
        _jvm_canary_shot,
        _py_warm,
    )
    from data_misc_tools_spark.catalog import QUERIES
    from data_misc_tools_spark.session import build_session, load_tables

    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = build_session(
        app_name=f"bench_scale_c{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # the bench warm discipline: parquet footers, codegen, python workers
    region = load_tables(spark, sf_dir, ["region"])["region"]
    region.groupBy("r_name").count().collect()
    region.groupBy("r_regionkey").applyInPandas(
        _py_warm, schema="r_regionkey bigint, n bigint"
    ).collect()
    _jvm_canary_shot(spark, 400_000_000)
    probe_before = _cpu_probe()
    canary1, _ = _jvm_canary_point(spark)

    timings: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)

    canary2, _ = _jvm_canary_point(spark)
    probe_after = _cpu_probe()
    ratio = round(canary2 / canary1, 4) if canary1 > 0 else None
    record = {
        "metric": "scale_bench_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf_dir": sf_dir,
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "n_queries": len(timings),
        "queries": timings,
        "cpu_probe_sec": {"before": probe_before, "after": probe_after},
        "canary": {
            "pass1_sec": canary1,
            "pass2_sec": canary2,
            "ratio": ratio,
            "verdict": "clean"
            if ratio is not None and CANARY_LOW <= ratio <= CANARY_HIGH
            else "noisy",
        },
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(json.dumps({k: record[k] for k in ("value", "cpus", "sf_dir", "canary")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
