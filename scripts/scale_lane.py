#!/usr/bin/env python
"""Scale lanes: 20x/50x curves for the feature operators behind the
round-15..17 registry keys.

The registered query keys clamp doc_id < 512 (the oracle fixture range),
so a lane times the UNDERLYING feature operators over the WHOLE
documents table of each directory — corpus-general mapInPandas /
applyInPandas pipelines whose work scales with input size. Same protocol
as scripts/scale_bench.py: noop sink (consumes every column), min-of-3
with cache clear, ratios of the scaled directory's walls to the base
directory's (the sf0.1 data set).

Lanes (``LANES``; each key maps to an operator in operators/multimodal):

* ``r16``  — parquet MAP/nested read+write, Delta partition pruning
  (table/file COUNT scales with the corpus: 3 files per 48 docs) and the
  ORC logical-type writer roundtrip;
* ``r16b`` — Delta v2 checkpoints and TIMESTAMP_NTZ, Iceberg
  multi-column equality deletes and v3 deletion vectors;
* ``r17``  — Delta stats skipping, Iceberg bounds pruning, the Iceberg
  changelog scan and VARIANT column decode.

Usage: python scripts/scale_lane.py <lane> <scale_dir> <base_dir> [--json out.json] [--note ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

#: lane -> (emitted metric name, {query name: multimodal operator})
LANES = {
    "r16": (
        "scale_ratio_r16_lane",
        {
            "parquet_map_scan_full": "parquet_nested_foreign_scan",
            "parquet_nested_write_full": "parquet_nested_write_features",
            "orc_write_logical_full": "orc_logical_roundtrip_features",
            "delta_partition_prune_full": "delta_partition_prune_features",
        },
    ),
    "r16b": (
        "scale_ratio_r16b_lane",
        {
            "delta_v2_checkpoint_full": "delta_v2_checkpoint_features",
            "iceberg_eq_multi_full": "iceberg_eq_multi_features",
            "delta_timestamp_ntz_full": "delta_timestamp_ntz_features",
            "iceberg_v3_dv_full": "iceberg_v3_dv_features",
        },
    ),
    "r17": (
        "scale_ratio_r17_lane",
        {
            "delta_stats_skip_full": "delta_stats_skip_features",
            "iceberg_bounds_prune_full": "iceberg_bounds_prune_features",
            "iceberg_changelog_full": "iceberg_changelog_features",
            "delta_variant_full": "delta_variant_features",
        },
    ),
}


def main() -> None:
    ap = argparse.ArgumentParser(description="Time one scale lane at two scales.")
    ap.add_argument("lane", choices=sorted(LANES))
    ap.add_argument("scale_dir")
    ap.add_argument("base_dir")
    ap.add_argument("--json", dest="json_path")
    ap.add_argument("--note")
    args = ap.parse_args()
    sf1, base = args.scale_dir, args.base_dir
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)

    from yark_spark.io import load_table
    from yark_spark.operators import multimodal
    from yark_spark.queries import QUERIES
    from yark_spark.session import get_spark

    metric, ops = LANES[args.lane]
    lane = {key: getattr(multimodal, op) for key, op in ops.items()}

    spark = get_spark(f"yark_spark-scale-{args.lane}")
    spark.sparkContext.setLogLevel("ERROR")
    for d in (base, sf1):
        QUERIES["q_full_scan"](spark, d).count()  # warm listings + JIT

    from yark_spark.operators.release import release_tracked

    def run(fn, d: str) -> tuple[float, int]:
        runs = []
        for _ in range(3):
            spark.catalog.clearCache()
            release_tracked()
            t0 = time.perf_counter()
            df = fn(load_table(spark, d, "documents"))
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        n = fn(load_table(spark, d, "documents")).count()
        return round(min(runs), 4), n

    out: dict = {"metric": metric, "queries": {}}
    tot_base = tot_sf1 = 0.0
    for key, fn in lane.items():
        w0, n0 = run(fn, base)
        w1, n1 = run(fn, sf1)
        tot_base += w0
        tot_sf1 += w1
        out["queries"][key] = {
            "sf0.1_warm": w0,
            "sf1_warm": w1,
            "ratio": round(w1 / w0, 2) if w0 else None,
            "rows_sf0.1": n0,
            "rows_sf1": n1,
            "rows_ratio": round(n1 / n0, 2) if n0 else None,
        }
    out["value"] = round(tot_sf1 / tot_base, 3)
    out["unit"] = "ratio"
    out["total_sf0.1_warm"] = round(tot_base, 4)
    out["total_sf1_warm"] = round(tot_sf1, 4)
    out["load_avg"] = [round(x, 2) for x in os.getloadavg()]
    if args.note:
        out["method"] = args.note
    print(json.dumps(out))
    if args.json_path:
        with open(args.json_path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
