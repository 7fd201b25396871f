#!/usr/bin/env python3
"""Merge the chunked sf1 battery runs + the sf1 serving-only run into one
bench JSON with the full-run schema (bench_sf1_full.json).

Usage: merge_sf1.py <chunks_dir> <serving.json> <out.json>

Battery chunks are SKIP_SERVING runs over disjoint SPARK_GRAFT_ONLY
subsets (checkpointed per family, VERDICT r9 #2); the serving run
carries the qps/ingest keys measured in its own fresh JVM (the
serving-first protocol's isolation, taken to its limit: a whole process,
like the reference's standalone perf clients).
"""
import json
import glob
import sys

chunks_dir, serving_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]

queries, runs, errors = {}, {}, {}
for f in sorted(glob.glob(f"{chunks_dir}/chunk_*.json")):
    d = json.load(open(f))
    queries.update(d["queries"])
    runs.update(d["runs"])
    errors.update(d.get("errors", {}))
# later chunks supersede earlier ones (re-measurements), so totals must
# come from the MERGED map, not a per-chunk sum
total = sum(queries.values())

serving = json.load(open(serving_path))
lat = sorted(queries.values())


def pct(p):
    return lat[min(len(lat) - 1, int(p * len(lat)))] if lat else 0.0


out = dict(serving)  # serving/ingest keys + serving_runs from the qps run
out.update({
    "metric": "total", "value": total, "unit": "sec",
    "queries": queries, "runs": runs, "passes": 3,
    "p50": pct(0.5), "p90": pct(0.9), "p99": pct(0.99),
    "n_errors": len(errors), "errors": errors,
    "n_queries": len(queries), "sf": "/tmp/sf1",
    "note": ("battery from per-family SKIP_SERVING chunks; serving keys "
             "from a dedicated serving-only run (own JVM)"),
})
# drop the serving run's 1-query battery fields that we overwrote
json.dump(out, open(out_path, "w"))
print(f"merged {len(queries)} queries, total {total:.1f}s -> {out_path}")
