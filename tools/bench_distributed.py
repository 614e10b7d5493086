#!/usr/bin/env python
"""Time the DISTRIBUTED (above-cap) branches of the driver-fast-pathed
families at sf0.1 — the branches the 100 TB run actually takes. The
headline bench times the driver fast paths, so a plan regression in a
distributed fallback would otherwise be invisible in every committed
number.

Methodology mirrors bench.py (best-of-3 per query, median also kept,
same noise verdict) with ``SPARK_GRAFT_PLACEMENT`` exported before the
queries run (see ``pdf_to_vectordb_etl_spark/placement.py``). One run
per mode:

- ``distributed`` — no driver-level collect: the distributed plans,
                    incl. the hop-fused BSP beam probe;
- ``cascade``     — also no broadcast-level collect: the per-hop
                    join-cascade beam probe, kept measurable so the two
                    distributed formulations stay comparable.

A worker that exits non-zero or prints no record with a ``total``
fails the whole run (non-zero exit, stderr tail shown) — a crashed
worker must never read as an empty record.

Writes one JSON line per mode to stdout and the combined record to
``BENCH_DISTRIBUTED_<tag>.json`` in the repo root.

Usage: python tools/bench_distributed.py <tag>   (e.g. r11_before)
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the bench keys whose timed plan changes under a non-auto placement:
# the five fast-pathed families' heaviest declared queries
KEYS = [
    "ann_nndescent_recall",
    "ann_incremental_assign",
    "ann_tombstone_search",
    "ann_graph_drift",
    "bpe_bytelevel_train",
    "bpe_bytelevel_encode",
    "wordpiece_encode",
    "bradley_terry",
    "knn_shapley",
    "unigram_lm_train",
    "unigram_lm_encode",
]

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["SPARK_GRAFT_REPO"])
import __spark_entry__ as entry
from pdf_to_vectordb_etl_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
keys = json.loads(os.environ["SPARK_GRAFT_DIST_KEYS"])
spark = get_spark(app_name="bench_distributed", master=f"local[{cpus}]")
for t in ("lineitem", "documents", "embeddings", "events"):
    spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
    lambda it: it, "id long"
).count()
qs = entry.queries()
timings, medians = {}, {}
for name in keys:
    if name not in qs:
        continue
    runs = []
    for _ in range(3):
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        runs.append(time.time() - t0)
    runs.sort()
    timings[name] = round(runs[0], 3)
    medians[name] = round(runs[len(runs) // 2], 3)
    print(f"# {name}: {timings[name]}s (median {medians[name]}s)",
          file=sys.stderr)
noisy = sum(1 for k, m in medians.items()
            if timings[k] > 0.05 and m > 1.5 * timings[k])
print(json.dumps({
    "total": round(sum(timings.values()), 3),
    "queries": timings,
    "queries_median": medians,
    "noisy_query_count": noisy,
}))
"""


def run_mode(mode: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_PLACEMENT"] = mode
    env["SPARK_GRAFT_REPO"] = REPO
    env["SPARK_GRAFT_DIST_KEYS"] = json.dumps(KEYS)
    out = subprocess.run(
        [sys.executable, "-c", _WORKER], env=env,
        capture_output=True, text=True,
    )
    sys.stderr.write(out.stderr[-2000:])
    lines = out.stdout.strip().splitlines()
    rec = json.loads(lines[-1]) if out.returncode == 0 and lines else {}
    if "total" not in rec:
        sys.exit(
            f"bench_distributed: mode {mode} worker exited "
            f"{out.returncode} without a record (stderr tail above)"
        )
    rec["mode"] = mode
    return rec


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "adhoc"
    records = []
    for mode in ("distributed", "cascade"):
        rec = run_mode(mode)
        records.append(rec)
        print(json.dumps(rec))
    path = os.path.join(REPO, f"BENCH_DISTRIBUTED_{tag}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "sf": os.environ.get(
                    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
                ).rstrip("/").rsplit("sf", 1)[-1],
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
                "keys": KEYS,
                "modes": records,
            },
            fh,
            indent=1,
        )
    print(f"# wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
