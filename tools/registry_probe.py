"""Registry-build probe: what does building each registered query cost?

For every entry of ``queries()``, in registry order, calls
``fn(spark, sf_dir)`` and reads ``.schema`` -- the caller runs no
action, so any Spark job counted here ran while the query was being
BUILT (fixture materialization, streaming drains, driver collects).
Per query it prints the build wall and the number of jobs in that
call's job group; at the end, the totals and the temp directories the
builds left alive in this process.

    python tools/registry_probe.py /root/testdata/sf0.001 [name,name,...]

Run from the repository root (or anywhere: the repo root is put on
``sys.path``).  Output is one TSV line per query, then ``total`` and
``alive`` lines; ``--json FILE`` also writes the per-query rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _temp_entries() -> set[str]:
    return set(os.listdir(tempfile.gettempdir()))


def _store_dirs() -> int | None:
    """Directories under the fixture store's root, None where the
    package has no store."""
    try:
        from binlog_avro_comparator_spark.functions import caching
    except ImportError:
        return None
    root = getattr(caching, "_STORE_ROOT", None)
    if root is None or not hasattr(caching, "materialized"):
        return None
    return len(os.listdir(root)) if os.path.isdir(root) else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("only", nargs="?", help="comma-separated query names")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--json", help="write per-query rows to this file")
    args = ap.parse_args(argv)

    from binlog_avro_comparator_spark.plans.registry import queries
    from binlog_avro_comparator_spark.session import get_spark

    before = _temp_entries()
    spark = get_spark("registry_probe", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    qs = queries()
    names = args.only.split(",") if args.only else list(qs)

    rows = []
    print("query\tbuild_s\tjobs\tstatus", flush=True)
    for name in names:
        group = f"probe_{len(rows)}"
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        status = "ok"
        try:
            qs[name](spark, args.sf_dir).schema
        except Exception as e:  # report and go on: one failure is one row
            status = f"error:{type(e).__name__}"
        wall = time.perf_counter() - t0
        jobs = len(tracker.getJobIdsForGroup(group))
        rows.append({"query": name, "build_s": round(wall, 3), "jobs": jobs, "status": status})
        print(f"{name}\t{wall:.3f}\t{jobs}\t{status}", flush=True)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    total_s = sum(r["build_s"] for r in rows)
    total_jobs = sum(r["jobs"] for r in rows)
    with_jobs = sum(r["jobs"] > 0 for r in rows)
    failed = sum(r["status"] != "ok" for r in rows)
    print(
        f"total\tbuild_s={total_s:.1f}\tjobs={total_jobs}\t"
        f"queries={len(rows)}\twith_jobs={with_jobs}\tfailed={failed}"
    )
    new = sorted(_temp_entries() - before)
    print(f"alive\tnew_temp_entries={len(new)}\tstore_dirs={_store_dirs()}")
    if args.json:
        with open(args.json, "w", encoding="utf-8") as f:
            json.dump({"rows": rows, "new_temp_entries": new}, f, indent=1)
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
