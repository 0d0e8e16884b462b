"""Per-qid profiler (optimization round instrumentation, guide §1).

For each qid (all, or the ones named on argv) measures, at
$SPARK_GRAFT_SF_DIR with the bench's session shape:

- build_s: wall time of fn(spark, sf_dir) — pure plan construction
  (driver-side Python + analysis),
- exec_s:  wall time of the noop-sink write, per run (n runs),
- jobs / stages / tasks: scheduler counts attributable to the qid's
  execution, from the UI REST API deltas.

Writes one JSON line per qid to stdout and a summary to stderr.
Run it alone on the host — concurrent load poisons the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _rest_counts(base: str, app_id: str) -> tuple[int, int, int]:
    try:
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}/jobs", timeout=5) as r:
            jobs = json.load(r)
        njobs = len(jobs)
        nstages = sum(len(j.get("stageIds", [])) for j in jobs)
        ntasks = sum(j.get("numTasks", 0) for j in jobs)
        return njobs, nstages, ntasks
    except Exception:
        return -1, -1, -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "2")))
    only = set(sys.argv[1:])

    from aprsdb_spark.registry import QUERIES, load_all
    from aprsdb_spark.session import get_spark
    from bench import warm_up

    load_all()
    spark = get_spark("aprsdb_spark-profile", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, sf_dir)  # the bench's warm regime, so profiles stay comparable

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    qids = [q for q in sorted(QUERIES) if not only or q in only]
    rows = []
    for qid in qids:
        fn = QUERIES[qid]
        spark.sparkContext.setJobDescription(f"profile:{qid}")
        j0, s0, t0 = _rest_counts(base, app_id)
        tb = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
        except Exception as e:
            print(json.dumps({"qid": qid, "err": f"build: {e}"}))
            continue
        build_s = round(time.perf_counter() - tb, 3)
        execs = []
        try:
            for _ in range(n):
                te = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                execs.append(round(time.perf_counter() - te, 3))
        except Exception as e:
            print(json.dumps({"qid": qid, "build_s": build_s, "err": f"exec: {e}"}))
            spark.catalog.clearCache()
            continue
        j1, s1, t1 = _rest_counts(base, app_id)
        spark.catalog.clearCache()
        rec = {
            "qid": qid,
            "build_s": build_s,
            "exec_s": execs,
            "best_s": min(execs),
            "total_s": round(build_s + min(execs), 3),
            "jobs": j1 - j0,
            "stages": s1 - s0,
            "tasks": t1 - t0,
        }
        rows.append(rec)
        print(json.dumps(rec), flush=True)

    rows.sort(key=lambda r: -(r["build_s"] + r["best_s"]))
    print("\n== slowest (build + best exec) ==", file=sys.stderr)
    for r in rows[:40]:
        print(
            f"{r['build_s'] + r['best_s']:8.3f}  build={r['build_s']:6.3f} "
            f"exec={r['best_s']:6.3f} jobs={r['jobs']:3d} tasks={r['tasks']:5d}  {r['qid']}",
            file=sys.stderr,
        )
    tot_b = sum(r["build_s"] for r in rows)
    tot_e = sum(r["best_s"] for r in rows)
    print(f"TOTAL build={tot_b:.1f}s exec(best)={tot_e:.1f}s n={len(rows)}", file=sys.stderr)


if __name__ == "__main__":
    main()
