"""Benchmark harness: runs every registered qid at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value" (total sec), "unit", "queries": {qid:
sec}, "sf", "cpus"}. It writes no file.

Execution is forced through the noop sink — full plan runs (scan ->
shuffle -> sink) with zero driver-collect cost, so timings measure the
engine, not py4j row transfer. First a warmup query JITs codegen paths.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _reference(cpus: int) -> dict[str, float]:
    """The gate's per-qid reference at `cpus` cores: the MIN of each
    qid's non-negative datapoints over the newest 3 driver records
    (BENCH_r*.json, ordered by their round "n") that carry "cpus" ==
    `cpus` and a parsed "queries" dict. Timings scale with the core
    count, so a record at another count never enters. The min keeps one
    host-noisy round from loosening the gate (r14 recorded
    j_entropy_rate at 1.26 s against a healthy 0.607 s), and a slowdown
    that persists for 3 rounds becomes the new reference.

    With no such record the reference is empty, and one stderr line
    names the run's core count and the counts that have records."""
    here = os.path.dirname(os.path.abspath(__file__))
    records = []
    for fname in os.listdir(here):
        if not (fname.startswith("BENCH_r") and fname.endswith(".json")):
            continue
        with open(os.path.join(here, fname)) as f:
            rec = json.load(f)
        if (rec.get("parsed") or {}).get("queries"):
            records.append(rec)
    same = sorted((r for r in records if r.get("cpus") == cpus), key=lambda r: r["n"])
    if not same:
        have = sorted({r["cpus"] for r in records if "cpus" in r})
        print(
            f"BENCH-WARN gate skipped: no driver record at {cpus} cores "
            f"(records exist at cores {have})",
            file=sys.stderr,
        )
    ref: dict[str, float] = {}
    for rec in same[-3:]:
        for qid, t in rec["parsed"]["queries"].items():
            if t >= 0:
                ref[qid] = min(t, ref.get(qid, t))
    return ref


def _violates(t: float, ref_t: float) -> bool:
    """A datapoint flags when it exceeds BOTH 2x its reference and the
    reference + 0.5s (the floor absorbs run noise on sub-second qids)."""
    return t >= 0 and t > max(2 * ref_t, ref_t + 0.5)


def _gate_rc(n_flags: int, gate_mode: str) -> int:
    """Exit-code contract (r16 VERDICT item 1): flags are warnings by
    default — only an explicit SPARK_GRAFT_BENCH_GATE=strict turns them
    into a nonzero exit. The driver's official artifact must not go
    rc=1 on a cold-JVM noise draw over an untouched qid."""
    return 1 if (n_flags and gate_mode == "strict") else 0


def _warn_unknown_gate_mode(gate_mode: str) -> None:
    """The legacy SPARK_GRAFT_BENCH_GATE=on (a hard stop before r16) and
    any other unknown value run warn-only, like the default. Say so on
    stderr, so a caller that expects rc=1 on a flag sees the change."""
    if gate_mode not in ("warn", "strict", "off"):
        print(
            f"BENCH-WARN SPARK_GRAFT_BENCH_GATE={gate_mode!r} runs the gate "
            "warn-only (rc=0 on flags); set it to strict for a hard stop",
            file=sys.stderr,
        )


def _record(
    timings: dict[str, float],
    sf: float,
    n: int,
    cpus: int,
    canary_start: float,
    canary_end: float,
) -> dict:
    """Assemble the one-line JSON record. Field ORDER is load-bearing
    (r16 VERDICT item 2): a capture that keeps only a TAIL of this
    ~12 KB line (BENCH_r15.json lost the head and with it "value" and
    half the qids -> PERF n_common=0) must still hold the total. So
    constant/recoverable metadata goes FIRST (truncated away
    harmlessly), the sorted per-qid dict next, and "value" LAST. "cpus"
    is the N of local[N], the core count the timings were taken at. The
    record is exactly ONE JSON line on stdout."""
    total = round(sum(v for v in timings.values() if v >= 0), 3)
    return {
        "metric": "total_query_wall_sec",
        "unit": "sec",
        "sf": sf,
        "n": n,
        "cpus": cpus,
        "warmed": True,  # table + codegen + UDF-worker warmup in warm_up()
        # warmup regime: subsystems paid OUTSIDE the timed region;
        # numbers are comparable across harnesses that warm the same
        # set. None of these computes any qid's input.
        "warmups": ["tables", "codegen", "udf_daemon", "python_datasource", "derby_catalog"],
        "stat": "min" if n > 1 else "single",
        "canary_start_sec": canary_start,
        "canary_end_sec": canary_end,
        "queries": timings,
        "value": total,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from aprsdb_spark.registry import QUERIES, load_all
    from aprsdb_spark.session import default_parallelism, get_spark

    load_all()
    # initial shuffle partitions sized to the local SF (AQE coalesces down,
    # but task-launch overhead of the initial number still costs ~30% at
    # sf0.1); a real cluster run sets 2-3x total executor cores instead.
    spark = get_spark("aprsdb_spark-bench", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    cpus = default_parallelism()  # the N of local[N]

    t = warm_up(spark, sf_dir)

    # n runs per qid, min reported: r2's gate datapoints were warm n=2
    # while r3/r4 ran cold n=1, and the resulting 1.2-3x "regressions"
    # were mostly measurement regime (BASELINE.md methodology note).
    # Minima compare like with like across rounds; the JSON records the
    # regime so future gates can tell.
    n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "2")))

    # Session-health canary: the same fixed trivial plan timed before and
    # after the sweep. The r10 round recorded a diffuse +21% on the
    # r2-shared qid set that the r11 re-run fully exonerated as host noise
    # (SCALE.md §4r) — cache residue was already impossible (clearCache
    # runs after every qid below). With start/end canary datapoints in the
    # record, the next diffuse creep is attributable in one glance:
    # canary drifted → session/host pressure; canary flat → real per-qid
    # regressions worth chasing.
    # bind the table handle NOW: the gate's retry loop below reuses the
    # name `t` for per-qid timing floats, and a late _canary() call
    # would otherwise close over that
    canary_region = t.region

    def _canary() -> float:
        best = None
        for _ in range(3):
            start = time.perf_counter()
            canary_region.groupBy("r_name").count().write.format("noop").mode(
                "overwrite"
            ).save()
            el = time.perf_counter() - start
            best = el if best is None else min(best, el)
        return round(best, 3)

    canary_start = _canary()
    timings: dict[str, float] = {}
    for qid in sorted(QUERIES):
        fn = QUERIES[qid]
        best = None
        for _ in range(n):
            start = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                elapsed = round(time.perf_counter() - start, 3)
                best = elapsed if best is None else min(best, elapsed)
            except Exception as e:  # a failing query must not kill the bench
                best = -1.0
                print(f"BENCH-ERROR {qid}: {e}", file=sys.stderr)
                break
        timings[qid] = best
        # Drop blocks persisted inside the qid (LSH bands, parse chains,
        # …): queries never share caches across qids (each builds its own
        # lineage), so accumulation is pure executor-memory/disk pressure
        # over a 122-qid session. Within a qid's n runs the cache DOES
        # carry (CacheManager dedups canonicalized plans) — that's the
        # warm regime being measured.
        spark.catalog.clearCache()

    # Regression gate (BASELINE.md): any qid > 2x its reference, the min
    # over the driver's newest 3 records at this run's core count
    # (_reference), flags the bench. The +0.5s floor absorbs run noise
    # on sub-second qids; disable with SPARK_GRAFT_BENCH_GATE=off. Gate
    # only at the recorded scale factor — other SFs have no reference
    # datapoints. Runs BEFORE the JSON line so retried minima land in
    # the recorded datapoints.
    #
    # Exit policy (r16 VERDICT item 1): the gate is a BUILDER aid — a
    # >2x threshold over sub-3-second qids on a cold JVM fires
    # spuriously about once per sweep (r16's driver run exited rc=1 on
    # j_ivf_nprobe_curve reading 3.22s cold vs a 1.57s min reference on
    # CODE-UNTOUCHED qid). Default is therefore WARN-ONLY (rc=0, flags
    # on stderr); SPARK_GRAFT_BENCH_GATE=strict restores sys.exit(1)
    # for builder A/B loops that want a hard stop.
    gate_mode = os.environ.get("SPARK_GRAFT_BENCH_GATE", "warn")
    _warn_unknown_gate_mode(gate_mode)
    slow: list[tuple[str, float, float]] = []
    if sf == 0.1 and gate_mode != "off":
        ref = _reference(cpus)

        def violates(qid: str, t: float) -> bool:
            return qid in ref and _violates(t, ref[qid])

        # A 120-qid session has per-qid scheduler/GC noise a fixed
        # threshold can't absorb (d_agg_basic: 1.2s mid-session vs a
        # 0.55s isolated steady state). Re-measure violators up to twice
        # before declaring a regression — a real slowdown (the r3 28s
        # lineage bug) reproduces on retry; a one-off noise spike doesn't.
        for qid, t in sorted(timings.items()):
            if not violates(qid, t):
                continue
            for _ in range(2):
                start = time.perf_counter()
                try:
                    QUERIES[qid](spark, sf_dir).write.format("noop").mode("overwrite").save()
                except Exception:
                    break
                t = min(t, round(time.perf_counter() - start, 3))
                if not violates(qid, t):
                    break
            timings[qid] = t
            if violates(qid, t):
                slow.append((qid, t, ref[qid]))

    record = _record(timings, sf, n, cpus, canary_start, _canary())

    # Flags go out BEFORE the JSON line so the record is the LAST thing
    # on the combined stream — a tail-truncating capture keeps it whole.
    for qid, t, r in slow:
        print(f"BENCH-REGRESSION {qid}: {t:.3f}s vs recorded {r:.3f}s (>2x)", file=sys.stderr)
    sys.stderr.flush()
    print(json.dumps(record))

    rc = _gate_rc(len(slow), gate_mode)
    if rc:
        sys.exit(rc)


def warm_up(spark, sf_dir: str):
    """Pay the session's per-subsystem fixed costs outside any timed
    region, and return the table handles (`tables.load`): every table
    and the codegen paths, the Python UDF daemon, the Python DataSource
    workers and the derby catalog (the "warmups" of `_record`). None of
    them computes any qid's input. `scripts/profile_qids.py` calls it
    too, so its profiles share the bench's warm regime."""
    from aprsdb_spark.tables import load

    t = load(spark, sf_dir)
    t.lineitem.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
    # warm the python UDF workers too — their ~3s daemon startup is a
    # per-session fixed cost, not a property of whichever UDF query
    # happens to run first
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    _ident = pandas_udf(lambda s: s, "long")
    t.region.select(_ident(F.col("r_regionkey"))).write.format("noop").mode("overwrite").save()
    # warm the Python DataSource machinery (driver-side schema worker +
    # executor datasource workers) and the derby catalog the same way:
    # both are per-session fixed costs (~6 s and ~0.5 s measured r16)
    # that otherwise land on whichever qid touches the subsystem first
    # (a_pysrc_replay, a_sink_bucketed). The warmup source is a 1-row
    # dummy — none of any qid's input or work is precomputed.
    try:
        from pyspark.sql.datasource import DataSource, DataSourceReader

        class _WarmReader(DataSourceReader):
            def read(self, partition):
                yield (0,)

        class _WarmSource(DataSource):
            @classmethod
            def name(cls) -> str:
                return "sg_bench_warmup_src"

            def schema(self) -> str:
                return "v int"

            def reader(self, schema):
                return _WarmReader()

        spark.dataSource.register(_WarmSource)
        spark.read.format("sg_bench_warmup_src").load().write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:
        pass  # optional warm: absence must not fail the bench
    spark.catalog.listDatabases()
    return t


if __name__ == "__main__":
    main()
