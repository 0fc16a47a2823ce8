#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Output contract (driver-proof): the LAST stdout line is ONE compact JSON
headline — total seconds, query count, sf, the task slots it ran on
(`cpus_effective`), calibration — guaranteed to fit
the driver's 2 KB stdout-tail capture (round 3's per-query map pushed the
headline past the tail and the driver recorded "parsed": null). Per-query
times and GC detail go to a sidecar file ($SPARK_GRAFT_BENCH_DETAIL,
default bench_detail.json next to this script), committed per round as
BENCH_r{N}_local.json. Progress chatter goes to stderr only.

The ledger of recorded runs lives in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time


def clean_window(elapsed_s: float, steal_core_s: float) -> bool:
    """True when a timing window saw no significant CPU theft.

    ``steal_core_s`` is machine-wide stolen core-seconds during the window
    (/proc/stat field 8 delta / USER_HZ). Sustained theft of >= a quarter
    of one core — floored at 0.5 core-s so sub-second queries aren't
    flagged by scheduler jitter — marks the measurement degraded; the
    bench then re-runs it (bounded) instead of shipping a spliced local
    artifact (VERDICT r04 #2)."""
    return steal_core_s <= max(0.5, 0.25 * elapsed_s)


def _calibrate() -> dict[str, float]:
    """Single-core machine-speed probes, measured BEFORE Spark starts.

    Recorded in the output JSON so wall-clock totals are comparable across
    sessions: rounds run on freshly-booted sandboxes whose per-core speed
    varies ~2× (round 2's '2.16× regression' with an untouched diff was
    exactly this). Interpret `value` relative to `calibration`, and compare
    ledger entries at like-for-like calibration."""
    import numpy as np

    t0 = time.monotonic()
    s = 0
    for i in range(10_000_000):
        s += i
    py = time.monotonic() - t0
    a = np.random.RandomState(0).rand(2000, 2000)
    t0 = time.monotonic()
    (a @ a).sum()
    np_t = time.monotonic() - t0
    return {"python_loop_s": round(py, 3), "numpy_matmul_s": round(np_t, 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")

    calibration = _calibrate()

    from zipkin_dependencies_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the machinery the timings shouldn't charge to the first query:
    # JVM codegen, parquet footer reads, and the Python/Arrow worker pool
    # (mapInPandas spawns one worker per core on first use).
    import pandas as pd  # noqa: F401

    def _noop(batches):
        for b in batches:
            yield b

    warm = spark.range(0, 1_000, 1, int(cpus))
    warm.mapInPandas(_noop, schema="id long").count()

    all_queries = entry.queries()
    # headline set: the full zipkin pipeline (scan → group-by-trace → linker
    # kernel → global agg), the v1 parity path, and representative relational
    # + extension operators. Excluded: cheap scalar checks, and the streaming
    # orchestration query (foreachBatch + filesystem staging — the
    # correctness gate covers it; its wall time measures the scheduler).
    headline = [
        name
        for name in all_queries
        if name
        not in (
            "trace_normalize",
            # streaming orchestration queries: availableNow replay through
            # foreachBatch / file-sink staging — correctness-gated, but
            # their wall time measures the micro-batch scheduler and
            # filesystem staging, not an engine plan
            "streaming_daily_links",
            "streaming_funnel_replay",
            "streaming_anomalies_replay",
            "streaming_bursts_replay",
            "streaming_join_replay",
            "streaming_sessions_replay",
            "streaming_dedup_replay",
            # r07 (r06 verdict #6): the stateful linker joins the class —
            # its 16.3 s r06 cost was three maxFilesPerTrigger=1 batches +
            # state-store round-trips + awaitTermination, identical in
            # KIND to the seven above. The value-hash oracle gate still
            # runs it every round — the gate is the point; the bench
            # headline measures engine plans
            "streaming_links_stateful",
            # r07: foreachBatch incremental CDC apply — same class
            # (file staging + micro-batch choreography + snapshot
            # read-merge-write per batch; the oracle gate holds the
            # final snapshot)
            "streaming_cdc_replay",
        )
    ]
    # optional subset (scaling-tier runs measure the expensive scale-path
    # queries only): comma-separated names, order preserved
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        wanted = [s.strip() for s in subset.split(",") if s.strip()]
        unknown = [w for w in wanted if w not in all_queries]
        if unknown:
            raise SystemExit(f"unknown bench queries: {unknown}")
        headline = wanted

    # driver GC time (local mode: driver == executors, so this is ALL GC).
    # Per-query GC deltas separate "the plan is slow" from "the session is
    # sick" — round 2 shipped a 2.16× bench total without this and the
    # regression turned out to be environmental.
    gc_beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )

    def gc_ms() -> int:
        return sum(b.getCollectionTime() for b in gc_beans)

    def steal_ticks() -> int:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])

    # JIT warmup pass at the smoke SF: every plan executes once on tiny
    # inputs before anything is timed. Plan shapes (and therefore generated
    # code) are SF-independent, so this pre-compiles every query's codegen
    # and pushes the JVM's hot paths through C2 — measured: v1_links' first
    # timed sf0.1 run drops 16.6 s → 5.3 s with this pass in place. Costs
    # ~1 s/query of untimed wall, affects no recorded number except by
    # removing compiler noise from pass 1. The warmup dir is derived from
    # the configured sf_dir's parent (smallest sibling sf), not hardcoded,
    # so a relocated testdata root still warms up.
    base = os.path.dirname(os.path.abspath(sf_dir.rstrip("/")))
    sibs = sorted(
        (d for d in os.listdir(base) if d.startswith("sf"))
        if os.path.isdir(base) else [],
        key=lambda d: float(d[2:]) if d[2:].replace(".", "", 1).isdigit() else 1e9,
    )
    warm_dir = os.path.join(base, sibs[0]) if sibs else None
    if warm_dir is None or not os.path.isdir(warm_dir):
        print("# no warmup dir found; pass-1 timings include JIT", file=sys.stderr)
    else:
        for name in headline:
            try:
                all_queries[name](spark, warm_dir).count()
            except Exception as ex:  # pragma: no cover - diagnostics only
                print(f"# warmup {name} failed: {ex}", file=sys.stderr)

    timings: dict[str, float] = {}
    gc_per_query: dict[str, int] = {}
    steal_per_query: dict[str, float] = {}
    has_clean: dict[str, bool] = {}
    steal0 = steal_ticks()

    def run_once(tag: str, name: str) -> None:
        g0 = gc_ms()
        s0 = steal_ticks()
        t0 = time.monotonic()
        n = all_queries[name](spark, sf_dir).count()  # forces the full plan
        el = round(time.monotonic() - t0, 3)
        st = round((steal_ticks() - s0) / 100.0, 2)
        gc = gc_ms() - g0
        prev = timings.get(name)
        if prev is None or el < prev:
            timings[name] = el
            gc_per_query[name] = gc
            steal_per_query[name] = st
        # ANY clean run certifies the kept min: either the min is itself
        # clean, or it is FASTER than a clean-window run (steal did not
        # inflate it) — both are trustworthy floors.
        if clean_window(el, st):
            has_clean[name] = True
        print(
            f"# {tag} {name}: {el:.2f}s ({n} rows, gc {gc}ms, steal {st}cs)",
            file=sys.stderr,
        )

    # best-of-2 as two SEPARATED full passes, not back-to-back repeats: the
    # first execution of each distinct plan pays one-time codegen cost
    # (measured: 7.6s -> 2.5s steady state), so a repeat is needed — but this
    # sandbox also shows transient tens-of-seconds machine slowdowns (CPU
    # steal bursts) that hit BOTH adjacent repeats of the same query and its
    # neighbors (observed: 4 consecutive linker queries all 2-5x slow in one
    # run, all at floor in the next). Min across two passes separated by the
    # full suite length decorrelates query cost from burst timing.
    from zipkin_dependencies_spark.memo import clear_all_memos

    for pass_i in range(2):
        # pass boundary: drop cross-query memos so the repeat pass re-pays
        # every pipeline (within a pass, the second consumer of a shared
        # subtree is deliberately ~free — that IS the measured design)
        clear_all_memos()
        for name in headline:
            run_once(f"pass{pass_i}", name)

    # Steal-aware bounded re-runs (the r04 ask): when a query's kept
    # measurement comes only from degraded windows, re-run it — up to two
    # extra rounds — so ONE driver invocation yields a clean artifact
    # without local splicing. Each retry round is a mini-pass over the
    # still-degraded set in registry order with memos cleared at the round
    # boundary, preserving the pass semantics (memo builders pay, same-round
    # consumers get the in-pass discount, exactly as in a full pass).
    retried: list[str] = []
    for retry_i in range(2):
        degraded = [n for n in headline if not has_clean.get(n, False)]
        if not degraded:
            break
        print(
            f"# retry{retry_i}: {len(degraded)} degraded-window queries",
            file=sys.stderr,
        )
        retried = sorted(set(retried) | set(degraded))
        clear_all_memos()
        for name in degraded:
            run_once(f"retry{retry_i}", name)

    still_degraded = [n for n in headline if not has_clean.get(n, False)]
    # the task slots the queries actually ran on (local[N] gives N whatever
    # the host's core count), so a reader need not infer it from the master
    cpus_effective = spark.sparkContext.defaultParallelism
    calibration["steal_s"] = round((steal_ticks() - steal0) / 100.0, 1)
    total = round(sum(timings.values()), 3)

    # floor ratios (VERDICT r08 #5): compare each timing to its best
    # recorded clean-window sf0.1 floor (BASELINE_floors.json, regenerated
    # by tools/gen_floors.py) so post-r01 regressions trip mechanically
    # instead of by ledger archaeology. Ratios are only meaningful at
    # sf0.1 on like-for-like calibration; other SFs skip the comparison.
    floors_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_floors.json"
    )
    floor_ratio: dict[str, float] = {}
    floor_trips: list[str] = []
    # distinguish "compared, zero trips" from "comparison never ran"
    # (sf != 0.1 or no floors file): the latter reports null, not 0.
    # Trips are advisory on an off-calibration sandbox — BASELINE.md
    # records ~2x per-core variance across freshly-booted machines; read
    # trips against the run's recorded `calibration` before believing
    # them (floors were set near python_loop_s ~0.33-0.36).
    floor_check_ran = False
    if sf == 0.1 and os.path.exists(floors_path):
        floor_check_ran = True
        with open(floors_path) as fh:
            floors = json.load(fh)
        for name, sec in timings.items():
            ent = floors.get(name, {})
            fl = ent.get("floor_sec")
            if fl:
                r = round(sec / fl, 2)
                floor_ratio[name] = r
                # trip = 2x the recorded clean floor AND >1s absolute (a
                # 0.3s->0.7s wobble is scheduler noise, not a regression).
                # Memo-family members never trip individually: their rows
                # are order-dependent amortized costs (first consumer pays
                # the shared build) — the family-total entries below are
                # the real trip wire for them (r11, VERDICT r10 #2/#5).
                if r > 2.0 and sec - fl > 1.0 and "family" not in ent:
                    floor_trips.append(name)
        # family-total floors: sum the members measured this run and
        # compare to the recorded family floor (tools/gen_floors.py)
        for key, ent in floors.items():
            members = ent.get("members")
            if not key.startswith("family:") or not members:
                continue
            if any(m not in timings for m in members):
                continue
            tot = round(sum(timings[m] for m in members), 3)
            fl = ent["floor_sec"]
            r = round(tot / fl, 2)
            floor_ratio[key] = r
            if r > 2.0 and tot - fl > 1.0:
                floor_trips.append(key)
        if floor_trips:
            print(
                f"# FLOOR TRIPS (>2x clean floor): {sorted(floor_trips)}",
                file=sys.stderr,
            )
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"),
    )
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus_effective": cpus_effective,
        "calibration": calibration,
        "gc_ms": gc_per_query,
        # per-query stolen core-seconds during the KEPT run's window, the
        # queries the steal-aware retry loop re-ran, and any whose every
        # run (2 passes + 2 retries) was still degraded — a reader can
        # judge each floor without cross-referencing other artifacts
        "steal_cs": steal_per_query,
        "retried": retried,
        "still_degraded": still_degraded,
        # sec / best recorded clean-window floor (BASELINE_floors.json);
        # queries above 2x the floor by >1s listed in floor_trips.
        # floor_trips is None when the comparison never ran (sf != 0.1
        # or missing floors file) — never conflate with "zero trips"
        "floor_ratio": floor_ratio,
        "floor_trips": sorted(floor_trips) if floor_check_ran else None,
    }
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"# per-query detail written to {detail_path}", file=sys.stderr)
    # LAST stdout line: compact headline only (the driver captures a 2 KB
    # stdout tail — this must always fit, whatever the query count). The
    # "queries" key stays present for parsers that expect it, bounded to
    # the 5 slowest; the full map is in the sidecar.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": slowest,
                "sf": sf,
                "cpus_effective": cpus_effective,
                "calibration": calibration,
                "n_retried": len(retried),
                "n_still_degraded": len(still_degraded),
                "n_floor_trips": len(floor_trips) if floor_check_ran else None,
                "detail": os.path.basename(detail_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
