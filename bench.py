"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints the headline JSON line LAST:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The final stdout line is a COMPACT headline (≤ ~1.9 kB, sized for the
driver's 2000-char stdout tail capture — BENCH_r11 lost its number to
a fat line); the full artifact is printed as the line before it and
written to ``BENCH_DETAIL.json`` next to this file.

Two measurements, both reported:

- ``queries`` / ``serial_total``: each query alone (min over full-suite
  passes, run to CONVERGENCE — at least SPARK_GRAFT_BENCH_REPS passes,
  then more until the MINIMUM pass total has stopped improving for
  REPS-1 consecutive passes (the reported number is a min, so the min
  is what must stabilize: a "last near best" test is vacuous during
  JIT warmup, and a rising pressure tail must not unconverge a stable
  min), up to
  SPARK_GRAFT_BENCH_MAX_REPS; the shared box shows multi-second
  external load spikes, and an unconverged run self-declares
  ``contaminated``; executed to completion executor-side via a noop
  sink) — the per-query engine cost, comparable 1:1 with the DuckDB
  oracle timings taken before AND after the Spark phases in the same
  artifact.
- ``value`` (headline): wall-clock to complete the WHOLE workload with
  the queries batched through one FAIR-scheduled session from worker
  threads. At micro scale factors every Spark query carries a fixed
  scheduling/codegen floor (~0.3-0.5 s) that is latency, not
  throughput — the floor overlaps across concurrent queries exactly
  as it does on a real cluster, so the workload wall time is the
  honest throughput number. ``execution`` names the mode; a serial
  single-stream number is always present next to it.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from big_data_bowl_2026_analytics_spark.core import get_spark
from big_data_bowl_2026_analytics_spark.plans import all_queries

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_region_nation_revenue",
    "q04_exists_semi_join",
    "q06_conditional_distinct_counts",
    "q07_argmin_per_group",
    "q08_pivot_returnflag",
    # windows / time series
    "q20_running_total",
    "q24_sessionization",
    "q25_tumbling_window_hourly",
    # dedup / text pipeline
    "q30_dedup_exact",
    "q32_lsh_candidate_pairs",
    "q34_simhash",
    "q37_token_stats",
    # similarity search
    "q40_cosine_topk_bruteforce",
    "q42_ann_topk_lsh",
    "q62_ivf_topk",
    # temporal joins + skew path
    "q45_skew_salted_aggregation",
    "q46_asof_join",
    "q47_range_join_bucketed",
    # ML scoring + evaluation
    "q50_model_scoring_udf",
    "q52_binary_metrics",
]


def bracket_ratio_contaminated(
    pre_total: float, post_total: float, threshold: float = 1.5
) -> bool:
    """True when the pre/post bracketing-oracle totals disagree by more
    than ``threshold`` in either direction — the same queries on the
    same engine timed before and after the Spark phases, so the ratio
    is a pure box-drift probe (r13 verdict #2: BENCH_r13's post bracket
    ran 2.3x its pre bracket and the drift was invisible in the flags).
    """
    lo, hi = min(pre_total, post_total), max(pre_total, post_total)
    return lo > 0 and hi / lo > threshold


def main() -> None:
    # Load guard (r8 verdict #4), settle-then-measure: the 1-minute
    # load average DECAYS over ~a minute, so right after any heavy
    # work (the driver's own correctness runs; a prior bench) it reads
    # high while the CPUs are already idle. Waiting for it to drop
    # below the threshold both avoids real contention and keeps the
    # contaminated flag meaningful — it then fires only when load is
    # GENUINELY still present after the settle window.
    #
    # r10 lesson: BENCH_r10 opened with the 1-minute average settled
    # (1.89) while the 15-minute average read 18.07 — the box was
    # still digesting a heavy multi-minute phase and the serial reps
    # never converged. The guard therefore waits for the 1-minute AND
    # 5-minute averages (the 5-minute one decays within the settle
    # cap; the 15-minute one cannot, so it is recorded, not gated on),
    # and the cap is sized for the 5-minute decay.
    load_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_THRESHOLD", "2.0"))
    settle_cap = float(os.environ.get("SPARK_GRAFT_SETTLE_CAP_S", "300"))
    settle_wait = 0.0
    while (
        max(os.getloadavg()[0], os.getloadavg()[1]) > load_threshold
        and settle_wait < settle_cap
    ):
        time.sleep(5.0)
        settle_wait += 5.0
    load_start = os.getloadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import re

    m = re.search(r"sf([0-9.]+)$", Path(sf_dir).name)
    try:
        sf = float(m.group(1)) if m else -1.0
    except ValueError:
        sf = -1.0
    # Local-mode benchmark sizing: the per-query data here is a few
    # hundred MB at most, so a handful of fat shuffle partitions beats
    # one-per-core micro-tasks (measured ~2x on the join-heavy
    # queries). On a real cluster this is overridden by spark-submit
    # conf.
    try:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"))
    except ValueError:
        shuffle_partitions = 8
    # Resilience contract: the driver records whatever single JSON
    # line this prints — an uncaught exception anywhere below would
    # record NOTHING for the whole round (this happened in round 2:
    # a schema change in the regenerated testdata threw during table
    # pinning, before the first query ran). Every per-query and
    # per-table step is therefore individually guarded; failures are
    # reported in an "errors" field instead of aborting the run.
    errors: dict[str, str] = {}

    specs = all_queries()
    names = [n for n in HEADLINE if n in specs]

    # Per-query DuckDB oracle timings (r9 verdict #6), now run BEFORE
    # and AFTER the Spark phases (r10 verdict #1): BENCH_r10's oracle
    # pass ran only after all Spark work and caught the quietest
    # window of a loaded box, biasing the serial/oracle ratio against
    # Spark. Bracketing the Spark phases with one oracle pass on each
    # side makes load bias visible on BOTH engines: a pre/post total
    # disagreement flags a drifting box inside the artifact itself.
    # min-of-2 per query within each pass, matching the judge's
    # bench_duckdb.py methodology; the reported per-query number is
    # the min across both passes.
    oracle_enabled = os.environ.get("SPARK_GRAFT_BENCH_ORACLE", "1") == "1"
    oracle_con = None
    if oracle_enabled:
        try:
            import duckdb

            from big_data_bowl_2026_analytics_spark.sources.readers import (
                TPCH_TABLES,
            )

            oracle_con = duckdb.connect()
            for table in TPCH_TABLES:
                oracle_con.execute(
                    f"CREATE OR REPLACE VIEW {table} AS "
                    f"SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
                )
        except Exception as exc:  # noqa: BLE001
            errors["_oracle"] = f"{type(exc).__name__}: {exc}"
            oracle_con = None

    def _oracle_pass() -> dict[str, float]:
        res: dict[str, float] = {}
        for name in names:
            spec = specs.get(name)
            if spec is None or not spec.oracle:
                continue
            try:
                best = float("inf")
                for _ in range(2):
                    t0 = time.perf_counter()
                    oracle_con.execute(spec.oracle).fetchall()
                    best = min(best, time.perf_counter() - t0)
                res[name] = round(best, 3)
            except Exception as exc:  # noqa: BLE001
                errors[f"_oracle_{name}"] = f"{type(exc).__name__}: {exc}"
        return res

    oracle_pre: dict[str, float] = {}
    if oracle_con is not None:
        oracle_pre = _oracle_pass()

    # FAIR scheduling with a fair default pool, so the concurrent
    # phase's jobs share executor slots instead of queueing FIFO.
    pool_xml = Path(__file__).resolve().parent / "spark-warehouse" / "fairscheduler.xml"
    pool_xml.parent.mkdir(exist_ok=True)
    pool_xml.write_text(
        '<?xml version="1.0"?>\n<allocations>\n'
        '  <pool name="default">\n'
        "    <schedulingMode>FAIR</schedulingMode>\n"
        "    <weight>1</weight>\n    <minShare>0</minShare>\n"
        "  </pool>\n</allocations>\n"
    )
    spark = get_spark(
        "bench",
        shuffle_partitions=shuffle_partitions,
        extra_conf={
            "spark.scheduler.mode": "FAIR",
            "spark.scheduler.allocation.file": str(pool_xml),
            # Micro-SF latency trims (pure overhead below ~1 GB/query;
            # a cluster submit overrides them): no locality wait in
            # local mode, no compression on tiny shuffle blocks.
            "spark.locality.wait": "0s",
            "spark.shuffle.compress": "false",
            "spark.shuffle.spill.compress": "false",
            # The 22-query suite generates >100 codegen'd stages, so
            # the default 100-entry compiled-class cache evicts every
            # stage between the interleaved passes and each rep pays
            # full re-JIT (~0.1-0.3 s/query) — measured as the entire
            # r6->r8 "serial drift" (PERF.md round 9: back-to-back
            # 6.6 s vs interleaved 10.2 s, same tree, same box).
            # A resident deployment sizes this to its working set.
            "spark.sql.codegen.cache.maxEntries": "2000",
        },
    )

    # AQE materializes every shuffle stage-by-stage to re-plan at
    # runtime; that adds a fixed per-stage latency that pays for
    # itself on a cluster (skew splits, coalescing) but is pure
    # overhead at sub-GB scale factors (~15% measured at sf0.1).
    # The session default (core/session.py) keeps AQE on; the bench
    # turns it off for micro-SF runs unless asked otherwise.
    if os.environ.get("SPARK_GRAFT_BENCH_AQE", "0") != "1":
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    # Warm up JVM/codegen paths outside the timed region.
    try:
        specs[names[0]].builder(spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001
        errors["_warmup"] = f"{type(exc).__name__}: {exc}"

    def _suite_warmup_pass() -> None:
        """Run the whole suite once, untimed (r11 verdict #2).

        BENCH_r11's serial phase hit max_reps still falling
        (21.6 -> ... -> 5.598, ``serial_converged: false``): the first
        several timed passes were measuring whole-stage-codegen JIT
        warmup, not the engine, and the min-stability test correctly
        refused to call that converged. With the codegen cache sized to
        the suite (r9 fix above), warm state is stable — so paying one
        untimed full-suite pass up front moves the JIT cost out of the
        timed region entirely and the timed min stabilizes within the
        normal rep budget even on a slow driver box.
        """
        for name in names:
            if name in errors:
                continue
            try:
                df = specs[name].builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"

    # Shared-scan fusion: the 21 headline queries read the same ten
    # base tables 30+ times between them. Pinning those scans in the
    # in-memory columnar cache once was the r5-r12 methodology; the
    # r13 optimization round turned it OFF BY DEFAULT: caching base
    # tables outside the timed region means the timed passes no longer
    # compute from the parquet inputs, which overstates the engine
    # against an oracle that re-reads parquet every query. Every
    # headline number now pays its own scans; the unsplittable-file
    # parallelism the cache used to provide is instead addressed
    # inside the affected queries (see OPTIMIZATION_r13.md). Re-enable
    # with SPARK_GRAFT_BENCH_CACHE=1 only for methodology A/Bs.
    if os.environ.get("SPARK_GRAFT_BENCH_CACHE", "0") == "1":
        from big_data_bowl_2026_analytics_spark.sources.readers import pin_table

        for table in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            try:
                pin_table(spark, sf_dir, table)
            except Exception as exc:  # noqa: BLE001
                errors[f"_pin_{table}"] = f"{type(exc).__name__}: {exc}"

    # N executions per query, report the min: the first run pays
    # one-time whole-stage-codegen compilation (~1s/query), which at a
    # real scale factor is noise but at sf0.1 would dominate the
    # measurement of the engine itself. The builder stays INSIDE the
    # timed region: some builders do real work eagerly (e.g. the LSH
    # self-join materializes its signature pipeline), and excluding
    # that would under-count the query.
    #
    # Repetitions are INTERLEAVED as full-suite passes (pass 1 runs
    # every query, then pass 2, ...) rather than back-to-back per
    # query: the shared box shows multi-second external load spikes
    # (BENCH_r07 recorded a uniform ~1.28x contention inflation), and
    # back-to-back reps all land inside one spike while suite-level
    # passes spread each query's samples minutes apart. Per-pass
    # totals are emitted so a contaminated pass is visible in the
    # round artifact instead of silently becoming the number.
    # Convergence, not fixed reps (r10 verdict #1): BENCH_r10's serial
    # pass totals were still FALLING at the fixed-rep cutoff
    # (27.2 -> 12.4 -> 11.5) — the min-of-3 captured a still-loaded
    # box. Run at least n_reps full-suite passes, then keep adding
    # passes until the MINIMUM pass total has not improved for
    # n_reps-1 consecutive passes (min-stability: the reported number
    # is a min, so the min is what must stabilize), up to max_reps. A
    # run that hits max_reps unconverged declares itself in the
    # artifact (serial_converged: false) instead of silently shipping
    # a contaminated number.
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    max_reps = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_REPS", "10"))
    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") == "1":
        _suite_warmup_pass()
    rep_timings: dict[str, list[float]] = {name: [] for name in names}
    pass_totals: list[float] = []
    pass_counts: list[int] = []
    while True:
        pass_total = 0.0
        pass_count = 0
        for name in names:
            if name in errors:
                continue
            try:
                t0 = time.perf_counter()
                df = specs[name].builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                rep_timings[name].append(elapsed)
                pass_total += elapsed
                pass_count += 1
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"
        pass_totals.append(round(pass_total, 3))
        pass_counts.append(pass_count)
        # Converged = the MINIMUM pass has stopped improving for
        # n_reps-1 consecutive passes. The reported number is a min,
        # so what needs to stabilize is the min — not the last pass.
        # A "last within tol of best" test is vacuous while passes
        # are still falling (the last pass IS the best during JIT
        # warmup: r11's first local run declared 19.1 -> 9.7 -> 7.6
        # "converged" mid-warmup), and a rising tail (measurement-
        # side allocator/GC pressure accumulating across reps — the
        # r11 batched trace) should not unconverge a stable min;
        # external load spikes remain visible in the loadavg fields.
        best_idx = pass_totals.index(min(pass_totals))
        if (
            len(pass_totals) >= n_reps
            and len(pass_totals) - 1 - best_idx >= n_reps - 1
        ):
            serial_converged = True
            break
        if len(pass_totals) >= max_reps:
            serial_converged = False
            break
    # A query that succeeded on an early pass but errored later is
    # reported ONLY in errors — its surviving timings still carry
    # whole-stage-codegen warmup (min-of-fewer-reps) and would inflate
    # serial_total while double-reporting the name. Per-pass query
    # counts make a mid-run shrink visible in the artifact.
    timings = {
        name: round(min(reps), 3)
        for name, reps in rep_timings.items()
        if reps and name not in errors
    }

    serial_total = round(sum(timings.values()), 3)

    # Concurrent phase: the same 22 queries batched through the FAIR
    # session from worker threads (plans and codegen are warm — the
    # serial phase above already ran each twice). This is the workload
    # makespan: the per-query scheduling floor overlaps instead of
    # summing, which is how a multi-tenant cluster actually runs a
    # query suite. Only worth it in the floor-DOMINATED regime (mean
    # serial time within a few multiples of the ~0.3-0.5 s/query
    # floor): once queries carry seconds of real work they already use
    # every core, and oversubscribing them measurably thrashes (sf1:
    # batched 102 s vs serial 61 s, mean serial 2.8 s/query). The
    # reported value is the better of the two measured modes — the
    # workload completion time under the execution strategy a
    # scheduler would actually pick for it.
    n_threads = int(os.environ.get("SPARK_GRAFT_BENCH_THREADS", "8"))
    floor_dominated = serial_total / max(len(names), 1) <= 1.5
    concurrent_wall = None
    batched_reps: list[float] = []
    if floor_dominated and n_threads > 1:

        def _run_one(name: str) -> None:
            try:
                df = specs[name].builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors.setdefault(name, f"{type(exc).__name__}: {exc}")

        # Same convergence discipline as the serial phase: one
        # makespan measurement is exposed to scheduler jitter across
        # 8 threads, and BENCH_r10's batched reps were still falling
        # at the fixed cutoff (16.3 -> 6.8 -> 5.94). Every rep's
        # makespan is kept for the JSON so a contaminated rep is
        # visible in the artifact.
        while True:
            t0 = time.perf_counter()
            with ThreadPoolExecutor(max_workers=n_threads) as pool:
                list(pool.map(_run_one, names))
            batched_reps.append(round(time.perf_counter() - t0, 3))
            # same min-stability test as the serial phase: stop once
            # the best makespan is n_reps-1 reps old (keeps measuring
            # while still improving; a rising pressure tail does not
            # unconverge a stable min)
            best_idx = batched_reps.index(min(batched_reps))
            if (
                len(batched_reps) >= n_reps
                and len(batched_reps) - 1 - best_idx >= n_reps - 1
            ):
                batched_converged = True
                break
            if len(batched_reps) >= max_reps:
                batched_converged = False
                break
        concurrent_wall = min(batched_reps)

    if concurrent_wall is not None and concurrent_wall < serial_total:
        value, execution = concurrent_wall, f"fair_batched_{n_threads}_threads"
    else:
        value, execution = serial_total, "serial"
    load_end = os.getloadavg()
    out = {
        "metric": "headline_queries_total_wall",
        "value": value,
        "unit": "sec",
        "execution": execution,
        "serial_total": serial_total,
        "queries": timings,
        "sf": sf,
        # Contention evidence (BENCH_r07 carried an undetectable
        # ~1.28x host-contention inflation): rep count, per-pass
        # serial totals, per-rep batched makespans, and the 1-minute
        # load average sampled at start and end of the run. A future
        # reader can separate noise from regression without
        # re-measuring.
        "reps": len(pass_totals),
        "serial_pass_totals": pass_totals,
        "serial_pass_query_counts": pass_counts,
        "serial_converged": serial_converged,
        "loadavg_1m": [round(load_start[0], 2), round(load_end[0], 2)],
        "loadavg_5m": [round(load_start[1], 2), round(load_end[1], 2)],
        "loadavg_15m": [round(load_start[2], 2), round(load_end[2], 2)],
    }
    # Load guard (r8 verdict #4): BENCH_r08 opened on a load-5 box and
    # the serial number absorbed the contention. Annotate — don't
    # abort — so the driver still gets its one JSON line, but a round
    # artifact taken under load is self-declared invalid for
    # serial-vs-oracle comparisons. r10 widened the trigger: settled
    # 1-minute + elevated 5-minute load, or an unconverged serial
    # phase, both mark the artifact.
    if settle_wait:
        out["settle_wait_s"] = settle_wait
    if (
        max(load_start[0], load_start[1]) > load_threshold
        or not serial_converged
    ):
        out["contaminated"] = True
    if concurrent_wall is not None:
        out["fair_batched_wall"] = concurrent_wall
        out["fair_batched_reps"] = batched_reps
        out["batched_converged"] = batched_converged

    # Post-Spark oracle pass: the second half of the pre/post bracket
    # (the pre pass ran before the Spark session came up). The
    # reported per-query oracle number is the min across both passes;
    # the per-pass totals stay in the artifact so a drifting box shows
    # up as a pre/post disagreement.
    if oracle_con is not None:
        oracle_post = _oracle_pass()
        oracle_timings = {
            name: min(
                v
                for v in (oracle_pre.get(name), oracle_post.get(name))
                if v is not None
            )
            for name in set(oracle_pre) | set(oracle_post)
        }
        out["oracle_queries"] = oracle_timings
        out["oracle_total"] = round(sum(oracle_timings.values()), 3)
        out["oracle_pre_total"] = round(sum(oracle_pre.values()), 3)
        out["oracle_post_total"] = round(sum(oracle_post.values()), 3)
        # Bracket-divergence contamination flag (r13 verdict #2): marks
        # the artifact so PERF consumers can separate box noise from
        # code — see bracket_ratio_contaminated above.
        pre_t, post_t = out["oracle_pre_total"], out["oracle_post_total"]
        if bracket_ratio_contaminated(pre_t, post_t):
            out["contaminated"] = True
            out["oracle_bracket_ratio"] = round(post_t / pre_t, 2)

    # Output contract (r11 verdict #1): BENCH_r11 recorded
    # "parsed": null because the full artifact line outgrew the
    # harness's 2000-char stdout tail capture and the tail started
    # mid-line. The FULL artifact therefore goes to a sidecar file
    # (and an early stdout line for humans), while the LAST stdout
    # line is a compact headline guaranteed to fit the tail capture:
    # metric/value/unit, per-query timings if they fit, totals,
    # convergence + contamination flags. The compact line is built
    # adaptively — optional sections are dropped largest-first until
    # it serializes under the budget.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    if errors:
        out["errors"] = errors
    try:
        detail_path.write_text(json.dumps(out, indent=1) + "\n")
    except OSError as exc:
        # re-assign so a sidecar write failure reaches the stdout
        # full-artifact line too, not just the compact error_count
        # (r12 ADVICE: previously added after `out["errors"]` was set).
        errors["_detail_sidecar"] = f"{type(exc).__name__}: {exc}"
        out["errors"] = errors
    print(json.dumps(out), flush=True)

    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "execution": out["execution"],
        "serial_total": serial_total,
        "sf": sf,
        "reps": out["reps"],
        "serial_converged": serial_converged,
        "detail": detail_path.name,
    }
    for key in (
        "fair_batched_wall",
        "batched_converged",
        "oracle_total",
        "oracle_pre_total",
        "oracle_post_total",
        "contaminated",
        "settle_wait_s",
    ):
        if key in out:
            compact[key] = out[key]
    if errors:
        compact["error_count"] = len(errors)
    # Optional payloads, added only while the line stays under budget
    # (largest first, so the most useful one — per-query timings —
    # gets first claim on the space).
    budget = 1900
    for key in ("queries", "serial_pass_totals"):
        if key in out:
            trial = dict(compact)
            trial[key] = out[key]
            if len(json.dumps(trial)) <= budget:
                compact = trial
    print(json.dumps(compact), flush=True)


if __name__ == "__main__":
    main()
