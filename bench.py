"""Benchmark harness: runs the headline queries (registry entries
marked bench=True) at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], then the scale tier (TIER_QUERIES on
$SPARK_GRAFT_BENCH_TIER_SCALE key-shifted copies of the same tables,
default 10), and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <float>}

Each query is forced end-to-end with a noop sink (full computation,
no driver-side result transfer skewing the numbers). One warmup job
amortizes JVM/codegen startup out of the per-query timings.
"""

from __future__ import annotations

import hashlib
import json
import os
import pathlib
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from quick_and_easy_vectordb_spark.queries import QUERIES  # noqa: E402
from quick_and_easy_vectordb_spark.session import get_spark  # noqa: E402

# ---------------------------------------------------------------------------
# Scale tier (round-15, VERDICT r14 item 2): the sf0.1 suite is
# latency-bound (8-core wall ~= 32-core wall), so it can no longer
# detect compute regressions. A second tier re-times the top
# compute-heavy queries on a K-times larger input staged FROM the real
# parquet tables — K shifted copies, built density-held so the
# workload scales linearly and never changes shape:
#   * every foreign/primary key shifts in lockstep per copy
#     (orderkey/custkey/suppkey/partkey), dims (nation/region) are
#     copied once — joins stay referentially intact, group sizes
#     constant;
#   * documents get a per-copy word tag (copy 0 = original text), so
#     shingle sets are DISJOINT across copies: the dedup workload is
#     exactly K independent sub-corpora, not a K^2 near-dup blowup;
#   * embeddings shift vec_id AND the blocking label per copy — K
#     times more blocks of the original size, so blocked self-joins
#     grow linearly, never quadratically;
#   * events shift event_id and user_id per copy (per-user series and
#     per-key state stay constant; K times more users).
# Every bench run stages into its own fresh temp dir from the
# $SPARK_GRAFT_SF_DIR parquet inputs and removes it when the tier
# ends — nothing precomputed survives across invocations, and
# concurrent runs never share a dir. Reported under a separate "tier" key;
# the headline value/queries are computed exactly as before.
# ---------------------------------------------------------------------------

TIER_QUERIES = (
    "rel_q1_pricing_summary",
    "rel_q5_region_revenue",
    "rel_q9_profit_by_nation_year",
    "rel_q21_sole_problem_supplier",
    "dedup_band_tuning",
    "dedup_minhash_lsh",
    "ann_ivf_pq_search",
    "ann_vamana_occlusion_prune",
    "mm_decode_mjpeg_frames",
    "text_bpe_train_rounds",
    "ev_sessionize",
)

_SHIFT = 10_000_000_000  # key shift per copy — far above any base key

# Timing protocol (each constant's reason is at its use in main()).
REPEATS = 3  # best-of-N per headline query
LOAD_WAIT_S = 90.0  # longest quiet-host wait before the timed loop
LOAD_MAX = 3.0  # 1-min loadavg below which the host counts as quiet
LOAD_BUDGET_S = 300.0  # all quiet-host waits of one run together
REPEAT_WAIT_S = 20.0  # longest quiet-host wait before one repeat
ISO_CUT_S = 2.0  # in-suite minimum that earns an isolated re-run
ISO_INCLUDE = frozenset({"ann_lsh_probe", "ev_tumbling_hour", "vdb_topk_dot"})
TIER_BUDGET_PER_COPY_S = 42.0  # scale-tier wall budget per staged copy


def stage_tier_dir(spark, sf_dir: str, k: int) -> str:
    """Stage ``k`` key-shifted copies of the inputs into a fresh temp
    directory and return its path; the caller removes it."""
    from pyspark.sql import functions as F

    from quick_and_easy_vectordb_spark.sources.catalog import load_table

    out = tempfile.mkdtemp(prefix=f"qev_bench_tier_x{k}_")

    def shifted(name: str, keys: dict[str, int], extra=None):
        base = load_table(spark, sf_dir, name)
        parts = []
        for i in range(k):
            df = base
            for col, mult in keys.items():
                df = df.withColumn(
                    col, F.col(col) + F.lit(i * mult * _SHIFT)
                )
            if extra is not None:
                df = extra(df, i)
            parts.append(df)
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        allp.write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )

    def tag_text(df, i):
        if i == 0:
            return df
        # per-copy word tag => disjoint shingle/vocab space per copy
        return df.withColumn(
            "text", F.regexp_replace("text", r"(\S+)", f"c{i}$1")
        )

    def shift_label(df, i):
        return df.withColumn("label", F.col("label") + F.lit(i * 100))

    try:
        shifted("lineitem", {"l_orderkey": 1, "l_partkey": 2, "l_suppkey": 3})
        shifted("orders", {"o_orderkey": 1, "o_custkey": 4})
        shifted("customer", {"c_custkey": 4})
        shifted("supplier", {"s_suppkey": 3})
        shifted("part", {"p_partkey": 2})
        # dims stay single-copy (nationkey/regionkey are unshifted on the
        # fact side, so one copy serves every shifted copy's joins)
        for dim in ("nation", "region"):
            load_table(spark, sf_dir, dim).write.mode("overwrite").parquet(
                os.path.join(out, f"{dim}.parquet")
            )
        shifted("documents", {"doc_id": 5}, extra=tag_text)
        shifted("embeddings", {"vec_id": 6}, extra=shift_label)
        shifted("events", {"event_id": 7, "user_id": 8})
    except BaseException:
        # a failed or interrupted staging run leaves no copy behind
        shutil.rmtree(out, ignore_errors=True)
        raise
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("qev-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_queries = {n: q for n, q in QUERIES.items() if q.bench}

    # Host-speed calibration (round-13, VERDICT r12 item 2): three
    # rounds of bench JSON became mutually incomparable because this
    # VM's effective speed drifts across sessions (steal time /
    # co-tenant load) — byte-identical plans read 1.5x apart. Two
    # fixed-work tokens timed before the warmup and again after the
    # isolated block quantify the host of record:
    #   calib_1t_s  — pinned single-thread pure-Python loop
    #                 (interpreter + one core)
    #   calib_32t_s — pinned 32-partition Spark job on spark.range
    #                 (JVM + all cores + scheduler)
    # Cross-round comparisons should use query_s / calib_32t_s (the
    # DETAIL line carries that table as queries_norm).
    def calib_1t() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(3_000_000):
            acc = (acc + i * i) % 1000003
        if acc < 0:  # keep the loop un-eliminable
            raise AssertionError
        return time.perf_counter() - t0

    def calib_32t() -> float:
        t0 = time.perf_counter()
        spark.range(0, 256_000_000, 1, 32).selectExpr(
            "sum(id * id % 1000003) as s"
        ).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def run_calib() -> tuple[float, float]:
        return (
            round(min(calib_1t() for _ in range(3)), 4),
            round(min(calib_32t() for _ in range(3)), 4),
        )

    # One throwaway Spark job first so the calibration itself is not
    # measuring JVM warmup.
    spark.range(0, 1_000_000, 1, 32).selectExpr("sum(id)").collect()
    calib_pre = run_calib()

    # Warmup: run every bench query once at the smallest scale factor.
    # Whole-stage codegen compiles per query *shape* (several seconds of
    # JIT for wide decimal aggregates), so this moves one-time JVM/
    # compiler cost out of the timed loop — the timings below measure
    # steady-state engine throughput, which is the quantity that
    # extrapolates to a long-running cluster.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    # Failure isolation: one broken query must not abort the suite —
    # round 3 lost ALL timings because a single query threw during
    # warmup. Errors are recorded per-query; the JSON line always
    # prints.
    errors: dict[str, str] = {}
    for name, qd in bench_queries.items():
        try:
            qd.fn(spark, warm_dir).write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001
            errors[name] = f"warmup: {type(e).__name__}: {e}"[:500]
    # Best-of-N timing: local[32] single-JVM runs show bimodal latency
    # on identical plans (0.7 s vs 5-15 s for the same job, verified by
    # repeated-run probes) caused by JIT compilation storms when all 32
    # worker threads hit freshly generated whole-stage-codegen classes.
    # The minimum over repeats is the steady-state number — the
    # quantity that actually extrapolates to a long-running cluster,
    # where codegen classes are compiled once and reused for hours.
    # Queries whose plans span many fresh codegen classes show the
    # JIT-storm bimodality hardest (r5 dedup_minhash_lsh runs were
    # [2.59, 5.80, 2.43]; r6 local q21 runs still descending at run 3:
    # [2.47, 2.35, 2.12]); two extra repeats make min/median stable.
    noisy = {
        "dedup_minhash_lsh",
        "vdb_end_to_end_pipeline",
        "rel_q21_sole_problem_supplier",
    }
    # Load guard (round-11, VERDICT r10 item 5): BENCH_r10 was taken
    # during a co-tenant load spike and read 1.23x slower on untouched
    # plans — uniform drift across byte-identical plans is the
    # documented signature of host contention on this VM, and the guest
    # 1-min loadavg visibly carries it. Two defenses: (a) spin
    # (bounded) until the 1-min load drops below LOAD_MAX
    # before the timed loop starts, and (b) record the loadavg at every
    # query's start so the emitted JSON carries its own noise evidence.
    # Round-12 (VERDICT r11 item 2): the suite-start gate alone is not
    # enough — r11's run started at load 3.4 and ENDED at 9.0, so a
    # single wait up front guards only the first queries. The gate now
    # also fires BEFORE EVERY TIMED REPEAT, drawing from one shared
    # budget for the whole suite (bounded: a permanently-loaded host
    # must still produce a JSON line, it just carries the load
    # evidence). Per-query waits are recorded in DETAIL.
    budget = {"left": LOAD_BUDGET_S}

    def wait_quiet(max_this_wait: float) -> float:
        w = 0.0
        while (
            os.getloadavg()[0] >= LOAD_MAX
            and w < max_this_wait
            and budget["left"] > 0
        ):
            time.sleep(5.0)
            w += 5.0
            budget["left"] -= 5.0
        return w

    load_start = round(os.getloadavg()[0], 2)
    waited = wait_quiet(LOAD_WAIT_S)
    load_at_timing = round(os.getloadavg()[0], 2)

    def time_query(qd, n_runs: int, data_dir=None):
        """n_runs noop-sink executions; returns (runs, run_loads,
        wait_s) or raises the query's error."""
        runs: list[float] = []
        run_loads: list[float] = []
        wait_total = 0.0
        for _ in range(n_runs):
            wait_total += wait_quiet(REPEAT_WAIT_S)
            run_loads.append(round(os.getloadavg()[0], 2))
            spark.catalog.clearCache()  # no cross-repeat cache reuse
            t0 = time.perf_counter()
            df = qd.fn(spark, data_dir or sf_dir)
            df.write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        return runs, run_loads, wait_total

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    loads: dict[str, list[float]] = {}
    query_waits: dict[str, float] = {}
    for name, qd in bench_queries.items():
        if name in errors:
            continue
        try:
            runs, run_loads, w = time_query(
                qd, REPEATS + 2 if name in noisy else REPEATS
            )
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            continue
        loads[name] = run_loads
        if w:
            query_waits[name] = round(w, 1)
        timings[name] = round(min(runs), 4)
        srt = sorted(runs)
        mid = len(srt) // 2
        med = srt[mid] if len(srt) % 2 else (srt[mid - 1] + srt[mid]) / 2
        medians[name] = round(med, 4)
        all_runs[name] = [round(r, 4) for r in runs]

    # Isolated pass (VERDICT r11 item 2b): the heavy queries (>= 2 s
    # in-suite minimum) re-run min-of-4 in a fresh loop AFTER the
    # suite, each repeat load-gated. On a quiet host these agree with
    # the in-suite minima within noise; when they don't, the per-run
    # load lists say why. The isolated minimum is the steady-state
    # number for cross-round comparison of heavy movers.
    # Round-14 (VERDICT r13 item 2): the three sub-second queries that
    # drifted in-suite across rounds 12-13 get isolated minima too, so
    # the calibration can arbitrate them (in-suite sub-second numbers
    # are dominated by scheduler jitter on this VM).
    isolated: dict[str, float] = {}
    isolated_runs: dict[str, list[float]] = {}
    isolated_loads: dict[str, list[float]] = {}
    isolated_errors: dict[str, str] = {}
    for name in [
        n for n, t in timings.items() if t >= ISO_CUT_S or n in ISO_INCLUDE
    ]:
        try:
            runs, run_loads, _ = time_query(bench_queries[name], 4)
        except Exception as e:  # noqa: BLE001
            # Already timed in-suite; isolation is best-effort — but a
            # query that crashes only in isolation must leave evidence.
            isolated_errors[name] = f"{type(e).__name__}: {e}"[:500]
            continue
        isolated[name] = round(min(runs), 4)
        isolated_runs[name] = [round(r, 4) for r in runs]
        isolated_loads[name] = run_loads

    # ---- scale tier (round-15; see header comment) ------------------
    tier_scale = int(os.environ.get("SPARK_GRAFT_BENCH_TIER_SCALE", "10"))
    tier_budget = TIER_BUDGET_PER_COPY_S * tier_scale
    tier: dict[str, float] = {}
    tier_runs: dict[str, list[float]] = {}
    tier_errors: dict[str, str] = {}
    tier_stage_s = 0.0
    tier_skipped: list[str] = []
    if tier_scale > 1:
        t_start = time.perf_counter()
        try:
            t0 = time.perf_counter()
            tier_dir = stage_tier_dir(spark, sf_dir, tier_scale)
            tier_stage_s = round(time.perf_counter() - t0, 1)
        except Exception as e:  # noqa: BLE001 — tier is additive only
            tier_errors["__stage__"] = f"{type(e).__name__}: {e}"[:500]
        else:
            try:
                for name in TIER_QUERIES:
                    if name not in bench_queries or name in errors:
                        continue
                    if time.perf_counter() - t_start > tier_budget:
                        tier_skipped.append(name)
                        continue
                    try:
                        runs, _, _ = time_query(
                            bench_queries[name], 2, data_dir=tier_dir,
                        )
                    except Exception as e:  # noqa: BLE001
                        tier_errors[name] = f"{type(e).__name__}: {e}"[:500]
                        continue
                    tier[name] = round(min(runs), 4)
                    tier_runs[name] = [round(r, 4) for r in runs]
            finally:
                shutil.rmtree(tier_dir, ignore_errors=True)

    calib_post = run_calib()
    calib_1t_s = round(min(calib_pre[0], calib_post[0]), 4)
    calib_32t_s = round(min(calib_pre[1], calib_post[1]), 4)

    total = round(sum(timings.values()), 4)
    # min is the headline (steady-state, comparable to a long-running
    # cluster); medians + raw repeats are emitted alongside so
    # cross-round consumers can separate methodology from real speedup
    # (rounds 1-3 were effectively single-shot).
    total_median = round(sum(medians.values()), 4)
    # Output protocol (round-6 fix, VERDICT r5 "What's wrong" #2): the
    # driver captures only a ~2 KB TAIL of stdout, and the verbose
    # per-run detail grew past that in round 5, truncating the
    # headline. So: verbose detail on an EARLIER line (prefixed, for
    # humans and archaeology), compact headline JSON as the LAST line —
    # the tail always contains a complete parseable record.
    print(
        "DETAIL: "
        + json.dumps(
            {
                "queries": timings,
                "queries_median": medians,
                "runs": all_runs,
                "load_1m_per_run": loads,
                "load_wait_per_query_s": query_waits,
                "isolated_runs": isolated_runs,
                "isolated_load_1m_per_run": isolated_loads,
                "calib_pre": {"1t": calib_pre[0], "32t": calib_pre[1]},
                "calib_post": {"1t": calib_post[0], "32t": calib_post[1]},
                "queries_norm_32t": {
                    n: round(t / calib_32t_s, 3)
                    for n, t in timings.items()
                } if calib_32t_s > 0 else {},
                "tier_runs": tier_runs,
                **({"tier_skipped": tier_skipped} if tier_skipped else {}),
                **(
                    {"isolated_errors": isolated_errors}
                    if isolated_errors else {}
                ),
                **({"errors": errors} if errors else {}),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": f"headline-suite wall seconds "
                f"({len(timings)} queries, best-of-{REPEATS})",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "value_median": total_median,
                "sf": sf,
                "repeats": REPEATS,
                "n_errors": len(errors),
                "isolated": isolated,
                # round-15 scale tier: same queries on a tier_scale-x
                # staged copy of the inputs (see header). ADDITIVE —
                # the headline value/queries keep the r13/r14 method.
                "tier": tier,
                "tier_scale": tier_scale,
                "tier_stage_s": tier_stage_s,
                **({"tier_errors": tier_errors} if tier_errors else {}),
                # content hash of this file (VERDICT r14 item 8) so
                # harness changes are machine-checkable across rounds
                "bench_sha": hashlib.sha256(
                    pathlib.Path(__file__).resolve().read_bytes()
                ).hexdigest()[:16],
                "calib_1t_s": calib_1t_s,
                "calib_32t_s": calib_32t_s,
                "load_1m_start": load_start,
                "load_1m_at_timing": load_at_timing,
                "load_1m_end": round(os.getloadavg()[0], 2),
                "load_wait_s": round(waited, 1),
                "load_wait_total_s": round(
                    LOAD_BUDGET_S - budget["left"], 1),
            }
        )
    )


if __name__ == "__main__":
    main()
