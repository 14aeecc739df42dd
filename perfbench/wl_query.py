"""``query_mix``: a fixed list of registry queries over seeded tables,
each drained to the ``noop`` sink, in a closed loop with one caller.
One operation is one pass over the list.

The list mixes headline queries of ``bench.py`` with the top members
of the CTE re-expansion class (ROADMAP item 2). The output
check runs every query against the DuckDB oracle through the
repository's own comparison (``tests/oracle_utils.compare_query``;
queries without an oracle text get the suite's rows-only check); that
pass and ``WARM_PASSES`` more untimed passes are the warm-up. The
traced run also runs the stream leg (``wl_stream.py``).
"""

from __future__ import annotations

import os
import re
import time

from perfbench import tables
from perfbench.common import (
    Run, control_s, latency_metrics, median, paired_loop, throughput_metrics, warm_up)

# Six of the ten bench.py headline queries (scan, join, aggregate, windows,
# vector top-k, BM25) and the four CTE re-expansion members ROADMAP item 2
# ranks first (q500/q683 hybrid search, the q462/q476 UNION ALL shape).
QUERIES = [
    "q01_scan_count", "q05_inner_join", "q15_pricing_summary", "q21_ranking_windows",
    "q43_cosine_topk", "q140_bm25_search",
    "q462_quality_gate_funnel", "q476_covariance_matrix",
    "q500_hybrid_search_agreement", "q683_reciprocal_rank_fusion",
]


# a fixed floor, so a run never reports one pass where another reports two
MIN_PASSES = 2
WARM_PASSES = 3                 # untimed passes after the oracle check pass


def short(name: str) -> str:
    return name.split("_", 1)[0]


def plan_counts(plan: str) -> tuple[int, int]:
    """(file scans, reused exchanges) in an executed plan's text,
    skipping every ``== Initial Plan ==`` section of adaptive plans: the
    lines after that header whose node starts at or right of its column,
    up to the next header at that column."""
    scans = reused = 0
    skip_col = None
    for line in plan.splitlines():
        body = line.lstrip(" :+-|")
        col = len(line) - len(body)
        if skip_col is not None:
            if col > skip_col or (col == skip_col and not body.startswith("== ")):
                continue
            skip_col = None
        if body.startswith("== Initial Plan =="):
            skip_col = col
            continue
        if re.match(r"(FileScan|Scan parquet)", body):
            scans += 1
        if body.startswith("ReusedExchange"):
            reused += 1
    return scans, reused


def run_query_mix(run: Run, spark, start_s: float) -> None:
    from shredder_spark import queries as queries_mod
    from shredder_spark.benchcontrol import drain
    from shredder_spark.plans.inspect import executed_plan
    from tests.oracle_utils import compare_query

    os.environ.setdefault("ORACLE_DUCKDB_MEM", "2GB")
    tr = run.tracer
    reg = queries_mod.registry()
    sf_dir = run.path("tables")
    gen = []
    for _ in range(3):
        t0 = time.perf_counter()
        mb = tables.generate(run.seed, sf_dir) / 1e6
        gen.append(time.perf_counter() - t0)
    run.detail["tables"] = {"sizes": tables.SIZES, "parquet_mb": mb, "gen_s": gen}
    control = [control_s(spark)] if run.trace else []

    # warm-up and output check: every query against the DuckDB oracle
    t0 = time.perf_counter()
    problems = {}
    for name in QUERIES:
        try:
            if reg[name].oracle is None:   # rows-only, as in tests/test_queries_oracle.py
                bad = [] if reg[name].run(spark, sf_dir).collect() else ["no rows"]
            else:
                bad = compare_query(spark, sf_dir, reg[name])
        except Exception as e:          # a failing query is a failed check, not a crash
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            problems[name] = bad[:3]
        run.check(f"oracle.{short(name)}", not bad)

    def warm_pass(_i: int) -> None:     # JIT still settling after the check pass
        for name in QUERIES:
            if name not in problems:
                drain(reg[name].run(spark, sf_dir))
    check_s = time.perf_counter() - t0
    warm_s = check_s + sum(warm_up(spark, warm_pass, WARM_PASSES))
    run.phase("setup")
    run.metric("setup_s", start_s + median(gen) + warm_s, "s")
    if problems:
        run.detail["oracle_problems"] = problems

    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    plan_s: list[float] = []

    def one_pass(_i: int) -> None:
        planning = 0.0
        with tr.span("query_mix.pass"):
            for name in QUERIES:
                t0 = time.perf_counter()
                with tr.span("queries.run"):
                    df = reg[name].run(spark, sf_dir)
                t1 = time.perf_counter()
                with tr.span("queries.drain"):
                    try:
                        drain(df)
                        run.op(True)
                    except Exception:
                        run.op(False)
                per_query[name].append(time.perf_counter() - t0)
                planning += t1 - t0
        plan_s.append(planning)

    ops = paired_loop(run, spark, run.seconds, one_pass, min_reps=MIN_PASSES)
    run.phase("timed")
    throughput_metrics(run, ops, mb)
    latency_metrics(run, [w * 1000 for w in ops.wall])
    passes = ops.wall

    if not run.trace:
        return
    run.layer("session.start_s", start_s, "s")
    run.layer("queries.pass_s", median(passes), "s")
    run.layer("queries.plan_s", median(plan_s), "s")
    for name in QUERIES:
        run.layer(f"queries.{short(name)}.s", median(per_query[name]), "s")
        df = reg[name].run(spark, sf_dir)
        df.toArrow()                      # executes df's own plan, so AQE finalizes it
        scans, reused = plan_counts(executed_plan(df))
        run.layer(f"plans.{short(name)}.file_scans", scans, "count")
        run.layer(f"plans.{short(name)}.reused_exchanges", reused, "count")
    control.append(control_s(spark))
    run.layer("control.s", control[-1], "s")
    run.detail["control_s"] = control
