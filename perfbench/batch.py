"""batch_queries: registered queries at sf0.1, one closed-loop client.

Each op builds a query's DataFrame and runs it into the `noop` sink, as
the repository's bench harness does. The query list spans the layers:
`dedup_minhash_unicode` spends most of its time building the plan
(~3,200 py4j calls and six eager jobs), `tpch_q1_shape` scanning,
`bfs_recursive_cte` scheduling (56 jobs) and `dsl_comprehension` in plan
compilation. A round runs each query once, in an order drawn from the
seed; one round outlasts the run length, so a run is one round.
"""

from __future__ import annotations

import os
import time

import checks
import probes
from run import common_layers, host_controls, mean, p50_geomean_ms, p50_ms, timed_rounds

QUERY_LIST = ("dedup_minhash_unicode", "tpch_q1_shape", "bfs_recursive_cte", "dsl_comprehension")
SF = 0.1


def account(ops, bad: dict) -> checks.Tally:
    """Count the window's ops: one fails if it raised, or if its query's
    output differs from the oracle's (`bad`: query -> difference)."""
    tally = checks.Tally()
    for name, _lat, raised in ops:
        tally.record(not raised and name not in bad, f"{name}: {bad.get(name, 'raised')}")
    return tally


def main(ctx) -> dict:
    sf_dir = ctx.data(SF)
    from fiat2_spark.session import release_checkpoint_blocks
    from fiat2_spark.workloads import ORACLES, QUERIES

    spark, session_s = ctx.spark()
    counters = probes.SparkCounters(spark) if ctx.trace else None
    py4j = probes.Py4jCounter() if ctx.trace else None
    warm_mark = counters.mark() if ctx.trace else None

    def hygiene():
        spark.catalog.clearCache()
        release_checkpoint_blocks(spark)

    # warm pass over every query, collected for the output check
    got, notes = {}, []
    for name in QUERY_LIST:
        try:
            df = QUERIES[name](spark, sf_dir)
            rows = df.collect()
        except Exception as e:  # the check below counts the query's ops failed
            notes.append(f"{name}: warm pass raised {type(e).__name__}: {e}"[:300])
            continue
        finally:
            hygiene()
        t = time.perf_counter()
        got[name] = checks.spark_canonical(df, rows)
        ctx.excluded_s += time.perf_counter() - t

    ops = []  # (query, latency s, raised)
    rows_by_query: dict[str, list] = {n: [] for n in QUERY_LIST}

    def plain_op(name):
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def traced_op(name):
        m = counters.mark()
        p0 = py4j.n
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        py4j_calls = py4j.n - p0
        build_jobs = counters.last_job() - m["job"]
        df._jdf.queryExecution().executedPlan()  # Catalyst: optimize + plan
        t2 = time.perf_counter()
        m2 = counters.mark()
        t3 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t4 = time.perf_counter()
        c = counters.since(m2)
        rows_by_query[name].append({
            "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t4 - t3,
            "build_jobs": build_jobs, "py4j": py4j_calls, "exec": c,
        })

    op = traced_op if ctx.trace else plain_op
    first = []

    def one_round():
        for name in ctx.rng.sample(QUERY_LIST, len(QUERY_LIST)):
            if not first:
                first.append(time.perf_counter())
            t = time.perf_counter()
            raised = False
            try:
                op(name)
            except Exception as e:
                raised = True
                if len(notes) < 5:
                    notes.append(f"{name}: {type(e).__name__}: {e}"[:300])
            ops.append((name, time.perf_counter() - t, raised))
            hygiene()

    if ctx.trace:
        py4j.install()
        window_mark = counters.mark()
    cpu0 = probes.cpu_s(os.getpid())
    elapsed = timed_rounds(ctx.seconds, one_round)
    cpu1 = probes.cpu_s(os.getpid())
    rss = probes.peak_rss_mb(os.getpid())
    if ctx.trace:
        window = counters.mark()
        py4j.uninstall()

    # output check: every query's warm-pass result against its DuckDB oracle
    import duckdb

    import datagen

    con = duckdb.connect()
    datagen.duck_views(con, sf_dir)
    bad = {}
    correct = True
    for name in QUERY_LIST:
        if name not in got:
            bad[name] = "no result"
            continue
        try:
            d = checks.diff(got[name], checks.duck_canonical(con, ORACLES[name]))
        except Exception as e:  # the oracle itself failed: outputs unchecked
            correct = False
            notes.append(f"{name}: oracle raised {type(e).__name__}: {e}"[:300])
            continue
        if d:
            bad[name] = d
    con.close()
    tally = account(ops, bad)

    result = {
        "workload": "batch_queries", "seed": ctx.seed, "sf": SF, "queries": QUERY_LIST,
        "correct": correct, "attempted": tally.attempted, "failed": tally.failed,
        "notes": notes + tally.notes + [f"{n}: {d}" for n, d in bad.items()],
        "window_s": elapsed,
        "e2e": {
            "setup_s": ctx.setup_s(first[0]),
            "ops_per_s": len(ops) / elapsed,
            "p50_geomean_ms": p50_geomean_ms(
                {n: [lat for q, lat, _ in ops if q == n] for n in QUERY_LIST}),
            "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / len(ops),
        },
        "peak_rss_mb": rss,
        "query_p50_ms": {n: p50_ms([lat for q, lat, _ in ops if q == n]) for n in QUERY_LIST},
    }
    layers = {}
    if ctx.trace:
        layers.update(host_controls(spark, sf_dir))
        layers.update(_layers(rows_by_query, window, window_mark, len(ops)))
        layers.update(common_layers(session_s, warm_mark, window_mark, result["e2e"]))
    result["layers"] = layers
    spark.stop()
    return result


def _layers(rows_by_query, window, window_mark, n_ops) -> dict:
    all_rows = [r for rows in rows_by_query.values() for r in rows]
    exec_total: dict = {}
    for r in all_rows:
        probes.add(exec_total, r["exec"])
    exec_total["compiles"] = window["compiles"] - window_mark["compiles"]
    exec_total["compile_ms"] = window["compile_ms"] - window_mark["compile_ms"]
    out = {
        "build.ms_per_op": mean([r["build_s"] * 1000 for r in all_rows]),
        "build.jobs_per_op": mean([r["build_jobs"] for r in all_rows]),
        "build.py4j_calls_per_op": mean([r["py4j"] for r in all_rows]),
        "plan.ms_per_op": mean([r["plan_s"] * 1000 for r in all_rows]),
    }
    out.update(probes.layer_metrics(exec_total, n_ops))
    for name, rows in rows_by_query.items():
        out[f"query.{name}.build_ms"] = mean([r["build_s"] * 1000 for r in rows])
        out[f"query.{name}.exec_ms"] = mean([r["exec_s"] * 1000 for r in rows])
        out[f"query.{name}.jobs"] = mean([r["build_jobs"] + r["exec"]["jobs"] for r in rows])
        out[f"query.{name}.py4j_calls"] = mean([r["py4j"] for r in rows])
    return out
