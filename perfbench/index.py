"""index_updates: the Ex_Orders / Ex_Sum command stream against one
long-lived `streaming.maintenance.MaterializedView`.

The view holds sf0.01 `orders` (key, status, price) with a `SumIndex`
and a `MinIndex` over the price, a `CountIndex`, and a `GroupIndex` of
count and price sum by status. Two commands:

* "add order" (a write): `insert` of a batch of BATCH generated orders;
* "discount status" (a read): the maintained SUM, MIN and COUNT, the
  threshold logic on the MIN, and the `GroupIndex` snapshot collected.

A round is one write and READS_PER_ROUND reads, in an order drawn from
the seed. Every read is checked against DuckDB's aggregates of the base
table, taken once, plus this file's own Decimal arithmetic over the rows
it generated; and MIN must never rise under inserts.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal

import checks
import probes
from run import common_layers, host_controls, mean, p50_geomean_ms, p50_ms, timed_rounds

SF = 0.01
BATCH = 8
READS_PER_ROUND = 3
WARM_READS = 12
DISCOUNT_BELOW = 1000.0  # Ex_Orders threshold: a minimum price below it earns the discount
INDEXES = ("sum", "min", "count", "by_status")


class Expected:
    """The state every read must see, kept apart from the engine."""

    def __init__(self, con, orders_path: str):
        q = (
            "SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))), MIN(o_totalprice), COUNT(*) "
            f"FROM read_parquet('{orders_path}')"
        )
        self.sum, self.min, self.count = con.execute(q).fetchone()
        self.groups = {
            s: [n, v]
            for s, n, v in con.execute(
                "SELECT o_orderstatus, COUNT(*), SUM(CAST(o_totalprice AS DECIMAL(18,2))) "
                f"FROM read_parquet('{orders_path}') GROUP BY 1"
            ).fetchall()
        }

    def add(self, rows) -> None:
        for _key, status, price in rows:
            self.sum += checks.money(price)
            self.min = min(self.min, price)
            self.count += 1
            g = self.groups.setdefault(status, [0, Decimal("0.00")])
            g[0] += 1
            g[1] += checks.money(price)

    def snapshot(self) -> tuple:
        status = "discount" if self.min < DISCOUNT_BELOW else "full"
        return (self.sum, self.min, self.count, status,
                tuple(sorted((s, n, v) for s, (n, v) in self.groups.items())))


def account(ops, observed, notes) -> checks.Tally:
    """Count the window's ops: a write fails if it raised; a read fails
    if it raised, differs from the expected state, or saw MIN rise.
    `observed` holds (got, expected) for the warm read, then each read
    of the window in order."""
    read_ok = []
    last_min = None
    for got, want in observed:
        ok = got is not None and got == want
        if not ok and len(notes) < 5:
            notes.append(f"read {got} != expected {want}"[:300])
        if got is not None:
            if last_min is not None and got[1] > last_min:
                ok = False
                notes.append(f"MIN rose from {last_min} to {got[1]}")
            last_min = got[1]
        read_ok.append(ok)
    reads = iter(read_ok[1:])  # the warm read is not an op of the window
    tally = checks.Tally()
    for kind, _lat, raised in ops:
        tally.record(not raised and (kind == "write" or next(reads)), kind)
    return tally


def main(ctx) -> dict:
    sf_dir = ctx.data(SF)
    control_dir = ctx.data(0.1) if ctx.trace else None  # the host controls scan sf0.1
    import duckdb
    from pyspark.sql import functions as F

    from fiat2_spark.streaming.maintenance import (
        CountIndex, GroupIndex, MaterializedView, MinIndex, SumIndex,
    )

    orders_path = os.path.join(sf_dir, "orders.parquet")
    t = time.perf_counter()
    con = duckdb.connect()
    expected = Expected(con, orders_path)
    con.close()
    ctx.excluded_s += time.perf_counter() - t

    spark, session_s = ctx.spark()
    counters = probes.SparkCounters(spark) if ctx.trace else None
    py4j = probes.Py4jCounter() if ctx.trace else None
    warm_mark = counters.mark() if ctx.trace else None

    schema = "o_orderkey long, o_orderstatus string, o_totalprice double"
    price = F.col("o_totalprice")
    base = spark.read.parquet(orders_path).select("o_orderkey", "o_orderstatus", "o_totalprice")
    view = MaterializedView(base)
    view.with_index("sum", SumIndex(price.cast("decimal(18,2)")))
    view.with_index("min", MinIndex(price))
    view.with_index("count", CountIndex())
    view.with_index("by_status", GroupIndex(
        ["o_orderstatus"], {"n": ("count", F.lit(1)), "sum_price": ("sum", price.cast("decimal(18,2)"))},
    ))

    next_key = [10_000_000]

    def gen_rows():
        """BATCH orders priced like the base table's, one of them a few
        dollars under the current minimum, so MIN falls on every write
        and the discount threshold is crossed within a run."""
        cents = [ctx.rng.randint(100_191, 49_999_318) for _ in range(BATCH - 1)]
        cents.append(round(expected.min * 100) - ctx.rng.randint(100, 1000))
        rows = []
        for c in cents:
            rows.append((next_key[0], ctx.rng.choice("FOP"), max(c, 1) / 100.0))
            next_key[0] += 1
        return rows

    insert_times = {n: [] for n in INDEXES}
    insert_jobs, read_jobs, builds = [], [], []
    if ctx.trace:
        # time each index's own insert, called by the view as usual
        for name, idx in view.indexes.items():
            def timed_insert(batch, _orig=idx.insert, _name=name):
                t0 = time.perf_counter()
                _orig(batch)
                insert_times[_name].append(time.perf_counter() - t0)
            idx.insert = timed_insert

    def write(rows):
        if ctx.trace:
            j0 = counters.last_job()
            p0 = py4j.n
            t0 = time.perf_counter()
            batch = spark.createDataFrame(rows, schema)
            builds.append((time.perf_counter() - t0, py4j.n - p0, counters.last_job() - j0))
            view.insert(batch)
            insert_jobs.append(counters.last_job() - j0)
        else:
            view.insert(spark.createDataFrame(rows, schema))

    def read():
        j0 = counters.last_job() if ctx.trace else None
        s, mn, n = view.read("sum"), view.read("min"), view.read("count")
        groups = tuple(sorted(
            (r["o_orderstatus"], r["n"], r["sum_price"]) for r in view.read("by_status").collect()
        ))
        if ctx.trace:
            read_jobs.append(counters.last_job() - j0)
        return (s, mn, n, "discount" if mn < DISCOUNT_BELOW else "full", groups)

    # warm pass: one write, then WARM_READS reads (a read is cheap, and
    # its path is the one the window runs most); the last read is checked
    # like the timed ones
    warm_rows = gen_rows()
    write(warm_rows)
    expected.add(warm_rows)
    for _ in range(WARM_READS - 1):
        read()
    observed = [(read(), expected.snapshot())]
    for x in (*insert_times.values(), insert_jobs, read_jobs, builds):
        x.clear()  # the warm pass is not part of the window

    ops = []  # (kind, latency s, raised)
    notes = []
    first = []

    def one_round():
        kinds = ["read"] * READS_PER_ROUND
        kinds.insert(ctx.rng.randrange(READS_PER_ROUND + 1), "write")
        for kind in kinds:
            rows = gen_rows() if kind == "write" else None
            if not first:
                first.append(time.perf_counter())
            t = time.perf_counter()
            raised, got = False, None
            try:
                if kind == "write":
                    write(rows)
                else:
                    got = read()
            except Exception as e:
                raised = True
                if len(notes) < 5:
                    notes.append(f"{kind}: {type(e).__name__}: {e}"[:300])
            ops.append((kind, time.perf_counter() - t, raised))
            if kind == "write":
                expected.add(rows)
            else:
                observed.append((got, expected.snapshot()))

    if ctx.trace:
        py4j.install()
        window_mark = counters.mark()
    cpu0 = probes.cpu_s(os.getpid())
    elapsed = timed_rounds(ctx.seconds, one_round)
    cpu1 = probes.cpu_s(os.getpid())
    rss = probes.peak_rss_mb(os.getpid())
    if ctx.trace:
        window = counters.since(window_mark)
        py4j.uninstall()

    tally = account(ops, observed, notes)

    lat = {k: [x for kk, x, _ in ops if kk == k] for k in ("write", "read")}
    result = {
        "workload": "index_updates", "seed": ctx.seed, "sf": SF, "batch_rows": BATCH,
        "reads_per_write": READS_PER_ROUND,
        "correct": True, "attempted": tally.attempted, "failed": tally.failed,
        "notes": notes, "window_s": elapsed,
        "e2e": {
            "setup_s": ctx.setup_s(first[0]),
            "ops_per_s": len(ops) / elapsed,
            "p50_geomean_ms": p50_geomean_ms(lat),
            "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / len(ops),
        },
        "peak_rss_mb": rss,
        "write_p50_ms": p50_ms(lat["write"]),
        "read_p50_ms": p50_ms(lat["read"]),
        "final_state": [str(x) for x in expected.snapshot()[:4]],
    }
    layers = {}
    if ctx.trace:
        layers.update(host_controls(spark, control_dir))
        n_ops = len(ops)
        layers.update(probes.layer_metrics(window, n_ops))
        layers.update({
            "build.ms_per_op": sum(b[0] for b in builds) * 1000 / n_ops,
            "build.py4j_calls_per_op": sum(b[1] for b in builds) / n_ops,
            "build.jobs_per_op": sum(b[2] for b in builds) / n_ops,
            "maint.sum_insert_ms": mean(insert_times["sum"]) * 1000,
            "maint.min_insert_ms": mean(insert_times["min"]) * 1000,
            "maint.count_insert_ms": mean(insert_times["count"]) * 1000,
            "maint.group_insert_ms": mean(insert_times["by_status"]) * 1000,
            "maint.jobs_per_insert": mean(insert_jobs),
            "maint.read_ms": mean(lat["read"]) * 1000,
            "maint.jobs_per_read": mean(read_jobs),
        })
        layers.update(common_layers(session_s, warm_mark, window_mark, result["e2e"]))
    result["layers"] = layers
    spark.stop()
    return result
