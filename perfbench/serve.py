"""serve_http: the engine's HTTP boundary under one closed-loop client.

`python -m fiat2_spark.serving 0 <sf0.01>` runs as its own process. The
client sends rounds of PER_ROUND requests, half to each route, with `n`
drawn from the seed in 0..N_MAX, and waits for each reply before the
next. A warm pass first requests every (route, n) once. Every response
body is checked against DuckDB's answer for that route and `n`.

One client, not two: a request costs the server about 1.5 cores, so two
clients kept three of four cores busy and their run-to-run spread (0.19
of the median over ten runs) came near the bound; one client measures
the same per-request fixed cost with headroom left.

The traced run serves from this process instead (`serving.make_server`
on a thread), so the engine's counters can be read, and then splits
single requests by timing the route's plan builder and
`to_json_records` where the serving path calls them.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import select
import subprocess
import sys
import threading
import time

import checks
import probes
from run import common_layers, host_controls, mean, nproc, p50_geomean_ms, p50_ms

SF = 0.01
CLIENTS = 1
N_MAX = 25
PER_ROUND = 8
# the traced run's one-at-a-time requests: both routes, the same n for every seed
SPLIT_REQUESTS = [(r, n) for r in ("get_artist_less_than", "get_album_and_artist")
                  for n in (0, 3, 5, 10, 12, 15, 20, 25)]
ROUTES = {
    "get_artist_less_than": (
        ["artist_id", "name"],
        "SELECT CAST(n_nationkey AS BIGINT) AS artist_id, n_name AS name "
        "FROM nation WHERE n_nationkey < {n}",
    ),
    "get_album_and_artist": (
        ["album_id", "title", "artist"],
        "SELECT s_suppkey AS album_id, s_name AS title, n_name AS artist "
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_nationkey < {n}",
    ),
}


def answers(sf_dir: str) -> dict:
    """DuckDB's answer for every (route, n)."""
    import duckdb

    import datagen

    con = duckdb.connect()
    datagen.duck_views(con, sf_dir)
    out = {(r, n): checks.duck_canonical(con, sql.format(n=n))
           for r, (_cols, sql) in ROUTES.items() for n in range(N_MAX + 1)}
    con.close()
    return out


def get(port: int, route: str, n: int) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", f"/{route}/{n}")
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def verdict(route: str, status: int, body: bytes, want) -> str | None:
    """None if the response is the expected answer, else why not."""
    if status != 200:
        return f"HTTP {status}"
    try:
        records = json.loads(body)
    except ValueError as e:
        return f"bad JSON: {e}"
    return checks.diff(checks.json_rows(records, ROUTES[route][0]), want)


def client_plan(seed: int, client: int):
    """Endless rounds of (route, n) for one client."""
    rng = random.Random(seed * 1000 + client)
    while True:
        routes = [r for r in ROUTES for _ in range(PER_ROUND // len(ROUTES))]
        rng.shuffle(routes)
        yield [(r, rng.randint(0, N_MAX)) for r in routes]


def load(port: int, seed: int, seconds: float) -> tuple[list, float, float]:
    """Run CLIENTS closed-loop clients for whole rounds until `seconds`
    have passed. Returns ([(route, n, latency s, status, body)], window
    start, window length)."""
    results: list = []
    lock = threading.Lock()
    start = threading.Barrier(CLIENTS + 1)
    t0 = [0.0]

    def client(c):
        plan = client_plan(seed, c)
        mine = []
        start.wait()
        while True:
            for route, n in next(plan):
                t = time.perf_counter()
                try:
                    status, body = get(port, route, n)
                except OSError as e:
                    status, body = -1, str(e).encode()
                mine.append((route, n, time.perf_counter() - t, status, body))
            if time.perf_counter() - t0[0] >= seconds:
                break
        with lock:
            results.extend(mine)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for th in threads:
        th.start()
    t0[0] = time.perf_counter()
    start.wait()
    for th in threads:
        th.join()
    return results, t0[0], time.perf_counter() - t0[0]


def warm(port: int, clients: int) -> None:
    """Request every (route, n) once, `clients` at a time."""
    todo = [(r, n) for r in ROUTES for n in range(N_MAX + 1)]
    threads = [threading.Thread(target=lambda part: [get(port, r, n) for r, n in part],
                                args=(todo[c::clients],)) for c in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


def start_server(ctx, sf_dir: str):
    """Start the serving process; returns (Popen, port)."""
    env = dict(os.environ, PYTHONUNBUFFERED="1")
    err = open(os.path.join(ctx.run_dir, "server.err"), "wb")
    proc = subprocess.Popen(
        [sys.executable, "-m", "fiat2_spark.serving", "0", sf_dir],
        stdout=subprocess.PIPE, stderr=err, cwd=ctx.run_dir, env=env,
    )
    err.close()
    ready, _, _ = select.select([proc.stdout], [], [], 150)
    line = proc.stdout.readline() if ready else b""
    if not line:
        proc.kill()
        proc.wait()
        raise RuntimeError("serving process did not start")
    return proc, int(json.loads(line)["serving"].rsplit(":", 1)[1])


def stop_server(proc) -> None:
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    proc.stdout.close()


def main(ctx) -> dict:
    sf_dir = ctx.data(SF)
    control_dir = ctx.data(0.1) if ctx.trace else None  # the host controls scan sf0.1
    t = time.perf_counter()
    want = answers(sf_dir)
    ctx.excluded_s += time.perf_counter() - t

    layers: dict = {}
    if ctx.trace:
        from fiat2_spark.serving import make_server

        spark, session_s = ctx.spark()
        counters = probes.SparkCounters(spark)
        warm_mark = counters.mark()
        srv = make_server(spark, sf_dir, 0)
        port = srv.server_address[1]
        th = threading.Thread(target=srv.serve_forever)
        th.start()
        pid = os.getpid()
    else:
        proc, port = start_server(ctx, sf_dir)
        pid = proc.pid
    try:
        warm(port, nproc())
        if ctx.trace:
            window_mark = counters.mark()
        cpu0 = probes.cpu_s(pid)
        ops, t_first, elapsed = load(port, ctx.seed, ctx.seconds)
        cpu1 = probes.cpu_s(pid)
        rss = probes.peak_rss_mb(pid)
        if ctx.trace:
            end = counters.mark()
            window = {k: end[k] - window_mark[k] for k in ("compiles", "compile_ms")}
            split = _split(spark, sf_dir, port, counters)
    finally:
        if ctx.trace:
            srv.shutdown()
            th.join()
            srv.server_close()
        else:
            stop_server(proc)

    tally = checks.Tally()
    for route, n, _lat, status, body in ops:
        why = verdict(route, status, body, want[(route, n)])
        tally.record(why is None, f"{route}/{n}: {why}"[:300])
    lat = [x[2] for x in ops]
    result = {
        "workload": "serve_http", "seed": ctx.seed, "sf": SF, "clients": CLIENTS,
        "correct": True, "attempted": tally.attempted, "failed": tally.failed,
        "notes": tally.notes, "window_s": elapsed,
        "e2e": {
            "setup_s": ctx.setup_s(t_first),
            "ops_per_s": len(ops) / elapsed,
            "p50_geomean_ms": p50_geomean_ms({r: [x[2] for x in ops if x[0] == r] for r in ROUTES}),
            "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / len(ops),
        },
        "peak_rss_mb": rss,
        "route_p50_ms": {r: p50_ms([x[2] for x in ops if x[0] == r]) for r in ROUTES},
        "op_p50_ms": p50_ms(lat),
    }
    # a tail percentile only with at least ten samples beyond it
    if len(lat) >= 100:
        result["op_p90_ms"] = sorted(lat)[int(0.9 * len(lat))] * 1000.0
    if ctx.trace:
        layers.update(probes.layer_metrics(window, len(ops)))  # codegen over the window
        layers.update(split)  # exec.* and the request split
        layers.update(host_controls(spark, control_dir))
        layers.update(common_layers(session_s, warm_mark, window_mark, result["e2e"]))
        spark.stop()
    result["layers"] = layers
    return result


def _split(spark, sf_dir, port, counters) -> dict:
    """Split single requests, sent one at a time from a fixed list: the
    route's plan builder and `to_json_records` are timed inside the
    serving path by wrapping the module functions it calls, the rest of
    the HTTP latency is the boundary's own overhead, and Spark's
    counters are read around the `to_json_records` call (which runs the
    plan). The list is the same for every seed, so the counters are
    exact run to run."""
    from fiat2_spark.sources import io
    from fiat2_spark.workloads import server

    py4j = probes.Py4jCounter()
    spans: list = []  # (kind, seconds, py4j calls, jobs, counters or None, tracer seconds)

    def timed(kind, fn):
        def wrapper(*args, **kwargs):
            t_a = time.perf_counter()
            m = counters.mark()
            p0, t0 = py4j.n, time.perf_counter()
            out = fn(*args, **kwargs)
            t1, calls = time.perf_counter(), py4j.n - p0
            jobs = counters.last_job() - m["job"]
            c = counters.since(m) if kind == "json" else None
            # the tracer's own calls are left out of every share
            spans.append((kind, t1 - t0, calls, jobs, c, (t0 - t_a) + (time.perf_counter() - t1)))
            return out
        return wrapper

    names = (("artist_less_than", server), ("album_and_artist", server), ("to_json_records", io))
    saved = [(mod, name, getattr(mod, name)) for name, mod in names]
    build, js, overhead, calls, jobs, exec_total = [], [], [], [], [], {}
    for mod, name, fn in saved:
        setattr(mod, name, timed("json" if name == "to_json_records" else "build", fn))
    py4j.install()
    try:
        for route, n in SPLIT_REQUESTS:
            spans.clear()
            t0 = time.perf_counter()
            get(port, route, n)
            latency = time.perf_counter() - t0
            (_, b, b_calls, b_jobs, _, tr_b), (_, j, _, _, c, tr_j) = spans
            build.append(b)
            js.append(j)
            overhead.append(latency - b - j - tr_b - tr_j)
            calls.append(b_calls)
            jobs.append(b_jobs)
            probes.add(exec_total, c)
    finally:
        py4j.uninstall()
        for mod, name, fn in saved:
            setattr(mod, name, fn)
    plan_s = []
    for route, n in SPLIT_REQUESTS:
        df = getattr(server, route.removeprefix("get_"))(spark, sf_dir, n)
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()  # Catalyst: optimize + plan
        plan_s.append(time.perf_counter() - t0)
    exec_metrics = probes.layer_metrics(exec_total, len(SPLIT_REQUESTS))
    return {
        **{k: v for k, v in exec_metrics.items() if k.startswith("exec.")},
        "serve.build_ms": mean(build) * 1000,
        "serve.json_ms": mean(js) * 1000,
        "serve.overhead_ms": mean(overhead) * 1000,
        "serve.jobs_per_req": mean(jobs) + exec_total["jobs"] / len(SPLIT_REQUESTS),
        "build.ms_per_op": mean(build) * 1000,
        "build.jobs_per_op": mean(jobs),
        "build.py4j_calls_per_op": mean(calls),
        "plan.ms_per_op": mean(plan_s) * 1000,
    }
