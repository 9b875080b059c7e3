"""End-to-end serving benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload scan_stream --seed 1 --seconds 15 --trace 0

Starts the engine the way a user does (``session.build_session`` ->
``DistEngine.create``, plus ``flight_server.serve_background`` for the
Flight workloads), drives it from this one process for ``--seconds``
with requests generated from ``--seed``, checks every result, and
prints one JSON object as the LAST line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same window untraced and then traced, replays requests in-process to
split the time by layer, and reports the per-layer metrics. The line
before the last is the full record (host, inputs, every timing with its
tail percentile and sample count, leak checks, per-layer detail, span
self times, tracing overhead). Exits non-zero on any wrong result,
failed request or job left running. The command runs all of this in a
child process and returns only once every process started under it,
the driver JVM included, has ended.

``--record-hashes`` (maintenance) runs every pipeline_ops entry once,
cross-checks it against the registry's DuckDB oracle where one is given
and finishes in time, and rewrites ``pipeline_hashes.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
HASHES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pipeline_hashes.json")

SETUP_REPEATS = 3
# Each health probe runs a SELECT 1 Spark job beside the workload's own
# jobs; at 4 Hz they made the scan's first-batch time twice as noisy.
HEALTH_PERIOD_S = 1.0
BASE_SF = 0.1
PIPELINE_FACTOR = 3
# A pipeline_ops block is three passes over the entries (~10 s on a
# 4-core host), so every window of a few seconds times exactly one block.
PIPELINE_PASSES = 3
# Untimed passes before timing: the first pays cold costs (5-14 s per
# entry), the second still runs ~40% slower than the steady state.
PIPELINE_WARMUP_PASSES = 2
# Flight workloads send this many untimed requests first: the first
# stream of a session is about a second slower than the rest.
WARMUP_REQUESTS = 1
# DuckDB oracles that take longer than this at x3 are not cross-checked.
ORACLE_TIMEOUT_S = 60.0

# LLM-pipeline entries run at x3 (a subset of the x3 comparison set):
# driver-blocking kmeans rounds with a pandas-UDF scorer, and pointer
# jumping over the minhash pair set, served from a session cache once
# warm. Each takes ~1.8 s warm on a 4-core host; the set is kept small
# because every run also pays a cold pass over it.
PIPELINE_ENTRIES = [
    "ann_kmeans_refine",
    "dedup_clusters",
]

# Per-layer metric -> (unit, end-to-end metrics it should move, the
# workloads where it should move them). Values come from the traced run.
_ALL = "scan_stream,pipeline_ops,mix_concurrent"
_SPARK = ("ttlb_p50_s,queries_per_s", "pipeline_ops,mix_concurrent; small on scan_stream")
_DELIVERY = ("ttfb_p50_s,ttlb_p50_s,rows_per_s",
             "scan_stream; fixed part of ttlb_p50_s on pipeline_ops,mix_concurrent")
_WIRE = ("ttfb_p50_s,ttlb_p50_s", "scan_stream,mix_concurrent")
LAYERS = {
    "session.build_s": ("s", "setup_s", _ALL),
    "catalog.register_views_s": ("s", "setup_s", _ALL),
    "setup.warmup_s": ("s", "setup_s", _ALL),
    "flight_server.start_s": ("s", "setup_s", "scan_stream,mix_concurrent"),
    "engine.submit_s": ("s", "ttfb_p50_s", "mix_concurrent,scan_stream,pipeline_ops"),
    "flight_server.get_flight_info_s": ("s", "ttfb_p50_s", "mix_concurrent,scan_stream"),
    "operators.build_s": ("s", "ttfb_p50_s", "pipeline_ops"),
    "operators.build_jobs": ("count", "ttfb_p50_s", "pipeline_ops"),
    "operators.cache_hits": ("count", "ttlb_p50_s,peak_rss_mb", "pipeline_ops"),
    "spark.persisted_rdds_after": ("count", "ttlb_p50_s,peak_rss_mb", "pipeline_ops"),
    **{f"spark.{k}": (u, *_SPARK) for k, u in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_failures", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
        ("input_mb", "MB"), ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"), ("result_mb", "MB"), ("noop_s", "s"))},
    "engine.first_batch_s": ("s", *_DELIVERY),
    "engine.pull_wait_s": ("s", *_DELIVERY),
    "engine.batches": ("count", *_DELIVERY),
    "engine.rows": ("count", *_DELIVERY),
    "engine.arrow_mb": ("MB", *_DELIVERY),
    "flight_server.do_get_first_s": ("s", *_WIRE),
    "flight_server.read_wait_s": ("s", *_WIRE),
    "flight_server.chunks": ("count", *_WIRE),
    "flight_server.health_late_s": ("s", "health_tail_s", "scan_stream,mix_concurrent"),
    "engine.jobs_left_running": ("count", "error_rate,peak_rss_mb (must be 0)", _ALL),
    "spark.active_jobs_after": ("count", "error_rate,peak_rss_mb (must be 0)", _ALL),
    "driver.python_rss_peak_mb": ("MB", "peak_rss_mb", _ALL),
    "driver.jvm_rss_peak_mb": ("MB", "peak_rss_mb", _ALL),
}

FLIGHT_WORKLOADS = ("scan_stream", "mix_concurrent")
WORKLOADS = FLIGHT_WORKLOADS + ("pipeline_ops",)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- set-up -----------------------------------------------------------------


class Deployment:
    """One engine as a user starts it; ``setup`` times each step."""

    def __init__(self, sf_dir: str, flight: bool, tracer) -> None:
        self.sf_dir, self.flight, self.tracer = sf_dir, flight, tracer
        self.spark = self.engine = self.server = None

    def setup(self) -> dict:
        import bench
        from datafusion_dist_spark.engine import DistEngine
        from datafusion_dist_spark.session import build_session

        steps = {}
        t0 = time.perf_counter()
        with self.tracer.span("session.build"):
            self.spark = build_session(
                "perfbench",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                    # A fixed-size heap (initial = max) keeps the JVM's
                    # peak RSS from depending on when the heap grew; no
                    # perf-data file, which the JVM would put in /tmp.
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData "
                        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                    ),
                },
            )
        t1 = time.perf_counter()
        with self.tracer.span("catalog.register_views"):
            self.engine = DistEngine.create(sf_dir=self.sf_dir, spark=self.spark)
        t2 = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            bench.warmup(self.spark, self.sf_dir)
        t3 = time.perf_counter()
        steps.update(
            {"session.build_s": t1 - t0, "catalog.register_views_s": t2 - t1,
             "setup.warmup_s": t3 - t2}
        )
        if self.flight:
            from datafusion_dist_spark.flight_server import serve_background

            with self.tracer.span("flight_server.start"):
                self.server = serve_background(self.engine)
            steps["flight_server.start_s"] = time.perf_counter() - t3
        steps["setup_s"] = time.perf_counter() - t0
        return steps

    def teardown(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.wait()
            self.server = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# -- clients ----------------------------------------------------------------


class Window:
    """Shared state of one timed window: the request feed and samples.

    Requests are handed out until the deadline and then until the
    current block is complete, so every window covers whole blocks
    (each block holds every stratum of the workload once) and the
    figures of different seeds describe the same mix of work."""

    def __init__(self, requests: list[dict], block: int) -> None:
        self._requests = iter(enumerate(requests))
        self._next = 0
        self._block = block
        self._lock = threading.Lock()
        self.samples: list[dict] = []
        self.check_s: list[float] = []
        self.errors: list[str] = []
        self.start = self.deadline = 0.0

    def next_request(self):
        with self._lock:
            if self._next % self._block == 0 and time.perf_counter() >= self.deadline:
                return None
            self._next += 1
            return next(self._requests, None)

    def record(self, sample: dict) -> None:
        with self._lock:
            self.samples.append(sample)
            if sample.get("error"):
                self.errors.append(sample["error"])

    def client_done(self, check_s: float) -> None:
        """A client has stopped; ``check_s`` is what it spent checking."""
        with self._lock:
            self.check_s.append(check_s)


def _flight_client_loop(location: str, window: Window, tracer, check) -> None:
    import pyarrow.flight as flight

    client = flight.connect(location)
    check_s = 0.0
    try:
        while (item := window.next_request()) is not None:
            i, req = item
            rid = f"r{i}"
            sample = {"i": i, "rows": 0}
            t0 = time.perf_counter()
            try:
                with tracer.span("client.request", rid):
                    with tracer.span("flight_server.get_flight_info"):
                        info = client.get_flight_info(
                            flight.FlightDescriptor.for_command(req["sql"].encode())
                        )
                    batches = []
                    with tracer.span("flight_server.do_get_first"):
                        reader = client.do_get(info.endpoints[0].ticket)
                        try:
                            batches.append(reader.read_chunk().data)
                        except StopIteration:
                            pass
                    sample["ttfb"] = time.perf_counter() - t0
                    while True:
                        with tracer.span("flight_server.read"):
                            try:
                                batches.append(reader.read_chunk().data)
                            except StopIteration:
                                break
                sample["ttlb"] = time.perf_counter() - t0
                sample["rows"] = sum(b.num_rows for b in batches)
                sample["chunks"] = len(batches)
                c0 = time.perf_counter()
                sample["result"] = check(req, batches, reader.schema)
                check_s += time.perf_counter() - c0
            except Exception as exc:  # noqa: BLE001 - a failed request is a sample
                sample["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            window.record(sample)
    finally:
        client.close()
        window.client_done(check_s)


def _health_loop(location: str, window: Window, stop: threading.Event, out: list) -> None:
    """Open-loop prober: one ``health`` action every HEALTH_PERIOD_S,
    timed from when it was due; records how late each was sent."""
    import pyarrow.flight as flight

    client = flight.connect(location)
    try:
        due = time.perf_counter()
        while not stop.is_set():
            delay = due - time.perf_counter()
            if delay > 0 and stop.wait(delay):
                break
            sent = time.perf_counter()
            try:
                list(client.do_action(flight.Action("health", b"")))
                out.append({"latency": time.perf_counter() - due, "late": sent - due})
            except Exception as exc:  # noqa: BLE001
                out.append({"error": f"{type(exc).__name__}: {str(exc)[:200]}"})
            due += HEALTH_PERIOD_S
    finally:
        client.close()


def _inprocess_loop(dep: Deployment, window: Window, tracer, specs) -> None:
    """pipeline_ops client: build the entry's DataFrame with the
    registry's ``spark_fn`` and drain ``submit_df(df).stream_arrow()``."""
    from perfbench.measure import table_hash

    check_s = 0.0
    while (item := window.next_request()) is not None:
        i, req = item
        sample = {"i": i, "rows": 0, "entry": req["entry"]}
        t0 = time.perf_counter()
        try:
            with tracer.span("client.request", f"r{i}"):
                with tracer.span("operators.build"):
                    df = specs[req["entry"]].spark_fn(dep.spark, dep.sf_dir)
                with tracer.span("engine.submit"):
                    handle = dep.engine.submit_df(df, meta={"entry": req["entry"]})
                stream = handle.stream_arrow()
                batches = []
                with tracer.span("engine.first_batch"):
                    first = next(stream, None)
                if first is not None:
                    batches.append(first)
                sample["ttfb"] = time.perf_counter() - t0
                if first is not None:
                    while True:
                        with tracer.span("engine.pull"):
                            b = next(stream, None)
                        if b is None:
                            break
                        batches.append(b)
            sample["ttlb"] = time.perf_counter() - t0
            sample["rows"] = sum(b.num_rows for b in batches)
            c0 = time.perf_counter()
            sample["result"] = table_hash(_to_table(batches, df))
            check_s += time.perf_counter() - c0
        except Exception as exc:  # noqa: BLE001
            sample["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        window.record(sample)
    window.client_done(check_s)


def _to_table(batches, df):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if batches:
        return pa.Table.from_batches(batches)
    return to_arrow_schema(df.schema).empty_table()


def run_window(workload: str, dep: Deployment, requests, seconds, tracer, specs) -> dict:
    """One timed window: closed-loop clients (+ the open-loop health
    prober on Flight workloads) until ``seconds`` have passed; requests
    in flight at the deadline complete and count."""
    from perfbench.measure import add_sums, column_sums, table_hash

    from perfbench.workloads import BLOCK

    window = Window(requests, BLOCK.get(workload, PIPELINE_PASSES * len(PIPELINE_ENTRIES)))
    health: list[dict] = []
    stop = threading.Event()
    threads = []
    if workload == "scan_stream":
        def check(req, batches, schema):
            acc: dict = {}
            for b in batches:
                add_sums(acc, column_sums(b))
            return acc
        n_clients = 1
    elif workload == "mix_concurrent":
        def check(req, batches, schema):
            import pyarrow as pa

            return table_hash(pa.Table.from_batches(batches, schema=schema))
        n_clients = max(1, _nproc() - 1)
    else:
        n_clients = 1
    window.start = time.perf_counter()
    window.deadline = window.start + seconds
    if workload in FLIGHT_WORKLOADS:
        loc = dep.server.location
        threads.append(
            threading.Thread(target=_health_loop, args=(loc, window, stop, health))
        )
        threads += [
            threading.Thread(target=_flight_client_loop, args=(loc, window, tracer, check))
            for _ in range(n_clients)
        ]
    else:
        threads.append(
            threading.Thread(target=_inprocess_loop, args=(dep, window, tracer, specs))
        )
    for t in threads:
        t.start()
    for t in threads[1:] if workload in FLIGHT_WORKLOADS else threads:
        t.join()
    wall = time.perf_counter() - window.start
    stop.set()
    for t in threads:
        t.join()
    # Result checks run in the client threads between requests; a
    # closed-loop client is paused meanwhile, so their time is not
    # workload time.
    wall -= statistics.mean(window.check_s) if window.check_s else 0.0
    return {"window": window, "wall": wall, "health": health, "clients": n_clients}


def summarize(win: dict) -> dict:
    from perfbench.measure import timing

    window = win["window"]
    ok = [s for s in window.samples if "error" not in s]
    ttfb = timing([s["ttfb"] for s in ok])
    ttlb = timing([s["ttlb"] for s in ok])
    health_ok = [h for h in win["health"] if "error" not in h]
    hl = timing([h["latency"] for h in health_ok])
    return {
        "ttfb": ttfb,
        "ttlb": ttlb,
        "health": hl,
        "health_late": timing([h["late"] for h in health_ok]),
        "health_failed": len(win["health"]) - len(health_ok),
        "attempted": len(window.samples),
        "failed": len(window.samples) - len(ok),
        "completed": len(ok),
        "rows": sum(s["rows"] for s in ok),
        "wall_s": win["wall"],
        "clients": win["clients"],
        "errors": window.errors[:5],
        # (request index, ttfb, ttlb, rows) of every completed request.
        "samples": [(s["i"], s["ttfb"], s["ttlb"], s["rows"]) for s in ok],
        "per_entry_ttlb_p50": {
            e: statistics.median(s["ttlb"] for s in ok if s.get("entry") == e)
            for e in sorted({s["entry"] for s in ok if "entry" in s})
        },
    }


# -- correctness ------------------------------------------------------------


def check_results(workload: str, win: dict, requests, base_dir: str) -> list[str]:
    """Compare every completed request's result with its independent
    reference; returns one message per wrong result."""
    from datafusion_dist_spark.catalog import TESTDATA_TABLES, table_path
    from perfbench import workloads as W

    ok = [s for s in win["window"].samples if "error" not in s]
    wrong: list[str] = []
    if workload == "scan_stream":
        ref = W.ScanReference(table_path(base_dir, "lineitem"))
        for s in ok:
            rows, sums = ref.expect(requests[s["i"]])
            if rows != s["rows"] or sums != s["result"]:
                wrong.append(f"r{s['i']}: {rows} rows expected, got {s['rows']}")
    elif workload == "mix_concurrent":
        ref = W.DuckReference(base_dir, TESTDATA_TABLES)
        try:
            for s in ok:
                if ref.expect(requests[s["i"]]["sql"]) != s["result"]:
                    wrong.append(f"r{s['i']} ({requests[s['i']]['shape']}) differs from DuckDB")
        finally:
            ref.close()
    else:
        expected = _recorded_hashes().get(_corpus_key(base_dir), {})
        for s in ok:
            want = expected.get(s["entry"], {}).get("hash")
            if want != s["result"]:
                wrong.append(f"{s['entry']}: result hash differs from the recorded one")
    return wrong


def _corpus_key(base_dir: str) -> str:
    return f"{os.path.basename(base_dir)} x{PIPELINE_FACTOR}"


def _recorded_hashes() -> dict:
    try:
        with open(HASHES) as fh:
            return json.load(fh)
    except OSError:
        return {}


# -- traced replay ------------------------------------------------------------


def replay(workload: str, dep: Deployment, requests, seconds: float, tracer, specs) -> dict:
    """Sequential in-process replay of the workload's requests for up
    to ``seconds`` (at least one request, or one pass over the
    pipeline_ops entries): ``DistEngine.submit`` (or the
    registry build + ``submit_df``), every ``stream_arrow`` pull timed,
    Spark stage metrics read by job group, and the same request into
    the ``noop`` sink."""
    from datafusion_dist_spark.operators.common import session_cache_hits
    from perfbench.measure import stage_metrics

    sc = dep.spark.sparkContext
    rows: list[dict] = []
    deadline = time.perf_counter() + seconds
    # pipeline_ops replays at least one pass, so every entry (and the
    # session cache one of them reads) is in the per-layer figures.
    at_least = len(PIPELINE_ENTRIES) if workload == "pipeline_ops" else 1
    for i, req in enumerate(requests):
        if len(rows) >= at_least and time.perf_counter() >= deadline:
            break
        rid, rec = f"replay{i}", {}
        with tracer.span("replay.request", rid):
            if workload == "pipeline_ops":
                build_group = f"perfbench-build-{i}"
                hits0 = session_cache_hits()
                sc.setJobGroup(build_group, "operators build")
                t0 = time.perf_counter()
                with tracer.span("operators.build"):
                    df = specs[req["entry"]].spark_fn(dep.spark, dep.sf_dir)
                rec["operators.build_s"] = time.perf_counter() - t0
                sc.setJobGroup("perfbench-idle", "")
                rec["operators.build_jobs"] = len(
                    sc.statusTracker().getJobIdsForGroup(build_group)
                )
                t0 = time.perf_counter()
                with tracer.span("engine.submit"):
                    handle = dep.engine.submit_df(df)
            else:
                t0 = time.perf_counter()
                with tracer.span("engine.submit"):
                    handle = dep.engine.submit(req["sql"])
            rec["engine.submit_s"] = time.perf_counter() - t0
            stream = handle.stream_arrow()
            waits, nbytes, nrows = [], 0, 0
            while True:
                t0 = time.perf_counter()
                with tracer.span("engine.first_batch" if not waits else "engine.pull"):
                    b = next(stream, None)
                waits.append(time.perf_counter() - t0)
                if b is None:
                    break
                nbytes += b.nbytes
                nrows += b.num_rows
            rec["engine.first_batch_s"] = waits[0]
            rec["engine.pull_wait_s"] = sum(waits[1:])
            rec["engine.batches"] = len(waits) - 1
            rec["engine.rows"] = nrows
            rec["engine.arrow_mb"] = nbytes / (1024.0 * 1024.0)
            group = next(
                e.spark_job_group for e in dep.engine.jobs.all() if e.job_id == handle.job_id
            )
            rec.update({f"spark.{k}": v for k, v in stage_metrics(dep.spark, group).items()})
            t0 = time.perf_counter()
            with tracer.span("spark.noop"):
                if workload == "pipeline_ops":
                    noop_df = specs[req["entry"]].spark_fn(dep.spark, dep.sf_dir)
                else:
                    noop_df = dep.engine.sql(req["sql"])
                noop_df.write.mode("overwrite").format("noop").save()
            rec["spark.noop_s"] = time.perf_counter() - t0
            if workload == "pipeline_ops":
                rec["operators.cache_hits"] = session_cache_hits() - hits0
        rows.append(rec)
    out: dict = {"replayed": len(rows)}
    for k in rows[0]:
        vals = [r[k] for r in rows]
        # Times: median per request; counts and sizes: mean per request.
        out[k] = statistics.median(vals) if k.endswith("_s") else statistics.mean(vals)
    return out


def client_layers(win: dict, tracer) -> dict:
    """Client-timed Flight wire metrics from the traced window."""
    by_req: dict[str, dict] = {}
    for s in tracer.spans:
        if s["name"] in ("flight_server.get_flight_info", "flight_server.do_get_first",
                         "flight_server.read"):
            r = by_req.setdefault(s["request"], {"info": 0.0, "first": 0.0, "read": 0.0, "n": 0})
            d = s["end"] - s["start"]
            if s["name"] == "flight_server.get_flight_info":
                r["info"] += d
            elif s["name"] == "flight_server.do_get_first":
                r["first"] += d
            else:
                r["read"] += d
                r["n"] += 1
    out = {}
    if by_req:
        vals = list(by_req.values())
        out["flight_server.get_flight_info_s"] = statistics.median(v["info"] for v in vals)
        out["flight_server.do_get_first_s"] = statistics.median(v["first"] for v in vals)
        out["flight_server.read_wait_s"] = statistics.median(v["read"] for v in vals)
    ok = [s for s in win["window"].samples if "chunks" in s]
    if ok:
        out["flight_server.chunks"] = statistics.mean(s["chunks"] for s in ok)
    late = [h["late"] for h in win["health"] if "late" in h]
    if late:
        out["flight_server.health_late_s"] = statistics.median(late)
    return out


# -- main -----------------------------------------------------------------------


def spark_cores(workload: str) -> int:
    """Spark's share of the cores. The driver process serves the Flight
    workloads' delivery (Arrow decode, Flight re-encode, client decode)
    and gets half the cores there; in pipeline_ops it only runs the
    operators' driver-side steps and gets one. On a 4-core host, giving
    Spark more made runs slower and doubled their run-to-run spread: the
    figures then measure the scheduler."""
    n = _nproc()
    return max(1, n // 2 if workload in FLIGHT_WORKLOADS else n - 1)


def _env(workload: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # The launcher JVM that spark-submit starts would write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(spark_cores(workload)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _prepare_corpus(sf: float) -> tuple[str, str]:
    """Generate (or reuse) the corpus in a child process, so its memory
    does not count in this process's peak RSS."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); from perfbench import corpus; "
        "print(*corpus.prepare(sys.argv[2], float(sys.argv[3]), int(sys.argv[4])), sep='\\n')"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, ROOT, WORK, repr(sf), str(PIPELINE_FACTOR)],
        check=True, capture_output=True, text=True, timeout=600,
    ).stdout.splitlines()
    return out[0], out[1]


def e2e_metrics(summ: dict, setup_s: float, peak_rss: float) -> dict:
    attempted = max(1, summ["attempted"])
    wall = max(summ["wall_s"], 1e-9)
    return {
        "setup_s": setup_s,
        "ttfb_p50_s": summ["ttfb"]["p50"],
        "ttfb_tail_s": summ["ttfb"]["tail"],
        "ttlb_p50_s": summ["ttlb"]["p50"],
        "ttlb_tail_s": summ["ttlb"]["tail"],
        "queries_per_s": summ["completed"] / wall,
        "rows_per_s": summ["rows"] / wall,
        "error_rate": (summ["failed"] + summ.get("wrong", 0)) / attempted,
        "health_p50_s": summ["health"]["p50"],
        "health_tail_s": summ["health"]["tail"],
        "peak_rss_mb": peak_rss,
    }


def _declared(kind: str) -> list[tuple[str, str]]:
    """The metrics BENCHMARK.json declares for the final line."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def run(args) -> int:
    _env(args.workload)
    sys.path.insert(0, ROOT)
    try:
        import bench
        from datafusion_dist_spark import registry
        from datafusion_dist_spark.catalog import table_path
        from datafusion_dist_spark.operators.common import session_cache_hits
    except ImportError as exc:
        _log(f"the engine is not importable from {ROOT}: {exc}")
        return 2
    from perfbench import measure, workloads as W

    record: dict = {"workload": args.workload, "seed": args.seed, "nproc": _nproc(),
                    "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
                    "seconds": args.seconds, "trace": args.trace,
                    "host.loadavg_1m_before": os.getloadavg()[0]}
    # Wall time of each phase of this run, for sizing the benchmark.
    phases: dict[str, float] = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    canary = bench.host_canary()
    record["host.canary_matmul_s"] = canary["matmul_sec"]
    record["host.canary_pyloop_s"] = canary["pyloop_sec"]
    base_dir, x3_dir = _prepare_corpus(args.sf)
    record["data_hashes"] = {"base": bench.data_hashes(base_dir), "x3": bench.data_hashes(x3_dir)}
    import pyarrow.parquet as pq

    n_orders = pq.ParquetFile(table_path(base_dir, "orders")).metadata.num_rows
    n_req = 100_000
    if args.workload == "scan_stream":
        requests = W.scan_requests(args.seed, n_req, n_orders)
    elif args.workload == "mix_concurrent":
        requests = W.mix_requests(args.seed, n_req)
    else:
        requests = W.pipeline_requests(args.seed, n_req, PIPELINE_ENTRIES)
    specs = registry.all_specs()
    sf_dir = x3_dir if args.workload == "pipeline_ops" else base_dir
    phase("prepare")

    tracer = measure.Tracer(False)
    dep = Deployment(sf_dir, args.workload in FLIGHT_WORKLOADS, tracer)
    setups = []
    for k in range(SETUP_REPEATS):
        setups.append(dep.setup())
        if k + 1 < SETUP_REPEATS:
            dep.teardown()
    setup_med = {k: statistics.median(s[k] for s in setups) for k in setups[0]}
    record["setup"] = {"repeats": SETUP_REPEATS, "median": setup_med,
                       "samples": [s["setup_s"] for s in setups]}
    phase("setup")
    # The traced run splits its time budget: the same window untraced
    # and traced (their difference is the tracing overhead), then the
    # in-process replay.
    seconds = args.seconds / 2 if args.trace else args.seconds
    # Untimed requests before timing: session caches fill and
    # first-execution costs (Python workers, the first Flight stream)
    # are paid, as in a long-running engine. Their wall is first_pass_s.
    if args.workload == "scan_stream":
        warm_requests = W.scan_requests(
            args.seed, WARMUP_REQUESTS, n_orders, label="scan_stream.warmup"
        )
    elif args.workload == "mix_concurrent":
        warm_requests = W.mix_requests(args.seed, WARMUP_REQUESTS, label="mix_concurrent.warmup")
    else:
        warm_requests = [{"entry": e} for e in PIPELINE_ENTRIES] * PIPELINE_WARMUP_PASSES
    try:
        first_pass = run_window(args.workload, dep, warm_requests, float("inf"), tracer, specs)
        record["first_pass_s"] = first_pass["wall"]
        phase("first_pass")
        hits0 = session_cache_hits()
        win = run_window(args.workload, dep, requests, seconds, tracer, specs)
        record["operators.cache_hits_window"] = session_cache_hits() - hits0
        phase("window")
        traced = None
        if args.trace:
            tracer.enabled = True
            traced = run_window(args.workload, dep, requests, seconds, tracer, specs)
            layers = replay(args.workload, dep, requests, seconds, tracer, specs)
            layers.update(client_layers(traced, tracer))
        # Leak checks: nothing may still run once every client is done.
        leaks = {
            "engine.jobs_left_running": len(dep.engine.jobs.running()),
            "spark.active_jobs_after": measure.active_jobs(dep.spark),
            "spark.persisted_rdds_after": measure.persisted_rdds(dep.spark),
        }
        rss = {
            "driver.python_rss_peak_mb": measure.vm_hwm_mb(os.getpid()),
            "driver.jvm_rss_peak_mb": measure.vm_hwm_mb(measure.jvm_pid(dep.spark)),
        }
    finally:
        dep.teardown()
    phase("traced_and_teardown" if args.trace else "teardown")
    peak_rss = sum(rss.values())
    summ = summarize(win)
    wrong = check_results(args.workload, win, requests, base_dir)
    fp = summarize(first_pass)
    summ["first_pass"] = {"attempted": fp["attempted"], "failed": fp["failed"],
                          "errors": fp["errors"], "samples": fp["samples"]}
    summ["failed"] += fp["failed"]
    summ["attempted"] += fp["attempted"]
    wrong += check_results(args.workload, first_pass, warm_requests, base_dir)
    summ["wrong"] = len(wrong)
    e2e = e2e_metrics(summ, setup_med["setup_s"], peak_rss)
    record.update({"summary": summ, "wrong": wrong[:10], "leaks": leaks, "rss": rss,
                   "end_to_end": e2e})
    if traced is not None:
        tsumm = summarize(traced)
        tsumm["wrong"] = len(check_results(args.workload, traced, requests, base_dir))
        summ["wrong"] += tsumm["wrong"]
        t_e2e = e2e_metrics(tsumm, setup_med["setup_s"], peak_rss)
        record["tracing_overhead"] = {
            k: (t_e2e[k] - e2e[k]) for k in e2e
            if e2e[k] is not None and t_e2e[k] is not None and k != "setup_s"
        }
        per_layer = {k: v for k, v in setup_med.items() if k != "setup_s"}
        per_layer.update(layers)
        per_layer.update(leaks)
        per_layer.update(rss)
        per_layer["operators.cache_hits"] = per_layer.get("operators.cache_hits", 0)
        per_layer["operators.build_jobs"] = per_layer.get("operators.build_jobs", 0)
        record["per_layer"] = {
            k: {"value": v, "unit": LAYERS[k][0], "moves": LAYERS[k][1],
                "on": LAYERS[k][2]}
            for k, v in per_layer.items() if k in LAYERS
        }
        record["self_time_s"] = tracer.self_times()
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(tracer.spans, fh)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    phase("checks")
    record["phase_s"] = phases
    record["host.loadavg_1m_after"] = os.getloadavg()[0]
    failed = summ["failed"] + (tsumm["failed"] if traced is not None else 0)
    left = leaks["engine.jobs_left_running"]
    correct = not wrong and summ["wrong"] == 0 and failed == 0 and left == 0
    print(json.dumps(record, default=str))
    if args.trace:
        values = record["per_layer"]
        metrics = {n: {"value": values[n]["value"], "unit": u}
                   for n, u in _declared("per_layer")}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in _declared("end_to_end")}
    attempted = summ["attempted"] + (tsumm["attempted"] if traced is not None else 0)
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed + summ["wrong"], "metrics": metrics}))
    return 0 if correct else 1


def record_hashes(args) -> int:
    """Maintenance: rewrite pipeline_hashes.json from one run of every
    pipeline_ops entry, cross-checked against the registry's DuckDB
    oracle on the x3 corpus where it finishes within the time limit."""
    _env("pipeline_ops")
    sys.path.insert(0, ROOT)
    import duckdb

    from datafusion_dist_spark import registry
    from datafusion_dist_spark.catalog import TESTDATA_TABLES
    from perfbench import measure, workloads as W
    from tests.oracle_compare import assert_frames_match

    base_dir, x3_dir = _prepare_corpus(args.sf)
    specs = registry.all_specs()
    dep = Deployment(x3_dir, False, measure.Tracer(False))
    dep.setup()
    out = {}
    try:
        for name in PIPELINE_ENTRIES:
            df = specs[name].spark_fn(dep.spark, x3_dir)
            batches = list(dep.engine.submit_df(df).stream_arrow())
            table = _to_table(batches, df)
            rec = {"hash": measure.table_hash(table), "rows": table.num_rows,
                   "oracle": "none"}
            if specs[name].oracle:
                ref = W.DuckReference(x3_dir, TESTDATA_TABLES)
                timer = threading.Timer(ORACLE_TIMEOUT_S, ref.con.interrupt)
                timer.start()
                try:
                    odf = ref.con.execute(specs[name].oracle).fetchdf()
                    assert_frames_match(table.to_pandas(), odf, name)
                    rec["oracle"] = "match"
                except duckdb.InterruptException:
                    rec["oracle"] = f"skipped: over {ORACLE_TIMEOUT_S:g}s at x3"
                finally:
                    timer.cancel()
                    ref.close()
            out[name] = rec
            _log(f"{name}: {rec}")
    finally:
        dep.teardown()
    recorded = _recorded_hashes()
    recorded[_corpus_key(base_dir)] = out
    with open(HASHES, "w") as fh:
        json.dump(recorded, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


_CHILD_ENV = "PERFBENCH_SUPERVISED"
# After the benchmark process exits, the driver JVM notices its closed
# stdin and shuts down, and the JVM's Python worker daemons after it.
# Processes still alive this long after that are terminated.
ORPHAN_GRACE_S = 30.0


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(name))
    return out


def _reap_all() -> int:
    """Wait until this process has no child left, living or zombie;
    terminate stragglers after ORPHAN_GRACE_S. Returns how many it reaped."""
    import signal

    reaped, t0 = 0, time.monotonic()
    signaled: dict[int, int] = {}
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return reaped
        if pid:
            reaped += 1
            continue
        waited = time.monotonic() - t0
        if waited > ORPHAN_GRACE_S:
            # Signal newly re-parented processes too, e.g. the workers
            # of a JVM that has just exited.
            sig = signal.SIGKILL if waited > ORPHAN_GRACE_S + 10 else signal.SIGTERM
            for pid in _children():
                if signaled.get(pid) != sig:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                    signaled[pid] = sig
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process and return only once every
    process it started has ended. This process becomes a child subreaper,
    so the driver JVM and its Python workers, which outlive the
    benchmark process by a moment, are re-parented here and waited for."""
    import ctypes
    import signal

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, _CHILD_ENV: "1"},
    )
    # Stopped from outside, stop the benchmark and still wait for
    # everything it started.
    signal.signal(signal.SIGTERM, lambda *_: child.terminate())
    try:
        rc = child.wait()
    except BaseException:
        child.kill()
        _reap_all()
        raise
    reaped = _reap_all()
    if reaped:
        _log(f"waited for {reaped} process(es) that outlived the benchmark")
    return rc


def main(argv=None) -> int:
    if os.environ.get(_CHILD_ENV) != "1":
        return supervise(sys.argv[1:] if argv is None else list(argv))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=BASE_SF,
                   help="base corpus scale factor (sf0.1 = 600k lineitem rows)")
    p.add_argument("--record-hashes", action="store_true")
    args = p.parse_args(argv)
    if args.record_hashes:
        return record_hashes(args)
    if args.workload is None:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
