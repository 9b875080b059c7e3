"""Real Spark STANDALONE cluster on one host: master + worker daemons
as separate OS processes, connected over ``spark://``.

The reference's whole integration harness runs on a real multi-node
docker cluster — separate processes with a network between them
(``integration-tests/docker-compose.yaml:4-53``: 3 app nodes +
Postgres). ``local-cluster[2,4,4096]`` gets separate EXECUTOR JVMs but
hides the deployment layer: master and workers live inside the driver
JVM, so daemon scheduling, worker-side executor launch, and
worker-relaunch-after-executor-death are never exercised as real
processes. This module closes that last shape gap the sandbox allows:

- ``start_master`` / ``start_worker`` spawn the actual
  ``org.apache.spark.deploy.master.Master`` / ``worker.Worker`` via
  pyspark's bundled ``spark-class`` — the same daemons
  ``sbin/start-master.sh`` runs on a production standalone cluster.
- Sessions connect with ``SPARK_GRAFT_MASTER=spark://host:port``
  through the engine's ordinary ``build_session`` (which propagates
  PYTHONPATH to executor Python workers for non-local masters).

Used by ``tests/test_standalone.py`` (correctness + executor-kill on
the standalone shape). Daemons bind real TCP ports; callers must
tolerate a sandbox that forbids binding by skipping (the test does).

Run as a script it is the deployment-shape overhead bench: the same
resource envelope on both shapes — 2 executors x 4 cores x 4 GiB —
the only difference being WHERE the cluster manager lives (these
daemons over ``spark://`` versus ``local-cluster[2,4,4096]``'s
in-driver master). Per-query walls should be near parity: the
deployment layer sits on the control plane (executor launch,
heartbeats), not in the task hot path. A query whose standalone wall
exceeds ``VIOLATION_RATIO`` x the local-cluster wall (above the
scheduling-noise floor) is a violation — it would mean the engine
accidentally depends on in-process-master behavior. Each shape runs
in its own subprocess (one SparkContext per process), min-of-``--runs``
after bench.warmup::

    python tools_standalone.py [--runs 2] [--out artifacts/BENCH_STANDALONE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))

SPARK_BIN = os.path.join(
    os.path.dirname(os.path.abspath(__import__("pyspark").__file__)), "bin"
)


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _spawn(args: list[str], log_path: str, env_extra: dict | None = None):
    env = dict(os.environ)
    # The REST submission server binds a FIXED port (6066) regardless
    # of the master port — two test runs (or a co-tenant) would
    # collide; the daemons don't need it.
    env["SPARK_MASTER_OPTS"] = "-Dspark.master.rest.enabled=false"
    env.update(env_extra or {})
    log = open(log_path, "w")
    return subprocess.Popen(
        [os.path.join(SPARK_BIN, "spark-class"), *args],
        stdout=log,
        stderr=subprocess.STDOUT,
        env=env,
    )


def start_master(port: int, log_dir: str) -> subprocess.Popen:
    return _spawn(
        [
            "org.apache.spark.deploy.master.Master",
            "--host",
            "127.0.0.1",
            "--port",
            str(port),
            "--webui-port",
            "0",
        ],
        os.path.join(log_dir, "master.log"),
    )


def start_worker(
    master_url: str, idx: int, log_dir: str, cores: int = 4, mem: str = "4g"
) -> subprocess.Popen:
    work_dir = os.path.join(log_dir, f"worker{idx}")
    os.makedirs(work_dir, exist_ok=True)
    return _spawn(
        [
            "org.apache.spark.deploy.worker.Worker",
            master_url,
            "--host",
            "127.0.0.1",
            "--cores",
            str(cores),
            "--memory",
            mem,
            "--webui-port",
            "0",
            "--work-dir",
            work_dir,
        ],
        os.path.join(log_dir, f"worker{idx}.log"),
    )


def wait_for_line(log_path: str, needle: str, timeout: float, proc=None) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if proc is not None and proc.poll() is not None:
            return False
        try:
            with open(log_path) as fh:
                if needle in fh.read():
                    return True
        except OSError:
            pass
        time.sleep(0.5)
    return False


class StandaloneCluster:
    """Context manager: one master + N worker daemons, all separate
    processes, torn down (SIGKILL, daemons hold no state worth a
    graceful stop) on exit. ``master_url`` is the ``spark://`` address
    sessions connect to."""

    def __init__(self, log_dir: str, workers: int = 2, cores: int = 4,
                 mem: str = "4g"):
        self.log_dir = log_dir
        self.n_workers = workers
        self.cores = cores
        self.mem = mem
        self.procs: list[subprocess.Popen] = []
        self.master_url = ""

    def __enter__(self) -> "StandaloneCluster":
        os.makedirs(self.log_dir, exist_ok=True)
        port = free_port()
        self.master_url = f"spark://127.0.0.1:{port}"
        master = start_master(port, self.log_dir)
        self.procs.append(master)
        if not wait_for_line(
            os.path.join(self.log_dir, "master.log"),
            "I have been elected leader",
            90,
            master,
        ):
            self.__exit__(None, None, None)
            raise RuntimeError(
                "standalone master never came up (port bind forbidden?)"
            )
        for i in range(self.n_workers):
            w = start_worker(
                self.master_url, i, self.log_dir, self.cores, self.mem
            )
            self.procs.append(w)
        for i in range(self.n_workers):
            if not wait_for_line(
                os.path.join(self.log_dir, f"worker{i}.log"),
                "Successfully registered with master",
                90,
                self.procs[i + 1],
            ):
                self.__exit__(None, None, None)
                raise RuntimeError(f"worker {i} never registered")
        return self

    def __exit__(self, *exc) -> None:
        for p in reversed(self.procs):
            try:
                p.kill()
            except OSError:
                pass
        for p in self.procs:
            try:
                p.wait(timeout=30)
            except Exception:
                pass
        self.procs.clear()


def session_env(repo: str, master_url: str, **extra: str) -> dict:
    """Environment for a subprocess that builds an engine session
    against the standalone master (sessions must run in their own
    process: the pytest process already owns a local[*] context)."""
    env = dict(
        os.environ,
        PYTHONPATH=repo,
        SPARK_GRAFT_MASTER=master_url,
        SPARK_GRAFT_DRIVER_MEM="4g",
    )
    env.update(extra)
    return env


# Heavy-ish slice across the engine's plan shapes: scan+agg, shuffle
# join, banded-LSH dedup (python workers + shuffle), clustered
# embedding scorer (applyInPandas), inverted-index text scoring,
# iterated graph joins.
ENTRIES = [
    "tpch_q1",
    "tpch_q5",
    "dedup_minhash_lsh_capped",
    "dedup_semantic_adaptive",
    "text_tfidf_topk",
    "graph_triangle_count",
]

VIOLATION_RATIO = 1.5
MIN_WALL = 2.0  # below this, walls are scheduling noise on both shapes

_CHILD = r"""
import json, os, sys
import bench
from datafusion_dist_spark.session import build_session

sf_dir = os.environ["DDSPARK_SF_DIR"]
runs = int(os.environ["DDSPARK_RUNS"])
spark = build_session(
    "bench-standalone",
    shuffle_partitions=8,
    extra_conf={"spark.executor.memory": "2g"},
)
bench.warmup(spark, sf_dir)
walls = {}
for name in os.environ["DDSPARK_ENTRIES"].split(","):
    walls[name] = round(min(bench.time_entry(spark, name, sf_dir, runs)), 3)
    print(f"  {name}: {walls[name]}s", file=sys.stderr, flush=True)
print("CHILD_WALLS " + json.dumps(walls))
spark.stop()
"""


def run_shape(master_url: str, sf_dir: str, runs: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD],
        capture_output=True,
        text=True,
        timeout=1800,
        env=session_env(
            REPO,
            master_url,
            DDSPARK_SF_DIR=sf_dir,
            DDSPARK_RUNS=str(runs),
            DDSPARK_ENTRIES=",".join(ENTRIES),
        ),
        cwd=REPO,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("CHILD_WALLS "):
            return json.loads(line[len("CHILD_WALLS "):])
    raise RuntimeError(
        f"child produced no walls (master={master_url}):\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import bench
    from datafusion_dist_spark.catalog import DEFAULT_SF_DIR

    t0 = time.time()
    with StandaloneCluster(
        "/tmp/ddspark-standalone-bench", workers=2, cores=4, mem="4g"
    ) as c:
        print(f"standalone cluster up at {c.master_url}", file=sys.stderr)
        sa = run_shape(c.master_url, DEFAULT_SF_DIR, args.runs)
    lc = run_shape("local-cluster[2,4,4096]", DEFAULT_SF_DIR, args.runs)

    queries, violations = {}, []
    for name in ENTRIES:
        ratio = round(sa[name] / lc[name], 2) if lc[name] else None
        queries[name] = {
            "standalone_sec": sa[name],
            "local_cluster_sec": lc[name],
            "ratio": ratio,
        }
        if (
            ratio is not None
            and ratio > VIOLATION_RATIO
            and max(sa[name], lc[name]) >= MIN_WALL
        ):
            violations.append({"query": name, "ratio": ratio})
    result = {
        "metric": "standalone_vs_local_cluster",
        "sf_dir": DEFAULT_SF_DIR,
        "runs_per_query": args.runs,
        "topology": "2 workers x 4 cores x 4g (both shapes)",
        "queries": queries,
        "violation_ratio": VIOLATION_RATIO,
        "min_wall_gate_sec": MIN_WALL,
        "violations": violations,
        "wall_total_sec": round(time.time() - t0, 1),
    }
    bench.emit(result, args.out)
    if violations:
        print("standalone parity gate FAILED", file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
