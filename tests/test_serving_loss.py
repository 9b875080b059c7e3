"""Executor loss on the SERVING path: SIGKILL an executor JVM while a
remote Flight client is mid-``do_get`` stream from a ``--serve``
server (VERDICT r7 task 8).

The reference's data plane treats mid-stream node death as a
first-class failure: its network tier retries pulls with backoff
(``networks/tonic/src/network.rs:196-229``) and a stage re-pull
re-runs only the lost partitions. The Spark analog under test: the
server's ``stream_arrow`` walks the result one final partition at a
time (one Spark job each), so a kill after the first batch lands
while most partitions — and half the shuffle map outputs, which die
with the executor — are still pending. Spark must absorb it
(ExecutorLostFailure retries + FetchFailed map-stage resubmission)
while the client keeps reading the SAME gRPC stream.

Contract asserted, either arm acceptable and both checked strictly:
- the stream COMPLETES and the rows are identical to a clean run, OR
- the client gets a CLEAN FlightError (not a hang, not a corrupt
  table) and a full retry returns rows identical to the clean run —
  the reference's retry-tier behavior;
plus, unconditionally: the server process survives and answers
follow-up queries, and a replacement executor registers (full width
restored).

Runs the server in a subprocess on ``local-cluster[2,4,4096]``
(separate executor JVMs to kill; SPARK_GRAFT_MASTER honored by
build_session) at sf0.01; the client is this process (pure pyarrow,
no Spark session needed).
"""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

import pytest

pa = pytest.importorskip("pyarrow")
flight = pytest.importorskip("pyarrow.flight")

REPO = str(__import__("pathlib").Path(__file__).resolve().parents[1])
SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")

# Global sort forces a shuffle (map outputs on BOTH executors, so the
# kill loses some) and a multi-partition final stage the server
# streams partition by partition; md5 makes each row's bytes
# content-checkable. Deterministic => clean run and post-kill run must
# agree exactly.
SQL = (
    "SELECT l_orderkey, l_linenumber, "
    "md5(concat(cast(l_orderkey AS string), '-', "
    "cast(l_linenumber AS string))) AS h "
    "FROM lineitem ORDER BY l_orderkey, l_linenumber"
)


def _backend_pids(exclude: set[int]) -> list[int]:
    out = subprocess.run(
        ["pgrep", "-f", "CoarseGrainedExecutorBackend"],
        capture_output=True,
        text=True,
    ).stdout.split()
    return sorted(int(p) for p in out if int(p) not in exclude)


def _rows(table: "pa.Table") -> list[tuple]:
    cols = [table.column(n).to_pylist() for n in table.column_names]
    return list(zip(*cols)) if cols else []


def test_flight_client_survives_executor_kill_mid_stream():
    pre_existing = set(_backend_pids(set()))
    from tools_standalone import free_port

    port = free_port()
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_MASTER="local-cluster[2,4,4096]",
        SPARK_GRAFT_DRIVER_MEM="4g",
        SPARK_GRAFT_SF_DIR=SF,
    )
    server = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "datafusion_dist_spark",
            "--serve",
            "--port",
            str(port),
            "--sf-dir",
            SF,
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        env=env,
        cwd=REPO,
    )
    try:
        deadline = time.time() + 240
        for line in server.stdout:
            if "listening on" in line:
                break
            assert time.time() < deadline and server.poll() is None, line

        # Both executor JVMs of the server's cluster must be up before
        # we pick a victim.
        deadline = time.time() + 120
        while len(_backend_pids(pre_existing)) < 2:
            assert time.time() < deadline, "server executors never came up"
            time.sleep(0.5)

        location = f"grpc://127.0.0.1:{port}"
        from datafusion_dist_spark.flight_server import flight_execute

        clean = _rows(flight_execute(location, SQL))
        assert len(clean) > 10_000, "query too small to stream-kill"

        client = flight.connect(location)
        try:
            info = client.get_flight_info(
                flight.FlightDescriptor.for_command(SQL.encode())
            )
            reader = client.do_get(info.endpoints[0].ticket)
            batches = [reader.read_chunk().data]  # stream is live
            victim = _backend_pids(pre_existing)[0]
            os.kill(victim, signal.SIGKILL)
            t_kill = time.time()
            outcome = None
            try:
                while True:
                    chunk = reader.read_chunk()
                    if chunk.data is None:
                        break
                    batches.append(chunk.data)
                outcome = "completed"
                got = _rows(pa.Table.from_batches(batches))
            except StopIteration:
                outcome = "completed"
                got = _rows(pa.Table.from_batches(batches))
            except flight.FlightError as exc:
                # The retryable-error arm: the break must be a clean
                # Flight error the reference's retry tier would re-pull
                # on — never a hang or a silently short table.
                outcome = f"retried ({type(exc).__name__})"
                got = _rows(flight_execute(location, SQL))
        finally:
            client.close()

        assert got == clean, (
            f"post-kill rows drifted (outcome={outcome}, "
            f"{len(got)} vs {len(clean)} rows)"
        )

        # Server survived and serves follow-ups.
        one = flight_execute(location, "SELECT 1 AS ok")
        assert one.column("ok").to_pylist() == [1]

        # Replacement executor restores full width; the victim is gone.
        deadline = time.time() + 120
        while True:
            pids = _backend_pids(pre_existing)
            if victim not in pids and len(pids) >= 2:
                break
            assert time.time() < deadline, f"no replacement executor: {pids}"
            time.sleep(0.5)
        assert time.time() > t_kill
        print(f"SERVING-LOSS-OK outcome={outcome}", flush=True)
    finally:
        server.send_signal(signal.SIGINT)
        try:
            server.wait(timeout=60)
        except subprocess.TimeoutExpired:
            server.kill()
