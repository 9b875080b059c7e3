"""DistEngine — the engine façade.

Mirrors the observable surface of the reference's FlightSQL app
(``integration-tests/app/src/main.rs``): SQL string in → job id +
lazily-streamed Arrow record batches out, plus a queryable
``running_jobs`` virtual table (``integration-tests/app/src/table.rs:14-61``,
schema ``dist/src/util.rs:147-160``).

What the reference hand-rolls underneath (stage cutting, task
scheduling, inter-node Arrow Flight streams, job GC —
``dist/src/runtime.rs``, ``dist/src/scheduler.rs``) is Spark's built-in
DAGScheduler + shuffle service; this façade adds only the bookkeeping
Spark does not surface as a table.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import _load_from_socket

from datafusion_dist_spark import catalog
from datafusion_dist_spark.session import build_session

RUNNING_JOBS_SCHEMA = T.StructType(
    [
        # Mirrors dist/src/util.rs:147-160 (job_id, created_at,
        # job_meta JSON, stages JSON).
        T.StructField("job_id", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
        T.StructField("job_meta", T.StringType(), False),
        T.StructField("stages", T.StringType(), False),
    ]
)


def arrow_schema(df: DataFrame) -> "pa.Schema":
    """The Arrow schema of ``df``'s result: the schema Spark's JVM
    converter (``ArrowConverters``) writes its record batches in, and
    the one ``df.toArrow()`` returns."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        df.schema,
        prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
    )


class EngineTerminatingError(RuntimeError):
    """Submit refused: the engine is shutting down.

    Mirrors the reference's ``Terminating`` runtime status, which
    refuses *new* tasks while letting already-scheduled streams drain
    (``dist/src/runtime.rs:120-126``, ``dist/src/scheduler.rs:79-95``).
    """


@dataclass
class JobEntry:
    job_id: str
    created_at: float
    meta: dict
    status: str = "running"  # running | completed | failed
    error: str | None = None
    spark_job_group: str = ""
    started_at: float | None = None  # first client pull; None = unpolled
    last_pull_at: float | None = None  # last batch yielded to a client
    finished_at: float | None = None
    pulls_in_flight: int = 0  # active stream_arrow/stream_partition/collect pulls
    extra: dict = field(default_factory=dict)

    def last_activity(self) -> float:
        """Most recent client-visible liveness signal for TTL sweeps."""
        return max(
            self.created_at,
            self.started_at or 0.0,
            self.last_pull_at or 0.0,
            self.finished_at or 0.0,
        )


class JobRegistry:
    """Thread-safe registry of engine jobs (the ``running_jobs`` analog).

    The reference keeps per-node ``StageState`` maps merged via RPC
    (``dist/src/event.rs:214-334``); on Spark a single driver sees all
    jobs, so a plain dict + the SparkStatusTracker suffices.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._jobs: dict[str, JobEntry] = {}

    def create(self, meta: dict) -> JobEntry:
        entry = JobEntry(job_id=str(uuid.uuid4()), created_at=time.time(), meta=meta)
        entry.spark_job_group = f"ddspark-{entry.job_id}"
        with self._lock:
            self._jobs[entry.job_id] = entry
        return entry

    ABANDONED = "abandoned by client"

    def finish(self, job_id: str, error: str | None = None) -> None:
        """Idempotent: the first finisher wins — concurrent pulls of the
        last two partitions must not double-finish or rewrite a
        completed status into a failed one (and vice versa).

        One sanctioned exception: ``abandoned by client`` is a
        *provisional* failure — a retrying client (``call_with_retry``
        re-pulling a ticket after a transient stream break) destroys
        the first server-side generator (GeneratorExit → abandoned),
        then completes the second pull. That successful completion
        overwrites the abandonment, so observability reports what the
        client actually experienced. A genuine execution failure is
        never overwritten."""
        with self._lock:
            e = self._jobs.get(job_id)
            if e is None:
                return
            if e.status == "running":
                e.status = "failed" if error else "completed"
                e.error = error
                e.finished_at = time.time()
            elif (
                e.status == "failed"
                and e.error == self.ABANDONED
                and error is None
            ):
                e.status = "completed"
                e.error = None
                e.finished_at = time.time()

    # -- pull bookkeeping (thread-safe; entries may outlive the registry
    # row, so these take the JobEntry, not the id) -------------------------

    def begin_pull(self, entry: JobEntry) -> None:
        """A pull is (re)entering engine code: bump liveness NOW (not
        after the first batch — a first partition slower than the GC
        ttl must not get its job swept mid-pull) and mark the pull in
        flight so the TTL sweeper exempts the job while Spark is
        actually computing. Streams drop the flag across each
        ``yield`` (control is with the client then), so a client that
        stalls *between batches* still ages out via ``last_pull_at``
        — sweep stalled clients, never an executing pull."""
        with self._lock:
            entry.pulls_in_flight += 1
            entry.last_pull_at = time.time()

    def end_pull(self, entry: JobEntry) -> None:
        with self._lock:
            entry.pulls_in_flight = max(0, entry.pulls_in_flight - 1)
            entry.last_pull_at = time.time()

    def count(self, entry: JobEntry, **deltas: int) -> None:
        """Add ``deltas`` to the entry's counters (``chunks_fetched``,
        ``output_rows``, ``output_bytes``) — the reference's TaskStream
        output accounting (``dist/src/runtime.rs:598-686``); lock-guarded
        so concurrent per-partition pulls do not lose increments."""
        with self._lock:
            for key, n in deltas.items():
                entry.extra[key] = entry.extra.get(key, 0) + n

    def complete_partition(self, entry: JobEntry, partition: int) -> None:
        """Record a fully-drained per-partition pull; finish the job
        once every final-stage partition has been pulled at least once
        — the reference's CheckJobCompleted over stage-0 partitions
        (``dist/src/event.rs:214-334``). The membership update runs
        under the registry lock so two concurrent pulls of the last
        two partitions cannot race the completion check; ``finish`` is
        idempotent for the same reason."""
        with self._lock:
            pulled = entry.extra.setdefault("pulled_partitions", set())
            pulled.add(int(partition))
            done = len(pulled) >= int(entry.extra.get("n_partitions", 1 << 62))
        if done:
            self.finish(entry.job_id)

    def cleanup(self, ttl_seconds: float = 60.0) -> int:
        """Drop finished jobs older than ttl, abandoned jobs —
        submitted but never pulled by any client — whose ttl has
        passed (reference job GC cleans unpolled tickets the same way:
        ``dist/src/event.rs:353-425``, ttl ``dist/src/config.rs:6-8``,
        proven by ``integration-tests/tests/exception.rs:30-54``), AND
        half-pulled jobs whose client stalled: a stream that yielded
        its last batch more than ttl ago with no activity since is
        swept like the reference's per-stage TTL sweeper
        (``dist/src/runtime.rs:688-717``, 30-min default). The default
        ttl matches ``start_job_gc`` — a bare ``cleanup()`` never
        insta-drops a job a client is about to pull.

        Sweeping removes only the registry row (observability state);
        it never cancels the underlying Spark job — an outlived stream
        keeps draining, and its eventual ``finish`` is a no-op.

        A job with a pull IN FLIGHT is never swept, no matter how stale
        its ``last_pull_at``: a single partition or first batch that
        takes longer than the ttl would otherwise get its row dropped
        mid-pull, expiring the remaining per-partition tickets of a
        live job (the reference only GCs *unpolled* and *finished*
        work, never a stream it is actively serving)."""
        now = time.time()
        with self._lock:
            dead = [
                j
                for j, e in self._jobs.items()
                if e.pulls_in_flight == 0
                and now - e.last_activity() >= ttl_seconds
            ]
            for j in dead:
                del self._jobs[j]
        return len(dead)

    def running(self) -> list[JobEntry]:
        with self._lock:
            return [e for e in self._jobs.values() if e.status == "running"]

    def all(self) -> list[JobEntry]:
        with self._lock:
            return list(self._jobs.values())


class JobHandle:
    """A submitted query: lazily executable, streamed result delivery.

    Matches the reference's ticket model: submit never executes;
    execution starts only when the client pulls a stream
    (``integration-tests/tests/exception.rs:30-54`` — an unpolled job
    never runs and is GC'd). Here, ``df`` is the lazy plan and
    ``stream_arrow()`` / ``collect()`` are the pulls.
    """

    def __init__(self, engine: "DistEngine", entry: JobEntry, df: DataFrame):
        self._engine = engine
        self._entry = entry
        self.df = df

    @property
    def job_id(self) -> str:
        return self._entry.job_id

    def _enter_job_scope(self) -> None:
        if self._entry.started_at is None:
            self._entry.started_at = time.time()
        sc = self._engine.spark.sparkContext
        sc.setJobGroup(self._entry.spark_job_group, json.dumps(self._entry.meta))
        sc.setLocalProperty("spark.scheduler.pool", "default")

    @contextmanager
    def _pull(self) -> Iterator[None]:
        """The one job lifecycle of every pull (``stream_arrow``,
        ``stream_partition``, ``collect``): enter the job scope and
        mark the pull in flight, so the TTL sweeper never drops a job
        Spark is computing; record a failure with its message, or
        ``ABANDONED`` when the client closes a stream early
        (GeneratorExit), so no row stays ``running`` until GC. The
        caller records completion inside the block."""
        self._enter_job_scope()
        reg = self._engine.jobs
        reg.begin_pull(self._entry)
        try:
            yield
        except GeneratorExit:
            reg.finish(self.job_id, error=reg.ABANDONED)
            raise
        except Exception as exc:  # noqa: BLE001 - propagate after recording
            reg.finish(self.job_id, error=str(exc))
            raise
        finally:
            reg.end_pull(self._entry)

    def stream_arrow(self, batch_rows: int = 10_000) -> Iterator:
        """Stream the whole result as Arrow record batches, one
        final-stage partition after another in partition order — the
        analog of draining every stage-0 partition's ``do_get``
        (``main.rs:209-265``).

        Nothing runs before the first pull: the generator builds the
        result RDD (``toArrowBatchRdd``) then, and keeps it local, so a
        never-pulled job executes nothing and a drained one holds no
        RDD. Each partition is its own Spark job, started only after
        the client has drained the previous one (see
        :meth:`_serve_partition`). The job completes when the last
        partition is drained; a client that abandons the iterator is
        recorded, one that stalls without closing is swept by the TTL
        GC via ``last_pull_at``.
        """
        with self._pull():
            rdd = self.df._jdf.toArrowBatchRdd().toJavaRDD()
            for partition in range(rdd.getNumPartitions()):
                yield from self._serve_partition(rdd, partition, batch_rows)
            self._engine.jobs.finish(self.job_id)

    def _serve_partition(self, rdd, partition: int, batch_rows: int) -> Iterator:
        """Compute ONE final-stage partition of the result RDD as its
        own Spark job and deliver it — the only serving protocol.

        Columnar end-to-end, never re-serialized: executors encode the
        partition as Arrow IPC record-batch messages with Spark's own
        JVM converter (``toArrowBatchRdd``, ≤ ``spark.sql.execution.
        arrow.maxRecordsPerBatch`` rows each); the driver JVM collects
        the partition and serves it over a local socket
        (``PythonRDD.runJob``), bounded by ``spark.driver.maxResultSize``;
        Python reads it message by message (:meth:`_deliver`), like the
        reference's data plane (``networks/tonic/src/server.rs:109-141``).
        No executor Python worker. The trade: executor→driver bytes are
        uncompressed Arrow (that converter ignores the arrow compression
        codec conf); LZ4 is on the client-facing Flight wire only."""
        # The job group is a thread-local property: set it again so a
        # stream resumed on another thread keeps its jobs in the group.
        self._enter_job_scope()
        sc = self._engine.spark.sparkContext
        with SCCallSiteSync(sc):
            sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), rdd, [partition])
        yield from self._deliver(
            _load_from_socket(sock_info, NoOpSerializer()), batch_rows
        )

    def _deliver(self, messages: Iterator, batch_rows: int) -> Iterator:
        """Decode each Arrow IPC record-batch message read off the JVM
        result socket and yield it in zero-copy slices of ≤
        ``batch_rows`` rows. Driver-side Python memory is ONE message,
        never the whole partition. Control passes to the client with
        the in-flight flag dropped: a client that stalls at a ``yield``
        ages out by TTL; one that comes back re-arms the exemption
        before Spark computes again."""
        import pyarrow as pa

        reg = self._engine.jobs
        schema = arrow_schema(self.df)
        for raw in messages:
            # Message-level fetch counter: lets tests (and operators)
            # observe that batches are yielded while later messages are
            # still unfetched.
            reg.count(self._entry, chunks_fetched=1)
            batch = pa.ipc.read_record_batch(pa.py_buffer(raw), schema)
            for off in range(0, batch.num_rows, batch_rows):
                chunk = batch.slice(off, batch_rows)
                reg.count(
                    self._entry, output_rows=chunk.num_rows, output_bytes=chunk.nbytes
                )
                reg.end_pull(self._entry)
                try:
                    yield chunk
                finally:
                    # Also on close: _pull's end_pull must not take the
                    # in-flight mark of another pull of this job.
                    reg.begin_pull(self._entry)

    def materialize_partitions(self, batch_rows: int = 10_000) -> int:
        """Pin the final-stage partitions for per-partition pulls — the
        reference's ticket granularity (one ticket per final-stage
        partition, ``main.rs:298-306``). Returns their number.

        The documented trade: under AQE the final partition layout is
        fixed only after the upstream shuffles run, so building the
        result RDD here runs the upstream query stages NOW, and this
        job no longer executes nothing until pulled — which is why it
        is opt-in and :meth:`stream_arrow` is the default. The RDD is
        kept in the job entry: every :meth:`stream_partition` reuses
        its upstream shuffle output, so a re-pull re-executes only
        that partition — the reference's TaskSet-reset semantics
        (``dist/src/runtime.rs:499-525``)."""
        self._enter_job_scope()
        rdd = self.df._jdf.toArrowBatchRdd().toJavaRDD()
        self._entry.extra["partition_rdd"] = rdd
        self._entry.extra["batch_rows"] = batch_rows
        n = rdd.getNumPartitions()
        self._entry.extra["n_partitions"] = n
        return n

    def stream_partition(self, partition: int) -> Iterator:
        """Pull ONE final-stage partition as Arrow batches (the
        ``do_get`` per ticket analog, ``main.rs:209-265``); requires
        :meth:`materialize_partitions` first.

        Same serving path and job lifecycle as :meth:`stream_arrow`,
        delivered incrementally: Python memory holds one Arrow message,
        never the whole partition. A failed or abandoned pull is recorded;
        the job completes once every partition has been drained at
        least once — the reference's CheckJobCompleted over stage-0
        partitions (``dist/src/event.rs:214-334``)."""
        rdd = self._entry.extra.get("partition_rdd")
        if rdd is None:
            raise RuntimeError(
                "materialize_partitions() must run before stream_partition()"
            )
        partition = int(partition)
        with self._pull():
            yield from self._serve_partition(
                rdd, partition, self._entry.extra["batch_rows"]
            )
            self._engine.jobs.complete_partition(self._entry, partition)

    def collect(self) -> list[Row]:
        with self._pull():
            rows = self.df.collect()
            self._engine.jobs.finish(self.job_id)
        return rows

    def cancel(self) -> None:
        """Graceful cancel (reference: Terminating status refuses tasks,
        ``dist/src/runtime.rs:120-126``). A job that already finished
        keeps its final status — cancel must not rewrite history."""
        self._engine.spark.sparkContext.cancelJobGroup(self._entry.spark_job_group)
        if self._entry.status == "running":
            self._engine.jobs.finish(self.job_id, error="cancelled")


class DistEngine:
    """SQL + DataFrame entry point with job tracking.

    >>> eng = DistEngine.create(sf_dir="/root/testdata/sf0.001")
    >>> handle = eng.submit("SELECT count(*) AS n FROM lineitem")
    >>> handle.collect()[0].n
    6000
    """

    RUNNING_JOBS_VIEW = "running_jobs"

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.jobs = JobRegistry()
        self._gc_stop: threading.Event | None = None
        self._terminating = False

    # -- job GC -------------------------------------------------------------

    def start_job_gc(
        self, ttl_seconds: float = 60.0, interval_seconds: float = 3.0
    ) -> None:
        """Background TTL sweeper: finished jobs past their ttl and
        abandoned (never-pulled) jobs are dropped automatically — the
        reference's job GC loop (job_ttl=60s / check every 3s,
        ``integration-tests/app/src/main.rs:53-55``; cleanup proven by
        ``exception.rs:30-54``). Idempotent; daemon thread."""
        if self._gc_stop is not None:
            return
        stop = threading.Event()
        self._gc_stop = stop

        def _sweep() -> None:
            while not stop.wait(interval_seconds):
                self.jobs.cleanup(ttl_seconds)

        threading.Thread(target=_sweep, name="ddspark-job-gc", daemon=True).start()

    def stop_job_gc(self) -> None:
        if self._gc_stop is not None:
            self._gc_stop.set()
            self._gc_stop = None

    @classmethod
    def create(
        cls, sf_dir: str | None = None, spark: SparkSession | None = None, **session_kwargs
    ) -> "DistEngine":
        spark = spark or build_session(**session_kwargs)
        eng = cls(spark)
        if sf_dir:
            catalog.register_views(spark, sf_dir)
        return eng

    # -- query entry points -------------------------------------------------

    def sql(
        self, query: str, args: dict | list | None = None
    ) -> DataFrame:
        """Parse/plan only (lazy) — reference ``ctx.sql`` at main.rs:273.

        ``args`` binds parameters at plan time — a dict for ``:name``
        markers, a list for positional ``?`` markers (what FlightSQL
        DoPut parameter rows carry). The engine-level analog of
        prepared statements: the statement text is reusable, values
        never need SQL-literal escaping."""
        if args:
            return self.spark.sql(query, args=args)
        return self.spark.sql(query)

    def _mint(self, query: str, meta: dict | None) -> JobEntry:
        """Refuse new work once terminating; else mint the registry row."""
        if self._terminating:
            raise EngineTerminatingError(
                "engine is terminating; new submissions are refused"
            )
        return self.jobs.create({"query": query, **(meta or {})})

    def submit(
        self,
        query: str,
        meta: dict | None = None,
        args: dict | list | None = None,
    ) -> JobHandle:
        """Plan the query and mint a job — no execution yet (lazy pull
        model, reference ``runtime.submit`` at main.rs:288-295).
        ``args`` binds named parameters (see :meth:`sql`)."""
        entry = self._mint(query, meta)
        try:
            df = self.sql(query, args=args)
        except Exception as exc:  # parse/analysis error: record, don't leak
            self.jobs.finish(entry.job_id, error=str(exc))
            raise
        return JobHandle(self, entry, df)

    def submit_df(self, df: DataFrame, meta: dict | None = None) -> JobHandle:
        """Mint a job for an already-built DataFrame — the
        DataFrame-API twin of :meth:`submit` (same lazy-ticket model,
        registry row, GC and streaming semantics; the reference is
        SQL-only, this engine's entry surface is SQL + DataFrame)."""
        return JobHandle(self, self._mint("<dataframe>", meta), df)

    def execute(self, query: str) -> list[Row]:
        return self.submit(query).collect()

    # -- lifecycle ----------------------------------------------------------

    @property
    def terminating(self) -> bool:
        return self._terminating

    def shutdown(self, drain: bool = True) -> None:
        """Enter the Terminating state: refuse new ``submit()``s while
        already-minted handles keep draining (reference
        ``dist/src/runtime.rs:120-126`` — a Terminating node stops
        accepting tasks but finishes the streams it holds;
        ``scheduler.rs:79-95`` stops assigning to it). Job GC keeps
        running so the registry empties naturally; call
        ``stop_job_gc()`` after the drain if a hard stop is wanted."""
        self._terminating = True
        if not drain:
            for e in self.jobs.running():
                self.spark.sparkContext.cancelJobGroup(e.spark_job_group)
                self.jobs.finish(e.job_id, error="engine shutdown")

    # -- observability ------------------------------------------------------

    def running_jobs_df(self, include_finished: bool = False) -> DataFrame:
        """The ``running_jobs`` virtual table (util.rs:166-219 analog).

        ``stages`` reports live Spark stage info from the status
        tracker for still-running jobs.
        """
        import datetime

        tracker = self.spark.sparkContext.statusTracker()
        rows = []
        for e in self.jobs.all() if include_finished else self.jobs.running():
            # Per-JOB stages via the job group this handle set — not the
            # global active set, which would attribute every concurrent
            # job's stages to every row.
            own_stages: list[int] = []
            for jid in tracker.getJobIdsForGroup(e.spark_job_group):
                info = tracker.getJobInfo(jid)
                if info is not None:
                    own_stages.extend(int(s) for s in info.stageIds)
            stages = {
                "status": e.status,
                "active_spark_stages": sorted(set(own_stages)),
                # TaskStream-style output accounting (runtime.rs:598-686).
                "output_rows": e.extra.get("output_rows", 0),
                "output_bytes": e.extra.get("output_bytes", 0),
            }
            rows.append(
                (
                    e.job_id,
                    # Keep tzinfo: TimestampType.toInternal treats a
                    # NAIVE datetime as driver-local wall time, which
                    # would shift created_at by the host's UTC offset
                    # on any non-UTC driver; an aware value converts
                    # via utctimetuple and is offset-safe everywhere.
                    datetime.datetime.fromtimestamp(
                        e.created_at, datetime.timezone.utc
                    ),
                    json.dumps(e.meta, sort_keys=True),
                    json.dumps(stages, sort_keys=True),
                )
            )
        return self.spark.createDataFrame(rows, RUNNING_JOBS_SCHEMA)

    def register_running_jobs_view(self) -> None:
        self.running_jobs_df().createOrReplaceTempView(self.RUNNING_JOBS_VIEW)
