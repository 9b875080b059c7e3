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
from dataclasses import dataclass, field

from pyspark.serializers import NoOpSerializer
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import _load_from_socket, _local_iterator_from_socket

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
    pulls_in_flight: int = 0  # active stream_arrow/stream_partition pulls
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

    def record_output(self, entry: JobEntry, rows: int, nbytes: int) -> None:
        """Per-stream output accounting — the reference's TaskStream
        records output_rows/output_bytes as batches flow through it
        (``dist/src/runtime.rs:598-686``); lock-guarded so concurrent
        per-partition pulls do not lose increments."""
        with self._lock:
            entry.extra["output_rows"] = entry.extra.get("output_rows", 0) + rows
            entry.extra["output_bytes"] = (
                entry.extra.get("output_bytes", 0) + nbytes
            )

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
        sc.setLocalProperty(
            "spark.scheduler.pool", self._entry.extra.get("pool", "default")
        )

    def stream_arrow(self, batch_rows: int = 10_000) -> Iterator:
        """Stream the result as Arrow record batches, pulled partition
        by partition — the analog of one FlightSQL ``do_get`` per
        stage-0 partition (``main.rs:209-265``).

        Columnar end-to-end, never re-serialized: executors encode each
        partition as Arrow IPC record-batch messages with Spark's own
        JVM converter (``toArrowBatchRdd``, ≤ ``spark.sql.execution.
        arrow.maxRecordsPerBatch`` rows each); the driver serves one
        partition at a time (``toLocalIteratorAndServe``, no prefetch)
        and Python wraps each message as a batch, sliced zero-copy to ≤
        ``batch_rows`` — like the reference's data plane
        (``networks/tonic/src/server.rs:109-141``). No executor Python
        worker; driver Python cost is O(batches), memory one partition
        plus one batch. The trade: executor→driver bytes are
        uncompressed Arrow (that converter ignores the arrow
        compression codec conf); LZ4 is on the client-facing Flight
        wire only.

        A client that abandons the iterator mid-stream (GeneratorExit)
        is recorded, not leaked as a forever-running job; a client
        that stalls without closing is swept by the TTL GC via
        ``last_pull_at``.
        """
        self._enter_job_scope()
        reg = self._engine.jobs
        reg.begin_pull(self._entry)
        try:
            sc = self._engine.spark.sparkContext
            with SCCallSiteSync(sc):
                sock_info = sc._jvm.PythonRDD.toLocalIteratorAndServe(
                    self.df._jdf.toArrowBatchRdd(), False
                )
            yield from self._deliver(
                _local_iterator_from_socket(sock_info, NoOpSerializer()), batch_rows
            )
            reg.finish(self.job_id)
        except GeneratorExit:
            reg.finish(self.job_id, error=reg.ABANDONED)
            raise
        except Exception as exc:  # noqa: BLE001 - propagate after recording
            reg.finish(self.job_id, error=str(exc))
            raise
        finally:
            reg.end_pull(self._entry)

    def _deliver(self, messages: Iterator, batch_rows: int) -> Iterator:
        """Decode each Arrow IPC record-batch message read off the JVM
        result socket and yield it in zero-copy slices of ≤
        ``batch_rows`` rows. Control passes to the client with the
        in-flight flag dropped: a client that stalls at a ``yield``
        ages out by TTL; one that comes back re-arms the exemption
        before Spark computes again."""
        import pyarrow as pa

        reg = self._engine.jobs
        schema = arrow_schema(self.df)
        for raw in messages:
            # Message-level fetch counter: lets tests (and operators)
            # observe that batches are yielded while later messages are
            # still unfetched.
            with reg._lock:
                self._entry.extra["chunks_fetched"] = (
                    self._entry.extra.get("chunks_fetched", 0) + 1
                )
            batch = pa.ipc.read_record_batch(pa.py_buffer(raw), schema)
            for off in range(0, batch.num_rows, batch_rows):
                chunk = batch.slice(off, batch_rows)
                self._count_output(chunk)
                reg.end_pull(self._entry)
                yield chunk
                reg.begin_pull(self._entry)

    def materialize_partitions(self, batch_rows: int = 10_000) -> int:
        """Opt-in per-partition pull model — the reference's ticket
        granularity (one ticket per final-stage partition,
        ``main.rs:298-306``), with the documented trade: pinning the
        final partition count under AQE requires materializing the
        upstream query stages NOW (AdaptiveSparkPlan only fixes the
        final layout after its shuffles run), so this breaks the
        never-polled-jobs-execute-nothing guarantee for THIS job —
        which is why it is opt-in and not the default path.

        After this call, :meth:`stream_partition` pulls exactly one
        final-stage partition per call, as :meth:`stream_arrow`'s
        JVM-native Arrow batches; upstream stages are computed once here
        and their shuffle output is REUSED by every pull (same RDD
        lineage), and re-pulling a partition re-executes only that
        partition — the reference's TaskSet-reset semantics
        (``dist/src/runtime.rs:499-525``).

        Returns the number of final-stage partitions."""
        self._enter_job_scope()
        rdd = self.df._jdf.toArrowBatchRdd()
        self._entry.extra["partition_rdd"] = rdd
        self._entry.extra["batch_rows"] = batch_rows
        n = rdd.getNumPartitions()
        self._entry.extra["n_partitions"] = n
        return n

    def stream_partition(self, partition: int) -> Iterator:
        """Pull ONE final-stage partition as Arrow batches (the
        ``do_get`` per ticket analog, ``main.rs:209-265``). Requires
        :meth:`materialize_partitions` first.

        Incremental like the reference's per-ticket stream
        (``networks/tonic/src/server.rs:109-141``): the partition's
        JVM-encoded Arrow record-batch messages are read off the
        result socket one at a time and each batch is yielded before
        the next message is fetched into Python — driver-side Python
        memory is bounded at ONE batch, never the whole partition (a
        skewed final partition at 100× scale must not become a driver
        OOM). The JVM still buffers the task's uncompressed Arrow
        result, bounded by ``spark.driver.maxResultSize``; LZ4 applies
        on the client-facing Flight wire only."""
        rdd = self._entry.extra.get("partition_rdd")
        if rdd is None:
            raise RuntimeError(
                "materialize_partitions() must run before stream_partition()"
            )
        self._enter_job_scope()
        reg = self._engine.jobs
        reg.begin_pull(self._entry)
        try:
            sc = self._engine.spark.sparkContext
            with SCCallSiteSync(sc):
                sock_info = sc._jvm.PythonRDD.runJob(
                    sc._jsc.sc(), rdd.toJavaRDD(), [int(partition)]
                )
            yield from self._deliver(
                _load_from_socket(sock_info, NoOpSerializer()),
                self._entry.extra["batch_rows"],
            )
            # Job completion = every partition drained at least once —
            # the reference's CheckJobCompleted over stage-0 partitions
            # (dist/src/event.rs:214-334).
            reg.complete_partition(self._entry, int(partition))
        finally:
            reg.end_pull(self._entry)

    def _count_output(self, batch) -> None:
        """Surfaced in the ``running_jobs`` stages JSON; delegated to
        the registry so the counters are lock-guarded against
        concurrent per-partition pulls."""
        self._engine.jobs.record_output(
            self._entry, batch.num_rows, batch.nbytes
        )

    def collect(self) -> list[Row]:
        self._enter_job_scope()
        try:
            rows = self.df.collect()
        except Exception as exc:  # noqa: BLE001
            self._engine.jobs.finish(self.job_id, error=str(exc))
            raise
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

    def submit(
        self,
        query: str,
        meta: dict | None = None,
        pool: str = "default",
        args: dict | list | None = None,
    ) -> JobHandle:
        """Plan the query and mint a job — no execution yet (lazy pull
        model, reference ``runtime.submit`` at main.rs:288-295).

        ``pool`` names a FAIR scheduler pool: the Spark analog of the
        reference's dedicated CPU runtime (dist/src/executor.rs:55-96)
        — CPU-heavy jobs go to a separate pool so interactive queries
        keep getting task slots. ``args`` binds named parameters (see
        :meth:`sql`).
        """
        if self._terminating:
            raise EngineTerminatingError(
                "engine is terminating; new submissions are refused"
            )
        entry = self.jobs.create({"query": query, **(meta or {})})
        entry.extra["pool"] = pool
        try:
            df = self.sql(query, args=args)
        except Exception as exc:  # parse/analysis error: record, don't leak
            self.jobs.finish(entry.job_id, error=str(exc))
            raise
        return JobHandle(self, entry, df)

    def submit_df(self, df: DataFrame, meta: dict | None = None,
                  pool: str = "default") -> JobHandle:
        """Mint a job for an already-built DataFrame — the
        DataFrame-API twin of :meth:`submit` (same lazy-ticket model,
        registry row, GC and streaming semantics; the reference is
        SQL-only, this engine's entry surface is SQL + DataFrame)."""
        if self._terminating:
            raise EngineTerminatingError(
                "engine is terminating; new submissions are refused"
            )
        entry = self.jobs.create({"query": "<dataframe>", **(meta or {})})
        entry.extra["pool"] = pool
        return JobHandle(self, entry, df)

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
