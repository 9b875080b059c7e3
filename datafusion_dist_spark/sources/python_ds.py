"""Custom Python data sources (Spark 4 DataSource API).

The reference implements custom DataFusion ``TableProvider``s: the
``running_jobs`` virtual table (``integration-tests/app/src/table.rs:
14-61``) and in-memory ``MemTable``s (``integration-tests/src/data.rs:
36-92``). Spark's analog for a from-scratch source is the Python
DataSource API — schema + partition planning + per-partition readers,
exactly the DataSource V2 contract, registered per-session.

Sources:

- ``ddspark_synth`` — deterministic synthetic-corpus generator with
  N independent partitions (seeded per partition). The 100 TB story:
  data generation parallelizes like a scan, no files involved.
- ``ddspark_flight`` — scan a remote ddspark Flight server.
- ``ddspark_arrow_dir`` — Arrow IPC directory sink, batch and stream
  source.

The ``running_jobs`` table is not a data source here:
``DistEngine.running_jobs_df`` builds it on the driver, where the job
registry lives.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

SYNTH_SCHEMA = "doc_id long, part_id int, text string, quality double"


_WORDS = (
    "spark table row column join filter scan window sort hash merge "
    "stream batch vector data key value part group fast slow"
).split()


class SynthPartition(InputPartition):
    def __init__(self, index: int, rows: int, seed: str) -> None:
        self.index = index
        self.rows = rows
        self.seed = seed


class SynthDataSource(DataSource):
    """Deterministic synthetic documents: ``partitions`` independent
    shards of ``rows_per_partition`` rows each, reproducible from
    ``seed`` alone (same contract as a seeded TPC generator)."""

    @classmethod
    def name(cls) -> str:
        return "ddspark_synth"

    def schema(self) -> str:
        return SYNTH_SCHEMA

    def reader(self, schema) -> "SynthReader":
        return SynthReader(
            partitions=int(self.options.get("partitions", "4")),
            rows=int(self.options.get("rows_per_partition", "100")),
            seed=self.options.get("seed", "0"),
        )


class SynthReader(DataSourceReader):
    def __init__(self, partitions: int, rows: int, seed: str) -> None:
        self._partitions = partitions
        self._rows = rows
        self._seed = seed

    def partitions(self):
        return [
            SynthPartition(i, self._rows, self._seed)
            for i in range(self._partitions)
        ]

    def read(self, partition: SynthPartition):
        base = partition.index * partition.rows
        for i in range(partition.rows):
            doc_id = base + i
            h = hashlib.md5(f"{partition.seed}:{doc_id}".encode()).digest()
            n_words = 5 + h[0] % 20
            words = [
                _WORDS[(h[1 + j % 14] + j * h[2]) % len(_WORDS)]
                for j in range(n_words)
            ]
            quality = round(int.from_bytes(h[4:8], "big") / 2**32, 6)
            yield (doc_id, partition.index, " ".join(words), quality)


class FlightPartition(InputPartition):
    def __init__(self, index: int, location: str, ticket: bytes) -> None:
        self.index = index
        self.location = location
        self.ticket = ticket


class FlightDataSource(DataSource):
    """Scan a remote ddspark Flight server as a Spark table — the
    consuming side of the network data plane.

    The reference's nodes pull each other's stage outputs as Arrow
    Flight streams, one ticket per partition
    (``dist/src/physical_plan/proxy.rs:84-117``,
    ``networks/tonic/src/network.rs:196-229``); this source is the
    same contract from Spark's side: ``get_flight_info`` at plan time
    (schema + one InputPartition per endpoint), ``do_get`` per
    partition on the executors, Arrow batches straight into the scan
    (no row conversion — the reader yields RecordBatches). Federation
    in one line:

        spark.read.format("ddspark_flight")
             .option("location", "grpc://host:50061")
             .option("query", "SELECT ...").load()
    """

    @classmethod
    def name(cls) -> str:
        return "ddspark_flight"

    def _plan(self):
        """get_flight_info once; keep only PICKLABLE facts (StructType
        + raw ticket bytes) — the DataSource instance ships to
        executors and pyarrow's FlightInfo cannot be pickled."""
        import pyarrow.flight as flight
        from pyspark.sql.pandas.types import from_arrow_schema

        from datafusion_dist_spark.netretry import call_with_retry

        if getattr(self, "_tickets", None) is None:
            # Control-plane retry ×3 with backoff + jitter, like the
            # reference's network layer (networks/tonic/src/network.rs:
            # 39-50): a transient connect/plan failure must not fail
            # the whole Spark query plan.
            client = call_with_retry(
                lambda: flight.connect(self.options["location"])
            )
            try:
                info = call_with_retry(
                    lambda: client.get_flight_info(
                        flight.FlightDescriptor.for_command(
                            self.options["query"].encode("utf-8")
                        )
                    )
                )
                self._schema_struct = from_arrow_schema(info.schema)
                self._tickets = [bytes(ep.ticket.ticket) for ep in info.endpoints]
            finally:
                client.close()
        return self._schema_struct, self._tickets

    def schema(self):
        return self._plan()[0]

    def reader(self, schema) -> "FlightReader":
        return FlightReader(self.options["location"], self._plan()[1])


class FlightReader(DataSourceReader):
    def __init__(self, location: str, tickets: list) -> None:
        self._partitions = [
            FlightPartition(i, location, t) for i, t in enumerate(tickets)
        ]

    def partitions(self):
        return self._partitions

    def read(self, partition: FlightPartition):
        import pyarrow.flight as flight

        from datafusion_dist_spark.netretry import call_with_retry

        # Retry connect + do_get initiation (control plane); a failure
        # MID-stream propagates so Spark's task retry re-pulls the
        # ticket — re-pulling re-executes only this partition, the
        # reference's TaskSet-reset recovery (dist/src/runtime.rs:
        # 499-525).
        client = call_with_retry(lambda: flight.connect(partition.location))
        try:
            reader = call_with_retry(
                lambda: client.do_get(flight.Ticket(partition.ticket))
            )
            for chunk in reader:
                yield chunk.data  # Arrow RecordBatch, no row conversion
        finally:
            client.close()


def register_sources(spark) -> None:
    """Register the sources on the session (idempotent)."""
    spark.dataSource.register(SynthDataSource)
    spark.dataSource.register(ArrowDirDataSource)
    try:
        import pyarrow.flight  # noqa: F401

        spark.dataSource.register(FlightDataSource)
    except ImportError:  # pragma: no cover - env without flight
        pass


class ArrowFileCommit(WriterCommitMessage):
    def __init__(self, filename: str, rows: int) -> None:
        self.filename = filename
        self.rows = rows


def _load_manifest(path: str) -> dict:
    """Read an Arrow-dir _MANIFEST → {"files": [...], "generation"}.

    Always STRICT: missing → FileNotFoundError, torn/garbled/wrong
    shape → ValueError. Batch reads of a missing/typo'd path and,
    critically, the writer's append read-modify-write must fail
    loudly: treating a corrupt manifest as empty there would commit a
    manifest naming only the new files and silently truncate the
    dataset. Polling callers that can tolerate a missing/torn
    manifest (the stream reader's initialOffset/latestOffset) catch
    these two exception types themselves — they need finer policy
    than a blanket "treat as empty" (e.g. latestOffset reports the
    last GOOD offset on a torn read, never an empty regression)."""
    import json as _json
    import os

    manifest = os.path.join(path, "_MANIFEST")
    try:
        with open(manifest) as fh:
            m = _json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"no _MANIFEST at {path!r}: not an Arrow-dir dataset "
            "(or no commit has happened yet)"
        ) from None
    except ValueError as exc:
        raise ValueError(f"corrupt _MANIFEST at {path!r}: {exc}") from exc
    # Shape validation: a syntactically-valid but wrong-shape document
    # (JSON array, dict without "files") is corrupt too — without this
    # it would escape as AttributeError/KeyError to every caller.
    if not isinstance(m, dict) or not isinstance(m.get("files"), list):
        raise ValueError(f"corrupt _MANIFEST at {path!r}: wrong shape")
    m.setdefault("generation", "0")
    return m


def _write_manifest(path: str, manifest: dict) -> None:
    """Atomic manifest replace: write-temp + os.replace, so a reader
    polling concurrently sees either the old or the new manifest,
    never a truncated one."""
    import json as _json
    import os
    import uuid

    tmp = os.path.join(path, f"._MANIFEST.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        _json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, "_MANIFEST"))


def _read_arrow_file(path: str, filename: str):
    """One committed IPC file → its record batches (shared by the
    batch scan and the streaming reader so the two can never diverge
    on read options)."""
    import os

    import pyarrow as pa

    with pa.ipc.open_file(os.path.join(path, filename)) as r:
        for i in range(r.num_record_batches):
            yield r.get_batch(i)


class ArrowDirDataSource(DataSource):
    """``ddspark_arrow_dir`` — Arrow IPC directory SINK.

    The reference's data plane is LZ4 Arrow IPC end-to-end
    (``networks/tonic/src/server.rs:125-127``) but it has no file
    sinks; this extension writes the same wire format to storage with
    the DataSource writer contract: each task streams its partition's
    record batches into one ``part-*.arrow`` file (Arrow writer API —
    columnar batches straight from the scan, no row conversion), the
    driver commit writes a ``_MANIFEST`` naming exactly the committed
    files, and abort removes this attempt's files. Readers that honor
    the manifest never observe a partial write — the same
    task-commit/job-commit protocol as Spark's file sinks.
    """

    @classmethod
    def name(cls) -> str:
        return "ddspark_arrow_dir"

    def writer(self, schema, overwrite: bool):
        return ArrowDirWriter(self.options["path"], overwrite)

    def _manifest_files(self) -> list[str]:
        return [f["file"] for f in _load_manifest(self.options["path"])["files"]]

    def schema(self):
        import os

        import pyarrow as pa

        from pyspark.sql.pandas.types import from_arrow_schema

        files = self._manifest_files()
        if not files:
            return "dummy string"  # empty dataset: no schema recorded
        with pa.ipc.open_file(
            os.path.join(self.options["path"], files[0])
        ) as r:
            return from_arrow_schema(r.schema_arrow if hasattr(r, "schema_arrow") else r.schema)

    def reader(self, schema):
        return ArrowDirReader(self.options["path"], self._manifest_files())

    def streamReader(self, schema):
        return ArrowDirStreamReader(self.options["path"])


class ArrowDirPartition(InputPartition):
    def __init__(self, path: str, filename: str) -> None:
        self.path = path
        self.filename = filename


class ArrowDirReader(DataSourceReader):
    """Manifest-honoring scan of an Arrow-IPC directory: one input
    partition per committed file (uncommitted stragglers are
    invisible), RecordBatches straight into the scan."""

    def __init__(self, path: str, files: list[str]) -> None:
        self._path = path
        self._files = files

    def partitions(self):
        return [ArrowDirPartition(self._path, f) for f in self._files]

    def read(self, partition: ArrowDirPartition):
        yield from _read_arrow_file(partition.path, partition.filename)


class ArrowDirStreamReader(DataSourceStreamReader):
    """Streaming twin of the Arrow-dir scan: incremental ingest of
    newly COMMITTED files (Spark 4 DataSourceStreamReader).

    Offsets are positions in the manifest's append-ordered file list —
    ``{"n": k, "gen": g}`` means the first k committed files of
    manifest generation g are consumed. Each microbatch plans one
    input partition per new file, so the read itself runs on
    executors (not a driver-side simple reader — at scale a
    microbatch may ingest thousands of files). Readers only ever see
    manifest entries, so a crashed writer's stragglers are invisible
    here exactly as in the batch scan; a file enters the stream
    atomically with its manifest commit (temp-file + rename).

    The generation id detects overwrite commits: positions into a
    REPLACED manifest are meaningless (old part-files are deleted),
    so a generation change raises a clear error instead of silently
    serving the wrong files.
    """

    def __init__(self, path: str) -> None:
        self._path = path
        self._last_good: dict | None = None

    def initialOffset(self) -> dict:
        # Missing manifest = stream started before the first commit
        # (supported); a CORRUPT one at start should fail loudly.
        try:
            m = _load_manifest(self._path)
        except FileNotFoundError:
            return {"n": 0, "gen": "0"}
        return {"n": 0, "gen": m["generation"]}

    def latestOffset(self) -> dict:
        # A torn/garbled manifest during a poll must NOT regress the
        # offset to {n: 0} — that would either re-ingest everything as
        # duplicates or trip the generation check with a misleading
        # OVERWRITTEN error. Report the last good offset ("no
        # progress") and let the next poll see the recovered file.
        try:
            m = _load_manifest(self._path)
        except FileNotFoundError:
            return self._last_good or {"n": 0, "gen": "0"}
        except ValueError:
            if self._last_good is not None:
                return self._last_good
            raise
        off = {"n": len(m["files"]), "gen": m["generation"]}
        self._last_good = off
        return off

    def partitions(self, start: dict, end: dict):
        try:
            m = _load_manifest(self._path)
        except FileNotFoundError:
            if int(start["n"]) == 0 and int(end["n"]) == 0:
                return []
            raise
        for off in (start, end):
            # n == 0 references no files of the old manifest, so it is
            # trivially safe to replay against any generation — this is
            # exactly the stream-started-before-first-commit case the
            # lenient loader advertises (first commit may be overwrite).
            if int(off["n"]) == 0:
                continue
            if "gen" in off and off["gen"] != m["generation"]:
                raise RuntimeError(
                    "ddspark_arrow_dir stream: the dataset was "
                    "OVERWRITTEN since this checkpoint (manifest "
                    f"generation {off['gen']!r} -> "
                    f"{m['generation']!r}); offsets into the old "
                    "manifest cannot be replayed. Restart the stream "
                    "with a fresh checkpoint."
                )
        files = [f["file"] for f in m["files"]][int(start["n"]) : int(end["n"])]
        return [ArrowDirPartition(self._path, f) for f in files]

    def read(self, partition: ArrowDirPartition):
        yield from _read_arrow_file(partition.path, partition.filename)

    def commit(self, end: dict) -> None:
        # Progress tracking lives in the stream's checkpoint; nothing
        # source-side to clean up (files stay for batch readers).
        pass


class ArrowDirWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool) -> None:
        self._path = path
        self._overwrite = overwrite

    def write(self, iterator):
        import os
        import uuid

        import pyarrow as pa

        os.makedirs(self._path, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.arrow"
        full = os.path.join(self._path, fname)
        rows = 0
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pa.ipc.new_file(
                        full,
                        batch.schema,
                        options=pa.ipc.IpcWriteOptions(compression="lz4"),
                    )
                writer.write_batch(batch)
                rows += batch.num_rows
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            # Empty partition: no file, nothing to commit.
            return ArrowFileCommit("", 0)
        return ArrowFileCommit(fname, rows)

    def commit(self, messages):
        import os
        import uuid

        files = [
            {"file": m.filename, "rows": m.rows}
            for m in messages
            if m is not None and m.filename
        ]
        # Serialize manifest read-modify-write across concurrent
        # driver processes (two append jobs sharing a directory):
        # without the flock the last writer would strand the other
        # job's committed files. On a shared POSIX FS this is the
        # whole commit protocol; an object store needs a transactional
        # catalog instead (documented trade).
        lock_path = os.path.join(self._path, "._MANIFEST.lock")
        lock_fh = open(lock_path, "a+")
        try:
            try:
                import fcntl

                fcntl.flock(lock_fh, fcntl.LOCK_EX)
            except (ImportError, OSError):
                # non-POSIX (no fcntl) or a filesystem where flock
                # itself fails (some NFS mounts raise ENOLCK/EBADF):
                # degrade to the documented best-effort/no-lock commit
                # rather than aborting the whole write job.
                pass
            # Missing prior manifest = normal first commit; a CORRUPT
            # one must abort the job (strict load) — treating it as
            # empty would silently truncate the dataset on append and
            # delete still-referenced files on overwrite.
            try:
                prior = _load_manifest(self._path)
            except FileNotFoundError:
                prior = {"files": [], "generation": "0"}
            if self._overwrite:
                # Drop only files the PRIOR manifest committed (minus
                # any this commit keeps), and bump the GENERATION so a
                # live stream's checkpointed offsets (positions into
                # the replaced manifest) fail loudly instead of
                # silently serving the wrong files. Never sweep
                # part-* files at large — a concurrent append job's
                # written-but-uncommitted task files are invisible to
                # readers but must survive until ITS commit runs.
                keep = {f["file"] for f in files}
                for f in prior["files"]:
                    if f["file"] not in keep:
                        try:
                            os.remove(os.path.join(self._path, f["file"]))
                        except FileNotFoundError:
                            pass
                manifest = {"files": files, "generation": uuid.uuid4().hex}
            else:
                # Append mode: this job's files EXTEND the dataset — a
                # manifest naming only the new files would strand every
                # previously committed file (and break the streaming
                # reader's append-ordered offsets).
                known = {f["file"] for f in prior["files"]}
                manifest = {
                    "files": prior["files"]
                    + [f for f in files if f["file"] not in known],
                    "generation": prior["generation"],
                }
            _write_manifest(self._path, manifest)
        finally:
            lock_fh.close()

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and m.filename:
                try:
                    os.remove(os.path.join(self._path, m.filename))
                except FileNotFoundError:
                    pass
