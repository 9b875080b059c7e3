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

The ``running_jobs`` table is not a data source here:
``DistEngine.running_jobs_df`` builds it on the driver, where the job
registry lives.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

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
    try:
        import pyarrow.flight  # noqa: F401

        spark.dataSource.register(FlightDataSource)
    except ImportError:  # pragma: no cover - env without flight
        pass
