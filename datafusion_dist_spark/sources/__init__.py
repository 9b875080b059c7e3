"""Source/sink connectors.

Reference surface: in-memory MemTables + one virtual system table, with
results streamed to the client as Arrow (SURVEY §2.C scans/sinks —
there are *no* file sinks in the reference). Spark's own readers and
writers (``spark.read.*``, ``df.write.*``, ``spark.createDataFrame``)
cover files and in-memory tables and are called directly. What Spark
lacks lives here: the Python DataSource API sources in ``python_ds.py``
(synthetic generator, Flight consumer) and the index JSON sidecars in
``sidecar.py``.
"""
