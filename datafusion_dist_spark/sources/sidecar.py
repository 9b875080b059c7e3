"""JSON sidecar I/O beside parquet index directories.

The IVF index build (``ivf_index_build``) ships its codebook next to
the partition directories as an underscore-prefixed file
(``_codebook.json``, invisible to parquet discovery). The parquet
write itself accepts any Hadoop URI (s3a://, hdfs://, file:/, bare
local paths), so the sidecar must too — a plain ``open()`` crashes on
every non-local URI (flagged in round-5 review). These helpers go
through the Hadoop FileSystem API of the live session, which resolves
bare local paths to the local filesystem and remote URIs to their
scheme's FS, matching wherever the parquet just landed.
"""

from __future__ import annotations

import json
from typing import Any


def _fs_and_path(spark, dir_path: str, name: str):
    jvm = spark._jvm
    parent = jvm.org.apache.hadoop.fs.Path(dir_path)
    fs = parent.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path(parent, name)


def write_json_sidecar(spark, dir_path: str, name: str, obj: Any) -> None:
    """Write ``obj`` as JSON to ``dir_path/name`` (overwrite)."""
    fs, p = _fs_and_path(spark, dir_path, name)
    out = fs.create(p, True)
    try:
        out.write(json.dumps(obj).encode("utf-8"))
    finally:
        out.close()


def read_json_sidecar(spark, dir_path: str, name: str) -> Any | None:
    """Read ``dir_path/name`` as JSON; None when the file is absent
    (callers decide whether absence is an error — for sketch-param
    sidecars it is, unless every parameter was passed explicitly)."""
    fs, p = _fs_and_path(spark, dir_path, name)
    if not fs.exists(p):
        return None
    # hadoop-common's own IOUtils + java.io only: commons-io is a
    # TRANSITIVE Hadoop dependency that shaded/trimmed Spark distros
    # may drop, while org.apache.hadoop.io lives in the same jar as
    # the FileSystem API used above (ADVICE r6).
    jvm = spark._jvm
    stream = fs.open(p)
    try:
        bos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 8192)
        data = bytes(bos.toByteArray())
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))
