"""Measurement helpers: percentiles, spans, result fingerprints, and the
Spark / process counters the per-layer metrics read.

Nothing here imports Spark at module load; every reader takes the live
session or engine it needs.
"""

from __future__ import annotations

import hashlib
import math
import statistics
import threading
import time
from contextlib import contextmanager

def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The tail: the highest percentile with at least ten samples
    beyond it. With n samples that is rank n-10, percentile
    100*(n-10)/n. Returns (percentile, value), or (None, None) when
    that percentile would sit below the median (fewer than 20 samples)."""
    n = len(values)
    k = n - 10
    if k < 1 or 2 * k < n:
        return None, None
    return 100.0 * k / n, sorted(values)[k - 1]


def timing(values: list[float]) -> dict:
    """Median, tail and sample count of one timing."""
    pct, val = tail(values)
    return {
        "p50": statistics.median(values) if values else None,
        "tail_pct": pct,
        "tail": val,
        "n": len(values),
    }


# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a
    no-op so the untraced window pays nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = 0

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._ids += 1
            sid = self._ids
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "request": request if request is not None
            else (stack[-1]["request"] if stack else None),
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the part of its interval its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"],
                s["end"],
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out


def _union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- result fingerprints --------------------------------------------------


def _canon(v) -> str:
    if v is None:
        return "\x00"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return str(int(v)) if v.is_integer() and abs(v) < 2**53 else repr(v)
    if hasattr(v, "is_integer") and not isinstance(v, str):  # Decimal
        return _canon(float(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def table_hash(table) -> str:
    """Order-insensitive fingerprint of an Arrow table: columns by
    name, every value in a canonical text form (integers and integral
    floats alike, so int32/int64/double columns of equal values agree
    across engines), rows sorted, sha256 over the lot."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(c[i]) for c in cols) for i in range(table.num_rows))
    h = hashlib.sha256(("\x1e".join(names) + "\n").encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def column_sums(table) -> dict[str, tuple[int, int]]:
    """Per-column order-insensitive checksum: (sum, sum of squares) of
    each value's 64-bit integer image, wrapping. Doubles are exact
    hundredths in the corpus, so they enter as cents; timestamps as
    microseconds; strings through their md5 prefix."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {}
    for name in table.column_names:
        col = table.column(name)
        t = col.type
        if pa.types.is_floating(t):
            ints = np.rint(col.to_numpy() * 100.0).astype(np.int64)
        elif pa.types.is_timestamp(t) or pa.types.is_date(t):
            ints = col.cast(pa.int64()).to_numpy()
        elif pa.types.is_integer(t):
            ints = col.cast(pa.int64()).to_numpy()
        else:
            uniq = pc.unique(col)
            codes = pc.index_in(col, value_set=uniq).to_numpy()
            digests = np.array(
                [
                    int.from_bytes(hashlib.md5(str(s).encode()).digest()[:8], "little", signed=True)
                    for s in uniq.to_pylist()
                ],
                dtype=np.int64,
            )
            ints = digests[codes]
        u = ints.astype(np.uint64)
        with np.errstate(over="ignore"):
            out[name] = (int(u.sum()), int((u * u).sum()))
    return out


def add_sums(acc: dict, part: dict) -> dict:
    mask = (1 << 64) - 1
    for k, (a, b) in part.items():
        x, y = acc.get(k, (0, 0))
        acc[k] = ((x + a) & mask, (y + b) & mask)
    return acc


# -- process and Spark counters --------------------------------------------


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stage_metrics(spark, group: str) -> dict:
    """Spark execution metrics of every job started under ``group``,
    from the status tracker (job -> stage ids) and the status store
    (per-stage task metrics). Jobs that AQE submits from its own
    threads carry no group and are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(
        (
            "jobs", "stages", "tasks", "task_failures", "executor_run_s",
            "executor_cpu_s", "input_mb", "shuffle_read_mb",
            "shuffle_write_mb", "spill_mb", "result_mb",
        ),
        0,
    )
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    mb = 1024.0 * 1024.0
    for sid in sorted(stage_ids):
        seq = store.stageData(sid, False, empty_status, False, no_quantiles)
        for i in range(seq.size()):
            d = seq.apply(i)
            if str(d.status()) == "SKIPPED" or d.numTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["task_failures"] += d.numFailedTasks()
            out["executor_run_s"] += d.executorRunTime() / 1e3
            out["executor_cpu_s"] += d.executorCpuTime() / 1e9
            out["input_mb"] += d.inputBytes() / mb
            out["shuffle_read_mb"] += (
                d.shuffleLocalBytesRead() + d.shuffleRemoteBytesRead()
            ) / mb
            out["shuffle_write_mb"] += d.shuffleWriteBytes() / mb
            out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / mb
            out["result_mb"] += d.resultSize() / mb
    return out


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def active_jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getActiveJobsIds())
