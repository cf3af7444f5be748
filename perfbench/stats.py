"""Pure helpers: percentiles, checkpoint-log freshness and event-log folding.

Nothing here imports Spark, so the helpers are unit-tested on hand-made
inputs (``test_perfbench.py``).
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values``.

    Raises ``ValueError`` unless at least ``MIN_BEYOND`` samples lie beyond
    the percentile's rank, so a p95 needs 200 samples and a p50 needs 20.
    ``math.inf`` samples are allowed (a failed operation misses every
    limit); the result is ``inf`` when the rank lands on one of them.
    """
    xs = sorted(values)
    n = len(xs)
    rank = max(math.ceil(q / 100.0 * n), 1)
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {n - rank} beyond it; "
            f"need {MIN_BEYOND}"
        )
    return xs[rank - 1]


def median(values) -> float:
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def _names(d: str) -> list[str]:
    """Entries of ``d``; none while the engine has not created it yet."""
    try:
        return os.listdir(d)
    except FileNotFoundError:
        return []


def file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Map each file the file source committed to the query batch that
    read it.

    ``<checkpoint>/sources/<source>/<n>`` (and ``<n>.compact``) hold a
    version line, then one JSON entry per file with its ``path`` and the
    *source's* log offset (``batchId``). ``<checkpoint>/offsets/<b>`` holds
    the version line, the batch metadata, then one end offset per source
    (``{"logOffset": n}``). A file belongs to the first batch whose end
    offset reached its log offset; no-data batches repeat the previous
    offset and so never claim a file. Paths are returned as bare names.
    """
    d = os.path.join(checkpoint, "sources", str(source))
    log_offset: dict[str, int] = {}
    for name in _names(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                e = json.loads(line)
                log_offset[os.path.basename(e["path"])] = int(e["batchId"])
    ends = []
    od = os.path.join(checkpoint, "offsets")
    for name in _names(od):
        if name.isdigit():
            with open(os.path.join(od, name)) as f:
                lines = f.read().splitlines()
            if len(lines) > 2 + source and lines[2 + source].strip() not in ("", "-"):
                ends.append((int(name), json.loads(lines[2 + source])["logOffset"]))
    ends.sort()
    out = {}
    for path, off in log_offset.items():
        batch = next((b for b, end in ends if end >= off), None)
        if batch is not None:
            out[path] = batch
    return out


def batch_start_times(checkpoint: str) -> dict[int, float]:
    """Batch id → trigger time (epoch seconds) recorded in
    ``<checkpoint>/offsets/<id>`` as ``batchTimestampMs``."""
    d = os.path.join(checkpoint, "offsets")
    out = {}
    for name in _names(d):
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                meta = json.loads(f.read().splitlines()[1])
            out[int(name)] = meta["batchTimestampMs"] / 1000.0
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id → mtime (epoch seconds) of ``<checkpoint>/commits/<id>``,
    which the engine writes after the batch's sink returned."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    for name in _names(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def freshness(
    created_us_by_file: dict[str, list[int]],
    batches: dict[str, int],
    commits: dict[int, float],
) -> list[float]:
    """Seconds from each event's creation stamp to the commit of the batch
    that read its file. Raises ``KeyError`` for a file that no committed
    batch read."""
    out = []
    for name, created in created_us_by_file.items():
        t = commits[batches[name]]
        out.extend(t - c / 1e6 for c in created)
    return out


PHASE_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def _phase_of(t_ms: float, phases: dict[str, tuple[float, float]]):
    t = t_ms / 1000.0
    for name, (a, b) in phases.items():
        if a <= t < b:
            return name
    return None


def fold_event_log(lines, phases: dict[str, tuple[float, float]]) -> dict:
    """Fold Spark event-log JSON lines into per-phase totals.

    ``phases`` maps a phase name to its ``[start, end)`` wall interval in
    epoch seconds. A job or stage belongs to the phase its submission time
    falls in, a task to the phase its launch time falls in. Returns
    ``{phase: {field: value}}`` with every field of ``PHASE_FIELDS``.
    """
    acc = {p: dict.fromkeys(PHASE_FIELDS, 0) for p in phases}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            p = _phase_of(ev["Submission Time"], phases)
            if p:
                acc[p]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sub = ev["Stage Info"].get("Submission Time")
            p = _phase_of(sub, phases) if sub is not None else None
            if p:
                acc[p]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            p = _phase_of(ev["Task Info"]["Launch Time"], phases)
            m = ev.get("Task Metrics")
            if not p or not m:
                continue
            a = acc[p]
            a["tasks"] += 1
            a["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return acc


def progress_summary(progress: list[dict]) -> dict:
    """Digest of ``StreamingQueryProgress`` JSON dicts: the number of
    batches that read data, the median of each ``durationMs`` phase over
    them, and state-store figures (final size, summed work)."""
    real = [p for p in progress if p.get("numInputRows", 0) > 0]
    out = {"batches": len(real)}
    for k in (
        "queryPlanning",
        "addBatch",
        "walCommit",
        "commitOffsets",
        "triggerExecution",
        "latestOffset",
        "getBatch",
    ):
        vals = [p["durationMs"][k] for p in real if k in p.get("durationMs", {})]
        out[k + "_ms"] = median(vals) if vals else 0.0
    ops = [p["stateOperators"][0] for p in real if p.get("stateOperators")]
    out["rows_total"] = ops[-1]["numRowsTotal"] if ops else 0
    out["rows_updated"] = sum(o["numRowsUpdated"] for o in ops)
    out["memory_bytes"] = ops[-1]["memoryUsedBytes"] if ops else 0
    out["commit_ms"] = sum(o.get("commitTimeMs", 0) for o in ops)
    out["rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for o in ops
    )
    return out


def group_by(pairs):
    d = defaultdict(list)
    for k, v in pairs:
        d[k].append(v)
    return d
