"""Seeded event files for the streaming phases.

Two producers share one event model (``user_id``, ``ts``, ``value``, plus
``event_id`` and the generator's creation stamp ``created_us``):

- ``write_backlog`` stages a backlog that later lands in one rename;
- ``run_tail`` is an open-loop producer meant to run in its own process
  (``python3 gen.py ...``, see ``main``). File ``k`` is due at
  ``start + (k + 1) * interval``; its events are stamped as created evenly
  over the preceding interval. When the producer falls behind it writes the
  overdue file at once and keeps the original schedule for the rest, so a
  slow engine never slows the arrival rate. It reports how late each file
  landed.

Keys are either Zipf-skewed (a bounded Zipf over ``n_keys`` ranks, mapped
through a seeded permutation so hot keys are scattered over the key space)
or uniform. Values are whole cents, so sums are exact in decimal and in
integer arithmetic. Event times trail creation by up to ``JITTER_S`` for
one event in ten, which keeps every event well inside the pipeline's
65 s watermark. Files land by rename, so the file source never sees a
partial file.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
JITTER_S = 5.0
TAIL_ID_BASE = 1_000_000_000
WARMUP_ID_BASE = 900_000_000


class KeySampler:
    def __init__(self, dist: str, n_keys: int, seed: int):
        if dist not in ("zipf", "uniform"):
            raise ValueError(f"unknown key distribution {dist!r}")
        self.dist, self.n_keys = dist, n_keys
        rng = np.random.default_rng([seed, 7])
        self.perm = rng.permutation(n_keys).astype(np.int64)
        w = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()

    def draw(self, rng: np.random.Generator, size: int) -> np.ndarray:
        if self.dist == "uniform":
            return rng.integers(0, self.n_keys, size).astype(np.int64)
        ranks = np.searchsorted(self.cdf, rng.random(size), side="right")
        return self.perm[np.minimum(ranks, self.n_keys - 1)]


def make_events(
    rng: np.random.Generator,
    keys: KeySampler,
    first_id: int,
    n: int,
    created_from_us: int,
    created_to_us: int,
) -> pa.Table:
    created = created_from_us + (
        np.arange(n, dtype=np.int64) * (created_to_us - created_from_us)
    ) // max(n, 1)
    late = rng.random(n) < 0.1
    jitter = (rng.random(n) * JITTER_S * 1e6).astype(np.int64) * late
    cents = np.round(rng.exponential(5_000.0, n)).astype(np.int64) + 1
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "user_id": pa.array(keys.draw(rng, n)),
            "ts": pa.array(created - jitter, pa.timestamp("us", tz="UTC")),
            "value": pa.array(cents / 100.0),
            "created_us": pa.array(created),
        }
    )


def land(table: pa.Table, tmp_dir: str, out_dir: str, name: str) -> None:
    tmp = os.path.join(tmp_dir, name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(out_dir, name))


def write_backlog(
    out_dir: str,
    tmp_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int,
    keys: KeySampler,
    end_us: int,
    span_s: float,
) -> int:
    """Land ``n_files`` files whose event times cover ``span_s`` seconds
    before ``end_us``, oldest first, with modification times one second
    apart in the same order (the file source takes the oldest files first,
    so every batch reads a contiguous stretch of event time). Returns the
    number of events."""
    rng = np.random.default_rng([seed, 1])
    step = int(span_s * 1e6) // n_files
    start = end_us - n_files * step
    mtime_ns = time.time_ns() - n_files * 1_000_000_000
    for k in range(n_files):
        t = make_events(
            rng,
            keys,
            k * events_per_file,
            events_per_file,
            start + k * step,
            start + (k + 1) * step,
        )
        name = f"b-{k:06d}.parquet"
        land(t, tmp_dir, out_dir, name)
        t_ns = mtime_ns + k * 1_000_000_000
        os.utime(os.path.join(out_dir, name), ns=(t_ns, t_ns))
    return n_files * events_per_file


def run_tail(
    out_dir: str,
    tmp_dir: str,
    seed: int,
    seconds: float,
    interval_s: float,
    events_per_file: int,
    keys: KeySampler,
    start_s: float,
) -> dict:
    """Land one file every ``interval_s`` from ``start_s`` for ``seconds``."""
    rng = np.random.default_rng([seed, 2])
    n_files = max(int(seconds / interval_s), 1)
    late_ms, files = [], []
    for k in range(n_files):
        due = start_s + (k + 1) * interval_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        t = make_events(
            rng,
            keys,
            TAIL_ID_BASE + k * events_per_file,
            events_per_file,
            int((due - interval_s) * 1e6),
            int(due * 1e6),
        )
        name = f"t-{k:06d}.parquet"
        land(t, tmp_dir, out_dir, name)
        late_ms.append((time.time() - due) * 1000.0)
        files.append(name)
    return {"files": files, "late_ms": late_ms}


def main() -> None:
    """Tail producer process: prints ``ready`` once loaded, then reads the
    schedule's start time (epoch seconds) from stdin and runs the tail."""
    ap = argparse.ArgumentParser(description="open-loop tail producer")
    ap.add_argument("--out", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--report", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    ap.add_argument("--keys", choices=["zipf", "uniform"], required=True)
    ap.add_argument("--n-keys", type=int, required=True)
    a = ap.parse_args()
    keys = KeySampler(a.keys, a.n_keys, a.seed)
    print("ready", flush=True)
    start = float(sys.stdin.readline())
    rep = run_tail(
        a.out,
        a.tmp,
        a.seed,
        a.seconds,
        a.interval,
        a.events_per_file,
        keys,
        start,
    )
    with open(a.report, "w") as f:
        json.dump(rep, f)


if __name__ == "__main__":
    main()
