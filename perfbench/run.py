"""Feature-store benchmark: catch-up, live tail with serving, catalog subset.

One run measures every end-to-end metric on one workload (a key
distribution, see ``WORKLOADS``):

1. inputs: seeded catalog tables (sf0.1 timed, sf0.01 checked), one small
   warm-up file and a staged backlog of 16 event files (``gen.py``);
2. ``setup_s``: ``get_spark`` plus the start of the feature pipeline
   (``read_file_stream`` → ``start_feature_pipeline``, default trigger and
   16 files per batch) until it has committed the warm-up file and is idle.
   The source path is a glob over the subdirectories of ``src/``, so a
   whole directory of files lands in one rename;
3. catch-up: the backlog directory lands in one rename in the running
   pipeline's source → one full batch → ``catchup_events_per_s``,
   backlog events over the time from landing to the commit of the batch
   that read the last backlog file;
4. live tail: a separate generator process lands a file every 0.5 s for
   ``--seconds`` while one closed-loop client calls ``store.get_online``;
   ``freshness_p50_s`` and ``freshness_p95_s`` run per event from its
   creation stamp to the commit of the batch that read its file (mapped
   through the checkpoint's ``sources/0``, ``offsets`` and ``commits``
   logs);
5. catalog: a fixed query subset, checked against the DuckDB oracles at
   sf0.01 (untimed; it also warms the plans), then each query timed
   ``CATALOG_REPS`` times at sf0.1 to a noop sink → ``catalog_total_s``,
   the sum of the per-query medians.

Correctness: after catch-up and after the tail drains, the latest view must
hold one row per entity, equal to an independent pandas recompute of the
newest 5-minute window per entity; every lookup must return one feature
row per requested key; every catalog query must match its oracle. Each
mismatch is a failed operation.

``--trace 1`` adds the Spark event log, the progress listener and the sink
wrappers, and prints the per-layer metrics instead of the end-to-end ones.
All output stays under ``.perfbench_work/`` in the checkout.

Usage: python3 perfbench/run.py --workload skewed --seed 1 --seconds 4 --trace 0
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN = os.path.join(WORK, "run")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    "skewed": {"keys": "zipf", "n_keys": 20_000},
    "spread": {"keys": "uniform", "n_keys": 200_000},
}
BACKLOG_FILES = 16
FILES_PER_TRIGGER = 16  # read_file_stream's default maxFilesPerTrigger
BACKLOG_EVENTS_PER_FILE = 1_000
BACKLOG_SPAN_S = 600.0
WARMUP_EVENTS = 200
TAIL_INTERVAL_S = 0.5
TAIL_EVENTS_PER_FILE = 100
SERVE_KEYS = 8
LOOKUP_ATTEMPTS = 5
CATALOG = (
    "q14_asof_purchase_features",
    "q26_psi_drift",
    "q216_conversion_ztest",
    "q21_exact_dup_groups",
    "q19_doc_token_stats",
)
CATALOG_REPS = 3
DEADLINE_S = 170
DRAIN_TIMEOUT_S = 40

END_TO_END = {
    "setup_s": "s",
    "catchup_events_per_s": "events/s",
    "freshness_p50_s": "s",
    "freshness_p95_s": "s",
    "catalog_total_s": "s",
}
STREAM_PHASES = ("catchup", "tail")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    u = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "gen.late_p50_ms": "ms",
        "gen.late_max_ms": "ms",
        "source.backlog_files_max": "count",
        "source.latestOffset_ms_p50": "ms",
        "source.getBatch_ms_p50": "ms",
    }
    for p in STREAM_PHASES:
        u[f"stream.{p}.batches"] = "count"
        for k in (
            "queryPlanning",
            "addBatch",
            "walCommit",
            "commitOffsets",
            "triggerExecution",
        ):
            u[f"stream.{p}.{k}_ms"] = "ms"
        u[f"state.{p}.rows_total"] = "count"
        u[f"state.{p}.rows_updated"] = "count"
        u[f"state.{p}.memory_bytes"] = "bytes"
        u[f"state.{p}.commit_ms"] = "ms"
        u[f"state.{p}.rows_dropped_by_watermark"] = "count"
        u[f"sink.{p}.upsert_latest_s_p50"] = "s"
        u[f"sink.{p}.upsert_latest_s_total"] = "s"
        u[f"sink.{p}.append_log_s_total"] = "s"
        u[f"sink.{p}.latest_bytes_written"] = "bytes"
        u[f"sink.{p}.write_amp"] = "ratio"
    u.update(
        {
            "store.lookup_ms_p50": "ms",
            "store.lookup_retries": "count",
            "store.get_online_build_ms_p50": "ms",
            "store.get_online_exec_ms_p50": "ms",
            "store.lookups": "count",
            "store.lookups_failed": "count",
            "catalog.construct_s": "s",
            "catalog.plan_s": "s",
            "catalog.exec_s": "s",
        }
    )
    for q in CATALOG:
        u[f"catalog.{q}.s"] = "s"
    for p in (*STREAM_PHASES, "catalog"):
        for f, unit in zip(
            stats.PHASE_FIELDS,
            ("count", "count", "count", "s", "s", "s", "bytes", "bytes"),
        ):
            u[f"{p}.{f}"] = unit
    for k, unit in END_TO_END.items():
        u[f"traced.{k}"] = unit
    return u


def host_settings() -> dict:
    """Environment for the Spark launch, sized to this host; every path
    the JVM or Python may write to lies under the run directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(4, mem_kb // (1024 * 1024) // 4))
    tmp = os.path.join(RUN, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(RUN, "local"),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_DRIVER_JAVA_OPTS": (
            f"-Xms{heap_gb}g -XX:+UseG1GC -XX:-UsePerfData "
            f"-XX:ErrorFile={RUN}/hs_err_pid%p.log "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={RUN}"
        ),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    }


def spark_configs(trace: bool) -> dict:
    c = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN, "warehouse"),
        "spark.sql.streaming.minBatchesToRetain": "10000",
    }
    if trace:
        c.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(RUN, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    return c


def cpu_ticks() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` readings that the
    hypervisor gave to other guests while this one wanted it; every timing
    of a run grows with it."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def git_head() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        out = ""
    return out or "not a git checkout"


# --------------------------------------------------------------------------
# Correctness helpers (pandas / DuckDB, independent of the engine)
# --------------------------------------------------------------------------


def read_events(paths):
    """Events of the given landed files as a pandas frame: ``user_id``,
    ``ts_us``, ``cents``, ``created_us`` and the bare ``file`` name."""
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    for p in paths:
        t = pq.read_table(p, columns=["user_id", "ts", "value", "created_us"])
        frames.append(
            pd.DataFrame(
                {
                    "user_id": t.column("user_id").to_numpy(),
                    "ts_us": t.column("ts").cast("int64").to_numpy(),
                    "cents": (t.column("value").to_numpy() * 100).round().astype("int64"),
                    "created_us": t.column("created_us").to_numpy(),
                    "file": os.path.basename(p),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def read_lines(paths):
    """The lines of ``paths`` in order, each file closed after it is read."""
    for p in paths:
        with open(p) as f:
            yield from f


def expected_latest(events):
    """Newest 5-minute / 1-minute sliding window per user: window start
    (s), event count, and exact sum, max and min in cents."""
    last = events.groupby("user_id")["ts_us"].transform("max")
    ws = (last // 60_000_000) * 60
    inside = (events["ts_us"] >= ws * 1_000_000) & (
        events["ts_us"] < (ws + 300) * 1_000_000
    )
    e = events.assign(ws=ws)[inside]
    return e.groupby("user_id").agg(
        window_start_s=("ws", "first"),
        event_count=("cents", "size"),
        sum_cents=("cents", "sum"),
        max_cents=("cents", "max"),
        min_cents=("cents", "min"),
    )


def latest_mismatches(view, expect) -> int:
    """Entities duplicated in, missing from or extra in the latest view,
    plus rows whose values differ from the recompute."""
    dups = int(view["user_id"].duplicated().sum())
    v = view.drop_duplicates("user_id").set_index("user_id")
    missing = len(expect.index.difference(v.index))
    extra = len(v.index.difference(expect.index))
    j = v.join(expect, how="inner", rsuffix="_exp")
    bad = (
        (j["window_start_s"] != j["window_start_s_exp"])
        | (j["event_count"] != j["event_count_exp"])
        | (j["value_sum"] != j["sum_cents"] / 100.0)
        | (j["value_max"] != j["max_cents"] / 100.0)
        | (j["value_min"] != j["min_cents"] / 100.0)
    )
    return dups + missing + extra + int(bad.sum())


def normalize(rows, cols):
    """Order-insensitive row form of the parity gate (a copy of
    ``tools/check_parity.normalize``; importing that module would put a
    fixed checkout path on ``sys.path``): ``repr`` of every value, NaN
    spelled out, rows sorted."""
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            vals.append("NaN" if isinstance(v, float) and math.isnan(v) else repr(v))
        out.append(tuple(vals))
    out.sort()
    return out


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.phases: dict[str, tuple[float, float]] = {}
        self.samples: dict[str, int] = {}
        self.spark = None
        self.gen_proc = None
        self.keys = gen.KeySampler(self.wl["keys"], self.wl["n_keys"], seed)
        self.t_start = time.time()
        d = lambda *p: os.path.join(RUN, *p)  # noqa: E731
        self.sf01, self.sf001 = d("sf0.1"), d("sf0.01")
        self.src, self.gen_tmp = d("stream", "src"), d("stream", "gen_tmp")
        self.warm_dir, self.backlog_dir, self.tail_dir = (
            d("stream", "src", x) for x in ("warmup", "backlog", "tail")
        )
        self.latest, self.log = d("stream", "latest"), d("stream", "log")
        self.ckpt = d("stream", "ckpt")

    def note(self, msg: str) -> None:
        print(f"[perfbench +{time.time() - self.t_start:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            self.problems.append(what)

    # ---- inputs ---------------------------------------------------------

    def make_inputs(self) -> None:
        import numpy as np
        import tables

        tables.write_tables(self.sf01, 0.1, self.seed)
        tables.write_tables(self.sf001, 0.01, self.seed)
        self.staged_dir = os.path.join(RUN, "stream", "staged", "backlog")
        for p in (self.warm_dir, self.tail_dir, self.gen_tmp, self.staged_dir):
            os.makedirs(p)
        end_us = int(time.time() * 1e6)
        first_us = end_us - int(BACKLOG_SPAN_S * 1e6)
        gen.land(
            gen.make_events(
                np.random.default_rng([self.seed, 0]),
                self.keys,
                gen.WARMUP_ID_BASE,
                WARMUP_EVENTS,
                first_us - 10_000_000,
                first_us,
            ),
            self.gen_tmp,
            self.warm_dir,
            "a-000000.parquet",
        )
        self.n_backlog = gen.write_backlog(
            self.staged_dir,
            self.gen_tmp,
            self.seed,
            BACKLOG_FILES,
            BACKLOG_EVENTS_PER_FILE,
            self.keys,
            end_us,
            BACKLOG_SPAN_S,
        )
        self.backlog_names = sorted(os.listdir(self.staged_dir))
        self.backlog = read_events(
            [
                os.path.join(self.warm_dir, "a-000000.parquet"),
                *(os.path.join(self.staged_dir, f) for f in self.backlog_names),
            ]
        )

    # ---- setup ----------------------------------------------------------

    def setup(self) -> None:
        from streaming_feature_store_spark.session import get_spark

        if self.trace:
            os.makedirs(os.path.join(RUN, "eventlog"))
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", configs=spark_configs(self.trace))
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.warmup()
        t2 = time.perf_counter()
        self.e2e["setup_s"] = t2 - t0
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1

    def warmup(self) -> None:
        """One-time costs the first measured phase would otherwise pay:
        start the pipeline that runs for the rest of the run and let it
        commit one small file (first jobs, streaming and sink code paths,
        state store, JIT), so the catch-up also merges into a non-empty
        latest view. Returns once the query is idle."""
        self.query = self.start_query()
        self.wait_committed(self.query, ["a-000000.parquet"])
        idle = 0
        while idle < 3:
            time.sleep(0.05)
            idle = 0 if self.query.status["isTriggerActive"] else idle + 1

    @staticmethod
    def schema():
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
            TimestampType,
        )

        return StructType(
            [
                StructField("event_id", LongType()),
                StructField("user_id", LongType()),
                StructField("ts", TimestampType()),
                StructField("value", DoubleType()),
                StructField("created_us", LongType()),
            ]
        )

    def start_query(self):
        from streaming_feature_store_spark.streaming.pipeline import (
            read_file_stream,
            start_feature_pipeline,
        )

        return start_feature_pipeline(
            self.spark,
            read_file_stream(self.spark, os.path.join(self.src, "*"), self.schema()),
            self.latest,
            self.log,
            checkpoint=self.ckpt,
            trigger_available_now=False,
        )

    def check_latest(self, events, what: str) -> None:
        """Compare the latest view's files, read with pyarrow, against the
        pandas recompute over ``events``."""
        import pandas as pd
        import pyarrow.parquet as pq

        parts = glob.glob(os.path.join(self.latest, "_bucket=*", "part-*.parquet"))
        view = pd.concat([pq.read_table(p).to_pandas() for p in parts])
        expect = expected_latest(events)
        self.attempted += len(expect)
        self.fail(latest_mismatches(view, expect), f"latest view after {what}")

    # ---- catch-up -------------------------------------------------------

    def wait_committed(self, q, files: list[str]) -> tuple[dict, dict]:
        """Poll the checkpoint until every file in ``files`` was read by a
        committed batch; return the file → batch and batch → commit-time
        maps."""
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            if q.exception() is not None:
                raise RuntimeError(f"feature pipeline failed: {q.exception()}")
            batches = stats.file_batches(self.ckpt)
            commits = stats.commit_times(self.ckpt)
            if all(batches.get(f) in commits for f in files):
                return batches, commits
            if time.time() > deadline:
                raise RuntimeError("the pipeline did not drain its input")
            time.sleep(0.05)

    def start_generator(self) -> None:
        """Launch the tail producer now, so its start-up overlaps nothing
        that is timed; it waits for the start time on stdin."""
        self.gen_proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "gen.py"),
                "--out", self.tail_dir,
                "--tmp", self.gen_tmp,
                "--report", os.path.join(RUN, "gen_report.json"),
                "--seed", str(self.seed),
                "--seconds", str(self.seconds),
                "--interval", str(TAIL_INTERVAL_S),
                "--events-per-file", str(TAIL_EVENTS_PER_FILE),
                "--keys", self.wl["keys"],
                "--n-keys", str(self.wl["n_keys"]),
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        if self.gen_proc.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed to start")

    def catchup(self) -> None:
        """Land the backlog directory in the idle pipeline's source in one
        rename and time it until the batch that read the last backlog file
        has committed. The backlog must drain as full batches of
        ``FILES_PER_TRIGGER`` files; any other split is a failed operation."""
        if self.sinks:
            self.sinks.phase = "catchup"
        names = self.backlog_names
        a = time.time()
        os.replace(self.staged_dir, self.backlog_dir)
        batches, commits = self.wait_committed(self.query, names)
        done = max(commits[batches[f]] for f in names)
        self.phases["catchup"] = (a, done)
        self.catchup_last_batch = max(batches[f] for f in names)
        sizes = sorted(stats.group_by((batches[f], f) for f in names).items())
        self.samples["catchup_batches"] = len(sizes)
        self.attempted += 1
        self.fail(
            0 if all(len(fs) == FILES_PER_TRIGGER for _, fs in sizes) else 1,
            f"backlog split into batches of {[len(fs) for _, fs in sizes]} files",
        )
        self.e2e["catchup_events_per_s"] = self.n_backlog / (done - a)
        self.check_latest(self.backlog, "catch-up")

    # ---- live tail ------------------------------------------------------

    def serve(self, stop: threading.Event, present) -> None:
        import numpy as np

        from streaming_feature_store_spark.store import get_online

        rng = np.random.default_rng([self.seed, 3])
        present = set(int(k) for k in present)
        while not stop.is_set():
            keys: list[int] = []
            while len(keys) < SERVE_KEYS:
                k = int(self.keys.draw(rng, 1)[0])
                if k in present and k not in keys:
                    keys.append(k)
            self.lookups.append(self.lookup(get_online, keys))

    def lookup(self, get_online, keys: list[int]) -> tuple:
        """One request: build the key frame, ``get_online``, collect.

        A read that loses the race with a concurrent bucket rewrite (the
        file it listed is gone) is retried with a fresh listing, as a
        serving client of a parquet latest view must; retries are counted
        and their time stays in the request's latency. Returns ``(ok,
        total_ms, build_ms, exec_ms, retries)``; any other error, or a
        result without exactly one feature row per key, is a failure."""
        t0 = time.perf_counter()
        for attempt in range(LOOKUP_ATTEMPTS):
            try:
                tb = time.perf_counter()
                kdf = self.spark.createDataFrame([(k,) for k in keys], "user_id long")
                out = get_online(self.spark, self.latest, kdf, "user_id")
                te = time.perf_counter()
                rows = out.collect()
                t2 = time.perf_counter()
            except Exception as e:
                if "FILE_NOT_EXIST" in str(e) and attempt + 1 < LOOKUP_ATTEMPTS:
                    continue
                self.problems.append(f"lookup raised {type(e).__name__}")
                return (False, math.nan, math.nan, math.nan, attempt)
            ok = sorted(r["user_id"] for r in rows) == sorted(keys) and all(
                r["event_count"] is not None for r in rows
            )
            if not ok:
                self.problems.append(f"lookup of {keys} returned {rows}")
            return (
                ok,
                (t2 - t0) * 1e3,
                (te - tb) * 1e3,
                (t2 - te) * 1e3,
                attempt,
            )

    def tail(self) -> None:
        """Land files on a fixed schedule from a separate generator process
        while the pipeline runs and one closed-loop client serves lookups;
        wait until every landed file is committed, then stop the query."""
        if self.sinks:
            self.sinks.phase = "tail"
        a = time.time()
        self.gen_proc.stdin.write(f"{a + 0.1!r}\n")
        self.gen_proc.stdin.flush()
        stop = threading.Event()
        self.lookups: list[tuple] = []
        client = threading.Thread(
            target=self.serve, args=(stop, self.backlog["user_id"].unique())
        )
        client.start()
        try:
            rc = self.gen_proc.wait(timeout=self.seconds + 30)
        finally:
            stop.set()
            client.join()
        self.gen_proc = None
        if rc != 0:
            raise RuntimeError(f"generator exited with {rc}")
        with open(os.path.join(RUN, "gen_report.json")) as f:
            self.gen_report = json.load(f)
        tail_files = self.gen_report["files"]
        batches, commits = self.wait_committed(self.query, tail_files)
        self.query.stop()
        self.phases["tail"] = (a, time.time())

        tail_events = read_events([os.path.join(self.tail_dir, f) for f in tail_files])
        created = stats.group_by(zip(tail_events["file"], tail_events["created_us"]))
        fresh = stats.freshness(created, batches, commits)
        self.e2e["freshness_p50_s"] = stats.percentile(fresh, 50)
        self.e2e["freshness_p95_s"] = stats.percentile(fresh, 95)
        self.samples |= {
            "freshness_events": len(fresh),
            "tail_batches": len(set(batches[f] for f in tail_files)),
            "lookups": len(self.lookups),
        }
        self.tail_batches = batches

        self.attempted += len(self.lookups)
        self.fail(sum(1 for x in self.lookups if not x[0]), "lookups")

        import pandas as pd

        self.check_latest(pd.concat([self.backlog, tail_events]), "tail drain")

    # ---- catalog --------------------------------------------------------

    def catalog(self) -> None:
        import duckdb

        from streaming_feature_store_spark.plans.queries import ORACLES, QUERIES

        spark = self.spark
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{self.sf001}/{t}.parquet'"
            )
        for name in CATALOG:
            self.attempted += 1
            try:
                sdf = QUERIES[name](spark, self.sf001)
                got = [r.asDict() for r in sdf.collect()]
                cols = sorted(sdf.columns)
                want = con.execute(ORACLES[name]).fetch_arrow_table().to_pylist()
                wcols = sorted(want[0].keys()) if want else cols
                ok = (
                    len(got) == len(want)
                    and cols == wcols
                    and normalize(got, cols) == normalize(want, cols)
                )
            except Exception as e:
                ok = False
                self.problems.append(f"{name} raised {type(e).__name__}: {e}")
            self.fail(0 if ok else 1, f"{name} differs from its oracle")
        con.close()

        # Rounds over the whole subset, so a stall of the host hits one
        # repetition of several queries rather than every repetition of one.
        a = time.time()
        times = {q: {"total": [], "construct": [], "plan": [], "exec": []} for q in CATALOG}
        for _ in range(CATALOG_REPS):
            for name in CATALOG:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, self.sf01)
                t1 = t2 = time.perf_counter()
                if self.trace:
                    # exec also holds the noop writer's own re-planning
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
                for k, v in (("total", t3 - t0), ("construct", t1 - t0), ("plan", t2 - t1), ("exec", t3 - t2)):
                    times[name][k].append(v)
        self.phases["catalog"] = (a, time.time())
        for name in CATALOG:
            self.layer[f"catalog.{name}.s"] = stats.median(times[name]["total"])
        self.e2e["catalog_total_s"] = sum(self.layer[f"catalog.{q}.s"] for q in CATALOG)
        for k in ("construct", "plan", "exec"):
            self.layer[f"catalog.{k}_s"] = sum(stats.median(times[q][k]) for q in CATALOG)
        self.samples["catalog_reps"] = CATALOG_REPS

    # ---- trace-only digests ---------------------------------------------

    def fold_traces(self) -> None:
        L = self.layer
        late = self.gen_report["late_ms"]
        L["gen.late_p50_ms"] = stats.median(late)
        L["gen.late_max_ms"] = max(late)

        prog = self.listener.progress_json
        last = self.catchup_last_batch
        for phase in STREAM_PHASES:
            s = stats.progress_summary(
                [p for p in prog if (p["batchId"] <= last) == (phase == "catchup")]
            )
            L[f"stream.{phase}.batches"] = s["batches"]
            for k in ("queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution"):
                L[f"stream.{phase}.{k}_ms"] = s[k + "_ms"]
            for k in ("rows_total", "rows_updated", "memory_bytes", "commit_ms", "rows_dropped_by_watermark"):
                L[f"state.{phase}.{k}"] = s[k]
            if phase == "tail":
                L["source.latestOffset_ms_p50"] = s["latestOffset_ms"]
                L["source.getBatch_ms_p50"] = s["getBatch_ms"]

            calls = [c for c in self.sinks.calls if c["phase"] == phase]
            ups = [c["s"] for c in calls if c["call"] == "upsert_latest"]
            written = sum(c["bytes"] for c in calls if c["call"] == "upsert_latest")
            files = (
                [os.path.join(self.backlog_dir, f) for f in self.backlog_names]
                if phase == "catchup"
                else [os.path.join(self.tail_dir, f) for f in self.gen_report["files"]]
            )
            in_bytes = sum(os.path.getsize(f) for f in files)
            L[f"sink.{phase}.upsert_latest_s_p50"] = stats.median(ups)
            L[f"sink.{phase}.upsert_latest_s_total"] = sum(ups)
            L[f"sink.{phase}.append_log_s_total"] = sum(
                c["s"] for c in calls if c["call"] == "append_log"
            )
            L[f"sink.{phase}.latest_bytes_written"] = written
            L[f"sink.{phase}.write_amp"] = written / in_bytes

        # files waiting when each tail batch was planned: landed by its
        # trigger time and not read by an earlier batch
        starts = stats.batch_start_times(self.ckpt)
        landed = {
            f: os.path.getmtime(os.path.join(self.tail_dir, f)) for f in self.gen_report["files"]
        }
        L["source.backlog_files_max"] = max(
            sum(1 for f, t in landed.items() if t <= starts[b] and self.tail_batches[f] >= b)
            for b in set(self.tail_batches[f] for f in landed)
        )

        # a tail gets one or two lookups; with none successful the
        # latencies are NaN and the failures already count in `failed`
        ok = [x for x in self.lookups if x[0]]

        def ok_median(i):
            return stats.median([x[i] for x in ok]) if ok else math.nan

        L["store.lookup_ms_p50"] = ok_median(1)
        L["store.lookup_retries"] = sum(x[4] for x in self.lookups)
        L["store.get_online_build_ms_p50"] = ok_median(2)
        L["store.get_online_exec_ms_p50"] = ok_median(3)
        L["store.lookups"] = len(self.lookups)
        L["store.lookups_failed"] = len(self.lookups) - len(ok)

        # the log rolls into eventlog_v2_<app>/events_<n>_<app> files
        logs = sorted(
            glob.glob(os.path.join(RUN, "eventlog", "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        folded = stats.fold_event_log(read_lines(logs), self.phases)
        for phase, fields in folded.items():
            for k, v in fields.items():
                L[f"{phase}.{k}"] = v
        for k, v in self.e2e.items():
            L[f"traced.{k}"] = v

    # ---- orchestration --------------------------------------------------

    def run(self) -> None:
        self.sinks = None
        self.make_inputs()
        self.note("inputs written")
        self.setup()
        self.start_generator()
        self.note(f"setup {self.e2e['setup_s']:.2f}s, get_spark {self.layer['session.get_spark_s']:.2f}s")
        if self.trace:
            from streaming_feature_store_spark.streaming import pipeline

            import tracing

            self.sinks = tracing.SinkTimer(pipeline)
            self.sinks.install()
            self.listener = tracing.progress_listener()
            self.spark.streams.addListener(self.listener)
        self.catchup()
        self.note(f"catch-up {self.e2e['catchup_events_per_s']:.0f} events/s")
        self.tail()
        self.note(f"tail {self.samples}")
        self.catalog()
        self.note(f"catalog {self.e2e['catalog_total_s']:.2f}s")
        self.close()
        if self.trace:
            self.fold_traces()

    def close(self) -> None:
        """Stop the generator, every query, the session and the JVM, and
        wait for each to end."""
        if self.gen_proc is not None:
            self.gen_proc.kill()
            self.gen_proc.wait()
            self.gen_proc = None
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        if self.sinks:
            self.sinks.uninstall()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description="feature-store benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    ticks0 = cpu_ticks()
    settings = host_settings()
    os.environ.update(settings)
    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(settings["TMPDIR"])
    sys.path.insert(0, ROOT)
    import streaming_feature_store_spark as pkg

    def on_deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    b = Bench(a.workload, a.seed, a.seconds, bool(a.trace))
    try:
        b.run()
    finally:
        signal.alarm(0)
        b.close()

    record = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "git_head": git_head(),
        "package": os.path.dirname(os.path.abspath(pkg.__file__)),
        "settings": settings,
        "host_steal_share": steal_share(ticks0, cpu_ticks()),
        "configs": spark_configs(bool(a.trace)),
        "end_to_end": b.e2e,
        "samples": {
            **b.samples,
            "catchup_events": b.n_backlog,
            "catalog_queries": len(CATALOG),
        },
        "problems": b.problems,
    }
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    if a.trace:
        record["per_layer"] = b.layer
        try:
            with open(os.path.join(reports, f"untraced-{a.workload}.json")) as f:
                base = json.load(f)["end_to_end"]
            record["trace_overhead"] = {k: b.e2e[k] - base[k] for k in base}
        except (OSError, KeyError, ValueError):
            record["trace_overhead"] = "no untraced run of this workload on record"
    name = f"{'traced' if a.trace else 'untraced'}-{a.workload}.json"
    with open(os.path.join(reports, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({k: v for k, v in record.items() if k != "per_layer"}, default=str))
    for p in b.problems:
        print(f"problem: {p}", file=sys.stderr)

    if a.trace:
        units = per_layer_units()
        metrics = {k: {"value": b.layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": b.e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
