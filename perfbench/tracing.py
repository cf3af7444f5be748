"""Tracing hooks installed only for ``--trace 1`` runs.

- ``SinkTimer`` wraps ``streaming.pipeline.upsert_latest`` and
  ``append_log`` (the names the foreachBatch sink looks up at call time)
  and records each call's seconds and the bytes it left in the latest view.
- ``progress_listener`` extends ``streaming.watermarks.MetricsListener``
  so it also keeps every raw ``StreamingQueryProgress`` as a dict.
"""

from __future__ import annotations

import json
import os
import threading
import time


def bytes_since(path: str, since_ns: int) -> int:
    """Bytes of data files under ``path`` modified at or after ``since_ns``."""
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(d, f))
            if st.st_mtime_ns >= since_ns:
                total += st.st_size
    return total


class SinkTimer:
    def __init__(self, pipeline_module):
        self.mod = pipeline_module
        self.phase = None
        self.calls: list[dict] = []
        self._orig = {}

    def install(self) -> None:
        for name in ("upsert_latest", "append_log"):
            orig = getattr(self.mod, name)
            self._orig[name] = orig
            setattr(self.mod, name, self._wrap(name, orig))

    def uninstall(self) -> None:
        for name, orig in self._orig.items():
            setattr(self.mod, name, orig)

    def _wrap(self, name, orig):
        def timed(*args, **kwargs):
            phase = self.phase
            t0_ns = time.time_ns()
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                rec = {"phase": phase, "call": name, "s": time.perf_counter() - t0}
                if name == "upsert_latest":
                    rec["bytes"] = bytes_since(args[2], t0_ns)
                self.calls.append(rec)

        return timed


def progress_listener():
    """A ``MetricsListener`` whose ``progress_json`` list also receives
    each raw progress as a dict."""
    from streaming_feature_store_spark.streaming.watermarks import MetricsListener

    listener = MetricsListener()
    listener.progress_json = []
    lock = threading.Lock()
    base = listener.onQueryProgress

    def on_progress(event):
        raw = json.loads(event.progress.json)
        with lock:
            listener.progress_json.append(raw)
        base(event)

    listener.onQueryProgress = on_progress
    return listener
