"""Driver-side job overlap (guide §2.6): submit independent Spark
actions from a small thread pool so one job's task tail back-fills with
the next job's tasks.  Shared by the postings-layout writer and the
composed ingest/erase/compact lifecycle operators."""

from __future__ import annotations

from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor


def run_concurrent(jobs: Sequence[Callable[[], object]]) -> list[object]:
    """Run ``jobs`` concurrently and wait for ALL of them.

    Unlike the bare ``fut.result()``-in-submission-order loop this
    replaced (ADVICE r12), every job runs to completion and every
    failure is surfaced: a multi-write failure raises ONE error naming
    each failed job instead of whichever happened to be submitted
    first, so a torn multi-root commit is diagnosable from the message.
    An interrupt is not a job failure: it is re-raised immediately.
    """
    if not jobs:
        return []
    if len(jobs) == 1:
        return [jobs[0]()]
    pool = ThreadPoolExecutor(max_workers=len(jobs))
    results: list[object] = []
    errors: list[tuple[int, Exception]] = []
    try:
        for i, fut in enumerate([pool.submit(j) for j in jobs]):
            try:
                results.append(fut.result())
            except Exception as exc:  # noqa: BLE001 — aggregated below
                errors.append((i, exc))
                results.append(None)
    except BaseException:
        # KeyboardInterrupt / SystemExit (raised here or inside a job)
        # propagate at once, without waiting for the remaining jobs
        pool.shutdown(wait=False, cancel_futures=True)
        raise
    pool.shutdown()
    if errors:
        if len(errors) == 1:
            raise errors[0][1]
        summary = "; ".join(
            f"job[{i}]: {type(e).__name__}: {e}" for i, e in errors
        )
        raise RuntimeError(
            f"{len(errors)}/{len(jobs)} pooled jobs failed — {summary}"
        ) from errors[0][1]
    return results
