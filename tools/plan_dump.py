"""Dump ``.explain("formatted")`` for catalog queries to files.

Usage: python tools/plan_dump.py <out_dir> <suffix> [sf_dir] [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each selected query (default:
all).  Queries that execute work inside their constructor (the persisted-
lifecycle family builds state under /tmp and localizes the result) still
produce a plan for their RETURNED frame; for those the interesting plans are
the internal steps, quoted in OPTIMIZATION_r12.md — the file notes this.

The capture runs on the same session config as bench.py so plan shapes
(AQE, broadcast thresholds, shuffle partitions) match what the bench times.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# queries whose constructor executes state-lifecycle work internally and
# returns a localized (createDataFrame) result: explain on the returned
# frame shows only the localized scan, so we annotate rather than mislead
_SELF_EXECUTING = {
    "q150_bpe_merges",
    "q224_ivf_persisted_lifecycle",
    "q242_bm25_persisted_layout",
    "q244_daily_ingest_lifecycle",
    "q245_daily_erase_lifecycle",
    "q246_compacted_ingest_bm25",
}


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])

    from streaming_feature_store_spark.plans.queries import QUERIES
    from streaming_feature_store_spark.session import get_spark

    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)

    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001 — capture failure per query
            text = f"PLAN CAPTURE FAILED: {e}\n"
        header = ""
        if name in _SELF_EXECUTING:
            header = (
                "NOTE: this query executes its state lifecycle inside the\n"
                "constructor and returns a LOCALIZED result; the plan below\n"
                "is the returned frame only. Internal step plans are quoted\n"
                "in OPTIMIZATION_r12.md.\n\n"
            )
        with open(path, "w") as f:
            f.write(header + text)
        print(f"wrote {path}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
