"""Warm-session analytics: the headline registry queries, one at a time,
in one SparkSession.

    python3 perfbench/analytics_child.py SF_DIR SECONDS TRACE OUT_JSON

After the session starts, one untimed pass collects every query's result
and fingerprints it for the output check; it also pays each plan's
first-run compile. Timed passes then force each query with a ``noop``
write while another pass fits in SECONDS (at least four). With TRACE=1
every second pass is traced: spans around each registry callable (the
builder, including its eager sub-jobs) and its action, with the Spark
stages of both.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from measure import more_reps, vm_hwm_mb  # noqa: E402
from spans import Tracer  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark.plans.registry import (  # noqa: E402
    ORACLE_SQL,
    SPARK_QUERIES,
)
from wordpress_sql_to_contentstack_exporter_spark.session import get_spark  # noqa: E402

#: The headline set bench.py timed in every earlier perf round, pinned here
#: so the workload does not change when bench.py does. ``sessionize`` is
#: left out: it measures gaps between whole seconds (``unix_timestamp``)
#: where its DuckDB oracle uses fractional ``epoch()``, so a gap just over
#: 1800 s splits a session only in the oracle, and on many seeds its result
#: differs from the oracle. It comes back once the query is fixed.
HEADLINE = [
    "agg_stats", "top_revenue", "group_concat", "eav_pivot", "window_latest_event",
    "flagship_posts_export", "dedup_exact", "text_quality", "fingerprint",
    "minhash_neardup", "simhash_neardup", "ann_cosine_topk",
]

#: Passes keep getting faster for several passes while the JVM warms up,
#: so the median moves with the number of passes. Every run times at least
#: this many, and at ~9 s a pass no more fit in 36 s, so runs report the
#: same point on that curve.
MIN_PASSES = 4

#: The near-dup queries pair each document with a perturbed copy whose id
#: is this much larger.
PLANT_OFFSET = 1_000_000


def canon(value) -> str:
    """Order-insensitive canonical form, as the repository's oracle gate
    compares Spark and DuckDB rows."""
    if value is None:
        return "∅"
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return "0" if value == 0 else repr(round(value, 9))
    if isinstance(value, datetime.datetime):
        return value.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(value, list):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def fingerprint(cols: list[str], rows: list) -> dict:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return {"rows": len(rows), "cols": [cols[i] for i in order],
            "sha256": hashlib.sha256("\n".join(lines).encode()).hexdigest()}


def main() -> int:
    sf_dir, seconds, trace, out = sys.argv[1], float(sys.argv[2]), sys.argv[3] == "1", sys.argv[4]
    t0 = time.perf_counter()
    spark = get_spark("perfbench-analytics")
    session_s = time.perf_counter() - t0

    checks = {}
    t1 = time.perf_counter()
    for q in HEADLINE:
        df = SPARK_QUERIES[q](spark, sf_dir)
        rows = df.collect()
        checks[q] = fingerprint(df.columns, rows)
        if q not in ORACLE_SQL:
            checks[q]["planted_hits"] = len(
                {r["id_a"] for r in rows if r["id_b"] - r["id_a"] == PLANT_OFFSET})
    warmup_s = time.perf_counter() - t1
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")  # peak RSS from here on covers the timed passes only

    tracer = Tracer()
    tracer.sc = spark.sparkContext
    passes = []
    start = time.perf_counter()
    while more_reps(start, len(passes), seconds, MIN_PASSES):
        traced = trace and len(passes) % 2 == 1
        p0 = time.perf_counter()
        query_s = {}
        for q in HEADLINE:
            q0 = time.perf_counter()
            if traced:
                with tracer.span(q):
                    with tracer.span(f"{q}.build"):
                        df = SPARK_QUERIES[q](spark, sf_dir)
                    with tracer.span(f"{q}.action"):
                        df.write.format("noop").mode("overwrite").save()
            else:
                SPARK_QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
            query_s[q] = time.perf_counter() - q0
        passes.append({"wall_s": time.perf_counter() - p0, "traced": traced, "query_s": query_s})
    if trace:
        tracer.resolve()
    with open(out, "w") as f:
        json.dump({"session_s": session_s, "warmup_s": warmup_s, "passes": passes,
                   "checks": checks, "spans": tracer.spans, "rss_mb": vm_hwm_mb("self")}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
