"""Dead-letter sink (SURVEY.md §2 row 10).

The reference accumulates ``{ID: error}`` for failed asset downloads into
``wp_failed.json`` (assets.js:24,88,100,114,214), clears an entry on later
success, and re-drives failures via the ID-file path (README.md:57-62).

Here the DLQ is a DataFrame of (id, error); the JSON file keeps the
reference's ``{id: error}`` shape, and ``read_dlq_ids`` closes the loop by
turning run N's failures into run N+1's ID input.
"""

from __future__ import annotations

import json
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .keyed_json import read_json_doc, write_json_doc


def write_dlq(failures: DataFrame, path: str, *, succeeded: Iterable[str] = ()) -> dict:
    """Merge this run's ``(id, error)`` failures into the DLQ file, mirroring
    the reference's behavior exactly (assets.js:24,133-137): existing
    entries are PRELOADED and kept, an id in ``succeeded`` (the keys this
    run already wrote) is cleared, a failure (re)writes its entry. Untouched
    failures from prior runs survive — overwriting would silently orphan
    them. One ``collect``; returns this run's failures ``{id: error}``."""
    doc = read_json_doc(path)
    for k in succeeded:
        doc.pop(k, None)
    failed = {
        r["k"]: r["v"]
        for r in failures.select(
            F.col("id").cast("string").alias("k"), F.col("error").cast("string").alias("v")
        ).collect()
    }
    doc.update(failed)
    write_json_doc(path, dict(sorted(doc.items())))
    return failed


def read_dlq_ids(spark: SparkSession, path: str, *, col_name: str = "id") -> DataFrame:
    """DLQ file -> one-column id DataFrame (the resume-by-ID input)."""
    with open(path) as f:
        doc = json.load(f)
    ids = [(int(k),) for k in doc]
    return spark.createDataFrame(ids or [], schema=f"{col_name} long")
