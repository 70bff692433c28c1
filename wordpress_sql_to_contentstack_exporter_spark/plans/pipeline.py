"""Module DAG + export orchestration (SURVEY.md §2.g rows 42-46, §3).

The reference runs ``sequence([assets, authors, categories, posts])``
(app.js:9,39) with the cross-module dependency assets->posts carried via
the ``_featured.json`` side file. Here the DAG is explicit: stages are
functions over a Catalog; posts consume the featured-image *DataFrame*
directly, so single-module runs materialize their upstream dependencies on
demand instead of trusting a previous run's files (fix of SURVEY.md §3.2).

The selected modules run concurrently, one thread each, on the one
SparkSession. That is safe because they are independent: no module reads
another's output (posts take the featured image from ``postmeta``, not from
the download result; ``REFERENCE_GRAPH`` has no edge into or out of
assets), and each writes only its own documents and directories. It is
faster because the download's tasks hold ``asset_parallelism`` slots while
they wait on HTTP, and the content modules' driver-side planning and jobs
use that time and the remaining slots instead of queueing behind it.

Output layout mirrors config/index.json:5-27:

    <data>/assets/<ID>/<filename>         downloaded binaries
    <data>/assets/wp_assets.json          asset entries (keyed by ID)
    <data>/entries/{posts,authors,categories}/en-us.json
    <data>/master/entries/{posts,authors,categories}.json  {"en-us": {uid: ""}}
    <data>/master/wp_assets.json          {uid: ""}
    <data>/master/wp_urls.json            {url: ""}   (masterfile of assets)
    <data>/master/wp_failed.json          DLQ {id: error}

Each module runs ONE Spark action for its documents: the keyed entries
document is assembled on the driver from one ``collect`` of rendered
entries, and the master mapping, the DLQ clearing and the module's logged
row count are all derived from what that collect returned (assets add one
more collect, of the failures, for the DLQ). Entries, master and DLQ thus
come from a single materialization and cannot disagree. These documents
are human-scale; fact-scale output is line-oriented ``df.write.json``.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..logging_utils import get_logger
from ..sinks.dlq import write_dlq
from ..sinks.keyed_json import write_keyed_json as _write_entries
from ..sinks.keyed_json import write_master_mapping
from ..sources.catalog import Catalog
from ..sources.http import download_assets
from . import wordpress as wp

MODULES = ["assets", "authors", "categories", "posts"]  # app.js:9 order

#: Reference graph between content types (contenttypes/__master.json:13-40):
#: posts reference authors and categories; categories self-reference (cycle).
REFERENCE_GRAPH: dict[str, list[str]] = {
    "authors": [],
    "categories": ["categories"],  # parent self-reference, isCycle=true
    "posts": ["authors", "categories"],
}


def topo_order(graph: dict[str, list[str]] | None = None) -> list[str]:
    """Topological load order of content types — recomputes the
    reference's hand-written ``__priority.json`` (["authors",
    "categories", "posts"]) from the reference graph. Self-cycles
    (categories.parent) are ignored: a type may depend on already-loaded
    rows of itself. Deterministic: ties resolve alphabetically."""
    g = graph if graph is not None else REFERENCE_GRAPH
    deps = {n: {d for d in ds if d != n and d in g} for n, ds in g.items()}
    out: list[str] = []
    while deps:
        ready = sorted(n for n, ds in deps.items() if not ds)
        if not ready:
            raise ValueError(f"cycle among {sorted(deps)}")
        out.extend(ready)
        for n in ready:
            del deps[n]
        for ds in deps.values():
            ds.difference_update(ready)
    return out


def _log_rows(module: str, rows: int) -> None:
    get_logger().info("exported module %s", module, extra={"metrics": {"rows": rows}})


def _export_entries(
    module: str, df: DataFrame, data_dir: str, partial: bool, locale: str
) -> DataFrame:
    """Entries and master mapping of one content module from ONE collect of
    ``df``'s (key, entry) rows. Full runs rewrite both documents; ids-subset
    runs merge into them (the reference read-modify-writes every page —
    clobbering on a resume/DLQ re-drive would destroy all other entries)."""
    # keep only the keys: the parsed entries are freed before the master write
    keys = list(_write_entries(
        df, F.col("key"), F.col("entry"),
        f"{data_dir}/entries/{module}/{locale}.json", merge=partial,
    ))
    write_master_mapping(
        keys, path=f"{data_dir}/master/entries/{module}.json", locale=locale, merge=partial
    )
    _log_rows(module, len(keys))
    return df


def export_posts(
    cat: Catalog, data_dir: str, ids: DataFrame | None = None, *, locale: str = "en-us"
) -> DataFrame:
    df = wp.build_posts(cat, wp.read_site_options(cat), ids)
    return _export_entries("posts", df, data_dir, ids is not None, locale)


def export_authors(
    cat: Catalog, data_dir: str, ids: DataFrame | None = None, *, locale: str = "en-us"
) -> DataFrame:
    return _export_entries("authors", wp.build_authors(cat, ids), data_dir, ids is not None, locale)


def export_categories(
    cat: Catalog, data_dir: str, ids: DataFrame | None = None, *, locale: str = "en-us"
) -> DataFrame:
    return _export_entries(
        "categories", wp.build_categories(cat, ids), data_dir, ids is not None, locale
    )


def export_assets(
    cat: Catalog,
    data_dir: str,
    ids: DataFrame | None = None,
    *,
    fetch: Optional[Callable] = None,
    parallelism: int = 2,
    timeout: float = 60.0,
    retries: int = 1,
) -> DataFrame:
    """Download attachments, write asset entries + mappings + DLQ
    (assets.js:70-140,214). Returns the download-result DataFrame."""
    atts = wp.build_attachments(cat, ids)
    # Eager localCheckpoint: the download is a side-effecting computation —
    # materialize its results exactly once (cache() would be lazy AND can
    # collide with a previous run's identical logical plan).
    results = download_assets(
        atts,
        f"{data_dir}/assets",
        fetch=fetch,
        parallelism=parallelism,
        timeout=timeout,
        retries=retries,
    ).localCheckpoint(eager=True)

    partial = ids is not None
    entry = F.struct(
        F.col("id").alias("uid"),
        F.col("filename"),
        F.col("url"),
        F.lit(True).alias("status"),
    )
    # one collect of the successes feeds the entries, both mappings and the
    # DLQ clearing; the failures are the only other collect
    entries = _write_entries(
        results.filter(F.col("status") != "failed"), F.col("id"), entry,
        f"{data_dir}/assets/wp_assets.json", merge=partial,
    )
    write_master_mapping(
        entries, path=f"{data_dir}/master/wp_assets.json", locale=None, merge=partial
    )
    write_master_mapping(
        (e["url"] for e in entries.values()),
        path=f"{data_dir}/master/wp_urls.json", locale=None, merge=partial,
    )
    # DLQ always merges (reference preloads wp_failed.json): successes
    # clear their entries, untouched prior failures survive
    failed = write_dlq(
        results.filter(F.col("status") == "failed"),
        f"{data_dir}/master/wp_failed.json", succeeded=entries,
    )
    _log_rows("assets", len(entries) + len(failed))
    return results


def run_export(
    cat: Catalog,
    data_dir: str,
    *,
    modules: list[str] | None = None,
    ids: DataFrame | None = None,
    fetch: Optional[Callable] = None,
    locale: str = "en-us",
    asset_parallelism: int = 2,
    http_timeout_s: float = 60.0,
    http_retries: int = 1,
) -> dict[str, DataFrame]:
    """The ``npm run export [module] [ids-file]`` surface (app.js:11-39).

    ``modules=None`` runs all four; a subset runs just those (upstream deps
    are computed on demand, not read from prior runs). ``ids`` narrows
    every selected module — the resume path. The selected modules run
    concurrently, one thread each (see the module docstring for why that
    is safe), and the result is ``{module: DataFrame}`` in ``MODULES``
    order. If modules fail, the exception of the first failing one in
    ``MODULES`` order is raised, after every module has finished, so no
    export thread outlives the call. Spark local properties the caller
    set (job group, scheduler pool) are per thread and do not reach the
    module threads.
    The locale / HTTP knobs mirror ExportConfig (the reference's
    ``guard.n(2)`` / 60 s / 1-retry constants) and are threaded through
    here — config values must never be silently ignored.
    """
    selected = modules or MODULES
    unknown = set(selected) - set(MODULES)
    if unknown:
        raise ValueError(f"unknown modules: {sorted(unknown)} (valid: {MODULES})")
    # names resolve at call time, so a wrapped or patched export_* is the one run
    exports: dict[str, Callable[[], DataFrame]] = {
        "assets": lambda: export_assets(
            cat, data_dir, ids, fetch=fetch, parallelism=asset_parallelism,
            timeout=http_timeout_s, retries=http_retries,
        ),
        "authors": lambda: export_authors(cat, data_dir, ids, locale=locale),
        "categories": lambda: export_categories(cat, data_dir, ids, locale=locale),
        "posts": lambda: export_posts(cat, data_dir, ids, locale=locale),
    }
    chosen = [m for m in MODULES if m in selected]
    # leaving the block joins every thread, so a failure is raised only once
    # all modules have finished
    with ThreadPoolExecutor(max_workers=len(chosen), thread_name_prefix="export") as pool:
        futures = {m: pool.submit(exports[m]) for m in chosen}
    return {m: f.result() for m, f in futures.items()}
