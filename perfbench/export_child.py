"""Traced export: runs the CLI's ``main`` in this process with spans
around the calls it makes, then writes the spans as JSON.

    python3 perfbench/export_child.py SPANS_JSON export --config CFG [--ids-file IDS]

Wrapped are the names the program resolves at call time: in
``plans.pipeline`` the ``export_*`` stages, ``run_export`` and the sinks it
imported by name (``_write_entries``, ``write_master_mapping``,
``write_dlq``); in ``plans.wordpress`` the builders and
``read_site_options``; ``session.get_spark``; and the ``count()`` the CLI
calls on each returned module DataFrame. ``DataFrame.collect`` adds its
row count to the innermost open span, and a sink span adds the size of the
file it wrote.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark import __main__ as cli  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark import session  # noqa: E402
from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline, wordpress  # noqa: E402


def install(tracer: Tracer) -> None:
    def got_session(sp, args, kwargs, spark):
        tracer.sc = spark.sparkContext
        cls = type(spark.range(0))  # the session's concrete DataFrame class
        collect = cls.collect

        def counting_collect(self):
            rows = collect(self)
            if tracer.current() is not None:
                tracer.current()["rows"] += len(rows)
            return rows

        cls.collect = counting_collect

    def wrote(path_arg: int):
        def after(sp, args, kwargs, result):
            path = args[path_arg] if len(args) > path_arg else kwargs["path"]
            sp["bytes"] += os.path.getsize(path)
        return after

    def counted(sp, args, kwargs, results):
        for mod, df in results.items():
            tracer.wrap(df, "count", f"cli.count.{mod}")

    tracer.wrap(session, "get_spark", "session.get_spark", after=got_session)
    tracer.wrap(pipeline, "run_export", "plans.pipeline.run_export", after=counted)
    for m in pipeline.MODULES:
        tracer.wrap(pipeline, f"export_{m}", f"plans.pipeline.export_{m}")
    tracer.wrap(pipeline, "_write_entries", "sinks.keyed_json.entries", after=wrote(3))
    tracer.wrap(pipeline, "write_master_mapping", "sinks.keyed_json.master",
                after=wrote(2))
    tracer.wrap(pipeline, "write_dlq", "sinks.dlq.write", after=wrote(1))
    for name in ("read_site_options", "build_posts", "build_authors", "build_categories",
                 "build_attachments"):
        tracer.wrap(wordpress, name, f"plans.wordpress.{name}")


def main() -> int:
    out, argv = sys.argv[1], sys.argv[2:]
    tracer = Tracer()
    install(tracer)
    rc = cli.main(argv)
    tracer.resolve()
    tracer.dump(out)
    return rc


if __name__ == "__main__":
    sys.exit(main())
