"""Golden end-to-end test of the WordPress export pipeline: all four
modules over the FIXTURES.md family-A tables, outputs checked against the
reference's observable file shapes (SURVEY.md §5.2), plus the asset
retry/DLQ/resume loop and schema validation."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.plans import pipeline as pl
from wordpress_sql_to_contentstack_exporter_spark.plans import validate as val
from wordpress_sql_to_contentstack_exporter_spark.sinks.dlq import read_dlq_ids


def make_fake_fetch():
    # Nested so cloudpickle ships it by value (test modules aren't
    # importable on Spark workers).
    def fake_fetch(url: str, timeout: float) -> bytes:
        if "fail" in url:
            raise RuntimeError("status code: 500")
        return b"PNGDATA:" + url.encode()

    return fake_fetch


fake_fetch = make_fake_fetch()


def read(path):
    with open(path) as f:
        return json.load(f)


def test_full_export(spark, wp_catalog, tmp_path):
    data = str(tmp_path / "data")
    out = pl.run_export(wp_catalog, data, fetch=fake_fetch)
    assert set(out) == {"assets", "authors", "categories", "posts"}

    # --- posts entries (posts.js:150-158 field-for-field)
    posts = read(f"{data}/entries/posts/en-us.json")
    assert set(posts) == {"10", "11"}  # publish-only; page/draft/attachments excluded
    p10 = posts["10"]
    assert p10["title"] == "Hello & World"
    assert p10["url"] == "/2018/12/hello-world/"
    assert p10["author"] == ["alice"]
    assert p10["date"] == "2018-12-17T07:36:08.594Z"
    assert p10["guid"] == "/blog/?p=10"
    assert p10["full_description"] == "<p>hi</p>"
    assert p10["uid"] == 10
    assert sorted(p10["category"]) == ["news", "tech-sci"]
    assert p10["featured_image"] == "20"
    p11 = posts["11"]
    assert p11["author"] == []  # dangling author: fixed vs reference crash
    assert p11["category"] == ["Sub-News"]
    assert "featured_image" not in p11 or p11["featured_image"] is None

    # --- posts master: {"en-us": {uid: ""}}
    master = read(f"{data}/master/entries/posts.json")
    assert master == {"en-us": {"10": "", "11": ""}}

    # --- authors (authors.js:51; EAV inner-join drop of bob)
    authors = read(f"{data}/entries/authors/en-us.json")
    assert set(authors) == {"alice", "carol"}
    assert authors["alice"] == {
        "ID": 1,
        "title": "alice",
        "url": "/author/alice",
        "email": "alice@example.com",
        "first_name": "Alice",
        "last_name": "Liddell",
        "biographical_info": "writes things",
        "uid": "alice",
    }

    # --- categories (categories.js:45-73): decode, parent [""]/[slug]
    cats = read(f"{data}/entries/categories/en-us.json")
    assert set(cats) == {"tech-sci", "news", "Sub-News"}
    assert cats["tech-sci"]["title"] == "Tech & Sci"
    assert cats["tech-sci"]["description"] == "desc & more"
    assert cats["tech-sci"]["parent"] == [""]
    assert cats["Sub-News"]["parent"] == ["news"]
    assert cats["Sub-News"]["url"] == "/category/sub-news"

    # --- assets: download results, keyed entries, mappings, DLQ
    asset_rows = {r["id"]: r for r in out["assets"].collect()}
    assert asset_rows[20]["status"] == "downloaded"
    assert asset_rows[21]["status"] == "failed"
    # filename is derived from the raw guid BEFORE encodeURI (assets.js:74-77)
    with open(f"{data}/assets/20/img one.png", "rb") as f:
        assert f.read().startswith(b"PNGDATA:")
    entries = read(f"{data}/assets/wp_assets.json")
    assert entries["20"]["filename"] == "img one.png"
    assert entries["20"]["url"].endswith("img%20one.png")  # encodeURI applied
    assert entries["20"]["status"] is True
    assert "21" not in entries
    dlq = read(f"{data}/master/wp_failed.json")
    assert set(dlq) == {"21"} and "500" in dlq["21"]
    urlmap = read(f"{data}/master/wp_urls.json")
    assert any(u.endswith("img%20one.png") for u in urlmap)

    # --- resume loop: DLQ ids -> re-export only the failed asset
    ids = read_dlq_ids(spark, f"{data}/master/wp_failed.json")
    assert [r["id"] for r in ids.collect()] == [21]
    rerun = pl.run_export(wp_catalog, data, modules=["assets"], ids=ids, fetch=fake_fetch)
    rr = {r["id"]: r["status"] for r in rerun["assets"].collect()}
    assert rr == {21: "failed"}  # still failing origin stays in DLQ

    # --- idempotent skip: second full asset run skips existing files
    rerun2 = pl.run_export(wp_catalog, data, modules=["assets"], fetch=fake_fetch)
    rr2 = {r["id"]: r["status"] for r in rerun2["assets"].collect()}
    assert rr2[20] == "skipped"


def test_failed_asset_write_is_downloaded_next_run(wp_catalog, tmp_path):
    """A write that dies after the target is opened must leave no file:
    the next run's skip-if-exists check would report a partial file as
    ``skipped`` and clear its DLQ entry. Run 1's fetch returns ``str``,
    so the binary write raises; run 2 downloads the real bytes."""
    data = str(tmp_path / "data")

    def str_fetch(url: str, timeout: float):
        return "not bytes"

    first = {r["id"]: r["status"] for r in pl.export_assets(
        wp_catalog, data, fetch=str_fetch).collect()}
    assert first[20] == "failed"
    assert "20" in read(f"{data}/master/wp_failed.json")

    second = {r["id"]: r for r in pl.export_assets(
        wp_catalog, data, fetch=fake_fetch).collect()}
    assert second[20]["status"] == "downloaded"
    with open(f"{data}/assets/20/img one.png", "rb") as f:
        assert f.read() == b"PNGDATA:" + second[20]["url"].encode()
    assert "20" not in read(f"{data}/master/wp_failed.json")
    assert not [p for p in (tmp_path / "data").rglob("*") if p.name.endswith(".tmp")]


def test_posts_clean_description_projection(wp_catalog):
    """build_posts(clean_description=True) bridges the export plane to
    the text-analysis plane (VERDICT r8 #6): the HTML full_description
    is carried verbatim (reference parity, posts.js:151) AND a
    html_to_text projection rides alongside. Default-off keeps the
    golden output schema byte-identical to the reference's."""
    from wordpress_sql_to_contentstack_exporter_spark.plans import wordpress as wp

    site = wp.read_site_options(wp_catalog)
    clean = wp.build_posts(wp_catalog, site, clean_description=True)
    rows = {r["key"]: r["entry"].asDict() for r in clean.collect()}
    assert rows[10]["full_description"] == "<p>hi</p>"  # verbatim kept
    assert rows[10]["clean_description"] == "hi"
    # default off: no schema drift for the reference-parity path
    plain = wp.build_posts(wp_catalog, site)
    assert "clean_description" not in plain.schema["entry"].dataType.names


def test_single_module_computes_upstream_on_demand(wp_catalog, tmp_path):
    """posts-only run must still resolve featured images (no reliance on a
    prior assets run's files — fix of SURVEY.md §3.2)."""
    data = str(tmp_path / "solo")
    out = pl.run_export(wp_catalog, data, modules=["posts"])
    entries = read(f"{data}/entries/posts/en-us.json")
    assert entries["10"]["featured_image"] == "20"
    assert set(out) == {"posts"}


def test_validation_pass(wp_catalog):
    site = __import__(
        "wordpress_sql_to_contentstack_exporter_spark.plans.wordpress", fromlist=["wordpress"]
    )
    s = site.read_site_options(wp_catalog)
    posts = site.build_posts(wp_catalog, s).select("entry.*")
    assert val.POSTS_TYPE.mandatory_violations(posts).count() == 0
    assert val.POSTS_TYPE.unique_violations(posts).count() == 0


def test_unknown_module_rejected(wp_catalog, tmp_path):
    with pytest.raises(ValueError, match="unknown modules"):
        pl.run_export(wp_catalog, str(tmp_path), modules=["nope"])


def test_posts_plan_no_forced_broadcast_on_fact_sides(spark, wp_catalog):
    """Scale regression (VERDICT r1 #2): build_post_categories and
    build_featured_image_map are post-cardinality — the plan must NOT force
    a broadcast on them. With autoBroadcastJoinThreshold=-1 (so Catalyst
    can't pick broadcast on size), only the hinted users dim may broadcast;
    the two fact-side joins must fall back to a shuffle join."""
    import io
    from contextlib import redirect_stdout

    from wordpress_sql_to_contentstack_exporter_spark.plans import wordpress as wp

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        site = wp.read_site_options(wp_catalog)
        df = wp.build_posts(wp_catalog, site)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    import re

    # exactly one broadcast node: the hinted users dimension
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan
    # the two unhinted post-cardinality LEFT joins go shuffle (SMJ or SHJ)
    fact_joins = re.findall(r"(SortMergeJoin|ShuffledHashJoin) LeftOuter", plan)
    assert len(fact_joins) == 2, plan


def jobs_in_group(sc, group):
    """Job ids of a job group, once the status store has seen every event."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def clear_job_group(sc):
    for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
        sc.setLocalProperty(key, None)


@pytest.mark.parametrize("kind", ["jdbc", "parquet"])
def test_full_export_via_jdbc_catalog_matches_parquet_path(spark, wp_catalog, tmp_path, kind):
    """End-to-end run from a configured source, full four-module export,
    outputs compared file-for-file against the in-memory-catalog golden
    path. ``kind='jdbc'``: every WP table served by embedded Derby with its
    own PK partition column (config.WP_PARTITION_COLUMNS), mirroring the
    reference's MySQL-backed run (helper.js:43-51, config/index.json:28-33)
    on the one JDBC engine in the container. ``kind='parquet'``: the
    ``wp_*.parquet`` directory the CLI reads, whose loader infers each
    table's schema once."""
    import os

    from wordpress_sql_to_contentstack_exporter_spark.config import (
        ExportConfig,
        SourceConfig,
        WP_TABLES,
        build_catalog,
    )
    from wordpress_sql_to_contentstack_exporter_spark.sources.derby import (
        ensure_derby_varchar_dialect,
    )

    if kind == "jdbc":
        url = f"jdbc:derby:{tmp_path}/wpfull;create=true"
        props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
        # StringType -> VARCHAR (Spark's stock Derby dialect would CLOB every
        # string column: NULL-string writes die with ERROR 22005 and string
        # predicates can't push). The engine registers this itself on the
        # read side; the fixture WRITE below needs it too, so register up front.
        ensure_derby_varchar_dialect(spark)

        # The fixture frames lack the surrogate PKs real WP tables carry; add
        # them so per-table partition columns resolve (extra cols are ignored
        # by the modules' explicit projections).
        extra_pk = {"usermeta": "umeta_id", "postmeta": "meta_id", "options": "option_id"}
        for name in WP_TABLES:
            df = wp_catalog.table(name)
            if name in extra_pk:
                df = df.withColumn(
                    extra_pk[name], F.monotonically_increasing_id() + F.lit(1)
                )
            (
                df.write.format("jdbc")
                .option("url", url)
                .option("dbtable", f"wp_{name}")
                .option("driver", props["driver"])
                .save()
            )

        cfg = ExportConfig(
            source=SourceConfig(
                kind="jdbc", jdbc_url=url, jdbc_properties=props, num_partitions=2
            )
        )
        cat = build_catalog(spark, cfg)
        # per-PK partitioned reads actually happened
        assert cat.table("posts").rdd.getNumPartitions() == 2
        # postmeta's fixture has ONE row: the meta_id bounds query succeeds
        # (wrong-PK-name would error) but MIN==MAX collapses the range to a
        # single partition — Spark's documented JDBC partitioning behavior.
        assert cat.table("postmeta").rdd.getNumPartitions() == 1
        assert cat.table("term_relationships").rdd.getNumPartitions() == 1  # composite PK
    else:
        src = str(tmp_path / "src")
        for name in WP_TABLES:
            wp_catalog.table(name).write.parquet(f"{src}/wp_{name}.parquet")
        cat = build_catalog(spark, ExportConfig(source=SourceConfig(kind="parquet", path=src)))
        sc = spark.sparkContext
        group = f"catalog-{tmp_path.name}"
        sc.setJobGroup(group, "parquet schema inference")
        try:
            cat.table("posts")
            first = jobs_in_group(sc, group)
            again = cat.table("posts")
            assert first  # the first load infers the schema with a Spark job
            assert jobs_in_group(sc, group) == first
        finally:
            clear_job_group(sc)
        assert again.schema == spark.read.parquet(f"{src}/wp_posts.parquet").schema

    gold_dir = str(tmp_path / "gold")
    out_dir = str(tmp_path / kind)
    pl.run_export(wp_catalog, gold_dir, fetch=fake_fetch)
    pl.run_export(cat, out_dir, fetch=fake_fetch)

    def tree(root):
        files = {}
        for dirpath, _, names in os.walk(root):
            for n in names:
                p = os.path.join(dirpath, n)
                rel = os.path.relpath(p, root)
                with open(p, "rb") as f:
                    files[rel] = f.read()
        return files

    gold, via_source = tree(gold_dir), tree(out_dir)
    assert set(gold) == set(via_source)
    for rel in gold:
        if rel.endswith(".json"):
            assert json.loads(via_source[rel]) == json.loads(gold[rel]), rel
        else:
            assert via_source[rel] == gold[rel], rel


def test_one_spark_action_per_export_module(spark, wp_catalog, tmp_path, monkeypatch):
    """Entries, master, DLQ and the logged row count of a module come from
    one materialization: the sink collects each content module's plan
    once, the master writer runs no Spark action, assets collect at most
    twice after the download checkpoint, and the CLI counts nothing."""
    import logging

    from wordpress_sql_to_contentstack_exporter_spark import config
    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main
    from wordpress_sql_to_contentstack_exporter_spark.logging_utils import get_logger

    calls = []
    phase = ["builder"]
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    for name in ("collect", "count", "toLocalIterator", "localCheckpoint"):
        def spy(self, *args, _orig=getattr(cls, name), _name=name, **kwargs):
            calls.append((phase[-1], _name))
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, spy)
    for name in ("_write_entries", "write_master_mapping", "write_dlq"):
        def in_phase(*args, _fn=getattr(pl, name), _name=name, **kwargs):
            phase.append(_name)
            try:
                return _fn(*args, **kwargs)
            finally:
                phase.pop()

        monkeypatch.setattr(pl, name, in_phase)
    records = []
    handler = logging.Handler()
    handler.emit = records.append
    get_logger().addHandler(handler)
    try:
        data = str(tmp_path / "data")
        for m in ("posts", "authors", "categories"):
            calls.clear()
            getattr(pl, f"export_{m}")(wp_catalog, data)
            sink_calls = [c for c in calls if c[0] != "builder"]
            assert sink_calls == [("_write_entries", "collect")], m

        calls.clear()
        pl.export_assets(wp_catalog, data, fetch=fake_fetch)
        after = calls[calls.index(("builder", "localCheckpoint")) + 1:]
        assert [n for _, n in after] == ["collect", "collect"]
        assert not any(p == "write_master_mapping" for p, _ in calls)

        cfg_path = tmp_path / "cfg.json"
        cfg_path.write_text(json.dumps({"data_dir": str(tmp_path / "cli")}))
        monkeypatch.setattr(config, "build_catalog", lambda spark, cfg: wp_catalog)
        calls.clear()
        assert main(["export", "--config", str(cfg_path), "--module", "posts"]) == 0
        assert not any(n == "count" for _, n in calls)
    finally:
        get_logger().removeHandler(handler)
    rows = {r.getMessage(): r.metrics["rows"] for r in records if hasattr(r, "metrics")}
    assert rows == {
        "exported module posts": 2,
        "exported module authors": 2,
        "exported module categories": 3,
        "exported module assets": 2,  # one downloaded, one dead-lettered
    }


def make_waiting_fetch(data_dir: str, deadline_s: float = 30.0):
    """A fetch that returns only once the posts entries document exists,
    so an asset is downloaded only if posts finish while the download is
    still running. Nested so cloudpickle ships it by value."""
    def waiting_fetch(url: str, timeout: float) -> bytes:
        import os
        import time

        target = os.path.join(data_dir, "entries", "posts", "en-us.json")
        give_up = time.monotonic() + deadline_s
        while not os.path.exists(target):
            if time.monotonic() > give_up:
                raise TimeoutError(f"{target} not written within {deadline_s} s")
            time.sleep(0.05)
        if "fail" in url:
            raise RuntimeError("status code: 500")
        return b"PNGDATA:" + url.encode()

    return waiting_fetch


def test_modules_run_concurrently(wp_catalog, tmp_path):
    """The download overlaps the content modules: its fetch waits for the
    posts document, which a serial assets-first order writes only after
    the download has given up and dead-lettered the asset."""
    data = str(tmp_path / "data")
    out = pl.run_export(
        wp_catalog, data, fetch=make_waiting_fetch(data),
        asset_parallelism=1, http_retries=0,
    )
    status = {r["id"]: r["status"] for r in out["assets"].collect()}
    assert status == {20: "downloaded", 21: "failed"}
    assert set(read(f"{data}/assets/wp_assets.json")) == {"20"}
    assert set(read(f"{data}/master/wp_failed.json")) == {"21"}


def test_failed_module_raises_after_the_others_finish(wp_catalog, tmp_path, monkeypatch):
    """A failing module's error reaches the caller and the CLI, but only
    once every other module has written its documents and no export
    thread is left running."""
    import threading

    from wordpress_sql_to_contentstack_exporter_spark import config
    from wordpress_sql_to_contentstack_exporter_spark.__main__ import main

    class Boom(RuntimeError):
        pass

    def broken(*args, **kwargs):
        raise Boom("categories failed")

    monkeypatch.setattr(pl, "export_categories", broken)
    data = str(tmp_path / "data")
    threads = threading.active_count()
    with pytest.raises(Boom):
        pl.run_export(wp_catalog, data, fetch=fake_fetch)
    assert threading.active_count() == threads
    assert set(read(f"{data}/entries/posts/en-us.json")) == {"10", "11"}
    assert read(f"{data}/master/entries/posts.json") == {"en-us": {"10": "", "11": ""}}
    assert set(read(f"{data}/entries/authors/en-us.json")) == {"alice", "carol"}
    assert set(read(f"{data}/master/entries/authors.json")["en-us"]) == {"alice", "carol"}
    assert set(read(f"{data}/assets/wp_assets.json")) == {"20"}
    assert set(read(f"{data}/master/wp_failed.json")) == {"21"}
    assert not (tmp_path / "data" / "entries" / "categories").exists()

    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps({"data_dir": str(tmp_path / "cli")}))
    monkeypatch.setattr(config, "build_catalog", lambda spark, cfg: wp_catalog)
    with pytest.raises(Boom):
        main(["export", "--config", str(cfg_path), "--module", "categories"])


def test_parquet_loader_infers_schema_once_under_concurrent_loads(spark, tmp_path):
    """Eight threads (more than the session's cores) make the first load of
    one parquet table at once: exactly one schema-inference job runs, and
    every thread still gets its own complete DataFrame."""
    import sys
    import threading

    from wordpress_sql_to_contentstack_exporter_spark.sources.catalog import parquet_table

    path = str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(path)
    load = parquet_table(path)
    sc = spark.sparkContext
    group = f"infer-{tmp_path.name}"
    start = threading.Barrier(8)
    frames, errors = [], []

    def first_load():
        sc.setJobGroup(group, "concurrent first loads")
        try:
            start.wait(timeout=30)
            frames.append(load(spark))
        except Exception as e:  # noqa: BLE001 — reported by the assertion below
            errors.append(e)
        finally:
            clear_job_group(sc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=first_load) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(jobs_in_group(sc, group)) == 1
    assert len({id(f) for f in frames}) == 8
    assert all(f.count() == 10 for f in frames)
