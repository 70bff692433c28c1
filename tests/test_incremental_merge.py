"""Incremental keyed-JSON export: streaming micro-batches merge into the
document (reference read-modify-write semantics) + contenttype JSON parsing."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wordpress_sql_to_contentstack_exporter_spark.plans.validate import from_contenttype_json
from wordpress_sql_to_contentstack_exporter_spark.sinks import (
    keyed_json,
    write_dlq,
    write_keyed_json,
    write_master_mapping,
)
from wordpress_sql_to_contentstack_exporter_spark.streaming import incremental_export


def test_merge_keyed_json_overwrites_and_keeps(spark, tmp_path):
    path = str(tmp_path / "en-us.json")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_keyed_json(df1, F.col("id"), F.struct(F.col("v")), path, merge=True)
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    written = write_keyed_json(df2, F.col("id"), F.struct(F.col("v")), path, merge=True)
    assert written == {"2": {"v": "B"}, "3": {"v": "c"}}  # this run's entries only
    doc = json.loads(open(path).read())
    assert doc == {"1": {"v": "a"}, "2": {"v": "B"}, "3": {"v": "c"}}


def test_keyed_json_document_bytes(spark, tmp_path):
    """The document format: keys sorted as strings, ``indent=4``, ASCII
    escaping, null fields dropped; an empty frame writes ``{}``."""
    df = spark.createDataFrame([(10, 'v "q" é', None), (2, None, 4)], "id long, v string, n long")
    path = str(tmp_path / "doc.json")
    written = write_keyed_json(df, F.col("id"), F.struct("v", "n"), path)
    assert written == {"10": {"v": 'v "q" é'}, "2": {"n": 4}}
    assert open(path).read() == (
        '{\n    "10": {\n        "v": "v \\"q\\" \\u00e9"\n    },\n'
        '    "2": {\n        "n": 4\n    }\n}'
    )
    empty = spark.createDataFrame([], "id long, v string")
    assert write_keyed_json(empty, F.col("id"), F.struct("v"), path) == {}
    assert open(path).read() == "{}"


@pytest.mark.parametrize("sink", ["entries", "master", "dlq"])
def test_failed_render_keeps_prior_document(spark, tmp_path, monkeypatch, sink):
    """A merge that fails while rendering must leave the prior document
    byte-identical and no temp file behind: the prior entries are what
    the merge exists to protect."""
    path = str(tmp_path / "doc.json")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, error string")
    write = {
        "entries": lambda: write_keyed_json(
            rows, F.col("id"), F.struct("error"), path, merge=True
        ),
        "master": lambda: write_master_mapping(["1", "2"], path, merge=True),
        "dlq": lambda: write_dlq(rows, path, succeeded=["1"]),
    }[sink]
    write()
    before = open(path, "rb").read()
    assert json.loads(before)

    def boom(*args, **kwargs):
        raise RuntimeError("render failed")

    monkeypatch.setattr(keyed_json.json, "dumps", boom)
    with pytest.raises(RuntimeError, match="render failed"):
        write()
    assert open(path, "rb").read() == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["doc.json"]


def test_streaming_incremental_posts_merge(spark, tmp_path):
    """New post files arrive -> AvailableNow run merges only the new
    entries into the keyed document."""
    inp = tmp_path / "posts_in"
    ckpt = str(tmp_path / "ckpt")
    out_path = str(tmp_path / "en-us.json")

    schema = "ID long, post_title string"

    def batch_fn(df, batch_id):
        entry = F.struct(F.col("post_title").alias("title"), F.col("ID").alias("uid"))
        write_keyed_json(df, F.col("ID"), entry, out_path, merge=True)

    spark.createDataFrame([(1, "first")], schema).write.parquet(str(inp / "f1"))
    incremental_export(spark, f"{inp}/*", spark.createDataFrame([], schema).schema,
                       batch_fn, ckpt)
    assert json.loads(open(out_path).read()) == {"1": {"title": "first", "uid": 1}}

    spark.createDataFrame([(2, "second")], schema).write.parquet(str(inp / "f2"))
    incremental_export(spark, f"{inp}/*", spark.createDataFrame([], schema).schema,
                       batch_fn, ckpt)
    doc = json.loads(open(out_path).read())
    assert set(doc) == {"1", "2"}  # run 2 merged, not rewrote


def test_from_contenttype_json():
    doc = {
        "title": "Posts",
        "uid": "posts",
        "schema": [
            {"uid": "title", "data_type": "text", "mandatory": True, "unique": True},
            {"uid": "url", "data_type": "text", "mandatory": True},
            {"uid": "author", "data_type": "reference", "multiple": True},
            {
                "uid": "seo",
                "data_type": "group",
                "schema": [
                    {"uid": "meta_title", "data_type": "text", "mandatory": False}
                ],
            },
        ],
    }
    ct = from_contenttype_json(doc)
    by_name = {f.name: f for f in ct.fields}
    assert by_name["title"].mandatory and by_name["title"].unique
    assert by_name["author"].multiple
    assert "seo.meta_title" in by_name  # group flattened to dotted names


def test_posts_export_sharded_gate_consistent_with_flagship_and_writer(
    spark, tmp_path
):
    """The r15 gate's per-shard manifest must account for EXACTLY the
    flagship entries (sum of n_entries == flagship row count, ids
    cover the same range), and the bytes it checksums are the same
    rendered entries the keyed-JSON writer collects: writing the
    flagship through write_keyed_json produces a document whose entry
    count equals the flagship row count."""
    import json

    from wordpress_sql_to_contentstack_exporter_spark.plans.registry import SPARK_QUERIES

    sf = "/root/testdata/sf0.001"
    flag = SPARK_QUERIES["flagship_posts_export"](spark, sf)
    n_flag = flag.count()
    # the gate's documented contract excludes null-field entries
    # (to_json drops null struct fields; the oracle's concat cannot) —
    # at sf0.001 that is the 7 orders with no lineitems (null flags)
    renderable = flag.filter(
        F.col("author").isNotNull() & F.col("flags").isNotNull()
    )
    n_renderable = renderable.count()
    assert 0 < n_renderable < n_flag
    shards = SPARK_QUERIES["posts_export_sharded"](spark, sf).collect()
    assert sum(r["n_entries"] for r in shards) == n_renderable
    assert len(shards) == 8  # every shard populated at 507 entries
    assert min(r["min_id"] for r in shards) == renderable.agg(
        F.min("order_id")
    ).first()[0]
    # the keyed-JSON writer round-trips the same entry set
    path = str(tmp_path / "posts.json")
    written = write_keyed_json(
        flag,
        F.col("order_id"),
        F.struct("order_id", "author", "date_iso", "url", "flags"),
        path,
    )
    doc = json.loads(open(path).read())
    assert len(doc) == len(written) == n_flag
