"""Keyed-JSON document sinks.

The reference's output format (SURVEY.md §2 rows 7-8): one JSON object per
module keyed by entry uid — ``{"16": {...}, "18": {...}}`` (posts.js:150-162)
— plus master/locale mapping files ``{"en-us": {"16": ""}}`` (posts.js:159)
and flat mapping files ``{uid: ""}`` / ``{url: ""}`` (assets.js:133-134).

A keyed document is one JSON object, so it is assembled on the driver from
ONE ``collect`` of ``(key, to_json(value))``: the entries are computed and
rendered on executors, the driver only parses and re-keys them. The writer
returns the entries it wrote, so the module's master mapping, DLQ and row
count come from that same materialization — no second Spark action, and no
way for entries and master to disagree. These files are human-scale
(content entries, not fact data); fact-scale output is line-oriented
``df.write.json``, which never passes through the driver.

Every document is replaced atomically (``write_json_doc``): the new text is
rendered, written to a sibling temp file and moved over the old one with
``os.replace`` (``write_atomic``, which the asset downloader shares), so a
failed render or write leaves the prior document intact — the prior
entries a merge exists to protect.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def read_json_doc(path: str) -> dict:
    """The JSON object at ``path``; ``{}`` if the file is missing or blank."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        content = f.read().strip()
    return json.loads(content) if content else {}


def write_atomic(path: str, data: bytes) -> None:
    """Replace ``path`` with ``data``. The bytes go to a sibling temp file
    and are moved into place with ``os.replace``, so ``path`` is either the
    old file or the complete new one, never a partial write. The temp name
    is unique per call, so concurrent task attempts writing the same path
    cannot interleave; a failed write removes its temp file."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def write_json_doc(path: str, doc: dict) -> None:
    """Replace ``path`` with ``doc`` rendered at ``indent=4``. The old file
    stays untouched until the new one is complete (``write_atomic``)."""
    write_atomic(path, json.dumps(doc, indent=4).encode())


def write_keyed_json(
    df: DataFrame, key: Column, value: Column, path: str, *, merge: bool = False
) -> dict:
    """Write the keyed-JSON entries file (e.g. ``entries/posts/en-us.json``)
    from one ``collect`` and return this run's entries ``{key: entry}``.

    ``merge=True`` is the reference's read-modify-write (helper.js:15-28,
    posts.js:145-163): existing entries are kept, incoming keys overwrite —
    required for ids-subset runs, where overwriting would destroy all other
    entries. Keys are sorted for determinism (the reference's order is
    page arrival, nondeterministic under parallelism); under duplicate keys
    the last collected row wins."""
    rows = df.select(key.cast("string").alias("k"), F.to_json(value).alias("v")).collect()
    written = {r["k"]: json.loads(r["v"]) for r in rows}
    del rows
    doc = read_json_doc(path) if merge else {}
    doc.update(written)
    write_json_doc(path, dict(sorted(doc.items())))
    return written


def write_master_mapping(
    keys: Iterable[str],
    path: str,
    *,
    locale: str | None = "en-us",
    merge: bool = False,
) -> None:
    """Write a master/mapping file for the given (already written) keys:
    ``{locale: {uid: ""}}`` (posts.js:159) or, with ``locale=None``, the
    flat ``{uid: ""}`` shape (assets.js:133). Runs no Spark job.
    ``merge=True`` keeps existing keys (the reference read-modify-writes
    its master files) — required for ids-subset runs. A locale-shaped
    merge preserves OTHER locales' mappings in the document: a resume
    under locale B must not clobber locale A's section."""
    existing = read_json_doc(path) if merge else {}
    mapping = existing.get(locale, {}) if locale is not None else existing
    mapping.update(dict.fromkeys(keys, ""))
    mapping = dict(sorted(mapping.items()))
    write_json_doc(path, {**existing, locale: mapping} if locale is not None else mapping)
