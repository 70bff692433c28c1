"""Seeded synthetic WordPress site (FIXTURES.md family A) for the export
workloads.

``generate(seed, out_dir, origin_url, sizing)`` writes the eight
``wp_*.parquet`` tables the export CLI reads and returns a ``Site``: what a
correct export must produce (entry keys, the dead-letter set, asset
bodies) plus rows and bytes per table. The same seed, origin URL and
sizing give byte-identical tables; the origin URL is part of the input
because attachment guids are absolute URLs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SITEURL = "http://blog.example.com"
PERMALINK = "/%year%/%monthnum%/%postname%/"

_WORDS = (
    "spark query export entry author category asset media page draft post "
    "title slug content body header footer image video audio link menu tag "
    "theme plugin widget comment reply user admin editor shop cart order "
    "price stock brand review rating travel food music sport news tech "
    "science health garden recipe guide tips story event city market"
).split()


@dataclass
class Site:
    """Inputs written for one seed and the outputs a correct export gives."""

    tables: dict[str, dict] = field(default_factory=dict)  # name -> rows, bytes
    post_keys: set[str] = field(default_factory=set)
    author_keys: set[str] = field(default_factory=set)
    category_keys: set[str] = field(default_factory=set)
    assets: dict[str, tuple[str, str, int]] = field(default_factory=dict)  # id -> url path, filename, size
    missing: set[str] = field(default_factory=set)  # attachment ids that 404
    paths: dict[str, int] = field(default_factory=dict)  # url path -> body size, served by the origin
    resume_ids: list[int] = field(default_factory=list)
    digest: str = ""


def asset_body(path: str, size: int) -> bytes:
    """Deterministic body of the asset served at ``path``."""
    block = hashlib.blake2b(path.encode(), digest_size=64).digest()
    return (block * (size // len(block) + 1))[:size]


def _paragraphs(rng: np.random.Generator, n: int) -> list[str]:
    words = np.array(_WORDS)
    out = []
    for _ in range(n):
        k = int(rng.integers(20, 90))
        out.append(" ".join(words[rng.integers(0, len(words), k)]))
    return out


def _write(out_dir: str, name: str, cols: dict, site: Site) -> None:
    table = pa.table(cols)
    path = os.path.join(out_dir, f"wp_{name}.parquet")
    pq.write_table(table, path, compression="snappy")
    site.tables[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def generate(seed: int, out_dir: str, origin_url: str, sizing: dict) -> Site:
    """Write the site tables under ``out_dir`` and return the ``Site``.

    ``sizing`` keys: ``rows`` (wp_posts rows), ``users``, ``terms``,
    ``missing_share`` (attachments that 404), ``no_description_share``
    (authors the EAV inner join drops), ``resume_share`` (share of post,
    author and term ids added to the resume ids)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    site = Site()
    n, n_users, n_terms = sizing["rows"], sizing["users"], sizing["terms"]
    ts_type = pa.timestamp("us", tz="UTC")

    # --- wp_posts: ~60% published posts, ~20% attachments, rest other
    ids = np.arange(1, n + 1, dtype=np.int64)
    kind = rng.choice(4, size=n, p=[0.6, 0.2, 0.1, 0.1])  # post, attachment, draft, page
    post_type = np.where(kind == 1, "attachment", np.where(kind == 3, "page", "post"))
    status = np.where(kind == 1, "inherit", np.where(kind == 2, "draft", "publish"))
    author = rng.integers(1, n_users + 1, n).astype(np.int64)
    author[rng.random(n) < 0.03] = n_users + 1000  # dangling author -> author: []
    secs = rng.integers(1_262_304_000, 1_704_067_200, n)  # 2010..2024
    micros = secs * 1_000_000 + rng.integers(0, 1000, n) * 1000
    paras = _paragraphs(rng, 512)
    pick = rng.integers(0, len(paras), (n, 3))
    n_par = rng.integers(1, 4, n)
    titles, names, contents, guids = [], [], [], []
    for i in range(n):
        pid = int(ids[i])
        w = paras[pick[i, 0]].split(" ", 4)[:4]
        titles.append(" ".join(w).title() + (" &amp; More" if pid % 7 == 0 else ""))
        names.append(f"{'-'.join(w)}-{pid}")
        contents.append("".join(f"<p>{paras[pick[i, j]]}</p>" for j in range(n_par[i])))
        if kind[i] == 1:
            y = 2010 + int(secs[i] - 1_262_304_000) // 31_557_600
            fname = f"img {pid}.jpg" if pid % 11 == 0 else f"img-{pid}.jpg"
            guids.append(f"{origin_url}/wp-content/uploads/{y}/{fname}")
        else:
            guids.append(f"{SITEURL}/?p={pid}")
    _write(out_dir, "posts", {
        "ID": ids,
        "post_author": author,
        "post_date": pa.array(micros, ts_type),
        "post_date_gmt": pa.array(micros, ts_type),
        "post_title": titles,
        "post_name": names,
        "post_content": contents,
        "post_status": status,
        "post_type": post_type,
        "guid": guids,
    }, site)
    published = ids[(kind == 0)]
    site.post_keys = {str(i) for i in published}

    # --- attachments: bodies served by the origin, a seeded share 404s
    att_idx = np.flatnonzero(kind == 1)
    gone = rng.random(len(att_idx)) < sizing["missing_share"]
    sizes = rng.integers(512, 8192, len(att_idx))
    prefix = len(origin_url)
    for j, i in enumerate(att_idx):
        aid = str(ids[i])
        if gone[j]:
            site.missing.add(aid)
        else:
            path = guids[i][prefix:].replace(" ", "%20")  # as encodeURI sends it
            site.assets[aid] = (path, guids[i].rsplit("/", 1)[-1], int(sizes[j]))
            site.paths[path] = int(sizes[j])

    # --- wp_users + wp_usermeta (EAV); a seeded share lacks description
    uids = np.arange(1, n_users + 1, dtype=np.int64)
    logins = [f"author{u}" for u in uids]
    _write(out_dir, "users", {
        "ID": uids,
        "user_login": logins,
        "user_email": [f"author{u}@example.com" for u in uids],
    }, site)
    no_desc = rng.random(n_users) < sizing["no_description_share"]
    m_uid, m_key, m_val = [], [], []
    for u, nd in zip(uids, no_desc):
        entries = [("first_name", f"First{u}"), ("last_name", f"Last{u}"), ("nickname", f"nick{u}")]
        if not nd:
            entries.append(("description", paras[int(u) % len(paras)][:60]))
        for k, v in entries:
            m_uid.append(int(u))
            m_key.append(k)
            m_val.append(v)
    _write(out_dir, "usermeta", {
        "umeta_id": np.arange(1, len(m_uid) + 1, dtype=np.int64),
        "user_id": np.array(m_uid, dtype=np.int64),
        "meta_key": m_key,
        "meta_value": m_val,
    }, site)
    site.author_keys = {logins[i] for i in range(n_users) if not no_desc[i]}

    # --- wp_postmeta: half the published posts have a featured image
    thumb_posts = published[rng.random(len(published)) < 0.5]
    thumbs = ids[att_idx][rng.integers(0, len(att_idx), len(thumb_posts))]
    lock_posts = published[rng.random(len(published)) < 0.2]
    pm_post = np.concatenate([thumb_posts, lock_posts])
    _write(out_dir, "postmeta", {
        "meta_id": np.arange(1, len(pm_post) + 1, dtype=np.int64),
        "post_id": pm_post,
        "meta_key": ["_thumbnail_id"] * len(thumb_posts) + ["_edit_lock"] * len(lock_posts),
        "meta_value": [str(t) for t in thumbs] + ["1700000000:1"] * len(lock_posts),
    }, site)

    # --- wp_terms + wp_term_taxonomy: 80% categories with a parent tree
    tids = np.arange(1, n_terms + 1, dtype=np.int64)
    is_cat = rng.random(n_terms) < 0.8
    slugs = [f"{'cat' if c else 'tag'}-{paras[int(t) % len(paras)].split(' ', 1)[0]}-{t}"
             for t, c in zip(tids, is_cat)]
    _write(out_dir, "terms", {
        "term_id": tids,
        "name": [f"Term {t} &amp; Co" if t % 5 == 0 else f"Term {t}" for t in tids],
        "slug": slugs,
    }, site)
    cat_ids = tids[is_cat]
    parent = np.zeros(n_terms, dtype=np.int64)
    for i in range(n_terms):
        earlier = cat_ids[cat_ids < tids[i]]
        if is_cat[i] and len(earlier) > 0 and rng.random() < 0.7:
            parent[i] = earlier[rng.integers(0, len(earlier))]
    _write(out_dir, "term_taxonomy", {
        "term_taxonomy_id": tids + 10_000,
        "term_id": tids,
        "taxonomy": np.where(is_cat, "category", "post_tag"),
        "description": [f"About &amp; term {t}" if t % 3 == 0 else "" for t in tids],
        "parent": parent,
    }, site)
    site.category_keys = {slugs[i] for i in range(n_terms) if is_cat[i]}

    # --- wp_term_relationships: ~3 terms per post, some posts none
    per_post = rng.poisson(3.0, n)
    obj = np.repeat(ids, per_post)
    tt = rng.integers(0, n_terms, len(obj)) + 1 + 10_000
    pairs = np.unique(np.stack([obj, tt], axis=1), axis=0)
    _write(out_dir, "term_relationships", {
        "object_id": pairs[:, 0],
        "term_taxonomy_id": pairs[:, 1],
    }, site)

    _write(out_dir, "options", {
        "option_id": np.arange(1, 5, dtype=np.int64),
        "option_name": ["siteurl", "blogname", "permalink_structure", "home"],
        "option_value": [SITEURL, "Perf Blog", PERMALINK, SITEURL],
    }, site)

    # --- resume ids: the dead-letter ids plus a share of post/author/term ids
    share = sizing["resume_share"]
    extra = np.concatenate([
        published[rng.random(len(published)) < share],
        uids[rng.random(n_users) < share],
        tids[rng.random(n_terms) < share],
    ])
    site.resume_ids = sorted({int(x) for x in extra} | {int(m) for m in site.missing})

    h = hashlib.sha256()
    for name in sorted(site.tables):
        with open(os.path.join(out_dir, f"wp_{name}.parquet"), "rb") as f:
            h.update(f.read())
    site.digest = h.hexdigest()
    return site
