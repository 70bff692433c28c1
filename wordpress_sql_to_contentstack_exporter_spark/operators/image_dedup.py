"""Perceptual image near-duplicate detection: dHash + Hamming banding.

Completes the multimodal dedup story: exact/MinHash/SimHash cover text,
embedding-LSH covers vectors — this covers IMAGES, the modality where
byte-identical dedup misses every re-encode, resize, or one-pixel edit.
The standard pipeline (public knowledge: difference-hash as popularized
by the pHash family / imagehash library, banded like SimHash):

1. decode → grayscale → nearest-resize to 9x8,
2. dHash: bit ``(y, x)`` = ``gray[y][x] < gray[y][x+1]`` — 64 bits of
   gradient signs, invariant to global brightness/contrast shifts and
   robust to small pixel perturbations,
3. candidate generation by BANDING the 64-bit hash into 4 x 16-bit
   blocks: fewer differing bits than bands (d < 4) GUARANTEES an
   untouched block by pigeonhole; for 4 <= d <= 6 a shared block holds
   unless the differing bits spread across every block — a high-recall
   heuristic, measured (planted-pair recall) rather than assumed,
4. verify candidates with an exact popcount (``bit_count(a ^ b)``).

Scale shape: the decode is Arrow-batched ``mapInPandas`` (per-partition
codec state, compute-bound — size partitions to cores); everything
after the 8-byte hash is pure JVM codegen — the band self-join shuffles
16-bit keys, never pixels, and the verify is a popcount on two longs.
At 100 TB of images the exchange carries ~24 bytes/row.

The stdlib PNG tier (``operators.png``) does the real pixel decode
in-container; a PIL/GPU codec drops into the same ``mapInPandas``
contract unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import png as _png

__all__ = ["synthesize_png_corpus", "dhash64", "image_neardup"]

#: media_id offset for planted perturbed copies in the synthetic corpus.
PLANT_OFFSET = 10_000_000

_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
    ]
)

_PNG_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
    ]
)


def synthesize_png_corpus(
    docs: DataFrame,
    *,
    width: int = 32,
    height: int = 32,
    plant_every: int = 17,
    perturb_delta: int = 24,
) -> DataFrame:
    """Deterministic REAL-PNG corpus from the ``documents`` fixture (no
    binary fixtures in the container): each doc's text bytes tile a
    ``width x height`` grayscale image, round-tripped through the
    stdlib PNG encoder. Every ``plant_every``-th doc additionally emits
    a PLANTED NEAR-DUP copy at ``media_id + PLANT_OFFSET`` with one
    pixel brightened by ``perturb_delta`` — the ground truth the recall
    evidence measures against."""
    n_px = width * height

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            blobs: list[bytes | None] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                if not raw:
                    raw = b"\x00"
                reps = n_px // len(raw) + 1
                pixels = (raw * reps)[:n_px]
                ids.append(int(doc_id))
                blobs.append(_png.encode(width, height, 1, pixels))
                if int(doc_id) % plant_every == 0:
                    mutated = bytearray(pixels)
                    mutated[0] = (mutated[0] + perturb_delta) % 256
                    ids.append(int(doc_id) + PLANT_OFFSET)
                    blobs.append(_png.encode(width, height, 1, bytes(mutated)))
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"), "content": blobs})

    return docs.select("doc_id", "text").mapInPandas(run, _PNG_SCHEMA)


def _dhash_bytes(payload: bytes) -> int | None:
    """64-bit difference hash of one image payload (returns a SIGNED
    int64: bit 63 set wraps negative, matching Spark LongType)."""
    try:
        w, h, nch, px = _png.decode(payload)
    except Exception:
        # not just ValueError: corrupt payloads escape png.decode as
        # zlib.error (bad IDAT) or struct.error (truncated IHDR), and
        # any of them must hash to NULL, not kill the Spark task —
        # the same except-Exception discipline as the multimodal tiers
        return None
    gray = _png.to_gray(w, h, nch, px)
    small = _png.resize_nearest(w, h, 1, gray, 9, 8)
    bits = 0
    for y in range(8):
        row = y * 9
        for x in range(8):
            bits = (bits << 1) | (1 if small[row + x] < small[row + x + 1] else 0)
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def dhash64(media: DataFrame, *, id_col: str = "media_id", content_col: str = "content") -> DataFrame:
    """Arrow-batched dHash stage: ``(media_id, dhash LONG)``; rows whose
    payload is missing or undecodable hash to NULL (excluded downstream)
    rather than poisoning the batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "dhash": pd.Series(
                        [
                            _dhash_bytes(b) if b is not None else None
                            for b in pdf[content_col]
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return media.select(F.col(id_col), F.col(content_col)).mapInPandas(run, _HASH_SCHEMA)


def image_neardup(
    media: DataFrame,
    *,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate image pairs ``(id_a, id_b, hamming)`` with
    ``hamming <= max_hamming``: the dHash stage feeds the shared
    banded-Hamming candidate/verify core
    (:func:`~.dedup.banded_hamming_pairs` — band-equality blocking, no
    quadratic compare, popcount verify; the same core the audio
    near-dup uses over its energy-envelope signature)."""
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        dhash64(media),
        id_col="media_id",
        hash_col="dhash",
        bands=bands,
        max_hamming=max_hamming,
    )
