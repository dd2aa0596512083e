"""Multimodal (binary-payload) column plumbing.

Treats image/audio/video as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas``: batches stream
through the worker (no whole-partition materialization), and the
output schema is a fixed contract so downstream plans stay columnar.

The engine decodes no media format. A payload is opaque bytes: its
``n_bytes`` and md5 ``digest`` are real, and its dimensions
(``width``/``height``/``duration_s``/``sample_rate``) are a
deterministic stand-in derived from the digest and the row's
``media_type``, never read from the payload. Leading magic bytes
(PNG, JPEG, RIFF, ...) change nothing. The DuckDB oracles of x11,
x39, x40 and x61 mirror the same formulas, so the whole Spark-side
path (schema, batching, partitioning, UDF signature) is checked end
to end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

# Output contract of extract_features — fixed, engine-facing.
FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, digest string, "
    "width int, height int, duration_s int, sample_rate int"
)


def _fake_features(payload: bytes, media_type: str) -> dict:
    """Deterministic pseudo-decode: md5-derived dimensions.

    The formulas are mirrored exactly by the DuckDB oracle
    (plans/queries_multimodal.py), making the whole mapInPandas path
    hash-checkable end to end.
    """
    digest = hashlib.md5(payload).hexdigest()
    h1 = int(digest[:15], 16)
    h2 = int(digest[15:30], 16)
    out = {
        "n_bytes": len(payload),
        "digest": digest,
        "width": None,
        "height": None,
        "duration_s": None,
        "sample_rate": None,
    }
    if media_type == "image":
        out["width"] = h1 % 1920 + 1
        out["height"] = h2 % 1080 + 1
    elif media_type == "audio":
        out["duration_s"] = h1 % 600 + 1
        out["sample_rate"] = 8000 + (h2 % 8) * 4000
    else:  # video
        out["duration_s"] = h1 % 600 + 1
        out["width"] = h1 % 1920 + 1
        out["height"] = h2 % 1080 + 1
    return out


def _masked_i32(vals: np.ndarray, keep: np.ndarray) -> pd.arrays.IntegerArray:
    return pd.arrays.IntegerArray(vals.astype("int32"), mask=~keep)


def _fake_feature_frame(
    doc_ids: np.ndarray, media_types: np.ndarray, payloads: list[bytes]
) -> pd.DataFrame:
    """Vectorized fake decode for a whole batch of payloads: md5 per
    row (C-speed hashlib), every derived column computed columnarly
    with numpy — identical formulas to ``_fake_features``, with no
    per-row dict construction."""
    n = len(payloads)
    digests = [hashlib.md5(p).hexdigest() for p in payloads]
    h1 = np.fromiter((int(d[:15], 16) for d in digests), dtype=np.int64, count=n)
    h2 = np.fromiter((int(d[15:30], 16) for d in digests), dtype=np.int64, count=n)
    mt = np.asarray(media_types, dtype=object)
    img = mt == "image"
    aud = mt == "audio"
    vid = ~(img | aud)
    has_dims = img | vid
    has_dur = aud | vid
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "media_type": media_types,
            "n_bytes": np.fromiter(
                (len(p) for p in payloads), dtype=np.int64, count=n
            ),
            "digest": digests,
            "width": _masked_i32(h1 % 1920 + 1, has_dims),
            "height": _masked_i32(h2 % 1080 + 1, has_dims),
            "duration_s": _masked_i32(h1 % 600 + 1, has_dur),
            "sample_rate": _masked_i32(8000 + (h2 % 8) * 4000, aud),
        }
    )


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: one output row per media row, per batch.

    Streams Arrow batches, so peak memory is one batch, not one
    partition. Every payload, whatever its leading bytes, goes through
    the same vectorized digest-derived decode.
    """
    for pdf in batches:
        yield _fake_feature_frame(
            pdf["doc_id"].values,
            pdf["media_type"].values,
            [bytes(p) for p in pdf["payload"]],
        )


def extract_features(media: DataFrame) -> DataFrame:
    """Feature-extract a media DataFrame(doc_id, payload, media_type).

    Opaque-payload contract: ``n_bytes`` and ``digest`` (md5 hex) come
    from the payload bytes; ``width``/``height``/``duration_s``/
    ``sample_rate`` are the digest-derived stand-in of
    ``_fake_features`` for the row's ``media_type``, not a decode, and
    are the same for a payload whatever its leading bytes.

    Arrow-batched; no shuffle — a narrow map over whatever partitioning
    the payload table already has (at scale: size partitions by bytes,
    ``spark.sql.files.maxPartitionBytes``, not row count).
    """
    return media.select("doc_id", "payload", "media_type").mapInPandas(
        _extract_batches, schema=FEATURE_SCHEMA
    )


# ---------------------------------------------------------------------------
# Resize planning + frame sampling — the remaining two media plumbing
# stages. Same contract as extract_features: real Arrow mapInPandas
# path, deterministic fake decode, integer-only arithmetic so the
# DuckDB oracle mirrors every output bit.
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, width int, height int, "
    "out_width int, out_height int, resized boolean"
)

FPS = 24  # fake decoder's constant frame rate
FRAME_EVERY_N = 48  # sample one frame every 2 seconds
FRAME_MAX = 16  # per-video cap

FRAME_SCHEMA = "doc_id bigint, frame_idx int, t_offset_ms bigint"


def resize_fit(w: int, h: int, tw: int, th: int) -> tuple[int, int, bool]:
    """Aspect-preserving fit into (tw, th), integer arithmetic only.

    Never upscales. The binding side is chosen by cross-multiplication
    and the other side floors — no floating-point scale factor, so any
    engine reproduces the output dims exactly.
    """
    if w <= tw and h <= th:
        return w, h, False
    if tw * h >= th * w:  # height is the binding constraint
        return (w * th) // h, th, True
    return tw, (h * tw) // w, True


def _resize_batches(tw: int, th: int):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, p, mt in zip(
                pdf["doc_id"], pdf["payload"], pdf["media_type"]
            ):
                f = _fake_features(bytes(p), mt)
                if f["width"] is None:  # audio: nothing to resize
                    rows.append((doc_id, mt, None, None, None, None, False))
                    continue
                ow, oh, scaled = resize_fit(f["width"], f["height"], tw, th)
                rows.append(
                    (doc_id, mt, f["width"], f["height"], ow, oh, scaled)
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "media_type", "width", "height",
                    "out_width", "out_height", "resized",
                ],
            )
            yield out.astype(
                {c: "Int32" for c in ("width", "height", "out_width", "out_height")}
            )

    return kernel


def resize_plan(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Plan aspect-preserving resizes for image/video payloads.

    Narrow Arrow map, no shuffle; a production deployment swaps the
    fake dimension probe for the real decoder and emits the resized
    payload bytes alongside — the schema/batching contract is already
    the real one.
    """
    return media.select("doc_id", "payload", "media_type").mapInPandas(
        _resize_batches(target_w, target_h), schema=RESIZE_SCHEMA
    )


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        ids, idxs, offs = [], [], []
        for doc_id, p, mt in zip(pdf["doc_id"], pdf["payload"], pdf["media_type"]):
            if mt != "video":
                continue
            f = _fake_features(bytes(p), mt)
            n_frames = f["duration_s"] * FPS
            k = 0
            while k * FRAME_EVERY_N < n_frames and k < FRAME_MAX:
                fi = k * FRAME_EVERY_N
                ids.append(doc_id)
                idxs.append(fi)
                offs.append(fi * 1000 // FPS)
                k += 1
        yield pd.DataFrame(
            {"doc_id": ids, "frame_idx": idxs, "t_offset_ms": offs}
        ).astype({"frame_idx": "Int32"} if ids else {})


def sample_frames(media: DataFrame) -> DataFrame:
    """Sample every-Nth-frame indices per video, capped per doc.

    One output row per sampled frame (doc_id, frame_idx, t_offset_ms);
    the real decoder would attach the frame payload per row. Row fan-
    out happens inside the Arrow batch — never a driver-side loop.
    """
    return media.select("doc_id", "payload", "media_type").mapInPandas(
        _frame_batches, schema=FRAME_SCHEMA
    )
