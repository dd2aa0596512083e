"""Focused equivalence tests for the round-12 optimization rewrites.

Each test pins the EXACT property a rewrite relies on — the oracle
gate already proves end-to-end equality on the real tables; these keep
the internals honest if someone edits them later.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_vectorized_fake_frame_matches_per_row_decode():
    """The columnar fake-decode path must reproduce _fake_features
    row-for-row (all three media types + the empty payload)."""
    from calaveras_uniteus_etl_spark.operators.multimodal import (
        _fake_feature_frame,
        _fake_features,
    )

    payloads = [f"doc {i} body".encode() for i in range(9)] + [b""]
    mts = ["image", "audio", "video"] * 3 + ["audio"]
    ids = np.arange(10, dtype=np.int64)
    vec = _fake_feature_frame(ids, np.array(mts, dtype=object), payloads)
    ref_rows = []
    for i, (p, mt) in enumerate(zip(payloads, mts)):
        f = _fake_features(p, mt)
        f["doc_id"] = i
        f["media_type"] = mt
        ref_rows.append(f)
    cols = [
        "doc_id", "media_type", "n_bytes", "digest",
        "width", "height", "duration_s", "sample_rate",
    ]
    ref = pd.DataFrame(ref_rows)[cols].astype(
        {c: "Int32" for c in ("width", "height", "duration_s", "sample_rate")}
    )
    pd.testing.assert_frame_equal(
        vec.astype({"doc_id": "int64", "n_bytes": "int64"}),
        ref.astype({"doc_id": "int64", "n_bytes": "int64"}),
    )


def test_extract_batches_magic_payloads_take_digest_path():
    """Payloads are opaque: one starting with PNG, JPEG, RIFF-WAVE, GIF
    or ``ftyp`` magic gets the same digest-derived features as plain
    text, never a decode and never NULL dimensions."""
    from calaveras_uniteus_etl_spark.operators.multimodal import (
        _extract_batches,
        _fake_features,
    )

    payloads = [
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 16,
        b"\xff\xd8\xff\xe0" + b"\x00" * 16,
        b"RIFF\x24\x00\x00\x00WAVEfmt " + b"\x00" * 16,
        b"GIF89a" + b"\x00" * 16,
        b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16,
        b"plain text",
    ]
    mts = ["image", "image", "audio", "image", "video", "video"]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(payloads), dtype=np.int64),
            "payload": payloads,
            "media_type": mts,
        }
    )
    (out,) = list(_extract_batches(iter([pdf])))
    cols = ["n_bytes", "digest", "width", "height", "duration_s", "sample_rate"]
    for i, (p, mt) in enumerate(zip(payloads, mts)):
        row = out.iloc[i]
        assert row["doc_id"] == i and row["media_type"] == mt
        want = _fake_features(p, mt)
        got = {c: (None if pd.isna(row[c]) else row[c]) for c in cols}
        assert got == {c: want[c] for c in cols}, (mt, p[:8])


def test_x39_expression_resize_matches_kernel(spark):
    """x39's JVM expression plan must equal the Arrow resize_plan
    kernel row-for-row on the smoke corpus."""
    from calaveras_uniteus_etl_spark.operators.multimodal import resize_plan
    from calaveras_uniteus_etl_spark.plans.queries_multimodal import (
        _TH,
        _TW,
        _media,
    )
    from calaveras_uniteus_etl_spark.plans import REGISTRY

    new = _rows(REGISTRY["x39_media_resize_plan"].fn(spark, SF_SMOKE))
    old = _rows(resize_plan(_media(spark, SF_SMOKE), _TW, _TH))
    assert new == old


def test_x40_sequence_explode_matches_kernel(spark):
    """x40's sequence+explode fan-out must equal the Arrow
    sample_frames kernel row-for-row on the smoke corpus."""
    from calaveras_uniteus_etl_spark.operators.multimodal import (
        sample_frames,
    )
    from calaveras_uniteus_etl_spark.plans.queries_multimodal import _media
    from calaveras_uniteus_etl_spark.plans import REGISTRY

    new = _rows(REGISTRY["x40_frame_sample"].fn(spark, SF_SMOKE))
    old = _rows(sample_frames(_media(spark, SF_SMOKE)))
    assert new == old


def test_tokenized_corpus_matches_inline_split(spark):
    """The tokenized_corpus artifact must carry exactly
    split(NORM(text)) plus the light metadata columns."""
    from calaveras_uniteus_etl_spark.operators.dedup import NORM_SPARK
    from calaveras_uniteus_etl_spark.plans.queries_text import _tok_index
    from calaveras_uniteus_etl_spark.plans.tables import table

    art = _tok_index(spark, SF_SMOKE)
    assert art.columns == ["doc_id", "lang", "source", "n_chars", "w"]
    ref = table(spark, SF_SMOKE, "documents").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.expr(f"split({NORM_SPARK.format(col='text')}, ' ')").alias("w"),
    )
    assert {tuple(r[:4]) + (tuple(r[4]),) for r in art.collect()} == {
        tuple(r[:4]) + (tuple(r[4]),) for r in ref.collect()
    }


def test_df_cap_gate_broadcasts_only_under_bound(spark, monkeypatch):
    """x4/x65's df-cap anti-join must carry the broadcast hint exactly
    when the provable over-cap bound fits the ceiling."""
    import calaveras_uniteus_etl_spark.plans.queries_dedup as qd

    def plan_of():
        df = qd._df_capped_postings(spark, SF_SMOKE)
        return df._jdf.queryExecution().optimizedPlan().toString()

    # real corpus: bound is tiny -> broadcast hint present
    assert "ResolvedHint" in plan_of() or "broadcast" in plan_of().lower()
    # simulate a 100 TB boilerplate corpus: bound past the ceiling ->
    # plain shuffle anti-join (no hint)
    monkeypatch.setattr(
        qd,
        "_postings_count",
        lambda s, d: (qd._OVERCAP_BROADCAST_MAX_ROWS + 1) * qd.BUCKET_CAP,
    )
    plan = plan_of()
    assert "ResolvedHint" not in plan and "broadcast" not in plan.lower()


def test_embeddings_are_fixed_width(spark):
    """Pin the fixed-EMBED_DIM invariant the x63/x145 positional
    indexing relies on (ANSI INVALID_ARRAY_INDEX on ragged arrays)."""
    from calaveras_uniteus_etl_spark.operators.similarity import EMBED_DIM
    from calaveras_uniteus_etl_spark.plans.tables import table

    bad = (
        table(spark, SF_SMOKE, "embeddings")
        .filter(F.size("embedding") != EMBED_DIM)
        .count()
    )
    assert bad == 0
