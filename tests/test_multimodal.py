"""Multimodal plumbing tests: schema, mapInPandas batch flow, deterministic
features, exact media dedup."""

import numpy as np
import pytest

from wdedup_spark.functions import multimodal as mm


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (0, "image", b"PNG-fake-content-A", (64, 48, None, "image/png")),
        (1, "image", b"PNG-fake-content-B", (32, 32, None, "image/png")),
        (2, "image", b"PNG-fake-content-A", (64, 48, None, "image/png")),  # dup of 0
        (3, "audio", b"WAV-fake-content", (None, None, 4000, "audio/wav")),
        (4, "video", b"MP4-fake-content", (1920, 1080, 60000, "video/mp4")),
    ]
    return spark.createDataFrame(rows, schema=mm.ASSET_SCHEMA)


def test_extract_features_schema_and_determinism(spark, assets):
    feats = mm.extract_features(assets)
    assert feats.schema == mm.FEATURE_SCHEMA
    rows = {r["asset_id"]: r for r in feats.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert len(r["feature"]) == mm.FEATURE_DIM
        assert abs(np.linalg.norm(r["feature"]) - 1.0) < 1e-5
    # identical bytes → identical feature + hash
    assert rows[0]["feature"] == rows[2]["feature"]
    assert rows[0]["content_hash"] == rows[2]["content_hash"]
    assert rows[0]["content_hash"] != rows[1]["content_hash"]


def test_exact_media_dups(spark, assets):
    feats = mm.extract_features(assets)
    clusters = {r["rep_id"]: r["n_members"] for r in mm.exact_media_dups(feats).collect()}
    assert clusters[0] == 2  # assets 0 and 2
    assert clusters[1] == 1
