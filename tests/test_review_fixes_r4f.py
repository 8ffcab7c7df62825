"""Round-4 post-review fixes, batch 6 (session master, multimodal
guards).

1. ``get_spark`` no longer forces ``local[cores]`` under spark-submit:
   when the driver JVM already exists (py4j gateway env), the
   submit-time ``--master`` is inherited — forcing local would demote a
   cluster submission to single-node mode.
2. Multimodal operators survive degenerate rows under Spark 4 ANSI
   mode: zero width/height has no resize plan (no DIVIDE_BY_ZERO), a
   NULL payload yields NULL features (no bytes(None) crash), a
   zero-frame video samples no frames, and ``batch_feature_dim`` is
   honored.
"""

import pytest
from pyspark.sql import functions as F


def test_resolve_master_respects_submit_gateway():
    from open_source_search_engine_spark.session import _resolve_master

    # plain python: local[cores] as before
    assert _resolve_master(None, 8, {}) == "local[8]"
    # under spark-submit (gateway env present): inherit --master
    assert _resolve_master(None, 8, {"PYSPARK_GATEWAY_PORT": "1234"}) is None
    # an explicit master always wins
    assert (
        _resolve_master("local-cluster[2,4,4096]", 8, {"PYSPARK_GATEWAY_PORT": "1"})
        == "local-cluster[2,4,4096]"
    )


@pytest.fixture(scope="module")
def media(spark):
    from open_source_search_engine_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    rows = [
        (1, "image", b"\x01\x02", (64, 32, 0, 0)),
        (2, "audio", b"\x03", (0, 0, 16000, 0)),  # width=height=0
        (3, "video", None, (8, 8, 0, 0)),  # NULL payload, 0 frames
        (4, "video", b"\x04", (8, 8, 0, 5)),  # 5 frames
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_resize_meta_zero_dims_no_ansi_crash(spark, media):
    from open_source_search_engine_spark.operators.multimodal import (
        resize_meta,
    )

    rows = {r["media_id"]: (r["target_w"], r["target_h"]) for r in resize_meta(media).collect()}
    assert rows[1] != (None, None)  # image planned
    assert rows[2] == (None, None)  # dimension-less: no plan, no crash


def test_extract_features_null_payload_and_dim(spark, media):
    from open_source_search_engine_spark.operators.multimodal import (
        extract_features,
    )

    out = {r["media_id"]: r["features"] for r in extract_features(media).collect()}
    assert out[3] is None  # NULL payload -> NULL features
    assert out[1] is not None
    wide = extract_features(media, batch_feature_dim=32).collect()
    assert all(r["features"] is None or len(r["features"]) == 32 for r in wide)


def test_sample_frames_zero_frame_video(spark, media):
    from open_source_search_engine_spark.operators.multimodal import (
        sample_frames,
    )

    rows = sample_frames(media, every_n=2).collect()
    ids = {r["media_id"] for r in rows}
    assert 3 not in ids  # zero-frame video samples nothing
    assert sorted(r["frame_idx"] for r in rows if r["media_id"] == 4) == [0, 2, 4]
