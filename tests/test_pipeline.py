"""Multimodal contracts that the media tests cannot express: payloads no
codec here understands fail loudly, the fake decoder is exactly
deterministic, feature extraction keeps its batch/schema contract, and
resize and frame sampling keep their geometry."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMOKE


def test_multimodal_real_decoder_is_stubbed(spark):
    """Non-BMP payloads must fail loudly through the real decode stage (no
    compressed-format libs here), and the fake decoder must produce the
    exact deterministic contract."""
    import pandas as pd

    from entropy_balance_weighting_spark.functions import multimodal

    with pytest.raises(NotImplementedError):
        multimodal.decode_image_batch(pd.Series([b"abc"]))

    out = multimodal.fake_decode(pd.Series([b"abc", b""]))
    assert list(out["n_bytes"]) == [3, 0]
    assert list(out["width"]) == [4, 1]
    np.testing.assert_allclose(
        out["feature"][0], [3.0, 97.0, 99.0, (97 + 98 + 99) % 256]
    )


def test_multimodal_plumbing_batches_and_schema(spark):
    """extract_features: Arrow-batched, schema contract honored, row count
    preserved, features exactly reproducible."""
    from pyspark.sql import functions as F

    from entropy_balance_weighting_spark.functions import multimodal
    from entropy_balance_weighting_spark.session import load_table

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    payloads = multimodal.text_as_binary(docs)
    feats = multimodal.extract_features(payloads, decoder=multimodal.fake_decode)
    assert feats.schema.simpleString() == (
        "struct<doc_id:bigint,n_bytes:int,width:int,height:int,"
        "feature:array<double>>"
    )
    rows = feats.withColumn("f0", F.element_at("feature", 1)).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["f0"] == float(r["n_bytes"])  # feature[0] == payload length


def test_resize_and_frame_sample_contracts(spark):
    """Resize: every output payload is exactly width*height bytes.  Frame
    sampling: fan-out matches the deterministic expectation computed in
    plain Python over the same bytes."""
    from entropy_balance_weighting_spark.functions import multimodal

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(25)
    payloads = multimodal.text_as_binary(docs).select("doc_id", "payload")

    resized = multimodal.resize_images(
        payloads, 8, 6, resizer=multimodal.fake_resize
    ).collect()
    assert len(resized) == 25
    for r in resized:
        assert (r["width"], r["height"]) == (8, 6)
        assert len(r["payload"]) == 48

    frames = multimodal.sample_frames(
        payloads, frame_bytes=64, every_n=3
    ).collect()
    texts = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    expected = {}
    for did, b in texts.items():
        n_frames = -(-len(b) // 64) if len(b) else 0
        for i in range(0, n_frames, 3):
            expected[(did, i)] = b[i * 64 : (i + 1) * 64]
    got = {(r["doc_id"], r["frame_idx"]): bytes(r["frame"]) for r in frames}
    assert got == expected

    # the stubs stay loud
    import pandas as pd
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        multimodal.resize_image_batch(pd.Series([b"x"]), 2, 2)
    with _pytest.raises(NotImplementedError):
        multimodal.decode_video_frames(b"x", 64)

