"""Multimodal binary-column plumbing (codecs faked, flow real)."""

import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.multimodal import media


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", bytes(range(1, 101)), (10, 10, None, "png")),
        (2, "image", bytes(range(1, 101)), (10, 10, None, "png")),  # dup payload
        (3, "audio", bytes([7] * 30), (None, None, 3000, "pcm")),
        (4, "video", b"\x01\x02\x03", (64, 48, 4500, "h264")),
        (5, "image", None, (0, 0, None, "png")),
    ]
    return spark.createDataFrame(rows, media.MEDIA_SCHEMA)


def test_decode_and_featurize_shapes(spark, media_df):
    out = media.decode_and_featurize(media_df).collect()
    assert len(out) == 5
    by_id = {r.media_id: r for r in out}
    assert all(len(r.features) == media.FEATURE_DIM for r in out)
    # identical payloads -> identical features (deterministic fake decode)
    assert by_id[1].features == by_id[2].features
    assert by_id[1].features != by_id[3].features
    assert by_id[1].n_bytes == 100 and by_id[5].n_bytes == 0
    # null payload decodes to all-zero samples -> zero features
    assert all(f == 0.0 for f in by_id[5].features)


def test_frame_sample_timeline(spark, media_df):
    frames = media.frame_sample(media_df, every_ms=1000).collect()
    # only the video row (4.5s -> frames at 0s..4s)
    assert {r.media_id for r in frames} == {4}
    assert sorted(r.offset_ms for r in frames) == [0, 1000, 2000, 3000]


def test_features_feed_similarity(spark, media_df):
    """Extracted features flow into the standard similarity operators."""
    from mysql_data_anonymizer_spark.operators import similarity

    feats = (
        media.decode_and_featurize(media_df)
        .where(F.col("n_bytes") > 0)  # zero vectors have no cosine direction
        .select(F.col("media_id").alias("vec_id"), F.col("features").alias("embedding"))
    )
    q = feats.filter(F.col("vec_id") == 1)
    out = similarity.brute_force_topk(feats, q, k=2, round_digits=4, dim=media.FEATURE_DIM)
    # nearest neighbor of row 1 is its duplicate row 2
    top = sorted(out.collect(), key=lambda r: r.rank)
    assert top[0].neighbor_id == 2


def test_mapinarrow_batch_feature_extraction(spark, embeddings):
    """mapInArrow — the lowest-overhead Python seam (raw Arrow
    RecordBatches, no pandas conversion): per-batch L2 norms must match the
    JVM-side unrolled expression exactly. Completes the Python-integration
    matrix (pandas UDF / grouped map / mapInPandas / UDTF / state / Arrow)."""
    import pyarrow as pa
    import numpy as np
    from pyspark.sql import functions as F
    from mysql_data_anonymizer_spark.operators import similarity

    def norms(batches):
        for batch in batches:
            ids = batch.column("vec_id")
            vecs = batch.column("embedding").to_pylist()
            out = [float(np.linalg.norm(np.asarray(v, dtype=np.float64))) for v in vecs]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(out, type=pa.float64())], names=["vec_id", "nrm"]
            )

    got = {
        r.vec_id: r.nrm
        for r in embeddings.mapInArrow(norms, "vec_id long, nrm double").collect()
    }
    want = {
        r.vec_id: r.nrm
        for r in embeddings.select(
            "vec_id", similarity.norm_expr("embedding").alias("nrm")
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9
