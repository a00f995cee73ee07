"""Similarity search, text functions, multimodal plumbing, streaming."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from health_data_transformation_spark import multimodal
from health_data_transformation_spark.functions import text as T
from health_data_transformation_spark.operators import similarity as S


@pytest.fixture()
def embeddings(spark):
    return spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.9, 0.1, 0.0], 0),
            (2, [0.0, 1.0, 0.0], 1),
            (3, [0.0, 0.9, 0.1], 1),
            (4, [-1.0, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )


def test_brute_force_top_k_exact_order(spark, embeddings):
    query = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    rows = S.brute_force_top_k(embeddings, query, k=3).collect()
    assert [r["vec_id"] for r in rows] == [0, 1, 2]
    assert rows[0]["sim"] == 1.0


def test_ivf_top_k_per_bucket(spark, embeddings):
    query = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    rows = S.ivf_top_k(embeddings, query, k=1).collect()
    best = {r["label"]: r["vec_id"] for r in rows}
    assert best[0] == 0  # its own bucket: itself
    assert best[1] in (2, 3)


def test_tokens_and_fingerprint(spark):
    df = spark.createDataFrame([("Hello,  WORLD hello",)], "text string")
    row = df.select(
        T.token_count("text").alias("n"),
        T.unique_token_count("text").alias("u"),
        T.normalize_text("text").alias("norm"),
    ).collect()[0]
    assert row["n"] == 4  # split on single space: ['Hello,', '', 'WORLD', 'hello']
    assert row["norm"] == "hello world hello"


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcd",)], "text string")
    row = df.select(T.char_ngrams("text", 3).alias("g")).collect()[0]
    assert row["g"] == ["abc", "bcd"]


def test_multimodal_meta_and_decode(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "worlds")], "doc_id long, text string")
    meta = multimodal.with_fake_media_meta(df)
    rows = {r["doc_id"]: r for r in meta.collect()}
    assert rows[1]["n_bytes"] == 5
    assert 0 <= rows[1]["width"] < 640 and 0 <= rows[1]["height"] < 480
    assert bytes(rows[1]["payload"]) == b"hello"

    decoded = multimodal.decode_pipeline(
        multimodal.with_payload(df), decode_fn=multimodal.fake_decode
    )
    out = {r["doc_id"]: r for r in decoded.collect()}
    assert out[1]["n_bytes"] == 5
    assert out[1]["feature_dim"] == 8
    assert out[1]["feature_mean"] == pytest.approx(sum(b"hello") / 5, abs=1e-6)


def test_multimodal_decode_stub_raises(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(Exception):  # NotImplementedError surfaces as task failure
        multimodal.decode_pipeline(multimodal.with_payload(df)).collect()


def test_multimodal_resize_fixed_output(spark):
    import hashlib

    df = spark.createDataFrame(
        [(1, "abc"), (2, "x" * 5000)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in multimodal.resize_pipeline(
            multimodal.with_payload(df), 32, 16, resize_fn=multimodal.fake_resize
        ).collect()
    }
    # fixed output size regardless of input size: pad short, truncate long
    assert out[1]["out_bytes"] == out[2]["out_bytes"] == 512
    assert out[1]["resized_md5"] == hashlib.md5((b"abc" * 171)[:512]).hexdigest()
    assert out[2]["resized_md5"] == hashlib.md5(b"x" * 512).hexdigest()
    assert multimodal.fake_resize(b"", 4, 4) == b"\x00" * 16
    with pytest.raises(Exception):
        multimodal.resize_pipeline(multimodal.with_payload(df), 4, 4).collect()


def test_stream_window_equals_batch(spark):
    """The streaming windowed agg must equal the batch GROUP BY."""
    from health_data_transformation_spark.functions.deterministic import (
        bucket_str,
        dec_sum,
    )
    from health_data_transformation_spark.streaming.windows import stream_window_counts

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in stream_window_counts(spark, sf_dir).collect()
    }
    from health_data_transformation_spark.sources.tables import load_table

    batch = {
        r["window_start"]: (r["n_events"], r["total_value"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy(bucket_str("ts", 15).alias("window_start"))
        .agg(F.count("*").alias("n_events"), dec_sum("value", 2).alias("total_value"))
        .collect()
    }
    assert streamed == batch


def test_stream_dedup_ingest(spark, tmp_path):
    """Streaming D4: re-delivered keys within the watermark are dropped."""
    from health_data_transformation_spark.streaming.windows import stream_dedup_ingest

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text(
        "k,ts,v\nk1,2024-01-01 00:00:00,1\nk1,2024-01-01 00:05:00,2\nk2,2024-01-01 00:01:00,3\n"
    )
    schema = "k string, ts timestamp, v int"
    deduped = stream_dedup_ingest(spark, str(src), schema, ["k"], "ts")
    out = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    out.awaitTermination(120)
    out.stop()
    rows = spark.table("dedup_test").collect()
    assert sorted((r["k"], r["v"]) for r in rows) == [("k1", 1), ("k2", 3)]


def test_ivf_build_and_search_recall(spark):
    """IVF with computed centroid cells: deterministic build, probe
    search recovers the exact brute-force top-k on clustered data."""
    import pyspark.sql.functions as F

    from health_data_transformation_spark.operators.similarity import (
        brute_force_top_k,
        build_ivf_store,
        ivf_search_stored,
    )
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    assigned, cents = build_ivf_store(e, n_cells=8)
    assert assigned.count() == e.count()  # every vector gets exactly one cell
    assert assigned.select("cell").distinct().count() <= 8

    exact = {r["vec_id"] for r in brute_force_top_k(e, query, 10).collect()}
    got = {r["vec_id"] for r in ivf_search_stored(assigned, cents, query, 10, n_probes=4).collect()}
    assert len(got & exact) / len(exact) >= 0.8

    # deterministic: rebuild gives identical assignment
    assigned2, _ = build_ivf_store(e, n_cells=8)
    a = sorted((r["vec_id"], r["cell"]) for r in assigned.select("vec_id", "cell").collect())
    b = sorted((r["vec_id"], r["cell"]) for r in assigned2.select("vec_id", "cell").collect())
    assert a == b


def test_ivf_store_path_equals_recompute(spark, tmp_path):
    """The persisted IVF index (build_ivf_store + ivf_search_stored) is
    result-identical to probing the same store in memory, across a
    parquet round-trip of the store — the q335 pin.  Plus the store
    guards: wrong-frame columns are refused, and n_probes > the
    store's stamped n_cells fails loudly."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from health_data_transformation_spark.operators.similarity import (
        build_ivf_store,
        ivf_search_stored,
    )
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    query = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )

    ref_a, ref_c = build_ivf_store(e, n_cells=8)
    ref = sorted(
        tuple(r) for r in ivf_search_stored(ref_a, ref_c, query, 10, n_probes=4).collect()
    )

    assigned, cents = build_ivf_store(e, n_cells=8)
    assert assigned.schema["cell"].metadata["hdt_n_cells"] == 8
    assigned.sort("cell").write.parquet(str(tmp_path / "assigned"))
    cents.write.parquet(str(tmp_path / "centroids"))
    sa = spark.read.parquet(str(tmp_path / "assigned"))
    sc = spark.read.parquet(str(tmp_path / "centroids"))
    assert sc.schema["cell"].metadata["hdt_n_cells"] == 8  # survived parquet

    got = sorted(
        tuple(r)
        for r in ivf_search_stored(sa, sc, query, 10, n_probes=4).collect()
    )
    assert got == ref

    with _pytest.raises(ValueError, match="build_ivf_store"):
        ivf_search_stored(sc, sa, query, 10, n_probes=4)
    with _pytest.raises(ValueError, match="n_probes"):
        ivf_search_stored(sa, sc, query, 10, n_probes=9)


def test_ivf_lloyd_store_roundtrip_and_guards(spark, tmp_path):
    """The Lloyd-refined IVF store (q341): results survive a parquet
    round trip of the store; rounds/n_cells metadata persists; the
    assignment agrees with int_kmeans (metric consistency); store
    guards refuse wrong frames and over-probing."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from health_data_transformation_spark.functions.vector import (
        int8_quantize,
    )
    from health_data_transformation_spark.operators.kmeans import (
        int_kmeans_assign,
    )
    from health_data_transformation_spark.operators.similarity import (
        build_ivf_store_lloyd,
        ivf_search_batch,
    )
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = e.filter(F.col("vec_id") >= 4)
    queries = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )

    assigned, cents = build_ivf_store_lloyd(corpus, n_cells=8, rounds=2)
    assert cents.schema["cell"].metadata["hdt_rounds"] == 2
    ref = sorted(
        tuple(r)
        for r in ivf_search_batch(
            assigned, cents, queries, k=3, n_probes=3
        ).collect()
    )

    # cells ARE the q158 Lloyd assignment (same machinery, same result)
    km = int_kmeans_assign(
        corpus.select("vec_id", int8_quantize("embedding").alias("q")),
        "vec_id", "q", k=8, rounds=2,
    )
    diff = (
        assigned.select("vec_id", "cell")
        .join(km, "vec_id")
        .filter(F.col("cell") != F.col("cluster"))
        .count()
    )
    assert diff == 0

    assigned.sort("cell").write.parquet(str(tmp_path / "a"))
    cents.write.parquet(str(tmp_path / "c"))
    sa = spark.read.parquet(str(tmp_path / "a"))
    sc = spark.read.parquet(str(tmp_path / "c"))
    assert sc.schema["cell"].metadata["hdt_n_cells"] == 8
    got = sorted(
        tuple(r)
        for r in ivf_search_batch(
            sa, sc, queries, k=3, n_probes=3
        ).collect()
    )
    assert got == ref

    with _pytest.raises(ValueError, match="build_ivf_store_lloyd"):
        ivf_search_batch(sc, sa, queries, k=3, n_probes=3)
    with _pytest.raises(ValueError, match="n_probes"):
        ivf_search_batch(sa, sc, queries, k=3, n_probes=9)


def test_ivf_batch_search_equals_per_query(spark, tmp_path):
    """ivf_search_batch's per-query rows equal ivf_search_stored run
    query by query on the same store (the q337 pin), across a parquet
    round trip; n_probes over the stored n_cells fails loudly."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from health_data_transformation_spark.operators.similarity import (
        build_ivf_store,
        ivf_search_batch,
        ivf_search_stored,
    )
    from health_data_transformation_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, cents = build_ivf_store(e, n_cells=8)
    assigned.sort("cell").write.parquet(str(tmp_path / "a"))
    cents.write.parquet(str(tmp_path / "c"))
    sa = spark.read.parquet(str(tmp_path / "a"))
    sc = spark.read.parquet(str(tmp_path / "c"))

    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    batch = ivf_search_batch(sa, sc, queries, k=5, n_probes=3)
    got = {
        qid: sorted(
            (r["vec_id"], r["sim"], r["rank"])
            for r in batch.filter(F.col("query_id") == qid).collect()
        )
        for qid in (0, 1, 2)
    }
    for qid in (0, 1, 2):
        q1 = e.filter(F.col("vec_id") == qid).select(
            F.col("embedding").alias("qv")
        )
        per = ivf_search_stored(sa, sc, q1, k=5, n_probes=3).collect()
        want = sorted(
            (r["vec_id"], r["sim"], rank)
            for rank, r in enumerate(
                sorted(per, key=lambda r: (-r["sim"], r["vec_id"])), start=1
            )
        )
        assert got[qid] == want, f"query {qid} mismatch"

    with _pytest.raises(ValueError, match="n_probes"):
        ivf_search_batch(sa, sc, queries, k=5, n_probes=9)
    with _pytest.raises(ValueError, match="build_ivf_store"):
        ivf_search_batch(sc, sa, queries, k=5)


def test_watermark_append_mode_finalizes_windows(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: windows are
    emitted once finalized, and the finalized results equal the batch
    GROUP BY over the same closed windows."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "wm_src")
    rows = [
        ("2024-01-01 10:00:30", 1.0),
        ("2024-01-01 10:00:45", 2.0),
        ("2024-01-01 10:01:10", 4.0),
        ("2024-01-01 10:00:50", 8.0),   # late for window 10:00 but within watermark
        ("2024-01-01 10:30:00", 16.0),  # advances watermark far past both windows
    ]
    spark.createDataFrame(rows, "ts_s string, value double").select(
        F.to_timestamp("ts_s").alias("ts"), "value"
    ).repartition(1).write.mode("overwrite").parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.sum("value").alias("total"))
        .select(F.date_format("w.start", "HH:mm").alias("w_start"), "total")
    )
    import uuid

    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = {(r["w_start"], r["total"]) for r in spark.table(name).collect()}
    # both early windows finalized (watermark passed); the 10:30 window is
    # still open at end-of-stream and therefore NOT emitted in append mode
    assert got == {("10:00", 11.0), ("10:01", 4.0)}


def test_stream_stream_join_equals_batch(spark):
    """Watermarked stream-stream interval join produces exactly the
    batch inner range-join pairs."""
    import pyspark.sql.functions as F

    from health_data_transformation_spark.operators.rangejoin import (
        bucketed_range_join,
    )
    from health_data_transformation_spark.sources.tables import load_table
    from health_data_transformation_spark.streaming.windows import (
        stream_stream_join,
    )

    sf_dir = "/root/testdata/sf0.001"
    streamed = {
        (r["purchase_id"], r["click_id"])
        for r in stream_stream_join(spark, sf_dir, window_s=1800).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    batch = {
        (r["purchase_id"], r["click_id"])
        for r in bucketed_range_join(
            purchases, clicks, ["user_id"], "p_ts", "c_ts", -1800, 0
        ).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_bmp_codec_roundtrip_and_validation():
    """Pure-Python BMP codec: encode/decode round-trip, top-down
    variant, stride padding, and explicit rejection of unsupported
    containers (no Spark needed)."""
    import struct

    import numpy as np

    data = bytes(range(256)) * 3  # 768 bytes -> 26 rows at width 30
    bmp = multimodal.bmp_encode_gray24(data, width=30)
    assert bmp[:2] == b"BM"
    h = -(-len(data) // 30)
    assert len(bmp) == 54 + 92 * h  # 90-byte rows pad to 92

    px = multimodal.bmp_pixels(bmp)
    assert px.shape == (h, 30, 3)
    # gray: all channels equal; values = source bytes row-major
    flat = px[:, :, 2].reshape(-1)
    assert bytes(flat[: len(data)].tolist()) == data
    assert (flat[len(data):] == 0).all()
    assert (px[:, :, 0] == px[:, :, 2]).all()

    # a TOP-DOWN file (negative height) must decode to the same grid
    td = bytearray(bmp)
    struct.pack_into("<i", td, 22, -h)
    body = np.frombuffer(bmp, dtype=np.uint8, offset=54).reshape(h, 92)
    td[54:] = body[::-1].tobytes()
    assert multimodal.bmp_pixels(bytes(td)).tolist() == px.tolist()

    feats = multimodal.bmp_decode(bmp)
    assert feats["n_bytes"] == len(bmp)
    assert feats["feature_dim"] == 3
    assert feats["feature_mean"] == ((sum(data) * 10**6) // (30 * h)) / 1e6

    with pytest.raises(ValueError, match="magic"):
        multimodal.bmp_decode(b"PNG" + bmp[3:])
    bad_bpp = bytearray(bmp)
    struct.pack_into("<H", bad_bpp, 28, 8)
    with pytest.raises(ValueError, match="24-bpp"):
        multimodal.bmp_decode(bytes(bad_bpp))


def test_bmp_resize_nn_matches_index_map():
    data = b"The quick brown fox jumps over the lazy dog 0123456789!" * 4
    bmp = multimodal.bmp_encode_gray24(data, width=30)
    h = -(-len(data) // 30)
    out = multimodal.bmp_resize_nn(bmp, 8, 4)
    px = multimodal.bmp_pixels(out)
    assert px.shape == (4, 8, 3)
    for r in range(4):
        for c in range(8):
            i = (r * h // 4) * 30 + (c * 30 // 8)
            expect = data[i] if i < len(data) else 0
            assert px[r, c, 2] == expect
    # identity resize round-trips exactly
    same = multimodal.bmp_resize_nn(bmp, 30, h)
    assert multimodal.bmp_pixels(same).tolist() == multimodal.bmp_pixels(bmp).tolist()


def test_bmp_pipelines_on_spark(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "a" * 95)], "doc_id long, text string"
    )
    payloads = multimodal.with_bmp_payload(df)
    decoded = {
        r["doc_id"]: r
        for r in multimodal.decode_pipeline(
            payloads, decode_fn=multimodal.bmp_decode
        ).collect()
    }
    assert decoded[1]["n_bytes"] == 54 + 92  # 11 bytes -> 1 row
    assert decoded[2]["n_bytes"] == 54 + 92 * 4  # 95 bytes -> 4 rows
    assert decoded[2]["feature_mean"] == ((ord("a") * 95 * 10**6) // 120) / 1e6

    resized = {
        r["doc_id"]: r
        for r in multimodal.resize_features_pipeline(payloads, 8, 4).collect()
    }
    assert resized[1]["out_bytes"] == 54 + 24 * 4  # 8*3=24, already 4-aligned
    # doc 2: all 'a' pixels; NN grid samples (r*4//4, c*30//8) all < 95
    # except padding region reached only when src row/col land past n
    import numpy as np
    n, h = 95, 4
    s = 0
    for r in range(4):
        for c in range(8):
            i = (r * h // 4) * 30 + (c * 30 // 8)
            s += ord("a") if i < n else 0
    assert resized[2]["resized_pixel_sum"] == s
