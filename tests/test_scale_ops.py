"""Scale-path operators: salted joins, bucketed tables, as-of/range joins
— correctness vs the plain formulation plus plan-shape evidence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark.operators import asof, skew
from muninn_avro_to_parquet_spark.plans import bucketing


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_salted_join_matches_plain(spark):
    big = spark.range(0, 2000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )  # key 0/1/2, heavily "skewed" by construction
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "unmatched")], "k long, tag string"
    )
    plain = big.join(small, ["k"])
    salted = skew.salted_join(big, small, ["k"], num_salts=4)
    assert _rows(salted, ["k", "v", "tag"]) == _rows(plain, ["k", "v", "tag"])


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "x"), (99, "y")], "k long, v string")
    small = spark.createDataFrame([(1, "m")], "k long, tag string")
    out = skew.salted_join(big, small, ["k"], num_salts=3, how="left")
    assert _rows(out, ["k", "v", "tag"]) == [(1, "x", "m"), (99, "y", None)]


def test_salt_spreads_keys(spark):
    """A single hot key must land in every salt bucket (that's the point)."""
    big = spark.range(0, 4000).select(F.lit(7).alias("k"), F.col("id").alias("v"))
    n = (
        skew.salt_side(big, 8)
        .select(skew.SALT_COL)
        .distinct()
        .count()
    )
    assert n == 8


@pytest.fixture(scope="module")
def bucket_db(spark, tmp_path_factory):
    loc = tmp_path_factory.mktemp("warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bkt LOCATION '{loc}'")
    yield "bkt"
    spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")


def test_bucketed_join_no_shuffle(spark, bucket_db):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    bucketing.write_bucketed(orders, "bkt.orders_b", ["o_orderkey"], 4)
    bucketing.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "bkt.lineitem_b",
        ["o_orderkey"],
        4,
    )
    # at fixture scale the planner prefers broadcast (also exchange-free on
    # the big side, but it hides the bucketing path this test demonstrates);
    # force the sort-merge decision a 100 TB fact-fact join would face
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ok, plan = bucketing.bucketed_join_plan_is_shuffle_free(
            spark, "bkt.orders_b", "bkt.lineitem_b", ["o_orderkey"]
        )
        assert ok, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # and the join still returns the right number of rows
    n = spark.table("bkt.orders_b").join(spark.table("bkt.lineitem_b"), ["o_orderkey"]).count()
    assert n == lineitem.count()


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, "t1"), (1, 20, "t2"), (2, 15, "t3")], "k long, ts long, name string"
    )
    right = spark.createDataFrame(
        [(1, 5, "q1"), (1, 20, "q2"), (1, 25, "q3"), (2, 99, "q4")],
        "k long, ts long, quote string",
    )
    out = {
        (r["k"], r["ts"]): (r["quote_right"], r["ts_right"])
        for r in asof.asof_join(left, right, on="ts", by=["k"]).collect()
    }
    assert out[(1, 10)] == ("q1", 5)
    assert out[(1, 20)] == ("q2", 20)  # ties match (>= semantics)
    assert out[(2, 15)] == (None, None)  # no earlier right row → nulls


def test_asof_join_single_shuffle(spark):
    """The union-and-carry as-of plans one hash exchange on the key —
    never a per-key row explosion."""
    left = spark.range(100).select((F.col("id") % 5).alias("k"), F.col("id").alias("ts"))
    right = spark.range(50).select((F.col("id") % 5).alias("k"), (F.col("id") * 2).alias("ts"))
    plan = asof.asof_join(left, right, on="ts", by=["k"])._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_counts(spark):
    events = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 150), (3, 1, 300), (4, 2, 120)],
        "event_id long, user_id long, ts long",
    )
    intervals = spark.createDataFrame(
        [(10, 1, 100, 200), (11, 2, 0, 50)], "iid long, user_id long, s long, e long"
    )
    out = asof.range_join(
        events, intervals, left_ts="ts", right_start="s", right_end="e", by=["user_id"], how="right"
    )
    got = {r["iid"]: r["n"] for r in out.groupBy("iid").agg(F.count("event_id").alias("n")).collect()}
    assert got == {10: 2, 11: 0}


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with nprobe=4/16 lists must recover most of the exact top-10
    (sanity floor, not a tuned benchmark) and every returned pair must
    carry the exact cosine score."""
    from muninn_avro_to_parquet_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    approx_rows = similarity.ann_topk_ivf(
        emb, queries, num_centroids=16, nprobe=4, k=10
    ).collect()
    approx = {(r["query_id"], r["vec_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
    # scores on overlapping pairs must match the exact computation
    exact_scores = {
        (r["query_id"], r["vec_id"]): r["cosine_sim"]
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    for r in approx_rows:
        key = (r["query_id"], r["vec_id"])
        if key in exact_scores:
            assert abs(r["cosine_sim"] - exact_scores[key]) < 1e-12


def test_minhash_bucket_cap(spark):
    """max_bucket drops oversize (boilerplate) band buckets: with the test
    corpus's near-identical docs, capping shrinks the pair set but keeps
    the capped output a subset of the uncapped one."""
    from muninn_avro_to_parquet_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidate_pairs(docs, "doc_id", "text", 8, 4).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidate_pairs(
            docs, "doc_id", "text", 8, 4, max_bucket=10
        ).collect()
    }
    assert capped <= full
    assert len(capped) < len(full)


def test_concurrent_table_convert(spark, tmp_path):
    """Two tables convert concurrently and both land correctly."""
    from muninn_avro_to_parquet_spark import convert
    from muninn_avro_to_parquet_spark.sources import avro_io
    from tests.conftest import CDC_SCHEMA

    for tname, ids in [("alpha", [1, 2, 3]), ("beta", [7, 8])]:
        base = tmp_path / "avro" / tname
        base.mkdir(parents=True)
        recs = [
            {
                "uuid": f"u{i}", "read_timestamp": i, "sort_keys": [],
                "source_metadata": {
                    "schema": "public", "table": tname, "is_deleted": False,
                    "change_type": "INSERT", "tx_id": i, "lsn": f"0/{i}",
                    "primary_keys": ["id"],
                },
                "payload": {
                    "id": i, "name": f"n{i}", "age": 1,
                    "balance": (10**29).to_bytes(16, "big", signed=True),
                    "score": 0.5, "active": True,
                    "created_at": 1, "updated_at": 1, "birth_date": 1,
                    "tags": [], "attrs": {},
                },
            }
            for i in ids
        ]
        avro_io.write_file(str(base / "f.avro"), CDC_SCHEMA, recs)

    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "out"),
        ingestion_date="2026-01-06", table_parallelism=2,
    )
    assert res.tables == {"alpha": 3, "beta": 2}


def test_asof_join_does_not_stitch_rows(spark):
    """A legitimately-NULL right value must NOT be back-filled from an
    older right row: the matched right row travels as one unit."""
    left = spark.createDataFrame([(1, 30)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, 10, 5), (1, 20, None)], "k long, ts long, qty int"
    )
    r = asof.asof_join(left, right, on="ts", by=["k"]).collect()[0]
    assert r["ts_right"] == 20
    assert r["qty_right"] is None  # NOT 5 from the ts=10 row


def test_range_join_right_outer_keeps_right_key(spark):
    """how='right': unmatched right rows keep their join key (coalesced),
    not NULL."""
    events = spark.createDataFrame([(1, 1, 100)], "event_id long, user_id long, ts long")
    intervals = spark.createDataFrame(
        [(10, 1, 100, 200), (11, 2, 0, 50)], "iid long, user_id long, s long, e long"
    )
    rows = {
        r["iid"]: r["user_id"]
        for r in asof.range_join(
            events, intervals, "ts", "s", "e", by=["user_id"], how="right"
        ).collect()
    }
    assert rows == {10: 1, 11: 2}  # iid=11 unmatched, key preserved


def test_normalize_unit_norm(spark):
    from muninn_avro_to_parquet_spark.operators import similarity

    df = spark.createDataFrame([(1, [3.0, 4.0])], "vec_id long, embedding array<float>")
    vec = similarity.normalize(df).collect()[0]["embedding"]
    assert abs(vec[0] - 0.6) < 1e-6 and abs(vec[1] - 0.8) < 1e-6


def test_normalize_survives_zero_vector(spark):
    """A zero embedding (norm 0) must normalize to NULL elements, not
    abort the job with DIVIDE_BY_ZERO under ANSI mode."""
    from muninn_avro_to_parquet_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rows = {r["vec_id"]: r["embedding"] for r in similarity.normalize(df).collect()}
    assert abs(rows[1][0] - 0.6) < 1e-6
    assert rows[2] == [None, None]


def test_exact_dedup_null_vs_sentinel(spark):
    from muninn_avro_to_parquet_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, None), (2, "\x01"), (3, None)], "doc_id long, text string"
    )
    out = sorted(r["doc_id"] for r in dedup.exact_dedup(df, ["text"], "doc_id").collect())
    # NULL and the literal "\x01" string are DIFFERENT keys
    assert out == [1, 2]


def test_simhash_bands_cover_signature(spark):
    from muninn_avro_to_parquet_spark.operators import dedup
    from pyspark.sql import functions as F

    sig = spark.createDataFrame(
        [(1, "0" * 56 + "10101010"), (2, "1" * 56 + "10101010")],
        "doc_id long, simhash string",
    )
    # docs agree ONLY on the last 8 bits; with prefix_bits=8 all 8 bands
    # must be generated, so the final band pairs them
    pairs = dedup.simhash_candidate_pairs(sig, "doc_id", prefix_bits=8).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_register_views_repoints_after_dir_switch(spark):
    """Alternating sf dirs in one session must re-point the temp views —
    a cache hit that skips registration serves the WRONG dataset."""
    from muninn_avro_to_parquet_spark import tables

    tables.register_views(spark, "/root/testdata/sf0.001")
    small = spark.table("customer").count()
    tables.register_views(spark, "/root/testdata/sf0.01")
    big = spark.table("customer").count()
    tables.register_views(spark, "/root/testdata/sf0.001")
    again = spark.table("customer").count()
    assert small == again and big > small


def test_stateful_counts_bigint_key(spark, tmp_path):
    """running_counts_stateful must carry the key's actual type through
    the state schema (was hardcoded to string)."""
    from muninn_avro_to_parquet_spark.streaming import windows

    src = str(tmp_path / "ev_bigkey")
    spark.createDataFrame(
        [(10_000_000_000, "2026-01-01 00:00:00"), (10_000_000_000, "2026-01-01 00:01:00")],
        "user_id long, ts_s string",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts")).write.parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    q = (
        windows.running_counts_stateful(stream, key_col="user_id")
        .writeStream.format("memory")
        .queryName("bigkey_test")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_bigkey"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM bigkey_test").collect()
    finally:
        q.stop()
    assert got[0]["user_id"] == 10_000_000_000 and got[0]["n_events"] == 2


def test_cosine_survives_zero_vector(spark):
    """A zero embedding must yield NULL cosine (ranked last), not a
    DIVIDE_BY_ZERO under ANSI mode."""
    from muninn_avro_to_parquet_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = similarity.cosine_topk(corpus, corpus.filter(F.col("vec_id") == 1), k=3)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert rows[3]["cosine_sim"] is None
    assert rows[3]["rank"] == 2  # NULL score ranks after the real match


def test_cosine_topk_keeps_overlapping_ids_when_asked(spark):
    from muninn_avro_to_parquet_spark.operators import similarity

    corpus = spark.createDataFrame([(7, [1.0, 0.0])], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame([(7, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert similarity.cosine_topk(corpus, queries, k=1).count() == 0  # self-search default
    got = similarity.cosine_topk(corpus, queries, k=1, exclude_self=False).collect()
    assert got[0]["vec_id"] == 7 and abs(got[0]["cosine_sim"] - 1.0) < 1e-12


def test_exact_dedup_null_id_group_survives(spark):
    from muninn_avro_to_parquet_spark.operators import dedup

    df = spark.createDataFrame(
        [(None, "k1"), (None, "k1"), (5, "k2")], "id long, k string"
    )
    out = dedup.exact_dedup(df, ["k"], "id").collect()
    keys = sorted(r["k"] for r in out)
    assert keys == ["k1", "k2"]  # the all-NULL-id group keeps one row


def test_asof_ignores_null_right_timestamps(spark):
    left = spark.createDataFrame([(1, 3)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, None, "nullts"), (1, 5, "real")], "k long, ts long, val string"
    )
    r = asof.asof_join(left, right, on="ts", by=["k"]).collect()[0]
    assert r["val_right"] is None and r["ts_right"] is None


def test_band_divisibility_asserts(spark):
    import pytest

    from muninn_avro_to_parquet_spark.operators import dedup

    sig = spark.createDataFrame([(1, "x")], "doc_id long, mh00 string")
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_bands(sig, "doc_id", num_hashes=16, bands=5)
    sig2 = spark.createDataFrame([(1, "0" * 64)], "doc_id long, simhash string")
    with pytest.raises(ValueError, match="must divide"):
        dedup.simhash_candidate_pairs(sig2, "doc_id", prefix_bits=12)


def test_salted_join_rejects_right_join(spark):
    import pytest

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(2, "m")], "k long, tag string")
    with pytest.raises(ValueError, match="right/full"):
        skew.salted_join(big, small, ["k"], how="right")
    with pytest.raises(ValueError, match="_salt"):
        skew.salted_join(big.withColumn("_salt", F.lit(1)), small, ["k"])


def test_null_text_yields_null_counts(spark):
    """NULL documents produce NULL token counts/scores (matching the SQL
    oracles' len(NULL) → NULL), not Spark's size(NULL) == -1."""
    from muninn_avro_to_parquet_spark.operators import text as TX

    df = spark.createDataFrame([(1, None), (2, "two words")], "doc_id long, text string")
    got = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", TX.token_count(F.col("text")).alias("n")).collect()
    }
    assert got == {1: None, 2: 2}
    q = TX.quality_features(df).select("doc_id", "n_tokens", "quality_score").collect()
    byid = {r["doc_id"]: r for r in q}
    assert byid[1]["n_tokens"] is None


def test_multimodal_custom_id_col(spark):
    from muninn_avro_to_parquet_spark.operators import multimodal

    df = spark.createDataFrame([(10, "hello")], "image_id long, text string")
    d = multimodal.attach_binary(df)
    out = multimodal.decode_images(d, id_col="image_id", deterministic_fake=True)
    assert out.columns[0] == "image_id"
    plan = multimodal.frame_sample_plan(d, id_col="image_id")
    assert plan.columns == ["image_id", "frame_index"]


def _bmp_bytes(width, height, rgb):
    """Minimal uncompressed 24-bit BMP with every pixel = rgb."""
    import struct

    row = bytes(rgb[::-1]) * width  # BMP stores BGR
    row += b"\x00" * ((4 - len(row) % 4) % 4)
    pixels = row * height
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    return header + info + pixels


def _wav_bytes(rate, samples):
    """PCM-16 mono WAV from a list of int samples."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def test_multimodal_real_image_decode(spark):
    """The NON-fake path really decodes: a white 4x2 BMP and a black PPM
    yield exact dimensions and luma through the mapInPandas plumbing."""
    from muninn_avro_to_parquet_spark.operators import multimodal

    white_bmp = _bmp_bytes(4, 2, (255, 255, 255))
    black_ppm = b"P6\n3 5\n255\n" + bytes(3 * 3 * 5)
    df = spark.createDataFrame([(1, white_bmp), (2, black_ppm)], "doc_id long, media binary")
    rows = {r["doc_id"]: r for r in multimodal.decode_images(df).collect()}
    assert (rows[1]["width"], rows[1]["height"]) == (4, 2)
    assert abs(rows[1]["mean_luma"] - 1.0) < 1e-9
    assert (rows[2]["width"], rows[2]["height"]) == (3, 5)
    assert rows[2]["mean_luma"] == 0.0


def test_multimodal_ppm_maxval_contract():
    """maxval is not silently mis-decoded: >255 (2-byte samples) raises in
    both decoders; <255 still normalizes correctly on the feature path but
    raises on the pixel path (resize hard-codes the 255 scale)."""
    import pytest

    from muninn_avro_to_parquet_spark.operators.multimodal import (
        _decode_ppm,
        _decode_ppm_pixels,
    )

    wide = b"P6\n1 1\n65535\n" + bytes(6)
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm(wide)
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm_pixels(wide)

    # maxval 15, all-max pixels: feature path normalizes to luma 1.0
    lo = b"P6\n2 1\n15\n" + bytes([15] * 6)
    w, h, luma = _decode_ppm(lo)
    assert (w, h) == (2, 1) and abs(luma - 1.0) < 1e-9
    with pytest.raises(ValueError, match="maxval"):
        _decode_ppm_pixels(lo)


def test_multimodal_real_audio_decode(spark):
    """PCM WAV decodes via the stdlib: exact rate, duration, and RMS."""
    from muninn_avro_to_parquet_spark.operators import multimodal

    # 16000 Hz, 8000 samples = 0.5 s, constant amplitude 16384 → rms 0.5
    wav = _wav_bytes(16000, [16384] * 8000)
    df = spark.createDataFrame([(7, wav)], "doc_id long, media binary")
    r = multimodal.decode_audio(df).collect()[0]
    assert r["sample_rate"] == 16000
    assert abs(r["duration_s"] - 0.5) < 1e-9
    assert abs(r["rms"] - 0.5) < 1e-9


def _bmp_rows(width, height, rows_topdown):
    """Uncompressed 24-bit BMP from explicit per-pixel rows (top-down)."""
    import struct

    out_rows = []
    for row in reversed(rows_topdown):  # BMP stores rows bottom-up, BGR
        rb = b"".join(bytes(px[::-1]) for px in row)
        rb += b"\x00" * ((4 - len(rb) % 4) % 4)
        out_rows.append(rb)
    pixels = b"".join(out_rows)
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixels), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    return header + info + pixels


def test_fit_within_integer_math():
    from muninn_avro_to_parquet_spark.operators.multimodal import fit_within

    assert fit_within(4, 2, 3, 3) == (3, 1)  # wide: width binds
    assert fit_within(2, 4, 3, 3) == (1, 3)  # tall: height binds
    assert fit_within(2, 2, 3, 3) == (2, 2)  # no upscale
    assert fit_within(100, 1, 3, 3) == (3, 1)  # floor clamps to >= 1
    assert fit_within(1, 100, 3, 3) == (1, 3)


def test_multimodal_resize_exact_pixels(spark):
    """Nearest-neighbor resize picks exact source pixels (floor mapping):
    a 4x2 BMP with known quadrants downsampled to 2x1 yields precisely the
    top row's pixels 0 and 2, re-encoded as canonical P6 — verified
    byte-for-byte via md5 against a hand-built expected payload."""
    import hashlib

    from muninn_avro_to_parquet_spark.operators import multimodal

    R, B, G, W = (255, 0, 0), (0, 0, 255), (0, 255, 0), (255, 255, 255)
    img = _bmp_rows(4, 2, [[R, R, B, B], [G, G, W, W]])
    ppm = b"P6\n4 2\n255\n" + bytes(v for px in [R, R, B, B, G, G, W, W] for v in px)
    df = spark.createDataFrame(
        [(1, img), (2, ppm)], "doc_id long, media binary"
    )
    rows = {
        r["doc_id"]: r
        for r in multimodal.resize_images(df, max_w=2, max_h=2).collect()
    }
    expected = b"P6\n2 1\n255\n" + bytes(v for px in [R, B] for v in px)
    for r in rows.values():  # BMP and PPM inputs produce identical output
        assert (r["src_width"], r["src_height"]) == (4, 2)
        assert (r["width"], r["height"]) == (2, 1)
        assert bytes(r["media"]) == expected
        assert r["content_md5"] == hashlib.md5(expected).hexdigest()
        assert r["n_bytes"] == len(expected)
        # mean luma of {red, blue} = (0.299 + 0.114) / 2
        assert abs(r["mean_luma"] - (0.299 + 0.114) / 2) < 1e-9


def test_multimodal_resize_no_upscale(spark):
    """A source already inside the box passes through at original dims and
    survives a decode round-trip of the canonical P6 payload."""
    from muninn_avro_to_parquet_spark.operators import multimodal
    from muninn_avro_to_parquet_spark.operators.multimodal import _decode_ppm_pixels

    G = (10, 200, 30)
    img = _bmp_rows(2, 2, [[G, G], [G, G]])
    df = spark.createDataFrame([(1, img)], "doc_id long, media binary")
    r = multimodal.resize_images(df, max_w=8, max_h=8).collect()[0]
    assert (r["width"], r["height"]) == (2, 2)
    w, h, px = _decode_ppm_pixels(bytes(r["media"]))
    assert (w, h, px) == (2, 2, [G, G, G, G])


def _encode_png(width, height, rows, color_type=2, filters=None, palette=b"",
                bit_depth=8):
    """Minimal stdlib PNG writer for fixtures: ``rows`` is a list of raw
    scanlines (bytes, already channel-packed — 16-bit samples arrive as
    big-endian byte pairs, sub-byte samples arrive BIT-packed); ``filters
    [y]`` selects the per-row filter to ENCODE with, so the decoder's
    unfilter paths (Sub/Up/Average/Paeth) are all exercised, not just
    None. For sub-byte depths the filter offset is one whole byte
    (spec §9)."""
    import struct
    import zlib

    channels = max(
        1, {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type] * (bit_depth // 8)
    )

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload))
        )

    raw = bytearray()
    stride = (
        (width * bit_depth + 7) // 8 if bit_depth < 8 else width * channels
    )
    prev = bytes(stride)
    for y, line in enumerate(rows):
        f = 0 if filters is None else filters[y % len(filters)]
        raw.append(f)
        for i, v in enumerate(line):
            a = line[i - channels] if i >= channels else 0
            b = prev[i]
            c = prev[i - channels] if i >= channels else 0
            if f == 0:
                enc = v
            elif f == 1:
                enc = v - a
            elif f == 2:
                enc = v - b
            elif f == 3:
                enc = v - ((a + b) >> 1)
            else:  # Paeth
                est = a + b - c
                pa, pb, pc = abs(est - a), abs(est - b), abs(est - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc = v - pred
            raw.append(enc & 0xFF)
        prev = line
    out = b"\x89PNG\r\n\x1a\n"
    out += chunk(b"IHDR", struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0))
    if palette:
        out += chunk(b"PLTE", palette)
    out += chunk(b"IDAT", zlib.compress(bytes(raw)))
    out += chunk(b"IEND", b"")
    return out


def test_multimodal_real_decode_png_stdlib(spark):
    """Pure-stdlib PNG decode (VERDICT r6 #7 / r7 #10): fixture-oracle
    over RGB with every scanline filter (None/Sub/Up/Average/Paeth),
    grayscale, RGBA, and palette images — mean luma matches the value
    computed directly from the pixel arrays, no Pillow anywhere."""
    from muninn_avro_to_parquet_spark.operators import multimodal

    w, h = 7, 5
    rgb_rows = [
        bytes((x * 11 + y * 29) % 256 for x in range(w * 3)) for y in range(h)
    ]
    png_rgb = _encode_png(w, h, rgb_rows, color_type=2, filters=[0, 1, 2, 3, 4])
    gray_rows = [bytes((x * 7 + y * 3) % 256 for x in range(w)) for y in range(h)]
    png_gray = _encode_png(w, h, gray_rows, color_type=0, filters=[4, 3, 2, 1, 0])
    rgba_rows = [
        bytes((x * 5 + y * 13) % 256 for x in range(w * 4)) for y in range(h)
    ]
    png_rgba = _encode_png(w, h, rgba_rows, color_type=6, filters=[2, 4, 1])
    palette = bytes(range(48))  # 16 entries x RGB
    pal_rows = [bytes((x + y) % 16 for x in range(w)) for y in range(h)]
    png_pal = _encode_png(w, h, pal_rows, color_type=3, filters=[1, 4], palette=palette)

    def want_luma(rows, step, off_r=0):
        total = 0.0
        for line in rows:
            for i in range(0, len(line), step):
                r, g, b = line[i + off_r], line[i + off_r + 1], line[i + off_r + 2]
                total += 0.299 * r + 0.587 * g + 0.114 * b
        return total / (w * h * 255.0)

    df = spark.createDataFrame(
        [(1, png_rgb), (2, png_gray), (3, png_rgba), (4, png_pal)],
        "doc_id long, media binary",
    )
    got = {r["doc_id"]: r for r in multimodal.decode_images(df).collect()}
    assert all((got[i]["width"], got[i]["height"]) == (w, h) for i in got)
    assert abs(got[1]["mean_luma"] - want_luma(rgb_rows, 3)) < 1e-9
    assert abs(got[2]["mean_luma"] - sum(sum(r) for r in gray_rows) / (w * h * 255.0)) < 1e-9
    assert abs(got[3]["mean_luma"] - want_luma(rgba_rows, 4)) < 1e-9
    pal_luma = sum(
        0.299 * palette[v * 3] + 0.587 * palette[v * 3 + 1] + 0.114 * palette[v * 3 + 2]
        for line in pal_rows for v in line
    ) / (w * h * 255.0)
    assert abs(got[4]["mean_luma"] - pal_luma) < 1e-9


def test_multimodal_real_decode_png_16bit(spark):
    """16-bit PNG read (VERDICT r9 #7): gray and RGB at depth 16 with
    every filter, luma normalized by 65535 and checked against the value
    computed directly from the 16-bit samples; plus an INDEPENDENT-
    encoder cross-check — javax.imageio writes a TYPE_USHORT_GRAY PNG
    and our decoder must agree with the source raster exactly."""
    import struct

    from muninn_avro_to_parquet_spark.operators import multimodal

    w, h = 7, 5
    # 16-bit samples spanning the full range (not byte-doubled values)
    gray16 = [[(x * 9173 + y * 12289) % 65536 for x in range(w)] for y in range(h)]
    gray_rows = [
        b"".join(struct.pack(">H", v) for v in line) for line in gray16
    ]
    png_g16 = _encode_png(
        w, h, gray_rows, color_type=0, filters=[0, 1, 2, 3, 4], bit_depth=16
    )
    rgb16 = [
        [(x * 4099 + y * 8191 + c * 257) % 65536 for x in range(w) for c in range(3)]
        for y in range(h)
    ]
    rgb_rows = [b"".join(struct.pack(">H", v) for v in line) for line in rgb16]
    png_rgb16 = _encode_png(
        w, h, rgb_rows, color_type=2, filters=[4, 3, 2, 1, 0], bit_depth=16
    )
    df = spark.createDataFrame(
        [(1, png_g16), (2, png_rgb16)], "doc_id long, media binary"
    )
    got = {r["doc_id"]: r for r in multimodal.decode_images(df).collect()}
    assert (got[1]["width"], got[1]["height"]) == (w, h)
    want_g = sum(sum(line) for line in gray16) / (w * h * 65535.0)
    assert abs(got[1]["mean_luma"] - want_g) < 1e-9
    want_rgb = sum(
        0.299 * line[i] + 0.587 * line[i + 1] + 0.114 * line[i + 2]
        for line in rgb16
        for i in range(0, len(line), 3)
    ) / (w * h * 65535.0)
    assert abs(got[2]["mean_luma"] - want_rgb) < 1e-9

    # independent encoder: ImageIO 16-bit gray PNG → our decoder
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    bi = jvm.java.awt.image.BufferedImage(w, h, 11)  # TYPE_USHORT_GRAY
    raster = bi.getRaster()
    for y in range(h):
        for x in range(w):
            raster.setSample(x, y, 0, gray16[y][x])
    baos = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "png", baos)
    jbytes = bytes(baos.toByteArray())
    jdf = spark.createDataFrame([(9, jbytes)], "doc_id long, media binary")
    jrow = multimodal.decode_images(jdf).collect()[0]
    assert (jrow["width"], jrow["height"]) == (w, h)
    assert abs(jrow["mean_luma"] - want_g) < 1e-9


def test_multimodal_real_decode_png_adam7(spark):
    """Adam7-interlaced PNG read (r10): ImageIO-encoded interlaced files
    (8-bit RGB with odd dimensions hitting partial passes, and 16-bit
    grayscale) must decode to the exact luma of the source raster."""
    from muninn_avro_to_parquet_spark.operators import multimodal

    jvm = spark._jvm
    gw = spark.sparkContext._gateway

    def imageio_png(bi, interlace):
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
        param = writer.getDefaultWriteParam()
        if interlace:
            param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
        ios.flush()
        return bytes(baos.toByteArray())

    w, h = 13, 9  # odd dims: several passes are partial, pass 2 starts x=4
    pix = [((x * 19) % 256, (y * 31) % 256, ((x + y) * 13) % 256)
           for y in range(h) for x in range(w)]
    bi = jvm.java.awt.image.BufferedImage(w, h, 1)
    ja = gw.new_array(jvm.int, w * h)
    for i, (r, g, b) in enumerate(pix):
        ja[i] = (r << 16) | (g << 8) | b
    bi.setRGB(0, 0, w, h, ja, 0, w)
    want = sum(0.299 * r + 0.587 * g + 0.114 * b for r, g, b in pix) / (w * h * 255.0)
    data = imageio_png(bi, True)
    assert data[28] == 1  # IHDR interlace byte really set
    df = spark.createDataFrame([(1, data)], "doc_id long, media binary")
    row = multimodal.decode_images(df).collect()[0]
    assert (row["width"], row["height"]) == (w, h)
    assert abs(row["mean_luma"] - want) < 1e-9

    w2, h2 = 11, 7
    bi2 = jvm.java.awt.image.BufferedImage(w2, h2, 11)  # TYPE_USHORT_GRAY
    ras = bi2.getRaster()
    vals = [(x * 9173 + y * 12289) % 65536 for y in range(h2) for x in range(w2)]
    for y in range(h2):
        for x in range(w2):
            ras.setSample(x, y, 0, vals[y * w2 + x])
    data2 = imageio_png(bi2, True)
    assert data2[28] == 1 and data2[24] == 16
    df2 = spark.createDataFrame([(1, data2)], "doc_id long, media binary")
    row2 = multimodal.decode_images(df2).collect()[0]
    assert (row2["width"], row2["height"]) == (w2, h2)
    assert abs(row2["mean_luma"] - sum(vals) / (w2 * h2 * 65535.0)) < 1e-9


def _pack_bits(vals, depth):
    """Bit-pack sub-byte samples MSB-first, row padded to a whole byte."""
    per = 8 // depth
    row = bytearray((len(vals) * depth + 7) // 8)
    for i, v in enumerate(vals):
        row[i // per] |= (v & ((1 << depth) - 1)) << (8 - depth * (i % per + 1))
    return bytes(row)


def test_multimodal_png_subbyte_gray_own_writer(spark):
    """1/2/4-bit grayscale through the engine-test writer with every
    scanline filter (r10 verdict #4): decoded luma must equal the
    arithmetic mean over the sample grid, normalized by 2^depth - 1."""
    from muninn_avro_to_parquet_spark.operators import multimodal

    for depth in (1, 2, 4):
        w, h = 19, 7
        maxv = (1 << depth) - 1
        vals = [
            [((x * 5 + y * 7) % 11) % (maxv + 1) for x in range(w)]
            for y in range(h)
        ]
        png = _encode_png(
            w, h, [_pack_bits(v, depth) for v in vals],
            color_type=0, filters=[0, 1, 2, 3, 4], bit_depth=depth,
        )
        df = spark.createDataFrame([(1, png)], "doc_id long, media binary")
        row = multimodal.decode_images(df).collect()[0]
        assert (row["width"], row["height"]) == (w, h), depth
        want = sum(map(sum, vals)) / (w * h * maxv)
        assert abs(row["mean_luma"] - want) < 1e-9, depth


def test_multimodal_png_subbyte_imageio_conformance(spark):
    """Independent-encoder conformance for sub-byte reads: javax.imageio
    writes genuinely 1-bit bilevel and 2/4-bit palette PNGs (plain AND
    Adam7-interlaced); our decoder's luma must equal the luma computed
    from ImageIO's own read of the same bytes. Also re-verifies the
    committed pimg_03..05 fixtures both ways."""
    from muninn_avro_to_parquet_spark.operators import multimodal
    from muninn_avro_to_parquet_spark.operators.multimodal import (
        _LUMA_B,
        _LUMA_G,
        _LUMA_R,
        _decode_png,
    )

    jvm = spark._jvm

    def imageio_png(bi, interlace):
        writer = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
        param = writer.getDefaultWriteParam()
        if interlace:
            param.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        baos = jvm.java.io.ByteArrayOutputStream()
        ios = jvm.javax.imageio.ImageIO.createImageOutputStream(baos)
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(bi, None, None), param)
        ios.flush()
        return bytes(baos.toByteArray())

    def imageio_luma(data):
        bi = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(data))
        w, h = bi.getWidth(), bi.getHeight()
        tot = 0.0
        for y in range(h):
            for x in range(w):
                rgb = bi.getRGB(x, y)
                tot += (
                    _LUMA_R * ((rgb >> 16) & 255)
                    + _LUMA_G * ((rgb >> 8) & 255)
                    + _LUMA_B * (rgb & 255)
                )
        return w, h, tot / (w * h * 255.0)

    BI = jvm.java.awt.image.BufferedImage
    images = []
    # 1-bit bilevel (TYPE_BYTE_BINARY default colorspace)
    bi = BI(21, 13, BI.TYPE_BYTE_BINARY)
    for y in range(13):
        for x in range(21):
            bi.setRGB(x, y, 0xFFFFFF if ((x * 3 + y * 5) % 7 < 3) else 0)
    images.append((1, bi))
    # 2-bit and 4-bit palettes via IndexColorModel
    for depth, n in ((2, 4), (4, 16)):
        reds = bytes((i * 37) % 256 for i in range(n))
        greens = bytes((i * 59) % 256 for i in range(n))
        blues = bytes((i * 83) % 256 for i in range(n))
        icm = jvm.java.awt.image.IndexColorModel(depth, n, reds, greens, blues)
        bi = BI(17, 9, BI.TYPE_BYTE_BINARY, icm)
        for y in range(9):
            for x in range(17):
                i = (x * 3 + y) % n
                bi.setRGB(
                    x, y,
                    ((reds[i] << 16) | (greens[i] << 8) | blues[i])
                    | 0xFF000000 - 0x100000000,
                )
        images.append((depth, bi))
    for depth, bi in images:
        for interlace in (False, True):
            data = imageio_png(bi, interlace)
            # the conformance claim requires ImageIO actually wrote
            # sub-byte + the requested interlace mode
            assert data[24] == depth and data[28] == int(interlace)
            got = _decode_png(data)
            want = imageio_luma(data)
            assert got[:2] == want[:2]
            assert abs(got[2] - want[2]) < 1e-12, (depth, interlace)
    # committed fixtures re-verified both ways
    import os

    fdir = os.path.join(
        os.path.dirname(multimodal.__file__), "..", "fixtures", "binary"
    )
    for name in ("pimg_03.png", "pimg_04.png", "pimg_05.png"):
        data = open(os.path.join(fdir, name), "rb").read()
        got = _decode_png(data)
        want = imageio_luma(data)
        assert got[:2] == want[:2], name
        assert abs(got[2] - want[2]) < 1e-12, name


def test_multimodal_png_rejects_unsupported_variants(spark):
    """Spec-invalid depth/colortype combinations and invalid interlace
    methods raise instead of silently mis-decoding (16-bit and Adam7
    read natively as of r10; sub-byte gray/palette as of r11 — so the
    rejects left are the combinations the SPEC itself forbids)."""
    import struct
    import zlib

    import pytest

    from muninn_avro_to_parquet_spark.operators import multimodal

    def ihdr_png(bit_depth, interlace, color_type=0):
        def chunk(ctype, payload):
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(">I", zlib.crc32(ctype + payload))
            )

        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, bit_depth, color_type, 0, 0, interlace))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
            + chunk(b"IEND", b"")
        )

    for payload, msg in (
        (ihdr_png(3, 0), "bit depth"),                # non-spec depth
        (ihdr_png(4, 0, color_type=2), "color type"),  # sub-byte RGB: spec-invalid
        (ihdr_png(16, 0, color_type=3), "16-bit"),     # 16-bit palette: spec-invalid
        (ihdr_png(8, 2), "interlace method"),
    ):
        df = spark.createDataFrame([(1, payload)], "doc_id long, media binary")
        with pytest.raises(Exception, match=msg):
            multimodal.decode_images(df).collect()


def test_multimodal_unsupported_format_raises(spark):
    from muninn_avro_to_parquet_spark.operators import multimodal

    df = spark.createDataFrame([(1, b"\x89PNG-not-really")], "doc_id long, media binary")
    import pytest

    with pytest.raises(Exception, match="unsupported image format"):
        multimodal.decode_images(df).collect()


def test_multiprobe_lsh_superset_recall(spark):
    """Multiprobe probes the query's bucket plus every 1-bit flip: its
    candidate set strictly contains plain LSH's, so recall against brute
    force can only improve — and the corpus-side index is untouched."""
    from tests.conftest import SF_SMOKE

    from muninn_avro_to_parquet_spark.queries import QUERIES

    bf = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["ann_topk_bruteforce"].spark(spark, SF_SMOKE).collect()
    }
    plain = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["ann_topk_lsh"].spark(spark, SF_SMOKE).collect()
    }
    mp = {
        (r["query_id"], r["vec_id"])
        for r in QUERIES["ann_topk_lsh_multiprobe"].spark(spark, SF_SMOKE).collect()
    }
    assert len(mp & bf) >= len(plain & bf)
    # ranked output is well-formed: ranks start at 1 per query, no dups
    rows = QUERIES["ann_topk_lsh_multiprobe"].spark(spark, SF_SMOKE).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_unrelated_q_column_not_trusted(spark):
    """ADVICE r4: _with_qnorm must only reuse a `_q` column stamped by
    hyperplane_buckets for the SAME vec_col; a caller df carrying an
    unrelated `_q` (e.g. its own business column) must be re-quantized,
    not silently used as the quantization — which would poison every norm
    and cosine with no error."""
    from muninn_avro_to_parquet_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0], [999999]), (2, [0.6, 0.8], [1])],
        "vec_id long, embedding array<float>, _q array<long>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {
        r["vec_id"]: r["cosine_sim"]
        for r in similarity.cosine_topk(corpus, queries, k=2).collect()
    }
    assert abs(got[1] - 1.0) < 1e-9        # poisoned _q would skew this
    assert abs(got[2] - 0.6) < 1e-6

    # the hyperplane path still reuses its own stamped quantization
    b = similarity.hyperplane_buckets(
        corpus.drop("_q"), dim=2, num_planes=4, id_col="vec_id", vec_col="embedding"
    )
    meta = b.schema["_q"].metadata
    assert meta.get("qvec_of") == "embedding"


def test_single_gigabyte_file_fans_out_bounded(spark, tmp_path):
    """VERDICT r4 #1 — the 100 TB ingest claim's single-file member: one
    ~1 GiB multi-block Avro file must (a) fan out across >=16 byte-range
    splits that decode every record exactly once, and (b) stream through
    the decoder in bounded batches (<= BATCH_ROWS rows each), never
    materializing the file in one task — the reference's whole-file
    ReadMatches model OOMs here (reference main.py:519).

    Default size is 192 MiB (3 splits — same code paths, suite-friendly on
    the 4-core test session); the full >=1 GiB / >=16-split run is
    SPARK_GRAFT_BIGFILE_BYTES=1073741824 here and the per-round
    ``convert_bigfile`` bench entry (32 cores), which records rows/s."""
    import os
    import time

    from muninn_avro_to_parquet_spark import convert
    from muninn_avro_to_parquet_spark.sources import avro_io, avro_source
    from muninn_avro_to_parquet_spark.sources.avro_source import (
        BATCH_ROWS,
        plan_splits,
    )
    from muninn_avro_to_parquet_spark import schema as S
    from tests.conftest import CDC_SCHEMA

    target = int(os.environ.get("SPARK_GRAFT_BIGFILE_BYTES", str(192 << 20)))
    template = [
        {
            "uuid": f"u{i}", "read_timestamp": i, "sort_keys": [],
            "source_metadata": {
                "schema": "public", "table": "bigone", "is_deleted": False,
                "change_type": "INSERT", "tx_id": i, "lsn": f"0/{i:x}",
                "primary_keys": ["id"],
            },
            "payload": {
                "id": i, "name": f"n{i % 997}", "age": i % 120,
                "balance": ((i % 9999) * 10**28).to_bytes(16, "big", signed=True),
                "score": (i % 1000) / 7.0, "active": i % 2 == 0,
                "created_at": 1_700_000_000_000 + i,
                "updated_at": 1_700_000_000_000 + i,
                "birth_date": i % 20000, "tags": [f"t{i % 5}"],
                "attrs": {"k": str(i % 50)},
            },
        }
        for i in range(20_000)
    ]
    base = tmp_path / "avro" / "bigone"
    base.mkdir(parents=True)
    path = str(base / "huge.avro")
    # probe bytes/row with one repeat, then extend to the target size
    avro_io.write_file_repeated(path, CDC_SCHEMA, template, repeats=1, block_size=2000)
    per_repeat = os.path.getsize(path)
    repeats = max(1, -(-target // per_repeat))
    n_rows = avro_io.write_file_repeated(
        path, CDC_SCHEMA, template, repeats=repeats, block_size=2000
    )
    size = os.path.getsize(path)
    assert size >= target

    # (a) split fanout: >=16 driver-side splits, and the decode plan keeps
    # that parallelism (no single-task funnel)
    splits = plan_splits([path])
    expected = -(-size // avro_source.SPLIT_BYTES)
    assert len(splits) == expected and expected >= 3, (len(splits), expected)
    # the decode plan keeps every available execution slot busy: the read
    # path plans splits with target_tasks = 2×parallelism, so even ONE
    # file fans out to all cores (4-core test session → 8 tasks here; a
    # 1000-executor cluster gets its own 2×slots fanout)
    target = spark.sparkContext.defaultParallelism * 2
    adaptive = plan_splits([path], target_tasks=target)
    assert len(adaptive) >= min(target, size // avro_source.MIN_SPLIT_BYTES)
    # the partition-count contract under test is the PYTHON decoder's
    # adaptive split planning — pin the engine (since the r9 stringify
    # alignment this fixture rides the JVM scan under auto, whose split
    # sizing is the DSv2 source's own and is covered by test_jvm_avro)
    spark.conf.set("spark.muninn.avro.engine", "python")
    try:
        df = convert.convert_df(spark, str(tmp_path / "avro" / "**" / "*.avro"))
        assert df.rdd.getNumPartitions() == min(len(adaptive), target)
    finally:
        spark.conf.set("spark.muninn.avro.engine", "auto")

    # (b) bounded batches: drive the per-task decoder directly over the
    # LARGEST split and assert no batch exceeds the streaming bound
    plans = S.derive_field_plans(avro_io.read_schema(path))
    biggest = max(splits, key=lambda s: s[2] - s[1])
    batch_rows = [
        len(b) for b in avro_source._batches_for_splits([biggest], plans)
    ]
    assert max(batch_rows) <= BATCH_ROWS
    assert sum(batch_rows) < n_rows  # one split != the whole file

    # (c) end-to-end convert: every record exactly once, throughput logged
    t0 = time.time()
    res = convert.convert(
        spark, str(tmp_path / "avro" / "**" / "*.avro"), str(tmp_path / "out"),
        ingestion_date="2026-01-07",
    )
    wall = time.time() - t0
    assert res.tables == {"bigone": n_rows}
    print(
        f"\nbigfile: {size / 2**30:.2f} GiB, {n_rows} rows, {len(splits)} splits, "
        f"convert {wall:.1f}s = {n_rows / wall / 1000:.0f}k rows/s"
    )


def test_cosine_pairs_max_rows_guard(spark):
    """VERDICT r4 #7 / r5 #9: the max_rows guard aborts the quadratic
    crossJoin before it is scheduled, is ON by default (100k), and can
    only be lifted by an explicit max_rows=None opt-out."""
    import inspect

    from muninn_avro_to_parquet_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(i, [1.0 * i, 1.0]) for i in range(1, 6)],
        "vec_id long, embedding array<float>",
    )
    ok = similarity.cosine_pairs(corpus, threshold=0.0, max_rows=10)
    assert ok.count() == 10  # C(5,2) pairs
    with pytest.raises(ValueError, match="max_rows"):
        similarity.cosine_pairs(corpus, threshold=0.0, max_rows=4)
    # guard-on default: not None, and small enough that a 10^9-row
    # corpus can never silently cross-join through the default path
    default = inspect.signature(similarity.cosine_pairs).parameters["max_rows"].default
    assert default is not None and default <= 1_000_000
    # default path still works within the bound and opt-out is explicit
    assert similarity.cosine_pairs(corpus, threshold=0.0).count() == 10
    assert similarity.cosine_pairs(corpus, threshold=0.0, max_rows=None).count() == 10


def test_compact_partition_reduces_files_preserves_rows(spark, tmp_path):
    """Small-file compaction: a partition written by many streaming polls
    collapses to size-targeted files with identical rows; partitions
    already compact are skipped; a second run is a no-op (idempotent)."""
    from muninn_avro_to_parquet_spark.operators import maintenance

    table = tmp_path / "events_t"
    # simulate 12 tiny per-poll appends into one ingestion_date partition
    for i in range(12):
        (
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id", "id * 2 AS v", "'2026-01-01' AS ingestion_date")
            .write.mode("append")
            .partitionBy("ingestion_date")
            .parquet(str(table))
        )
    part = str(table / "ingestion_date=2026-01-01")
    before = maintenance._parquet_files(part)
    assert len(before) >= 12
    want = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(str(table)).collect()
    )

    res = maintenance.compact_table(spark, str(table), target_bytes=1 << 30)
    n_before, n_after = res.partitions[part]
    assert n_before == len(before) and n_after == 1
    got = sorted((r["id"], r["v"]) for r in spark.read.parquet(str(table)).collect())
    assert got == want and len(got) == 120
    # partition column still readable through the hive layout
    assert spark.read.parquet(str(table)).select("ingestion_date").distinct().count() == 1

    res2 = maintenance.compact_table(spark, str(table), target_bytes=1 << 30)
    assert res2.partitions == {} and res2.skipped == [part]


def test_compact_partition_respects_target_bytes(spark, tmp_path):
    """target_bytes sizes the output: a partition holding ~N bytes lands
    in ceil(N/target) files, not one giant file."""
    from muninn_avro_to_parquet_spark.operators import maintenance

    table = tmp_path / "big_t"
    for i in range(6):
        (
            spark.range(i * 50_000, (i + 1) * 50_000)
            .selectExpr("id", "repeat(uuid(), 2) AS payload", "'2026-01-01' AS ingestion_date")
            .write.mode("append")
            .partitionBy("ingestion_date")
            .parquet(str(table))
        )
    part = str(table / "ingestion_date=2026-01-01")
    import os
    total = sum(os.path.getsize(f) for f in maintenance._parquet_files(part))
    target = total // 3
    r = maintenance.compact_partition(spark, part, target_bytes=target)
    assert r is not None
    n_before, n_after = r
    assert 2 <= n_after <= 5, (n_before, n_after, total, target)
    assert spark.read.parquet(str(table)).count() == 300_000


def test_compact_table_over_file_uri(spark, tmp_path):
    """Compaction routes every file operation through the fs seam: the
    same table compacts when addressed as file:// (the code path an
    object store takes), including the staged-rewrite move and cleanup."""
    from muninn_avro_to_parquet_spark.operators import maintenance

    table = tmp_path / "uri_t"
    for i in range(6):
        (
            spark.range(i * 10, i * 10 + 10)
            .selectExpr("id", "'2026-01-01' AS ingestion_date")
            .write.mode("append").partitionBy("ingestion_date").parquet(str(table))
        )
    res = maintenance.compact_table(spark, f"file://{table}", target_bytes=1 << 30)
    part_uri = f"file://{table}/ingestion_date=2026-01-01"
    n_before, n_after = res.partitions[part_uri]
    assert n_before >= 6 and n_after == 1
    back = spark.read.parquet(str(table))
    assert back.count() == 60
    assert sorted(r["id"] for r in back.collect()) == list(range(60))


def test_ivf_refined_assignment_invariants(spark):
    """One Lloyd round: every vector stays assigned exactly once, the
    refinement actually moves assignments (the round is not a no-op on
    clustered data), and two independent evaluations agree bit-for-bit
    (the integer floor-mean update is deterministic)."""
    from muninn_avro_to_parquet_spark import tables
    from muninn_avro_to_parquet_spark.operators import similarity
    from tests.conftest import SF_CORRECT

    tables.register_views(spark, SF_CORRECT)
    emb = spark.table("embeddings")
    n = emb.count()
    seeded = similarity.ivf_assign(
        emb, similarity.ivf_centroids(emb, 16), nprobe=1
    ).select("vec_id", "centroid_id")
    refined_c = similarity.ivf_centroids_refined(emb, 16, rounds=1)
    refined = similarity.ivf_assign(emb, refined_c, nprobe=1).select(
        "vec_id", "centroid_id"
    )
    r1 = {r["vec_id"]: r["centroid_id"] for r in refined.collect()}
    assert len(r1) == n  # total, exactly-once
    s = {r["vec_id"]: r["centroid_id"] for r in seeded.collect()}
    assert any(r1[v] != s[v] for v in r1)  # the round moved something
    r2 = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(
            emb, similarity.ivf_centroids_refined(emb, 16, rounds=1), nprobe=1
        ).select("vec_id", "centroid_id").collect()
    }
    assert r1 == r2  # deterministic across evaluations


def _small_file_partition(spark, table, n_files=5, rows_per=20):
    for i in range(n_files):
        (
            spark.range(i * rows_per, (i + 1) * rows_per)
            .selectExpr("id", "'2026-01-01' AS ingestion_date")
            .write.mode("append").partitionBy("ingestion_date").parquet(str(table))
        )
    return str(table / "ingestion_date=2026-01-01"), n_files * rows_per


def test_compaction_crash_midswap_heals_exactly(spark, tmp_path, monkeypatch):
    """A compactor that crashes between moving the new files in and
    deleting the old ones leaves both sets visible (double counting — the
    documented transient), but the next run completes exactly the swap
    the pending manifest recorded: rows are never lost OR duplicated and
    the manifest/staging are gone."""
    from muninn_avro_to_parquet_spark import fs as fs_mod
    from muninn_avro_to_parquet_spark.operators import maintenance

    part, n_rows = _small_file_partition(spark, tmp_path / "crash_t")

    real_delete = fs_mod.delete_file
    deleted = {"n": 0}

    def boom(path):
        if path.endswith(".parquet"):
            deleted["n"] += 1
            if deleted["n"] == 2:  # crash mid old-file deletion
                raise RuntimeError("simulated crash mid-swap")
        real_delete(path)

    monkeypatch.setattr(fs_mod, "delete_file", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        maintenance.compact_partition(spark, part, target_bytes=1 << 30, min_files=2)
    monkeypatch.setattr(fs_mod, "delete_file", real_delete)

    # both sets partially visible: a fresh reader double-counts
    assert spark.read.parquet(part).count() > n_rows
    assert fs_mod.exists(part + "/_compact_pending.json")

    # the next run heals the recorded swap BEFORE recompacting
    maintenance.compact_partition(spark, part, target_bytes=1 << 30, min_files=2)
    assert not fs_mod.exists(part + "/_compact_pending.json")
    got = sorted(r["id"] for r in spark.read.parquet(part).collect())
    assert got == list(range(n_rows))  # exact: no loss, no duplicates
    assert all(
        not maintenance._basename(d).startswith("_compact_")
        for d in fs_mod.list_subdirs(part)
    )


def test_compaction_inflight_manifest_not_recompacted(spark, tmp_path, monkeypatch):
    """A second compactor that finds an in-flight manifest (news moved in,
    olds still present) completes THAT swap instead of recompacting the
    mixed state — the naive re-list would bake the duplicates in."""
    from muninn_avro_to_parquet_spark import fs as fs_mod
    from muninn_avro_to_parquet_spark.operators import maintenance

    part, n_rows = _small_file_partition(spark, tmp_path / "race_t")

    real_delete = fs_mod.delete_file

    def boom(path):
        if path.endswith(".parquet"):
            raise RuntimeError("crash before any old delete")
        real_delete(path)

    monkeypatch.setattr(fs_mod, "delete_file", boom)
    with pytest.raises(RuntimeError):
        maintenance.compact_partition(spark, part, target_bytes=1 << 30, min_files=2)
    monkeypatch.setattr(fs_mod, "delete_file", real_delete)
    assert spark.read.parquet(part).count() == 2 * n_rows  # fully doubled

    r = maintenance.compact_partition(spark, part, target_bytes=1 << 30, min_files=2)
    got = sorted(r["id"] for r in spark.read.parquet(part).collect())
    assert got == list(range(n_rows)), r


def test_compaction_stale_reader_must_relist(spark, tmp_path):
    """The documented reader contract: a DataFrame whose file listing
    predates the swap fails loudly on missing files (it never silently
    undercounts); a fresh read after the swap is exact."""
    from muninn_avro_to_parquet_spark.operators import maintenance

    part, n_rows = _small_file_partition(spark, tmp_path / "stale_t")
    stale = spark.read.parquet(part)  # listing resolved now
    assert stale.count() == n_rows

    r = maintenance.compact_partition(spark, part, target_bytes=1 << 30, min_files=2)
    assert r is not None and r[1] < r[0]

    with pytest.raises(Exception) as exc_info:
        stale.count()  # old files are gone; the stale plan must not lie
    assert "exist" in str(exc_info.value) or "FileNotFound" in str(exc_info.value)
    assert spark.read.parquet(part).count() == n_rows


def test_dhash_gradients_and_scale_invariance(spark):
    """Hand-derivable dhash bits: a left→right brightening 9x8 image is
    all-ones, darkening is all-zeros, flat is all-zeros; and a 2x
    upscaled copy of an image keeps the identical hash (the perceptual
    property byte-md5 lacks)."""
    from muninn_avro_to_parquet_spark.operators.multimodal import (
        _encode_ppm,
        dhash_bits,
        dhash_images,
    )

    def ppm(w, h, f):
        return _encode_ppm(w, h, [f(x, y) for y in range(h) for x in range(w)])

    brighten = ppm(9, 8, lambda x, y: (x * 28, x * 28, x * 28))
    darken = ppm(9, 8, lambda x, y: (255 - x * 28,) * 3)
    flat = ppm(9, 8, lambda x, y: (128, 128, 128))
    assert dhash_bits(brighten)[2] == "f" * 16
    assert dhash_bits(darken)[2] == "0" * 16
    assert dhash_bits(flat)[2] == "0" * 16

    # scale invariance: pixel-double the brighten image → same hash
    big = ppm(18, 16, lambda x, y: ((x // 2) * 28,) * 3)
    assert dhash_bits(big)[2] == dhash_bits(brighten)[2]

    # through the Spark plumbing, and pairable on hash equality
    df = spark.createDataFrame(
        [(1, bytearray(brighten)), (2, bytearray(big)), (3, bytearray(darken))],
        "doc_id long, media binary",
    )
    out = dhash_images(df)
    rows = {r["doc_id"]: r["dhash"] for r in out.collect()}
    assert rows[1] == rows[2] != rows[3]
    pairs = (
        out.alias("a")
        .join(
            out.alias("b"),
            (F.col("a.dhash") == F.col("b.dhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    assert [(r["id_a"], r["id_b"]) for r in pairs.collect()] == [(1, 2)]


def test_ahash_envelope_and_level_shift_robustness(spark):
    """Hand-derivable ahash: a rising envelope is all-ones (except the
    wrap bit), constant is zero; halving the level (a volume change)
    keeps the hash; reversing the envelope changes it."""
    import struct
    import wave
    import io as _io

    from muninn_avro_to_parquet_spark.operators.multimodal import (
        ahash_audio,
        ahash_bits,
    )

    def wav(samples, rate=8000):
        buf = _io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    rising = [((i * 30000) // 6400) * (1 if i % 2 == 0 else -1) for i in range(6400)]
    falling = list(reversed(rising))
    constant = [500 if i % 2 == 0 else -500 for i in range(6400)]
    r_rate, r_dur, r_hash = ahash_bits(wav(rising))
    assert (r_rate, r_dur) == (8000, 0.8)
    assert r_hash == "f" * 15 + "e"  # wrap bit: first window not > last
    assert ahash_bits(wav(constant))[2] == "0" * 16
    half = [s // 2 for s in rising]
    assert ahash_bits(wav(half))[2] == r_hash  # volume-shift invariant
    assert ahash_bits(wav(falling))[2] != r_hash

    # Spark plumbing + equality pairing
    df = spark.createDataFrame(
        [(1, bytearray(wav(rising))), (2, bytearray(wav(half)))],
        "doc_id long, media binary",
    )
    rows = {r["doc_id"]: r["ahash"] for r in ahash_audio(df).collect()}
    assert rows[1] == rows[2]


def test_multimodal_video_frame_decode(spark):
    """Real uncompressed-AVI frame sampling (decode_video_frames): a
    3-frame synthetic video round-trips through encode_avi and decodes
    to exact per-frame mean lumas; every_n sampling picks frames 0 and
    2; a compressed stream and a non-AVI payload raise."""
    import struct as _struct

    import pytest

    from muninn_avro_to_parquet_spark.operators import multimodal

    w, h = 5, 3
    row_bytes = (w * 3 + 3) & ~3

    def frame(val):
        # constant-BGR frame: b=val, g=val+1, r=val+2 with row padding
        row = bytes([val, (val + 1) % 256, (val + 2) % 256] * w) + b"\x00" * (
            row_bytes - w * 3
        )
        return row * h

    frames = [frame(10), frame(100), frame(200)]
    avi = multimodal.encode_avi(frames, w, h)

    def want_luma(val):
        return (
            0.299 * ((val + 2) % 256) + 0.587 * ((val + 1) % 256) + 0.114 * val
        ) / 255.0

    df = spark.createDataFrame([(7, avi)], "doc_id long, media binary")
    got = {
        r["frame_index"]: r
        for r in multimodal.decode_video_frames(df, every_n=1).collect()
    }
    assert set(got) == {0, 1, 2}
    for idx, val in ((0, 10), (1, 100), (2, 200)):
        assert (got[idx]["width"], got[idx]["height"]) == (w, h)
        assert abs(got[idx]["mean_luma"] - want_luma(val)) < 1e-9
    sampled = sorted(
        r["frame_index"]
        for r in multimodal.decode_video_frames(df, every_n=2).collect()
    )
    assert sampled == [0, 2]

    # a 00dc chunk in a stream whose fourcc is NOT MJPG refuses (the
    # frame bytes are a DIB, not a JPEG); non-AVI refuses
    bad = avi.replace(b"00db", b"00dc", 1)
    for payload, msg in ((bad, "MJPG only"), (b"RIFF" + b"\x00" * 16, "AVI"), (b"nope", "RIFF")):
        d2 = spark.createDataFrame([(1, payload)], "doc_id long, media binary")
        with pytest.raises(Exception, match=msg):
            multimodal.decode_video_frames(d2).collect()


def test_multimodal_video_mjpeg_frames(spark):
    """MJPEG-in-AVI (r10 verdict #5): independently encoded (ImageIO)
    JPEG frames in ``00dc`` chunks decode through the engine's own
    vectorized JPEG decoder — per-frame lumas equal the standalone
    decode of each frame's bytes, a DHT-STRIPPED abbreviated frame
    decodes IDENTICALLY via the T.81 Annex K standard-table fallback,
    a non-MJPG compressed fourcc still raises, and the committed
    vid_03.avi fixture re-verifies."""
    import os
    import struct as _struct

    import pytest

    from muninn_avro_to_parquet_spark.operators import multimodal
    from muninn_avro_to_parquet_spark.operators.jpeg import decode_jpeg_luma

    jvm = spark._jvm
    gw = spark.sparkContext._gateway

    def jpeg_bytes(w, h, seed):
        bi = jvm.java.awt.image.BufferedImage(w, h, 1)
        ja = gw.new_array(jvm.int, w * h)
        for i in range(w * h):
            x, y = i % w, i // w
            ja[i] = (
                (((x * 19 + seed * 40) % 256) << 16)
                | (((y * 31 + seed * 7) % 256) << 8)
                | (((x + y) * 13 + seed) % 256)
            )
        bi.setRGB(0, 0, w, h, ja, 0, w)
        baos = jvm.java.io.ByteArrayOutputStream()
        assert jvm.javax.imageio.ImageIO.write(bi, "jpg", baos)
        return bytes(baos.toByteArray())

    def strip_dht(d):
        out = bytearray(d[:2])
        i = 2
        while i < len(d):
            if d[i] == 0xFF and d[i + 1] == 0xC4:
                i += 2 + _struct.unpack(">H", d[i + 2 : i + 4])[0]
            elif d[i] == 0xFF and d[i + 1] == 0xDA:
                out += d[i:]
                break
            else:
                seglen = _struct.unpack(">H", d[i + 2 : i + 4])[0]
                out += d[i : i + 2 + seglen]
                i += 2 + seglen
        return bytes(out)

    frames = [jpeg_bytes(16, 8, s) for s in range(3)]
    frames[1] = strip_dht(frames[1])
    assert b"\xff\xc4" not in frames[1][: frames[1].find(b"\xff\xda")]
    avi = multimodal.encode_avi(frames, 16, 8, codec="mjpg")
    df = spark.createDataFrame([(1, avi)], "doc_id long, media binary")
    got = {
        r["frame_index"]: r
        for r in multimodal.decode_video_frames(df, every_n=1).collect()
    }
    assert set(got) == {0, 1, 2}
    for idx, f in enumerate(frames):
        w, h, luma = decode_jpeg_luma(f)
        assert (got[idx]["width"], got[idx]["height"]) == (w, h)
        assert got[idx]["mean_luma"] == luma, idx
    # the abbreviated frame must equal the decode of its UNstripped
    # original — the fallback installs exactly the tables ImageIO wrote
    assert got[1]["mean_luma"] == decode_jpeg_luma(jpeg_bytes(16, 8, 1))[2]
    # a compressed fourcc that is not MJPG refuses loudly
    bad = avi.replace(b"MJPG", b"cvid")
    d2 = spark.createDataFrame([(1, bad)], "doc_id long, media binary")
    with pytest.raises(Exception, match="MJPG only"):
        multimodal.decode_video_frames(d2).collect()
    # committed fixture both ways
    fdir = os.path.join(
        os.path.dirname(multimodal.__file__), "..", "fixtures", "binary"
    )
    data = open(os.path.join(fdir, "vid_03.avi"), "rb").read()
    rows = multimodal._decode_avi_frames(data, every_n=2)
    assert [(i, w, h, round(lu, 6)) for i, w, h, lu in rows] == [
        (0, 12, 10, 0.440621),
        (2, 12, 10, 0.458366),
    ]


def test_dhash_near_dup_pairs_banded_hamming(spark):
    """The visual pair join: identical-hash pair (different bytes AND
    dimensions) at Hamming 0, the last-row edit at 8, the checkerboard
    excluded (no shared band); raising bands=8 still catches the 8-bit
    pair via its unchanged bands."""
    import os

    from muninn_avro_to_parquet_spark.operators import multimodal
    from muninn_avro_to_parquet_spark.queries import _PAIRS_FIXTURE_DIR
    from muninn_avro_to_parquet_spark.sources import formats

    raw = formats.read_binary_dir(spark, _PAIRS_FIXTURE_DIR, glob_filter="*.bmp")
    meta = raw.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        "content",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.dhash_near_dup_pairs(
            meta, id_col="file_name", media_col="content"
        ).collect()
    }
    assert got == {
        ("pair_00.bmp", "pair_01.bmp"): 0,
        ("pair_00.bmp", "pair_02.bmp"): 8,
        ("pair_01.bmp", "pair_02.bmp"): 8,
    }
    got8 = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.dhash_near_dup_pairs(
            meta, id_col="file_name", media_col="content", bands=8
        ).collect()
    }
    assert got8 == got


def test_hamming_pairs_rejects_uneven_bands(spark):
    """ADVICE r8: bands that don't divide the 16 hex chars (e.g. 3)
    silently dropped trailing hash bits from the banding, weakening the
    recall guarantee — now a loud ValueError."""
    from muninn_avro_to_parquet_spark.operators import multimodal

    hs = spark.createDataFrame([(1, "0" * 16)], "doc_id long, dhash string")
    for bad in (0, 3, 5, 32):
        with pytest.raises(ValueError, match="divide"):
            multimodal.hamming_hash_pairs(hs, "doc_id", "dhash", bands=bad)
    for ok in (1, 2, 4, 8, 16):
        multimodal.hamming_hash_pairs(hs, "doc_id", "dhash", bands=ok)


def test_pq_rerank_exact_equals_bruteforce(spark):
    """The exact-rerank two-stage retrieve must EQUAL brute force when
    the ADC shortlist contains the true top-k (shortlist=400 on this
    corpus) — same ids, same ranks, bit-identical scores."""
    from muninn_avro_to_parquet_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    pred = F.col("vec_id") < 5
    exact = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine_sim"])
        for r in similarity.cosine_topk(emb, emb.filter(pred), k=10).collect()
    )
    two_stage = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine_sim"])
        for r in similarity.ann_topk_pq_rerank_exact(
            emb, pred, m=8, k=16, shortlist=400, top_k=10
        ).collect()
    )
    assert two_stage == exact


def test_phash_scale_invariance_and_separation():
    """The pHash contract: a rescaled re-encode of the same picture
    lands within a few bits; a different picture lands far away; the
    hash is a pure function of pixels (re-encoding at the same size is
    bit-identical)."""
    from muninn_avro_to_parquet_spark.operators import multimodal as mm

    # LOW-frequency content (gradients + a disc) — the regime pHash is
    # built for; mod-wrapping stripe textures alias under a 2x
    # nearest-neighbor resample and legitimately move more bits
    w, h = 48, 36
    px = [
        (
            min(255, x * 4),
            min(255, y * 6),
            240 if (x - 14) ** 2 + (y - 12) ** 2 < 49 else 30,
        )
        for y in range(h)
        for x in range(w)
    ]
    orig = mm._encode_ppm(w, h, px)
    halved = mm._encode_ppm(24, 18, mm._resize_nn(w, h, px, 24, 18))
    other = mm._encode_ppm(
        w, h,
        [
            (
                255 - min(255, y * 5),
                200 if x > 30 else 15,
                min(255, x * 3 + y),
            )
            for y in range(h)
            for x in range(w)
        ],
    )

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    h0, h1, h2 = mm.phash64(orig), mm.phash64(halved), mm.phash64(other)
    assert h0 == mm.phash64(orig)
    assert ham(h0, h1) <= 10
    assert ham(h0, h2) > 16
