"""Multimodal plumbing tests (SURVEY.md §2.6)."""

from __future__ import annotations

from kinesis_to_firehose_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    decode_features,
    media_repartition_by_bytes,
    synthetic_media,
)

SF = "/root/testdata/sf0.001"


def test_media_schema_types(spark):
    m = synthetic_media(spark, SF)
    fields = dict((f.name, f.dataType.simpleString()) for f in m.schema.fields)
    assert fields["content"] == "binary"
    assert fields["meta"].startswith("struct<mime:string,width:int")
    assert m.count() > 0


def test_decode_features_deterministic(spark):
    m = synthetic_media(spark, SF)
    a = decode_features(m).orderBy("media_id").collect()
    b = decode_features(m).orderBy("media_id").collect()
    assert a == b
    row = a[0].asDict()
    feats = [row[f"f{i}"] for i in range(FEATURE_DIM)]
    assert len(feats) == FEATURE_DIM
    assert all(0.0 <= f <= 1.0 for f in feats)
    # blob column must be gone after extraction
    assert "content" not in a[0].asDict()


def test_metadata_projection_prunes_blob(spark):
    m = synthetic_media(spark, SF)
    meta_only = m.select("media_id", "kind", "meta.mime")
    plan = meta_only._jdf.queryExecution().executedPlan().toString()
    assert "content" not in plan


def test_repartition_by_bytes(spark):
    m = synthetic_media(spark, SF)
    out = media_repartition_by_bytes(m, target_partition_bytes=10_000)
    assert out.count() == m.count()
    assert out.rdd.getNumPartitions() >= 1


def test_media_repartition_packs_bytes(spark):
    """TRUE byte-packing under a planted heavy-tail blob mix (round-6
    verdict task 6): every output partition's blob bytes stay within
    target + max_blob (a contiguous prefix-sum bin), and no partition
    co-locates two over-target blobs — the failure mode of the old
    round-robin assignment."""
    from pyspark.sql import functions as F

    target = 50_000
    # giants are OVER-target: a single giant's exclusive-cumsum step
    # exceeds the bin width, so two giants sharing a bin is impossible
    # under exact prefix-sum packing — the co-location assert below is
    # an invariant, not an ordering accident (an UNDER-target 40k
    # giant pair may legally pack into one 90k ≤ target+max_blob bin
    # whenever the row order makes them adjacent)
    giant = 60_000
    # 6 giant blobs + 3000 tiny ones, shuffled across input partitions
    rows = [(i, bytes([i % 251]) * giant) for i in range(6)] + [
        (1000 + i, bytes([i % 251]) * 50) for i in range(3000)
    ]
    m = spark.createDataFrame(
        rows, "media_id long, content binary"
    ).repartition(16)
    out = media_repartition_by_bytes(m, target_partition_bytes=target)
    stats = (
        out.select(
            F.spark_partition_id().alias("p"),
            F.length("content").cast("long").alias("b"),
        )
        .groupBy("p")
        .agg(
            F.sum("b").alias("bytes"),
            F.sum((F.col("b") > target).cast("int")).alias("n_over"),
        )
        .collect()
    )
    assert sum(r["bytes"] for r in stats) == 6 * giant + 3000 * 50
    for r in stats:
        assert r["bytes"] <= target + giant, (
            f"partition {r['p']} holds {r['bytes']} bytes "
            f"(bound {target + giant})"
        )
    n_big_together = (
        out.select(
            F.spark_partition_id().alias("p"),
            (F.length("content") >= giant).cast("int").alias("big"),
        )
        .groupBy("p")
        .agg(F.sum("big").alias("n_big"))
        .agg(F.max("n_big"))
        .collect()[0][0]
    )
    assert n_big_together <= 1, "two giant blobs co-located"


def test_frame_sample_fanout_and_determinism(spark):
    """Each video yields ceil(duration/stride) frames; re-running
    produces identical features (codec stub is content+ts seeded)."""
    import math

    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.multimodal import (
        FRAME_STRIDE_MS,
        mm_frame_sample,
        synthetic_media,
    )

    sf = "/root/testdata/sf0.001"
    frames = mm_frame_sample(spark, sf)
    per_media = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in synthetic_media(spark, sf)
        .filter(F.col("kind") == "video")
        .select("media_id", F.col("meta.duration_ms").alias("duration_ms"))
        .collect()
    }
    assert set(per_media) == set(durations)
    for mid, dur in durations.items():
        assert per_media[mid] == max(1, math.ceil(max(1, dur) / FRAME_STRIDE_MS))

    a = {(r["media_id"], r["frame_ts_ms"]): r["f0"] for r in frames.collect()}
    b = {(r["media_id"], r["frame_ts_ms"]): r["f0"] for r in mm_frame_sample(spark, sf).collect()}
    assert a == b


def test_mm_ann_search_shape_and_determinism(spark):
    """media → stub features → cosine top-k: deterministic across
    runs, exactly MM_TOP_K ranked hits per query, correctly ordered."""
    from kinesis_to_firehose_spark.operators.multimodal import (
        MM_N_QUERIES,
        MM_TOP_K,
        mm_ann_search,
    )

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in mm_ann_search(spark, sf).collect()]
    b = [tuple(r) for r in mm_ann_search(spark, sf).collect()]
    assert a == b
    assert len(a) == MM_N_QUERIES * MM_TOP_K
    by_q: dict = {}
    for r in mm_ann_search(spark, sf).collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rk"])]
        assert cosines == sorted(cosines, reverse=True)
        assert [r["rk"] for r in sorted(rows, key=lambda r: r["rk"])] == list(
            range(1, MM_TOP_K + 1)
        )


def test_audio_chunk_fanout_and_coverage(spark):
    """Each audio blob yields ceil(bytes/CHUNK_BYTES) chunks; chunk
    lengths sum back to the blob size (no byte lost or duplicated)
    and every chunk but the last is full-size."""
    import math

    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.multimodal import (
        CHUNK_BYTES,
        mm_audio_chunk,
        synthetic_media,
    )

    sf = "/root/testdata/sf0.001"
    chunks = mm_audio_chunk(spark, sf)
    agg = {
        r["media_id"]: (r["n"], r["total"], r["max_len"])
        for r in chunks.groupBy("media_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("chunk_len").alias("total"),
            F.max("chunk_len").alias("max_len"),
        )
        .collect()
    }
    sizes = {
        r["media_id"]: r["sz"]
        for r in synthetic_media(spark, sf)
        .filter(F.col("kind") == "audio")
        .select("media_id", F.length("content").alias("sz"))
        .collect()
    }
    assert set(agg) == set(sizes)
    for mid, sz in sizes.items():
        n, total, max_len = agg[mid]
        assert n == math.ceil(sz / CHUNK_BYTES)
        assert total == sz
        assert max_len <= CHUNK_BYTES


# ---------------------------------------------------------------- codecs


def _ppm_bytes(w, h, rgb_rows):
    """Binary P6 PPM from a list of rows of (r, g, b) tuples."""
    body = bytes(c for row in rgb_rows for px in row for c in px)
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + body


def _wav_bytes(samples, rate=8000):
    """Mono 16-bit PCM WAV from float samples in [-1, 1]."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(
            b"".join(
                struct.pack("<h", int(max(-1.0, min(1.0, s)) * 32767))
                for s in samples
            )
        )
    return buf.getvalue()


def test_real_image_decode_ppm():
    """The import-try image path must really decode pixel data: a
    half-black/half-white PPM yields dark cells left, bright right."""
    from kinesis_to_firehose_spark.functions.codecs import image_features

    rows = [
        [(0, 0, 0)] * 4 + [(255, 255, 255)] * 4 for _ in range(8)
    ]  # 8x8: left half black, right half white
    feats = image_features(_ppm_bytes(8, 8, rows))
    assert len(feats) == FEATURE_DIM
    grid = [feats[i * 4 : (i + 1) * 4] for i in range(4)]
    for row in grid:
        assert row[0] < 0.01 and row[1] < 0.01
        assert row[2] > 0.99 and row[3] > 0.99


def test_real_audio_decode_wav():
    """The import-try audio path must really decode samples: silence
    then a full-scale square wave gives RMS ~0 then ~1 windows."""
    from kinesis_to_firehose_spark.functions.codecs import audio_features

    n = FEATURE_DIM * 64
    samples = [0.0] * (n // 2) + [
        1.0 if i % 2 == 0 else -1.0 for i in range(n // 2)
    ]
    feats = audio_features(_wav_bytes(samples))
    assert len(feats) == FEATURE_DIM
    assert all(f < 0.01 for f in feats[: FEATURE_DIM // 2])
    assert all(f > 0.95 for f in feats[FEATURE_DIM // 2 :])


def test_real_codec_raises_when_unparseable():
    from kinesis_to_firehose_spark.functions.codecs import (
        CodecUnavailable,
        real_features,
    )
    import pytest

    with pytest.raises(CodecUnavailable):
        real_features("image", b"not an image")
    with pytest.raises(CodecUnavailable):
        real_features("bogus-kind", b"")


def test_decode_features_real_and_auto_paths(spark):
    """End-to-end through the Spark kernel: codec='real' decodes true
    PPM/WAV blobs on the executors; codec='auto' falls back to the
    stub for blobs nothing can parse — and equals the stub op there."""
    import pandas as pd  # noqa: F401  (mapInPandas dependency)

    from kinesis_to_firehose_spark.functions.codecs import (
        audio_features,
        image_features,
    )

    ppm = _ppm_bytes(8, 8, [[(i * 8, i * 8, i * 8)] * 8 for i in range(8)])
    wav = _wav_bytes([0.5 if i % 2 == 0 else -0.5 for i in range(1024)])
    rows = [
        (1, "image", ppm, ("image/x-portable-pixmap", 8, 8, 0, 1)),
        (2, "audio", wav, ("audio/wav", 0, 0, 128, 2)),
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {
        r["media_id"]: [r[f"f{i}"] for i in range(FEATURE_DIM)]
        for r in decode_features(media, codec="real").collect()
    }
    assert got[1] == image_features(ppm)
    assert got[2] == audio_features(wav)

    # auto on unparseable blobs == stub exactly
    junk = synthetic_media(spark, SF).limit(20)
    a = decode_features(junk, codec="auto").orderBy("media_id").collect()
    s = decode_features(junk, codec="stub").orderBy("media_id").collect()
    assert a == s


def test_phash_locality_on_planted_near_identical_blobs(spark, tmp_path):
    """Near-identical blobs (one word substituted) land within the
    hamming threshold and pair up; unrelated blobs don't. Also checks
    the pigeonhole candidate join finds the pair without an all-pairs
    compare (candidates come only from equal 15-bit chunks)."""
    import random

    from kinesis_to_firehose_spark.operators.multimodal import (
        PHASH_TAU,
        mm_phash_dedup,
    )

    rng = random.Random(5)
    words = [f"w{rng.randrange(1000)}" for _ in range(80)]
    base = " ".join(words)
    near = " ".join(words[:40] + ["CHANGED"] + words[41:])
    far = " ".join(f"z{i}" * 3 for i in range(60))
    rows = [
        (0, base, "en", "s", len(base)),
        (1, near, "en", "s", len(near)),
        (2, far, "en", "s", len(far)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/documents.parquet"
    )
    out = {
        (r["media_id_1"], r["media_id_2"]): r["hamming"]
        for r in mm_phash_dedup(spark, str(tmp_path)).collect()
    }
    assert (0, 1) in out and out[(0, 1)] <= PHASH_TAU
    assert (0, 2) not in out and (1, 2) not in out


def test_mm_sequence_pack_lossless_reconstruction(spark):
    """Segments reconstruct every document exactly: per-doc sums of
    text/media segment tokens equal the doc's token budgets, every
    non-final pack per language is exactly MM_SEQ_LEN full, and no
    pack overflows — the packing is a lossless re-layout, not a
    truncation."""
    from pyspark.sql import functions as F

    from kinesis_to_firehose_spark.operators.dedup import TOK_EXPR
    from kinesis_to_firehose_spark.operators.multimodal import (
        MM_SEQ_LEN,
        mm_sequence_pack,
    )
    from kinesis_to_firehose_spark.sources.tables import load

    sf = "/root/testdata/sf0.001"
    segs = mm_sequence_pack(spark, sf).collect()

    # per-doc reconstruction vs independently computed budgets
    d = load(spark, "documents", sf)
    n_media = (
        F.when(
            F.col("doc_id") % 3 == 0,
            ((F.col("n_chars") % 640 + 15) / 16).cast("bigint")
            * ((F.col("n_chars") % 480 + 15) / 16).cast("bigint"),
        )
        .when(F.col("doc_id") % 3 == 1, (F.col("n_chars") * 10 / 80).cast("bigint"))
        .otherwise(((F.col("n_chars") * 10 / 1000).cast("bigint") + 1) * 64)
    )
    budgets = {
        r["doc_id"]: (r["n_text"], r["n_media"])
        for r in d.select(
            "doc_id",
            F.size(F.expr(TOK_EXPR)).cast("bigint").alias("n_text"),
            n_media.cast("bigint").alias("n_media"),
        ).collect()
    }
    got_text: dict = {}
    got_media: dict = {}
    pack_fill: dict = {}
    for r in segs:
        got_text[r["doc_id"]] = got_text.get(r["doc_id"], 0) + r["text_tokens"]
        got_media[r["doc_id"]] = (
            got_media.get(r["doc_id"], 0) + r["media_tokens"]
        )
        key = (r["lang"], r["pack_id"])
        pack_fill[key] = (
            pack_fill.get(key, 0) + r["text_tokens"] + r["media_tokens"]
        )
    for doc_id, (n_text, n_med) in budgets.items():
        if n_text + n_med == 0:
            continue
        assert got_text.get(doc_id, 0) == n_text, doc_id
        assert got_media.get(doc_id, 0) == n_med, doc_id
    last_pack = {}
    for lang, p in pack_fill:
        last_pack[lang] = max(last_pack.get(lang, -1), p)
    for (lang, p), fill in pack_fill.items():
        assert fill <= MM_SEQ_LEN, (lang, p, fill)
        if p < last_pack[lang]:
            assert fill == MM_SEQ_LEN, (lang, p, fill)


def test_phash_store_equals_inplan(spark, tmp_path, monkeypatch):
    """corpus_phash_store serves bit-identical fingerprints to the
    in-plan phash_table pass, and a warm store never re-decodes."""
    import kinesis_to_firehose_spark.operators.multimodal as mm
    from kinesis_to_firehose_spark.sources.dedup_index import (
        corpus_phash_store,
    )

    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    inplan = {r.media_id: r.phash for r in mm.phash_table(spark, SF).collect()}
    stored = {
        r.media_id: r.phash for r in corpus_phash_store(spark, SF).collect()
    }
    assert stored == inplan
    monkeypatch.setattr(
        mm,
        "phash_table",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("recomputed phash on a warm store")
        ),
    )
    assert corpus_phash_store(spark, SF).count() == len(inplan)


def test_phash_gate_bounds_constant_media_corpus(spark, tmp_path, monkeypatch):
    """300 identical blobs collapse onto one phash → all 4 chunk
    buckets hot (k=300 > cap=256); mm_phash_dedup emits exactly the
    distinct 8-lag chain instead of k(k-1)/2 = 44850 pairs."""
    from kinesis_to_firehose_spark.operators.dedup import (
        MINHASH_HOT_CHAIN_LAGS,
    )
    from kinesis_to_firehose_spark.operators.multimodal import (
        mm_phash_dedup,
    )

    k = 300
    text = "one two three four five six seven eight nine ten"
    rows = [(i, text, "en", "synth", len(text)) for i in range(k)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))

    out = mm_phash_dedup(spark, str(tmp_path)).collect()
    expected = sum(k - j for j in range(1, MINHASH_HOT_CHAIN_LAGS + 1))
    assert len(out) == expected, (len(out), expected)
    assert all(r.hamming == 0 for r in out)
