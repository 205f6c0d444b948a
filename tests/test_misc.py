import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_webpages_byte_identical_extraction(spark, sf_dir):
    from esda_spark.sources.webpages import extract_text, synth_webpages

    pages = synth_webpages(spark, sf_dir)
    out = extract_text(pages)
    mism = out.where(F.col("extracted_text") != F.col("text")).count()
    assert mism == 0
    assert out.count() == pages.count()
    # urls unique
    assert pages.select("url").distinct().count() == pages.count()


def test_checkpoint_stage_resume(spark, tmp_path):
    from esda_spark.plans.checkpoint import read_manifest, stage

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    p = str(tmp_path / "stage1")
    df1 = stage(spark, p, "fp-v1", build)
    assert df1.count() == 100 and calls["n"] == 1
    m = read_manifest(p)
    assert m["rows"] == 100 and m["fingerprint"] == "fp-v1"
    # same fingerprint -> resumed, not rebuilt
    df2 = stage(spark, p, "fp-v1", build)
    assert df2.count() == 100 and calls["n"] == 1
    # changed fingerprint -> rebuilt
    stage(spark, p, "fp-v2", build)
    assert calls["n"] == 2


@pytest.mark.parametrize("case", ["spread", "empty_parts", "empty"])
def test_write_stage_manifest_counts(spark, tmp_path, case):
    """The manifest's rows and per-part counts (read from the Parquet
    footers) equal what a read-back counts, with empty partitions and
    with a wholly empty frame."""
    from esda_spark.plans.checkpoint import read_manifest, write_stage

    df = spark.range(0, 200, numPartitions=6).withColumn("v", F.col("id") / 3)
    if case == "empty_parts":
        df = df.where(F.col("id") < 70)  # partitions 2..5 keep no row
    elif case == "empty":
        df = df.where(F.col("id") < 0)
    p = str(tmp_path / case)
    m = write_stage(df, p, "fp")
    want = spark.read.parquet(p).count()
    assert m["rows"] == sum(m["partitions"].values()) == want
    assert m["schema"] == "struct<id:bigint,v:double>"
    assert read_manifest(p)["rows"] == want
    if case == "empty_parts":
        assert want == 70 and all(c > 0 for c in m["partitions"].values())
        assert max(m["partitions"]) < 6 and len(m["partitions"]) < 6


def test_streaming_cell_counts(spark, tmp_path):
    from esda_spark.streaming.ingest import cell_counts_stream

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    batch = spark.range(200).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") % 10).cast("double").alias("x"),
        (F.col("id") % 7).cast("double").alias("y"),
        (F.col("id") * 3).alias("n_chars"),
    )
    batch.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = cell_counts_stream(stream, cell_size=5.0, window="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("cells")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from cells").collect()
    assert sum(r.doc_count for r in rows) == 200
    assert all(r.char_sum > 0 for r in rows)


def test_multimodal_plumbing(spark, sf_dir):
    from esda_spark.operators.multimodal import (
        frame_sample,
        image_features,
        synth_image_table,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    imgs = synth_image_table(docs)
    feats = image_features(imgs).collect()
    assert len(feats) == 50
    assert all(0 <= r.mean <= 255 for r in feats)
    # deterministic
    feats2 = image_features(imgs).collect()
    assert {(r.doc_id, r.mean) for r in feats} == {
        (r.doc_id, r.mean) for r in feats2
    }
    frames = frame_sample(imgs, every_n=16)
    assert frames.count() > 0


def test_fdr_and_significance_helpers():
    from esda_spark.operators.significance import fdr, permutation_significance

    rng = np.random.default_rng(3)
    sims = rng.normal(size=(50, 99))
    obs = rng.normal(size=50)
    p = permutation_significance(obs, sims, "two-sided")
    assert ((p > 0) & (p <= 1)).all()
    cut = fdr(p, 0.05)
    assert 0 < cut <= 0.05


def test_mathx_against_reference_values():
    from esda_spark.functions.mathx import chi2_sf, norm_sf

    # scipy reference values (precomputed)
    assert norm_sf(1.96) == pytest.approx(0.024997895148220435, rel=1e-12)
    assert norm_sf(-1.0) == pytest.approx(0.8413447460685429, rel=1e-12)
    import math

    # chi2_sf(x, 1) == erfc(sqrt(x/2)) exactly
    assert chi2_sf(3.84, 1) == pytest.approx(
        math.erfc(math.sqrt(3.84 / 2)), rel=1e-12
    )
    # fractional dof vs numerical integration (verified offline)
    assert chi2_sf(5.0, 2.5) == pytest.approx(0.1230885711526587, rel=1e-9)
    assert chi2_sf(0.5, 7.3) == pytest.approx(0.9996366322967627, rel=1e-9)


def test_streaming_dedup(spark, tmp_path):
    from esda_spark.streaming.ingest import dedup_stream

    src = str(tmp_path / "dstream")
    os.makedirs(src)
    batch = spark.range(100).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.concat(F.lit("doc"), (F.col("id") % 40).cast("string")).alias("text"),
    )
    batch.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        dedup_stream(stream).writeStream.format("memory")
        .queryName("dedup").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup").collect()
    assert len(rows) == 40  # one survivor per distinct content hash


def test_multimodal_real_codecs(spark, sf_dir):
    from esda_spark.operators.multimodal import (
        audio_features,
        decode_bmp,
        decode_image,
        decode_ppm,
        decode_wav,
        encode_bmp,
        encode_ppm,
        encode_wav,
        resize_images,
        synth_audio_table,
        synth_image_table,
    )

    # codec round-trips are bit-exact
    rng = np.random.default_rng(9)
    arr = rng.integers(0, 255, size=(13, 17, 3), dtype=np.int64).astype("uint8")
    np.testing.assert_array_equal(decode_bmp(encode_bmp(arr)), arr)
    np.testing.assert_array_equal(decode_ppm(encode_ppm(arr)), arr)
    gray = arr[:, :, 0]
    np.testing.assert_array_equal(decode_ppm(encode_ppm(gray)), gray)
    sig = rng.standard_normal(800) * 0.2
    dec, rate = decode_wav(encode_wav(sig, 8000))
    assert rate == 8000 and len(dec) == 800
    np.testing.assert_allclose(dec / 32767.0, np.clip(sig, -1, 1), atol=1e-4)
    # compressed formats refuse loudly, not silently
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0" + b"0" * 64)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    imgs = synth_image_table(docs)
    # the synthesized payloads are genuine BMPs: decode one locally
    row = imgs.first()
    local = decode_image(bytes(row.payload))
    assert local.shape == (row.height, row.width, 3)
    # distributed resize preserves count and target dims; payloads decode
    small = resize_images(imgs, 8, 6).collect()
    assert len(small) == 20
    for r in small[:3]:
        a = decode_image(bytes(r.payload))
        assert a.shape == (6, 8, 3)
    # audio pipeline end-to-end: synth -> features
    wavs = synth_audio_table(docs, rate=8000, seconds=0.1)
    af = {r.doc_id: r for r in audio_features(wavs).collect()}
    assert len(af) == 20
    for r in af.values():
        assert r.sample_rate == 8000
        assert r.duration_sec == pytest.approx(0.1, rel=0.01)
        assert 0.1 < r.rms < 0.6          # 0.5-amplitude sine + noise
        assert 0.0 < r.zcr < 0.5


def test_streaming_hot_cell_tracker(spark, tmp_path):
    import os

    from esda_spark.streaming.stateful import hot_cell_tracker

    src = str(tmp_path / "hot_src")
    os.makedirs(src)
    # 300 docs in one hot cell (x,y ~ 0), 30 spread across others
    batch = spark.range(330).select(
        F.col("id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.when(F.col("id") < 300, 0.5)
        .otherwise((F.col("id") % 11 + 1) * 10.0).cast("double").alias("x"),
        F.when(F.col("id") < 300, 0.5)
        .otherwise((F.col("id") % 7 + 1) * 10.0).cast("double").alias("y"),
    )
    batch.write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(batch.schema).parquet(src)
    out = hot_cell_tracker(stream, cell_size=5.0, hot_threshold=100,
                           emit_every=50)
    q = (
        out.writeStream.format("memory").queryName("hotcells")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from hotcells").collect()
    assert rows, "tracker emitted nothing"
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    # exactly one cell is hot, with the full 300-count visible
    hot = [c for c, rs in by_cell.items() if any(x.is_hot for x in rs)]
    assert len(hot) == 1
    assert max(x.total for x in by_cell[hot[0]]) == 300
    # sparse cells emitted their first-appearance row, not hot
    sparse = [c for c in by_cell if c not in hot]
    assert sparse
    assert all(not x.is_hot and x.total < 100
               for c in sparse for x in by_cell[c])


def test_cell_hierarchy_roundtrip(spark):
    from esda_spark.plans.cells import cell_key, pack_cell, unpack_cell

    df = spark.range(500).select(
        F.col("id"),
        ((F.col("id") * 48271) % 720 - 360).cast("double").alias("cx2"),
        ((F.col("id") * 16807) % 340 - 170).cast("double").alias("cy2"),
    ).select(
        "id",
        (F.col("cx2") / 2).alias("x"), (F.col("cy2") / 2).alias("y"),
    )
    keyed = df.withColumn("cell", cell_key(F.col("x"), F.col("y"), 1.0))
    # pack/unpack round-trip
    ux, uy = unpack_cell(F.col("cell"))
    rt = keyed.withColumn("cell2", pack_cell(ux, uy))
    assert rt.where(F.col("cell") != F.col("cell2")).count() == 0


def test_lisa_pipeline_kill_and_resume(spark, tmp_path):
    import esda_spark.operators.weights as W
    from esda_spark.plans.checkpoint import read_manifest, stage
    from esda_spark.plans.pipeline import lisa_pipeline

    rng_rows = [(i, float(i % 13), float(i % 7), float((i * 17) % 5))
                for i in range(80)]
    pts = spark.createDataFrame(
        rng_rows, "id long, x double, y double, y_cont double").cache()
    ck = str(tmp_path / "ck")

    # simulate a run killed AFTER the kNN stage completed: materialize
    # stage 1 exactly as the pipeline would, then "crash" (no stage 2)
    fp = "testdata-v1"
    stage(spark, f"{ck}/edges", f"{fp}|knn k=4",
          lambda: W.knn_edges(pts, k=4))
    m1 = read_manifest(f"{ck}/edges")
    assert m1 is not None and m1["rows"] > 0

    # resume: the full pipeline must SKIP the finished kNN stage
    calls = {"knn": 0}
    orig = W.knn_edges

    def counting_knn(*a, **kw):
        calls["knn"] += 1
        return orig(*a, **kw)

    W.knn_edges = counting_knn
    try:
        out = lisa_pipeline(pts, "y_cont", k=4, permutations=19, seed=5,
                            checkpoint_dir=ck, fingerprint=fp)
        rows = {r.id: r for r in out.collect()}
    finally:
        W.knn_edges = orig
    assert calls["knn"] == 0  # resumed from checkpoint, not rebuilt
    assert len(rows) == 80
    assert read_manifest(f"{ck}/edges")["written_at"] == m1["written_at"]
    m2 = read_manifest(f"{ck}/lisa")
    assert m2["rows"] == 80 and "partitions" in m2

    # parity with a direct (uncheckpointed) run
    from esda_spark.operators.local_stats import moran_local

    direct = {r.id: r for r in moran_local(
        pts, orig(pts, k=4), "y_cont", permutations=19, seed=5).collect()}
    for i in (0, 7, 79):
        assert rows[i].Is == pytest.approx(direct[i].Is)
        assert rows[i].p_sim == pytest.approx(direct[i].p_sim)

    # second invocation: everything resumes, zero builds
    out2 = lisa_pipeline(pts, "y_cont", k=4, permutations=19, seed=5,
                         checkpoint_dir=ck, fingerprint=fp)
    assert read_manifest(f"{ck}/lisa")["written_at"] == m2["written_at"]
    assert out2.count() == 80
    # changing the input fingerprint invalidates downstream stages
    out3 = lisa_pipeline(pts, "y_cont", k=4, permutations=19, seed=5,
                         checkpoint_dir=ck, fingerprint="testdata-v2")
    assert read_manifest(f"{ck}/edges")["fingerprint"].startswith(
        "testdata-v2")
    assert out3.count() == 80


def test_dedup_pipeline_resume(spark, tmp_path):
    from esda_spark.plans.checkpoint import read_manifest
    from esda_spark.plans.pipeline import dedup_pipeline

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different text about spark pipelines here"),
         (3, "another unrelated document body entirely")],
        "doc_id long, text string")
    ck = str(tmp_path / "dd")
    out = dedup_pipeline(docs, num_hashes=16, bands=4,
                         checkpoint_dir=ck, fingerprint="docs-v1")
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert pairs.get((0, 1)) == pytest.approx(1.0)
    m = read_manifest(f"{ck}/minhash")
    out2 = dedup_pipeline(docs, num_hashes=16, bands=4,
                          checkpoint_dir=ck, fingerprint="docs-v1")
    assert out2.count() == out.count()
    assert read_manifest(f"{ck}/minhash")["written_at"] == m["written_at"]


def test_partition_pruning(spark, tmp_path):
    from esda_spark.sources.tables import read_pruned, write_partitioned

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 5).alias("day"),
        (F.col("id") % 3).alias("cell_bucket"),
        (F.col("id") * 2.0).alias("v"),
    )
    p = str(tmp_path / "events_part")
    write_partitioned(df, p, ["day", "cell_bucket"])
    out = read_pruned(spark, p, day=3, cell_bucket=1)
    assert out.count() == df.where(
        (F.col("day") == 3) & (F.col("cell_bucket") == 1)).count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the equality predicates must prune at the metadata level
    assert "PartitionFilters" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "day" in pf and "cell_bucket" in pf, pf
