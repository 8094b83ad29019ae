"""End-to-end north-star pipeline: synthetic image+caption corpus ->
point-in-time assembly -> HSIC-Lasso; must recover the planted features
(datagen plants y = f(phash bit0, bit7, caption token count))."""
import numpy as np
import pytest

from pyspark.sql import functions as F

from hiselspark import datagen
from hiselspark.functions.image import decode_image, psnr
from hiselspark.metrics import instrument
from hiselspark.pipeline import (assemble_training_frame,
                                 select_features_pointintime)


@pytest.fixture(scope="module")
def corpus(spark):
    images = datagen.images(spark, 4000, seed=42, partitions=8)
    labels = datagen.labels(spark, 4000, n_labels=2000, seed=42)
    return images, labels


def test_corpus_deterministic_across_partitionings(spark):
    a = datagen.images(spark, 200, partitions=2).toPandas()
    b = datagen.images(spark, 200, partitions=7).toPandas()
    a = a.sort_values("image_id").reset_index(drop=True)
    b = b.sort_values("image_id").reset_index(drop=True)
    assert a.equals(b)


def test_corpus_schema_and_skew(corpus):
    images, _ = corpus
    pdf = images.limit(500).toPandas()
    assert set(pdf.columns) == {"image_id", "bytes", "w", "h", "fmt",
                                "caption", "phash", "entity_id", "ts"}
    counts = images.groupBy("entity_id").count().toPandas()
    hot = counts.set_index("entity_id")["count"].get("e000000", 0)
    assert hot > 3 * counts["count"].median()  # hot entity present


def test_decode_roundtrip_exact(corpus):
    images, _ = corpus
    row = images.limit(1).collect()[0]
    img = decode_image(bytes(row["bytes"]), row["w"], row["h"], row["fmt"])
    assert img.shape == (row["h"], row["w"], 3)
    assert psnr(img, img) == float("inf")  # raw codec: exact (>= 40dB)
    # jpeg is a REAL codec now (gdcodec): garbage bytes are a decode
    # error, not a missing-codec error; unknown formats still refuse
    with pytest.raises(ValueError):
        decode_image(b"", 1, 1, "jpeg")
    with pytest.raises(NotImplementedError):
        decode_image(b"", 1, 1, "tiff")


def test_training_frame_no_leakage(corpus):
    images, labels = corpus
    with assemble_training_frame(images, labels) as (frame, cols):
        bad = frame.filter("__matched_ts > ts").count()
        assert bad == 0
        assert frame.count() > 500


def _cache_entries(spark):
    """Plans registered with the session's cache manager — a persist
    that never ran an action is listed here but not among the
    persistent RDDs."""
    data = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return sorted(data.apply(i).plan().toString()
                  for i in range(data.size()))


def test_selection_recovers_planted_features(spark, corpus):
    images, labels = corpus
    before = _cache_entries(spark)
    counted, scanned = instrument(images, "images")
    res = select_features_pointintime(counted, labels,
                                      number_of_features=4,
                                      minibatch_size=150)
    # y = 2*bit0 - 1.5*bit7 + 0.25*n_tokens + eps (datagen.labels)
    assert {"pbit0", "pbit7"} <= set(res.features)
    assert {"caption_tokens", "caption_rtokens"} & set(res.features)
    # the scan feeds several branches but is evaluated once per call
    assert scanned.rows.value == images.count()
    # and every cache the call made is released, also when it raises
    assert _cache_entries(spark) == before
    with pytest.raises(ValueError, match="at least 2 features"):
        select_features_pointintime(images, labels, number_of_features=-1)
    assert _cache_entries(spark) == before


def _featurize_both_inputs(spark, path, n_phash_bits):
    """The featurizer over a parquet path and over the same rows as a
    DataFrame, as pandas frames sorted into one row order."""
    from hiselspark.sources.fused_scan import featurize_images_fused

    by_path = featurize_images_fused(spark, path, n_phash_bits).toPandas()
    by_frame = featurize_images_fused(spark, spark.read.parquet(path),
                                      n_phash_bits).toPandas()
    key = ["entity_id", "ts", "caption_len", "phash_weight", "px_mean_r"]
    return [f.sort_values(key).reset_index(drop=True)
            for f in (by_path, by_frame)]


def test_fused_scan_equals_dataframe_featurizer(spark, tmp_path_factory):
    """A parquet path (tasks read their row groups directly, blobs
    never enter the JVM) and a DataFrame input run the same per-batch
    body: identical columns and values, row for row."""
    import pandas as pd

    path = str(tmp_path_factory.mktemp("fused") / "images")
    datagen.images(spark, 1200, seed=7, partitions=5).write.parquet(path)
    by_path, by_frame = _featurize_both_inputs(spark, path, 8)
    assert list(by_path.columns) == list(by_frame.columns)
    assert {"pbit7", "phash_weight", "caption_rtokens",
            "px_q75"} <= set(by_path.columns)
    assert len(by_path) == 1200
    pd.testing.assert_frame_equal(by_path, by_frame)


def test_featurizer_edge_captions_path_equals_dataframe(spark,
                                                        tmp_path_factory):
    """Whitespace and Unicode edge captions tokenize the same on path
    and DataFrame inputs (there is one tokenizer), with Unicode
    whitespace semantics."""
    import pandas as pd

    captions = {"\t": (1, 0, 0), "\tfoo bar": (8, 2, 2),
                "\t\t\t": (3, 0, 0), "a\u00a0b": (3, 2, 2),
                "x\u2003y": (3, 2, 2), "e\u0301 x": (4, 2, 3)}
    images = datagen.images(spark, len(captions), seed=3)
    pdf = images.toPandas()
    pdf["caption"] = list(captions)
    path = str(tmp_path_factory.mktemp("edge") / "images")
    spark.createDataFrame(pdf, images.schema).write.parquet(path)
    by_path, by_frame = _featurize_both_inputs(spark, path, 4)
    pd.testing.assert_frame_equal(by_path, by_frame)
    got = sorted(zip(by_frame["caption_len"], by_frame["caption_tokens"],
                     by_frame["caption_rtokens"]))
    assert got == sorted(captions.values())


def test_featurizer_null_caption_counts_zero(spark, tmp_path_factory):
    """A null caption counts like the empty string — length, tokens
    and BPE tokens 0 — on path and DataFrame inputs alike."""
    import pandas as pd

    captions = [None, "", "two words", None]
    images = datagen.images(spark, len(captions), seed=5)
    pdf = images.toPandas()
    pdf["caption"] = pd.Series(captions, dtype=object)
    path = str(tmp_path_factory.mktemp("nullcap") / "images")
    spark.createDataFrame(pdf, images.schema).write.parquet(path)
    by_path, by_frame = _featurize_both_inputs(spark, path, 4)
    pd.testing.assert_frame_equal(by_path, by_frame)
    got = sorted(zip(by_frame["caption_len"], by_frame["caption_tokens"],
                     by_frame["caption_rtokens"]))
    assert got == [(0, 0, 0)] * 3 + [(9, 2, 2)]


def test_dataframe_featurizer_keeps_passthrough_columns(spark):
    """Columns outside the image schema pass through the DataFrame
    input (``jobs/run_catchup.py`` keys its derived table on one)."""
    from hiselspark.sources.fused_scan import featurize_images_fused

    images = datagen.images(spark, 300, seed=9, partitions=3)
    out = featurize_images_fused(
        spark, images.withColumn("__iid", F.col("image_id")), 4)
    assert "__iid" in out.columns and "image_id" not in out.columns
    got = sorted(r["__iid"] for r in out.select("__iid").collect())
    assert got == sorted(r["image_id"]
                         for r in images.select("image_id").collect())


def test_raw6_lossy_codec_psnr_contract(spark):
    """The raw6 lossy codec must satisfy the PSNR >= 40 dB per-row
    invariant on arbitrary content (worst case: uniform noise), and a
    mixed raw/raw6 frame must flow through the pixel-stats stage with
    stats close to the lossless ones."""
    import pandas as pd
    from hiselspark.functions.image import (encode_raw6, decode_image,
                                            psnr, _pixel_stats_frame)
    rng = np.random.default_rng(3)
    rows = []
    for i in range(40):
        w = h = int(rng.choice([16, 32]))
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        buf = encode_raw6(img)
        # packed size: 3 bytes per 4 samples (rounded up) — 75% of raw
        assert len(buf) == -(-w * h * 3 // 4) * 3
        dec = decode_image(buf, w, h, "raw6")
        p = psnr(img, dec)
        assert p >= 40.0, p
        rows.append((f"i{i}", img, buf, w, h))
    pdf = pd.DataFrame({
        "image_id": [r[0] for r in rows],
        "bytes": [r[2] for r in rows],
        "w": [r[3] for r in rows],
        "h": [r[4] for r in rows],
        "fmt": "raw6",
    })
    lossless = pd.DataFrame({
        "image_id": [r[0] for r in rows],
        "bytes": [r[1].tobytes() for r in rows],
        "w": [r[3] for r in rows],
        "h": [r[4] for r in rows],
        "fmt": "raw",
    })
    got = _pixel_stats_frame(pdf)
    exp = _pixel_stats_frame(lossless)
    for c in ("px_mean_r", "px_mean_g", "px_mean_b", "px_q50"):
        np.testing.assert_allclose(got[c], exp[c], atol=2.1, err_msg=c)


def test_fused_scan_reads_snapshot_file_list(spark, tmp_path_factory):
    """The fused scan accepts a snapshot's committed FILE LIST, reading
    exactly the time-travel state (rows written after the snapshot are
    invisible)."""
    from hiselspark.sources.snapshots import SnapshotTable
    from hiselspark.sources.fused_scan import featurize_images_fused

    root = str(tmp_path_factory.mktemp("snapfused") / "tbl")
    t = SnapshotTable(root)
    t.write(datagen.images(spark, 300, seed=5, partitions=2))
    snap1 = t.current()
    t.write(datagen.images(spark, 200, seed=6, partitions=2),
            mode="append")
    out_old = featurize_images_fused(spark, list(snap1.files),
                                     n_phash_bits=4)
    out_new = featurize_images_fused(spark, list(t.current().files),
                                     n_phash_bits=4)
    assert out_old.count() == 300
    assert out_new.count() == 500
