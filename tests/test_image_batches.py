"""The image featurizers' one batch loop: every per-batch body gives the
same rows on a shuffled mixed batch (several raw shapes, one shape group
larger than a chunk, PNG and raw6 payloads) as on one image at a time,
and the same stats for an image whatever its codec."""
from functools import partial

import numpy as np
import pandas as pd
import pytest

from hiselspark.functions import image as im
from hiselspark.functions.png import encode_png

BODIES = {
    "pixel_stats": im._pixel_stats_frame,
    "spatial": partial(im._spatial_frame, grid=2),
    "conv": im._conv_frame,
    "equalize": im._equalize_frame,
    "dhash": im._dhash_frame,
    "otsu": im._otsu_frame,
    "morph": partial(im._morph_frame, thresh=380),
    "blob": partial(im._blob_frame, thresh=380),
    "gradhist": im._gradhist_frame,
    "moments": im._moments_frame,
    "boxmax": im._boxmax_frame,
    "lbp": im._lbp_frame,
    "median3": im._median3_frame,
    "lap_suffstats": im._lap_suffstats_frame,
    "harris": partial(im._harris_frame, threshold=0),
    "glcm": im._glcm_frame,
    "projection": im._projection_frame,
    "color": partial(im._color_stats_frame, q=4),
}


def _img(rng, w, h):
    lo = int(rng.integers(0, 128))
    return rng.integers(lo, lo + 128, size=(h, w, 3), dtype=np.uint8)


def _frame(rows):
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h",
                                       "fmt"])


@pytest.fixture(scope="module")
def mixed_batch():
    """121 shuffled images: 90 raw 128x128 (the chunk bound at that shape
    is 81 images), raw 16x24 / 32x32 / 9x7 groups, 5 PNG, 5 raw6."""
    rng = np.random.default_rng(8)
    rows = []
    shapes = [(128, 128)] * 90 + [(16, 24)] * 8 + [(32, 32)] * 6 \
        + [(9, 7)] * 7
    for w, h in shapes:
        rows.append((_img(rng, w, h).tobytes(), w, h, "raw"))
    for w, h in [(16, 24), (32, 32), (9, 7), (20, 12), (16, 24)]:
        rows.append((encode_png(_img(rng, w, h)), w, h, "png"))
    for w, h in [(16, 24), (9, 7), (32, 32), (12, 10), (9, 7)]:
        rows.append((im.encode_raw6(_img(rng, w, h)), w, h, "raw6"))
    return _frame([(f"i{k}", *rows[k])
                   for k in rng.permutation(len(rows))])


def test_mixed_batch_spans_more_than_one_chunk(mixed_batch):
    big = (mixed_batch["w"] == 128) & (mixed_batch["fmt"] == "raw")
    cubes = []
    im._each_image(mixed_batch, lambda rows, cube: cubes.append(
        (len(rows), cube.shape[1:])))
    assert big.sum() == 90
    assert [n for n, s in cubes if s == (128, 128, 3)] == [81, 9]
    assert sum(n for n, _ in cubes) == len(mixed_batch)


@pytest.mark.parametrize("name", sorted(BODIES))
def test_body_batched_equals_one_image_at_a_time(mixed_batch, name):
    body = BODIES[name]
    got = body(mixed_batch).reset_index(drop=True)
    one = pd.concat([body(mixed_batch.iloc[[i]])
                     for i in range(len(mixed_batch))],
                    ignore_index=True)
    pd.testing.assert_frame_equal(got, one, check_exact=True)


@pytest.mark.parametrize("name", sorted(BODIES))
def test_body_png_payload_equals_raw(name):
    """PNG is lossless: the same images give the same stats either way
    (the color body used to reject any non-raw payload)."""
    rng = np.random.default_rng(5)
    imgs = [(f"p{i}", _img(rng, w, h), w, h)
            for i, (w, h) in enumerate([(16, 24), (9, 7), (16, 24)])]
    raw = _frame([(k, a.tobytes(), w, h, "raw") for k, a, w, h in imgs])
    png = _frame([(k, encode_png(a), w, h, "png") for k, a, w, h in imgs])
    body = BODIES[name]
    pd.testing.assert_frame_equal(body(png).drop(columns=["fmt"]),
                                  body(raw).drop(columns=["fmt"]),
                                  check_exact=True)


def test_transforms_decode_non_raw_payloads(spark):
    """augment_images / resize_images put a decoded PNG or raw6 image
    through the same batched transform as raw cubes: the bytes equal the
    single-image oracles on the decoded pixels."""
    rng = np.random.default_rng(6)
    rows = []
    for i, (w, h, fmt) in enumerate([(12, 10, "raw"), (12, 10, "png"),
                                     (16, 8, "raw6"), (12, 10, "raw")]):
        a = _img(rng, w, h)
        buf = {"raw": a.tobytes, "png": lambda: encode_png(a),
               "raw6": lambda: im.encode_raw6(a)}[fmt]()
        rows.append((f"t{i}", buf, w, h, fmt))
    pdf = _frame(rows)
    ops = [("crop", 1, 2, 6, 5), ("rot90",), ("vflip",)]
    aug = (im.augment_images(spark.createDataFrame(pdf), ops)
           .toPandas().set_index("image_id"))
    rsz = (im.resize_images(spark.createDataFrame(pdf), 5, 7)
           .toPandas().set_index("image_id"))
    for key, buf, w, h, fmt in rows:
        src = im.decode_image(buf, w, h, fmt)
        exp = im.augment_raw(src, ops)
        assert aug.loc[key, "bytes"] == exp.tobytes(), key
        assert (aug.loc[key, "w"], aug.loc[key, "h"]) == (5, 6)
        assert rsz.loc[key, "bytes"] == im.resize_raw(src, 5, 7).tobytes()
        assert (rsz.loc[key, "w"], rsz.loc[key, "h"]) == (5, 7)
    assert set(aug["fmt"]) == set(rsz["fmt"]) == {"raw"}
