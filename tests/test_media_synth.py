"""media_synth: deterministic payload synthesis + round-trip validation
(the driver row ``media_roundtrip``'s machinery)."""

import numpy as np
import pytest

from datasketch_spark.operators.media_synth import (
    encode_bmp,
    encode_gif,
    encode_png,
    media_dims,
    media_kind,
    media_payload,
    media_pixels,
    media_roundtrip_check,
    synth_media,
)
from datasketch_spark.operators.multimodal import (
    decode_bmp,
    decode_gif,
    decode_image,
    decode_png,
)


def test_encoders_roundtrip_through_engine_decoders():
    # The synth encoders and the engine decoders are independent
    # implementations; pixel-exact round-trip across many shapes is the
    # invariant the driver oracle fixes TRUE.
    rng = np.random.RandomState(3)
    for h, w in [(1, 1), (1, 9), (9, 1), (5, 7), (16, 16)]:
        px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)
        assert np.array_equal(decode_png(encode_png(px)), px)
        gray = px[:, :, 0]
        assert np.array_equal(
            decode_gif(encode_gif(gray)), np.repeat(gray[:, :, None], 3, axis=2)
        )


def test_media_payload_kinds_and_determinism():
    for mid in range(16):
        kind = media_kind(mid)
        p1, p2 = media_payload(mid), media_payload(mid)
        assert p1 == p2  # deterministic
        if kind == "corrupt":
            with pytest.raises((ValueError, NotImplementedError)):
                decode_image(p1)
        else:
            got = decode_image(p1)
            w, h = media_dims(mid)
            assert got.shape == (h, w, 3)
            if kind == "jpeg":  # DCT coding: bounded rounding error
                assert np.max(
                    np.abs(got.astype(int) - media_pixels(mid).astype(int))
                ) <= 6
            else:
                assert np.array_equal(got, media_pixels(mid))


def test_synth_and_check_distributed(spark):
    ids = spark.range(0, 40).withColumnRenamed("id", "media_id")
    out = media_roundtrip_check(synth_media(ids)).collect()
    assert len(out) == 40
    assert all(r["ok"] for r in out)
    by_kind = {}
    for r in out:
        by_kind.setdefault(r["kind"], []).append(r)
    assert set(by_kind) == {"bmp", "png", "gif", "jpeg", "corrupt"}
    for r in by_kind["corrupt"]:
        assert r["width"] == -1 and r["height"] == -1
    for kind in ("bmp", "png", "gif", "jpeg"):
        for r in by_kind[kind]:
            w, h = media_dims(r["media_id"])
            assert (r["width"], r["height"]) == (w, h)


def test_check_flags_pixel_corruption(spark):
    # A payload whose pixels DIVERGE from the id formula must yield
    # ok=False — proves the checker compares content, not just headers.
    import pandas as pd
    from pyspark.sql import functions as F

    from datasketch_spark.operators.media_synth import SYNTH_SCHEMA

    def _bad_gen(batches):
        for pdf in batches:
            mids = pdf["media_id"].tolist()
            rows = []
            for m in mids:
                px = media_pixels(m).copy()
                px[0, 0, 0] ^= 0xFF  # flip one byte
                rows.append((m, "png", encode_png(px)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload"])

    ids = spark.range(0, 8).select(F.col("id").alias("media_id"))
    bad = ids.mapInPandas(_bad_gen, schema=SYNTH_SCHEMA)
    out = media_roundtrip_check(bad).collect()
    assert len(out) == 8 and not any(r["ok"] for r in out)


def test_check_quarantines_bitrot_instead_of_crashing(spark):
    # A bit-rotted PNG raises zlib.error and a truncated JPEG raises
    # IndexError deep in the decoders; the checker must report ok=False
    # rows, not die.
    import pandas as pd
    from pyspark.sql import functions as F

    from datasketch_spark.operators.media_synth import (
        SYNTH_SCHEMA,
        encode_png,
        media_payload,
    )

    png = bytearray(encode_png(media_pixels(1)))
    png[-20] ^= 0xFF  # corrupt IDAT -> zlib.error
    jpeg = media_payload(3)[:40]  # truncated mid-tables
    rows = [(1, "png", bytes(png)), (3, "jpeg", bytes(jpeg))]

    def _gen(batches):
        for pdf in batches:
            want = pdf["media_id"].tolist()
            sel = [r for r in rows if r[0] in want]
            yield pd.DataFrame(sel, columns=["media_id", "kind", "payload"])

    media = (
        spark.createDataFrame([(1,), (3,)], ["media_id"])
        .mapInPandas(_gen, schema=SYNTH_SCHEMA)
    )
    out = {r["media_id"]: r for r in media_roundtrip_check(media).collect()}
    assert len(out) == 2
    assert not out[1]["ok"] and not out[3]["ok"]


def test_jpeg_media_alternates_baseline_and_progressive():
    # jpeg-kind payloads alternate SOF0/SOF2 by id; both decode
    # bit-identically and within the unit-quant tolerance of the formula.
    from datasketch_spark.operators.media_synth import media_payload

    sofs = set()
    for mid in (3, 8, 13, 18):
        p = media_payload(mid)
        if b"\xff\xc0" in p:
            sofs.add("baseline")
        if b"\xff\xc2" in p:
            sofs.add("progressive")
        got = decode_image(p)
        want = media_pixels(mid)
        assert got.shape == want.shape
        assert np.max(np.abs(got.astype(int) - want.astype(int))) <= 6
    assert sofs == {"baseline", "progressive"}
