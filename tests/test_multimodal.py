"""Round-5 REAL image decode path: PPM/BMP codec round-trips, the
NotImplementedError boundary for compressed formats, and the
decode→thumbnail→re-encode chain through the Spark plumbing."""

from __future__ import annotations

import numpy as np
import pytest

from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
    decode_and_thumbnail,
    decode_image,
    encode_bmp,
    encode_ppm,
    nn_thumbnail,
    synth_image_payloads,
    synth_pixels,
)


def test_codec_round_trips():
    rng = np.random.RandomState(11)
    # widths chosen to hit every BMP row-padding case (w*3 % 4 = 0..3)
    for w, h in [(4, 4), (5, 3), (6, 2), (7, 5), (16, 14), (1, 1)]:
        pix = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert (decode_image(encode_ppm(pix)) == pix).all(), ("ppm", w, h)
        assert (decode_image(encode_bmp(pix)) == pix).all(), ("bmp", w, h)


def test_compressed_formats_fail_loudly():
    # PNG decodes for real (stdlib zlib) — a PNG-signature payload
    # with garbage chunks fails as CORRUPT, not as a seam
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    # PPM, BMP and PNG decode natively; every other compressed
    # signature (JPEG, GIF, lossless WebP, AVIF) reaches the one
    # NotImplementedError boundary, which names what is supported
    riff = (b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
            + b"VP8L" + (4).to_bytes(4, "little") + b"xxxx")
    for payload in (
        b"\xff\xd8\xff\xe0JFIF....",
        b"GIF89a\x01\x00\x01\x00....",
        riff,
        b"\x00\x00\x00 ftypavif....",
    ):
        with pytest.raises(NotImplementedError, match="PPM.*BMP"):
            decode_image(payload)


def test_nn_thumbnail_sampling_grid():
    # thumb[i, j] must equal src[i*h//th, j*w//tw] exactly
    pix = synth_pixels(123)
    h, w, _ = pix.shape
    t = nn_thumbnail(pix, 4, 4)
    for i in range(4):
        for j in range(4):
            assert (t[i, j] == pix[(i * h) // 4, (j * w) // 4]).all()


def test_decode_thumbnail_bytes_round_trip_through_spark(spark):
    """The emitted thumb bytes are REAL re-encoded PPMs: decoding them
    back yields exactly the sampled pixel grid."""
    ids = spark.createDataFrame([(i,) for i in (0, 5, 77, 300)], "doc_id long")
    rows = decode_and_thumbnail(synth_image_payloads(ids)).collect()
    assert len(rows) == 4
    for r in rows:
        expected = nn_thumbnail(synth_pixels(r.doc_id))
        got = decode_image(bytes(r.thumb))
        assert (got == expected).all()
        assert r.thumb_sum == int(expected.sum(dtype=np.int64))


def test_wav_round_trip_and_boundary():
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
        synth_wav,
    )

    rng = np.random.RandomState(5)
    for n, ch, rate in [(256, 1, 8000), (301, 2, 44100), (1, 1, 16000)]:
        s = rng.randint(-32768, 32768, (n, ch)).astype(np.int16)
        out, r = decode_wav(encode_wav(s, rate))
        assert r == rate and (out == s).all(), (n, ch)
    for d in (0, 3, 499):
        s, rate = synth_wav(d)
        out, r = decode_wav(encode_wav(s, rate))
        assert r == rate and (out == s).all()
    with pytest.raises(NotImplementedError):
        decode_wav(b"OggS....")  # compressed container -> loud seam


def test_y4m_round_trip_and_frame_sample():
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
        synth_video_frames,
    )

    for d in (0, 7, 123):
        fr = synth_video_frames(d)
        got = decode_y4m(encode_y4m(fr))
        assert (got == fr).all()
        assert (got[::2] == fr[::2]).all()  # the sampling grid q111 uses
    with pytest.raises(NotImplementedError):
        decode_y4m(b"\x00\x00\x00\x18ftypmp42...\n")  # mp4 -> loud seam


def test_ahash64_and_phash_dedup_pairs(spark):
    """Round-6 q122: aHash matches an index-arithmetic replay, planted
    identical images pair at hamming 0, perturbed group members pair
    within the band, and unrelated images do not pair."""
    import numpy as np

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.dedup import (
        simhash_hamming_pairs,
    )
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        ahash64,
        decode_image,
        encode_ppm,
        image_phash_frame,
        synth_pixels,
    )

    # replay check: bit b = gy*8+gx set iff red[(gy*h)//8, (gx*w)//8]*64 > sum
    pix = synth_pixels(7)
    h, w, _ = pix.shape
    samples = [
        int(pix[(gy * h) // 8, (gx * w) // 8, 0])
        for gy in range(8)
        for gx in range(8)
    ]
    total = sum(samples)
    u = sum(1 << b for b, v in enumerate(samples) if v * 64 > total)
    expected = u - (1 << 64) if u >= 1 << 63 else u
    assert ahash64(pix) == expected

    # planted corpus: two identical, one tiny perturbation, one unrelated
    base = synth_pixels(3)
    pert = base.copy()
    pert[0, 0, 0] = (int(pert[0, 0, 0]) + 1) % 256
    other = synth_pixels(9)
    rows = [
        (0, bytearray(encode_ppm(base))),
        (1, bytearray(encode_ppm(base))),
        (2, bytearray(encode_ppm(pert))),
        (3, bytearray(encode_ppm(other))),
    ]
    bdf = spark.createDataFrame(rows, "doc_id long, payload binary")
    fp = image_phash_frame(bdf).withColumnRenamed("phash", "simhash")
    got = {
        (r.id1, r.id2): r.hamming
        for r in simhash_hamming_pairs(fp, "doc_id").collect()
    }
    assert got.get((0, 1)) == 0  # identical -> hamming 0
    assert (0, 2) in got and got[(0, 2)] <= 3  # perturbed stays in band
    assert not any(3 in p for p in got)  # unrelated image never pairs
    # and the codec really ran: round-trip sanity
    assert np.array_equal(decode_image(encode_ppm(base)), base)


# -- PNG: stdlib-zlib codec behind decode_image (round-9) ------------------


def test_png_round_trip_all_filters():
    """encode_png cycles the filter type per scanline, so any image
    with >= 5 rows exercises None/Sub/Up/Average/Paeth; the decode
    must reproduce every pixel byte-exactly."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
        synth_pixels,
    )

    for doc_id in (0, 1, 7, 12, 123, 10_007):
        pix = synth_pixels(doc_id)
        assert pix.shape[0] >= 4 and pix.shape[1] >= 4
        payload = encode_png(pix)
        assert payload[:8] == b"\x89PNG\r\n\x1a\n"
        out = decode_png(payload)
        assert (out == pix).all(), f"doc {doc_id}: PNG round trip diverged"
        # and through the format-sniffing front door
        assert (decode_image(payload) == pix).all()


def test_png_round_trip_property():
    """Property: ANY uint8 RGB array round-trips — catches filter/
    unfilter asymmetries the structured grid might mask (e.g. the
    Paeth tie-break order)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=1, max_value=9),
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def run(h, w, seed):
        rng = np.random.RandomState(seed)
        pix = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_png(encode_png(pix)) == pix).all()

    run()


def test_png_all_color_types_depths_and_interlace():
    """Round-10 generalization: every PNG color type (gray, RGB,
    palette-through-PLTE, gray+alpha, RGBA), both depths (8/16-bit,
    big-endian samples), plain and Adam7-interlaced (independently
    filtered passes incl. the empty-pass edge on tiny images) —
    bit-exact round trips through the real writer."""
    import numpy as np

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(41)
    arrays = [
        rng.integers(0, 256, (13, 21), dtype=np.uint8),  # gray
        rng.integers(0, 256, (13, 21, 2), dtype=np.uint8),  # gray+alpha
        rng.integers(0, 256, (13, 21, 3), dtype=np.uint8),  # RGB
        rng.integers(0, 256, (13, 21, 4), dtype=np.uint8),  # RGBA
        rng.integers(0, 65536, (9, 15)).astype(np.uint16),  # gray 16
        rng.integers(0, 65536, (9, 15, 3)).astype(np.uint16),  # RGB 16
    ]
    for arr in arrays:
        for il in (False, True):
            out = decode_png(encode_png(arr, interlace=il))
            assert out.shape == arr.shape and (out == arr).all(), (arr.shape, il)
    pal = rng.integers(0, 256, (17, 3), dtype=np.uint8)
    idx = rng.integers(0, 17, (13, 21), dtype=np.uint8)
    for il in (False, True):
        assert (decode_png(encode_png(idx, palette=pal, interlace=il)) == pal[idx]).all()
    # sub-byte depths (1/2/4-bit, gray and palette, both interlace
    # modes, odd widths exercising the per-row bit padding)
    for depth in (1, 2, 4):
        for il in (False, True):
            g = rng.integers(0, 1 << depth, (13, 21), dtype=np.uint8)
            out = decode_png(encode_png(g, depth=depth, interlace=il))
            assert out.shape == g.shape and (out == g).all(), ("gray", depth, il)
            idx2 = rng.integers(0, min(16, 1 << depth), (13, 21), dtype=np.uint8)
            assert (
                decode_png(encode_png(idx2, palette=pal[:16], depth=depth, interlace=il))
                == pal[:16][idx2]
            ).all(), ("pal", depth, il)
    for w in (1, 3, 7, 9, 15):
        g = rng.integers(0, 2, (5, w), dtype=np.uint8)
        assert (decode_png(encode_png(g, depth=1)) == g).all(), w
    # interlaced tiny images: several Adam7 passes are empty
    for shape in ((1, 1, 3), (3, 2, 3), (2, 9, 3)):
        t = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (decode_png(encode_png(t, interlace=True)) == t).all(), shape
    # the sniffing front door normalizes every variant to (h, w, 3) u8
    assert decode_image(encode_png(arrays[0])).shape == (13, 21, 3)
    assert decode_image(encode_png(arrays[3])).shape == (13, 21, 3)
    assert decode_image(encode_png(arrays[4])).dtype == np.uint8


def test_png_corruption_and_unsupported_variants_fail_loudly():
    import struct
    import zlib

    import numpy as np
    import pytest

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    payload = bytearray(encode_png(np.zeros((6, 5, 3), dtype=np.uint8)))
    # flip one byte inside IDAT: the chunk CRC must catch it
    idat_at = bytes(payload).index(b"IDAT")
    payload[idat_at + 6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(payload))

    # truncated chunk
    good = encode_png(np.zeros((6, 5, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="truncated"):
        decode_png(good[: len(good) // 2])

    # cuts INSIDE the 12-byte chunk framing (length header, tag, CRC)
    # must raise the same ValueError, never a bare struct.error from
    # unpack_from past the buffer end (ADVICE r10: callers classify
    # corrupt-vs-seam by exception type)
    for cut in (9, 12, 14, len(good) - 2, len(good) - 6):
        with pytest.raises(ValueError, match="truncated"):
            decode_png(good[:cut])

    # out-of-spec depth is corruption; a palette header with no PLTE
    # is corruption; both loud ValueErrors, no seam left in-format
    sig = b"\x89PNG\r\n\x1a\n"
    for ihdr, msg in (
        (struct.pack(">IIBBBBB", 4, 4, 3, 0, 0, 0, 0), "depth"),
        (struct.pack(">IIBBBBB", 4, 4, 4, 3, 0, 0, 0), "PLTE"),
    ):
        chunk = (
            struct.pack(">I", len(ihdr))
            + b"IHDR"
            + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        )
        with pytest.raises(ValueError, match=msg):
            decode_png(sig + chunk)

    # non-PNG bytes through the sniffing front door still name the seam
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_image,
    )

    # WebP and JPEG have no decoder behind decode_image: their
    # signatures reach the codec-library boundary, not a parser
    with pytest.raises(NotImplementedError, match="codec"):
        decode_image(b"RIFFxxxxWEBP fake webp")
    with pytest.raises(NotImplementedError, match="codec"):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")


def test_png_palette_depth16_rejected():
    """ADVICE r11: color type 3 (palette) with bit depth 16 is illegal
    per the PNG spec (palette indices cap at 8 bits) — the validator
    must reject it instead of decoding 16-bit samples as indices."""
    import struct
    import zlib

    import pytest

    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        decode_png,
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", b"\x00\x00\x00")
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette"):
        decode_png(payload)


def test_payload_synth_fans_out_to_all_cores(spark):
    """Round-10 (SCALE_r09 §3 fix): the synthesize-from-ids payload
    family must realize full decode parallelism regardless of how few
    splits the ids arrived as — spread_ids repartitions the 8-byte id
    frame to defaultParallelism with an explicit count (AQE must not
    coalesce it back)."""
    from real_time_data_pipeline_for_restaurant_analytics_spark.operators.multimodal import (
        synth_audio_payloads,
        synth_png_payloads,
        synth_video_payloads,
    )

    ids = spark.range(0, 64).withColumnRenamed("id", "doc_id").coalesce(1)
    n = spark.sparkContext.defaultParallelism
    for synth in (
        synth_image_payloads,
        synth_png_payloads,
        synth_audio_payloads,
        synth_video_payloads,
    ):
        assert synth(ids).rdd.getNumPartitions() == n, synth.__name__
