"""Property tests for the multimodal pillar (operators/multimodal.py),
porting the reference's invariant checks (SURVEY §5.1) and adding the
determinism check the reference fails (§2.2.1).
"""

from __future__ import annotations

import glob
import os
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from big_data_medical_analysis_spark.operators import multimodal as M
from big_data_medical_analysis_spark.sources.readers import read_table


def test_equalize_hist_stretches_range():
    """Normalization maps a non-constant image onto the full [0,255] range
    (reference: utils/preprocessing_testing_utils.py:16-26)."""
    rng = np.random.RandomState(0)
    img = rng.randint(64, 192, size=(32, 32)).astype(np.uint8)
    eq = M.equalize_hist(img)
    assert int(eq.min()) == 0
    assert int(eq.max()) == 255
    # constant image is untouched (no divide-by-zero)
    flat = np.full((8, 8), 77, dtype=np.uint8)
    assert (M.equalize_hist(flat) == flat).all()


def test_augment_is_deterministic():
    """recompute ≡ compute — the hazard the reference's global-RNG augment
    fails (src/preprocessing_pipeline.py:78,:87-89,:96 re-roll per action)."""
    rng = np.random.RandomState(1)
    img = rng.randint(0, 256, size=(32, 32)).astype(np.uint8)
    content = img.tobytes()
    a = M.augment_variants(img, content)
    b = M.augment_variants(img, content)
    assert a == b
    assert len(a) == M.N_VARIANTS
    assert len(set(a)) == M.N_VARIANTS  # all 9 variants distinct


def test_pipeline_determinism_and_fanout(spark, sf_dir):
    """The full Spark chain recomputed twice yields identical bytes, and the
    explode fans 1 row into exactly N_VARIANTS rows."""
    n_imgs = M.synth_images(spark, sf_dir).count()
    exploded = M.augment_pipeline(M.synth_images(spark, sf_dir))
    counts = {r.variant: r.n for r in M.image_augment_fanout(spark, sf_dir).collect()}
    assert set(counts) == set(range(M.N_VARIANTS))
    assert all(n == n_imgs for n in counts.values())
    assert exploded.count() == n_imgs * M.N_VARIANTS

    digest = (
        exploded.select(F.md5(F.hex("aug_content")).alias("h"))
        .agg(F.count_distinct("h").alias("u"), F.count(F.lit(1)).alias("n"))
    )
    r1 = digest.collect()[0]
    r2 = digest.collect()[0]  # full lazy recompute
    assert (r1.u, r1.n) == (r2.u, r2.n)
    assert r1.n == n_imgs * M.N_VARIANTS


def test_decode_stats_full_contrast(spark, sf_dir):
    """Every normalized synthetic image reaches both ends of the range —
    the corpus-wide form of the reference's normalization spot check."""
    rows = M.image_decode_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.min_pixel == 0
        assert r.max_pixel == 255
        assert r.n_full_low == r.n_images
        assert r.n_full_high == r.n_images


def test_fused_queries_match_composed_chain(spark, sf_dir):
    """The round-16 one-crossing fused kernels must equal the composed
    operator chain they replaced, value for value (the augment_pipeline
    fusion discipline): image_decode_stats' fused pass vs the
    synth_images → normalize_pipeline → image_stats chain, and
    image_augment_fanout's fused pass vs augment_pipeline."""
    from pyspark.sql import functions as F

    # Exact-integer columns compare exactly; averaged doubles use approx
    # (ADVICE r16: double-sum merge order across partitions is
    # nondeterministic, so a value near a round-4 boundary could flake
    # under exact set equality).
    fused_rows = M.image_decode_stats(spark, sf_dir).collect()
    fused = {r.label: r for r in fused_rows}
    imgs = M.normalize_pipeline(M.synth_images(spark, sf_dir))
    stats = imgs.withColumn(
        "s", M.image_stats("norm_content", "height", "width")
    ).select("label", "s.p_min", "s.p_max", "s.p_mean")
    composed_rows = (
        stats.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("p_min").alias("min_pixel"),
            F.max("p_max").alias("max_pixel"),
            F.round(F.avg("p_mean"), 4).alias("avg_mean_pixel"),
            F.sum((F.col("p_min") == 0).cast("long")).alias("n_full_low"),
            F.sum((F.col("p_max") == 255).cast("long")).alias("n_full_high"),
        )
        .collect()
    )
    composed = {r.label: r for r in composed_rows}
    # one row per label on each side: a dict silently collapses duplicates
    assert (len(fused), len(composed)) == (len(fused_rows), len(composed_rows))
    assert set(fused) == set(composed)
    for label, f in fused.items():
        c = composed[label]
        assert (f.n_images, f.min_pixel, f.max_pixel, f.n_full_low,
                f.n_full_high) == (c.n_images, c.min_pixel, c.max_pixel,
                                   c.n_full_low, c.n_full_high)
        assert f.avg_mean_pixel == pytest.approx(c.avg_mean_pixel, abs=1e-4)

    fan_rows = M.image_augment_fanout(spark, sf_dir).collect()
    fan = {r.variant: r for r in fan_rows}
    composed_fan_rows = (
        M.augment_pipeline(M.synth_images(spark, sf_dir))
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("img_id").alias("n_images"),
            F.avg(F.length("aug_content")).alias("avg_bytes"),
        )
        .collect()
    )
    composed_fan = {r.variant: r for r in composed_fan_rows}
    assert (len(fan), len(composed_fan)) == (len(fan_rows), len(composed_fan_rows))
    assert set(fan) == set(composed_fan)
    for variant, f in fan.items():
        c = composed_fan[variant]
        assert (f.n, f.n_images) == (c.n, c.n_images)
        assert f.avg_bytes == pytest.approx(c.avg_bytes, rel=1e-9)


def test_write_images_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "imgs")
    imgs = M.synth_images(spark, sf_dir).limit(10)
    n = M.write_images(M.normalize_pipeline(imgs), out)
    files = glob.glob(os.path.join(out, "*.gray"))
    assert len(files) == n == 10
    for f in files:
        assert os.path.getsize(f) == M.IMG_SIDE * M.IMG_SIDE


def test_read_pickle_blobs(spark, tmp_path):
    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    for i in range(3):
        payload = {
            "cxr_img": np.zeros((4, 5), dtype=np.float32),
            "task": f"t{i}",
            "gt": i,
        }
        with open(blob_dir / f"b{i}.pkl", "wb") as f:
            pickle.dump(payload, f)
    df = M.read_pickle_blobs(spark, str(blob_dir))
    rows = df.collect()
    assert len(rows) == 3
    for r in rows:
        assert r.keys == ["cxr_img", "gt", "task"]
        assert r.shape == [4, 5]


def test_jpeg_roundtrip_error_bounds():
    """JPEG is lossy: the invariant is an error bound per quality, with the
    q=100 special case (all-ones quant table) pinned at max error ≤ 1 —
    only DCT float rounding remains. Shapes cover non-multiple-of-8
    padding, degenerate 1×1, and non-square."""
    from big_data_medical_analysis_spark.operators import jpeg_codec as J

    rng = np.random.RandomState(13)
    for shape in [(32, 32), (8, 8), (17, 23), (1, 1), (9, 16)]:
        img = rng.randint(0, 256, size=shape).astype(np.uint8)
        for quality, bound in [(50, 96), (75, 64), (90, 48), (100, 1)]:
            back = J.decode_jpeg(J.encode_jpeg(img, quality))
            assert back.shape == img.shape, (shape, quality)
            err = np.abs(back.astype(int) - img.astype(int)).max()
            assert err <= bound, (shape, quality, err)


def test_jpeg_smooth_image_compresses_and_reconstructs():
    """On a smooth gradient the codec must both compress (fewer bytes than
    raw) and reconstruct almost exactly even at default quality — the DCT
    concentrates a gradient into low frequencies."""
    from big_data_medical_analysis_spark.operators import jpeg_codec as J

    x = np.linspace(0, 255, 64).astype(np.uint8)
    smooth = np.tile(x, (64, 1))
    blob = J.encode_jpeg(smooth, 75)
    back = J.decode_jpeg(blob)
    assert len(blob) < smooth.size
    assert np.abs(back.astype(int) - smooth.astype(int)).max() <= 2


def test_jpeg_decoder_rejects_unsupported():
    from big_data_medical_analysis_spark.operators import jpeg_codec as J

    with pytest.raises(ValueError):
        J.decode_jpeg(b"not a jpeg")
    img = np.zeros((8, 8), dtype=np.uint8)
    blob = bytearray(J.encode_jpeg(img, 75))
    # flip SOF0 (0xC0) to progressive SOF2 (0xC2): must reject, not guess
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC2
    with pytest.raises(ValueError):
        J.decode_jpeg(bytes(blob))
    with pytest.raises(ValueError):
        J.decode_jpeg(J.encode_jpeg(img, 75)[:-10])  # truncated scan


def test_jpeg_decoder_rejects_invalid_huffman_tables():
    """A crafted DHT must fail with the codec's own error: three 1-bit
    codes over-subscribe the code space (the LUT used to grow past its
    65536 slots), and a DC category above 15 used to reach a negative
    shift. Both are rejected while the table is built, and the LUT cache
    stays bounded however many distinct tables a stream carries."""
    from big_data_medical_analysis_spark.operators import jpeg_codec as J

    blob = J.encode_jpeg(np.full((8, 8), 128, dtype=np.uint8), 75)
    dht = blob.find(b"\xff\xc4")
    end = dht + 2 + int.from_bytes(blob[dht + 2 : dht + 4], "big")
    ac_table = blob[dht + 4 + 17 + len(J._DC_VALS) : end]

    def with_dc_table(bits, vals):
        payload = (bytes([0x00]) + bytes(bits + [0] * (16 - len(bits)))
                   + bytes(vals) + ac_table)
        seg = b"\xff\xc4" + (len(payload) + 2).to_bytes(2, "big") + payload
        return blob[:dht] + seg + blob[end:]

    with pytest.raises(ValueError, match="invalid Huffman table: over-subscribed"):
        J.decode_jpeg(with_dc_table([3], [0, 1, 2]))
    with pytest.raises(ValueError, match="invalid Huffman table: DC category 20"):
        J.decode_jpeg(with_dc_table([1], [20]))

    for n in range(J._LUT_CACHE_MAX + 8):
        J._build_lut(False, [1] + [0] * 15, [n])
    assert len(J._LUT_CACHE) <= J._LUT_CACHE_MAX


def test_jpeg_byte_stuffing_roundtrips():
    """High-entropy noise at quality 90 reliably lands 0xFF bytes in the
    entropy stream (~40% of 16×16 seeds) — exercise the stuff/unstuff path:
    the corpus must contain stuffed bytes somewhere AND every stream must
    decode clean within the q90 error bound."""
    from big_data_medical_analysis_spark.operators import jpeg_codec as J

    rng = np.random.RandomState(0)
    saw_stuffing = False
    for _ in range(20):
        img = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
        blob = J.encode_jpeg(img, 90)
        scan = blob[blob.find(b"\xff\xda") + 14 :]
        saw_stuffing = saw_stuffing or b"\xff\x00" in scan
        back = J.decode_jpeg(blob)
        assert np.abs(back.astype(int) - img.astype(int)).max() <= 48
    assert saw_stuffing


def test_jpeg_decode_stats_query(spark, sf_dir):
    """Every image at every quality must land inside its error bound, and
    q=100 (near-lossless) must have worst_err ≤ 1."""
    rows = {r["quality"]: r for r in M.jpeg_decode_stats(spark, sf_dir).collect()}
    assert set(rows) == {50, 75, 90, 100}
    for q, r in rows.items():
        assert r["n_within_bound"] == r["n_images"], q
    assert rows[100]["worst_err"] <= 1


def test_resize_bilinear_properties():
    """Bilinear resize: shape contract, constant-image invariance, and
    approximate mean preservation (downsampling averages, so the global
    mean moves only slightly)."""
    flat = np.full((32, 32), 99, dtype=np.uint8)
    assert (M.resize_bilinear(flat, 16, 16) == 99).all()
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(32, 32)).astype(np.uint8)
    small = M.resize_bilinear(img, 16, 16)
    assert small.shape == (16, 16)
    assert abs(float(small.mean()) - float(img.mean())) < 8.0
    # determinism
    assert (M.resize_bilinear(img, 16, 16) == small).all()


def test_video_frame_sample_fanout(spark, sf_dir):
    """Every clip emits exactly ceil(N_FRAMES/stride) frames, each of
    frame-sized bytes, at the sampled indices."""
    clips = M.synth_clips(spark, sf_dir, n_clips=20)
    frames = M.sample_frames(clips)
    rows = frames.collect()
    expected_idx = list(range(0, M.N_FRAMES, M.FRAME_STRIDE))
    per_clip: dict[int, list[int]] = {}
    for r in rows:
        per_clip.setdefault(r.clip_id, []).append(r.frame_idx)
        assert len(r.frame) == M.IMG_SIDE * M.IMG_SIDE
    assert len(per_clip) == 20
    for idxs in per_clip.values():
        assert sorted(idxs) == expected_idx


def test_audio_features_exact():
    """RMS/peak computed int64-exact on a known PCM blob."""
    pcm = np.array([3, -4, 0, 5], dtype="<i2")
    out = M.audio_features.func(pd.Series([pcm.tobytes()]))
    assert int(out["n_samples"][0]) == 4
    assert int(out["peak"][0]) == 5
    # the UDF rounds to 6 dp
    assert abs(float(out["rms"][0]) - np.sqrt((9 + 16 + 0 + 25) / 4)) < 1e-6


def test_decode_mp3_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_mp3(b"ID3")


def test_png_roundtrip_all_filters():
    """encode_png → decode_png is the identity for every scanline filter
    type and several shapes, including degenerate 1×1 and non-square."""
    rng = np.random.RandomState(13)
    for ft in range(5):
        for shape in [(32, 32), (1, 1), (5, 17), (64, 3)]:
            img = rng.randint(0, 256, size=shape).astype(np.uint8)
            back = M.decode_png(M.encode_png(img, ft))
            assert np.array_equal(img, back), (ft, shape)


def test_png_decoder_rejects_garbage():
    with pytest.raises(ValueError):
        M.decode_png(b"not a png at all")
    # truncated: signature + nothing
    with pytest.raises(ValueError):
        M.decode_png(b"\x89PNG\r\n\x1a\n")


def test_png_decoder_rejects_unsupported_color():
    """An RGB IHDR must be rejected, not mis-decoded."""
    img = np.zeros((4, 4), dtype=np.uint8)
    b = bytearray(M.encode_png(img, 0))
    # IHDR data starts at offset 16; color type is its 10th byte
    b[16 + 9] = 2  # RGB
    with pytest.raises(ValueError):
        M.decode_png(bytes(b))


def test_read_png_dir_decodes_real_files(spark, tmp_path):
    """binaryFile scan + stdlib decode: PNG files on disk come back as
    typed rows whose raw bytes equal the original arrays."""
    pngdir = tmp_path / "pngs"
    pngdir.mkdir()
    rng = np.random.RandomState(3)
    originals = {}
    for i in range(4):
        img = rng.randint(0, 256, size=(8 + i, 11)).astype(np.uint8)
        (pngdir / f"im{i}.png").write_bytes(M.encode_png(img, i % 5))
        originals[f"im{i}.png"] = img
    rows = M.read_png_dir(spark, str(pngdir)).collect()
    assert len(rows) == 4
    for r in rows:
        name = r.path.rsplit("/", 1)[-1]
        img = originals[name]
        assert (r.height, r.width) == img.shape
        assert bytes(r.content) == img.tobytes()


def test_png_decode_stats_query(spark, sf_dir):
    """The registered query round-trips every image through the real codec:
    n_roundtrip_ok == n_images per label, and equalized ranges untouched
    (the query decodes the ORIGINAL low-contrast synth images)."""
    rows = M.png_decode_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_roundtrip_ok == r.n_images
        assert r.avg_png_bytes > 0


def test_wav_roundtrip_and_chunk_tolerance():
    """encode_wav → decode_wav is the identity; the decoder tolerates extra
    RIFF chunks (e.g. LIST) before fmt/data, per the container spec."""
    rng = np.random.RandomState(11)
    pcm = (rng.standard_normal(777) * 5000).astype("<i2")
    wav = M.encode_wav(pcm, 8000)
    back, rate = M.decode_wav(wav)
    assert rate == 8000 and np.array_equal(pcm, back)
    # splice a LIST chunk (odd length → word-aligned) between WAVE and fmt
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = wav[:12] + extra + wav[12:]
    spliced = spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
    back2, rate2 = M.decode_wav(spliced)
    assert rate2 == 8000 and np.array_equal(pcm, back2)


def test_wav_decoder_rejects_unsupported():
    with pytest.raises(ValueError):
        M.decode_wav(b"not riff data....")
    pcm = np.zeros(4, dtype="<i2")
    wav = bytearray(M.encode_wav(pcm))
    wav[22] = 2  # stereo
    with pytest.raises(ValueError):
        M.decode_wav(bytes(wav))


def test_read_wav_dir_decodes_real_files(spark, tmp_path):
    wavdir = tmp_path / "wavs"
    wavdir.mkdir()
    rng = np.random.RandomState(5)
    originals = {}
    for i in range(3):
        pcm = (rng.standard_normal(100 + i) * 3000).astype("<i2")
        (wavdir / f"c{i}.wav").write_bytes(M.encode_wav(pcm, 16_000))
        originals[f"c{i}.wav"] = pcm
    rows = M.read_wav_dir(spark, str(wavdir)).collect()
    assert len(rows) == 3
    for r in rows:
        pcm = originals[r.path.rsplit("/", 1)[-1]]
        assert r.sample_rate == 16_000
        assert r.n_samples == pcm.size
        assert bytes(r.pcm) == pcm.tobytes()


def test_wav_decode_stats_query(spark, sf_dir):
    rows = M.wav_decode_stats(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_roundtrip_ok == r.n_clips
        # 44-byte canonical header + 2 bytes/sample
        assert r.min_wav_bytes == 44 + 2 * M.AUDIO_SAMPLES


# --- hypothesis property tests: codecs hold for arbitrary inputs ----------

from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays


@settings(max_examples=25, deadline=None)
@given(
    img=arrays(
        np.uint8,
        st.tuples(st.integers(1, 24), st.integers(1, 24)),
        elements=st.integers(0, 255),
    ),
    ft=st.integers(0, 4),
)
def test_png_roundtrip_property(img, ft):
    assert np.array_equal(M.decode_png(M.encode_png(img, ft)), img)


@settings(max_examples=25, deadline=None)
@given(
    pcm=arrays(
        np.int16, st.integers(0, 512), elements=st.integers(-32768, 32767)
    ),
    rate=st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(pcm, rate):
    back, got_rate = M.decode_wav(M.encode_wav(pcm.astype("<i2"), rate))
    assert got_rate == rate and np.array_equal(back, pcm)


def test_pkl_png_roundtrip_full_range_and_identity(spark, sf_dir):
    """Every GradCAM-style blob must survive unpickle → render → PNG encode
    → decode byte-exactly, and min-max rendering must span 0..255 for
    non-constant tensors (the plt gray-render normalization)."""
    from big_data_medical_analysis_spark.operators.multimodal import (
        PKL_N_BLOBS,
        pkl_png_roundtrip,
    )

    rows = pkl_png_roundtrip(spark, sf_dir).collect()
    assert rows, "no task cohorts produced"
    total = sum(r.n_maps for r in rows)
    assert total == min(
        PKL_N_BLOBS,
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < PKL_N_BLOBS)
        .count(),
    )
    for r in rows:
        assert r.n_roundtrip_ok == r.n_maps, f"lossy roundtrip in {r.task}"
        assert r.min_pixel == 0 and r.max_pixel == 255


def test_dhash_near_dup_finds_every_planted_twin_and_nothing_random(spark, sf_dir):
    """Perceptual dedup contract: every planted one-pixel twin pair is
    found (the pigeonhole banding guarantees recall at the Hamming
    threshold), pairs are canonical (a < b), and no two INDEPENDENT
    random images collide within the threshold (64-bit dHash on
    uniform-noise images ~ 32-bit expected distance)."""
    from big_data_medical_analysis_spark.operators.multimodal import (
        DHASH_MAX_HDIST,
        DHASH_TWIN_EVERY,
        image_dhash_near_dup,
    )
    from big_data_medical_analysis_spark.sources.readers import read_table

    rows = image_dhash_near_dup(spark, sf_dir).collect()
    n_imgs = read_table(spark, sf_dir, "documents").count()
    expected_twins = {
        (i, i + 1_000_000) for i in range(0, n_imgs, DHASH_TWIN_EVERY)
    }
    got_twins = {
        (r.img_a, r.img_b) for r in rows if r.img_b - r.img_a == 1_000_000
    }
    assert got_twins == expected_twins  # 100% planted recall
    for r in rows:
        assert r.img_a < r.img_b
        assert 0 <= r.hdist <= DHASH_MAX_HDIST
    randoms = [r for r in rows if r.img_b - r.img_a != 1_000_000]
    assert len(randoms) == 0  # uniform-noise images never collide


def test_dhash_kernel_survives_the_edit_a_byte_hash_misses(spark):
    """Unit contract of the perceptual hash: the one-pixel bump changes
    the BYTES (md5 differs) but not the dHash (Hamming 0) — exactly the
    robustness byte-level dedup lacks; a genuinely different image sits
    far away in Hamming space."""
    import hashlib

    import numpy as np

    from big_data_medical_analysis_spark.operators.multimodal import dhash64

    rng = np.random.RandomState(7)
    img = rng.randint(64, 192, size=(32, 32)).astype(np.uint8)
    bumped = img.copy()
    bumped[0, 0] = min(int(bumped[0, 0]) + 1, 255)
    assert hashlib.md5(img.tobytes()).hexdigest() != hashlib.md5(
        bumped.tobytes()
    ).hexdigest()
    assert dhash64(img) == dhash64(bumped)
    other = rng.randint(64, 192, size=(32, 32)).astype(np.uint8)
    assert bin(dhash64(img) ^ dhash64(other)).count("1") > 10
