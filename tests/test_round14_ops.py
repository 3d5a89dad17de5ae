"""Round-14 operators and the five ADVICE r13 regressions:

- trim_audio_head meta carries the TRUE canonical-rate output count
  (the resample_audio discipline), not native-header-minus-trim;
- trim_audio_head / slice_audio_samples re-encode with np.round, not
  int truncation, so rate-normalized transforms land on the same
  int16 grid as resample_audio;
- delete_index_rows refuses null / non-integer partition values
  (directory paths are built as ``k=v`` text, which only matches the
  Hive layout for non-null integers) and documents idempotent re-run
  as the crash recovery;
- read_index_table scopes its q/tbl int cast to tables whose
  partition directory values actually parse as integers.

Reference anchors: the media tiers are parity-plus LLM-pipeline
operators (no reference twin); the audio framing follows Haitsma &
Kalker (2002).
"""

import io
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from fsharp_dataframe_spark.functions import multimodal as M


def _decode(payload):
    with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
        rate = wf.getframerate()
        raw = wf.readframes(wf.getnframes())
    return rate, np.frombuffer(raw, dtype="<i2").astype(np.int64)


# ----------------------------------------------------------------------
# ADVICE r13 regressions: audio transform meta + quantization
# ----------------------------------------------------------------------


def test_trim_audio_head_meta_true_count_noncanonical_rate(spark):
    # a 16 kHz source: the output is re-encoded at AFP_SR after rate
    # normalization, so n_frames must be the canonical-rate output
    # count, NOT the 16 kHz header count minus the trim (ADVICE r13)
    media = M.make_fake_audio_stream_media(spark, 6)
    up16 = M.resample_audio(media, 16000)
    ns = 700  # deliberately not a hop or window multiple
    out = M.trim_audio_head(up16, ns)
    rows = out.collect()
    assert any(r["payload"] is not None for r in rows)
    for r in rows:
        if r["payload"] is None:
            assert r["meta"]["n_frames"] == 0
            assert r["meta"]["duration_s"] == 0.0
            continue
        rate, s = _decode(r["payload"])
        assert rate == M.AFP_SR
        # true output count = canonical-rate length minus the trim;
        # the 16 kHz header count minus ns would be ~2x too large
        nw = M.audio_stream_window_count(r["media_id"])
        n16 = round(nw * M.AFP_FRAME * 16000 / 8000)
        ncanon = round(n16 * M.AFP_SR / 16000)
        assert len(s) == ncanon - ns
        assert r["meta"]["n_frames"] == len(s)
        assert abs(r["meta"]["duration_s"] - len(s) / M.AFP_SR) < 1e-9
        assert r["meta"]["n_frames"] != n16 - ns  # the old bug's value


def test_trim_audio_head_quantizes_like_resample(spark):
    # trimming a non-canonical-rate clip must produce the SAME int16
    # samples as resampling it to AFP_SR first and dropping the head:
    # np.round at the re-encode, not truncation toward zero
    media = M.make_fake_audio_stream_media(spark, 6)
    up16 = M.resample_audio(media, 16000)
    ns = 512
    trimmed = {r["media_id"]: r["payload"]
               for r in M.trim_audio_head(up16, ns).collect()}
    normed = {r["media_id"]: r["payload"]
              for r in M.resample_audio(up16, M.AFP_SR).collect()}
    checked = 0
    for mid, p in trimmed.items():
        if p is None or normed.get(mid) is None:
            continue
        _, s_trim = _decode(p)
        _, s_norm = _decode(normed[mid])
        assert np.array_equal(s_trim, s_norm[ns:])
        checked += 1
    assert checked >= 4


def test_slice_audio_samples_quantizes_like_resample(spark):
    media = M.make_fake_audio_stream_media(spark, 6)
    up16 = M.resample_audio(media, 16000)
    lo, n = 1536, 4096
    sliced = {r["media_id"]: r["payload"]
              for r in M.slice_audio_samples(up16, lo, n).collect()}
    normed = {r["media_id"]: r["payload"]
              for r in M.resample_audio(up16, M.AFP_SR).collect()}
    checked = 0
    for mid, p in sliced.items():
        if p is None or normed.get(mid) is None:
            continue
        _, s_sl = _decode(p)
        _, s_norm = _decode(normed[mid])
        assert np.array_equal(s_sl, s_norm[lo:lo + n])
        checked += 1
    assert checked >= 4


def test_trim_audio_head_canonical_rate_unchanged(spark):
    # identity decode path: an 8 kHz clip's trim is still the exact
    # byte-level suffix (np.round is a no-op on integral samples)
    media = M.make_fake_audio_stream_media(spark, 4)
    ns = 1024
    src = {r["media_id"]: r["payload"] for r in media.collect()}
    out = {r["media_id"]: r["payload"]
           for r in M.trim_audio_head(media, ns).collect()}
    checked = 0
    for mid, p in out.items():
        if p is None or src.get(mid) is None:
            continue
        _, s_t = _decode(p)
        _, s_s = _decode(src[mid])
        assert np.array_equal(s_t, s_s[ns:])
        checked += 1
    assert checked >= 3


# ----------------------------------------------------------------------
# ADVICE r13 regressions: index_store partition-value hygiene
# ----------------------------------------------------------------------


def test_delete_index_rows_refuses_non_integer_partitions(spark,
                                                          tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        delete_index_rows, save_index_table,
    )

    path = str(tmp_path / "strkeyed")
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)],
        "media_id long, q string, v long")
    save_index_table(df, path, partition_by=("q",))
    with pytest.raises(ValueError, match="non-null integer"):
        delete_index_rows(spark, path, [1], id_col="media_id",
                          partition_by=("q",))
    # untouched: the refusal happened before any rewrite
    from fsharp_dataframe_spark.sources.parquet import read_parquet

    assert read_parquet(spark, path).count() == 3


def test_delete_index_rows_refuses_null_partitions(spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        delete_index_rows, save_index_table,
    )

    path = str(tmp_path / "nullkeyed")
    df = spark.createDataFrame(
        [(1, 7, 10), (2, None, 20)], "media_id long, q int, v long")
    save_index_table(df, path, partition_by=("q",))
    with pytest.raises(ValueError, match="non-null integer"):
        delete_index_rows(spark, path, [2], id_col="media_id",
                          partition_by=("q",))


def test_delete_index_rows_int_partitions_still_work(spark, tmp_path):
    # the refusal must not catch the supported layout (ints restored
    # by read_index_table's scoped cast even with inference off)
    from fsharp_dataframe_spark.functions.index_store import (
        delete_index_rows, read_index_table, save_index_table,
    )

    media = M.make_fake_video_media(spark, 8)
    pt = M.video_frame_piece_table(media, every_n=2)
    path = str(tmp_path / "intkeyed")
    save_index_table(pt, path, partition_by=("q",))
    delete_index_rows(spark, path, [3], id_col="vid",
                      partition_by=("q",))
    left = read_index_table(spark, path)
    assert left.filter(F.col("vid") == 3).count() == 0
    assert left.count() == pt.filter(F.col("vid") != 3).count()


# ----------------------------------------------------------------------
# sub-hop audio boundary (VERDICT r13 ask #2): the hop dial's
# measured point and the exact-matching family's honest floor
# ----------------------------------------------------------------------


def test_hop_dial_768_trim_misses_at_512_caught_at_256(spark):
    # 768 samples = 1.5 default hops = 3 analysis frames: the default
    # hop=512 framing provably misses every planted pair (windows
    # land mid-hop off the source grid and scramble), hop=256 catches
    # them all at offset 3 with full coverage — the measured point on
    # the recall/cost dial (2x index rows vs the default)
    n = 24
    media = M.make_fake_audio_stream_media(spark, n)
    clones = (M.trim_audio_head(
        media.filter(F.col("media_id") % 4 == 1), 768)
        .withColumn("media_id", F.col("media_id") + n))
    corpus = media.unionByName(clones)
    planted = {(i, i + n) for i in range(n) if i % 4 == 1
               and M.audio_stream_window_count(i) >= 2}
    assert len(planted) >= 5
    coarse = {(r["id_a"], r["id_b"]) for r in
              M.audio_overlap_near_dup(corpus, hop=512).collect()}
    assert not (coarse & planted)  # the default hop provably misses
    fine = {(r["id_a"], r["id_b"]):
            (r["offset"], r["matched_windows"],
             r["comparable_windows"])
            for r in M.audio_overlap_near_dup(corpus, hop=256)
            .collect()}
    for pair in planted:
        off, mt, cmp_ = fine[pair]
        assert off == 3  # 3 x 256 = 768 samples trimmed
        assert mt == cmp_  # full coverage
    # fan-out arithmetic: the hop-256 index holds exactly 2x the
    # hop-512 windows on untrimmed streams (8nw-7 vs 4nw-3)
    c512 = M.audio_overlap_fingerprints(media, hop=512).filter(
        F.col("decode_ok")).count()
    c256 = M.audio_overlap_fingerprints(media, hop=256).filter(
        F.col("decode_ok")).count()
    nws = [M.audio_stream_window_count(i) for i in range(n)]
    assert c512 == sum(4 * w - 3 for w in nws if w >= 1)
    assert c256 == sum(8 * w - 7 for w in nws if w >= 1)


def test_sub_frame_trim_is_the_exact_family_floor(spark):
    # the honest boundary, pinned: a trim that is NOT a multiple of
    # the 256-sample analysis frame shifts every frame's FFT window
    # and scrambles all bits at ANY hop — shrinking the hop cannot
    # catch it; that takes bit-error-rate matching (Haitsma-Kalker
    # 2002), a different verify stage
    n = 24
    media = M.make_fake_audio_stream_media(spark, n)
    clones = (M.trim_audio_head(
        media.filter(F.col("media_id") % 4 == 1), 100)
        .withColumn("media_id", F.col("media_id") + n))
    corpus = media.unionByName(clones)
    planted = {(i, i + n) for i in range(n) if i % 4 == 1
               and M.audio_stream_window_count(i) >= 2}
    assert len(planted) >= 5
    for hop in (512, 256):
        got = {(r["id_a"], r["id_b"]) for r in
               M.audio_overlap_near_dup(corpus, hop=hop).collect()}
        assert not (got & planted), hop


# ----------------------------------------------------------------------
# BER verify stage (audio_ber_verify): closes the exact family's
# pinned sub-frame floor for candidate pairs from any coarse tier
# ----------------------------------------------------------------------


def test_audio_ber_verify_exact_trims_any_size(spark):
    # exact head trims of ANY size — including the 100-sample
    # sub-frame cut every banded hop tier provably misses — verify at
    # lag = the trim with ber exactly 0.0 over the aligned overlap
    n = 18
    media = M.make_fake_audio_stream_media(spark, n)
    plants = {1: 100, 3: 768, 7: 100, 9: 1024, 13: 100, 15: 768}
    clones = None
    for i, t in plants.items():
        c = (M.trim_audio_head(media.filter(F.col("media_id") == i), t)
             .withColumn("media_id", F.col("media_id") + n))
        clones = c if clones is None else clones.unionByName(c)
    corpus = media.unionByName(clones)
    pairs = spark.createDataFrame(
        [(i, i + n) for i in plants], "id_a long, id_b long")
    got = {r["id_a"]: r for r in
           M.audio_ber_verify(pairs, corpus).collect()}
    for i, t in plants.items():
        r = got[i]
        nw = M.audio_stream_window_count(i)
        L = nw * M.AFP_FRAME - t
        assert r["lag"] == t
        assert r["ber"] == 0.0
        assert r["n_windows"] == (L - M.AFP_FRAME) // M.AFP_HOP + 1


def test_audio_ber_verify_discriminates_unrelated(spark):
    # unrelated clips read ber ~ 0.5 at whatever lag correlation
    # picks — far above the Haitsma-Kalker 0.35 publication threshold
    n = 18
    media = M.make_fake_audio_stream_media(spark, n)
    pairs = spark.createDataFrame(
        [(0, 2), (4, 10), (6, 16), (8, 14)], "id_a long, id_b long")
    for r in M.audio_ber_verify(pairs, media).collect():
        assert r["n_windows"] >= 1
        assert r["ber"] > 0.35, (r["id_a"], r["id_b"], r["ber"])


def test_audio_ber_verify_rate_normalized_reencode(spark):
    # a 16 kHz re-encode clone: rate-normalized decode makes the
    # aligned fingerprints bit-identical -> lag 0, ber 0.0
    n = 12
    media = M.make_fake_audio_stream_media(spark, n)
    clones = (M.resample_audio(media, 16000)
              .withColumn("media_id", F.col("media_id") + n))
    corpus = media.unionByName(clones)
    pairs = spark.createDataFrame(
        [(i, i + n) for i in range(n)], "id_a long, id_b long")
    for r in M.audio_ber_verify(pairs, corpus).collect():
        assert r["lag"] == 0
        assert r["ber"] == 0.0


def test_audio_ber_verify_degradation(spark):
    n = 6
    media = M.make_fake_audio_stream_media(spark, n)
    bad = spark.createDataFrame(
        [(100, bytearray(b"NOTAWAV"),
          {"mime": "audio/wav", "width": None, "height": None,
           "n_frames": 0, "duration_s": 0.0})], M.MEDIA_SCHEMA)
    corpus = media.unionByName(bad)
    pairs = spark.createDataFrame(
        [(0, 100)], "id_a long, id_b long")
    r = M.audio_ber_verify(pairs, corpus).collect()[0]
    # undecodable side: no lag, no windows, NULL ber — the row is
    # REPORTED (a verify stage must not silently drop its input)
    assert r["lag"] is None and r["n_windows"] == 0
    assert r["ber"] is None


# ----------------------------------------------------------------------
# image crop transform + shift-verify stage (the 2-D twin of the
# audio trim/BER pair)
# ----------------------------------------------------------------------


def test_crop_media_pixel_exact(spark):
    # real decode + crop + re-encode: the cropped payload decodes to
    # EXACTLY the sliced source pixels; meta width/height patched
    import numpy as np

    media = M.make_fake_dhash_media(spark, 6)
    src = {r["media_id"]: M._decode_gray_array(bytes(r["payload"]))
           for r in media.collect()}
    out = M.crop_media(media, 3, 2, height=20, width=25)
    for r in out.collect():
        g = M._decode_gray_array(bytes(r["payload"]))
        assert g.shape == (20, 25)
        assert np.array_equal(g, src[r["media_id"]][3:23, 2:27])
        assert r["meta"]["height"] == 20
        assert r["meta"]["width"] == 25
    # window larger than the image, or an undecodable payload,
    # degrades to NULL with zeroed dims
    too_big = M.crop_media(media, 0, 0, height=99).collect()
    assert all(r["payload"] is None and r["meta"]["height"] == 0
               for r in too_big)
    with pytest.raises(ValueError):
        M.crop_media(media, -1, 0)


def test_image_shift_verify_crops_exact(spark):
    # crops of several geometries verify at their exact origin with
    # agreement 1.0 — including origins no dHash grid can express
    n = 20
    media = M.make_fake_dhash_media(spark, n)
    plants = {2: (3, 2), 7: (1, 5), 12: (0, 7), 17: (9, 0)}
    crops = None
    for i, (t, l) in plants.items():
        c = (M.crop_media(media.filter(F.col("media_id") == i), t, l)
             .withColumn("media_id", F.col("media_id") + n))
        crops = c if crops is None else crops.unionByName(c)
    corpus = media.unionByName(crops)
    pairs = spark.createDataFrame(
        [(i, i + n) for i in plants], "id_a long, id_b long")
    got = {r["id_a"]: r for r in
           M.image_shift_verify(pairs, corpus).collect()}
    for i, (t, l) in plants.items():
        r = got[i]
        assert (r["dy"], r["dx"]) == (t, l)
        assert r["agreement"] == 1.0
        assert r["overlap_px"] == (32 - t) * (36 - l)


def test_image_shift_verify_discriminates(spark):
    # unrelated fixture images agree at chance level whatever shift
    # the correlation picks.  NOTE the fixture's chance level is high
    # by construction — its pixels walk +-8 around 128, only ~17
    # distinct gray levels, and the top-k refinement MAXIMIZES
    # agreement — measured <= 0.54 across fixture pairs vs EXACTLY
    # 1.0 for any true crop; real-world content agrees far lower
    media = M.make_fake_dhash_media(spark, 16)
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (8, 9)], "id_a long, id_b long")
    for r in M.image_shift_verify(pairs, media).collect():
        assert r["agreement"] is not None
        assert r["agreement"] < 0.8, (r["id_a"], r["id_b"],
                                      r["agreement"])


def test_dhash_tier_provably_misses_crops(spark):
    # the motivating blind spot, pinned: a (3, 2)-origin crop re-bins
    # the dHash resize grid, so the banded whole-image tier finds
    # ZERO planted pairs — image_shift_verify is the closing stage
    from fsharp_dataframe_spark.functions.dedup import (
        banded_hamming_pairs,
    )

    n = 20
    media = M.make_fake_dhash_media(spark, n)
    crops = (M.crop_media(media.filter(F.col("media_id") % 5 == 2),
                          3, 2)
             .withColumn("media_id", F.col("media_id") + n))
    corpus = media.unionByName(crops)
    planted = {(i, i + n) for i in range(n) if i % 5 == 2}
    hashes = (M.dhash_media(corpus).filter(F.col("decode_ok"))
              .select(F.col("media_id").alias("doc_id"),
                      F.col("dhash").alias("sh")))
    got = {(r["id_a"], r["id_b"]) for r in banded_hamming_pairs(
        hashes, max_hamming=2, id_col="doc_id").collect()}
    assert not (got & planted)


def test_image_shift_verify_degradation(spark):
    media = M.make_fake_dhash_media(spark, 4)
    bad = spark.createDataFrame(
        [(100, bytearray(b"NOTAPNG"),
          {"mime": "image/png", "width": 1, "height": 1,
           "n_frames": 1, "duration_s": None})], M.MEDIA_SCHEMA)
    corpus = media.unionByName(bad)
    pairs = spark.createDataFrame([(0, 100)], "id_a long, id_b long")
    r = M.image_shift_verify(pairs, corpus).collect()[0]
    assert r["dy"] is None and r["overlap_px"] == 0
    assert r["agreement"] is None


# ----------------------------------------------------------------------
# residue-set video sampling (dual parity generalized, VERDICT r13
# ask #3: every_n=2/residues=(0,) is the r13 special case; larger
# strides no longer refuse)
# ----------------------------------------------------------------------


def _md5_60(tag: str) -> int:
    import hashlib

    return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16)


def test_residue_comparable_formula_brute_force(spark):
    # the residue-set alignable-count closed form vs brute force,
    # symmetric AND directional, several strides / residue sets /
    # offsets (incl. negative and non-multiples of the stride)
    from fsharp_dataframe_spark.functions.dedup import (
        pigeonhole_pieces,
    )

    offs = pigeonhole_pieces(64, 2)

    def pieces(rows):
        out = []
        for pid, idx, sh in rows:
            for q, (o, w) in enumerate(offs):
                out.append((pid, idx, sh, q, (sh >> o) & ((1 << w) - 1)))
        return spark.createDataFrame(
            out, "id long, idx long, sh long, q int, qv long")

    configs = [(7, 3), (10, 6), (5, 9), (8, 8)]  # (n_l, m_r)
    for s, rs in ((2, (0,)), (3, (0,)), (3, (0, 1)), (4, (1, 3)),
                  (3, (2,))):
        for directional in (False, True):
            grid_rows, dense_rows, expect = [], [], {}
            for p, ((n_l, m_r), t0) in enumerate(
                    [(c, t) for c in configs for t in (-3, -1, 0, 1,
                                                       2, 5)]):
                gl, dr = 2 * p, 2 * p + 1
                grid = [j for j in range(n_l) if j % s in rs]
                if not grid:
                    continue
                for j in grid:
                    grid_rows.append((gl, j, _md5_60(f"{s}{rs}{p}_{j}")))
                for i in range(m_r):
                    # right position i holds the left pattern i + t0,
                    # so the ONLY matching alignment is offset t0
                    dense_rows.append(
                        (dr, i, _md5_60(f"{s}{rs}{p}_{i + t0}")))
                matched = len([j for j in grid
                               if 0 <= j - t0 < m_r])
                brute = matched  # every alignable grid pos matches
                if brute > 0:
                    expect[(gl, dr)] = (t0, matched, brute)
            got = {}
            res = M._offset_vote_match(
                pieces(grid_rows), pieces(dense_rows), stride=s,
                residues=rs, max_hamming=2, directional=directional)
            for r in res.collect():
                off = r["offset"] if not directional else -r["offset"]
                got[(r["id_l"], r["id_r"])] = (
                    off, r["matched"], r["comparable"])
            assert got == expect, (s, rs, directional)


def test_residue_stride3_catches_any_trim(spark):
    # 1- and 2-frame trims (neither a multiple of 3) through the real
    # container transform: the every_n=3 same-grid offset matcher
    # provably misses every planted pair; the residue matcher catches
    # them all at the exact trim offset
    n = 30
    media = M.make_fake_video_media(spark, n)
    t1 = (M.trim_video_head(media.filter(F.col("media_id") % 5 == 1), 1)
          .withColumn("media_id", F.col("media_id") + n))
    t2 = (M.trim_video_head(media.filter(F.col("media_id") % 5 == 3), 2)
          .withColumn("media_id", F.col("media_id") + 2 * n))
    corpus = media.unionByName(t1).unionByName(t2)
    planted = set()
    for i in range(n):
        # an alignable stride-3 grid position needs j ≡ 0 (mod 3)
        # with trim <= j <= nf-1, i.e. j = 3 exists: nf >= 4
        if i % 5 == 1 and M.video_frame_count(i) >= 4:
            planted.add((i, i + n, 1))
        if i % 5 == 3 and M.video_frame_count(i) >= 4:
            planted.add((i, i + 2 * n, 2))
    assert len(planted) >= 8
    got = {(r["id_a"], r["id_b"], r["offset"])
           for r in M.video_near_dup_dual(corpus, every_n=3)
           .collect()}
    assert planted <= got
    # the same-grid matcher at stride 3: grids shift off each other,
    # zero planted pairs survive
    old = {(r["id_a"], r["id_b"])
           for r in M.video_near_dup_offset(corpus, every_n=3)
           .collect()}
    assert not ({(a, b) for a, b, _ in planted} & old)


def test_cross_residue_stride3_directional(spark):
    n = 30
    media = M.make_fake_video_media(spark, n)
    clones = (M.trim_video_head(
        media.filter(F.col("media_id") % 5 == 1), 1)
        .withColumn("media_id", F.col("media_id") + n))
    got = {(r["new_id"], r["old_id"], r["offset"])
           for r in M.cross_video_near_dup_dual(
               clones, media, every_n=3).collect()}
    planted = {(i + n, i, 1) for i in range(n)
               if i % 5 == 1 and M.video_frame_count(i) >= 4}
    assert planted <= got
    # stored dense piece table serves the residue matcher too
    pt = M.video_frame_piece_table(media, every_n=1)
    got2 = {(r["new_id"], r["old_id"], r["offset"])
            for r in M.cross_video_near_dup_dual(
                clones, pt, every_n=3,
                existing_is_piece_table=True).collect()}
    assert got2 == got


def test_residue_stride2_unchanged_vs_offset_matcher(spark):
    # the r13 dual-parity contract survives the generalization: for
    # EVEN trims the residue matcher at every_n=2 reports (offset,
    # matched, comparable) identical to video_near_dup_offset
    n = 24
    media = M.make_fake_video_media(spark, n)
    clones = (M.trim_video_head(
        media.filter(F.col("media_id") % 4 == 1), 2)
        .withColumn("media_id", F.col("media_id") + n))
    corpus = media.unionByName(clones)
    dual = {(r["id_a"], r["id_b"]):
            (r["offset"], r["matched_frames"], r["comparable_frames"])
            for r in M.video_near_dup_dual(corpus, every_n=2)
            .collect()}
    off = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_frames"], r["comparable_frames"])
           for r in M.video_near_dup_offset(corpus, every_n=2)
           .collect()}
    assert off  # fixture twins + planted even trims
    for k, v in off.items():
        assert dual[k] == v


def test_video_frame_hashes_residue_grid(spark):
    media = M.make_fake_video_media(spark, 6)
    got = (M.video_frame_hashes(media, every_n=3, residues=(0, 2))
           .filter(F.col("decode_ok")).collect())
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], set()).add(r["frame_idx"])
    for mid, idxs in by_id.items():
        nf = M.video_frame_count(mid)
        assert idxs == {f for f in range(nf) if f % 3 in (0, 2)}
    # residue grid hashes equal the dense table's rows at those
    # positions (same decode, no drift between paths)
    dense = {(r["media_id"], r["frame_idx"]): r["dhash"]
             for r in M.video_frame_hashes(media, every_n=1)
             .filter(F.col("decode_ok")).collect()}
    for r in got:
        assert dense[(r["media_id"], r["frame_idx"])] == r["dhash"]


# ----------------------------------------------------------------------
# snapshot-refreshed stream-static matching (no restart, VERDICT r13
# ask #6): foreachBatch re-reads the stored index per micro-batch
# ----------------------------------------------------------------------


def test_stream_cross_refreshed_sees_appends_without_restart(
        spark, tmp_path):
    """The no-restart twin of the r13 refresh-contract pin: the SAME
    corpus/append legs, but run through run_stream_cross_refreshed —
    the index append becomes visible to the NEXT micro-batch of one
    continuously-running query; no checkpoint restart leg exists."""
    from fsharp_dataframe_spark.functions.index_store import (
        append_index_rows, save_index_table,
    )
    from fsharp_dataframe_spark.functions.multimodal import (
        cross_video_near_dup_offset,
    )
    from fsharp_dataframe_spark.streaming.ops import (
        read_stream_parquet, run_stream_cross_refreshed,
    )

    n = 24
    base = M.make_fake_video_media(spark, n)
    idx = str(tmp_path / "idx")
    save_index_table(
        M.video_frame_piece_table(
            base.filter(F.col("media_id") < 12), every_n=2),
        idx, partition_by=("q",))
    clones = (M.trim_video_head(base.filter(F.col("media_id") % 7 == 3),
                                2)
              .withColumn("media_id", F.col("media_id") + n)
              .withColumn("ts", F.lit("2024-01-01 00:00:00")
                          .cast("timestamp")))
    src = str(tmp_path / "src")
    outdir = str(tmp_path / "out")
    (clones.filter(F.col("media_id") - n < 12)
     .write.mode("overwrite").parquet(src))
    q = run_stream_cross_refreshed(
        read_stream_parquet(spark, src, clones.schema), idx,
        lambda b, s: cross_video_near_dup_offset(
            b, s, every_n=2, existing_is_piece_table=True),
        out_path=outdir, checkpoint=str(tmp_path / "ck"))
    try:
        q.processAllAvailable()

        def olds():
            return {r["old_id"]
                    for r in spark.read.parquet(outdir).collect()}

        assert olds() == {3, 10}
        # append to the index MID-STREAM, then feed clones of the
        # appended half — the running query's next micro-batch
        # re-reads the index and sees them: no restart
        append_index_rows(
            spark, idx,
            M.video_frame_piece_table(
                base.filter(F.col("media_id") >= 12), every_n=2),
            id_col="vid", partition_by=("q",))
        (clones.filter(F.col("media_id") - n >= 12)
         .write.mode("append").parquet(src))
        q.processAllAvailable()
        assert olds() == {3, 10, 17}
    finally:
        q.stop()


# ----------------------------------------------------------------------
# TTL retention sweep (expire_index_rows, VERDICT r13 ask #4)
# ----------------------------------------------------------------------


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


def test_expire_index_rows_equals_rebuild_without(spark, tmp_path):
    # non-partition watermark: touched partitions rewritten with only
    # their fresh rows; result row-identical to an index rebuilt over
    # the fresh corpus; returned count exact; re-run a no-op
    from fsharp_dataframe_spark.functions.index_store import (
        expire_index_rows, read_index_table, save_index_table,
    )

    n = 24
    media = M.make_fake_video_media(spark, n)
    pt = (M.video_frame_piece_table(media, every_n=2)
          .withColumn("ingest_day",
                      (F.col("vid") % 4).cast("long")))
    path = str(tmp_path / "aged")
    save_index_table(pt, path, partition_by=("q",))
    n_old = pt.filter(F.col("ingest_day") < 2).count()
    got = expire_index_rows(spark, path, "ingest_day", 2,
                            partition_by=("q",))
    assert got == n_old
    cols = ["vid", "frame_idx", "sh", "q", "qv", "ingest_day"]
    rebuilt = (M.video_frame_piece_table(
        media.filter(F.col("media_id") % 4 >= 2), every_n=2)
        .withColumn("ingest_day", (F.col("vid") % 4).cast("long")))
    assert _sorted_rows(read_index_table(spark, path), cols) \
        == _sorted_rows(rebuilt, cols)
    # idempotent: the same cutoff again expires nothing
    assert expire_index_rows(spark, path, "ingest_day", 2) == 0
    # all-fresh no-op
    assert expire_index_rows(spark, path, "ingest_day", 0) == 0


def test_expire_index_rows_null_watermark_survives(spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        expire_index_rows, read_index_table, save_index_table,
    )

    path = str(tmp_path / "nullwm")
    df = spark.createDataFrame(
        [(1, 0, 10), (2, 0, None), (3, 1, 5)],
        "media_id long, q int, day long")
    save_index_table(df, path, partition_by=("q",))
    assert expire_index_rows(spark, path, "day", 7) == 1
    left = _sorted_rows(read_index_table(spark, path),
                        ["media_id", "q", "day"])
    # unknown age is not old age: the NULL-watermark row survives
    assert left == [(1, 0, 10), (2, 0, None)]


def test_expire_index_rows_partition_pruned(spark, tmp_path):
    # watermark IS a partition key: expired directories are dropped
    # whole; fresh partitions keep their files BIT-FOR-BIT (no read,
    # no rewrite) — the 100 TB retention shape
    import os

    from fsharp_dataframe_spark.functions.index_store import (
        expire_index_rows, read_index_table, save_index_table,
    )

    n = 24
    media = M.make_fake_video_media(spark, n)
    pt = (M.video_frame_piece_table(media, every_n=2)
          .withColumn("day", (F.col("vid") % 3).cast("int")))
    path = str(tmp_path / "daykeyed")
    save_index_table(pt, path, partition_by=("q", "day"))

    def _snap(root):
        snap = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    st = os.stat(p)
                    snap[p] = (st.st_size, st.st_mtime_ns)
        return snap

    fresh_before = {p: v for p, v in _snap(path).items()
                    if "/day=2/" in p or "/day=1/" in p}
    n_old = pt.filter(F.col("day") < 1).count()
    got = expire_index_rows(spark, path, "day", 1,
                            partition_by=("q", "day"))
    assert got == n_old
    cols = ["vid", "frame_idx", "sh", "q", "qv", "day"]
    rebuilt = (M.video_frame_piece_table(
        media.filter(F.col("media_id") % 3 >= 1), every_n=2)
        .withColumn("day", (F.col("vid") % 3).cast("int")))
    assert _sorted_rows(read_index_table(spark, path), cols) \
        == _sorted_rows(rebuilt, cols)
    fresh_after = {p: v for p, v in _snap(path).items()
                   if "/day=2/" in p or "/day=1/" in p}
    assert fresh_before == fresh_after  # untouched = bit-for-bit
    # no day=0 directory survives (dropped outright, no marker file)
    assert not any("/day=0" in d for d, _, _ in os.walk(path))
    # idempotent
    assert expire_index_rows(spark, path, "day", 1,
                             partition_by=("q", "day")) == 0


def test_expire_index_rows_partition_pruned_empties_table(spark,
                                                          tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        expire_index_rows, read_index_table, save_index_table,
    )

    path = str(tmp_path / "allold")
    df = spark.createDataFrame(
        [(1, 0, 3), (2, 1, 4)], "media_id long, q int, day int")
    save_index_table(df, path, partition_by=("q", "day"))
    assert expire_index_rows(spark, path, "day", 99,
                             partition_by=("q", "day")) == 2
    # fully-expired table still reads back (zero rows, schema kept)
    assert read_index_table(spark, path).count() == 0


def test_expire_index_rows_rejects_non_int_cutoff_on_partition_key(
        spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        expire_index_rows, save_index_table,
    )

    path = str(tmp_path / "badcut")
    df = spark.createDataFrame(
        [(1, 0, 3)], "media_id long, q int, day int")
    save_index_table(df, path, partition_by=("q", "day"))
    with pytest.raises(ValueError, match="integer"):
        expire_index_rows(spark, path, "day", "2024-01-01",
                          partition_by=("q", "day"))


def test_read_index_table_scoped_cast(spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        read_index_table, save_index_table,
    )

    # a user table partitioned by a NON-numeric column named q: the
    # reader must keep strings (warning), not cast join keys to NULL
    path = str(tmp_path / "userq")
    df = spark.createDataFrame(
        [(1, "east", 10), (2, "west", 20)],
        "media_id long, q string, v long")
    save_index_table(df, path, partition_by=("q",))
    prev = spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "true")
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try:
        with pytest.warns(UserWarning, match="non-integer"):
            got = read_index_table(spark, path)
        assert dict(got.dtypes)["q"] == "string"
        assert {r["q"] for r in got.collect()} == {"east", "west"}
        # integer-valued directories still cast (the r12 behavior)
        path2 = str(tmp_path / "intq")
        media = M.make_fake_video_media(spark, 4)
        save_index_table(M.video_frame_piece_table(media, every_n=2),
                         path2, partition_by=("q",))
        got2 = read_index_table(spark, path2)
        assert dict(got2.dtypes)["q"] == "int"
        assert got2.filter(F.col("q").isNull()).count() == 0
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionColumnTypeInference.enabled", prev)
