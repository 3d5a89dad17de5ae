"""Round-13 operators: overlapped-hop audio framing, dual-parity
video sampling, rate-normalized audio decode, index retirement — plus
the four ADVICE r12 regressions (read_index_table partition-dtype
cast, trim_video_head NULL-payload meta guard, floor-semantics offset
scaling, directional self-pair guard).

Reference anchors: the media tiers are parity-plus LLM-pipeline
operators (no reference twin); the overlapped framing follows
Haitsma & Kalker (2002) hop-based sub-fingerprints, banded via the
pigeonhole substrate of functions/dedup.py.
"""

import pytest
from pyspark.sql import functions as F

from fsharp_dataframe_spark.functions import multimodal as M


# ----------------------------------------------------------------------
# ADVICE r12 regressions
# ----------------------------------------------------------------------


def test_trim_video_head_nulls_meta_on_degraded_rows(spark):
    # a malformed container degrades to a NULL payload; meta.n_frames
    # must read 0, not a phantom src-minus-trim count (ADVICE r12)
    bad = spark.createDataFrame(
        [(0, bytearray(b"NOTAVIDEO"),
          {"mime": "video/x-fsv", "width": 36, "height": 32,
           "n_frames": 9, "duration_s": 2.25})],
        M.MEDIA_SCHEMA)
    r = M.trim_video_head(bad, 2).collect()[0]
    assert r["payload"] is None
    assert r["meta"]["n_frames"] == 0


def test_offset_vote_scaling_uses_floor_not_truncation(spark):
    # a mixed-parity grid (right side sampled off the canonical
    # stride-2 grid) produces a negative non-multiple offset; the
    # alignable count must use floor(offset/stride), not trunc
    # (ADVICE r12): t = floor(-1/2) = -1 -> comparable = 2, where
    # truncation's t = 0 silently miscounted 3
    from fsharp_dataframe_spark.functions.dedup import (
        pigeonhole_pieces,
    )

    offs = pigeonhole_pieces(64, 2)
    rows = []
    for mid, idxs in ((1, (0, 2, 4)), (2, (1, 3, 5))):
        for k, idx in enumerate(idxs):
            sh = 0x0F0F0F + k * 0x101010101
            for q, (o, w) in enumerate(offs):
                rows.append((mid, idx, sh, q, (sh >> o) & ((1 << w) - 1)))
    pieces = spark.createDataFrame(
        rows, "id long, idx long, sh long, q int, qv long")
    got = M._offset_vote_match(pieces, pieces, stride=2, max_hamming=2,
                               directional=False).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_l"], r["id_r"], r["offset"]) == (1, 2, -1)
    assert r["comparable"] == 2


def test_directional_offset_vote_guards_self_pairs(spark):
    # a partial re-ingest overlaps ids between batch and corpus; the
    # directional join must not emit trivial self-pairs (ADVICE r12)
    df = M.make_fake_audio_stream_media(spark, 12)
    got = M.cross_audio_stream_near_dup(df, df).collect()
    assert all(r["new_id"] != r["old_id"] for r in got)
    # the real cross pairs (planted trims, both directions) survive
    assert {(r["new_id"], r["old_id"]) for r in got} == {
        (i, i - 1) for i in range(12) if i % 6 == 5} | {
        (i - 1, i) for i in range(12) if i % 6 == 5}


def test_read_index_table_casts_string_partition_cols(spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        read_index_table, save_index_table,
    )

    pt = M.video_frame_piece_table(M.make_fake_video_media(spark, 8))
    path = str(tmp_path / "pieces_idx")
    save_index_table(pt, path, partition_by=("q",))
    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        back = read_index_table(spark, path)
        assert dict(back.dtypes)["q"] == "int"
        assert back.count() == pt.count()
    finally:
        spark.conf.set(key, old)


# ----------------------------------------------------------------------
# overlapped-hop audio framing
# ----------------------------------------------------------------------


def test_afp_windows_hop_reduces_to_nonoverlap_and_fast_path():
    import numpy as np

    i = 3
    pats = [M._afp_stream_pattern(i, w) for w in range(4)]
    s = np.concatenate([M._synth_fp_window(p) for p in pats])
    assert M._afp_windows_hop(s, M.AFP_FRAME) == M._afp_all_windows(s)
    assert M._afp_windows_hop(s, M.AFP_HOP)[0] == M._afp_from_samples(s)
    assert M._afp_windows_hop(None, M.AFP_HOP) == []
    assert M._afp_windows_hop(s[: M.AFP_FRAME - 1], M.AFP_HOP) == []


def test_overlapped_fingerprints_are_pattern_byte_assemblies():
    # window at hop h starts at frame 2h; each 256-sample synth frame
    # independently encodes its 8 pattern bits, so the overlapped
    # fingerprint is the byte concatenation of adjacent block patterns
    import numpy as np

    i, nw = 3, 5
    pats = [M._afp_stream_pattern(i, w) for w in range(nw)]
    s = np.concatenate([M._synth_fp_window(p) for p in pats])
    fps = M._afp_windows_hop(s, M.AFP_HOP)
    assert len(fps) == 4 * nw - 3
    hopf = M.AFP_HOP // M.AFP_WIN
    for h, fp in enumerate(fps):
        u = 0
        for j in range(8):
            f = h * hopf + j
            w, r = divmod(f, 8)
            u |= ((pats[w] >> (r * 8)) & 255) << (8 * j)
        if u >= 1 << 63:
            u -= 1 << 64
        assert fp == u, h


def _audio_corpus_with_sample_trims(spark, n, trim=1024, mod=4, res=2):
    media = M.make_fake_audio_stream_media(spark, n)
    clones = (M.trim_audio_head(
        media.filter(F.col("media_id") % mod == res), trim)
        .withColumn("media_id", F.col("media_id") + n))
    return media, clones, media.unionByName(clones)


def test_audio_overlap_catches_subwindow_trim_nonoverlap_misses(spark):
    n = 24
    media, clones, corpus = _audio_corpus_with_sample_trims(spark, n)
    # the planted trim is 1024 samples = 2 hops, NOT a window multiple:
    # the non-overlapping framing provably misses every planted pair
    miss = {(r["id_a"], r["id_b"])
            for r in M.audio_stream_near_dup(corpus).collect()}
    planted = {(i, i + n) for i in range(n)
               if i % 4 == 2 and M.audio_stream_window_count(i) >= 2}
    assert not (miss & planted)
    # overlapped framing catches them at offset 2 (hop units) with
    # full coverage
    got = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_windows"], r["comparable_windows"])
           for r in M.audio_overlap_near_dup(corpus).collect()}
    for a, b in planted:
        off, m, c = got[(a, b)]
        nw = M.audio_stream_window_count(a)
        assert off == 2 and m == c == 4 * nw - 5, (a, b, off, m, c)
    # and still reports the fixture's own window-trimmed plants
    # (i % 6 == 5: one full window = 4 hops)
    for i in range(n):
        if i % 6 == 5:
            assert got[(i - 1, i)][0] == 4


def test_cross_audio_overlap_near_dup_directional(spark):
    n = 24
    media, clones, corpus = _audio_corpus_with_sample_trims(spark, n)
    got = {(r["new_id"], r["old_id"]): r["offset"]
           for r in M.cross_audio_overlap_near_dup(clones, media)
           .collect()}
    planted = {(i + n, i): 2 for i in range(n)
               if i % 4 == 2 and M.audio_stream_window_count(i) >= 2}
    for k, v in planted.items():
        assert got[k] == v
    # stored-index shape: corpus joined as a persisted piece table
    pt = (M.audio_overlap_piece_table(media))
    got2 = {(r["new_id"], r["old_id"]): r["offset"]
            for r in M.cross_audio_overlap_near_dup(
                clones, pt, existing_is_piece_table=True).collect()}
    assert got2 == got


def test_trim_audio_head_meta_and_degradation(spark):
    media = M.make_fake_audio_stream_media(spark, 14)
    t = M.trim_audio_head(media, 1024)
    for r in t.collect():
        nw = M.audio_stream_window_count(r["media_id"])
        if nw * M.AFP_FRAME > 1024:
            assert r["payload"] is not None
            s = M._decode_wav_samples(r["payload"])
            assert len(s) == nw * M.AFP_FRAME - 1024
            assert r["meta"]["n_frames"] == nw * M.AFP_FRAME - 1024
        else:
            assert r["payload"] is None
            assert r["meta"]["n_frames"] == 0
    bad = spark.createDataFrame(
        [(0, bytearray(b"NOTAWAV"), None)], M.MEDIA_SCHEMA)
    assert M.trim_audio_head(bad, 8).collect()[0]["payload"] is None


# ----------------------------------------------------------------------
# sample-rate robustness (the r12 re-encode probe, resolved)
# ----------------------------------------------------------------------


def test_resampled_reencode_fingerprints_exactly_match(spark):
    n = 18
    media = M.make_fake_audio_stream_media(spark, n)
    for sr in (16000, 44100):
        clones = M.resample_audio(media, sr)
        src = {(r["media_id"], r["win_idx"]): r["afp"]
               for r in M.audio_window_fingerprints(media)
               .filter("decode_ok").collect()}
        got = {(r["media_id"], r["win_idx"]): r["afp"]
               for r in M.audio_window_fingerprints(clones)
               .filter("decode_ok").collect()}
        # rate normalization reproduces the canonical fingerprints
        # EXACTLY for linearly-resampled re-encodes
        assert got == src, sr


def test_unnormalized_decode_misses_resampled_clips():
    # the pinned r12 probe: without rate normalization a re-encoded
    # clip's bands rescale and every fingerprint misses by >> 2 bits
    import numpy as np

    i = 2
    pats = [M._afp_stream_pattern(i, w) for w in range(4)]
    s = np.concatenate([M._synth_fp_window(p) for p in pats]).astype(
        np.float64)
    up = np.round(M._resample_linear(s, 8000, 16000))
    raw = M._afp_all_windows(up)  # fingerprinted at the WRONG rate
    orig = M._afp_all_windows(s)
    for a in raw[:4]:
        assert min(bin((a ^ b) & ((1 << 64) - 1)).count("1")
                   for b in orig) > 2


def test_audio_stream_near_dup_catches_rate_reencodes(spark):
    n = 18
    media = M.make_fake_audio_stream_media(spark, n)
    clones = (M.resample_audio(media.filter(F.col("media_id") % 9 == 4),
                               16000)
              .withColumn("media_id", F.col("media_id") + n))
    got = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_windows"], r["comparable_windows"])
           for r in M.audio_stream_near_dup(
               media.unionByName(clones)).collect()}
    for i in range(n):
        if i % 9 == 4:
            off, m, c = got[(i, i + n)]
            nw = M.audio_stream_window_count(i)
            assert off == 0 and m == c == nw


# ----------------------------------------------------------------------
# dual-parity video sampling
# ----------------------------------------------------------------------


def _video_corpus_with_odd_trims(spark, n, mod=5, res=1):
    media = M.make_fake_video_media(spark, n)
    clones = (M.trim_video_head(
        media.filter(F.col("media_id") % mod == res), 1)
        .withColumn("media_id", F.col("media_id") + n))
    return media, clones, media.unionByName(clones)


def test_video_dual_catches_odd_trim_stride2_misses(spark):
    n = 40
    media, clones, corpus = _video_corpus_with_odd_trims(spark, n)
    planted = {(i, i + n) for i in range(n)
               if i % 5 == 1 and M.video_frame_count(i) >= 3}
    # the stride-2 grids shift off each other on an odd trim: provably
    # missed by the r12 offset matcher under default parameters
    miss = {(r["id_a"], r["id_b"])
            for r in M.video_near_dup_offset(corpus, every_n=2)
            .collect()}
    assert not (miss & planted)
    got = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_frames"], r["comparable_frames"])
           for r in M.video_near_dup_dual(corpus).collect()}
    for a, b in planted:
        off, m, c = got[(a, b)]
        mfr = M.video_frame_count(a)
        assert off == 1, (a, b)
        assert m == c == (mfr - 1) // 2, (a, b, m, c)


def test_video_dual_matches_offset_matcher_on_even_and_same(spark):
    # for same-position re-uploads and even trims the dual matcher's
    # (offset, matched, comparable) are IDENTICAL to the r12 stride-2
    # offset matcher's
    n = 40
    media = M.make_fake_video_media(spark, n)
    eclones = (M.trim_video_head(media.filter(F.col("media_id") % 7 == 3),
                                 2)
               .withColumn("media_id", F.col("media_id") + n))
    corpus = media.unionByName(eclones)
    off = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_frames"], r["comparable_frames"])
           for r in M.video_near_dup_offset(corpus, every_n=2).collect()}
    dual = {(r["id_a"], r["id_b"]):
            (r["offset"], r["matched_frames"], r["comparable_frames"])
            for r in M.video_near_dup_dual(corpus).collect()}
    assert off == dual


def test_cross_video_near_dup_dual_directional(spark):
    n = 40
    media, clones, corpus = _video_corpus_with_odd_trims(spark, n)
    got = {(r["new_id"], r["old_id"]): r["offset"]
           for r in M.cross_video_near_dup_dual(clones, media).collect()}
    for i in range(n):
        if i % 5 == 1 and M.video_frame_count(i) >= 3:
            assert got[(i + n, i)] == 1
    # dense stored-index shape (the every_n=1 piece table serves the
    # same-position, even-offset AND dual matchers)
    pt = M.video_frame_piece_table(media, every_n=1)
    got2 = {(r["new_id"], r["old_id"]): r["offset"]
            for r in M.cross_video_near_dup_dual(
                clones, pt, existing_is_piece_table=True).collect()}
    assert got2 == got


def test_dualgrid_comparable_formula_matches_brute_force():
    """The dual-parity alignable-count formulas (even grid vs dense)
    against brute force, both directions, dense (n_l, m_r, t) grid."""
    import math

    for n_l in range(1, 10):
        na = (n_l + 1) // 2
        for m_r in range(1, 10):
            for t in range(-11, 12):
                brute = sum(1 for j in range(0, n_l, 2)
                            if 0 <= j - t < m_r)
                lo = max(0, math.ceil(t / 2))
                hi = min(na - 1, (m_r - 1 + t) // 2)
                assert brute == max(0, hi - lo + 1), (n_l, m_r, t)
                bruted = sum(1 for j in range(0, n_l, 2)
                             if 0 <= j + t < m_r)
                lo = max(0, math.ceil(-t / 2))
                hi = min(na - 1, (m_r - 1 - t) // 2)
                assert bruted == max(0, hi - lo + 1), (n_l, m_r, t)


def test_residue_set_validation():
    # r14 generalized dual parity to residue sets: any stride is now
    # accepted (the r13 refusal is gone, VERDICT r13 ask #3), but the
    # residues must be a non-empty subset of 0..every_n-1
    with pytest.raises(ValueError, match="residues"):
        M.video_near_dup_dual(None, every_n=4, residues=())
    with pytest.raises(ValueError, match="residues"):
        M.video_near_dup_dual(None, every_n=2, residues=(2,))
    with pytest.raises(ValueError, match="residues"):
        M.cross_video_near_dup_dual(None, None, every_n=3,
                                    residues=(-1,))
    with pytest.raises(ValueError, match="every_n"):
        M.video_near_dup_dual(None, every_n=0)


# ----------------------------------------------------------------------
# index retirement (delete_index_rows — the takedown path)
# ----------------------------------------------------------------------


def _sorted_rows(df, cols):
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


def test_delete_index_rows_equals_rebuild_without(spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        delete_index_rows, read_index_table, save_index_table,
    )

    n = 48
    media = M.make_fake_video_media(spark, n)
    path = str(tmp_path / "pieces")
    save_index_table(M.video_frame_piece_table(media, every_n=2),
                     path, partition_by=("q",))
    gone = [i for i in range(n) if i % 5 == 4]
    delete_index_rows(spark, path, gone, id_col="vid",
                      partition_by=("q",))
    cols = ["vid", "frame_idx", "sh", "q", "qv"]
    rebuilt = M.video_frame_piece_table(
        media.filter(F.col("media_id") % 5 != 4), every_n=2)
    assert _sorted_rows(read_index_table(spark, path), cols) \
        == _sorted_rows(rebuilt, cols)
    # matcher equality over the retired index: a new batch matched
    # against the deleted-from table equals a match against a fresh
    # index of the surviving corpus
    batch = (M.trim_video_head(media.filter(F.col("media_id") % 8 == 6),
                               2)
             .withColumn("media_id", F.col("media_id") + n))
    stored = read_index_table(spark, path)
    got = _sorted_rows(M.cross_video_near_dup_offset(
        batch, stored, existing_is_piece_table=True),
        ["new_id", "old_id", "offset"])
    fresh = _sorted_rows(M.cross_video_near_dup_offset(
        batch, media.filter(F.col("media_id") % 5 != 4)),
        ["new_id", "old_id", "offset"])
    assert got == fresh
    # deleting ids the index never held is a no-op
    before = _sorted_rows(read_index_table(spark, path), cols)
    delete_index_rows(spark, path, [10_000, 10_001], id_col="vid")
    assert _sorted_rows(read_index_table(spark, path), cols) == before


def test_delete_index_rows_cosine_buckets(spark, tmp_path, sf_dir):
    from fsharp_dataframe_spark.functions.index_store import (
        delete_index_rows, read_index_table, save_index_table,
    )
    from fsharp_dataframe_spark.functions.similarity import (
        cosine_bucket_table,
    )
    from fsharp_dataframe_spark.sources.parquet import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    path = str(tmp_path / "buckets")
    save_index_table(cosine_bucket_table(emb), path,
                     partition_by=("tbl",))
    gone = emb.filter(F.col("vec_id") % 4 == 1).select("vec_id")
    delete_index_rows(spark, path, gone, id_col="vec_id",
                      partition_by=("tbl",))
    cols = ["vec_id", "tbl", "bucket"]
    rebuilt = cosine_bucket_table(emb.filter(F.col("vec_id") % 4 != 1))
    assert _sorted_rows(read_index_table(spark, path), cols) \
        == _sorted_rows(rebuilt, cols)


def test_delete_index_rows_drops_emptied_partitions(spark, tmp_path):
    from fsharp_dataframe_spark.functions.index_store import (
        delete_index_rows, read_index_table, save_index_table,
    )

    media = M.make_fake_video_media(spark, 6)
    path = str(tmp_path / "pieces")
    save_index_table(M.video_frame_piece_table(media, every_n=2),
                     path, partition_by=("q",))
    # retiring EVERY id empties all partitions; stale dirs must go
    delete_index_rows(spark, path, list(range(6)), id_col="vid")
    assert read_index_table(spark, path).count() == 0


# ----------------------------------------------------------------------
# streaming twins (batch parity, the candidate-emission contract)
# ----------------------------------------------------------------------


def test_stream_audio_overlap_near_dup_parity(spark, tmp_path):
    """Streaming overlapped-framing audio candidates: the consumer's
    offset vote + coverage rule (its first batch aggregate, with the
    per-clip window counts it owns via the piece index) reproduces
    batch audio_overlap_near_dup over a corpus holding 1024-sample
    head-trimmed clones the non-overlapping stream cannot see."""
    from fsharp_dataframe_spark.functions.multimodal import (
        audio_overlap_fingerprints, audio_overlap_near_dup,
        make_fake_audio_stream_media, trim_audio_head,
    )
    from fsharp_dataframe_spark.streaming.ops import (
        read_stream_parquet, run_to_memory,
        stream_audio_overlap_near_dup,
    )

    n = 18
    base = make_fake_audio_stream_media(spark, n)
    clones = (trim_audio_head(base.filter(F.col("media_id") % 4 == 2),
                              1024)
              .withColumn("media_id", F.col("media_id") + n))
    media = base.unionByName(clones).withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
        + F.make_interval(mins=F.col("media_id").cast("int")))
    d = str(tmp_path / "aud_ovl_stream")
    media.repartition(3).write.mode("overwrite").parquet(d)
    s = read_stream_parquet(spark, d, media.schema)
    out = stream_audio_overlap_near_dup(s, watermark="2 hours")
    name = run_to_memory(out, "t_aud_ovl")
    (audio_overlap_fingerprints(media).filter("decode_ok")
     .groupBy("media_id").count()
     .createOrReplaceTempView("t_aud_ovl_ct"))
    got = {(r["id_a"], r["id_b"]): (r["off"], r["m"], r["c"])
           for r in spark.sql(
        f"""WITH c AS (SELECT DISTINCT id_a, id_b, win_idx_a,
                              win_idx_b, win_idx_delta FROM {name}),
            v AS (SELECT id_a, id_b, win_idx_delta AS d,
                         count(*) AS m FROM c GROUP BY 1, 2, 3),
            r AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
                         ORDER BY m DESC, d ASC) AS rk FROM v),
            f AS (SELECT r.id_a, r.id_b, r.d, r.m,
                         greatest(0, least(cb.count - 1,
                                           ca.count - 1 - r.d)
                                  - greatest(0, -r.d) + 1) AS c
                  FROM r JOIN t_aud_ovl_ct ca ON ca.media_id = r.id_a
                         JOIN t_aud_ovl_ct cb ON cb.media_id = r.id_b
                  WHERE r.rk = 1)
            SELECT id_a, id_b, d AS off, m, c FROM f
            WHERE c > 0 AND 2 * m >= c
        """).collect()}
    exp = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_windows"], r["comparable_windows"])
           for r in audio_overlap_near_dup(media).collect()}
    assert got == exp
    planted = {(i, i + n) for i in range(n)
               if i % 4 == 2 and
               __import__("fsharp_dataframe_spark.functions.multimodal",
                          fromlist=["x"]).audio_stream_window_count(i)
               >= 2}
    assert planted <= set(exp)


def test_stream_video_dual_face_parity(spark, tmp_path):
    """The dual-parity video tier's stream face is
    stream_video_offset_near_dup(every_n=1): the consumer's dual-grid
    vote (filter the a-side to even frames, dual alignable count)
    over the dense candidate stream reproduces batch
    video_near_dup_dual — including the one-frame-trimmed clones the
    stride-2 stream cannot see."""
    from fsharp_dataframe_spark.functions.multimodal import (
        make_fake_video_media, trim_video_head, video_frame_hashes,
        video_near_dup_dual,
    )
    from fsharp_dataframe_spark.streaming.ops import (
        read_stream_parquet, run_to_memory,
        stream_video_offset_near_dup,
    )

    n = 24
    base = make_fake_video_media(spark, n)
    clones = (trim_video_head(base.filter(F.col("media_id") % 5 == 1),
                              1)
              .withColumn("media_id", F.col("media_id") + n))
    media = base.unionByName(clones).withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp")
        + F.make_interval(mins=F.col("media_id").cast("int")))
    d = str(tmp_path / "vid_dual_stream")
    media.repartition(3).write.mode("overwrite").parquet(d)
    s = read_stream_parquet(spark, d, media.schema)
    out = stream_video_offset_near_dup(s, every_n=1,
                                       watermark="2 hours")
    name = run_to_memory(out, "t_vid_dual")
    (video_frame_hashes(media, every_n=1).filter("decode_ok")
     .groupBy("media_id").count()
     .createOrReplaceTempView("t_vid_dual_ct"))
    got = {(r["id_a"], r["id_b"]): (r["off"], r["m"], r["c"])
           for r in spark.sql(
        f"""WITH c AS (SELECT DISTINCT id_a, id_b, frame_idx_a,
                              frame_idx_b, frame_idx_delta FROM {name}
                       WHERE frame_idx_a % 2 = 0),
            v AS (SELECT id_a, id_b, frame_idx_delta AS d,
                         count(*) AS m FROM c GROUP BY 1, 2, 3),
            r AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
                         ORDER BY m DESC, d ASC) AS rk FROM v),
            f AS (SELECT r.id_a, r.id_b, r.d, r.m,
                         greatest(0,
                           least(CAST(ceil(ca.count / 2.0) AS BIGINT)
                                   - 1,
                                 CAST(floor((cb.count - 1 + r.d) / 2.0)
                                      AS BIGINT))
                           - greatest(0, CAST(ceil(r.d / 2.0)
                                              AS BIGINT)) + 1) AS c
                  FROM r JOIN t_vid_dual_ct ca ON ca.media_id = r.id_a
                         JOIN t_vid_dual_ct cb ON cb.media_id = r.id_b
                  WHERE r.rk = 1)
            SELECT id_a, id_b, d AS off, m, c FROM f
            WHERE c > 0 AND 2 * m >= c
        """).collect()}
    exp = {(r["id_a"], r["id_b"]):
           (r["offset"], r["matched_frames"], r["comparable_frames"])
           for r in video_near_dup_dual(media).collect()}
    assert got == exp
    from fsharp_dataframe_spark.functions.multimodal import (
        video_frame_count,
    )
    planted = {(i, i + n) for i in range(n)
               if i % 5 == 1 and video_frame_count(i) >= 3}
    assert planted <= set(exp)


def test_stream_static_cross_video_offset_parity(spark, tmp_path):
    """Stream-STATIC incremental face: the arriving batch streamed
    against the corpus's stored frame-piece table (no join state, no
    watermark) — the consumer's directional offset vote reproduces
    batch cross_video_near_dup_offset exactly."""
    from fsharp_dataframe_spark.functions.multimodal import (
        cross_video_near_dup_offset, make_fake_video_media,
        trim_video_head, video_frame_hashes, video_frame_piece_table,
    )
    from fsharp_dataframe_spark.streaming.ops import (
        read_stream_parquet, run_to_memory,
        stream_cross_video_near_dup_offset,
    )

    n = 32
    base = make_fake_video_media(spark, n)
    clones = (trim_video_head(base.filter(F.col("media_id") % 7 == 3),
                              2)
              .withColumn("media_id", F.col("media_id") + n))
    batch = clones.withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    d = str(tmp_path / "vid_cross_stream")
    batch.repartition(2).write.mode("overwrite").parquet(d)
    s = read_stream_parquet(spark, d, batch.schema)
    stored = video_frame_piece_table(base, every_n=2)
    out = stream_cross_video_near_dup_offset(s, stored, every_n=2)
    name = run_to_memory(out, "t_vid_cross")
    (video_frame_hashes(clones, every_n=2).filter("decode_ok")
     .groupBy("media_id").count()
     .createOrReplaceTempView("t_vc_new_ct"))
    (stored.select("vid", "frame_idx").distinct()
     .groupBy("vid").count()
     .createOrReplaceTempView("t_vc_old_ct"))
    got = {(r["new_id"], r["old_id"]): (r["off"], r["m"], r["c"])
           for r in spark.sql(
        f"""WITH c AS (SELECT DISTINCT new_id, old_id, frame_idx_new,
                              frame_idx_old, frame_idx_delta
                       FROM {name}),
            v AS (SELECT new_id, old_id, frame_idx_delta AS d,
                         count(*) AS m FROM c GROUP BY 1, 2, 3),
            r AS (SELECT *, row_number() OVER (
                         PARTITION BY new_id, old_id
                         ORDER BY m DESC, d ASC) AS rk FROM v),
            f AS (SELECT r.new_id, r.old_id, r.d, r.m,
                         greatest(0,
                           least(cn.count - 1,
                                 co.count - 1
                                   - CAST(floor(r.d / 2.0) AS BIGINT))
                           - greatest(0, -CAST(floor(r.d / 2.0)
                                               AS BIGINT)) + 1) AS c
                  FROM r JOIN t_vc_new_ct cn ON cn.media_id = r.new_id
                         JOIN t_vc_old_ct co ON co.vid = r.old_id
                  WHERE r.rk = 1)
            SELECT new_id, old_id, d AS off, m, c FROM f
            WHERE c > 0 AND 2 * m >= c
        """).collect()}
    exp = {(r["new_id"], r["old_id"]):
           (r["offset"], r["matched_frames"], r["comparable_frames"])
           for r in cross_video_near_dup_offset(
               clones, stored, every_n=2,
               existing_is_piece_table=True).collect()}
    assert got == exp and exp


def test_stream_static_cross_audio_overlap_parity(spark, tmp_path):
    """Stream-static incremental overlapped-audio face vs batch
    cross_audio_overlap_near_dup over the stored overlap index."""
    from fsharp_dataframe_spark.functions.multimodal import (
        audio_overlap_fingerprints, audio_overlap_piece_table,
        cross_audio_overlap_near_dup, make_fake_audio_stream_media,
        trim_audio_head,
    )
    from fsharp_dataframe_spark.streaming.ops import (
        read_stream_parquet, run_to_memory,
        stream_cross_audio_overlap_near_dup,
    )

    n = 20
    base = make_fake_audio_stream_media(spark, n)
    clones = (trim_audio_head(base.filter(F.col("media_id") % 4 == 2),
                              1024)
              .withColumn("media_id", F.col("media_id") + n))
    batch = clones.withColumn(
        "ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    d = str(tmp_path / "aud_cross_stream")
    batch.repartition(2).write.mode("overwrite").parquet(d)
    s = read_stream_parquet(spark, d, batch.schema)
    stored = audio_overlap_piece_table(base)
    out = stream_cross_audio_overlap_near_dup(s, stored)
    name = run_to_memory(out, "t_aud_cross")
    (audio_overlap_fingerprints(clones).filter("decode_ok")
     .groupBy("media_id").count()
     .createOrReplaceTempView("t_ac_new_ct"))
    (stored.select("aid", "win_idx").distinct()
     .groupBy("aid").count()
     .createOrReplaceTempView("t_ac_old_ct"))
    got = {(r["new_id"], r["old_id"]): (r["off"], r["m"], r["c"])
           for r in spark.sql(
        f"""WITH c AS (SELECT DISTINCT new_id, old_id, win_idx_new,
                              win_idx_old, win_idx_delta FROM {name}),
            v AS (SELECT new_id, old_id, win_idx_delta AS d,
                         count(*) AS m FROM c GROUP BY 1, 2, 3),
            r AS (SELECT *, row_number() OVER (
                         PARTITION BY new_id, old_id
                         ORDER BY m DESC, d ASC) AS rk FROM v),
            f AS (SELECT r.new_id, r.old_id, r.d, r.m,
                         greatest(0, least(cn.count - 1,
                                           co.count - 1 - r.d)
                                  - greatest(0, -r.d) + 1) AS c
                  FROM r JOIN t_ac_new_ct cn ON cn.media_id = r.new_id
                         JOIN t_ac_old_ct co ON co.aid = r.old_id
                  WHERE r.rk = 1)
            SELECT new_id, old_id, d AS off, m, c FROM f
            WHERE c > 0 AND 2 * m >= c
        """).collect()}
    exp = {(r["new_id"], r["old_id"]):
           (r["offset"], r["matched_windows"],
            r["comparable_windows"])
           for r in cross_audio_overlap_near_dup(
               clones, stored, existing_is_piece_table=True).collect()}
    assert got == exp and exp


# ----------------------------------------------------------------------
# sample-resolution slicing + overlap-framed snippet search
# ----------------------------------------------------------------------


def test_slice_audio_samples_roundtrip_and_degradation(spark):
    media = M.make_fake_audio_stream_media(spark, 14)
    sl = M.slice_audio_samples(media, 1536, 2560)
    for r in sl.collect():
        nw = M.audio_stream_window_count(r["media_id"])
        if nw * M.AFP_FRAME >= 1536 + 2560:
            s = M._decode_wav_samples(r["payload"])
            assert len(s) == 2560
            assert r["meta"]["n_frames"] == 2560
        else:
            assert r["payload"] is None
            assert r["meta"]["n_frames"] == 0


def test_audio_overlap_snippet_search_subwindow_cut(spark):
    """A snippet cut at sample 1536 (3 hops, NOT a window multiple):
    the non-overlapping snippet path provably misses it — its window
    grid shifts mid-window and every fingerprint scrambles — while
    the overlap-framed search finds it at hop offset 3, in its source
    AND in the source's planted window-trim twins at the shifted
    offset."""
    n = 30
    media = M.make_fake_audio_stream_media(spark, n)
    src = media.filter(F.col("media_id") % 5 == 3)
    snips = (M.slice_audio_samples(src, 1536, 2560)
             .withColumn("media_id", F.col("media_id") + n))
    # the r12 window-grid search cannot see a sub-window cut
    missed = {(r["snippet_id"], r["clip_id"])
              for r in M.audio_snippet_search(snips, media).collect()}
    planted = {(i + n, i) for i in range(n)
               if i % 5 == 3
               and M.audio_stream_window_count(i) * M.AFP_FRAME
               >= 1536 + 2560}
    assert not (missed & planted)
    got = {(r["snippet_id"], r["clip_id"]): (r["offset"], r["n_windows"])
           for r in M.audio_overlap_snippet_search(snips, media)
           .collect()}
    for k in planted:
        assert got[k] == (3, 2), k
    # source's head-trimmed twin (i+1 = i minus one window): snippet
    # content sits 4 hops earlier there
    for i in range(n):
        if (i % 5 == 3 and (i + 1) % 6 == 5 and i + 1 < n
                and (i + n, i) in planted
                and M.audio_stream_window_count(i + 1) * M.AFP_FRAME
                >= 2560 - 512):
            # clip i+1's windows = source windows shifted by -4 hops;
            # containment needs both snippet windows present
            if (i + n, i + 1) in got:
                assert got[(i + n, i + 1)][0] == -1
    # stored-index path: one overlap index serves dedup AND search
    pt = M.audio_overlap_piece_table(media)
    got2 = {(r["snippet_id"], r["clip_id"]):
            (r["offset"], r["n_windows"])
            for r in M.audio_overlap_snippet_search(
                snips, pt, corpus_is_piece_table=True).collect()}
    assert got2 == got


# ----------------------------------------------------------------------
# index vacuum (crash-window leftovers)
# ----------------------------------------------------------------------


def test_vacuum_index_table(spark, tmp_path):
    import os

    from fsharp_dataframe_spark.functions.index_store import (
        read_index_table, save_index_table, vacuum_index_table,
    )

    media = M.make_fake_video_media(spark, 8)
    path = str(tmp_path / "pieces")
    pt = M.video_frame_piece_table(media, every_n=2)
    save_index_table(pt, path, partition_by=("q",))
    # strand both crash-window leftovers
    os.makedirs(path + ".__old__", exist_ok=True)
    os.makedirs(path + ".__staging__", exist_ok=True)
    removed = vacuum_index_table(spark, path)
    assert sorted(removed) == sorted(
        [path + ".__old__", path + ".__staging__"])
    assert not os.path.exists(path + ".__old__")
    assert read_index_table(spark, path).count() == pt.count()
    # refuses when the live table is gone — the leftover IS recovery
    os.makedirs(path + ".__old__", exist_ok=True)
    import shutil

    shutil.rmtree(path)
    with pytest.raises(IOError):
        vacuum_index_table(spark, path)
    assert os.path.exists(path + ".__old__")


def test_resample_audio_meta_tracks_true_output_count(spark):
    # a non-canonical-rate SOURCE: meta must come from the emitted
    # sample count, not a canonical-rate ratio guess
    media = M.make_fake_audio_stream_media(spark, 6)
    up16 = M.resample_audio(media, 16000)        # 8k -> 16k
    back = M.resample_audio(up16, 12000)         # 16k -> 12k source
    for r in back.collect():
        if r["payload"] is None:
            assert r["meta"]["n_frames"] == 0
            continue
        import io
        import wave

        with wave.open(io.BytesIO(bytes(r["payload"])), "rb") as wf:
            assert wf.getframerate() == 12000
            n = wf.getnframes()
        nw = M.audio_stream_window_count(r["media_id"])
        assert n == round(nw * M.AFP_FRAME * 12000 / 8000)
        assert r["meta"]["n_frames"] == n
        assert abs(r["meta"]["duration_s"] - n / 12000) < 1e-9


def test_stream_static_refresh_contract(spark, tmp_path):
    """The stream-static matchers' refresh contract, pinned: the
    stored index's file listing is captured when the static DataFrame
    is created — rows appended mid-stream are INVISIBLE to later
    micro-batches; re-reading the index and restarting the
    checkpointed query picks them up exactly (the nightly
    append-then-restart loop)."""
    import os

    from fsharp_dataframe_spark.functions.index_store import (
        append_index_rows, read_index_table, save_index_table,
    )
    from fsharp_dataframe_spark.streaming.ops import (
        read_stream_parquet, stream_cross_video_near_dup_offset,
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
    ck = str(tmp_path / "ck")
    # batch 1: clones of landed sources (3, 10) -> matched against v1
    (clones.filter(F.col("media_id") - n < 12)
     .write.mode("overwrite").parquet(src))
    stored_v1 = read_index_table(spark, idx)

    outdir = str(tmp_path / "out")

    def run_once(stored):
        # memory sink cannot recover from a checkpoint — file sink can
        out = stream_cross_video_near_dup_offset(
            read_stream_parquet(spark, src, clones.schema), stored,
            every_n=2)
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", outdir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()
        return {r["old_id"]
                for r in spark.read.parquet(outdir).collect()}

    assert run_once(stored_v1) == {3, 10}
    # mid-cadence: index grows by the second half; a batch fed to the
    # STALE static DataFrame must not see it (listing pinned at
    # creation)
    append_index_rows(
        spark, idx,
        M.video_frame_piece_table(
            base.filter(F.col("media_id") >= 12), every_n=2),
        id_col="vid", partition_by=("q",))
    (clones.filter(F.col("media_id") - n >= 12)
     .write.mode("append").parquet(src))
    # cumulative file-sink rows still read {3, 10}: 17 was NOT matched
    assert run_once(stored_v1) == {3, 10}  # blind: 17 missed
    # the append-then-restart loop: re-read the index, restart the
    # checkpointed query, feed a fresh re-upload of the appended half
    fresh = (M.trim_video_head(base.filter(F.col("media_id") == 17), 2)
             .withColumn("media_id", F.col("media_id") + F.lit(100 + n))
             .withColumn("ts", F.lit("2024-01-01 00:00:00")
                         .cast("timestamp")))
    fresh.write.mode("append").parquet(src)
    assert run_once(read_index_table(spark, idx)) == {3, 10, 17}
