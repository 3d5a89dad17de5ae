"""The offset-vote media tier's self/cross twins and stream fronts
(functions/multimodal.py _offset_vote_match, streaming/ops.py sketch
fronts)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fsharp_dataframe_spark.functions import multimodal as M
from fsharp_dataframe_spark.streaming import ops as S

# same-grid twins: (fixture, head trim for the planted clones, self
# matcher, cross matcher, stored piece-table builder, matcher kwargs,
# count unit).  The residue/dual pair is left out on purpose: its
# voting (grid) side is the smaller id in the self join but the NEW
# batch in the cross join, so the two answer different questions.
_TWINS = {
    "audio_stream": (
        M.make_fake_audio_stream_media,
        lambda d: M.trim_audio_head(d, M.AFP_FRAME),
        M.audio_stream_near_dup, M.cross_audio_stream_near_dup,
        M.audio_window_piece_table, {}, "windows"),
    "audio_overlap": (
        M.make_fake_audio_stream_media,
        lambda d: M.trim_audio_head(d, 1024),
        M.audio_overlap_near_dup, M.cross_audio_overlap_near_dup,
        M.audio_overlap_piece_table, {}, "windows"),
    "video_offset": (
        M.make_fake_video_media,
        lambda d: M.trim_video_head(d, 2),
        M.video_near_dup_offset, M.cross_video_near_dup_offset,
        M.video_frame_piece_table, {"every_n": 2}, "frames"),
}


@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_cross_equals_self_restricted_to_old_new_pairs(spark, twin):
    """cross_*(new, old) reports exactly the (offset, matched,
    comparable) rows that the self matcher over new ∪ old reports for
    its old×new pairs — with the landed side built in the pass and
    read back as a stored piece table alike."""
    make, trim, self_fn, cross_fn, table_fn, kw, unit = _TWINS[twin]
    n, k = 16, 9
    base = make(spark, n)
    clones = (trim(base.filter(F.col("media_id") % 4 == 2))
              .withColumn("media_id", F.col("media_id") + n))
    media = base.unionByName(clones)
    old = media.filter(F.col("media_id") < k)
    new = media.filter(F.col("media_id") >= k)

    def rows(df, a, b):
        return {(r[a], r[b], r["offset"], r[f"matched_{unit}"],
                 r[f"comparable_{unit}"]) for r in df.collect()}

    exp = {r for r in rows(self_fn(media, **kw), "id_a", "id_b")
           if r[0] < k <= r[1]}
    # planted clones of old ids (2, 6) land in the new batch
    assert {(2, 2 + n), (6, 6 + n)} <= {r[:2] for r in exp}
    got = rows(cross_fn(new, old, **kw), "old_id", "new_id")
    assert got == exp
    stored = table_fn(old, **kw)
    got_pt = rows(cross_fn(new, stored, existing_is_piece_table=True,
                           **kw), "old_id", "new_id")
    assert got_pt == exp


_AUDIO_PT = "aid long, win_idx int, sh long, q int, qv long"
_VIDEO_PT = "vid long, frame_idx int, sh long, q int, qv long"


@pytest.mark.parametrize("front, kwargs", [
    ("stream_audio_overlap_near_dup", {"hop": 0}),
    ("stream_audio_overlap_near_dup", {"hop": -512}),
    ("stream_audio_overlap_near_dup", {"hop": 4096}),
    ("stream_cross_audio_overlap_near_dup", {"hop": 0}),
    ("stream_cross_audio_overlap_near_dup", {"hop": -512}),
    ("stream_cross_audio_overlap_near_dup", {"hop": 4096}),
    ("stream_video_near_dup", {"every_n": 0}),
    ("stream_video_offset_near_dup", {"every_n": 0}),
    ("stream_cross_video_near_dup_offset", {"every_n": 0}),
], ids=lambda v: ",".join(f"{k}={x}" for k, x in v.items())
    if isinstance(v, dict) else v)
def test_stream_media_fronts_validate_params_before_start(
        spark, tmp_path, front, kwargs):
    """Bad hop / every_n fail at plan build with the batch fronts'
    ValueError when the stream is defined, not inside an executor once
    it runs (hop=0 divided by zero there, hop<0 silently yielded no
    windows, hop>2048 was accepted, every_n=0 broke range())."""
    schema = T.StructType(M.MEDIA_SCHEMA.fields
                          + [T.StructField("ts", T.TimestampType())])
    sdf = S.read_stream_parquet(spark, str(tmp_path), schema)
    assert sdf.isStreaming
    fn = getattr(S, front)
    args = [sdf]
    if "cross" in front:
        args.append(spark.createDataFrame(
            [], _AUDIO_PT if "audio" in front else _VIDEO_PT))
    with pytest.raises(ValueError):
        fn(*args, **kwargs)
    # the in-range value still defines a (not started) stream
    ok = {k: (M.AFP_HOP if k == "hop" else 2) for k in kwargs}
    assert fn(*args, **ok).isStreaming
    assert not spark.streams.active
