"""Multimodal (image/audio/video) column plumbing.

Design: media payloads are opaque ``binary`` columns + a typed
metadata struct (mime, width/height/duration, source uri).  Decode and
feature extraction run as Arrow-batched Pandas UDFs over
``mapInPandas`` — the Spark-side contract (schema, batch shape,
partitioning) is real and tested.  Image decode is TIERED:

1. PIL when importable (JPEG/WebP/everything, fastest);
2. the pure-stdlib PNG codec (functions/png.py) — always available,
   so the real-decode path is never dead code, merely narrower;
3. deterministic payload-byte features (``decode_ok=False``) when
   neither tier can decode the payload.

Audio/video decode remains STUBBED behind ``DecoderUnavailable`` /
the deterministic fake (no torchaudio/ffmpeg in this container),
clearly marked.

Scale notes: payload columns dominate partition size — size
``spark.sql.files.maxPartitionBytes`` down (or store payloads in
separate parquet row groups / external object store with a uri column)
so a partition holds O(100) media rows, and never groupBy a payload
column (metadata keys only).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class DecoderUnavailable(NotImplementedError):
    """Raised where a real-decode capability is genuinely absent in
    this environment (video/audio codecs — ffmpeg/torchaudio are not
    in this container).  Image decode never raises this anymore: the
    stdlib PNG tier (functions/png.py) is always available, and
    undecodable rows degrade to decode_ok=False per row instead."""


MEDIA_META = T.StructType([
    T.StructField("mime", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])


def make_fake_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table (payload = patterned bytes,
    ``payload[j] = (i*7 + j) % 256``) — CLOSED FORM by design, so the
    whole decode→featurize→frame-sample pipeline is replayable by a
    pure-SQL oracle (q_media_features replays it over range(n) in
    DuckDB).  Every 4th row is a multi-frame video so the
    frame-sampling fan-out is exercised with varying n_frames."""
    def meta(i: int):
        if i % 4 == 3:
            return ("video/mp4", 16, 16, (i % 13) + 2, float(i) / 4.0)
        if i % 2 == 0:
            return ("image/png", 32, 32, 1, None)
        return ("audio/wav", None, None, None, float(i))

    rows = [(i, bytes([(i * 7 + j) % 256 for j in range(128)]), meta(i))
            for i in range(n)]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


_FEATURE_SCHEMA = "media_id long, feat array<float>, decode_ok boolean"


def _byte_features(payload: bytes | None, feat_dim: int) -> list[float]:
    """Deterministic payload-byte features — the fallback featurizer."""
    import numpy as np

    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float32)
    return [float(c.mean()) for c in np.array_split(arr, feat_dim)]


def _pil_gray(payload: bytes):
    """Tier-1 grayscale decode via PIL.  Returns a float32 2-D array,
    or None when PIL is missing or the payload is not decodable."""
    import io

    import numpy as np

    try:
        from PIL import Image
    except ImportError:
        return None
    try:
        img = Image.open(io.BytesIO(payload)).convert("L")
    except Exception:
        return None
    return np.asarray(img, dtype=np.float32)


def _png_gray(payload: bytes, max_pixels: int | None = None):
    """Tier-2 grayscale decode via the stdlib PNG codec
    (functions/png.py — identical 601-2 luminance to the PIL tier, so
    the two tiers agree on the same PNG).  Returns a float32 2-D
    array, or None when the payload is not a supported PNG.
    ``max_pixels`` overrides the codec's CPU/memory cap."""
    import numpy as np

    from fsharp_dataframe_spark.functions import png as PNG

    try:
        w, h, lum = PNG.decode_gray(
            bytes(payload),
            max_pixels=max_pixels or PNG._MAX_PIXELS)
    except Exception:
        return None
    return np.asarray(lum, dtype=np.float32).reshape(h, w)


def _decode_gray_array(payload: bytes | None,
                       max_pixels: int | None = None):
    """Tiered grayscale decode to a float32 2-D pixel array: PIL, then
    the stdlib PNG codec, else None — the shared substrate under band
    features and perceptual hashing."""
    if payload is None or len(payload) == 0:
        return None
    arr = _pil_gray(payload)
    if arr is None:
        arr = _png_gray(payload, max_pixels=max_pixels)
    return arr


def _pil_features(payload: bytes, feat_dim: int) -> list[float] | None:
    """Tier-1 image band-mean features via PIL (see _pil_gray)."""
    arr = _pil_gray(payload)
    return None if arr is None else _band_means(arr, feat_dim)


def _png_features(payload: bytes, feat_dim: int,
                  max_pixels: int | None = None) -> list[float] | None:
    """Tier-2 image band-mean features via the stdlib PNG codec."""
    arr = _png_gray(payload, max_pixels=max_pixels)
    return None if arr is None else _band_means(arr, feat_dim)


def _band_means(arr, feat_dim: int) -> list[float] | None:
    """feat_dim horizontal band means.  Images with fewer rows than
    bands index rows at evenly spaced (repeating) positions instead of
    np.array_split — whose EMPTY splits would mean() to NaN and poison
    every downstream distance while decode_ok stayed True."""
    import numpy as np

    h = arr.shape[0]
    if h == 0 or arr.size == 0:
        return None
    if h >= feat_dim:
        return [float(b.mean()) for b in np.array_split(arr, feat_dim, axis=0)]
    row_means = arr.mean(axis=1)
    idx = (np.arange(feat_dim) * h) // feat_dim
    return [float(row_means[i]) for i in idx]


def _image_features(payload: bytes | None, feat_dim: int,
                    max_pixels: int | None = None) -> list[float] | None:
    """Real-decode tiering: PIL, then stdlib PNG, else None."""
    if payload is None or len(payload) == 0:
        return None
    decoded = _pil_features(payload, feat_dim)
    if decoded is None:
        decoded = _png_features(payload, feat_dim, max_pixels=max_pixels)
    return decoded


def _nullable_i64(values):
    """A pandas nullable-Int64 array for a 64-bit hash column that may
    contain None rows.  A plain ``pd.DataFrame({col: [int, ..., None]})``
    silently coerces the column to float64, rounding every value above
    2^53 — for a 60-bit fingerprint that zeroes the low ~7 bits of the
    WHOLE batch the moment one row is undecodable (found via a planted
    zero-frame video sharing a batch with real ones: its single NULL
    row corrupted every other video's hashes in the batch).  The
    nullable extension dtype keeps int64 exactness alongside NULLs and
    converts losslessly through Arrow."""
    import pandas as pd

    return pd.array(values, dtype="Int64")


def _resolve_real_decode(real_decode) -> bool:
    """Executor-side resolution of the real_decode flag: 'auto' means
    real decode (the stdlib PNG tier makes it always available);
    True/False pass through."""
    if real_decode == "auto":
        return True
    return bool(real_decode)


def extract_features(df: DataFrame, real_decode: bool | str = False,
                     feat_dim: int = 8,
                     max_pixels: int | None = None) -> DataFrame:
    """Decode + featurize via mapInPandas (Arrow batches).

    real_decode=False  — deterministic payload-byte features (always
                         available; exercises the identical batch
                         shape / schema / partition plumbing, and is
                         the closed-form contract the q_media_features
                         oracle replays).
    real_decode=True / "auto" — tiered real decode (PIL, then the
                         stdlib PNG codec).  Rows whose payload
                         neither tier can decode get decode_ok=False
                         and the byte-feature fallback — never an
                         executor exception mid-100-TB-job.
    ``max_pixels`` reaches the stdlib codec's CPU/memory cap (default
    4 MP, functions/png._MAX_PIXELS) — the escape hatch for trusted
    corpora with larger images.
    """

    def _featurize(batches: Iterator) -> Iterator:
        import pandas as pd

        use_real = _resolve_real_decode(real_decode)
        for pdf in batches:
            feats, oks = [], []
            for payload in pdf["payload"]:
                decoded = None
                if use_real:
                    decoded = _image_features(payload, feat_dim,
                                              max_pixels=max_pixels)
                if decoded is not None:
                    feats.append(decoded)
                    oks.append(True)
                else:
                    feats.append(_byte_features(payload, feat_dim))
                    oks.append(False if use_real else True)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "feat": feats,
                "decode_ok": oks,
            })

    # decode is the CPU-heavy step — spread a few-partition input
    # across the cores (no-op at real scale; see dhash_media)
    from fsharp_dataframe_spark.functions.util import spread

    return spread(df, "media_id", "payload").mapInPandas(
        _featurize, schema=_FEATURE_SCHEMA)


def resize_media(df: DataFrame, target_w: int, target_h: int,
                 real_decode: bool | str = False,
                 max_pixels: int | None = None) -> DataFrame:
    """Image resize via mapInPandas — the same Arrow batch shape a real
    thumbnailing pass has, returning MEDIA_SCHEMA rows with updated
    meta (width/height = target) and the resized payload.

    real_decode=False  — deterministic fake: payload bytes are
                         re-sampled to target_w*target_h by striding
                         the source bytes (pure arithmetic, so tests
                         and oracles can predict every byte).
    real_decode=True / "auto" — tiered real resize: PIL decode →
                         resize → re-encode PNG when pillow is
                         importable, else the stdlib PNG codec's
                         nearest-neighbor resize (functions/png.py)
                         for PNG payloads; rows neither tier can
                         decode keep the fake-path payload.

    Non-image rows (mime not image/*) pass through unchanged — a
    resize pass over a mixed-modality table must not touch audio.
    """
    n_out = int(target_w) * int(target_h)

    def _fake_resize(payload: bytes | None) -> bytes | None:
        if payload is None or len(payload) == 0:
            return payload
        # stride-resample source bytes to n_out samples: byte j of the
        # output is source[floor(j * len / n_out)] — deterministic and
        # length-exact, the arithmetic skeleton of nearest-neighbor
        step = len(payload) / n_out
        return bytes(payload[int(j * step)] for j in range(n_out))

    def _pil_resize(payload: bytes) -> bytes | None:
        try:
            import io

            from PIL import Image

            img = Image.open(io.BytesIO(payload))
            out = io.BytesIO()
            img.resize((target_w, target_h)).save(out, format="PNG")
            return out.getvalue()
        except Exception:
            return None

    def _real_resize(payload: bytes | None) -> bytes | None:
        if payload is None or len(payload) == 0:
            return None
        resized = _pil_resize(payload)
        if resized is None:
            from fsharp_dataframe_spark.functions import png as PNG

            try:
                resized = PNG.resize_nearest(
                    bytes(payload), target_w, target_h,
                    max_pixels=max_pixels or PNG._MAX_PIXELS)
            except Exception:
                resized = None
        return resized

    def _resize(batches: Iterator) -> Iterator:
        import pandas as pd

        use_real = _resolve_real_decode(real_decode)
        for pdf in batches:
            payloads, metas = [], []
            for payload, meta in zip(pdf["payload"], pdf["meta"]):
                mime = (meta or {}).get("mime") or ""
                if not mime.startswith("image/"):
                    payloads.append(payload)
                    metas.append(meta)
                    continue
                resized = _real_resize(payload) if use_real else None
                payloads.append(resized if resized is not None
                                else _fake_resize(payload))
                new_meta = dict(meta)
                new_meta["width"], new_meta["height"] = target_w, target_h
                metas.append(new_meta)
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads, "meta": metas})

    return df.mapInPandas(_resize, schema=MEDIA_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10,
                      decode: bool = False) -> DataFrame:
    """Video frame-sampling *plan*: explode frame indices 0..n_frames-1
    step every_n as rows.  Shows the fan-out shape: one row per sampled
    frame, partitioned by media_id.

    ``decode=True`` decodes each sampled frame to a perceptual hash
    when the payload is an FSV1 intra-only container
    (video_frame_hashes — a REAL parse + per-frame decode since r11);
    inter-coded formats (H.264 etc.) still need ffmpeg/pyav and raise
    DecoderUnavailable, the clearly-marked stub.  Pass the payload
    column through for the decode path."""
    if decode:
        if "payload" not in df.columns:
            raise DecoderUnavailable(
                "inter-coded video decode needs ffmpeg/pyav; FSV1 "
                "containers decode via video_frame_hashes (pass the "
                "payload column through)")
        return video_frame_hashes(df, every_n=every_n)
    idx = F.sequence(F.lit(0), F.greatest(F.coalesce(F.col("meta.n_frames"), F.lit(1)) - 1, F.lit(0)),
                     F.lit(every_n))
    return df.select("media_id", F.explode(idx).alias("frame_idx"))


def make_fake_png_media(spark, n: int, width: int = 32,
                        height: int = 32) -> DataFrame:
    """Corpus-scale REAL-PNG fixture (r6 VERDICT ask #8): ``n`` valid
    8-bit grayscale PNGs encoded with the stdlib codec
    (functions/png.encode_png), generated ON THE EXECUTORS via
    mapInPandas over spark.range — the fixture scales like a corpus
    (no driver-side list of payloads), and the decode tier exercises
    realistic multi-thousand-row Arrow batches instead of the 64-row
    synthetic table.

    Pixels are CLOSED FORM: row y of image i is the constant byte
    (i + y) % 256, so the decoded band-mean features are exact
    quarter-integers a SQL oracle replays verbatim (mean of 4
    consecutive constant rows; fp32 sums <= 1020 are exact, /4 is a
    power of two — bit-identical to the double arithmetic in SQL)."""
    from fsharp_dataframe_spark.functions.png import encode_png

    w, h = int(width), int(height)

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            payloads = [
                encode_png(b"".join(bytes([(i + y) % 256]) * w
                                    for y in range(h)), w, h, 1)
                for i in ids]
            yield pd.DataFrame({
                "media_id": ids,
                "payload": payloads,
                "meta": [{"mime": "image/png", "width": w, "height": h,
                          "n_frames": 1, "duration_s": None}
                         for _ in ids],
            })

    # spread generation across the cluster at ~4k images per task —
    # UNCAPPED task count (a fixed cap would serialize the pure-Python
    # encode at corpus row counts: 10^8 images over 256 tasks is ~390k
    # serial encodes per task regardless of cluster size)
    parts = max(1, (int(n) + 4095) // 4096)
    return spark.range(0, int(n), 1, parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Mixed-mime metadata tier (r7 VERDICT ask #8)

_SNIFF_SCHEMA = "mime string, width int, height int"


def sniff_image_metadata(payload: bytes | None):
    """Stdlib container-header sniff — mime + pixel dimensions WITHOUT
    decoding (the metadata pass a 100 TB media pipeline runs first to
    partition/filter by size and type; full decode happens later, only
    on the rows that survive).  Formats are identified by magic bytes:

    - PNG:  IHDR width/height (big-endian u32 at bytes 16..24);
    - JPEG: walk the marker stream to the first SOF0-SOF15 frame
      header (skipping the non-frame C4/C8/CC markers) and read
      height/width from it — the standard dimensions-without-decode
      parse (ISO/IEC 10918-1 B.2.2);
    - WAV:  RIFF....WAVE, mime only (no pixel dims);
    - FSV1: the multi-frame container — frame dims sniffed from frame
      0's own header (still header-only, no pixel decode).

    Returns (mime, width, height), all None when nothing matches —
    callers treat that as "unknown payload", never an error.
    """
    import struct

    if not payload:
        return (None, None, None)
    b = bytes(payload)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return ("image/png", int(w), int(h))
    if b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            # ISO 10918-1 B.1.1.2: any number of 0xFF fill bytes may
            # precede a marker — consume them or marker==0xFF reads a
            # garbage seglen and the walk desyncs
            while i + 1 < len(b) and b[i + 1] == 0xFF:
                i += 1
            if i + 4 > len(b):
                break
            marker = b[i + 1]
            if marker == 0xD9:  # EOI before any frame header
                break
            if 0xD0 <= marker <= 0xD8 or marker == 0x01:  # bare markers
                i += 2
                continue
            seglen = struct.unpack(">H", b[i + 2:i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(b):
                    h, w = struct.unpack(">HH", b[i + 5:i + 9])
                    return ("image/jpeg", int(w), int(h))
                break
            i += 2 + seglen
        return ("image/jpeg", None, None)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return ("audio/x-wav", None, None)
    if b[:4] == b"FSV1" and len(b) >= 8:
        # multi-frame container: frame dimensions come from frame 0's
        # OWN header — still a header-only parse, no pixel decode
        n = struct.unpack_from("<I", b, 4)[0]
        if n > 0 and 8 + 4 * n <= len(b):
            fr = unpack_frame(b, 0)
            if fr is not None:
                _, w, h = sniff_image_metadata(fr)
                return ("video/x-fsv", w, h)
        return ("video/x-fsv", None, None)
    return (None, None, None)


def media_metadata(df: DataFrame,
                   payload_col: str = "payload") -> DataFrame:
    """Attach sniffed (mime, width, height) columns from the payload
    header — Arrow-batched, no decode, runs at scan speed.  The
    companion to extract_features: a mixed-mime corpus is first
    size/type-profiled here, and only the rows a decoder claims are
    routed to the (much more expensive) decode tier."""
    import pandas as pd

    def _sniff(payloads):
        rows = [sniff_image_metadata(p) for p in payloads]
        return pd.DataFrame(rows, columns=["mime", "width", "height"])

    # module-wide `from __future__ import annotations` stringizes type
    # hints, which pandas_udf cannot resolve for locally-imported
    # pandas — bind real type objects instead (the bucketed.py pattern)
    _sniff.__annotations__ = {"payloads": pd.Series, "return": pd.DataFrame}
    meta = F.pandas_udf(_sniff, _SNIFF_SCHEMA)(F.col(payload_col))
    return (df.withColumn("__sniff", meta)
            .withColumn("sniff_mime", F.col("__sniff.mime"))
            .withColumn("sniff_width", F.col("__sniff.width"))
            .withColumn("sniff_height", F.col("__sniff.height"))
            .drop("__sniff"))


def make_fake_mixed_media(spark, n: int, width: int = 32,
                          height: int = 32) -> DataFrame:
    """Mixed-mime corpus fixture (r7 VERDICT ask #8): executor-
    generated like make_fake_png_media, but only every THIRD payload
    is a decodable PNG — the rest exercise the metadata tier and the
    per-row failure flag on a corpus that is not 100% PNG:

    - i % 3 == 0: a real stdlib-encoded grayscale PNG, closed-form
      pixels (row y = (i + y) % 256) — decode_ok=True;
    - i % 3 == 1: a JPEG HEADER (SOI + APP0/JFIF + SOF0 carrying
      closed-form dimensions w = 16 + i%8, h = 8 + i%5) with no scan
      data — dimensions sniff cleanly, but no tier can decode it:
      the decode_ok=False path on a structurally valid container;
    - i % 3 == 2: patterned non-media bytes ((i*13 + j) % 251 — can
      never start with a known magic) — sniff returns NULL mime,
      decode_ok=False.
    """
    from fsharp_dataframe_spark.functions.png import encode_png

    w, h = int(width), int(height)

    def _jpeg_header(wd: int, ht: int) -> bytes:
        import struct

        app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
        sof = (b"\x08" + struct.pack(">HH", ht, wd) + b"\x03"
               + b"\x01\x22\x00" + b"\x02\x11\x01" + b"\x03\x11\x01")
        return (b"\xff\xd8"
                + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
                + b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
                + b"\xff\xd9")

    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            payloads, metas = [], []
            for i in ids:
                if i % 3 == 0:
                    payloads.append(encode_png(
                        b"".join(bytes([(i + y) % 256]) * w
                                 for y in range(h)), w, h, 1))
                    metas.append({"mime": "image/png", "width": w,
                                  "height": h, "n_frames": 1,
                                  "duration_s": None})
                elif i % 3 == 1:
                    payloads.append(_jpeg_header(16 + i % 8, 8 + i % 5))
                    metas.append({"mime": "image/jpeg",
                                  "width": 16 + i % 8, "height": 8 + i % 5,
                                  "n_frames": 1, "duration_s": None})
                else:
                    payloads.append(bytes((i * 13 + j) % 251
                                          for j in range(40)))
                    metas.append({"mime": None, "width": None,
                                  "height": None, "n_frames": None,
                                  "duration_s": None})
            yield pd.DataFrame({
                "media_id": ids, "payload": payloads, "meta": metas,
            })

    parts = max(1, (int(n) + 4095) // 4096)
    return spark.range(0, int(n), 1, parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual hashing (r10 VERDICT ask #4): dHash over decoded pixels


def _dhash_from_gray_ref(arr, hash_w: int = 8, hash_h: int = 8) -> int:
    """Reference dHash: per-block np.array_split + .mean() — the
    readable spec the vectorized path below is property-tested
    against, and the fallback for degenerate images smaller than the
    hash grid (where reduceat's repeated offsets diverge from
    array_split's empty-block NaNs)."""
    import numpy as np

    rows = np.array_split(arr, hash_h, axis=0)
    g = np.stack([
        np.array([b.mean() for b in np.array_split(r, hash_w + 1, axis=1)],
                 dtype=np.float32)
        for r in rows])
    bits = g[:, :-1] < g[:, 1:]
    h = 0
    for r in range(hash_h):
        for c in range(hash_w):
            if bits[r, c]:
                h |= 1 << (r * hash_w + c)
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def _split_bounds(n: int, parts: int):
    """np.array_split's exact boundaries: the first n % parts blocks
    get one extra element.  Returns (offsets, sizes)."""
    import numpy as np

    base, rem = divmod(n, parts)
    sizes = np.array([base + 1] * rem + [base] * (parts - rem),
                     dtype=np.int64)
    offs = np.zeros(parts, dtype=np.int64)
    np.cumsum(sizes[:-1], out=offs[1:])
    return offs, sizes


def _dhash_from_gray(arr, hash_w: int = 8, hash_h: int = 8) -> int:
    """64-bit dHash (difference hash) of a grayscale pixel array: the
    image is block-mean-resized to (hash_w + 1) × hash_h on
    np.array_split's deterministic block boundaries (exact means for
    block-constant images), and bit r·hash_w + c is 1 iff the pixel
    right of (r, c) is strictly brighter — the standard
    horizontal-gradient perceptual hash.  Returned as a
    two's-complement signed 64-bit int (Spark LongType).

    Vectorized as two np.add.reduceat passes over the same boundaries
    + one packed-bit dot (the per-block .mean() loop cost 0.70 ms per
    5000-image fixture row — 72 tiny numpy reductions each — and was
    the measured bulk of the image-tier bench entries once the PNG
    encode moved to the fixture cache; this form is ~8× cheaper at
    identical output).  Block sums accumulate in float64 and the means
    round once to float32, so against the float32-accumulating
    reference only sub-ulp near-ties could ever flip a bit — the
    property test pins equality across random and adversarial
    images."""
    import numpy as np

    h_px, w_px = arr.shape[0], arr.shape[1]
    if h_px < hash_h or w_px < hash_w + 1:
        return _dhash_from_gray_ref(arr, hash_w, hash_h)
    a = np.asarray(arr, dtype=np.float64)
    ro, rs = _split_bounds(h_px, hash_h)
    co, cs = _split_bounds(w_px, hash_w + 1)
    sums = np.add.reduceat(np.add.reduceat(a, ro, axis=0), co, axis=1)
    g = (sums / (rs[:, None] * cs[None, :])).astype(np.float32)
    bits = (g[:, :-1] < g[:, 1:]).reshape(-1)
    n_bits = hash_w * hash_h
    powers = np.left_shift(np.uint64(1),
                           np.arange(n_bits, dtype=np.uint64))
    h = int(bits.astype(np.uint64) @ powers)
    if h >= 1 << 63:
        h -= 1 << 64
    return h


def dhash_media(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id",
                max_pixels: int | None = None) -> DataFrame:
    """Per-image 64-bit dHash over the REAL decode tier — the
    fingerprint stage of image near-duplicate detection.  Arrow-batched
    mapInPandas (metadata columns pass through nothing; only id +
    payload are read); rows no tier can decode get a NULL hash and
    decode_ok = False, never an executor exception.

    Returns (id, dhash long, decode_ok boolean).  Feed the hashes to
    dedup.banded_hamming_pairs for corpus-scale near-dup pairs (the
    SimHash band substrate — pigeonhole-complete for the chosen
    Hamming bound, shuffle keyed by (piece, piece-bits))."""
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ])

    def _hash(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            hashes, oks = [], []
            for payload in pdf[payload_col]:
                arr = _decode_gray_array(payload, max_pixels=max_pixels)
                if arr is None or arr.size == 0:
                    hashes.append(None)
                    oks.append(False)
                else:
                    hashes.append(_dhash_from_gray(arr))
                    oks.append(True)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "dhash": _nullable_i64(hashes),
                                "decode_ok": oks})

    # decode is the CPU-heavy step: spread() rebalances a few-partition
    # input (a small parquet cache file reads as 1-2 splits, so the
    # whole decode ran as 2 tasks on a 32-core box — measured) and is
    # a no-op at real scale where thousands of file splits exist
    from fsharp_dataframe_spark.functions.util import spread

    return spread(df, id_col, payload_col).mapInPandas(
        _hash, schema=out_schema)


def _dhash_pattern(i: int) -> int:
    """Closed-form 60-bit pattern for the dHash fixture: md5 of the
    image id (byte-identical in every engine — the simhash_table md5
    family's rationale), with two planted-near-dup rules:

    - i ≡ 7 (mod 8): one flipped bit vs image i−1 (a Hamming-1 twin);
    - i ≡ 12 (mod 16): TWO flipped bits vs image i−5 (itself a twin of
      i−6), making the chain (i−6)–(i−5)–i Hamming 1 + 2 while
      (i−6, i) is Hamming 3 — outside the max_hamming=2 bound, so the
      three images form one duplicate CLUSTER only via transitivity
      (the image_dedup_clusters contract).

    The rules are disjoint (i ≡ 12 mod 16 ⇒ i ≡ 4 mod 8), and the
    flipped-bit offsets differ mod 60, so the planted Hamming
    distances are exact."""
    import hashlib

    def base(j: int) -> int:
        return int(hashlib.md5(str(j).encode()).hexdigest()[:15], 16)

    if i % 16 == 12:
        twin = base(i - 6) ^ (1 << ((i - 5) % 60))
        return twin ^ (1 << ((i + 11) % 60)) ^ (1 << ((i + 37) % 60))
    if i % 8 == 7:
        return base(i - 1) ^ (1 << (i % 60))
    return base(i)


def _cache_layout_files() -> int:
    """File count for the media fixture caches.  r16: FIXED at 32
    (env-overridable via SPARK_GRAFT_CACHE_FILES) instead of the r15
    defaultParallelism — a core-count-dependent layout meant the 8-core
    scaling run either inherited the 32-core layout or silently kept a
    stale 2-3-file one (ADVICE r15: the _SUCCESS check short-circuits,
    so layout changes never applied to existing caches; fixed by the
    _f{n} path suffix below).  32 files keep a 32-core box's decode
    passes fully parallel, and Spark's openCost packing merges them to
    ~core-count scan tasks on smaller sessions, so one layout serves
    every core count.  Measured r16 (video_dual_incr, interleaved,
    warm): 32 files 2.8 s / 8 files 3.1 s / 4 files 11.6 s — MORE
    files win; the r15 VERDICT's few-file hypothesis is refuted."""
    import os

    return int(os.environ.get("SPARK_GRAFT_CACHE_FILES", "0") or 0) or 32


def _cache_files(df: DataFrame) -> DataFrame:
    """Lay a fixture cache out in a fixed number of parquet files
    (guide §6: file layout gates the reader parallelism of every
    mapInPandas decode pass — the media family's dominant compute ran
    2-4 tasks off the default writer's 2-3 single-row-group files).
    Round-robin repartition at cache-BUILD time (warm-up, untimed);
    contents are the same rows — every consumer aggregates/joins, so
    layout is result-invisible (oracle-re-verified)."""
    return df.repartition(_cache_layout_files())


def cached_dhash_media(spark, n: int,
                       cache_root: str | None = None) -> DataFrame:
    """Write-once parquet cache of the closed-form dHash PNG fixture
    (r10 VERDICT "What's wrong" #3: the pure-Python PNG encode of the
    5,000-image fixture dominated two top-five bench entries, so the
    bench tracked stdlib zlib throughput instead of the operator —
    masking any real plan regression underneath).  First call per
    (cache_root, n) encodes and writes atomically (write to a pid
    temp dir, rename into place; the loser of a race discards); every
    later call — bench repeats, oracle gates, the three image queries
    in one session — reads parquet.  Contents are deterministic
    closed-form, so the cache can never go stale for a given n."""
    import os
    import shutil

    root = cache_root or os.environ.get(
        "SPARK_GRAFT_MEDIA_CACHE", "/tmp/fsharp_dataframe_spark_media")
    path = os.path.join(root, f"dhash_n{int(n)}_f{_cache_layout_files()}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # a dir without _SUCCESS is a crashed write — rebuild it
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        # write ~core-count files (r15, guide §6): a 2-file cache gates
        # every downstream DECODE pass (one scan task per single-row-
        # group file) at 2 tasks — the Python fingerprint stage, the
        # dominant per-query compute of the whole media family, ran on
        # 2-4 of 32 cores.  Layout only; contents unchanged.
        _cache_files(make_fake_dhash_media(spark, n)).write.mode(
            "overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return spark.read.parquet(path).select(
        *[f.name for f in MEDIA_SCHEMA.fields])


# r16 (ADVICE r15): the clone-cache key encodes transform name/params/
# filter/n but NOT the transform implementation — a bugfix to
# trim_audio_head / trim_video_head / resample_audio / crop_media
# would silently serve stale clone corpora until an oracle sweep
# hash-mismatched.  Bump this version token in the SAME commit as any
# behavior change to those transforms; it is folded into every clone
# cache path.
CLONE_CACHE_VERSION = 1


def cached_clone(spark, key: str, builder,
                 cache_root: str | None = None) -> DataFrame:
    """Write-once parquet cache of a DETERMINISTIC clone-transform
    relation (head-trimmed / resampled / cropped re-uploads of the
    cached media fixtures) — the r11 fixture-cache accounting rule
    extended to the planted clone corpora (VERDICT r14 ask #6): the
    bench should measure the dedup/verify OPERATOR, not the per-run
    decode+re-encode of its planted INPUT corpus (image_crop_verify
    spent most of its 8.8 s driver recording rebuilding n/5 crops
    through the real PNG transform every run).

    Same discipline as cached_dhash_media: first call per
    (cache_root, key) runs the REAL transform once and writes
    atomically (pid temp dir + rename; the loser of a race discards);
    every later call — bench repeats, oracle gates, sibling queries
    sharing a clone relation — reads parquet.  ``key`` must encode
    every parameter the relation depends on (transform name, params,
    id-subset filter, fixture size n); contents are deterministic
    closed-form for a given key AND transform implementation — a
    change to the transforms themselves must bump CLONE_CACHE_VERSION
    (folded into the path) or the cache serves stale corpora.
    The cached bytes are the transform's own output through a parquet
    round-trip — bit-identical input to the operator under test, and
    the DuckDB oracles (which replay the transforms symbolically)
    re-verify that every sweep."""
    import os
    import shutil

    root = cache_root or os.environ.get(
        "SPARK_GRAFT_MEDIA_CACHE", "/tmp/fsharp_dataframe_spark_media")
    path = os.path.join(
        root,
        f"clone_{key}_v{CLONE_CACHE_VERSION}"
        f"_f{_cache_layout_files()}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # a dir without _SUCCESS is a crashed write — rebuild it
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        _cache_files(builder()).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return spark.read.parquet(path).select(
        *[f.name for f in MEDIA_SCHEMA.fields])


def _pattern_png_bytes(p: int) -> bytes:
    """36×32 grayscale PNG whose dHash IS the 60-bit pattern ``p``: a
    9×8 grid of 4×4 constant blocks walking ±8 around 128 along each
    block row, so the block-mean resize reconstructs the walk exactly
    and bit k = r·8 + c of the dHash equals bit k of p for k < 60
    (bits 60-63 are flat steps → 0).  Shared by the image fixture and
    the video fixture's per-frame builder."""
    from fsharp_dataframe_spark.functions.png import encode_png

    raw = bytearray()
    for r in range(8):
        vals = [128]
        for c in range(8):
            k = r * 8 + c
            if k < 60:
                vals.append(vals[-1] + (8 if (p >> k) & 1 else -8))
            else:
                vals.append(vals[-1])
        px_row = bytes(v for v in vals for _ in range(4))
        raw += px_row * 4
    return encode_png(bytes(raw), 36, 32, 1)


def make_fake_dhash_media(spark, n: int) -> DataFrame:
    """Corpus-scale PNG fixture whose dHash is CLOSED FORM
    (_pattern_png_bytes over _dhash_pattern).  Every i ≡ 7 (mod 8) is
    a planted near-duplicate of i − 1 at Hamming distance exactly 1.
    Executor-generated like make_fake_png_media (no driver-side
    payload list)."""
    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            payloads = [_pattern_png_bytes(_dhash_pattern(i))
                        for i in ids]
            yield pd.DataFrame({
                "media_id": ids,
                "payload": payloads,
                "meta": [{"mime": "image/png", "width": 36, "height": 32,
                          "n_frames": 1, "duration_s": None}
                         for _ in ids],
            })

    parts = max(1, (int(n) + 4095) // 4096)
    return spark.range(0, int(n), 1, parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA)


# ----------------------------------------------------------------------
# audio: real WAV decode tier + spectral-band fingerprint
# ----------------------------------------------------------------------

AFP_SR = 8000          # fixture sample rate
AFP_WIN = 256          # samples per analysis window
AFP_N_WIN = 8          # windows per clip (8 windows x 8 bits = 64)
AFP_N_BANDS = 9        # adjacent-band comparisons yield 8 bits/window


def _afp_from_samples(s):
    """64-bit audio fingerprint from PCM samples (float array):
    bit w·8 + b = 1 iff window w's spectral energy in band b exceeds
    band b+1 — the adjacent-band delta coding of the chromaprint /
    Haitsma-Kalker (2002) family, over 9 four-bin rFFT bands per
    256-sample window.  Clips shorter than one fingerprint frame
    (2048 samples) return None; longer clips fingerprint their first
    frame (the lookup-key contract — match windows, not whole files).

    One vectorized rFFT per clip (the (8, 256) window matrix in a
    single call — the r11 dHash reduceat lesson applied from day
    one), band sums by slice."""
    import numpy as np

    need = AFP_WIN * AFP_N_WIN
    if s is None or len(s) < need:
        return None
    seg = np.asarray(s[:need], dtype=np.float64).reshape(AFP_N_WIN,
                                                         AFP_WIN)
    X = np.abs(np.fft.rfft(seg, axis=1)) ** 2        # (8, 129)
    e = np.stack([X[:, 4 + 4 * b: 8 + 4 * b].sum(axis=1)
                  for b in range(AFP_N_BANDS)], axis=1)   # (8, 9)
    bits = e[:, :-1] > e[:, 1:]                      # (8, 8)
    fp = 0
    for w in range(AFP_N_WIN):
        for b in range(8):
            if bits[w, b]:
                fp |= 1 << (w * 8 + b)
    # two's-complement wrap (the _dhash_from_gray discipline): real
    # audio can set bit 63, and an unwrapped Python int >= 2^63 would
    # overflow LongType in the Arrow batch — an executor exception the
    # per-row degradation contract forbids
    if fp >= 1 << 63:
        fp -= 1 << 64
    return fp


def _resample_linear(x, sr_from: int, sr_to: int):
    """Linear-interpolation resample — the canonical-rate normalizer
    under the audio decode tier.  Identity (same array, no float
    churn) when the rates already agree, so 8 kHz fixtures round-trip
    bit-for-bit."""
    import numpy as np

    if sr_from == sr_to:
        return x
    n_out = int(round(len(x) * sr_to / sr_from))
    t_out = np.arange(n_out) * (sr_from / sr_to)
    return np.interp(t_out, np.arange(len(x)), x)


def _decode_wav_samples(payload: bytes | None, target_sr: int | None = None):
    """PCM16 mono WAV decode via the stdlib wave module — REAL audio
    decode for the one container format that needs no external codec
    (compressed formats stay behind DecoderUnavailable, the
    extract_features contract).  Returns float64 samples or None.

    ``target_sr``: rate-normalize to a canonical sample rate (linear
    interpolation).  The spectral-band fingerprints are amplitude- and
    phase-invariant but NOT rate-invariant — a 44.1k→48k re-encode
    rescales every band and misses by ~30 bits (pinned in
    test_round13_ops) — so the fingerprint tiers decode at
    ``target_sr=AFP_SR``; normalization reproduces the canonical-rate
    fingerprints EXACTLY for linear-resampled re-encodes (pinned).
    Same-rate clips take the identity path (no float churn)."""
    import io
    import wave

    import numpy as np

    if payload is None:
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
            if wf.getsampwidth() != 2 or wf.getnchannels() != 1:
                return None
            rate = wf.getframerate()
            raw = wf.readframes(wf.getnframes())
    except Exception:
        return None
    s = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if target_sr is not None and rate != target_sr:
        s = _resample_linear(s, rate, target_sr)
    return s


def audio_fingerprint(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """Per-clip 64-bit audio fingerprint over the REAL decode tier —
    the audio counterpart of dhash_media: Arrow-batched mapInPandas,
    stdlib-WAV decode (no codec dependency), NULL fingerprint +
    decode_ok=False for anything undecodable, never an executor
    exception.

    Returns (id, afp long, decode_ok boolean).  Feed the fingerprints
    to dedup.banded_hamming_pairs for corpus-scale near-dup pairs, or
    dedup.cross_banded_hamming_pairs(new, landed_piece_table) for the
    incremental ingest path — the SAME validated pigeonhole substrate
    as images; nothing audio-specific below the fingerprint.

    This is the FIRST-WINDOW LOOKUP-KEY FAST PATH: only the first
    2048 samples are fingerprinted, so a duplicate whose head differs
    is invisible here.  Whole-stream matching — one fingerprint per
    2048-sample window, matched offset-tolerantly — is
    audio_window_fingerprints / audio_stream_near_dup below."""
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("afp", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ])

    def _fp(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            fps, oks = [], []
            for payload in pdf[payload_col]:
                fp = _afp_from_samples(
                    _decode_wav_samples(payload, target_sr=AFP_SR))
                fps.append(fp)
                oks.append(fp is not None)
            yield pd.DataFrame({id_col: pdf[id_col],
                                "afp": _nullable_i64(fps),
                                "decode_ok": oks})

    from fsharp_dataframe_spark.functions.util import spread

    return spread(df, id_col, payload_col).mapInPandas(
        _fp, schema=out_schema)


def _afp_pattern(i: int) -> int:
    """Closed-form 60-bit pattern for the audio fixture — the
    _dhash_pattern rules under a DIFFERENT hash salt ('a' + id, so the
    audio oracle's rows never mirror the image oracle's): md5-based
    base pattern, i ≡ 7 (mod 8) a Hamming-1 twin of i−1, i ≡ 12
    (mod 16) two more flips on i−6's twin — the (i−6)–(i−5)–i chain
    is Hamming 1 + 2 with endpoints at 3."""
    import hashlib

    def base(j: int) -> int:
        return int(hashlib.md5(f"a{j}".encode()).hexdigest()[:15], 16)

    if i % 16 == 12:
        twin = base(i - 6) ^ (1 << ((i - 5) % 60))
        return twin ^ (1 << ((i + 11) % 60)) ^ (1 << ((i + 37) % 60))
    if i % 8 == 7:
        return base(i - 1) ^ (1 << (i % 60))
    return base(i)


def make_fake_audio_media(spark, n: int) -> DataFrame:
    """Corpus-scale WAV fixture whose fingerprint is CLOSED FORM: clip
    i synthesizes, per 256-sample window, nine tones at the exact
    centers of the fingerprint's rFFT bands (integer cycles — zero
    spectral leakage) with amplitudes chained ×1.6 / ÷1.6 so the
    adjacent-band energy comparisons reproduce _afp_pattern(i) bit
    for bit (2.56× energy steps dwarf int16 quantization noise;
    round-trip exactness property-pinned in tests).  Executor-
    generated like make_fake_dhash_media."""
    def gen(batches: Iterator) -> Iterator:
        import io
        import wave

        import numpy as np
        import pandas as pd

        t = np.arange(AFP_WIN)
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            payloads = []
            for i in ids:
                p = _afp_pattern(i)
                frames = []
                for w in range(AFP_N_WIN):
                    amps = [1.0]
                    for b in range(8):
                        k = w * 8 + b
                        bit = (p >> k) & 1 if k < 60 else 0
                        amps.append(amps[-1] / 1.6 if bit
                                    else amps[-1] * 1.6)
                    x = np.zeros(AFP_WIN)
                    for b, a in enumerate(amps):
                        cb = 5 + 4 * b
                        x = x + a * np.sin(2 * np.pi * cb * t / AFP_WIN)
                    x = x * (12000.0 / np.max(np.abs(x)))
                    frames.append(np.round(x).astype(np.int16))
                samples = np.concatenate(frames)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(AFP_SR)
                    wf.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
            dur = AFP_WIN * AFP_N_WIN / AFP_SR
            yield pd.DataFrame({
                "media_id": ids,
                "payload": payloads,
                "meta": [{"mime": "audio/wav", "width": None,
                          "height": None,
                          "n_frames": AFP_WIN * AFP_N_WIN,
                          "duration_s": dur} for _ in ids],
            })

    parts = max(1, (int(n) + 4095) // 4096)
    return spark.range(0, int(n), 1, parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA)


def cached_audio_media(spark, n: int,
                       cache_root: str | None = None) -> DataFrame:
    """Write-once parquet cache of the closed-form WAV fixture — the
    cached_dhash_media discipline (atomic pid-temp rename, _SUCCESS
    sentinel, deterministic contents so staleness is impossible)."""
    import os
    import shutil

    root = cache_root or os.environ.get(
        "SPARK_GRAFT_MEDIA_CACHE", "/tmp/fsharp_dataframe_spark_media")
    path = os.path.join(root, f"audio_n{int(n)}_f{_cache_layout_files()}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        _cache_files(make_fake_audio_media(spark, n)).write.mode(
            "overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return spark.read.parquet(path).select(
        *[f.name for f in MEDIA_SCHEMA.fields])


# ----------------------------------------------------------------------
# video: multi-frame container with a REAL per-frame decode path
# ----------------------------------------------------------------------

_FSV_MAGIC = b"FSV1"


def pack_frames(frames: list[bytes]) -> bytes:
    """Minimal multi-frame media container: magic, u32 frame count,
    u32 per-frame lengths, concatenated frame payloads (each an
    ordinary PNG here — an MJPEG-style intra-only stream, the one
    video layout decodable without an external codec).  Real inter-
    coded formats (H.264 etc.) stay behind DecoderUnavailable, the
    extract_features contract; everything ABOVE the frame codec —
    container parse, frame sampling, per-frame hashing, temporal
    alignment — is the part that matters for the Spark plumbing and
    is fully real."""
    import struct

    out = bytearray(_FSV_MAGIC)
    out += struct.pack("<I", len(frames))
    for fr in frames:
        out += struct.pack("<I", len(fr))
    for fr in frames:
        out += fr
    return bytes(out)


def unpack_frame(payload: bytes | None, idx: int) -> bytes | None:
    """Extract frame ``idx`` from a pack_frames container; None for
    anything malformed (wrong magic, truncated, index out of range) —
    the per-row degradation contract."""
    import struct

    if payload is None:
        return None
    b = bytes(payload)
    if len(b) < 8 or b[:4] != _FSV_MAGIC:
        return None
    n = struct.unpack_from("<I", b, 4)[0]
    if idx < 0 or idx >= n or len(b) < 8 + 4 * n:
        return None
    lens = struct.unpack_from(f"<{n}I", b, 8)
    off = 8 + 4 * n + sum(lens[:idx])
    end = off + lens[idx]
    if end > len(b):
        return None
    return b[off:end]


def video_frame_hashes(df: DataFrame, every_n: int = 2,
                       payload_col: str = "payload",
                       id_col: str = "media_id",
                       max_pixels: int | None = None,
                       residues=(0,)) -> DataFrame:
    """Per-sampled-frame dHash over the REAL decode path: parse the
    container, sample the frames ``f ≡ r (mod every_n)`` for ``r`` in
    ``residues`` (default ``(0,)`` — every ``every_n``-th frame,
    frame_sample_plan's stride contract), decode each sampled frame
    through the image tier's codecs, dHash it.  Arrow-batched;
    undecodable rows or frames degrade per row to NULL +
    decode_ok=False.  ``residues`` lets the residue-set matchers
    decode ONLY their voting grid — |residues|/every_n of the dense
    decode volume.

    Returns (id, frame_idx int, dhash long, decode_ok).  At 100 TB
    the payload bytes stream through one mapInPandas — frames never
    explode into a shuffle carrying pixel data; only the 8-byte
    hashes move."""
    import struct

    rs = _check_residues(every_n, residues)
    every_n = int(every_n)

    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("dhash", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ])

    def _hash(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, hashes, oks = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else None
                n = 0
                if b is not None and len(b) >= 8 and b[:4] == _FSV_MAGIC:
                    n = struct.unpack_from("<I", b, 4)[0]
                    # a truncated/hostile header can DECLARE billions
                    # of frames in 8 bytes — bound the loop by what
                    # the payload can physically hold before iterating
                    if 8 + 4 * n > len(b):
                        n = 0
                if n == 0:
                    ids.append(int(mid))
                    idxs.append(0)
                    hashes.append(None)
                    oks.append(False)
                    continue
                frames = (range(0, n, every_n) if rs == (0,) else
                          sorted(f for r in rs
                                 for f in range(r, n, every_n)))
                for f in frames:
                    fr = unpack_frame(b, f)
                    arr = (None if fr is None else
                           _decode_gray_array(fr, max_pixels=max_pixels))
                    ids.append(int(mid))
                    idxs.append(f)
                    if arr is None or arr.size == 0:
                        hashes.append(None)
                        oks.append(False)
                    else:
                        hashes.append(_dhash_from_gray(arr))
                        oks.append(True)
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs,
                                "dhash": _nullable_i64(hashes),
                                "decode_ok": oks})

    from fsharp_dataframe_spark.functions.util import spread

    return spread(df, id_col, payload_col).mapInPandas(
        _hash, schema=out_schema)


def video_near_dup(df: DataFrame, every_n: int = 2, max_hamming: int = 2,
                   payload_col: str = "payload",
                   id_col: str = "media_id") -> DataFrame:
    """Video near-duplicate pairs by temporally-aligned frame match —
    the multimodal capstone for multi-frame media: sample every
    ``every_n``-th frame, dHash each through the real decode path,
    find SAME-POSITION frame pairs within ``max_hamming`` via the
    pigeonhole band substrate (the frame index joins the shuffle key,
    so only temporally aligned frames ever collide — re-encodes and
    re-uploads align; clipped videos are a different operator), and
    keep video pairs where matched frames cover at least half the
    comparable sampled positions (2·matched ≥ comparable, exact
    integers).

    Returns (id_a, id_b, matched_frames, compared_frames) with
    compared = min(sampled_a, sampled_b).

    Scale shape: see _aligned_match."""
    pieces = _landed_pieces(
        partial(video_frame_piece_table, every_n=every_n,
                max_hamming=max_hamming, payload_col=payload_col,
                id_col=id_col), df, _VIDEO)
    return _aligned_match(pieces, pieces, max_hamming, _SELF)


def video_frame_piece_table(df: DataFrame, every_n: int = 2,
                            max_hamming: int = 2,
                            payload_col: str = "payload",
                            id_col: str = "media_id",
                            residues=(0,)) -> DataFrame:
    """The persistable half of an incremental video-dedup index: one
    (vid, frame_idx, sh, q, qv) row per sampled frame per pigeonhole
    piece — written ONCE for the landed corpus (partition by ``q`` on
    disk), joined by every new batch.  The video tier's
    hamming_piece_table / cosine_bucket_table.  ``residues`` narrows
    the sampled grid to ``f ≡ r (mod every_n)`` (the residue-set
    matchers' decode-only-the-voting-grid path)."""
    from fsharp_dataframe_spark.functions.dedup import _piece_bands

    fh = (video_frame_hashes(df, every_n=every_n,
                             payload_col=payload_col, id_col=id_col,
                             residues=residues)
          .filter(F.col("decode_ok"))
          .select(F.col(id_col).alias("vid"), "frame_idx",
                  F.col("dhash").alias("sh")))
    return _piece_bands(fh, ["vid", "frame_idx"], max_hamming)


def cross_video_near_dup(new: DataFrame, existing: DataFrame,
                         every_n: int = 2, max_hamming: int = 2,
                         payload_col: str = "payload",
                         id_col: str = "media_id",
                         existing_is_piece_table: bool = False,
                         ) -> DataFrame:
    """Directional (new-batch × landed-corpus) video near-dup — the
    incremental ingest path for the fourth and last modality tier
    (text, image, embeddings all have theirs): tonight's videos are
    frame-hashed once and their pieces joined against the corpus's
    STORED frame-piece table — the corpus is never re-decoded or
    self-joined, so re-ingest is |new|-bounded however large the
    corpus grew.

    Same temporally-aligned semantics as video_near_dup (frame index
    in the join key, 2·matched ≥ compared with compared =
    min(sampled_new, sampled_old)); returns (new_id, old_id,
    matched_frames, compared_frames).

    Pass ``existing_is_piece_table=True`` when ``existing`` is a
    persisted video_frame_piece_table read back from parquet (the
    production shape — piece-partitioned storage makes the join
    piece-pruned); otherwise it is hashed in this pass."""
    build = partial(video_frame_piece_table, every_n=every_n,
                    max_hamming=max_hamming, payload_col=payload_col,
                    id_col=id_col)
    return _aligned_match(
        _landed_pieces(build, new, _VIDEO),
        _landed_pieces(build, existing, _VIDEO, existing_is_piece_table),
        max_hamming, _CROSS)


def _video_frame_pattern(i: int, f: int) -> int:
    """Closed-form 60-bit pattern for frame f of video i ('v'-salted
    md5, so neither the image nor the audio oracle rows repeat):
    every i ≡ 7 (mod 8) is a planted RE-UPLOAD of video i−1 — same
    frame count, same frames — except frame 0 carries a one-bit
    overlay change (the watermark/logo case), keeping every sampled
    position within Hamming 1."""
    import hashlib

    def base(j: int, g: int) -> int:
        return int(hashlib.md5(f"v{j}_{g}".encode()).hexdigest()[:15],
                   16)

    if i % 8 == 7:
        p = base(i - 1, f)
        return p ^ (1 << (i % 60)) if f == 0 else p
    return base(i, f)


def video_frame_count(i: int) -> int:
    """Frame count for fixture video i: 2..14 frames, with planted
    re-uploads (i ≡ 7 mod 8) keeping their source's count so sampled
    positions align."""
    j = i - 1 if i % 8 == 7 else i
    return (j % 13) + 2


def make_fake_video_media(spark, n: int) -> DataFrame:
    """Corpus-scale video fixture with CLOSED-FORM per-frame dHashes:
    video i packs video_frame_count(i) pattern PNGs
    (_pattern_png_bytes over _video_frame_pattern) into the FSV1
    container.  Executor-generated."""
    def gen(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            payloads, metas = [], []
            for i in ids:
                nf = video_frame_count(i)
                frames = [_pattern_png_bytes(_video_frame_pattern(i, f))
                          for f in range(nf)]
                payloads.append(pack_frames(frames))
                metas.append({"mime": "video/x-fsv", "width": 36,
                              "height": 32, "n_frames": nf,
                              "duration_s": nf / 4.0})
            yield pd.DataFrame({"media_id": ids, "payload": payloads,
                                "meta": metas})

    parts = max(1, (int(n) + 4095) // 4096)
    return spark.range(0, int(n), 1, parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA)


def cached_video_media(spark, n: int,
                       cache_root: str | None = None) -> DataFrame:
    """Write-once parquet cache of the closed-form video fixture —
    the cached_dhash_media discipline."""
    import os
    import shutil

    root = cache_root or os.environ.get(
        "SPARK_GRAFT_MEDIA_CACHE", "/tmp/fsharp_dataframe_spark_media")
    path = os.path.join(root, f"video_n{int(n)}_f{_cache_layout_files()}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        _cache_files(make_fake_video_media(spark, n)).write.mode(
            "overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return spark.read.parquet(path).select(
        *[f.name for f in MEDIA_SCHEMA.fields])


# ----------------------------------------------------------------------
# offset-tolerant matching core (audio windows + video frames)
# ----------------------------------------------------------------------


def _offset_votes(left: DataFrame, right: DataFrame, max_hamming: int,
                  directional: bool) -> DataFrame:
    """The candidate + vote front shared by the offset matchers and
    the segment report: banded (piece, piece-bits) join WITHOUT the
    position key, Hamming filter, DISTINCT position pairs, then one
    groupBy on (id_l, id_r, offset) — offset = idx_first - idx_second
    with `first` the smaller-id / corpus side."""
    l, r = left.alias("l"), right.alias("r")
    cond = ((F.col("l.q") == F.col("r.q"))
            & (F.col("l.qv") == F.col("r.qv")))
    if not directional:
        cond = cond & (F.col("l.id") < F.col("r.id"))
    else:
        # a partial re-ingest can land a batch whose ids overlap the
        # corpus; without this guard each such clip emits a trivial
        # self-pair at offset 0 that passes coverage (ADVICE r12)
        cond = cond & (F.col("l.id") != F.col("r.id"))
    cand = (l.join(r, cond)
            .select(F.col("l.id").alias("id_l"),
                    F.col("r.id").alias("id_r"),
                    F.col("l.idx").alias("idx_l"),
                    F.col("r.idx").alias("idx_r"),
                    F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_l", "id_r", "idx_l", "idx_r"]))
    off = (F.col("idx_l") - F.col("idx_r") if not directional
           else F.col("idx_r") - F.col("idx_l"))
    return (cand.groupBy("id_l", "id_r",
                         off.cast("long").alias("offset"))
            .agg(F.count("*").alias("matched")))


def _dominant_offset(votes: DataFrame) -> DataFrame:
    """Dominant offset per pair — highest matched, ties to the
    smallest offset.  r16 (guide §2.4): one max(struct) aggregate
    instead of the former row_number window: the vote relation arrives
    partitioned by (id_l, id_r, offset) from its groupBy, so the
    window needed ANOTHER exchange on (id_l, id_r) plus a full sort of
    every partition; the aggregate pre-combines map-side and skips the
    sort.  struct comparison is lexicographic, so max(struct(matched,
    -offset)) is EXACTLY the window's orderBy(matched desc, offset
    asc) pick — results bit-identical (oracle-re-verified)."""
    return (votes.groupBy("id_l", "id_r")
            .agg(F.max(F.struct(F.col("matched"),
                                (-F.col("offset")).alias("_no")))
                 .alias("_w"))
            .select("id_l", "id_r",
                    (-F.col("_w._no")).cast("long").alias("offset"),
                    F.col("_w.matched").alias("matched")))


def _distinct_idx_counts(side: DataFrame, n_pieces: int | None,
                         alias: str) -> DataFrame:
    """Per-id count of DISTINCT positions in a standardized piece
    table (id, idx, sh, q, qv).  r16 (guide §2.3/§2.4): the engine's
    piece builders emit EXACTLY ``n_pieces`` rows per (id, idx) —
    pigeonhole_pieces is a fixed-size posexplode over decode_ok rows —
    so the distinct-position count is count(*)/n_pieces: one
    map-side-combining aggregate instead of the former
    distinct-then-count (two exchanges, the first carrying every piece
    row).  Exact integer division by construction.  ``n_pieces=None``
    keeps the general distinct path for caller-supplied piece tables
    the builders didn't shape."""
    if n_pieces:
        return (side.groupBy("id")
                .agg((F.count("*") / int(n_pieces)).cast("long")
                     .alias(alias)))
    return (side.select("id", "idx").distinct().groupBy("id")
            .agg(F.count("*").alias(alias)))


def _offset_vote_match(left: DataFrame, right: DataFrame, *, stride: int,
                       max_hamming: int, directional: bool,
                       containment: bool = False, residues=None,
                       n_pieces: int | None = None) -> DataFrame:
    """The one offset-voting matcher under the whole-stream audio,
    trim-tolerant video and snippet-search tiers: join per-position
    hashes on (piece, piece-bits) WITHOUT the position key, vote on
    the position delta per candidate pair, keep the dominant offset,
    and keep pairs whose matches at that offset cover >= half the
    positions alignable at it (2*matched >= comparable, exact
    integers).  This is what catches a re-upload with a trimmed head —
    the first thing a real media ingest pipeline meets — which the
    same-position matchers (video_near_dup, banded first-window audio)
    provably miss.  ``containment=True`` is the snippet-search rule
    instead: EVERY one of the left side's positions must match at the
    dominant offset ("this jingle occurs in that clip").

    ``left``/``right``: standardized piece tables (id, idx, sh, q, qv)
    (_landed_pieces).  With ``directional=False`` both sides are the
    same relation and pairs are id-ordered (id_l < id_r); with
    ``directional=True`` left is the new batch / snippets and right
    the landed corpus — never old x old or new x new.  Returns
    (id_l, id_r, offset, matched, comparable); _named_pairs maps it
    onto each entry point's names.

    Offset convention: idx_first - idx_second where `first` is the
    smaller-id (symmetric) / corpus (directional) side — i.e. the
    number of head positions trimmed from the later/new item (positive
    for a head-trimmed re-upload).

    The alignable-position count is the one place the grids differ:

    * same grid (``residues=None``): both sides sampled at ``stride``
      from 0 (audio windows: stride 1; video frames: every_n).  With
      n_first / n_second sampled positions a side and
      t = floor(offset/stride),
          comparable = min(n_second-1, n_first-1-t) - max(0, -t) + 1
      — the exact count of k with 0 <= k < n_second and
      0 <= k + t < n_first.  Floor division, NOT truncation: mixed-
      parity or gapped piece tables produce negative non-multiple
      offsets (ADVICE r12).
    * residue grid vs dense (``residues`` given): the LEFT side's
      positions are the frames j ≡ r (mod stride) for r in
      ``residues``; the RIGHT side is DENSE (every frame hashed), so
      ANY integer offset aligns.
          comparable(t) = #{j in left grid : 0 <= j -/+ t < m_right}
                        = sum over r of #{j ≡ r (mod s) : lo <= j <= hi}
          lo = max(0, ±t),  hi = min(gmax_left, m_right - 1 ± t)
          #{j ≡ r in [lo, hi]} = floor((hi-r)/s) - floor((lo-1-r)/s)
      (sign +t symmetric / -t directional; gmax_left = the left
      side's largest grid position).  At stride=2, residues=(0,) this
      is the r13 dual-parity formula (pinned in test_round14_ops
      against brute force and the video_dual oracles).

    The two formulas disagree on mixed-parity and gapped tables
    (test_offset_vote_scaling_uses_floor_not_truncation), so they stay
    two.  ``n_pieces``: rows per (id, idx) the piece tables carry
    (_distinct_idx_counts); None counts distinct positions.

    Scale shape (every offset entry point points here): candidate
    fan-out is bounded by (q, qv) hash-key occupancy — the banded
    join's own discipline, uniform for hash-like sketches, never
    all-pairs; the vote is one groupBy on (id, id, offset) small-int
    keys and the dominant offset one max(struct) aggregate over it
    (_dominant_offset) — no per-pair sequence alignment, no window;
    the position counts are item-grain (dim-sized) aggregates joined
    back on the pair keys; pixels/samples never shuffle (hashes left
    the decode pass as 8-byte longs upstream)."""
    votes = _offset_votes(left, right, max_hamming, directional)
    dom = _dominant_offset(votes)
    if residues is None:
        stat_l = _distinct_idx_counts(left, n_pieces, "_na")
        n_first = F.col("_na") if not directional else F.col("_nb")
        n_second = F.col("_nb") if not directional else F.col("_na")
        t = F.floor(F.col("offset") / F.lit(int(stride))).cast("long")
        comparable = F.greatest(
            F.lit(0), F.least(n_second - 1, n_first - 1 - t)
            - F.greatest(F.lit(0), -t) + 1)
    else:
        s = int(stride)
        rs = _check_residues(s, residues)
        # max(idx) is duplicate-insensitive — no distinct pre-pass (r16)
        stat_l = left.groupBy("id").agg(F.max("idx").alias("_gmax"))
        t = F.col("offset")
        sgn = F.lit(-1) if directional else F.lit(1)
        lo = F.greatest(F.lit(0), (sgn * t).cast("long"))
        hi = F.least(F.col("_gmax").cast("long"),
                     (F.col("_nb") - 1 + sgn * t).cast("long"))
        per_r = [F.floor((hi - F.lit(r)) / F.lit(float(s)))
                 - F.floor((lo - 1 - F.lit(r)) / F.lit(float(s)))
                 for r in rs]
        comparable = F.when(hi >= lo, sum(per_r[1:], per_r[0])
                            ).otherwise(F.lit(0))
    # symmetric matchers pass the SAME persisted piece relation on both
    # sides — build the per-id count aggregate once (r16)
    cnt_r = (stat_l.withColumnRenamed("_na", "_nb") if left is right
             else _distinct_idx_counts(right, n_pieces, "_nb"))
    out = (dom
           .join(stat_l.withColumnRenamed("id", "id_l"), "id_l")
           .join(cnt_r.withColumnRenamed("id", "id_r"), "id_r")
           .withColumn("comparable", comparable.cast("long")))
    keep = (F.col("matched") == F.col("_na") if containment
            else F.col("matched") * 2 >= F.col("comparable"))
    return (out.filter((F.col("comparable") > 0) & keep)
            .select("id_l", "id_r", "offset", "matched", "comparable"))


# stored piece-table key columns per medium — persisted indexes and the
# stream-static joins in streaming/ops.py read these names
_AUDIO = ("aid", "win_idx")
_VIDEO = ("vid", "frame_idx")
# output pair names: symmetric self-join, new-batch x landed corpus,
# snippet search
_SELF = ("id_a", "id_b")
_CROSS = ("new_id", "old_id")
_SEARCH = ("snippet_id", "clip_id")


def _landed_pieces(build, df: DataFrame, keys,
                   is_piece_table: bool = False) -> DataFrame:
    """One side of a media piece join in the standard (id, idx, sh, q,
    qv) shape: ``df`` itself renamed when it already IS a stored piece
    table with ``keys`` = (id, idx) names (the production shape —
    piece-partitioned storage makes the join piece-pruned), otherwise
    ``build(df)`` renamed and persisted, since the vote join and the
    per-id counts both read it."""
    from fsharp_dataframe_spark.functions.util import track_persist

    def std(t: DataFrame) -> DataFrame:
        return t.select(F.col(keys[0]).alias("id"),
                        F.col(keys[1]).alias("idx"), "sh", "q", "qv")

    return std(df) if is_piece_table else track_persist(std(build(df)))


def _named_pairs(out: DataFrame, ids, unit: str,
                 containment: bool = False) -> DataFrame:
    """_offset_vote_match's (id_l, id_r, offset, matched, comparable)
    under an entry point's names: ``ids`` for the pair, then
    matched_/comparable_<unit> — or n_<unit> for containment search."""
    counts = ([F.col("matched").alias(f"n_{unit}")] if containment else
              [F.col("matched").alias(f"matched_{unit}"),
               F.col("comparable").alias(f"comparable_{unit}")])
    return out.select(F.col("id_l").alias(ids[0]),
                      F.col("id_r").alias(ids[1]), "offset", *counts)


def _aligned_match(left: DataFrame, right: DataFrame, max_hamming: int,
                   ids) -> DataFrame:
    """SAME-POSITION frame matching for video_near_dup /
    cross_video_near_dup: the frame index rides the (piece,
    piece-bits) join key — what makes these matchers cheap — so only
    temporally aligned frames collide; keep pairs whose matched frames
    cover at least half of compared = min(sampled_l, sampled_r)
    (2·matched ≥ compared, exact integers).  ``left is right`` is the
    symmetric self-join (id-ordered pairs).  Returns (ids…,
    matched_frames, compared_frames).

    100 TB shape: pixels never shuffle (hashes leave the decode pass
    as 8-byte longs); candidates ride (frame, piece-index, piece-bits)
    keys — uniform for hash-like sketches and never all-pairs; the
    Hamming filter runs BEFORE the pair aggregate (the
    banded_hamming_pairs discipline); the per-video sampled counts
    are a dim-sized aggregate joined back into the pair rollup."""
    a, b = ids
    l, r = left.alias("l"), right.alias("r")
    cond = ((F.col("l.idx") == F.col("r.idx"))
            & (F.col("l.q") == F.col("r.q"))
            & (F.col("l.qv") == F.col("r.qv")))
    if left is right:
        cond = cond & (F.col("l.id") < F.col("r.id"))
    else:
        # a re-ingested batch may share ids with the corpus: no
        # self-pairs (the _offset_votes guard)
        cond = cond & (F.col("l.id") != F.col("r.id"))
    matched = (
        l.join(r, cond)
        .select(F.col("l.id").alias(a), F.col("r.id").alias(b),
                F.col("l.idx").alias("frame_idx"),
                F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
                .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([a, b, "frame_idx"])
        .groupBy(a, b).agg(F.count("*").alias("matched_frames")))
    cnt_l = _distinct_idx_counts(left, max_hamming + 1, "_na")
    cnt_r = (cnt_l.withColumnRenamed("_na", "_nb") if left is right
             else _distinct_idx_counts(right, max_hamming + 1, "_nb"))
    out = (matched
           .join(cnt_l.withColumnRenamed("id", a), a)
           .join(cnt_r.withColumnRenamed("id", b), b)
           .withColumn("compared_frames",
                       F.least(F.col("_na"), F.col("_nb"))))
    return (out.filter(F.col("matched_frames") * 2
                       >= F.col("compared_frames"))
            .select(a, b, "matched_frames", "compared_frames"))


# ----------------------------------------------------------------------
# audio: whole-stream windowed fingerprints (the full Haitsma-Kalker
# framing — audio_fingerprint above is the first-window fast path)
# ----------------------------------------------------------------------

AFP_FRAME = AFP_WIN * AFP_N_WIN  # 2048 samples per fingerprint window


AFP_HOP = AFP_FRAME // 4  # 512-sample default hop for overlapped framing


def _check_hop(hop) -> int:
    """The overlapped framing's hop, validated at plan build (batch
    and stream fronts alike): 1 <= hop <= one 2048-sample window."""
    hop = int(hop)
    if not 1 <= hop <= AFP_FRAME:
        raise ValueError(f"hop must be in 1..{AFP_FRAME}, got {hop}")
    return hop


def _afp_windows_hop(s, hop: int) -> list[int]:
    """One 64-bit fingerprint per 2048-sample window taken every
    ``hop`` samples over the whole stream — the per-window twin of
    _afp_from_samples (identical math per window; window 0 equals the
    first-window fast path bit for bit, property-pinned).  One
    vectorized rFFT over the (k*8, 256) matrix of ALL windows' frames
    in a single call (overlapping windows gather rows from the same
    sample buffer — no copy explosion beyond the 4x frame fan-out at
    the default hop); packing via the uint64 dot + two's-complement
    wrap (the _dhash_from_gray discipline).  Streams shorter than one
    window return []."""
    import numpy as np

    if s is None or len(s) < AFP_FRAME:
        return []
    k = (len(s) - AFP_FRAME) // hop + 1
    x = np.asarray(s, dtype=np.float64)
    idx = (np.arange(k) * hop)[:, None] + np.arange(AFP_FRAME)
    seg = x[idx].reshape(k * AFP_N_WIN, AFP_WIN)
    X = np.abs(np.fft.rfft(seg, axis=1)) ** 2      # (k*8, 129)
    e = np.stack([X[:, 4 + 4 * b: 8 + 4 * b].sum(axis=1)
                  for b in range(AFP_N_BANDS)], axis=1)   # (k*8, 9)
    bits = (e[:, :-1] > e[:, 1:]).reshape(k, 64)   # (k, 64)
    powers = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
    fps = bits.astype(np.uint64) @ powers          # (k,) uint64
    out = []
    for fp in fps:
        fp = int(fp)
        if fp >= 1 << 63:
            fp -= 1 << 64
        out.append(fp)
    return out


def _afp_all_windows(s) -> list[int]:
    """One 64-bit fingerprint per NON-OVERLAPPING 2048-sample window —
    _afp_windows_hop at hop = window (the r12 framing, kept as the
    cheap tier: 4x fewer windows than the overlapped default, blind to
    trims that are not window multiples — audio_overlap_* is the
    offset-resolution fix)."""
    return _afp_windows_hop(s, AFP_FRAME)


def audio_window_fingerprints(df: DataFrame,
                              payload_col: str = "payload",
                              id_col: str = "media_id") -> DataFrame:
    """Whole-stream audio fingerprinting: one 64-bit spectral-band
    fingerprint per non-overlapping 2048-sample window (the actual
    Haitsma-Kalker 2002 design — fingerprint windowed sub-sequences,
    match clips that share an aligned run; audio_fingerprint keeps the
    first-window lookup-key fast path).  Arrow-batched mapInPandas
    over the stdlib-WAV decode tier; undecodable / too-short rows
    degrade per row to a single (win_idx 0, NULL, decode_ok=False) —
    never an executor exception.

    Returns (id, win_idx int, afp long, decode_ok).  The audio twin
    of video_frame_hashes: at 100 TB the payload bytes stream through
    one mapInPandas — windows never explode into a shuffle carrying
    samples; only the 8-byte fingerprints move."""
    return audio_overlap_fingerprints(df, hop=AFP_FRAME,
                                      payload_col=payload_col,
                                      id_col=id_col)


def audio_window_piece_table(df: DataFrame, max_hamming: int = 2,
                             payload_col: str = "payload",
                             id_col: str = "media_id") -> DataFrame:
    """The persistable half of an incremental whole-stream audio-dedup
    index: one (aid, win_idx, sh, q, qv) row per window per pigeonhole
    piece — written ONCE for the landed corpus (partition by ``q`` on
    disk), joined by every new batch.  The audio twin of
    video_frame_piece_table."""
    return audio_overlap_piece_table(df, hop=AFP_FRAME,
                                     max_hamming=max_hamming,
                                     payload_col=payload_col, id_col=id_col)


def audio_stream_near_dup(df: DataFrame, max_hamming: int = 2,
                          payload_col: str = "payload",
                          id_col: str = "media_id") -> DataFrame:
    """Whole-stream audio near-duplicate pairs, OFFSET-TOLERANT: clips
    sharing an aligned run of window fingerprints match even when one
    clip's head is trimmed — window hashes join on (piece, piece-bits)
    without the position key, the per-pair position delta is voted on,
    and the dominant offset must cover >= half the windows alignable
    at it (2*matched >= comparable).  The first-window fast path
    (audio_fingerprint) and any same-position matcher provably miss a
    dup whose first 0.26 s differ; this operator is the fix.

    Returns (id_a, id_b, offset, matched_windows, comparable_windows)
    with offset = windows trimmed from id_b's head relative to id_a
    (positive when the larger-id clip lost its head).

    Scale shape: see _offset_vote_match."""
    return audio_overlap_near_dup(df, hop=AFP_FRAME, max_hamming=max_hamming,
                                  payload_col=payload_col, id_col=id_col)


def cross_audio_stream_near_dup(new: DataFrame, existing: DataFrame,
                                max_hamming: int = 2,
                                payload_col: str = "payload",
                                id_col: str = "media_id",
                                existing_is_piece_table: bool = False,
                                ) -> DataFrame:
    """Directional (new-batch x landed-corpus) whole-stream audio
    near-dup — the incremental ingest path riding the same piece-table
    machinery as every other modality tier: tonight's clips are
    window-fingerprinted once and their pieces joined against the
    corpus's STORED window-piece table (audio_window_piece_table,
    persisted once in production; pass
    ``existing_is_piece_table=True`` for that shape) — the corpus is
    never re-decoded or self-joined, so re-ingest is |new|-bounded.

    Same offset-vote semantics as audio_stream_near_dup; returns
    (new_id, old_id, offset, matched_windows, comparable_windows) with
    offset = windows trimmed from the NEW clip's head relative to the
    landed one."""
    return cross_audio_overlap_near_dup(
        new, existing, hop=AFP_FRAME, max_hamming=max_hamming,
        payload_col=payload_col, id_col=id_col,
        existing_is_piece_table=existing_is_piece_table)


# ----------------------------------------------------------------------
# video: temporal-offset-tolerant matching (clips / trimmed re-uploads)
# ----------------------------------------------------------------------


def trim_video_head(df: DataFrame, n_frames: int,
                    payload_col: str = "payload") -> DataFrame:
    """Drop the first ``n_frames`` frames of each FSV1 container — the
    head-trim transform (intros cut, re-encode leaders dropped) that
    produces exactly the re-uploads video_near_dup's same-position
    contract misses and video_near_dup_offset catches.  Real container
    parse + repack through the same pack_frames/unpack_frame code as
    the decode tier; malformed containers degrade per row to a NULL
    payload.  A trim past the end leaves an empty (zero-frame)
    container — still well-formed, hashes to nothing downstream.
    ``meta.n_frames`` is patched to match when the column exists."""
    import struct

    nf_drop = int(n_frames)

    def _trim(col):
        import pandas as pd

        out = []
        for payload in col:
            b = bytes(payload) if payload is not None else None
            if (b is None or len(b) < 8 or b[:4] != _FSV_MAGIC):
                out.append(None)
                continue
            n = struct.unpack_from("<I", b, 4)[0]
            if 8 + 4 * n > len(b):
                out.append(None)
                continue
            frames = []
            ok = True
            for f in range(nf_drop, n):
                fr = unpack_frame(b, f)
                if fr is None:
                    ok = False
                    break
                frames.append(fr)
            out.append(pack_frames(frames) if ok else None)
        return pd.Series(out)

    import pandas as pd  # noqa: F401  (pandas_udf import-time check)

    trim_udf = F.pandas_udf(_trim, T.BinaryType())
    out = df.withColumn(payload_col, trim_udf(F.col(payload_col)))
    if "meta" in out.columns and payload_col == "payload":
        # guard on payload nullity like the slice transforms: a row
        # whose container degraded to NULL keeps n_frames = 0 instead
        # of a phantom count inconsistent with the NULL payload
        # (ADVICE r12)
        out = out.withColumn(
            "meta", F.col("meta").withField(
                "n_frames",
                F.when(F.col(payload_col).isNotNull(),
                       F.greatest(F.lit(0),
                                  F.col("meta.n_frames")
                                  - F.lit(nf_drop)))
                .otherwise(F.lit(0))))
    return out


def video_near_dup_offset(df: DataFrame, every_n: int = 2,
                          max_hamming: int = 2,
                          payload_col: str = "payload",
                          id_col: str = "media_id") -> DataFrame:
    """Temporal-offset-tolerant video near-duplicate pairs: frame
    dHashes join on (piece, piece-bits) WITHOUT the frame-position
    key, the per-pair frame-index delta is voted on, and the dominant
    offset must cover >= half the frames alignable at it — so a
    re-upload with its intro trimmed (the first thing a real
    video-ingest pipeline meets) matches, where video_near_dup's
    same-position contract provably misses it.

    Returns (id_a, id_b, offset, matched_frames, comparable_frames)
    with offset in FRAME units (a multiple of ``every_n`` by
    construction) = frames trimmed from id_b's head relative to id_a.
    Note the sampling-stride blind spot, inherent to strided frame
    sampling: a trim that is not a multiple of ``every_n`` shifts the
    sampled grid off the original's and cannot match — sample every
    frame (every_n=1) where sub-stride trims matter.

    Scale shape: see _offset_vote_match."""
    pieces = _landed_pieces(
        partial(video_frame_piece_table, every_n=every_n,
                max_hamming=max_hamming, payload_col=payload_col,
                id_col=id_col), df, _VIDEO)
    out = _offset_vote_match(pieces, pieces, stride=every_n,
                             max_hamming=max_hamming, directional=False,
                             n_pieces=max_hamming + 1)
    return _named_pairs(out, _SELF, "frames")


def cross_video_near_dup_offset(new: DataFrame, existing: DataFrame,
                                every_n: int = 2, max_hamming: int = 2,
                                payload_col: str = "payload",
                                id_col: str = "media_id",
                                existing_is_piece_table: bool = False,
                                ) -> DataFrame:
    """Directional (new-batch x landed-corpus) offset-tolerant video
    near-dup: tonight's videos are frame-hashed once and their pieces
    joined against the corpus's STORED frame-piece table
    (video_frame_piece_table — the SAME persisted index half the
    same-position cross_video_near_dup uses, so one index serves both
    matchers); the corpus is never re-decoded or self-joined.

    Returns (new_id, old_id, offset, matched_frames,
    comparable_frames) with offset = frames trimmed from the NEW
    video's head relative to the landed one."""
    build = partial(video_frame_piece_table, every_n=every_n,
                    max_hamming=max_hamming, payload_col=payload_col,
                    id_col=id_col)
    out = _offset_vote_match(
        _landed_pieces(build, new, _VIDEO),
        _landed_pieces(build, existing, _VIDEO, existing_is_piece_table),
        stride=every_n, max_hamming=max_hamming, directional=True,
        n_pieces=max_hamming + 1)
    return _named_pairs(out, _CROSS, "frames")


# ----------------------------------------------------------------------
# multi-window audio stream fixture (closed-form, oracle-replayable)
# ----------------------------------------------------------------------


def _afp_stream_pattern(i: int, w: int) -> int:
    """Closed-form 60-bit pattern for window ``w`` of audio stream
    ``i`` ('s'-salted md5, so stream-fixture rows never mirror the
    image/audio/video fixtures'): every stream i = 5 (mod 6) is a
    HEAD-TRIMMED re-upload of stream i-1 — its window w carries
    stream i-1's window w+1 pattern, so its first 0.26 s differ and
    the same-position matchers provably miss the pair while the
    offset vote catches it at offset 1."""
    import hashlib

    if i % 6 == 5:
        i, w = i - 1, w + 1
    return int(hashlib.md5(f"s{i}_{w}".encode()).hexdigest()[:15], 16)


def audio_stream_window_count(i: int) -> int:
    """Window count of fixture stream ``i``: 2..6 windows, one fewer
    for the planted head-trimmed re-uploads (they lost window 0)."""
    if i % 6 == 5:
        return ((i - 1) % 5) + 1
    return (i % 5) + 2


def _synth_fp_window(p: int):
    """2048 int16 samples whose fingerprint equals pattern ``p`` bit
    for bit — the make_fake_audio_media tone chain (nine band-center
    integer-cycle tones per 256-sample frame, amplitudes chained
    x1.6 / /1.6 so the adjacent-band comparisons reproduce the bits;
    2.56x energy steps dwarf int16 quantization noise)."""
    import numpy as np

    t = np.arange(AFP_WIN)
    frames = []
    for w in range(AFP_N_WIN):
        amps = [1.0]
        for b in range(8):
            k = w * 8 + b
            bit = (p >> k) & 1 if k < 60 else 0
            amps.append(amps[-1] / 1.6 if bit else amps[-1] * 1.6)
        x = np.zeros(AFP_WIN)
        for b, a in enumerate(amps):
            cb = 5 + 4 * b
            x = x + a * np.sin(2 * np.pi * cb * t / AFP_WIN)
        x = x * (12000.0 / np.max(np.abs(x)))
        frames.append(np.round(x).astype(np.int16))
    return np.concatenate(frames)


def make_fake_audio_stream_media(spark, n: int) -> DataFrame:
    """Corpus-scale MULTI-WINDOW WAV fixture whose per-window
    fingerprints are CLOSED FORM (_afp_stream_pattern): stream i has
    audio_stream_window_count(i) windows of 2048 samples; every 6th
    stream is a planted head-trimmed re-upload of its predecessor
    (window w == predecessor's window w+1, bit for bit) — invisible
    to first-window / same-position matching, caught by the offset
    vote.  Executor-generated like make_fake_audio_media."""
    def gen(batches: Iterator) -> Iterator:
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            payloads = []
            for i in ids:
                nw = audio_stream_window_count(i)
                samples = np.concatenate(
                    [_synth_fp_window(_afp_stream_pattern(i, w))
                     for w in range(nw)])
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(AFP_SR)
                    wf.writeframes(samples.tobytes())
                payloads.append(buf.getvalue())
            metas = []
            for i in ids:
                nw = audio_stream_window_count(i)
                metas.append({"mime": "audio/wav", "width": None,
                              "height": None,
                              "n_frames": nw * AFP_FRAME,
                              "duration_s": nw * AFP_FRAME / AFP_SR})
            yield pd.DataFrame({"media_id": ids, "payload": payloads,
                                "meta": metas})

    parts = max(1, (int(n) + 4095) // 4096)
    return spark.range(0, int(n), 1, parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA)


def cached_audio_stream_media(spark, n: int,
                              cache_root: str | None = None) -> DataFrame:
    """Write-once parquet cache of the multi-window WAV fixture — the
    cached_dhash_media discipline (atomic pid-temp rename, _SUCCESS
    sentinel, deterministic contents)."""
    import os
    import shutil

    root = cache_root or os.environ.get(
        "SPARK_GRAFT_MEDIA_CACHE", "/tmp/fsharp_dataframe_spark_media")
    path = os.path.join(root, f"audio_stream_n{int(n)}_f{_cache_layout_files()}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        _cache_files(make_fake_audio_stream_media(spark, n)).write.mode(
            "overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race
    return spark.read.parquet(path).select(
        *[f.name for f in MEDIA_SCHEMA.fields])


# ----------------------------------------------------------------------
# audio snippet search (query-by-example containment)
# ----------------------------------------------------------------------


def slice_audio_windows(df: DataFrame, start_win: int, n_win: int,
                        payload_col: str = "payload") -> DataFrame:
    """Cut an ``n_win``-window snippet starting at window ``start_win``
    out of each WAV clip — the query-extraction transform for
    snippet search (and the audio twin of trim_video_head: real
    decode + re-encode through the stdlib WAV path, per-row NULL
    degradation for undecodable or too-short clips).
    ``meta.n_frames``/``duration_s`` are patched when present."""
    lo = int(start_win) * AFP_FRAME
    hi = (int(start_win) + int(n_win)) * AFP_FRAME

    def _slice(col):
        import io
        import wave

        import numpy as np
        import pandas as pd

        out = []
        for payload in col:
            # canonical-rate decode so window units mean the same
            # thing for every input rate; same-rate clips take the
            # identity path (bit-for-bit round-trip, pinned)
            s = _decode_wav_samples(payload, target_sr=AFP_SR)
            if s is None or len(s) < hi:
                out.append(None)
                continue
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(AFP_SR)
                wf.writeframes(
                    np.asarray(s[lo:hi], dtype="<i2").tobytes())
            out.append(buf.getvalue())
        return pd.Series(out)

    import pandas as pd  # noqa: F401

    slice_udf = F.pandas_udf(_slice, T.BinaryType())
    out = df.withColumn(payload_col, slice_udf(F.col(payload_col)))
    if "meta" in out.columns and payload_col == "payload":
        out = (out.withColumn(
            "meta", F.col("meta").withField(
                "n_frames",
                F.when(F.col(payload_col).isNotNull(),
                       F.lit(int(n_win) * AFP_FRAME)).otherwise(F.lit(0))))
            .withColumn(
            "meta", F.col("meta").withField(
                "duration_s",
                F.when(F.col(payload_col).isNotNull(),
                       F.lit(int(n_win) * AFP_FRAME / AFP_SR))
                .otherwise(F.lit(0.0)))))
    return out


def audio_snippet_search(snippets: DataFrame, corpus: DataFrame,
                         max_hamming: int = 2,
                         payload_col: str = "payload",
                         id_col: str = "media_id",
                         corpus_is_piece_table: bool = False,
                         ) -> DataFrame:
    """Query-by-example audio search: find every corpus clip that
    CONTAINS a query snippet — all of the snippet's window
    fingerprints match at one dominant offset (the containment rule,
    stricter than near-dup's half-coverage vote).  The "does this
    jingle / ad / sample occur anywhere in the corpus" primitive.

    Directional by construction (snippets x corpus, never corpus x
    corpus); pass ``corpus_is_piece_table=True`` to search a PERSISTED
    audio_window_piece_table — the same stored index half the
    near-dup ingest paths join, so one index serves dedup and search.

    Returns (snippet_id, clip_id, offset, n_windows) with offset =
    the window position in the clip where the snippet starts.

    Scale shape: see _offset_vote_match; a million-snippet query set
    is |snippets|-bounded against any corpus size."""
    return audio_overlap_snippet_search(
        snippets, corpus, hop=AFP_FRAME, max_hamming=max_hamming,
        payload_col=payload_col, id_col=id_col,
        corpus_is_piece_table=corpus_is_piece_table)


def slice_video_frames(df: DataFrame, start_frame: int, n_frames: int,
                       payload_col: str = "payload") -> DataFrame:
    """Cut an ``n_frames`` excerpt starting at ``start_frame`` out of
    each FSV1 container — the query-extraction transform for video
    snippet search (trim_video_head's two-sided sibling; same real
    parse + repack, per-row NULL degradation for malformed containers
    or clips too short for the slice).  ``meta.n_frames`` is patched
    when present."""
    import struct

    lo, k = int(start_frame), int(n_frames)

    def _slice(col):
        import pandas as pd

        out = []
        for payload in col:
            b = bytes(payload) if payload is not None else None
            if b is None or len(b) < 8 or b[:4] != _FSV_MAGIC:
                out.append(None)
                continue
            n = struct.unpack_from("<I", b, 4)[0]
            if 8 + 4 * n > len(b) or n < lo + k:
                out.append(None)
                continue
            frames = []
            ok = True
            for f in range(lo, lo + k):
                fr = unpack_frame(b, f)
                if fr is None:
                    ok = False
                    break
                frames.append(fr)
            out.append(pack_frames(frames) if ok else None)
        return pd.Series(out)

    import pandas as pd  # noqa: F401

    slice_udf = F.pandas_udf(_slice, T.BinaryType())
    out = df.withColumn(payload_col, slice_udf(F.col(payload_col)))
    if "meta" in out.columns and payload_col == "payload":
        out = out.withColumn(
            "meta", F.col("meta").withField(
                "n_frames",
                F.when(F.col(payload_col).isNotNull(), F.lit(k))
                .otherwise(F.lit(0))))
    return out


def video_snippet_search(snippets: DataFrame, corpus: DataFrame,
                         every_n: int = 2, max_hamming: int = 2,
                         payload_col: str = "payload",
                         id_col: str = "media_id",
                         corpus_is_piece_table: bool = False,
                         ) -> DataFrame:
    """Query-by-example video search: find every corpus video that
    CONTAINS a query excerpt — all of the snippet's sampled-frame
    dHashes match at one dominant offset (matched == n_snippet_frames,
    the audio_snippet_search containment rule on the video tier).

    Alignment contract, inherent to strided sampling: the snippet's
    cut position must share the sampling parity with the source
    (``start_frame`` a multiple of ``every_n``) or its sampled grid
    falls between the corpus's sampled frames — sample every frame
    (every_n=1) to search arbitrary cut positions.

    Directional; pass ``corpus_is_piece_table=True`` to search a
    persisted video_frame_piece_table — the SAME stored index half
    the near-dup ingest paths join.  Returns (snippet_id, clip_id,
    offset, n_frames) with offset = the frame position in the clip
    where the excerpt starts."""
    build = partial(video_frame_piece_table, every_n=every_n,
                    max_hamming=max_hamming, payload_col=payload_col,
                    id_col=id_col)
    out = _offset_vote_match(
        _landed_pieces(build, snippets, _VIDEO),
        _landed_pieces(build, corpus, _VIDEO, corpus_is_piece_table),
        stride=every_n, max_hamming=max_hamming, directional=True,
        containment=True, n_pieces=max_hamming + 1)
    return _named_pairs(out, _SEARCH, "frames", containment=True)


# ----------------------------------------------------------------------
# shared-segment reporting (compilations / splices — multi-offset)
# ----------------------------------------------------------------------


def concat_video_payloads(df: DataFrame, other_col: str,
                          payload_col: str = "payload") -> DataFrame:
    """Concatenate two FSV1 containers row-wise (``payload_col`` then
    ``other_col``) — the splice/compilation transform: real parse +
    repack through the container code, NULL degradation when either
    side is malformed.  Metadata is NOT patched (two containers'
    attributes don't merge meaningfully) — re-derive it with
    media_metadata, the catalog pass."""
    import struct

    def _frames(b):
        if b is None or len(b) < 8 or b[:4] != _FSV_MAGIC:
            return None
        n = struct.unpack_from("<I", b, 4)[0]
        if 8 + 4 * n > len(b):
            return None
        out = []
        for f in range(n):
            fr = unpack_frame(b, f)
            if fr is None:
                return None
            out.append(fr)
        return out

    def _concat(a_col, b_col):
        import pandas as pd

        out = []
        for a, b in zip(a_col, b_col):
            fa = _frames(bytes(a) if a is not None else None)
            fb = _frames(bytes(b) if b is not None else None)
            out.append(pack_frames(fa + fb)
                       if fa is not None and fb is not None else None)
        return pd.Series(out)

    import pandas as pd  # noqa: F401

    concat_udf = F.pandas_udf(_concat, T.BinaryType())
    return df.withColumn(payload_col,
                         concat_udf(F.col(payload_col), F.col(other_col)))


def video_shared_segments(df: DataFrame, every_n: int = 2,
                          max_hamming: int = 2, min_run: int = 2,
                          payload_col: str = "payload",
                          id_col: str = "media_id") -> DataFrame:
    """SEGMENT report for multi-source media — compilations, supercuts,
    videos splicing material from several originals: every (pair,
    offset) whose matched sampled frames reach ``min_run`` is reported,
    so a video carrying segments of TWO sources shows up twice at two
    different offsets.  This is the case the single-dominant-offset
    matchers (video_near_dup_offset) structurally cannot express, and
    the coverage rule would reject (each borrowed segment covers only
    part of the compilation).

    Returns (id_a, id_b, offset, matched_frames) with id_a < id_b and
    offset = idx_a - idx_b in frame units.  ``min_run`` suppresses
    single-frame coincidences; raise it to demand longer shared runs.
    Same stride-parity contract as the other offset operators.

    Scale shape: the vote front of _offset_vote_match, with no
    dominant-offset pick at all (every qualifying offset IS output)."""
    pieces = _landed_pieces(
        partial(video_frame_piece_table, every_n=every_n,
                max_hamming=max_hamming, payload_col=payload_col,
                id_col=id_col), df, _VIDEO)
    votes = _offset_votes(pieces, pieces, max_hamming=max_hamming,
                          directional=False)
    return (votes.filter(F.col("matched") >= int(min_run))
            .select(F.col("id_l").alias("id_a"),
                    F.col("id_r").alias("id_b"), "offset",
                    F.col("matched").alias("matched_frames")))


# ----------------------------------------------------------------------
# audio: head-trim / resample transforms (real decode + re-encode)
# ----------------------------------------------------------------------


def trim_audio_head(df: DataFrame, n_samples: int,
                    payload_col: str = "payload") -> DataFrame:
    """Drop the first ``n_samples`` samples of each WAV clip — the
    audio head-trim transform (ad leaders cut, re-encode padding
    dropped) that produces exactly the re-uploads the non-overlapping
    window framing misses when the trim is not a 2048-sample multiple,
    and audio_overlap_near_dup catches at hop resolution.  The trim
    is measured in CANONICAL-rate samples: decode normalizes to
    AFP_SR first (identity for same-rate clips), so ``n_samples``
    means the same duration whatever rate the clip arrived at.  Real
    stdlib WAV decode + re-encode (the trim_video_head discipline); clips
    shorter than the trim or undecodable degrade per row to a NULL
    payload.  ``meta.n_frames``/``duration_s`` are patched from the
    TRUE output sample count the re-encode pass emits (the
    resample_audio discipline — the output is canonical-rate, so
    subtracting the trim from the NATIVE-rate header count would be
    silently wrong for any non-AFP_SR input; ADVICE r13), guarded on
    payload nullity.  Quantization matches resample_audio's re-encode
    (np.round, not truncation), so a rate-normalized trim
    fingerprints on the same int16 grid as a resampled re-encode."""
    ns_drop = int(n_samples)

    def _trim(col):
        import io
        import wave

        import numpy as np
        import pandas as pd

        payloads, counts = [], []
        for payload in col:
            s = _decode_wav_samples(payload, target_sr=AFP_SR)
            if s is None or len(s) <= ns_drop:
                payloads.append(None)
                counts.append(0)
                continue
            r = np.clip(np.round(s[ns_drop:]), -32768, 32767)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(AFP_SR)
                wf.writeframes(np.asarray(r, dtype="<i2").tobytes())
            payloads.append(buf.getvalue())
            counts.append(len(r))
        return pd.DataFrame({"payload": payloads, "n_out": counts})

    import pandas as pd  # noqa: F401  (pandas_udf import-time check)

    trim_udf = F.pandas_udf(
        _trim, T.StructType([T.StructField("payload", T.BinaryType()),
                             T.StructField("n_out", T.IntegerType())]))
    out = df.withColumn("_tr", trim_udf(F.col(payload_col)))
    out = out.withColumn(payload_col, F.col("_tr.payload"))
    if "meta" in out.columns and payload_col == "payload":
        nf = F.col("_tr.n_out")
        out = out.withColumn(
            "meta",
            F.col("meta")
            .withField("n_frames",
                       F.when(F.col(payload_col).isNotNull(), nf)
                       .otherwise(F.lit(0)))
            .withField("duration_s",
                       F.when(F.col(payload_col).isNotNull(),
                              nf.cast("double") / F.lit(float(AFP_SR)))
                       .otherwise(F.lit(0.0))))
    return out.drop("_tr")


def resample_audio(df: DataFrame, target_sr: int,
                   payload_col: str = "payload") -> DataFrame:
    """Re-encode each WAV clip at ``target_sr`` (linear-interpolation
    resample — the re-encode transform a real ingest meets when
    sources arrive at 44.1k/48k/16k).  The fingerprint tiers decode at
    the canonical AFP_SR, so a resampled re-upload fingerprints
    IDENTICALLY to its source (pinned in test_round13_ops — the rate
    normalization is exact for linearly-resampled content, ~30 bits
    off without it).  Undecodable rows degrade to NULL payloads;
    ``meta.n_frames``/``duration_s`` are patched from the TRUE output
    sample count the re-encode pass emits (not a rate-ratio guess —
    a non-canonical-rate source's count comes from its own header),
    guarded on payload nullity."""
    sr = int(target_sr)

    def _rs(col):
        import io
        import wave

        import numpy as np
        import pandas as pd

        payloads, counts = [], []
        for payload in col:
            # read the native rate from the header — resampling is
            # relative to whatever rate the clip actually carries
            try:
                with wave.open(io.BytesIO(bytes(payload)), "rb") as wf:
                    native = wf.getframerate()
            except Exception:
                native = None
            s = _decode_wav_samples(payload)  # native rate
            if s is None or len(s) == 0 or native is None:
                payloads.append(None)
                counts.append(0)
                continue
            r = np.round(_resample_linear(s, native, sr))
            r = np.clip(r, -32768, 32767)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(sr)
                wf.writeframes(np.asarray(r, dtype="<i2").tobytes())
            payloads.append(buf.getvalue())
            counts.append(len(r))
        return pd.DataFrame({"payload": payloads, "n_out": counts})

    import pandas as pd  # noqa: F401

    rs_udf = F.pandas_udf(
        _rs, T.StructType([T.StructField("payload", T.BinaryType()),
                           T.StructField("n_out", T.IntegerType())]))
    out = df.withColumn("_rs", rs_udf(F.col(payload_col)))
    out = out.withColumn(payload_col, F.col("_rs.payload"))
    if "meta" in out.columns and payload_col == "payload":
        nf = F.col("_rs.n_out")
        out = out.withColumn(
            "meta",
            F.col("meta")
            .withField("n_frames",
                       F.when(F.col(payload_col).isNotNull(), nf)
                       .otherwise(F.lit(0)))
            .withField("duration_s",
                       F.when(F.col(payload_col).isNotNull(),
                              nf.cast("double") / F.lit(float(sr)))
                       .otherwise(F.lit(0.0))))
    return out.drop("_rs")


# ----------------------------------------------------------------------
# audio: OVERLAPPED-hop framing (sub-window trim resolution)
# ----------------------------------------------------------------------


def audio_overlap_fingerprints(df: DataFrame, hop: int = AFP_HOP,
                               payload_col: str = "payload",
                               id_col: str = "media_id") -> DataFrame:
    """Whole-stream audio fingerprints at OVERLAPPED framing: one
    64-bit spectral-band fingerprint per 2048-sample window taken
    every ``hop`` samples (default window/4 = 512) — the actual
    Haitsma-Kalker sub-fingerprint stream.  The non-overlapping
    framing (audio_window_fingerprints) is blind to any head trim
    that is not a 2048-sample multiple: the trimmed stream's window
    grid shifts off the original's and every fingerprint scrambles
    (~30 bits, pinned).  Overlapped framing restores alignment for
    any trim that is a HOP multiple — offset resolution improves from
    2048 to ``hop`` samples at a 2048/hop fan-out in window count
    (4x at the default), which is the explicit recall/cost dial.
    Measured dial point (r14, pinned + oracle-backed as
    audio_hop_fine_dedup): hop=256 — one analysis frame — doubles the
    default index and catches 768-sample (3-frame) trims the default
    provably misses.  The dial's floor is the 256-sample ANALYSIS
    FRAME grid, not the hop: a trim that is not a frame multiple
    shifts every frame's FFT window and scrambles all bits at ANY hop
    (pinned with a 100-sample trim) — catching sub-frame trims takes
    Haitsma-Kalker bit-error-rate matching over dense hop=64
    sub-fingerprints (a different verify stage), not a smaller hop
    here.

    Returns (id, win_idx int, afp long, decode_ok) with win_idx in
    hop units; decodes at the canonical AFP_SR (rate-normalized).
    100 TB shape: identical to audio_window_fingerprints — payload
    bytes stream through ONE mapInPandas, a single vectorized rFFT
    per clip covers all windows, only 8-byte longs leave the pass."""
    hop = _check_hop(hop)
    out_schema = T.StructType([
        T.StructField(id_col, T.LongType(), False),
        T.StructField("win_idx", T.IntegerType(), False),
        T.StructField("afp", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ])

    def _fp(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, fps, oks = [], [], [], []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                wfps = _afp_windows_hop(
                    _decode_wav_samples(payload, target_sr=AFP_SR), hop)
                if not wfps:
                    ids.append(int(mid))
                    idxs.append(0)
                    fps.append(None)
                    oks.append(False)
                    continue
                for wi, fp in enumerate(wfps):
                    ids.append(int(mid))
                    idxs.append(wi)
                    fps.append(fp)
                    oks.append(True)
            yield pd.DataFrame({id_col: ids, "win_idx": idxs,
                                "afp": _nullable_i64(fps),
                                "decode_ok": oks})

    from fsharp_dataframe_spark.functions.util import spread

    return spread(df, id_col, payload_col).mapInPandas(
        _fp, schema=out_schema)


def audio_overlap_piece_table(df: DataFrame, hop: int = AFP_HOP,
                              max_hamming: int = 2,
                              payload_col: str = "payload",
                              id_col: str = "media_id") -> DataFrame:
    """Persistable index half for the overlapped framing: one
    (aid, win_idx, sh, q, qv) row per overlapped window per pigeonhole
    piece — written once for the landed corpus (partition by ``q``),
    joined by every new batch.  Same schema as
    audio_window_piece_table, 2048/hop times the rows."""
    from fsharp_dataframe_spark.functions.dedup import _piece_bands

    fh = (audio_overlap_fingerprints(df, hop=hop,
                                     payload_col=payload_col,
                                     id_col=id_col)
          .filter(F.col("decode_ok"))
          .select(F.col(id_col).alias("aid"), "win_idx",
                  F.col("afp").alias("sh")))
    return _piece_bands(fh, ["aid", "win_idx"], max_hamming)


def audio_overlap_near_dup(df: DataFrame, hop: int = AFP_HOP,
                           max_hamming: int = 2,
                           payload_col: str = "payload",
                           id_col: str = "media_id") -> DataFrame:
    """Whole-stream audio near-duplicate pairs at HOP-resolution
    offset tolerance: clips sharing an aligned run of overlapped
    window fingerprints match when the head trim is any hop multiple
    — where audio_stream_near_dup's non-overlapping framing provably
    misses every trim that is not a full 2048-sample window (pinned
    with a planted 1024-sample trim in test_round13_ops).  Same vote
    and coverage semantics as audio_stream_near_dup; offsets are in
    hop units (offset * hop = samples trimmed).  Shrinking ``hop``
    buys trim resolution down to the 256-sample analysis-frame grid
    and no further (see audio_overlap_fingerprints — the hop=256
    point is measured and pinned; sub-frame trims are the exact
    family's documented floor).

    Returns (id_a, id_b, offset, matched_windows, comparable_windows).
    Scale shape: see _offset_vote_match; the overlapped fan-out
    multiplies index rows by 2048/hop, not candidate fan-out per row
    (hash-key occupancy still rules)."""
    pieces = _landed_pieces(
        partial(audio_overlap_piece_table, hop=hop,
                max_hamming=max_hamming, payload_col=payload_col,
                id_col=id_col), df, _AUDIO)
    out = _offset_vote_match(pieces, pieces, stride=1,
                             max_hamming=max_hamming, directional=False,
                             n_pieces=max_hamming + 1)
    return _named_pairs(out, _SELF, "windows")


def cross_audio_overlap_near_dup(new: DataFrame, existing: DataFrame,
                                 hop: int = AFP_HOP,
                                 max_hamming: int = 2,
                                 payload_col: str = "payload",
                                 id_col: str = "media_id",
                                 existing_is_piece_table: bool = False,
                                 ) -> DataFrame:
    """Directional (new-batch x landed-corpus) overlapped-framing
    audio near-dup — the incremental ingest path: tonight's clips are
    overlap-fingerprinted once and joined against the corpus's STORED
    overlap piece table (audio_overlap_piece_table, persisted once;
    pass ``existing_is_piece_table=True`` for that shape); the corpus
    is never re-decoded or self-joined, so re-ingest is |new|-bounded.
    Returns (new_id, old_id, offset, matched_windows,
    comparable_windows) with offset in hop units = audio trimmed from
    the NEW clip's head."""
    build = partial(audio_overlap_piece_table, hop=hop,
                    max_hamming=max_hamming, payload_col=payload_col,
                    id_col=id_col)
    out = _offset_vote_match(
        _landed_pieces(build, new, _AUDIO),
        _landed_pieces(build, existing, _AUDIO, existing_is_piece_table),
        stride=1, max_hamming=max_hamming, directional=True,
        n_pieces=max_hamming + 1)
    return _named_pairs(out, _CROSS, "windows")


# ----------------------------------------------------------------------
# video: RESIDUE-SET sampling (dual parity generalized — any-stride
# trim tolerance; every_n=2, residues=(0,) is the r13 dual-parity
# special case, bit-identical results pinned)
# ----------------------------------------------------------------------


def _check_residues(every_n: int, residues) -> tuple[int, ...]:
    s = int(every_n)
    if s < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")
    rs = tuple(sorted({int(r) for r in residues}))
    if not rs:
        raise ValueError("residues must be non-empty")
    if any(r < 0 or r >= s for r in rs):
        raise ValueError(
            f"residues must lie in 0..{s - 1} (mod every_n={s}), "
            f"got {tuple(residues)}")
    return rs


def video_near_dup_dual(df: DataFrame, every_n: int = 2,
                        max_hamming: int = 2,
                        payload_col: str = "payload",
                        id_col: str = "media_id",
                        residues=(0,)) -> DataFrame:
    """Temporal-offset-tolerant video near-dup with RESIDUE-SET
    sampling (dual parity generalized, VERDICT r13 ask #3): the piece
    table hashes EVERY frame while votes are cast from the frames
    ``j ≡ r (mod every_n)`` for ``r`` in ``residues`` (default the
    ``(0,)`` grid) — so a re-upload trimmed by ANY frame count is
    caught at ANY stride, where video_near_dup_offset's same-stride
    grids shift off each other and provably miss every trim that is
    not a stride multiple (pinned: odd trims at every_n=2 in
    test_round13_ops, 1- and 2-frame trims at every_n=3 in
    test_round14_ops).  At the every_n=2 default this IS the r13
    dual-parity matcher — for even trims and same-position re-uploads
    the reported (offset, matched, comparable) are IDENTICAL to
    video_near_dup_offset's (pinned): the dense side only adds
    off-grid rows that an on-grid dominant alignment never touches.

    Returns (id_a, id_b, offset, matched_frames, comparable_frames)
    with offset in frame units, any integer; the smaller id is the
    voting (grid) side.  ``residues`` is the vote-density dial: more
    residues = more votes per pair (tighter coverage statistics) at
    proportionally more candidate rows; the dense right side already
    guarantees every offset aligns with a single residue.

    Scale shape: see _offset_vote_match; the piece index is
    ``every_n/1`` denser than the sampled matcher (the explicit
    recall/cost dial)."""
    s = int(every_n)
    rs = _check_residues(s, residues)
    dense = _landed_pieces(
        partial(video_frame_piece_table, every_n=1,
                max_hamming=max_hamming, payload_col=payload_col,
                id_col=id_col), df, _VIDEO)
    grid = dense.filter((F.col("idx") % s).isin(list(rs)))
    out = _offset_vote_match(grid, dense, stride=s,
                             max_hamming=max_hamming, directional=False,
                             residues=rs, n_pieces=max_hamming + 1)
    return _named_pairs(out, _SELF, "frames")


def cross_video_near_dup_dual(new: DataFrame, existing: DataFrame,
                              every_n: int = 2, max_hamming: int = 2,
                              payload_col: str = "payload",
                              id_col: str = "media_id",
                              existing_is_piece_table: bool = False,
                              residues=(0,)) -> DataFrame:
    """Directional (new-batch x landed-corpus) residue-set video
    near-dup: tonight's videos are hashed at the CHEAP residue grid
    (only frames ``j ≡ r (mod every_n)`` are decoded —
    |residues|/every_n of the corpus side's decode volume) and joined
    against the corpus's DENSE stored piece table
    (video_frame_piece_table at every_n=1 — a superset of every
    residue grid, so ONE persisted table serves the same-position,
    offset, dual and residue matchers).  A new upload trimmed by ANY
    frame count lands on the corpus's dense rows and is caught; the
    corpus is never re-decoded or self-joined.  every_n=2,
    residues=(0,) is the r13 dual-parity cross matcher, bit-identical.

    Returns (new_id, old_id, offset, matched_frames,
    comparable_frames), offset = frames trimmed from the NEW video's
    head (any integer)."""
    s = int(every_n)
    rs = _check_residues(s, residues)
    build = partial(video_frame_piece_table, max_hamming=max_hamming,
                    payload_col=payload_col, id_col=id_col)
    out = _offset_vote_match(
        _landed_pieces(partial(build, every_n=s, residues=rs), new,
                       _VIDEO),
        _landed_pieces(partial(build, every_n=1), existing, _VIDEO,
                       existing_is_piece_table),
        stride=s, max_hamming=max_hamming, directional=True,
        residues=rs, n_pieces=max_hamming + 1)
    return _named_pairs(out, _CROSS, "frames")


# ----------------------------------------------------------------------
# audio: sample-resolution slicing + overlap-framed snippet search
# ----------------------------------------------------------------------


def slice_audio_samples(df: DataFrame, start_sample: int,
                        n_samples: int,
                        payload_col: str = "payload") -> DataFrame:
    """Cut an ``n_samples`` excerpt starting at ``start_sample`` out
    of each WAV clip — SAMPLE-resolution query extraction (the window
    slicer slice_audio_windows quantizes to 2048-sample units; a real
    query clip starts wherever the user cut it).  Real canonical-rate
    decode + re-encode; clips too short for the slice degrade to a
    NULL payload; meta patched under the nullity guard.  Quantization
    matches resample_audio's re-encode (np.round, not truncation), so
    a slice of a rate-normalized clip lands on the same int16 grid as
    a resampled re-encode of it (ADVICE r13)."""
    lo, n = int(start_sample), int(n_samples)
    hi = lo + n

    def _slice(col):
        import io
        import wave

        import numpy as np
        import pandas as pd

        out = []
        for payload in col:
            s = _decode_wav_samples(payload, target_sr=AFP_SR)
            if s is None or len(s) < hi:
                out.append(None)
                continue
            r = np.clip(np.round(s[lo:hi]), -32768, 32767)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as wf:
                wf.setnchannels(1)
                wf.setsampwidth(2)
                wf.setframerate(AFP_SR)
                wf.writeframes(np.asarray(r, dtype="<i2").tobytes())
            out.append(buf.getvalue())
        return pd.Series(out)

    import pandas as pd  # noqa: F401

    sl_udf = F.pandas_udf(_slice, T.BinaryType())
    out = df.withColumn(payload_col, sl_udf(F.col(payload_col)))
    if "meta" in out.columns and payload_col == "payload":
        out = out.withColumn(
            "meta",
            F.col("meta")
            .withField("n_frames",
                       F.when(F.col(payload_col).isNotNull(), F.lit(n))
                       .otherwise(F.lit(0)))
            .withField("duration_s",
                       F.when(F.col(payload_col).isNotNull(),
                              F.lit(n / AFP_SR))
                       .otherwise(F.lit(0.0))))
    return out


def _pair_payloads(pairs: DataFrame, media: DataFrame,
                   payload_col: str, id_col: str,
                   a_col: str, b_col: str) -> DataFrame:
    """Join a (small by contract) candidate-pair relation with both
    sides' payloads — the shared front of the pairwise verify stages
    (audio_ber_verify / image_shift_verify).  Memory-hygiene
    shape: the corpus is scanned in place and FILTERED first by a
    broadcast semi-join on the pair ids (no corpus-wide payload
    shuffle), and ONLY the id-width relations broadcast — the
    payload-carrying join rides sort-merge hints.  Both alternatives
    put payload bytes in JVM memory and each was observed killing a
    default-heap session mid-sweep at sf0.1: Spark's post-semi-join
    size estimates look small enough to BROADCAST hundreds of MB of
    payloads into the driver, and a shuffle_hash hint builds the same
    bytes into in-memory per-partition hash maps; sort-merge SPILLS
    under pressure instead.  The pair relation is DEDUPED on
    (a_col, b_col) — coarse tiers can emit the same candidate twice
    and each duplicate would repeat the FFT verify — and joined LEFT
    from the pairs so a candidate whose id is missing from the media
    relation (a takedown landed between tiers, a partial corpus) is
    still REPORTED by the verify stages with a NULL payload (→
    n_windows/overlap_px = 0, NULL metric), consistent with the
    undecodable-row contract (ADVICE r14).  Returns
    (a_col, b_col, _pa, _pb)."""
    pr = pairs.select(a_col, b_col).dropDuplicates([a_col, b_col])
    ids = (pr.select(F.col(a_col).alias(id_col))
           .unionByName(pr.select(F.col(b_col).alias(id_col)))
           .distinct())
    sub = media.join(F.broadcast(ids), id_col, "left_semi").select(
        F.col(id_col), F.col(payload_col))
    # r16 (guide §8: move heavy bytes ONCE): the former two sort-merge
    # joins pushed payload bytes through THREE exchange+sort chains
    # (each side's payload relation, plus the intermediate already
    # carrying _pa).  Instead the id-width pair relation is BROADCAST
    # onto the filtered corpus scan twice (payloads never move for the
    # attach), each match is tagged with the side it serves, and one
    # union + groupBy(pair) gathers both payloads — payload bytes
    # cross exactly ONE exchange, the floor for a pairwise gather.
    # max() keeps the left-join contract bit-for-bit: a pair whose id
    # is missing from the media relation gets a NULL side (max over
    # no rows / NULL literals), and the final left join from the pair
    # relation restores pairs missing BOTH sides.
    ptype = media.schema[payload_col].dataType
    nul = F.lit(None).cast(ptype)
    pa = (sub.join(F.broadcast(pr), F.col(id_col) == F.col(a_col))
          .select(a_col, b_col, F.col(payload_col).alias("_pa"),
                  nul.alias("_pb")))
    pb = (sub.join(F.broadcast(pr), F.col(id_col) == F.col(b_col))
          .select(a_col, b_col, nul.alias("_pa"),
                  F.col(payload_col).alias("_pb")))
    gathered = (pa.unionByName(pb)
                .groupBy(a_col, b_col)
                .agg(F.max("_pa").alias("_pa"),
                     F.max("_pb").alias("_pb")))
    return pr.join(gathered, [a_col, b_col], "left")


def audio_ber_verify(pairs: DataFrame, media: DataFrame,
                     max_lag: int = AFP_FRAME, hop: int = AFP_HOP,
                     payload_col: str = "payload",
                     id_col: str = "media_id",
                     a_col: str = "id_a",
                     b_col: str = "id_b") -> DataFrame:
    """Pairwise BIT-ERROR-RATE verify stage (Haitsma & Kalker 2002)
    — the stage that closes the exact-matching family's pinned floor:
    banded piece joins cannot see a trim that is not a multiple of
    the 256-sample analysis frame (every fingerprint scrambles at any
    hop, pinned in test_round14_ops), but given a CANDIDATE pair from
    any coarse tier (an index near-miss, metadata blocking, a
    takedown report), this stage aligns the two streams at SAMPLE
    resolution and measures fingerprint agreement over the aligned
    overlap:

      1. decode both clips at the canonical rate (rate-normalized,
         like every fingerprint tier);
      2. find the alignment lag by FFT cross-correlation over
         ``±max_lag`` samples (one O(n log n) transform per clip —
         no lag loop);
      3. recompute overlapped-hop fingerprints on the ALIGNED
         overlap and report ``ber`` = mean fraction of differing
         bits per window.

    An exact head trim of ANY size (100 samples, a codec's 26 priming
    samples) verifies at ber = 0.0 with ``lag`` = the trim; unrelated
    clips read ber ≈ 0.5 (random bits) — Haitsma-Kalker's publication
    threshold is 0.35.  Returns (id_a, id_b, lag, n_windows, ber);
    ``lag`` > 0 means id_b's head is trimmed relative to id_a
    (id_b ≈ id_a[lag:]).  Undecodable clips, or an aligned overlap
    shorter than one 2048-sample window, report n_windows = 0 with
    NULL ber (lag still reported when both clips decode).

    100 TB shape: THE VERIFY-STAGE CONTRACT — cost is |pairs|-bounded
    and payload bytes cross the pair join once (candidates are few by
    construction: coarse tiers emit them, the corpus is NEVER
    self-joined here).  The corpus scan is filtered FIRST by a
    broadcast semi-join on the pair ids, so only the candidate
    clips' payloads ever shuffle — a naive pairs-x-media join would
    hash-repartition the whole corpus's bytes; one Arrow mapInPandas
    pass, one FFT pair per candidate, no state."""
    lagmax = int(max_lag)
    hop = int(hop)
    out_schema = T.StructType([
        T.StructField(a_col, T.LongType(), False),
        T.StructField(b_col, T.LongType(), False),
        T.StructField("lag", T.LongType(), True),
        T.StructField("n_windows", T.IntegerType(), False),
        T.StructField("ber", T.DoubleType(), True),
    ])

    joined = _pair_payloads(pairs, media, payload_col, id_col,
                            a_col, b_col)

    def _verify(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        mask64 = (1 << 64) - 1
        for pdf in batches:
            ia, ib, lags, nws, bers = [], [], [], [], []
            for ra, rb, qa, qb in zip(pdf[a_col], pdf[b_col],
                                      pdf["_pa"], pdf["_pb"]):
                ia.append(int(ra))
                ib.append(int(rb))
                sa = _decode_wav_samples(qa, target_sr=AFP_SR)
                sb = _decode_wav_samples(qb, target_sr=AFP_SR)
                if sa is None or sb is None or not len(sa) \
                        or not len(sb):
                    lags.append(None)
                    nws.append(0)
                    bers.append(None)
                    continue
                n = len(sa) + len(sb) - 1
                nfft = 1 << (n - 1).bit_length()
                A = np.fft.rfft(sa, nfft)
                B = np.fft.rfft(sb, nfft)
                c = np.fft.irfft(A * np.conj(B), nfft)
                # c[k] = sum_j sa[j+k]*sb[j]; negative lags wrap to
                # the top of the circular buffer
                lo = min(lagmax, len(sb) - 1)
                hi = min(lagmax, len(sa) - 1)
                cand = np.concatenate([c[:hi + 1], c[nfft - lo:]])
                klab = np.concatenate([np.arange(hi + 1),
                                       np.arange(-lo, 0)])
                lag = int(klab[int(np.argmax(cand))])
                a2 = sa[lag:] if lag >= 0 else sa
                b2 = sb if lag >= 0 else sb[-lag:]
                L = min(len(a2), len(b2))
                lags.append(lag)
                if L < AFP_FRAME:
                    nws.append(0)
                    bers.append(None)
                    continue
                fa = _afp_windows_hop(a2[:L], hop)
                fb = _afp_windows_hop(b2[:L], hop)
                nwin = min(len(fa), len(fb))
                bits = sum(
                    bin((fa[w] ^ fb[w]) & mask64).count("1")
                    for w in range(nwin))
                nws.append(nwin)
                bers.append(bits / (64.0 * nwin))
            yield pd.DataFrame({a_col: ia, b_col: ib,
                                "lag": _nullable_i64(lags),
                                "n_windows": nws, "ber": bers})

    import pandas as pd  # noqa: F401

    # r16 (guide §4.2): in-flight Python memory is bounded per BATCH,
    # not per partition — Spark 4 caps every Arrow batch at
    # spark.sql.execution.arrow.maxBytesPerBatch (64 MB default), so
    # the former 8x-finer-than-core repartition (256 tasks for ~1.7k
    # pairs at sf0.1) bought no memory safety the batch bound doesn't
    # already give, while each tiny task paid a Python-worker
    # round-trip (profiled: verify stages ran 1400-1900 tasks).  One
    # parallelism-sized exchange of the |pairs|-bounded relation is
    # the right shape at every scale.
    pn = joined.sparkSession.sparkContext.defaultParallelism
    return (joined.select(a_col, b_col, "_pa", "_pb")
            .repartition(pn).mapInPandas(_verify, schema=out_schema))


# ----------------------------------------------------------------------
# image: crop transform + shift-verify (the image analog of the audio
# trim/BER pair: crops are the image tier's re-upload artifact, and
# whole-image dHash is structurally blind to them)
# ----------------------------------------------------------------------


def crop_media(df: DataFrame, top: int = 0, left: int = 0,
               height: int | None = None, width: int | None = None,
               payload_col: str = "payload") -> DataFrame:
    """Crop each image payload to the window starting at ``(top,
    left)`` with the given ``height``/``width`` (default: to the
    bottom/right edge) — the image head-trim: watermark strips,
    letterbox cuts and thumbnail crops are exactly the re-uploads a
    whole-image perceptual hash misses (the dHash grid re-bins and
    every bit scrambles — pinned in test_round14_ops;
    image_shift_verify is the stage that catches them).  REAL decode
    + re-encode through the engine's grayscale analysis space (the
    stdlib PNG codec): pixel-exact for grayscale sources like every
    engine fixture; color sources land as their 601-2 luminance
    (documented, the same plane every image operator analyzes).
    Images too small for the window, or undecodable payloads, degrade
    per row to a NULL payload; ``meta.width``/``height`` are patched
    under the nullity guard."""
    t0, l0 = int(top), int(left)
    if t0 < 0 or l0 < 0:
        raise ValueError(f"top/left must be >= 0, got ({top}, {left})")
    hh = None if height is None else int(height)
    ww = None if width is None else int(width)

    def _crop(col):
        import numpy as np
        import pandas as pd

        from fsharp_dataframe_spark.functions.png import encode_png

        payloads, hs, ws = [], [], []
        for payload in col:
            g = _decode_gray_array(payload)
            if g is None:
                payloads.append(None)
                hs.append(0)
                ws.append(0)
                continue
            h, w = g.shape
            y1 = h if hh is None else t0 + hh
            x1 = w if ww is None else l0 + ww
            if y1 > h or x1 > w or y1 - t0 < 1 or x1 - l0 < 1:
                payloads.append(None)
                hs.append(0)
                ws.append(0)
                continue
            c = np.clip(np.round(g[t0:y1, l0:x1]), 0, 255).astype(
                np.uint8)
            payloads.append(encode_png(c.tobytes(), c.shape[1],
                                       c.shape[0], 1))
            hs.append(int(c.shape[0]))
            ws.append(int(c.shape[1]))
        return pd.DataFrame({"payload": payloads, "h": hs, "w": ws})

    import pandas as pd  # noqa: F401

    crop_udf = F.pandas_udf(
        _crop, T.StructType([T.StructField("payload", T.BinaryType()),
                             T.StructField("h", T.IntegerType()),
                             T.StructField("w", T.IntegerType())]))
    out = df.withColumn("_cr", crop_udf(F.col(payload_col)))
    out = out.withColumn(payload_col, F.col("_cr.payload"))
    if "meta" in out.columns and payload_col == "payload":
        ok = F.col(payload_col).isNotNull()
        out = out.withColumn(
            "meta",
            F.col("meta")
            .withField("height", F.when(ok, F.col("_cr.h"))
                       .otherwise(F.lit(0)))
            .withField("width", F.when(ok, F.col("_cr.w"))
                       .otherwise(F.lit(0))))
    return out.drop("_cr")


def image_shift_verify(pairs: DataFrame, media: DataFrame,
                       max_shift: int = 64, top_k: int = 5,
                       payload_col: str = "payload",
                       id_col: str = "media_id",
                       a_col: str = "id_a",
                       b_col: str = "id_b") -> DataFrame:
    """Pairwise SHIFT-verify stage for images — the 2-D twin of
    audio_ber_verify: given a candidate pair from any coarse tier (a
    banded dHash near-miss, metadata blocking, a takedown report),
    align the two images at PIXEL resolution by 2-D FFT
    cross-correlation over ``±max_shift`` in each axis, then report
    the EXACT pixel-agreement fraction over the aligned overlap.  A
    crop of any geometry verifies at agreement = 1.0 with (dy, dx) =
    the crop origin — where the whole-image dHash tier provably
    misses every crop (the resize grid re-bins, pinned); unrelated
    images agree at chance level.  The correlation peak is REFINED by
    exact agreement over the ``top_k`` highest-correlation shifts
    (block-flat regions plateau the correlation surface; exact
    agreement disambiguates deterministically, smallest (dy, dx)
    winning ties).

    Returns (id_a, id_b, dy, dx, overlap_px, agreement); (dy, dx) > 0
    means id_b is id_a's content starting at that offset
    (id_b ≈ id_a[dy:, dx:]).  Undecodable payloads or an empty
    overlap report overlap_px = 0 with NULL agreement.

    100 TB shape: the verify-stage contract (see _pair_payloads) —
    |pairs|-bounded, one 2-D FFT pair per candidate, payloads
    filtered by broadcast semi before any shuffle, no state."""
    smax = int(max_shift)
    kbest = max(1, int(top_k))
    out_schema = T.StructType([
        T.StructField(a_col, T.LongType(), False),
        T.StructField(b_col, T.LongType(), False),
        T.StructField("dy", T.LongType(), True),
        T.StructField("dx", T.LongType(), True),
        T.StructField("overlap_px", T.LongType(), False),
        T.StructField("agreement", T.DoubleType(), True),
    ])
    joined = _pair_payloads(pairs, media, payload_col, id_col,
                            a_col, b_col)

    def _verify(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def agree(ga, gb, dy, dx):
            ya, xa = max(0, dy), max(0, dx)
            yb, xb = max(0, -dy), max(0, -dx)
            h = min(ga.shape[0] - ya, gb.shape[0] - yb)
            w = min(ga.shape[1] - xa, gb.shape[1] - xb)
            if h < 1 or w < 1:
                return 0, None
            a = ga[ya:ya + h, xa:xa + w]
            b = gb[yb:yb + h, xb:xb + w]
            return h * w, float(np.mean(a == b))

        for pdf in batches:
            ia, ib, dys, dxs, ovs, ags = [], [], [], [], [], []
            for ra, rb, qa, qb in zip(pdf[a_col], pdf[b_col],
                                      pdf["_pa"], pdf["_pb"]):
                ia.append(int(ra))
                ib.append(int(rb))
                ga = _decode_gray_array(qa)
                gb = _decode_gray_array(qb)
                if ga is None or gb is None or not ga.size \
                        or not gb.size:
                    dys.append(None)
                    dxs.append(None)
                    ovs.append(0)
                    ags.append(None)
                    continue
                fa = ga - ga.mean()
                fb = gb - gb.mean()
                sh = (1 << (ga.shape[0] + gb.shape[0] - 1)
                      .bit_length(),
                      1 << (ga.shape[1] + gb.shape[1] - 1)
                      .bit_length())
                C = np.fft.irfft2(
                    np.fft.rfft2(fa, sh)
                    * np.conj(np.fft.rfft2(fb, sh)), sh)
                my = min(smax, ga.shape[0] - 1, gb.shape[0] - 1)
                mx = min(smax, ga.shape[1] - 1, gb.shape[1] - 1)
                ys = np.r_[0:my + 1, sh[0] - my:sh[0]]
                xs = np.r_[0:mx + 1, sh[1] - mx:sh[1]]
                ylab = np.r_[0:my + 1, -my:0]
                xlab = np.r_[0:mx + 1, -mx:0]
                win = C[np.ix_(ys, xs)]
                flat = np.argsort(win, axis=None)[::-1][:kbest]
                best = None
                for f in flat:
                    dy = int(ylab[f // win.shape[1]])
                    dx = int(xlab[f % win.shape[1]])
                    ov, ag = agree(ga, gb, dy, dx)
                    if ag is None:
                        continue
                    key = (-ag, abs(dy) + abs(dx), dy, dx)
                    if best is None or key < best[0]:
                        best = (key, dy, dx, ov, ag)
                if best is None:
                    dys.append(None)
                    dxs.append(None)
                    ovs.append(0)
                    ags.append(None)
                    continue
                _, dy, dx, ov, ag = best
                dys.append(dy)
                dxs.append(dx)
                ovs.append(ov)
                ags.append(ag)
            yield pd.DataFrame({a_col: ia, b_col: ib,
                                "dy": _nullable_i64(dys),
                                "dx": _nullable_i64(dxs),
                                "overlap_px": ovs,
                                "agreement": ags})

    import pandas as pd  # noqa: F401

    # r16 (guide §4.2): in-flight Python memory is bounded per BATCH,
    # not per partition — Spark 4 caps every Arrow batch at
    # spark.sql.execution.arrow.maxBytesPerBatch (64 MB default), so
    # the former 8x-finer-than-core repartition (256 tasks for ~1.7k
    # pairs at sf0.1) bought no memory safety the batch bound doesn't
    # already give, while each tiny task paid a Python-worker
    # round-trip (profiled: verify stages ran 1400-1900 tasks).  One
    # parallelism-sized exchange of the |pairs|-bounded relation is
    # the right shape at every scale.
    pn = joined.sparkSession.sparkContext.defaultParallelism
    return (joined.select(a_col, b_col, "_pa", "_pb")
            .repartition(pn).mapInPandas(_verify, schema=out_schema))


def audio_overlap_snippet_search(snippets: DataFrame, corpus: DataFrame,
                                 hop: int = AFP_HOP,
                                 max_hamming: int = 2,
                                 payload_col: str = "payload",
                                 id_col: str = "media_id",
                                 corpus_is_piece_table: bool = False,
                                 ) -> DataFrame:
    """Query-by-example audio search at HOP resolution: find every
    corpus clip containing a snippet whose cut position is any HOP
    multiple — where audio_snippet_search's non-overlapping window
    grid can only locate cuts at 2048-sample multiples (a snippet cut
    mid-window fingerprints to garbage on that grid and is provably
    missed, pinned in test_round13_ops).  Same containment rule (all
    snippet windows match at one dominant offset); offset is reported
    in hop units = where in the clip the snippet starts.

    Pass ``corpus_is_piece_table=True`` to search a PERSISTED
    audio_overlap_piece_table — the same stored index half the
    overlap near-dup ingest joins, so one overlap index serves dedup
    AND search.  Returns (snippet_id, clip_id, offset, n_windows).

    Scale shape: see _offset_vote_match — |snippets|-bounded against
    any corpus size; the overlap index costs 2048/hop more rows (the
    shared recall/cost dial)."""
    build = partial(audio_overlap_piece_table, hop=hop,
                    max_hamming=max_hamming, payload_col=payload_col,
                    id_col=id_col)
    out = _offset_vote_match(
        _landed_pieces(build, snippets, _AUDIO),
        _landed_pieces(build, corpus, _AUDIO, corpus_is_piece_table),
        stride=1, max_hamming=max_hamming, directional=True,
        containment=True, n_pieces=max_hamming + 1)
    return _named_pairs(out, _SEARCH, "windows", containment=True)
