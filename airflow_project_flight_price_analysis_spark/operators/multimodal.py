"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY.md §2.9 X5).

Design: media lives as a ``binary`` column with a metadata struct
(modality, format, width/height/duration, …). Per-item build / decode /
feature-extract / resize / resample / frame-sample all cross into Python
through ONE adapter, ``_map_rows`` over ``DataFrame.mapInArrow`` — the
only place the engine leaves the JVM, because media codecs are
Python/C libraries. Each public operator is a thin caller that hands the
adapter a per-row kernel; the kernels are real stdlib + numpy codecs
(WAV/PCM16, 24bpp BMP, PNG, concatenated-BMP video). Only
``extract_features`` keeps a deterministic stand-in feature vector
(sha256 bytes) — JPEG/MP3 and learned embeddings need libraries this
package does not ship.

Scale posture: payload columns make rows wide → keep
``spark.sql.files.maxPartitionBytes`` small for media tables, never
groupBy a payload, and project payloads out before any shuffle
(metadata-only lineage for joins/aggs; payloads re-joined by id at sinks).
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("modality", T.StringType()),     # image | audio | video
    T.StructField("format", T.StringType()),       # png | wav | mp4 | ...
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("sha", T.StringType()),
    T.StructField("feature", T.ArrayType(T.FloatType())),
])


def _map_rows(df: DataFrame, key: str, schema: T.StructType, fn,
              *cols: str) -> DataFrame:
    """The one Python crossing of this module: ``fn(*values)`` runs once
    per input row of ``cols`` and returns that row's output tuples in
    ``schema`` order (one for a codec, many for the frame sampler).
    Arrow batches in, Arrow batches out — no pandas round trip; Arrow
    enforces the declared int32/int64 widths (an overflow raises). The
    input is narrowed to ``cols`` and widened by ``scale_out`` on
    ``key`` so a single-file scan never funnels the codec onto one
    core."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..session import scale_out

    arrow_schema = to_arrow_schema(schema)
    names = schema.names

    def run(batches):
        for batch in batches:
            values = [batch.column(c).to_pylist() for c in cols]
            yield pa.RecordBatch.from_pylist(
                [dict(zip(names, out))
                 for row in zip(*values) for out in fn(*row)],
                schema=arrow_schema,
            )

    return scale_out(df.select(*cols), key).mapInArrow(run, schema)


def _meta(modality: str, fmt: str, width=None, height=None,
          duration_ms=None) -> dict:
    """One MEDIA_META struct value."""
    return {"modality": modality, "format": fmt, "width": width,
            "height": height, "duration_ms": duration_ms}


def _synth(docs: DataFrame, payload_fn, meta_fn) -> DataFrame:
    """Deterministic media table, one payload per doc: the builder input
    is the doc_id column alone (never the text), payload bytes and
    metadata are pure functions of doc_id."""
    return _map_rows(docs, "doc_id", MEDIA_SCHEMA,
                     lambda d: [(d, payload_fn(d), meta_fn(d))], "doc_id")


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents testdata:
    payload = utf-8 bytes of the text (a stand-in blob), metadata typed;
    modality assigned round-robin by doc_id (image/audio/video) so the
    per-modality operators (frame sampling) have real input.
    Demonstrates the binary-column plumbing without shipping real media."""
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    is_timed = F.col("doc_id") % 3 != 0  # audio + video carry a duration
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            modality.alias("modality"),
            F.lit("fake").alias("format"),
            (F.col("n_chars") % 1024).cast("int").alias("width"),
            (F.col("n_chars") % 768).cast("int").alias("height"),
            F.when(is_timed, (F.col("n_chars") * 7 % 5000).cast("int"))
                .otherwise(F.lit(None).cast("int")).alias("duration_ms"),
        ).alias("meta"),
    )


# --------------------------------------------------------------------------
# REAL codec path: RIFF/WAVE PCM16 via stdlib `struct` (r6 verdict item 4).
# The container format needs no external library, so at least one decode in
# this engine parses actual media bytes end-to-end: synth_wav_media writes
# spec-conformant WAV files (RIFF header, fmt chunk, PCM16 LE frames) and
# decode_wav_features walks the chunk list and unpacks the samples.
# --------------------------------------------------------------------------

WAV_SAMPLE_RATE = 8000

#: Generative law for the synthetic signal — shared with the x103 DuckDB
#: oracle, which recomputes sample statistics analytically from the same
#: integer formula (exact in both engines):
#:   n_samples(doc) = 40 + doc_id % 25
#:   sample_i(doc)  = ((doc_id*31 + i*7) % 65536) - 32768   (int16)


def _encode_wav_pcm16(rate: int, samples) -> bytes:
    """Spec-conformant mono PCM16 WAV container (stdlib + numpy).
    Shared by the synthetic builder and the real resample kernel so
    both write the identical container layout the parser certifies.
    ``samples`` may be any int iterable or an integer ndarray; values
    must fit int16 (the old ``struct.pack('<Nh')`` contract — enforced,
    not silently wrapped)."""
    import struct as st

    arr = np.asarray(
        samples if isinstance(samples, np.ndarray) else list(samples),
        dtype=np.int64,
    )
    if arr.size and (arr.min() < -32768 or arr.max() > 32767):
        raise ValueError("PCM16 sample out of int16 range")
    frames = arr.astype("<i2").tobytes()
    byte_rate = rate * 2  # mono, 16-bit
    fmt = st.pack("<HHIIHH", 1, 1, rate, byte_rate, 2, 16)
    body = (b"WAVE"
            + b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(frames)) + frames)
    return b"RIFF" + st.pack("<I", len(body)) + body


def _wav_bytes(doc_id: int) -> bytes:
    """One real WAV payload from the generative law (see above)."""
    n = 40 + doc_id % 25
    return _encode_wav_pcm16(
        WAV_SAMPLE_RATE,
        ((doc_id * 31 + np.arange(n, dtype=np.int64) * 7) % 65536) - 32768,
    )


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic audio media table: one real WAV payload per doc."""
    return _synth(docs, _wav_bytes, lambda d: _meta(
        "audio", "wav",
        duration_ms=(40 + d % 25) * 1000 // WAV_SAMPLE_RATE))


WAV_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.IntegerType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.IntegerType()),
    # exact integer sum of squares: lets consumers aggregate signal
    # energy across items ORDER-INDEPENDENTLY (bigint sum), instead of
    # folding per-item float rms values whose summation order differs
    # between engines/partitionings
    T.StructField("ssq", T.LongType()),
])


def _wav_samples_np(payload: bytes) -> tuple[int, "np.ndarray"]:
    """(sample_rate, int16 sample array) from real WAV bytes — walks
    the RIFF chunk list (tolerates extra chunks), validates PCM16 mono.
    Malformed containers raise ValueError: silent zeros would poison
    downstream stats the way a swallowed ledger read would (star.py
    discipline). Shared by the stats parser and the resample kernel."""
    import struct as st

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, clen = payload[pos:pos + 4], st.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8: pos + 8 + clen]
        if len(body) < clen:
            # a declared length past the payload end = truncated file;
            # computing stats over partial samples is exactly the
            # silent-poisoning this parser's contract rejects (r7
            # review — the BMP parser already had the twin check)
            raise ValueError(
                f"truncated chunk {cid!r}: declares {clen} bytes, "
                f"{len(body)} present"
            )
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError(f"fmt chunk is {clen} bytes, need >= 16")
            fmt = st.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, channels, rate, _, _, bits = fmt
    if (audio_fmt, channels, bits) != (1, 1, 16):
        raise ValueError(f"unsupported encoding {fmt} (need PCM16 mono)")
    if len(data) % 2:
        # half a sample: dropping the stray byte would hide a damaged
        # or mis-declared data chunk
        raise ValueError(f"odd-length PCM16 data chunk ({len(data)} bytes)")
    return rate, np.frombuffer(data, dtype="<i2")


def _parse_wav(payload: bytes) -> tuple[int, int, float, int, int]:
    """(n_samples, sample_rate, rms, peak, ssq) from real WAV bytes
    (see _wav_samples_np for the walk/validation contract). Stats are
    whole-array numpy ops — exact int64 ssq, no float accumulation."""
    import math

    rate, samples = _wav_samples_np(payload)
    s64 = samples.astype(np.int64)
    n = int(s64.size)
    ssq = int((s64 * s64).sum())
    rms = math.sqrt(ssq / n) if n else 0.0
    peak = int(np.abs(s64).max()) if n else 0
    return n, rate, rms, peak, ssq


def decode_wav_features(media: DataFrame) -> DataFrame:
    """REAL decode: stdlib parse of WAV payloads → per-item sample
    statistics. This is the template a PIL/av kernel drops into on a
    cluster with codecs — identical plumbing (schema, batch shape,
    partitioning), a stdlib parser over real container bytes."""
    def row(mid, payload):
        n, rate, rms, peak, ssq = _parse_wav(payload)
        return [(mid, n, rate, n * 1000 // rate if rate else 0,
                 rms, peak, ssq)]

    return _map_rows(media, "media_id", WAV_FEATURE_SCHEMA, row,
                     "media_id", "payload")


def _decode_fake(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in 'feature vector': bytes of sha256(payload)
    scaled to [0,1). Stable across runs/machines. Divisor 256 (not
    255): a 0xFF byte under /255 lands EXACTLY on 1.0, violating the
    half-open range ~3% of rows (8 bytes × 1/255) — the all-rows range
    test caught it."""
    h = hashlib.sha256(payload or b"").digest()
    return [b / 256.0 for b in h[:dim]]


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction over binary payloads (FEATURE_SCHEMA): byte
    count, sha256, and the ``_decode_fake`` stand-in vector. A NULL
    payload featurizes as the empty byte string. Swap ``_decode_fake``
    for a real embedding model on a cluster with media libs installed.
    """
    def row(mid, payload):
        payload = payload or b""
        return [(mid, len(payload), hashlib.sha256(payload).hexdigest(),
                 _decode_fake(payload, dim))]

    return _map_rows(media, "media_id", FEATURE_SCHEMA, row,
                     "media_id", "payload")


RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: explodes each video into frame
    timestamps (metadata-only — JVM expressions). Shows the
    row-explosion shape without decoding; ``frame_sample_decode`` is the
    executed kernel."""
    return (
        media.filter(F.col("meta.modality") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                           F.lit(every_ms))
            ).alias("frame_ms"),
        )
    )


# --------------------------------------------------------------------------
# REAL codec path #2: BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, 24bpp,
# bottom-up rows, 4-byte row padding) via stdlib `struct` — the image
# sibling of the WAV path above. Same certification idea: the builder and
# the x105 oracle share one generative law; the decoder parses the actual
# container bytes (padding, BGR order, row flip included).
# --------------------------------------------------------------------------

#: Generative law (shared with the x105 DuckDB oracle):
#:   W(doc) = 8 + doc_id % 5;  H(doc) = 6 + doc_id % 4
#:   channel c of pixel p (row-major top-down, c: 0=R 1=G 2=B):
#:       ((doc_id * 7 + p * 3 + c) % 256)


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 5, 6 + doc_id % 4


def _encode_bmp24_arr(arr: "np.ndarray") -> bytes:
    """Spec-conformant 24bpp BMP container from an ``(h, w, 3)`` uint8
    RGB array in row-major TOP-DOWN order: bottom-up row storage, BGR
    byte order, rows padded to 4-byte boundaries. The numpy form of the
    per-pixel writer (r15 §4.2 vectorization) — byte-identical output,
    the whole pixel grid flipped/reordered/padded as array ops instead
    of a Python loop per pixel."""
    import struct as st

    h, w, _ = arr.shape
    row_stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, row_stride), dtype=np.uint8)
    # bottom-up rows, BGR channel order — one strided copy
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)
    px = rows.tobytes()
    info = st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px),
                   2835, 2835, 0, 0)
    off = 14 + 40
    hdr = st.pack("<2sIHHI", b"BM", off + len(px), 0, 0, off)
    return hdr + info + px


def _bmp_bytes(doc_id: int) -> bytes:
    """One real BMP payload from the generative law (see above).
    Channel c of pixel p is ``(doc_id*7 + p*3 + c) % 256``; flattened
    RGB index i = p*3 + c, so the whole grid is one vectorized
    ``(doc_id*7 + arange) % 256``."""
    w, h = _bmp_dims(doc_id)
    vals = (doc_id * 7 + np.arange(w * h * 3, dtype=np.int64)) % 256
    return _encode_bmp24_arr(vals.astype(np.uint8).reshape(h, w, 3))


BMP_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    # exact per-channel sums (ints) — order-independent to aggregate,
    # same rationale as the WAV path's ssq
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
])


def _bmp_grid(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """Shared BMP container walk: validates magic/bpp/compression and
    returns ``(w, h, rows)`` where ``rows`` is the ``(h, w*3)`` uint8
    pixel matrix in STORAGE row order with padding stripped (still BGR,
    still bottom-up if the header says so — callers reorder). One
    strided numpy view instead of a Python loop per row; truncation
    raises exactly as the per-row reader did."""
    import struct as st

    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP container")
    off = st.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h, _planes, bpp, comp = st.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    row_stride = (w * 3 + 3) // 4 * 4
    # every stored row must carry w*3 pixel bytes (the final row may
    # legally omit trailing padding)
    if len(payload) < off + (h - 1) * row_stride + w * 3:
        raise ValueError("truncated pixel data")
    buf = np.frombuffer(
        payload, dtype=np.uint8,
        count=(h - 1) * row_stride + w * 3, offset=off,
    )
    rows = np.lib.stride_tricks.as_strided(
        buf, shape=(h, w * 3), strides=(row_stride, 1))
    return w, h, (rows[::-1] if bottom_up else rows)


def _parse_bmp(payload: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from real BMP bytes.
    Validates magic/bpp/compression; handles bottom-up row order, BGR
    channel order, and row padding. Malformed containers raise (the
    WAV parser's discipline)."""
    w, h, rows = _bmp_grid(payload)
    return (
        w, h,
        int(rows[:, 2::3].sum(dtype=np.int64)),  # R
        int(rows[:, 1::3].sum(dtype=np.int64)),  # G
        int(rows[:, 0::3].sum(dtype=np.int64)),  # B
    )


def synth_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic image media table: one real BMP payload per doc."""
    return _synth(docs, _bmp_bytes,
                  lambda d: _meta("image", "bmp", *_bmp_dims(d)))


def decode_bmp_features(media: DataFrame) -> DataFrame:
    """REAL image decode: stdlib parse of BMP payloads → per-item
    channel statistics (see decode_wav_features)."""
    return _map_rows(media, "media_id", BMP_FEATURE_SCHEMA,
                     lambda mid, payload: [(mid, *_parse_bmp(payload))],
                     "media_id", "payload")


def _bmp_pixels_arr(payload: bytes) -> tuple[int, int, "np.ndarray"]:
    """(width, height, (h, w, 3) uint8 RGB array top-down) from real
    BMP payload — the pixel-grid sibling of ``_parse_bmp`` (same
    container validation via ``_bmp_grid``) for kernels that need the
    geometry, not just sums."""
    w, h, rows = _bmp_grid(payload)
    return w, h, rows.reshape(h, w, 3)[:, :, ::-1]  # BGR on disk -> RGB


def _resize_bmp_nn(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL nearest-neighbor resample of a 24bpp BMP: parse the actual
    container (padding/flip/BGR included), map each output pixel to
    ``src = (dst * src_dim) // dst_dim`` (the standard floor NN rule,
    exact integer arithmetic — engine-replayable), re-encode through
    the same writer the builder uses. Up- and down-scaling both work;
    the mapping is one numpy fancy-index over the decoded grid (r15
    §4.2 — the per-pixel byte loop became the measured cost at corpus
    scale; outputs are byte-identical)."""
    w, h, arr = _bmp_pixels_arr(payload)
    yi = (np.arange(out_h, dtype=np.int64) * h) // out_h
    xi = (np.arange(out_w, dtype=np.int64) * w) // out_w
    return _encode_bmp24_arr(np.ascontiguousarray(arr[yi[:, None], xi]))


def resize_bmp_nn(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize (BMP): nearest-neighbor resample that parses,
    remaps, and RE-ENCODES every payload and rewrites the metadata dims
    — output rows (RESIZED_SCHEMA) are valid BMP containers a downstream
    ``decode_bmp_features`` re-parses (how the x116 face certifies the
    whole kernel)."""
    if width < 1 or height < 1:
        raise ValueError(f"target dims must be >= 1, got {width}x{height}")
    return _map_rows(
        media, "media_id", RESIZED_SCHEMA,
        lambda mid, payload, meta: [(
            mid, _resize_bmp_nn(payload, width, height),
            {**meta, "width": width, "height": height},
        )],
        "media_id", "payload", "meta",
    )


# --------------------------------------------------------------------------
# REAL codec path #3: video as concatenated BMP frames (r11). No stdlib
# video container exists, so the VIDEO kernel the engine certifies is the
# byte-level one every real demuxer needs: walk a multi-frame payload by
# each frame's self-describing header, slice the sampled frames out, and
# decode each through the real image parser. Swapping the frame slicer
# for libav's packet iterator keeps the batch shape, schema, and
# partitioning identical — that is the documented upgrade path.
# --------------------------------------------------------------------------

#: Generative law (shared with the x117 DuckDB oracle):
#:   n_frames(doc) = 2 + doc_id % 3     (dims per frame: _bmp_dims)
#:   channel c of pixel p in frame f: (doc_id*7 + f*11 + p*3 + c) % 256


def _video_n_frames(doc_id: int) -> int:
    return 2 + doc_id % 3


def _video_bytes(doc_id: int) -> bytes:
    """One multi-frame payload: n_frames spec-conformant BMPs
    back-to-back. Each BMP's BITMAPFILEHEADER carries its own byte
    length, so the container is walkable without an index — the
    property the frame slicer certifies."""
    w, h = _bmp_dims(doc_id)
    idx = np.arange(w * h * 3, dtype=np.int64)  # i = p*3 + c
    frames = []
    for f in range(_video_n_frames(doc_id)):
        vals = (doc_id * 7 + f * 11 + idx) % 256
        frames.append(_encode_bmp24_arr(
            vals.astype(np.uint8).reshape(h, w, 3)))
    return b"".join(frames)


def _walk_bmp_frames(payload: bytes) -> list[bytes]:
    """Split a concatenated-BMP payload into per-frame byte slices by
    each header's self-declared file size. Validates every magic and
    rejects trailing garbage — a demuxer that silently drops a tail
    frame corrupts every downstream per-frame statistic."""
    import struct as st

    frames, pos = [], 0
    while pos < len(payload):
        if payload[pos:pos + 2] != b"BM" or pos + 6 > len(payload):
            raise ValueError(f"bad frame magic at offset {pos}")
        size = st.unpack_from("<I", payload, pos + 2)[0]
        if size < 54 or pos + size > len(payload):
            raise ValueError(f"frame at offset {pos} overruns the payload")
        frames.append(payload[pos:pos + size])
        pos += size
    return frames


def synth_video_media(docs: DataFrame) -> DataFrame:
    """Deterministic video media table: one real multi-frame payload
    per doc; duration_ms models 1 frame/second."""
    return _synth(docs, _video_bytes, lambda d: _meta(
        "video", "bmps", *_bmp_dims(d), _video_n_frames(d) * 1000))


VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("sum_r", T.LongType()),
    T.StructField("sum_g", T.LongType()),
    T.StructField("sum_b", T.LongType()),
])


def frame_sample_decode(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL frame sampling (upgrades ``frame_sample_plan`` from a
    metadata-only timestamp explode to an executed kernel): walk each
    video payload's frame boundaries, decode every ``every_n``-th frame
    with the real image parser, and emit one ROW per sampled frame —
    the row-explosion happens inside the Arrow batch, so payload bytes
    never shuffle and the output carries only fixed-width stats."""
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def rows(mid, payload):
        frames = _walk_bmp_frames(payload)
        return [(mid, idx, len(frames), *_parse_bmp(frames[idx]))
                for idx in range(0, len(frames), every_n)]

    return _map_rows(media, "media_id", VIDEO_FRAME_SCHEMA, rows,
                     "media_id", "payload")


def _resample_wav_nn(payload: bytes, out_rate: int) -> tuple[bytes, int]:
    """REAL nearest-neighbor sample-rate conversion of a PCM16 mono
    WAV: parse the actual container, time-map
    ``src = (j * in_rate) // out_rate`` over
    ``n_out = n_in * out_rate // in_rate`` output samples (exact
    integer arithmetic — engine-replayable; the image kernel's floor
    rule on the time axis), re-encode through the shared writer.
    Returns ``(wav_bytes, n_out)`` so callers derive duration from the
    sample count, not the container layout. The production upgrade is
    a windowed-sinc filter via scipy/libsamplerate — same batch shape,
    this pins the plumbing and the mapping. The time map is one numpy
    fancy-index (r15 §4.2); outputs are byte-identical."""
    rate, samples = _wav_samples_np(payload)
    n_out = samples.size * out_rate // rate
    idx = (np.arange(n_out, dtype=np.int64) * rate) // out_rate
    return _encode_wav_pcm16(out_rate, samples[idx]), n_out


def resample_wav_nn(media: DataFrame, out_rate: int) -> DataFrame:
    """REAL audio resample (the rate-normalization step every audio
    corpus runs — e.g. everything to 16 kHz before featurization):
    NN resample that parses, remaps, and RE-ENCODES every payload —
    output rows are valid WAV containers a downstream
    ``decode_wav_features`` re-parses (how the x118 face certifies the
    kernel). Same RESIZED_SCHEMA contract as resize_bmp_nn."""
    if out_rate < 1:
        raise ValueError(f"out_rate must be >= 1, got {out_rate}")

    def row(mid, payload, meta):
        # duration_ms comes from the resampler's own output sample
        # count (r11 ADVICE) — not from a hard-coded 44-byte header
        # offset that breaks if the shared encoder ever grows a chunk.
        out, n_out = _resample_wav_nn(payload, out_rate)
        return [(mid, out, {**meta, "duration_ms": n_out * 1000 // out_rate})]

    return _map_rows(media, "media_id", RESIZED_SCHEMA, row,
                     "media_id", "payload", "meta")


# --------------------------------------------------------------------------
# REAL codec path #4: PNG (r11). The r6-r10 record carried "compressed-
# format decode (PNG/JPEG/MP3) — env-blocked on PIL/av", but PNG needs
# neither: the container is stdlib zlib + scanline filter reconstruction.
# This closes the PNG third of that carry with a real DEFLATE-compressed
# codec — the builder writes spec-conformant PNGs whose scanlines cycle
# through ALL FIVE filter types (so the decoder's Sub/Up/Average/Paeth
# reconstruction is certified, not just the trivial None path), and the
# decoder walks chunks, VERIFIES every CRC32, inflates, and unfilters.
# JPEG/MP3 (DCT/Huffman stacks) stay out of scope, and not only because
# they need PIL/av: they are LOSSY, so no generative law replayable in SQL
# (the analytic-oracle harness every codec here uses) can certify a
# hand-rolled decoder without a reference decoder to diff against.
# --------------------------------------------------------------------------

#: Generative law (shared with the x119 DuckDB oracle):
#:   W(doc) = 8 + doc_id % 5;  H(doc) = 6 + doc_id % 4   (same grid as BMP)
#:   channel c of pixel p (row-major top-down): (doc_id*13 + p*5 + c) % 256
#:   scanline y is written with filter type y % 5


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct as st
    import zlib

    return (st.pack(">I", len(body)) + ctype + body
            + st.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def _png_bytes(doc_id: int) -> bytes:
    """Spec-conformant 8-bit RGB PNG (color type 2, non-interlaced),
    scanlines filtered with type y % 5 — every PNG filter exercised —
    then DEFLATE-compressed (stdlib zlib)."""
    import struct as st
    import zlib

    w, h = _bmp_dims(doc_id)
    bpp = 3
    # law: channel c of pixel p is (doc_id*13 + p*5 + c) % 256 — per
    # row y that is (doc_id*13 + (y*w + x)*5 + c) % 256, one broadcast
    p_base = np.arange(w, dtype=np.int64)[:, None] * 5 \
        + np.arange(3, dtype=np.int64)[None, :]
    # ENCODING filters read only RAW bytes (never the filtered output),
    # so every filter type vectorizes — shift-left is a pad+slice, the
    # Paeth predictor is two np.where's over the three raw neighbors
    # (r15 §4.2; byte-identical by the same % 256 integer arithmetic)
    out = bytearray()
    prior = np.zeros(w * bpp, dtype=np.int64)
    for y in range(h):
        raw = (doc_id * 13 + (y * w) * 5 + p_base).reshape(-1) % 256
        left = np.concatenate((np.zeros(bpp, dtype=np.int64), raw[:-bpp]))
        ft = y % 5
        if ft == 0:
            filt = raw
        elif ft == 1:   # Sub
            filt = (raw - left) % 256
        elif ft == 2:   # Up
            filt = (raw - prior) % 256
        elif ft == 3:   # Average
            filt = (raw - (left + prior) // 2) % 256
        else:           # Paeth
            upleft = np.concatenate(
                (np.zeros(bpp, dtype=np.int64), prior[:-bpp]))
            p = left + prior - upleft
            pa, pb, pc = (np.abs(p - left), np.abs(p - prior),
                          np.abs(p - upleft))
            pred = np.where(
                (pa <= pb) & (pa <= pc), left,
                np.where(pb <= pc, prior, upleft))
            filt = (raw - pred) % 256
        out += bytes((ft,)) + filt.astype(np.uint8).tobytes()
        prior = raw
    ihdr = st.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


def _parse_png(payload: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, sum_r, sum_g, sum_b) from real PNG bytes: walk
    the chunk list, VERIFY every CRC32, require 8-bit RGB
    non-interlaced, inflate the concatenated IDATs, and reconstruct
    every scanline through the five PNG filters. Malformed containers,
    CRC mismatches, and length drift all raise (the _parse_wav
    discipline — silent partial decodes poison downstream stats)."""
    import struct as st
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG container")
    pos, ihdr, idat, ended = 8, None, bytearray(), False
    while pos + 8 <= len(payload):
        clen, ctype = st.unpack_from(">I4s", payload, pos)
        # Bounds-check body AND the 4-byte CRC together (r11 ADVICE:
        # a payload truncated inside the CRC field must raise the
        # documented ValueError, not struct.error from unpack_from).
        if pos + 12 + clen > len(payload):
            raise ValueError(f"truncated chunk {ctype!r}")
        body = payload[pos + 8: pos + 8 + clen]
        crc = st.unpack_from(">I", payload, pos + 8 + clen)[0]
        if crc != (zlib.crc32(ctype + body) & 0xFFFFFFFF):
            raise ValueError(f"CRC mismatch in chunk {ctype!r}")
        if ctype == b"IHDR":
            if clen != 13:
                raise ValueError(f"IHDR is {clen} bytes, need 13")
            ihdr = st.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            ended = True
            # Reject trailing bytes after IEND — the _walk_bmp_frames
            # trailing-garbage discipline, applied to PNG (r11 ADVICE).
            if payload[pos + 12 + clen:]:
                raise ValueError("trailing bytes after IEND")
            break
        pos += 12 + clen
    if ihdr is None or not idat or not ended:
        raise ValueError("missing IHDR/IDAT/IEND")
    w, h, depth, ctype_, comp, filt, interlace = ihdr
    if (depth, ctype_, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG (depth={depth}, color={ctype_}, "
            f"interlace={interlace}; need 8-bit RGB non-interlaced)"
        )
    raw = zlib.decompress(bytes(idat))
    stride, bpp = w * 3, 3
    if len(raw) != h * (stride + 1):
        raise ValueError("inflated size disagrees with dimensions")
    sums = [0, 0, 0]
    prior = bytes(stride)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)]
        if ft == 0:
            recon = bytearray(line)
        elif ft == 1:
            recon = bytearray()
            for i in range(stride):
                recon.append((line[i] + (recon[i - bpp] if i >= bpp else 0))
                             % 256)
        elif ft == 2:
            recon = bytearray((line[i] + prior[i]) % 256
                              for i in range(stride))
        elif ft == 3:
            recon = bytearray()
            for i in range(stride):
                recon.append((line[i] + ((recon[i - bpp] if i >= bpp else 0)
                                         + prior[i]) // 2) % 256)
        elif ft == 4:
            recon = bytearray()
            for i in range(stride):
                recon.append((line[i] + _paeth(
                    recon[i - bpp] if i >= bpp else 0,
                    prior[i],
                    prior[i - bpp] if i >= bpp else 0)) % 256)
        else:
            raise ValueError(f"unknown filter type {ft} on row {y}")
        for i in range(0, stride, 3):
            sums[0] += recon[i]
            sums[1] += recon[i + 1]
            sums[2] += recon[i + 2]
        prior = bytes(recon)
    return w, h, sums[0], sums[1], sums[2]


def synth_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic compressed-image media table: one real PNG payload
    per doc."""
    return _synth(docs, _png_bytes,
                  lambda d: _meta("image", "png", *_bmp_dims(d)))


def decode_png_features(media: DataFrame) -> DataFrame:
    """REAL compressed-image decode: stdlib PNG parse (CRC-verified
    chunk walk, zlib inflate, full filter reconstruction) → per-item
    channel statistics, same schema as the BMP path."""
    return _map_rows(media, "media_id", BMP_FEATURE_SCHEMA,
                     lambda mid, payload: [(mid, *_parse_png(payload))],
                     "media_id", "payload")
