"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched numpy kernels.

Design for 100 TB: the binary column never leaves the JVM until a decode
step genuinely needs Python; metadata (size, hash, mime) is computed with
JVM expressions so filtering/partition pruning happens before any decode.
The decode itself is `mapInArrow`: Arrow batches, one Python process per
core, no per-row ser/de. A kernel reads a batch's binary column straight
from its offsets and data buffers, parses each payload's header, and
reduces all payloads of one geometry in one numpy pass; a synthesizer
builds a batch's payloads in one buffer. Each kernel's output is bit for
bit what decoding and reducing every payload alone gives: it sums
integers, and float64 holds an integer sum below 2^53 exactly (a clip
whose sum of squares is larger takes its own float mean). The video,
resize and near-dup UDFs still decode row by row under `mapInPandas`.

Decode is capability-gated per format: PPM (P6) and uncompressed 24-bit
BMP decode natively here (pure numpy header parse + frombuffer — real
image files, no codec library needed); jpeg/png/webp route to PIL when
the deployment has it and raise NotImplementedError otherwise.
`extract_features` is the codec-free path: byte statistics of opaque
payloads.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator
from functools import partial

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The worker code below calls this module's functions (the kernels,
# decode_image, encode_ppm, ...). Pickled by reference, a Python worker
# would have to import flink_spark, which a worker started without this
# package on its path cannot; by value, a worker needs only numpy, pandas
# and pyarrow. The module imports nothing else from flink_spark.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

FEATURE_SCHEMA = (
    "doc_id BIGINT, n_bytes INT, mime STRING, byte_mean DOUBLE, "
    "byte_min INT, byte_max INT, feature_ok BOOLEAN"
)

#: rows per kernel call: bounds a call's gathered pixel blocks, and keeps
#: a synthesized binary column's int32 offsets far from overflow, at any
#: Arrow batch size
KERNEL_ROWS = 1 << 14


def _map_arrow(df: DataFrame, kernel, schema: str) -> DataFrame:
    """``df.mapInArrow`` that hands ``kernel`` each batch in slices of at
    most ``KERNEL_ROWS`` rows. ``kernel`` maps a RecordBatch to one whose
    columns carry ``schema``'s Arrow types."""

    def run(batches):
        for batch in batches:
            for off in range(0, batch.num_rows, KERNEL_ROWS):
                yield kernel(batch.slice(off, KERNEL_ROWS))

    return df.mapInArrow(run, schema)


def _binary_parts(col):
    """A ``binary`` or ``large_binary`` Arrow array as (data, starts,
    ends): a zero-copy uint8 view of the bytes its rows span, and each
    row's byte range in it. A NULL row's range means nothing; callers
    check ``col.is_valid()``."""
    import numpy as np
    import pyarrow as pa

    n = len(col)
    if n == 0:
        none = np.empty(0, np.int64)
        return np.empty(0, np.uint8), none, none
    _, offsets, data = col.buffers()
    width = np.dtype(np.int64 if pa.types.is_large_binary(col.type)
                     else np.int32)
    offs = np.frombuffer(offsets, width, n + 1,
                         col.offset * width.itemsize).astype(np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    data = np.frombuffer(data, np.uint8, hi - lo, lo)
    return data, offs[:-1] - lo, offs[1:] - lo


def _binary_array(data, offsets):
    """An Arrow ``binary`` array over a uint8 buffer and its row offsets,
    with no per-row bytes objects."""
    import numpy as np
    import pyarrow as pa

    return pa.Array.from_buffers(pa.binary(), len(offsets) - 1, [
        None,
        pa.py_buffer(np.ascontiguousarray(offsets, np.int32)),
        pa.py_buffer(np.ascontiguousarray(data, np.uint8)),
    ])


def _gather(data, starts, rows: int, cols: int, stride: int):
    """From each start in ``data``, copy ``rows`` runs of ``cols`` bytes
    that begin ``stride`` bytes apart: a (len(starts), rows, cols) uint8
    array. Every window of the strided view lies inside ``data``, and
    indexing it by ``starts`` copies only the selected windows."""
    import numpy as np

    span = (rows - 1) * stride + cols
    windows = np.lib.stride_tricks.as_strided(
        data, (len(data) - span + 1, rows, cols), (1, stride, 1),
        writeable=False,
    )
    return windows[starts]


def _grouped(col, layout, alone, gather):
    """The rows of binary array ``col``, decoded in groups of one
    geometry. ``layout(payload)`` parses a payload's header into
    (offset of its samples, geometry), or None for a payload that
    ``alone(payload)`` must decode by itself (``payload`` is None for a
    NULL row); ``gather(data, starts, geometry)`` decodes a group.

    A parse that ``layout`` returns may read nothing of the payload but
    its length and its bytes before the offset. So a payload of the same
    length that starts with the previous parse's header bytes reuses that
    parse, exactly: a batch from one writer parses one header.

    Yields (row indices, decoded rows, geometry). A payload decoded alone
    is yielded when its row is reached, so the first payload to raise is
    the first one in row order that a row-by-row decode rejects."""
    import numpy as np

    data, starts, ends = _binary_parts(col)
    raw = data.tobytes()
    valid = col.is_valid().to_numpy(zero_copy_only=False).tolist()
    groups: dict = {}
    head, size, found = None, -1, None
    for i, (s, e) in enumerate(zip(starts.tolist(), ends.tolist())):
        if not valid[i]:
            yield (np.array([i]), *alone(None))
            continue
        if e - s != size or not raw.startswith(head, s):
            payload = raw[s:e]
            found = layout(payload)
            if found is None:
                size = -1
                yield (np.array([i]), *alone(payload))
                continue
            head, size = payload[:found[0]], e - s
        off, geometry = found
        rows, at = groups.setdefault(geometry, ([], []))
        rows.append(i)
        at.append(s + off)
    for geometry, (rows, at) in groups.items():
        yield np.array(rows), gather(data, np.array(at), geometry), geometry


def attach_binary(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Simulate a multimodal table: payload = utf-8 bytes of the text,
    plus JVM-computed metadata (what a real ingest would persist)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        id_col,
        payload.alias("payload"),
        F.octet_length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
        F.lit("text/plain").alias("mime"),
    )


def _byte_stats_kernel(batch):
    """Byte mean, min and max of every payload of a batch at once:
    segmented ``reduceat`` sums, mins and maxes over the data buffer.
    The sum is an exact integer, so one float64 divide gives the bits of
    Python's ``sum(payload) / len(payload)``."""
    import numpy as np
    import pyarrow as pa

    col = batch.column("payload")
    data, starts, ends = _binary_parts(col)
    ok = col.is_valid().to_numpy(zero_copy_only=False) & (ends > starts)
    s, e = starts[ok], ends[ok]
    stats = np.zeros((3, len(s)), np.int64)
    if len(s):
        # segments [s_k, e_k) at the even positions; the odd ones span
        # the gaps between rows (empty or NULL slots) and are dropped
        seg = data[s[0]:e[-1]]
        at = np.stack([s, e], axis=1).ravel()[:-1] - s[0]
        stats[0] = np.add.reduceat(seg, at, dtype=np.int64)[::2]
        stats[1] = np.minimum.reduceat(seg, at)[::2]
        stats[2] = np.maximum.reduceat(seg, at)[::2]
    n = batch.num_rows
    mean = np.zeros(n)
    mean[ok] = stats[0] / (e - s)
    lo, hi = np.zeros((2, n), np.int32)
    lo[ok], hi[ok] = stats[1], stats[2]
    return pa.RecordBatch.from_arrays(
        [
            batch.column("doc_id").cast(pa.int64()),
            batch.column("n_bytes").cast(pa.int32()),
            batch.column("mime").cast(pa.string()),
            pa.array(mean, mask=~ok),
            pa.array(lo, mask=~ok),
            pa.array(hi, mask=~ok),
            pa.array(ok),
        ],
        names=["doc_id", "n_bytes", "mime", "byte_mean", "byte_min",
               "byte_max", "feature_ok"],
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column, the
    stand-in for a codec: byte mean, min and max per payload; a NULL or
    empty payload gets NULL stats and ``feature_ok`` false."""
    return _map_arrow(
        df.select("doc_id", "payload", "n_bytes", "mime"),
        _byte_stats_kernel, FEATURE_SCHEMA,
    )


# ---------------------------------------------------------------------------
# real raster decode path (pure numpy — no codec library needed)


def _ppm_prefix(w: int, h: int) -> bytes:
    """The header ``encode_ppm`` writes before a w×h image's pixels."""
    return b"P6\n%d %d\n255\n" % (w, h)


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary P6 PPM — a real image
    file any viewer/PIL can open."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return _ppm_prefix(w, h) + arr.tobytes()


def _ppm_header(payload: bytes) -> tuple[int, int, int]:
    """Parse a binary P6 PPM header (whitespace/comment tolerant) →
    (pixel offset, w, h); only 8-bit PPMs pass."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    i, fields = 2, []
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment line
            while payload[i : i + 1] not in (b"\n", b""):
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return i + 1, w, h  # single whitespace after maxval


def decode_ppm(payload: bytes):
    """Parse binary P6 PPM → (h, w, 3) uint8 ndarray. Real header parsing
    (:func:`_ppm_header`), numpy frombuffer for pixels."""
    import numpy as np

    off, w, h = _ppm_header(payload)
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                         offset=off).reshape(h, w, 3)


def _bmp_header(payload: bytes) -> tuple[int, int, int]:
    """Parse an uncompressed 24-bit BMP's BITMAPINFOHEADER → (pixel
    offset, w, signed h); rows are stored bottom-up when h > 0."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
    return pix_off, w, h


def decode_bmp(payload: bytes):
    """Parse an uncompressed 24-bit BMP (BITMAPINFOHEADER) → (h, w, 3)
    uint8 RGB ndarray. BMP stores BGR bottom-up with 4-byte row padding."""
    import numpy as np

    pix_off, w, h = _bmp_header(payload)
    stride = (w * 3 + 3) & ~3
    rows = []
    flip = h > 0
    h = abs(h)
    for r in range(h):
        off = pix_off + r * stride
        row = np.frombuffer(payload, dtype=np.uint8, count=w * 3, offset=off)
        rows.append(row.reshape(w, 3)[:, ::-1])  # BGR → RGB
    img = np.stack(rows)
    return img[::-1] if flip else img


def decode_image(payload: bytes, mime: str | None = None):
    """Decode an image payload → (h, w, 3) uint8 RGB.

    Capability-gated codec selection: PPM and 24-bit BMP decode natively
    (pure numpy, always available); anything else uses PIL when the
    deployment has it, else raises NotImplementedError — the honest
    boundary for codecs this container lacks."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    try:
        import io

        import numpy as np
        from PIL import Image  # capability gate: not in this container

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    except ImportError:
        raise NotImplementedError(
            f"no codec for payload (mime={mime}); install PIL for "
            "jpeg/png/webp or supply PPM/BMP"
        ) from None


def _pixel_layout(payload: bytes):
    """Where a PPM or BMP payload keeps its pixels, read with the header
    grammar of ``decode_ppm``/``decode_bmp`` (so a header they reject
    raises the same error here): (offset, (rows, w, row stride,
    bottom-up, BGR)), pixel row r's 3·w bytes starting at offset +
    r·stride. None for what ``decode_image`` must decode itself: other
    formats, an empty image, or pixel rows past the payload's end."""
    tag = payload[:2]
    if tag == b"P6":
        off, w, h = _ppm_header(payload)
        geometry = h, w, 3 * w, False, False
    elif tag == b"BM":
        off, w, h = _bmp_header(payload)
        if off < 34:  # pixels inside the header _bmp_header reads
            return None
        geometry = abs(h), w, (w * 3 + 3) & ~3, h > 0, True
    else:
        return None
    rows, w, stride = geometry[:3]
    if w <= 0 or rows <= 0 or off + (rows - 1) * stride + 3 * w > len(payload):
        return None
    return off, geometry


def _image_alone(payload):
    """One payload through ``decode_image`` (a NULL raises as
    ``bytes(None)`` does): a batch of one image, no geometry."""
    return decode_image(bytes(payload))[None], None


def _pixels(data, starts, geometry):
    """The (k, h, w, 3) RGB images of one pixel layout (see
    :func:`_pixel_layout`), as ``decode_image`` returns them."""
    rows, w, stride, bottom_up, bgr = geometry
    px = _gather(data, starts, rows, 3 * w, stride).reshape(-1, rows, w, 3)
    if bgr:
        px = px[..., ::-1]
    return px[:, ::-1] if bottom_up else px


#: synthetic image geometry: 8×8, R gradient (no wraparound for
#: doc_id%100 + linear index ≤ 163 < 256 — keeps the mean closed-form)
IMG_W = IMG_H = 8

_SYNTH_SCHEMA = "{} BIGINT, payload BINARY, mime STRING"


def _synth_ids(batch, caller: str):
    """The id column of a synthesizer's batch as int64 numpy ids."""
    import pyarrow as pa

    ids = batch.column(0).cast(pa.int64())
    if ids.null_count:
        raise ValueError(f"{caller}: NULL {batch.schema.names[0]}")
    return ids, ids.to_numpy()


def _synthesize_images_kernel(batch):
    """One batch of ``synthesize_images`` payloads, built in one uint8
    buffer: every row is the same PPM header plus 8×8×3 pixels."""
    import numpy as np
    import pyarrow as pa

    ids, d = _synth_ids(batch, "synthesize_images")
    n = len(d)
    px = np.empty((n, IMG_H, IMG_W, 3), dtype=np.uint8)
    idx = np.arange(IMG_W * IMG_H, dtype=np.uint8).reshape(IMG_H, IMG_W)
    px[..., 0] = idx + (d % 100).astype(np.uint8)[:, None, None]
    px[..., 1] = ((d * 7) % 256)[:, None, None]
    px[..., 2] = ((d * 13) % 256)[:, None, None]
    head = np.frombuffer(_ppm_prefix(IMG_W, IMG_H), dtype=np.uint8)
    rows = np.concatenate([np.broadcast_to(head, (n, len(head))),
                           px.reshape(n, 3 * IMG_W * IMG_H)], axis=1)
    width = rows.shape[1]
    return pa.RecordBatch.from_arrays(
        [
            ids,
            _binary_array(rows, np.arange(0, n * width + 1, width)),
            pa.repeat("image/x-portable-pixmap", n),
        ],
        names=[batch.schema.names[0], "payload", "mime"],
    )


def synthesize_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real PPM images derived from the doc id: R channel a
    linear gradient ``(doc_id % 100) + pixel_index``, G/B constant planes
    ``(doc_id*7) % 256`` / ``(doc_id*13) % 256`` — every byte of every
    payload is a real P6 file with a closed-form channel mean, which is
    what lets the decode path carry an exact SQL oracle. An Arrow kernel
    builds each batch's payloads at once; a NULL id raises."""
    return _map_arrow(df.select(id_col), _synthesize_images_kernel,
                      _SYNTH_SCHEMA.format(id_col))


def _image_features_kernel(batch, id_col: str):
    """``image_features`` over one batch: per pixel layout, the channel
    sums of all its images in one integer reduction."""
    import numpy as np
    import pyarrow as pa

    n = batch.num_rows
    size = np.zeros((2, n), np.int32)
    means = np.zeros((3, n))
    for rows, px, _ in _grouped(batch.column("payload"), _pixel_layout,
                                _image_alone, _pixels):
        k, h, w, _ = px.shape
        size[:, rows] = [[w], [h]]
        sums = px.reshape(k, h * w, 3).sum(axis=1, dtype=np.int64)
        means[:, rows] = (sums / float(h * w)).T
    return pa.RecordBatch.from_arrays(
        [batch.column(id_col).cast(pa.int64()), *map(pa.array, size),
         *map(pa.array, means)],
        names=[id_col, "width", "height", "mean_r", "mean_g", "mean_b"],
    )


def image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + feature extraction: geometry + per-channel means of
    each payload as ``decode_image`` decodes it. An Arrow kernel parses
    every header, then reduces all images of one geometry at once; other
    formats go through ``decode_image`` one row at a time. Only (id,
    payload) crosses the Python boundary."""
    return _map_arrow(
        df.select(id_col, "payload"),
        partial(_image_features_kernel, id_col=id_col),
        f"{id_col} BIGINT, width INT, height INT, mean_r DOUBLE, "
        "mean_g DOUBLE, mean_b DOUBLE",
    )


def frame_sample(df: DataFrame, every_n_bytes: int = 64,
                 id_col: str = "doc_id") -> DataFrame:
    """'Frame sampling' on the opaque payload: take 1 byte every N as a
    cheap signature — JVM-only (substring on binary), shows the
    slice-without-decode pattern used for video keyframe selection.
    Every NON-empty payload gets at least one frame (offset 0 always
    lies inside it); empty or NULL payloads get none — without the
    guard the greatest(…, 0) floor would manufacture a phantom frame
    whose offset points past the end of a 0-byte payload."""
    n_frames = (F.col("n_bytes") / every_n_bytes).cast("int")
    idx = F.when(
        F.col("n_bytes") > 0,
        F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
    )  # NULL array otherwise — explode emits no rows for it
    return df.select(
        id_col,
        F.explode(idx).alias("frame_no"),
    ).withColumn("frame_offset", F.col("frame_no") * every_n_bytes)


# --------------------------------------------------------------- audio ----
# Real PCM16 WAV codec (RIFF header + little-endian int16 samples): like
# the PPM/BMP image path, these are genuine files any standard WAV reader
# decodes — no codec stub. Reference parity: the multimodal-column
# decode/feature pattern of flink-connector-files' binary formats.

AUDIO_RATE = 8000


def _wav_prefix(n_pcm: int, sample_rate: int) -> bytes:
    """The 44-byte canonical RIFF header ``encode_wav`` writes before
    ``n_pcm`` bytes of PCM16 mono samples."""
    import struct

    return struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + n_pcm, b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", n_pcm,
    )


def encode_wav(samples, sample_rate: int = AUDIO_RATE) -> bytes:
    """PCM16 mono WAV: 44-byte canonical RIFF header + raw samples."""
    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    return _wav_prefix(len(pcm), sample_rate) + pcm


def _wav_data(payload: bytes) -> tuple[int, int, int]:
    """Walk a PCM16 mono RIFF/WAVE payload's chunk list (fmt /data may be
    preceded by LIST/fact chunks in files from other writers) →
    (start, stop, sample_rate) of the data chunk's bytes."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    rate, bits, channels, data = None, None, None, None
    while i + 8 <= n:
        cid, sz = payload[i : i + 4], struct.unpack("<I", payload[i + 4 : i + 8])[0]
        if cid == b"fmt ":
            body = payload[i + 8 : i + 8 + sz]
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:
                raise ValueError(f"wav: only PCM supported, got format {fmt}")
        elif cid == b"data":
            data = i + 8, min(i + 8 + sz, n)
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError(f"wav: expected PCM16 mono, got {bits}-bit {channels}ch")
    return *data, rate


def decode_wav(payload: bytes):
    """Parse a PCM16 mono RIFF/WAVE payload → (samples int16 ndarray,
    sample_rate); see :func:`_wav_data`."""
    import numpy as np

    start, stop, rate = _wav_data(payload)
    return np.frombuffer(payload[start:stop], dtype="<i2"), rate


def _pcm_layout(payload: bytes):
    """(offset, (n_samples, sample_rate)) of a WAV payload's samples, read
    with ``decode_wav``'s chunk walk. None for a clip that goes through
    ``decode_wav`` alone, so that what rejects it raises at its row: an
    empty or odd-sized data chunk, or a zero sample rate; and a clip
    whose walk read a chunk header after the samples."""
    start, stop, rate = _wav_data(payload)
    n = stop - start
    if n == 0 or n % 2 or rate == 0 or stop + 8 <= len(payload):
        return None
    return start, (n // 2, rate)


def _pcm_alone(payload):
    """One payload through ``decode_wav``: a batch of one clip."""
    s, rate = decode_wav(bytes(payload))
    return s[None], (len(s), rate)


def _pcm(data, starts, geometry):
    """The (k, n) int16 samples of clips of one (n, rate) geometry."""
    width = 2 * geometry[0]
    return _gather(data, starts, 1, width, width).reshape(-1, width).view(
        "<i2")


def _synthesize_audio_kernel(batch):
    """One batch of ``synthesize_audio`` payloads, built in one uint8
    buffer: each row's header and samples are laid out in a row of the
    longest clip's width, and a mask keeps each row's own bytes."""
    import numpy as np
    import pyarrow as pa

    ids, d = _synth_ids(batch, "synthesize_audio")
    n = 64 + d % 64
    amp = 100 + d % 900
    ns, which = np.unique(n, return_inverse=True)
    heads = np.frombuffer(
        b"".join(_wav_prefix(2 * k, AUDIO_RATE) for k in ns.tolist()),
        dtype=np.uint8,
    ).reshape(len(ns), 44)
    sign = np.where(np.arange(127) % 2, -1, 1)  # 127: the longest clip
    pcm = (amp[:, None] * sign).astype("<i2").view(np.uint8)
    rows = np.concatenate([heads[which], pcm], axis=1)
    lengths = 44 + 2 * n
    offsets = np.zeros(len(d) + 1, np.int64)
    np.cumsum(lengths, out=offsets[1:])
    out = rows[np.arange(rows.shape[1]) < lengths[:, None]]
    return pa.RecordBatch.from_arrays(
        [ids, _binary_array(out, offsets), pa.repeat("audio/wav", len(d))],
        names=[batch.schema.names[0], "payload", "mime"],
    )


def synthesize_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real WAV payloads: a square wave of amplitude
    ``100 + doc_id % 900`` over ``64 + doc_id % 64`` samples — closed-form
    RMS (= amplitude exactly: sqrt of a perfect-square double), peak, and
    zero-crossing count, so the decode path carries an exact SQL oracle.
    An Arrow kernel builds each batch's payloads at once; a NULL id
    raises."""
    return _map_arrow(df.select(id_col), _synthesize_audio_kernel,
                      _SYNTH_SCHEMA.format(id_col))


def _audio_features_kernel(batch, id_col: str):
    """``audio_features`` over one batch: per (n, rate), the integer sums
    of squares, peaks and sign changes of all its clips at once."""
    import numpy as np
    import pyarrow as pa

    n_rows = batch.num_rows
    ints = np.zeros((4, n_rows), np.int64)  # n, rate, peak, crossings
    floats = np.zeros((2, n_rows))  # duration_ms, rms
    for rows, s, (n, rate) in _grouped(batch.column("payload"), _pcm_layout,
                                       _pcm_alone, _pcm):
        duration = n * 1000.0 / rate
        sq = (s.astype(np.int64) ** 2).sum(axis=1)
        rms = np.sqrt(sq / float(n))
        for j in np.flatnonzero(sq >= 2 ** 53):  # a float64 sum may round
            x = s[j].astype(np.float64)
            rms[j] = np.sqrt(np.mean(x * x))
        ints[0, rows], ints[1, rows] = n, rate
        ints[2, rows] = np.abs(s).max(axis=1)
        neg = s < 0
        ints[3, rows] = (neg[:, 1:] != neg[:, :-1]).sum(axis=1)
        floats[0, rows], floats[1, rows] = duration, rms
    return pa.RecordBatch.from_arrays(
        [batch.column(id_col).cast(pa.int64()),
         pa.array(ints[0]), pa.array(ints[1]), pa.array(floats[0]),
         pa.array(floats[1]), pa.array(ints[2]), pa.array(ints[3])],
        names=[id_col, "n_samples", "sample_rate", "duration_ms", "rms",
               "peak", "zero_crossings"],
    )


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + audio features: duration, RMS energy, peak, and
    zero-crossing count — the standard audio-quality signals for corpus
    filtering. An Arrow kernel walks every payload's chunk list, then
    reduces all clips of one length and rate at once."""
    return _map_arrow(
        df.select(id_col, "payload"),
        partial(_audio_features_kernel, id_col=id_col),
        f"{id_col} BIGINT, n_samples BIGINT, sample_rate BIGINT, "
        "duration_ms DOUBLE, rms DOUBLE, peak BIGINT, zero_crossings BIGINT",
    )


def _audio_spectral_kernel(batch, id_col: str):
    """``audio_spectral`` over one batch: headers and samples come from
    the Arrow buffers, the rfft stays one call per clip (a batched rfft
    may round differently)."""
    import numpy as np
    import pyarrow as pa

    n_rows = batch.num_rows
    ints = np.zeros((2, n_rows), np.int64)  # dominant_bin, n_bins
    freq = np.zeros(n_rows)
    for rows, s, (n, rate) in _grouped(batch.column("payload"), _pcm_layout,
                                       _pcm_alone, _pcm):
        for i, clip in zip(rows.tolist(), s):
            mag = np.abs(np.fft.rfft(clip.astype(np.float64)))
            b = int(np.argmax(mag))
            ints[:, i] = b, len(mag)
            freq[i] = b * float(rate) / n
    return pa.RecordBatch.from_arrays(
        [batch.column(id_col).cast(pa.int64()), pa.array(ints[0]),
         pa.array(freq), pa.array(ints[1])],
        names=[id_col, "dominant_bin", "dominant_freq_hz", "n_bins"],
    )


def audio_spectral(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + SPECTRAL features: run an actual rfft over the PCM
    samples and report the dominant bin, its frequency, and the bin
    count — the frequency-domain signals an audio-curation pass keys on
    (speech/music/noise discrimination starts at "where does the energy
    live"). An Arrow kernel reads the samples; numpy's FFT does the math,
    one clip per call.

    Exactness: the synthetic corpus is the Nyquist-alternating square
    wave, whose spectrum is closed-form — |X[m]| = a·|sin(nθ/2)/sin(θ/2)|
    is strictly increasing toward the top bin, so argmax = n//2 for
    every parity and dominant_freq = (n//2)·rate/n, giving the FFT path
    an exact SQL oracle (same trick as the RMS gate: a genuinely
    computed quantity whose value is provably closed-form on this
    corpus)."""
    return _map_arrow(
        df.select(id_col, "payload"),
        partial(_audio_spectral_kernel, id_col=id_col),
        f"{id_col} BIGINT, dominant_bin BIGINT, dominant_freq_hz DOUBLE, "
        "n_bins BIGINT",
    )


def image_ahash(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + perceptual average-hash (aHash — the standard cheap
    image fingerprint image-dedup pipelines bucket on): grayscale =
    (r+g+b)//3 per pixel, bit = gray > mean(gray), the 64 bits emitted
    as four 16-bit band keys (``b0..b3``). The band split IS the LSH
    layout: images sharing any band are near-dup candidates, so the
    pair join downstream is an equality join — never all-pairs.

    Exact cross-engine: integer grayscale, and mean = sum/64 (a
    power-of-two divide of an exactly-representable integer sum) is
    bitwise the same double in numpy and SQL."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"b0": [], "b1": [], "b2": [], "b3": [],
                    "mean_r": [], "mean_g": [], "mean_b": []}
            for payload in pdf["payload"]:
                img = decode_image(bytes(payload))
                gray = (
                    img[:, :, 0].astype(np.int64)
                    + img[:, :, 1] + img[:, :, 2]
                ) // 3
                flat = gray.reshape(-1)
                bits = (flat > flat.mean()).astype(np.int64)
                for b in range(4):
                    val = int(
                        (bits[b * 16:(b + 1) * 16]
                         << np.arange(16, dtype=np.int64)).sum()
                    )
                    rows[f"b{b}"].append(val)
                for ch, name in enumerate(("mean_r", "mean_g", "mean_b")):
                    rows[name].append(
                        float(img[:, :, ch].astype(np.float64).mean())
                    )
            yield pd.DataFrame({id_col: pdf[id_col], **rows})

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, b0 BIGINT, b1 BIGINT, b2 BIGINT, "
            "b3 BIGINT, mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE"
        ),
    )


def image_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                        max_hamming: int = 8,
                        max_color_l1: float = 25.0,
                        color_bucket: int = 8) -> DataFrame:
    """Image near-duplicate pairs — the multimodal twin of MinHash-LSH
    text dedup. Candidates = equality join on COMPOSITE blocking keys
    (16-bit aHash band, quantized green mean): structure alone
    under-blocks on low-texture corpora (every smooth gradient shares
    an aHash), color alone under-blocks on recolored crops — the pair
    key needs both, which is also what keeps the join bounded here.
    Verification is exact and dual: 64-bit hamming distance
    (bit_count(xor), codegen'd) ≤ ``max_hamming`` AND channel-mean L1
    ≤ ``max_color_l1``. Like every LSH family, blocking recall < 1
    (a pair straddling a color-bucket boundary is missed; raise
    recall with multi-probe on adjacent buckets).

    ``df`` is (id, payload); decode + hashing is the one Python (Arrow)
    pass, everything after stays in the JVM — never all-pairs."""
    # the fingerprint table feeds three join branches (bands twice, the
    # verification sides twice) — cache it so the Arrow decode pass runs
    # once, not once per branch (same discipline as minhash's wide cache)
    hashed = image_ahash(df, id_col).cache()
    cbucket = F.floor(F.col("mean_g") / color_bucket).cast("bigint")
    bandsv = F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bv"))
        for b in range(4)
    ])
    bands = hashed.select(
        id_col, cbucket.alias("cb"), F.explode(bandsv).alias("p")
    ).select(
        id_col, "cb", F.col("p.band").alias("band"), F.col("p.bv").alias("bv")
    )
    ba = bands.select(F.col(id_col).alias("doc_a"), "cb", "band", "bv")
    bb = bands.select(F.col(id_col).alias("doc_b"), "cb", "band", "bv")
    cand = (
        ba.join(bb, ["cb", "band", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    wa = hashed.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"b{b}").alias(f"a{b}") for b in range(4)],
        F.col("mean_r").alias("ar"), F.col("mean_g").alias("ag"),
        F.col("mean_b").alias("ab"),
    )
    wb = hashed.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"b{b}").alias(f"bb{b}") for b in range(4)],
        F.col("mean_r").alias("br"), F.col("mean_g").alias("bg"),
        F.col("mean_b").alias("bb_"),
    )
    hamming = sum(
        F.bit_count(F.expr(f"a{b} ^ bb{b}")) for b in range(4)
    )
    l1 = (
        F.abs(F.col("ar") - F.col("br"))
        + F.abs(F.col("ag") - F.col("bg"))
        + F.abs(F.col("ab") - F.col("bb_"))
    )
    return (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b",
                hamming.cast("bigint").alias("hamming"),
                l1.alias("color_l1"))
        .filter((F.col("hamming") <= max_hamming)
                & (F.col("color_l1") <= max_color_l1))
    )


def video_frame_signatures(df: DataFrame,
                           id_col: str = "doc_id") -> DataFrame:
    """Decode ALL frames (one Arrow pass, real FSV1 parsing) and reduce
    each to its integer channel-mean signature — the per-frame
    fingerprint table video dedup builds on."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, fnos, rs, gs, bs = [], [], [], [], []
            ws, hs, fpss = [], [], []
            for d, payload in zip(pdf[id_col], pdf["payload"]):
                payload = bytes(payload)
                n_frames, fps = decode_video_header(payload)
                for fno, img in iter_video_frames(
                    payload, set(range(n_frames))
                ):
                    ids.append(d)
                    fnos.append(fno)
                    rs.append(int(img[:, :, 0].astype("int64").mean()))
                    gs.append(int(img[:, :, 1].astype("int64").mean()))
                    bs.append(int(img[:, :, 2].astype("int64").mean()))
                    ws.append(img.shape[1])
                    hs.append(img.shape[0])
                    fpss.append(fps)
            yield pd.DataFrame(
                {id_col: ids, "frame_no": fnos,
                 "r": rs, "g": gs, "b": bs,
                 "w": ws, "h": hs, "fps": fpss}
            )

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, frame_no INT, r BIGINT, g BIGINT, "
            "b BIGINT, w INT, h INT, fps INT"
        ),
    )


def video_dedup_groups(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """VIDEO dedup — the multimodal mirror of llm_dedup_exact: a
    full-sequence fingerprint (md5 over fps + the ordered per-frame
    geometry+channel-mean signatures) groups same-content videos; one
    row per group with the canonical keep id and the copy count. The
    grouping is EXACT for constant-plane frames (all synthesized corpora
    here) and perceptual for real video — see
    video_dedup_groups_from_sigs for the signature contract and the
    byte-exact swap-in. One hash shuffle on the fingerprint; LINEAR
    output at any scale (the r9 pair-form first cut was retired
    precisely because duplicate-pair enumeration is inherently quadratic
    in per-group copies — 20.8x at sf1)."""
    return video_dedup_groups_from_sigs(
        video_frame_signatures(df, id_col), id_col
    )


def video_neardup_pairs(df: DataFrame, id_col: str = "doc_id",
                        min_match: int = 1) -> DataFrame:
    """VIDEO near-duplicate pairs via temporal-shingle overlap — the
    shot-level dedup a video-curation pass runs AFTER exact dedup:
    canonicalize first (one video per full-sequence fingerprint; the
    cheap linear stage absorbs exact copies, which would otherwise
    explode the pair join quadratically), then equality-join
    consecutive-frame shingles among CANONICALS only and keep pairs
    sharing at least ``min_match`` shingles.

    Scale shape: the shingle table is |canonical frames| rows; the join
    key is the 2-frame shingle (a far larger effective key space than a
    single frame signature), so candidates stay bounded by genuine
    shared shots."""
    sigs = video_frame_signatures(df, id_col).cache()
    canon = (
        video_dedup_groups_from_sigs(sigs, id_col)
        .select(F.col("keep_id").alias(id_col))
    )
    csigs = sigs.join(F.broadcast(canon), id_col)
    nxt = csigs.select(
        id_col, (F.col("frame_no") + 1).alias("frame_no"),
        F.col("r").alias("r2"), F.col("g").alias("g2"),
        F.col("b").alias("b2"),
    )
    # DISTINCT shingle values per doc: a still scene repeating one
    # shingle p times in doc_a and q times in doc_b must count as ONE
    # shared shingle, not p*q — the occurrence cross-product would both
    # inflate n_match and promote single-shot overlaps past min_match
    shingles = (
        csigs.join(nxt, [id_col, "frame_no"])
        .select(id_col, "r", "g", "b", "r2", "g2", "b2")
        .distinct()
    )
    a = shingles.select(F.col(id_col).alias("doc_a"),
                        "r", "g", "b", "r2", "g2", "b2")
    b = shingles.select(F.col(id_col).alias("doc_b"),
                        "r", "g", "b", "r2", "g2", "b2")
    return (
        a.join(b, ["r", "g", "b", "r2", "g2", "b2"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_match"))
        .filter(F.col("n_match") >= min_match)
    )


def video_dedup_groups_from_sigs(sigs: DataFrame,
                                 id_col: str = "doc_id") -> DataFrame:
    """video_dedup_groups over an already-computed signature table.

    The fingerprint covers fps + per-frame (w, h, r̄, ḡ, b̄): geometry
    and frame rate are part of content identity (equal-mean videos at
    different resolutions or speeds must NOT merge). The per-frame
    reduction is the integer channel means — exact for constant-plane
    frames (every synthesized corpus here), a perceptual signature for
    real video; a deployment wanting byte-exact grouping swaps the mean
    triplet for a full-frame content hash in the same decode pass."""
    frame_sig = F.concat_ws(
        ":",
        F.col("r").cast("string"),
        F.col("g").cast("string"),
        F.col("b").cast("string"),
        F.col("w").cast("string"),
        F.col("h").cast("string"),
    )
    fp = sigs.groupBy(id_col).agg(
        F.md5(
            F.concat_ws(
                "|",
                F.concat(
                    F.lit("fps="), F.min("fps").cast("string")
                ),
                F.concat_ws(
                    "|",
                    F.array_sort(
                        F.collect_list(
                            F.struct("frame_no", frame_sig.alias("sig"))
                        )
                    ).getField("sig"),
                ),
            )
        ).alias("video_fp")
    )
    return fp.groupBy("video_fp").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def resize_image(img, out_w: int, out_h: int):
    """Nearest-neighbor resize on a decoded HxWx3 array (pure numpy
    index sampling — deterministic, no interpolation kernel)."""
    import numpy as np

    h, w = img.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return img[rows][:, cols]


def image_resize_features(df: DataFrame, out_w: int, out_h: int,
                          id_col: str = "doc_id") -> DataFrame:
    """Decode → nearest-neighbor resize → per-channel means of the
    RESIZED image: the thumbnailing pass of an image-curation pipeline,
    with geometry + means exact-oracle-able for the synthesized
    gradient images."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"width": [], "height": [], "mean_r": [], "mean_g": [],
                    "mean_b": []}
            for payload in pdf["payload"]:
                img = resize_image(decode_image(bytes(payload)), out_w, out_h)
                rows["width"].append(img.shape[1])
                rows["height"].append(img.shape[0])
                rows["mean_r"].append(float(img[:, :, 0].mean()))
                rows["mean_g"].append(float(img[:, :, 1].mean()))
                rows["mean_b"].append(float(img[:, :, 2].mean()))
            yield pd.DataFrame({id_col: pdf[id_col], **rows})

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, width INT, height INT, mean_r DOUBLE, "
            "mean_g DOUBLE, mean_b DOUBLE"
        ),
    )


# --------------------------------------------------------------- video ----
# Real multi-frame container ("FSV1"): magic + BE frame count + BE fps +
# length-prefixed P6 PPM frames. Every frame is a genuine image file; the
# container header is genuinely parsed on decode — the video analog of the
# PPM/WAV paths (no codec library needed, unlike mp4/h264 which would be
# capability-gated behind PyAV). Reference parity: the binary-column
# decode pattern of flink-connector-files, applied to the frame-sampling
# step of a video-curation pipeline.

VIDEO_MAGIC = b"FSV1"
VIDEO_FPS = 4
VID_W, VID_H = 8, 8


def encode_video(frames, fps: int = VIDEO_FPS) -> bytes:
    """Encode a list of (h, w, 3) uint8 arrays as an FSV1 container."""
    import struct

    out = [VIDEO_MAGIC, struct.pack(">II", len(frames), fps)]
    for fr in frames:
        ppm = encode_ppm(fr)
        out.append(struct.pack(">I", len(ppm)))
        out.append(ppm)
    return b"".join(out)


def decode_video_header(payload: bytes) -> tuple[int, int]:
    """Parse just the container header → (n_frames, fps). Cheap: no frame
    bytes are touched, which is what lets sampling skip unsampled frames."""
    import struct

    if payload[:4] != VIDEO_MAGIC:
        raise ValueError("not an FSV1 container")
    return struct.unpack(">II", payload[4:12])


def iter_video_frames(payload: bytes, wanted=None):
    """Yield (frame_no, ndarray) for the wanted frame numbers (all when
    None). Seeks via the length prefixes — unsampled frames are skipped
    without decoding, the I/O shape real keyframe extraction has."""
    import struct

    n_frames, _fps = decode_video_header(payload)
    off = 12
    for fno in range(n_frames):
        (flen,) = struct.unpack(">I", payload[off:off + 4])
        off += 4
        if wanted is None or fno in wanted:
            yield fno, decode_ppm(payload[off:off + flen])
        off += flen


def synthesize_videos(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic FSV1 videos derived from the doc id: ``3 + id % 4``
    frames at 4 fps, frame ``f`` having constant channel planes
    ``R=(id+17f)%256, G=(5id+3f)%256, B=(11id+7f)%256`` — closed-form
    per-frame means, so the sampled-frame decode carries an exact SQL
    oracle."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                frames = []
                for f in range(3 + int(d) % 4):
                    img = np.empty((VID_H, VID_W, 3), dtype=np.uint8)
                    img[:, :, 0] = np.uint8((int(d) + 17 * f) % 256)
                    img[:, :, 1] = np.uint8((int(d) * 5 + 3 * f) % 256)
                    img[:, :, 2] = np.uint8((int(d) * 11 + 7 * f) % 256)
                    frames.append(img)
                payloads.append(encode_video(frames))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                    "mime": "video/x-fsv",
                }
            )

    return df.select(id_col).mapInPandas(
        gen, schema=f"{id_col} BIGINT, payload BINARY, mime STRING"
    )


def video_frame_sample(df: DataFrame, step: int = 2,
                       id_col: str = "doc_id") -> DataFrame:
    """Uniform frame sampling + decode of the SAMPLED frames only: parse
    the container header, seek to frames 0, step, 2*step, …, decode each
    and emit per-frame channel means with the frame timestamp. One input
    row fans out to ceil(n_frames/step) rows inside the Arrow batch —
    the explode happens in Python where the decode already is, so no
    second shuffle. At 100 TB the unsampled frames are never decoded
    (length-prefix seek), which is the point of sampling."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            ids, nfr, fnos, tss = [], [], [], []
            mr, mg, mb = [], [], []
            for d, payload in zip(pdf[id_col], pdf["payload"]):
                payload = bytes(payload)
                n_frames, fps = decode_video_header(payload)
                wanted = set(range(0, n_frames, step))
                for fno, img in iter_video_frames(payload, wanted):
                    ids.append(d)
                    nfr.append(n_frames)
                    fnos.append(fno)
                    tss.append(fno / fps)
                    mr.append(float(img[:, :, 0].mean()))
                    mg.append(float(img[:, :, 1].mean()))
                    mb.append(float(img[:, :, 2].mean()))
            yield pd.DataFrame(
                {id_col: ids, "n_frames": nfr, "frame_no": fnos,
                 "ts_sec": tss, "mean_r": mr, "mean_g": mg, "mean_b": mb}
            )

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, n_frames INT, frame_no INT, ts_sec DOUBLE, "
            "mean_r DOUBLE, mean_g DOUBLE, mean_b DOUBLE"
        ),
    )
