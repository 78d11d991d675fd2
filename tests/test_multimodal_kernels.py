"""The multimodal Arrow kernels against the row-by-row bodies they
replaced, bit for bit.

Each ``_ref_*`` function below is the per-row ``mapInPandas`` body the
kernel replaced, kept verbatim except that it reads a list of payloads
or ids instead of a pandas batch. Floats are compared with
``float.hex``, and a rejected payload must raise the same exception,
with the same text, at the same row."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest

from flink_spark.llm import multimodal as MM


# ----------------------------------------------------- reference bodies ----


def _ref_fake_decode(payload):
    if payload is None:
        return {"byte_mean": None, "byte_min": None, "byte_max": None, "ok": False}
    arr = bytearray(payload)
    if not arr:
        return {"byte_mean": None, "byte_min": None, "byte_max": None, "ok": False}
    return {
        "byte_mean": sum(arr) / len(arr),
        "byte_min": min(arr),
        "byte_max": max(arr),
        "ok": True,
    }


def _ref_extract_features(payloads):
    out = []
    for payload in payloads:
        f = _ref_fake_decode(payload)
        out.append((f["byte_mean"], f["byte_min"], f["byte_max"], f["ok"]))
    return out


def _ref_image_features(payloads):
    rows = []
    for payload in payloads:
        img = MM.decode_image(bytes(payload))
        rows.append((img.shape[1], img.shape[0],
                     float(img[:, :, 0].mean()),
                     float(img[:, :, 1].mean()),
                     float(img[:, :, 2].mean())))
    return rows


def _ref_audio_features(payloads):
    rows = []
    for payload in payloads:
        s, rate = MM.decode_wav(bytes(payload))
        x = s.astype(np.float64)
        rows.append((
            len(s), rate, len(s) * 1000.0 / rate,
            float(np.sqrt(np.mean(x * x))),
            int(np.abs(s).max()),
            int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))),
        ))
    return rows


def _ref_audio_spectral(payloads):
    rows = []
    for payload in payloads:
        s, rate = MM.decode_wav(bytes(payload))
        mag = np.abs(np.fft.rfft(s.astype(np.float64)))
        b = int(np.argmax(mag))
        rows.append((b, b * float(rate) / len(s), len(mag)))
    return rows


def _ref_synthesize_images(ids):
    idx = np.arange(MM.IMG_W * MM.IMG_H, dtype=np.uint8).reshape(
        MM.IMG_H, MM.IMG_W)
    payloads = []
    for d in ids:
        img = np.empty((MM.IMG_H, MM.IMG_W, 3), dtype=np.uint8)
        img[:, :, 0] = idx + np.uint8(d % 100)
        img[:, :, 1] = np.uint8((d * 7) % 256)
        img[:, :, 2] = np.uint8((d * 13) % 256)
        payloads.append(MM.encode_ppm(img))
    return payloads


def _ref_synthesize_audio(ids):
    payloads = []
    for d in ids:
        n = 64 + int(d) % 64
        amp = 100 + int(d) % 900
        s = np.full(n, amp, dtype=np.int16)
        s[1::2] = -amp
        payloads.append(MM.encode_wav(s))
    return payloads


# ------------------------------------------------------------- payloads ----


def _bmp(img, top_down=False):
    """A 24-bit BMP of an (h, w, 3) RGB array (BGR rows, 4-byte padded,
    bottom-up unless ``top_down``, which stores a negative height)."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    order = img if top_down else img[::-1]
    pix = b"".join(
        row[:, ::-1].tobytes() + bytes(stride - w * 3) for row in order)
    head = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 24,
                       0, len(pix), 2835, 2835, 0, 0)
    return head + info + pix


def _wav_with_list_chunk(samples, rate):
    """A WAV whose data chunk comes after an odd-sized LIST chunk."""
    raw = MM.encode_wav(samples, rate)
    foreign = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    out = raw[:36] + foreign + raw[36:]
    return out[:4] + struct.pack("<I", len(out) - 8) + out[8:]


def _images():
    rng = np.random.RandomState(11)
    a = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    b = rng.randint(0, 256, size=(3, 5, 3), dtype=np.uint8)
    c = rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    commented = (b"P6 # a comment\n# another\n\t 5\r\n 3 \x0b255\n"
                 + b.tobytes())
    return [
        MM.encode_ppm(a),
        _bmp(b),  # bottom-up, padded rows
        commented,  # same geometry as the BMP, another layout
        _bmp(c, top_down=True),
        MM.encode_ppm(b),
        MM.encode_ppm(c) + b"trailing bytes",
        _bmp(a),
        MM.encode_ppm(a[:1, :1]),
    ]


def _clips():
    square = np.full(97, 300, dtype=np.int16)
    square[1::2] = -300
    rng = np.random.RandomState(5)
    noise = rng.randint(-32768, 32768, size=64).astype(np.int16)
    peak = np.array([5, -32768, 7, -1], dtype=np.int16)  # |−32768| wraps
    return [
        MM.encode_wav(square),
        MM.encode_wav(noise, 16000),
        _wav_with_list_chunk(noise, 16000),
        MM.encode_wav(peak),
        MM.encode_wav(np.array([3], dtype=np.int16), 22050),
        MM.encode_wav(square[:96], 11025),
    ]


# -------------------------------------------------------------- helpers ----


def _batch(payloads, binary_type=pa.binary(), ids=None):
    ids = list(range(len(payloads))) if ids is None else ids
    return pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(payloads, binary_type)],
        names=["doc_id", "payload"],
    )


def _hex(rows):
    return [tuple(float.hex(v) if isinstance(v, float) else v for v in r)
            for r in rows]


def _rows(batch, names):
    cols = [batch.column(n).to_pylist() for n in names]
    return list(zip(*cols))


def _raised(fn, *args):
    with pytest.raises(Exception) as info:
        fn(*args)
    return type(info.value), str(info.value)


BINARY_TYPES = [pa.binary(), pa.large_binary()]


# ---------------------------------------------------------------- tests ----


@pytest.mark.parametrize("binary_type", BINARY_TYPES, ids=str)
def test_image_features_kernel_bit_identical(binary_type):
    payloads = _images()
    got = MM._image_features_kernel(_batch(payloads, binary_type), "doc_id")
    assert got.schema.types == [pa.int64(), pa.int32(), pa.int32(),
                                pa.float64(), pa.float64(), pa.float64()]
    names = ["width", "height", "mean_r", "mean_g", "mean_b"]
    assert _hex(_rows(got, names)) == _hex(_ref_image_features(payloads))
    assert got.column("doc_id").to_pylist() == list(range(len(payloads)))
    # a slice of a batch reads from a non-zero array offset
    sliced = _batch(payloads, binary_type).slice(3, 4)
    got = MM._image_features_kernel(sliced, "doc_id")
    assert _hex(_rows(got, names)) == _hex(_ref_image_features(payloads[3:7]))
    empty = MM._image_features_kernel(_batch([], binary_type), "doc_id")
    assert empty.num_rows == 0 and empty.num_columns == 6


@pytest.mark.parametrize("bad", [
    b"\x89PNG\r\n\x1a\n....",  # no codec
    b"P6\n2 2\n65535\n" + bytes(24),  # 16-bit PPM
    b"P6\n2 2\n255\n" + bytes(5),  # pixels past the end
    b"P6\n2 # no newline",  # header runs out
    b"BM" + bytes(40),  # 0-bit BMP
    None,
], ids=["png", "ppm16", "short_pixels", "short_header", "bmp0", "null"])
def test_image_features_kernel_rejects_like_rows(bad):
    """A rejected payload raises what the row-by-row body raised, and it
    is the first rejected row that raises, not a later one."""
    payloads = [*_images()[:3], bad, b"\x00\x00not an image"]
    want = _raised(_ref_image_features, payloads)
    assert _raised(MM._image_features_kernel, _batch(payloads),
                   "doc_id") == want


@pytest.mark.parametrize("binary_type", BINARY_TYPES, ids=str)
def test_extract_features_kernel_bit_identical(binary_type):
    rng = np.random.RandomState(3)
    payloads = [
        b"hello", None, b"", bytes(range(256)), None, None,
        rng.bytes(5000), b"\x00", b"", "ünïcödé".encode(), b"\xff" * 3,
    ]
    n = len(payloads)
    batch = pa.RecordBatch.from_arrays(
        [pa.array(range(n), pa.int64()), pa.array(payloads, binary_type),
         pa.array([None if p is None else len(p) for p in payloads],
                  pa.int32()),
         pa.array(["text/plain"] * n)],
        names=["doc_id", "payload", "n_bytes", "mime"],
    )
    got = MM._byte_stats_kernel(batch)
    assert got.schema.types == [pa.int64(), pa.int32(), pa.string(),
                                pa.float64(), pa.int32(), pa.int32(),
                                pa.bool_()]
    names = ["byte_mean", "byte_min", "byte_max", "feature_ok"]
    assert _hex(_rows(got, names)) == _hex(_ref_extract_features(payloads))
    assert got.column("n_bytes").to_pylist() == batch.column(
        "n_bytes").to_pylist()
    for lo in range(n):  # every slice start, so offsets start mid-buffer
        part = MM._byte_stats_kernel(batch.slice(lo, 3))
        assert _hex(_rows(part, names)) == _hex(
            _ref_extract_features(payloads[lo:lo + 3]))
    assert MM._byte_stats_kernel(batch.slice(0, 0)).num_rows == 0


@pytest.mark.parametrize("binary_type", BINARY_TYPES, ids=str)
def test_audio_kernels_bit_identical(binary_type):
    payloads = _clips()
    batch = _batch(payloads, binary_type)
    got = MM._audio_features_kernel(batch, "doc_id")
    names = ["n_samples", "sample_rate", "duration_ms", "rms", "peak",
             "zero_crossings"]
    assert _hex(_rows(got, names)) == _hex(_ref_audio_features(payloads))
    spec = MM._audio_spectral_kernel(batch, "doc_id")
    names = ["dominant_bin", "dominant_freq_hz", "n_bins"]
    assert _hex(_rows(spec, names)) == _hex(_ref_audio_spectral(payloads))
    for kernel in (MM._audio_features_kernel, MM._audio_spectral_kernel):
        assert kernel(batch.slice(0, 0), "doc_id").num_rows == 0


def test_audio_rms_past_exact_integer_sums():
    """A clip whose sum of squares passes 2^53 takes the row's own float
    mean, so its RMS keeps the row-by-row bits. On this clip the exact
    integer sum gives another RMS than numpy's float64 sum does."""
    rng = np.random.RandomState(0)
    n = 2 ** 53 // 30000 ** 2 + 4096
    loud = (32767 - rng.randint(0, 3000, size=n)).astype(np.int16)
    sq = int((loud.astype(np.int64) ** 2).sum())
    assert sq >= 2 ** 53 and np.sqrt(np.float64(sq) / n) != np.sqrt(
        np.mean(loud.astype(np.float64) ** 2))
    payloads = [MM.encode_wav(loud), _clips()[0]]
    got = MM._audio_features_kernel(_batch(payloads), "doc_id")
    assert (_hex(_rows(got, ["rms"]))
            == _hex([(r[3],) for r in _ref_audio_features(payloads)]))


@pytest.mark.parametrize("bad", [
    MM.encode_wav(np.array([], dtype=np.int16)),  # no samples
    MM.encode_wav(np.array([1, 2], dtype=np.int16))[:-1],  # odd data size
    MM.encode_wav(np.array([1, 2], dtype=np.int16), 0),  # rate 0
    b"RIFF\x00\x00\x00\x00WAVEdata\x00\x00\x00\x00",  # no fmt chunk
    b"\x00" * 44,
    None,
], ids=["empty", "odd", "rate0", "no_fmt", "zeros", "null"])
def test_audio_kernels_reject_like_rows(bad):
    import warnings

    payloads = [*_clips()[:2], bad, b"not a wav"]
    for kernel, ref in ((MM._audio_features_kernel, _ref_audio_features),
                        (MM._audio_spectral_kernel, _ref_audio_spectral)):
        with warnings.catch_warnings(), np.errstate(all="ignore"):
            warnings.simplefilter("ignore", RuntimeWarning)  # empty mean
            want = _raised(ref, payloads)
            assert _raised(kernel, _batch(payloads), "doc_id") == want


IDS = [0, 1, 99, 100, 107, 163, 255, 256, 899, 900, 5000, -1, -107,
       2 ** 62 + 12345, -(2 ** 63)]


@pytest.mark.parametrize("kernel,ref,mime", [
    (MM._synthesize_images_kernel, _ref_synthesize_images,
     "image/x-portable-pixmap"),
    (MM._synthesize_audio_kernel, _ref_synthesize_audio, "audio/wav"),
])
def test_synthesizer_kernels_byte_identical(kernel, ref, mime):
    batch = pa.RecordBatch.from_arrays([pa.array(IDS, pa.int64())],
                                       names=["doc_id"])
    got = kernel(batch)
    assert got.schema.names == ["doc_id", "payload", "mime"]
    assert got.schema.types == [pa.int64(), pa.binary(), pa.string()]
    assert got.column("payload").to_pylist() == ref(IDS)
    assert got.column("mime").to_pylist() == [mime] * len(IDS)
    assert got.column("doc_id").to_pylist() == IDS
    assert kernel(batch.slice(0, 0)).num_rows == 0
    with pytest.raises(ValueError, match="NULL doc_id"):
        kernel(pa.RecordBatch.from_arrays([pa.array([1, None])],
                                          names=["doc_id"]))
