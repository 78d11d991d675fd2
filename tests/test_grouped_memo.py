"""The header-parse memo of ``multimodal._grouped``: a payload reuses the
previous payload's parse only when it has the same length and starts
with the same header bytes, and a parse that reads more than that is
never reused. Each batch below holds neighbours that such a memo would
confuse; the kernels must still decode every row as ``decode_image`` and
``decode_wav`` do, or raise at the row they reject."""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pytest

from flink_spark.llm import multimodal as MM


def _batch(payloads):
    return pa.RecordBatch.from_arrays(
        [pa.array(range(len(payloads)), pa.int64()),
         pa.array(payloads, pa.binary())], names=["doc_id", "payload"])


def _image_rows(payloads):
    out = MM._image_features_kernel(_batch(payloads), "doc_id")
    return [tuple(r[c] for c in ("width", "height", "mean_r", "mean_g",
                                 "mean_b")) for r in out.to_pylist()]


def _ref_image_rows(payloads):
    rows = []
    for p in payloads:
        img = MM.decode_image(p)
        rows.append((img.shape[1], img.shape[0],
                     *(float(img[:, :, c].mean()) for c in range(3))))
    return rows


def _bmp_header_overlap(bpp: int) -> bytes:
    """A 2×2 BMP whose pixel offset (26) lies inside the 34 header bytes
    ``_bmp_header`` reads, so bytes past the offset decide its bpp."""
    head = b"BM" + struct.pack("<IHHI", 26 + 16, 0, 0, 26)
    info = struct.pack("<Iii", 40, 2, 2)
    tail = struct.pack("<HHI", 1, bpp, 0)
    return head + info + tail + bytes(range(8))


def test_same_length_ppms_with_other_headers_reparse():
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=192, dtype=np.uint8).tobytes()
    a = b"P6\n8 8\n255\n" + px + b"\x00"  # 204 bytes, trailing pad
    b = b"P6\n16 4\n255\n" + px  # 204 bytes, another geometry
    c = b"P6\n8 8\n255\n" + px[::-1] + b"\x01"  # a's header, new pixels
    d = b"P6#\n8 8 255\n" + px  # a comment moves the offset
    payloads = [a, b, c, a, d, b]
    assert len({len(p) for p in payloads}) == 1
    assert _image_rows(payloads) == _ref_image_rows(payloads)


def test_bmp_whose_header_overlaps_its_pixels_is_not_reused():
    ok, bad = _bmp_header_overlap(24), _bmp_header_overlap(8)
    assert _image_rows([ok, ok]) == _ref_image_rows([ok, ok])
    with pytest.raises(ValueError, match="only uncompressed 24-bit BMP"):
        MM.decode_image(bad)
    with pytest.raises(ValueError, match="only uncompressed 24-bit BMP"):
        _image_rows([ok, bad])


def test_wav_with_chunks_after_its_samples_is_not_reused():
    """The chunk walk reads headers past the samples: a trailing ``fmt ``
    chunk sets the rate, so two clips that agree up to the samples and in
    length may still differ."""
    samples = np.array([5, -5] * 8, dtype="<i2")

    def clip(rate):
        raw = MM.encode_wav(samples, 8000)
        fmt = raw[12:36].replace(struct.pack("<I", 8000),
                                 struct.pack("<I", rate), 1)
        out = raw + fmt
        return out[:4] + struct.pack("<I", len(out) - 8) + out[8:]

    payloads = [clip(8000), clip(16000), clip(8000)]
    out = MM._audio_features_kernel(_batch(payloads), "doc_id").to_pylist()
    want = [(len(s), rate) for s, rate in map(MM.decode_wav, payloads)]
    assert [(r["n_samples"], r["sample_rate"]) for r in out] == want
    assert [w[1] for w in want] == [8000, 16000, 8000]
