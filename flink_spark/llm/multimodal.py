"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched pandas UDFs.

Design for 100 TB: the binary column never leaves the JVM until a decode
step genuinely needs Python; metadata (size, hash, mime) is computed with
JVM expressions so filtering/partition pruning happens before any decode.
The decode itself is `mapInPandas` — Arrow batches, one Python process per
core, no per-row ser/de.

Decode is capability-gated per format: PPM (P6) and uncompressed 24-bit
BMP decode natively here (pure numpy header parse + frombuffer — real
image files, no codec library needed); jpeg/png/webp route to PIL when
the deployment has it and raise NotImplementedError otherwise. The
byte-level `_fake_decode` below remains as the codec-free fallback used
by `extract_features` for opaque payloads.
"""

from __future__ import annotations

import sys
from collections.abc import Iterator

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The mapInPandas closures below call this module's functions
# (_fake_decode, decode_image, encode_ppm, ...). Pickled by reference, a
# Python worker would have to import flink_spark, which a worker started
# without this package on its path cannot; by value, a worker needs only
# numpy and pandas. The module imports nothing else from flink_spark.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

FEATURE_SCHEMA = (
    "doc_id BIGINT, n_bytes INT, mime STRING, byte_mean DOUBLE, "
    "byte_min INT, byte_max INT, feature_ok BOOLEAN"
)


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


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a codec. Real deployments replace this
    with e.g. PIL.Image.open(io.BytesIO(payload)).
    """
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


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = pdf["payload"].map(_fake_decode)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # nullable Int32: a NULL payload row arrives with
                    # n_bytes NaN (octet_length of NULL), and a plain
                    # int32 astype raises on non-finite values — the
                    # null-tolerant _fake_decode branch must stay
                    # reachable
                    "n_bytes": pdf["n_bytes"].astype("Int32"),
                    "mime": pdf["mime"],
                    "byte_mean": feats.map(lambda d: d["byte_mean"]),
                    "byte_min": feats.map(lambda d: d["byte_min"]),
                    "byte_max": feats.map(lambda d: d["byte_max"]),
                    "feature_ok": feats.map(lambda d: d["ok"]),
                }
            )
            yield out

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# real raster decode path (pure numpy — no codec library needed)


def encode_ppm(pixels) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary P6 PPM — a real image
    file any viewer/PIL can open."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = arr.shape
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(payload: bytes):
    """Parse binary P6 PPM → (h, w, 3) uint8 ndarray. Real header parsing
    (whitespace/comment tolerant), numpy frombuffer for pixels."""
    import numpy as np

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
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    return np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i).reshape(
        h, w, 3
    )


def decode_bmp(payload: bytes):
    """Parse an uncompressed 24-bit BMP (BITMAPINFOHEADER) → (h, w, 3)
    uint8 RGB ndarray. BMP stores BGR bottom-up with 4-byte row padding."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    pix_off = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise ValueError("only uncompressed 24-bit BMP supported")
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


#: synthetic image geometry: 8×8, R gradient (no wraparound for
#: doc_id%100 + linear index ≤ 163 < 256 — keeps the mean closed-form)
IMG_W = IMG_H = 8


def synthesize_images(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real PPM images derived from the doc id: R channel a
    linear gradient ``(doc_id % 100) + pixel_index``, G/B constant planes
    ``(doc_id*7) % 256`` / ``(doc_id*13) % 256`` — every byte of every
    payload is a real P6 file with a closed-form channel mean, which is
    what lets the decode path carry an exact SQL oracle."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        idx = np.arange(IMG_W * IMG_H, dtype=np.uint8).reshape(IMG_H, IMG_W)
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                img = np.empty((IMG_H, IMG_W, 3), dtype=np.uint8)
                img[:, :, 0] = idx + np.uint8(d % 100)
                img[:, :, 1] = np.uint8((d * 7) % 256)
                img[:, :, 2] = np.uint8((d * 13) % 256)
                payloads.append(encode_ppm(img))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                    "mime": "image/x-portable-pixmap",
                }
            )

    return df.select(id_col).mapInPandas(
        gen, schema=f"{id_col} BIGINT, payload BINARY, mime STRING"
    )


def image_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + feature extraction: parse each payload with
    ``decode_image`` and emit geometry + per-channel means — Arrow-batched
    ``mapInPandas``, only (id, payload) crosses the Python boundary."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"width": [], "height": [], "mean_r": [], "mean_g": [],
                    "mean_b": []}
            for payload in pdf["payload"]:
                img = decode_image(bytes(payload))
                rows["width"].append(img.shape[1])
                rows["height"].append(img.shape[0])
                rows["mean_r"].append(float(img[:, :, 0].mean()))
                rows["mean_g"].append(float(img[:, :, 1].mean()))
                rows["mean_b"].append(float(img[:, :, 2].mean()))
            out = pd.DataFrame({id_col: pdf[id_col], **rows})
            yield out

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, width INT, height INT, mean_r DOUBLE, "
            "mean_g DOUBLE, mean_b DOUBLE"
        ),
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


def encode_wav(samples, sample_rate: int = AUDIO_RATE) -> bytes:
    """PCM16 mono WAV: 44-byte canonical RIFF header + raw samples."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(pcm),
    )
    return hdr + pcm


def decode_wav(payload: bytes):
    """Parse a PCM16 mono RIFF/WAVE payload → (samples int16 ndarray,
    sample_rate). Walks the chunk list (fmt /data may be preceded by
    LIST/fact chunks in files from other writers)."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, n = 12, len(payload)
    rate, bits, channels, data = None, None, None, None
    while i + 8 <= n:
        cid, sz = payload[i : i + 4], struct.unpack("<I", payload[i + 4 : i + 8])[0]
        body = payload[i + 8 : i + 8 + sz]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if fmt != 1:
                raise ValueError(f"wav: only PCM supported, got format {fmt}")
        elif cid == b"data":
            data = body
        i += 8 + sz + (sz & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("wav: missing fmt/data chunk")
    if bits != 16 or channels != 1:
        raise ValueError(f"wav: expected PCM16 mono, got {bits}-bit {channels}ch")
    return np.frombuffer(data, dtype="<i2"), rate


def synthesize_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic real WAV payloads: a square wave of amplitude
    ``100 + doc_id % 900`` over ``64 + doc_id % 64`` samples — closed-form
    RMS (= amplitude exactly: sqrt of a perfect-square double), peak, and
    zero-crossing count, so the decode path carries an exact SQL oracle."""
    import numpy as np
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            payloads = []
            for d in pdf[id_col]:
                n = 64 + int(d) % 64
                amp = 100 + int(d) % 900
                s = np.full(n, amp, dtype=np.int16)
                s[1::2] = -amp
                payloads.append(encode_wav(s))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": pd.Series(payloads, dtype="object"),
                    "mime": "audio/wav",
                }
            )

    return df.select(id_col).mapInPandas(
        gen, schema=f"{id_col} BIGINT, payload BINARY, mime STRING"
    )


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + audio features: duration, RMS energy, peak, and
    zero-crossing count — the standard audio-quality signals for corpus
    filtering. Arrow-batched ``mapInPandas``; numpy does the math."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"n_samples": [], "sample_rate": [], "duration_ms": [],
                    "rms": [], "peak": [], "zero_crossings": []}
            for payload in pdf["payload"]:
                s, rate = decode_wav(bytes(payload))
                x = s.astype(np.float64)
                rows["n_samples"].append(len(s))
                rows["sample_rate"].append(rate)
                rows["duration_ms"].append(len(s) * 1000.0 / rate)
                rows["rms"].append(float(np.sqrt(np.mean(x * x))))
                rows["peak"].append(int(np.abs(s).max()))
                rows["zero_crossings"].append(
                    int(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
                )
            yield pd.DataFrame({id_col: pdf[id_col], **rows})

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, n_samples BIGINT, sample_rate BIGINT, "
            "duration_ms DOUBLE, rms DOUBLE, peak BIGINT, "
            "zero_crossings BIGINT"
        ),
    )


def audio_spectral(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Real decode + SPECTRAL features: run an actual rfft over the PCM
    samples and report the dominant bin, its frequency, and the bin
    count — the frequency-domain signals an audio-curation pass keys on
    (speech/music/noise discrimination starts at "where does the energy
    live"). Arrow-batched ``mapInPandas``; numpy's FFT does the math.

    Exactness: the synthetic corpus is the Nyquist-alternating square
    wave, whose spectrum is closed-form — |X[m]| = a·|sin(nθ/2)/sin(θ/2)|
    is strictly increasing toward the top bin, so argmax = n//2 for
    every parity and dominant_freq = (n//2)·rate/n, giving the FFT path
    an exact SQL oracle (same trick as the RMS gate: a genuinely
    computed quantity whose value is provably closed-form on this
    corpus)."""
    import numpy as np
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = {"dominant_bin": [], "dominant_freq_hz": [],
                    "n_bins": []}
            for payload in pdf["payload"]:
                s, rate = decode_wav(bytes(payload))
                mag = np.abs(np.fft.rfft(s.astype(np.float64)))
                b = int(np.argmax(mag))
                n = len(s)
                rows["dominant_bin"].append(b)
                rows["dominant_freq_hz"].append(b * float(rate) / n)
                rows["n_bins"].append(len(mag))
            yield pd.DataFrame({id_col: pdf[id_col], **rows})

    return df.mapInPandas(
        run,
        schema=(
            f"{id_col} BIGINT, dominant_bin BIGINT, "
            "dominant_freq_hz DOUBLE, n_bins BIGINT"
        ),
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
