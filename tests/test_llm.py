"""LLM operator semantics beyond the oracle gate: LSH recall vs brute
force, multimodal feature extraction, simhash/minhash consistency."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_spark.llm.similarity import brute_force_topk, lsh_topk
from flink_spark.sources.tables import load_table


def _qc(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    return q, c


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    q, c = _qc(spark, sf_dir)
    exact = {
        (r.query_id, r.cand_id)
        for r in brute_force_topk(q, c, k=5).collect()
    }
    # few planes → big buckets → high recall; this checks the mechanism,
    # the recall/cost dial is n_planes
    approx = {
        (r.query_id, r.cand_id)
        for r in lsh_topk(q, c, k=5, n_planes=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall suspiciously low: {recall}"


def test_multimodal_features_deterministic(spark, sf_dir):
    from flink_spark.llm.multimodal import attach_binary, extract_features

    docs = load_table(spark, sf_dir, "documents").limit(50)
    feats = extract_features(attach_binary(docs)).collect()
    assert len(feats) == 50
    by_id = {r.doc_id: r for r in feats}
    # cross-check one row against plain python
    row = load_table(spark, sf_dir, "documents").limit(50).collect()[0]
    payload = row.text.encode()
    assert by_id[row.doc_id].n_bytes == len(payload)
    assert abs(by_id[row.doc_id].byte_mean - sum(payload) / len(payload)) < 1e-9
    assert by_id[row.doc_id].feature_ok


_VANILLA_DECODE = """
import sys

repo, sf = sys.argv[1], sys.argv[2]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "America/New_York")
         .getOrCreate())
import __spark_entry__ as E
from tests.compare import assert_frames_match, run_oracle

name = "llm_multimodal_decode"
got = E.queries()[name](spark, sf).toPandas()
assert_frames_match(got, run_oracle(E.oracle_sql()[name], sf), name)
print("ok")
"""


def test_multimodal_decode_runs_where_workers_cannot_import_package(
    tmp_path,
):
    """A vanilla session (no preloading daemon, so no PYTHONPATH for its
    Python workers) whose driver runs outside the repository: the decode
    closures must reach the workers by value, since the workers cannot
    import flink_spark."""
    import os
    import subprocess
    import sys

    from tests.conftest import SMOKE_SF_DIR

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _VANILLA_DECODE, repo, SMOKE_SF_DIR],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "ok"


@pytest.mark.slow
def test_minhash_estimates_track_true_jaccard(spark, sf_dir):
    from flink_spark.llm.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    true_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    est_pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs).collect()
    }
    # every true near-dup (jaccard >= 0.8) should be found by LSH at
    # agreement >= 0.5 — banding probability at j=0.8 is ~1-(1-0.8^4)^8 ≈ 0.99
    found = sum(1 for p in true_pairs if p in est_pairs)
    assert found >= 0.9 * len(true_pairs), (found, len(true_pairs))


def test_salted_top_n_matches_plain(spark, sf_dir):
    """Skew-resistant two-phase Top-N ≡ plain window Top-N for a total order."""
    from pyspark.sql import functions as F

    from flink_spark.operators.rank import salted_top_n, top_n
    from flink_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    order = [F.desc("value"), F.asc("event_id")]
    plain = top_n(ev, ["user_id"], order, 5)
    salted = salted_top_n(ev, ["user_id"], order, 5, salt_buckets=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF with n_probe=half the cells must recover most exact neighbors."""
    from pyspark.sql import functions as F

    from flink_spark.llm.similarity import brute_force_topk, ivf_topk
    from flink_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["cand_id"])
        for r in brute_force_topk(q, c, k=5).collect()
    }
    approx = {
        (r["query_id"], r["cand_id"])
        for r in ivf_topk(q, c, k=5, n_centroids=4, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall suspiciously low: {recall}"


class TestImageDecode:
    def test_ppm_roundtrip_exact(self):
        import numpy as np

        from flink_spark.llm.multimodal import decode_ppm, encode_ppm

        rng = np.random.RandomState(7)
        img = rng.randint(0, 256, size=(5, 9, 3), dtype=np.uint8)
        assert (decode_ppm(encode_ppm(img)) == img).all()

    def test_ppm_comment_and_whitespace_tolerant(self):
        import numpy as np

        from flink_spark.llm.multimodal import decode_ppm

        raw = b"P6 # comment\n# another\n 2\n1 \n255\n" + bytes(
            [1, 2, 3, 4, 5, 6]
        )
        img = decode_ppm(raw)
        assert img.shape == (1, 2, 3) and img.tolist() == [[[1, 2, 3], [4, 5, 6]]]

    def test_bmp_decode_hand_built(self):
        """Hand-assemble a 2×2 bottom-up 24-bit BMP (BGR, 4-byte row
        padding: 2 px × 3 B = 6 → stride 8) and check RGB/row order."""
        import struct

        from flink_spark.llm.multimodal import decode_bmp

        w = h = 2
        stride = 8
        # rows bottom-up: file row 0 is image bottom row
        bottom = bytes([255, 0, 0, 0, 255, 0]) + b"\x00\x00"  # blue, green (BGR)
        top = bytes([0, 0, 255, 255, 255, 255]) + b"\x00\x00"  # red, white
        pix = bottom + top
        header = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix),
                           2835, 2835, 0, 0)
        img = decode_bmp(header + info + pix)
        assert img.shape == (2, 2, 3)
        assert img[0].tolist() == [[255, 0, 0], [255, 255, 255]]  # top: red, white
        assert img[1].tolist() == [[0, 0, 255], [0, 255, 0]]      # bottom: blue, green

    def test_unknown_codec_raises_without_pil(self):
        import importlib.util

        import pytest

        from flink_spark.llm.multimodal import decode_image

        if importlib.util.find_spec("PIL") is not None:
            pytest.skip("PIL present; gate exercises the no-codec branch")
        with pytest.raises(NotImplementedError, match="no codec"):
            decode_image(b"\x89PNG\r\n\x1a\n....", mime="image/png")

    def test_synthesized_images_are_real_ppm(self, spark):
        from flink_spark.llm.multimodal import decode_ppm, synthesize_images

        df = spark.createDataFrame([(3,), (107,)], "doc_id long")
        rows = {r.doc_id: bytes(r.payload) for r in synthesize_images(df).collect()}
        img = decode_ppm(rows[107])
        assert img.shape == (8, 8, 3)
        assert img[0, 0, 0] == 7          # doc 107: R starts at 107%100
        assert img[0, 0, 1] == (107 * 7) % 256
        assert img[0, 0, 2] == (107 * 13) % 256


def test_wav_codec_roundtrip_and_chunk_walk():
    """PCM16 WAV roundtrip, incl. a foreign LIST chunk before data (other
    writers emit those) and word-aligned odd-size chunks."""
    import struct

    import numpy as np
    import pytest

    from flink_spark.llm.multimodal import decode_wav, encode_wav

    s = np.array([0, 100, -100, 32767, -32768, 7], dtype=np.int16)
    raw = encode_wav(s, 8000)
    got, rate = decode_wav(raw)
    assert rate == 8000 and np.array_equal(got, s)
    # splice a LIST chunk (odd size → word-aligned) between fmt and data
    fmt_end = 12 + 8 + 16
    foreign = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
    spliced = raw[:fmt_end] + foreign + raw[fmt_end:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    got2, _ = decode_wav(spliced)
    assert np.array_equal(got2, s)
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"\x00" * 44)


def test_resize_image_nearest_exact():
    import numpy as np

    from flink_spark.llm.multimodal import resize_image

    img = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    out = resize_image(img, 4, 4)
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out[0, 0], img[0, 0])
    assert np.array_equal(out[3, 3], img[6, 6])


def test_pq_codebook_reuse(spark):
    """pq_encode with saved codebooks skips training and yields the exact
    same codes — the train-once / encode-many production pattern."""
    import pytest

    from flink_spark.llm.similarity import pq_encode

    rows = [(i, [float((i * 7 + j * 13) % 10) for j in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "cand_id bigint, embedding array<double>")
    enc1, books = pq_encode(df, m=4, ks=4)
    enc2, books2 = pq_encode(df, m=4, ks=4, books=books)
    assert books2 is books
    a = sorted((r["cand_id"], tuple(r["__code"])) for r in enc1.collect())
    b = sorted((r["cand_id"], tuple(r["__code"])) for r in enc2.collect())
    assert a == b
    with pytest.raises(ValueError, match="shaped"):
        pq_encode(df, m=8, ks=4, books=books)


def test_pq_training_rejects_an_empty_frame(spark):
    """Training reads one row for the vector dimension; on an empty
    frame there is none, and both entry points say so instead of
    failing on ``None[0]``."""
    import pytest

    from flink_spark.llm.similarity import pq_encode, pq_train

    empty = spark.createDataFrame(
        [], "cand_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="candidate frame is empty"):
        pq_train(empty, m=4, ks=4)
    with pytest.raises(ValueError, match="candidate frame is empty"):
        pq_encode(empty, m=4, ks=4)


def test_pq_saved_books_dim_mismatch_raises(spark):
    """The saved-books path derives sub from the books and never probes
    the data, so a caller whose vector dim doesn't match m×sub used to
    silently encode null-padded garbage (ADVICE r12) — the embedded
    size() guard must raise instead, while NULL vectors keep their old
    passthrough behavior (no raise)."""
    import pytest

    from flink_spark.llm.similarity import pq_encode

    rows = [(i, [float((i * 7 + j * 13) % 10) for j in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "cand_id bigint, embedding array<double>")
    _, books = pq_encode(df, m=4, ks=4)

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "cand_id bigint, embedding array<double>"
    )
    enc_bad, _ = pq_encode(bad, m=4, ks=4, books=books)
    with pytest.raises(Exception, match="does not match saved codebooks"):
        enc_bad.collect()

    nul = spark.createDataFrame(
        [(1, None)], "cand_id bigint, embedding array<double>"
    )
    enc_nul, _ = pq_encode(nul, m=4, ks=4, books=books)
    assert enc_nul.count() == 1  # no raise on NULL vectors


def test_pq_single_expression_codec_matches_per_centroid_form(spark):
    """The r12 single-higher-order-expression PQ codec must be
    bit-identical to the per-centroid formulation it replaced: distances
    via the same sequential zip_with/aggregate fold, argmin tie-break =
    first-of-min (lowest code), reconstruction = per-subspace book rows
    concatenated. The old form is rebuilt inline here as the reference."""
    from pyspark.sql import functions as F

    from flink_spark.llm.similarity import pq_encode, pq_train

    m, ks, sub = 4, 4, 4
    # duplicate rows force argmin TIES so the tie-break is exercised
    rows = [(i, [float((i * 3 + j * 5) % 7) for j in range(16)])
            for i in range(60)] + [(100 + i, [1.0] * 16) for i in range(4)]
    df = spark.createDataFrame(rows, "cand_id bigint, embedding array<double>")
    books = pq_train(df, m=m, ks=ks)
    enc, _ = pq_encode(df, m=m, ks=ks, books=books)

    def _arr(vals):
        return "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"

    old = df.select("cand_id", F.col("embedding").alias("__cv"))
    recon_parts = []
    for j in range(m):
        dists = ",".join(
            "aggregate(zip_with("
            f"slice(__cv, {j * sub + 1}, {sub}), {_arr(c)}, "
            "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
            "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
            for c in books[j]
        )
        code = f"array_position(array({dists}), array_min(array({dists})))"
        old = old.withColumn(f"__code{j}", F.expr(code).cast("int"))
        book_lit = "array(" + ",".join(_arr(c) for c in books[j]) + ")"
        recon_parts.append(f"element_at({book_lit}, __code{j})")
    old = old.withColumn(
        "__recon", F.expr("concat(" + ",".join(recon_parts) + ")")
    ).withColumn("__code", F.array(*[F.col(f"__code{j}") for j in range(m)]))

    want = {
        r["cand_id"]: (tuple(r["__code"]), tuple(r["__recon"]))
        for r in old.select("cand_id", "__code", "__recon").collect()
    }
    got = {
        r["cand_id"]: (tuple(r["__code"]), tuple(r["__recon"]))
        for r in enc.select("cand_id", "__code", "__recon").collect()
    }
    assert got == want


def _hof_pq_reference(df, m: int, sub: int, books: list):
    """The Catalyst encode that pq_encode ran before its numpy kernel:
    a struct-sort argmin over zip_with/aggregate distance folds, with
    the dimension guard. The codebook literal is parsed SQL here, so it
    may hold NaN and ±inf."""
    import math

    def lit(v):
        if isinstance(v, list):
            return "array(" + ",".join(lit(x) for x in v) + ")"
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"

    bl = F.expr(lit(books))
    cvc = F.col("__cv")

    def argmin(j):
        cents = F.element_at(bl, j + F.lit(1))
        subv = F.slice(cvc, j * F.lit(sub) + F.lit(1), F.lit(sub))
        ranked = F.sort_array(F.transform(
            cents,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        subv, c,
                        lambda x, y: (x.cast("double") - y)
                        * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ).alias("d"),
                i.alias("i"),
            ),
        ))
        return (ranked[0]["i"] + F.lit(1)).cast("int")

    dim_ok = cvc.isNull() | (F.size(cvc) == F.lit(m * sub))
    dim_err = F.raise_error(F.lit("dim"))
    seq = F.sequence(F.lit(0), F.lit(m - 1))
    code = F.when(dim_ok, F.transform(seq, argmin)).otherwise(dim_err)
    recon = F.when(dim_ok, F.flatten(F.transform(
        seq, lambda j: F.element_at(F.element_at(bl, j + F.lit(1)),
                                    argmin(j)),
    ))).otherwise(dim_err)
    return df.select("cand_id", F.col("embedding").alias("__cv"),
                     code.alias("__code"), recon.alias("__recon"))


@pytest.mark.parametrize("elem", ["float", "double"])
def test_pq_kernel_bit_identical_to_hof_expression(spark, elem):
    """pq_encode's numpy kernel gives the codes and reconstructions of
    the Catalyst expression it replaced, bit for bit: float32 widening,
    the sequential distance fold, the lowest-code tie-break, Spark's
    NaN-largest ordering, null elements and vectors, and codebooks that
    hold NaN or ±inf."""
    import numpy as np

    from flink_spark.llm.similarity import pq_encode

    m, ks, sub = 3, 5, 8  # sub ≥ 8: numpy's pairwise sum would differ
    nan, inf = float("nan"), float("inf")
    rng = np.random.default_rng(11)
    books = rng.integers(-2, 3, size=(m, ks, sub)).astype(float)
    # a pair whose distances from 0 tie under the sequential fold but
    # not under numpy's pairwise sum
    books[0, 0] = [-0.176, 0.133, -0.232, -0.239, -0.361, -0.26, 0.08, -0.19]
    books[0, 1] = [-0.26, -0.19, -0.239, -0.176, -0.361, 0.08, 0.133, -0.232]
    books[:, 3] = books[:, 1]  # a row nearest to either one ties
    books[1, 2, 0] = nan
    books[2, 0, 1] = inf
    books[2, 4, 2] = -inf
    books = books.tolist()
    vecs = [rng.integers(-2, 3, size=m * sub).astype(float).tolist()
            for _ in range(40)]  # small integers: many exact ties
    vecs += [rng.normal(size=m * sub).tolist() for _ in range(40)]
    vecs += [c * m for c in books[0]]  # distance 0 in subspace 0
    vecs.append([0.0] * sub + rng.normal(size=(m - 1) * sub).tolist())
    for j, special in enumerate([nan, inf, -inf, None, nan, inf]):
        v = rng.normal(size=m * sub).tolist()
        v[j * 2] = special
        vecs.append(v)
    vecs.append([nan] * (m * sub))
    vecs.append([inf] * (m * sub))
    vecs.append([None] * (m * sub))
    rows = [(i, v) for i, v in enumerate(vecs)] + [(900, None), (901, None)]
    df = spark.createDataFrame(
        rows, f"cand_id bigint, embedding array<{elem}>")

    def keyed(frame):
        def hx(arr):
            return None if arr is None else tuple(
                None if v is None else float(v).hex() for v in arr)

        return {
            r["cand_id"]: (hx(r["__cv"]), tuple(r["__code"]), hx(r["__recon"]))
            for r in frame.select("cand_id", "__cv", "__code", "__recon")
            .collect()
        }

    enc, _ = pq_encode(df, m=m, ks=ks, books=books)
    got, want = keyed(enc), keyed(_hof_pq_reference(df, m, sub, books))
    assert len(got) == len(rows)
    assert got == want
    codes = {c for v in got.values() for c in v[1]}
    assert codes <= set(range(1, ks + 1)) and len(codes) >= 3
    assert got[900][1] == (1,) * m
    assert got[900][2] == tuple(
        float(x).hex() for j in range(m) for x in books[j][0])


def test_pq_ingest_encode_ships_no_recon(spark):
    """``pq_encode(recon=False)``, the streaming ingest's call (it
    stores only ``__code``), leaves ``__recon`` out of the worker's
    output."""
    from flink_spark.llm.similarity import pq_encode

    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "cand_id bigint, embedding array<double>")
    books = [[[0.0], [1.0]], [[2.0], [3.0]]]
    enc, _ = pq_encode(df, m=2, ks=2, books=books, recon=False)
    assert enc.columns == ["cand_id", "__cv", "__code"]
    assert [tuple(r["__code"]) for r in enc.collect()] == [(2, 1)]


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping (r12) collapses a path graph in O(log diameter)
    rounds: a 200-node chain must converge inside the default
    max_iter=25 (plain one-hop min propagation would need ~199 rounds)
    and label every node with the chain minimum."""
    from flink_spark.llm.dedup import connected_components

    edges = [(i, i + 1) for i in range(199)]
    df = spark.createDataFrame(edges, "doc_a int, doc_b int")
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(200)}


def test_pq_training_is_sample_bounded_and_deterministic(spark):
    """Codebook training touches only the md5-ordered top-train_limit
    sample (FAISS train() discipline — cost must not grow with corpus
    size): books trained with train_limit=n on the full corpus equal
    books trained on the n-row sample materialized by hand, and are
    invariant to the corpus' partitioning."""
    from flink_spark.llm.similarity import pq_train

    rows = [(i, [float((i * 7 + j * 13) % 10) + 0.25 * (i % 4)
                 for j in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "cand_id bigint, embedding array<double>")
    books = pq_train(df, m=4, ks=4, train_limit=60)
    # same sample materialized by hand → identical books
    from pyspark.sql import functions as F
    hand = df.orderBy(
        F.md5(F.col("cand_id").cast("string")), F.col("cand_id")
    ).limit(60)
    assert pq_train(hand, m=4, ks=4, train_limit=None) == books
    # partitioning-invariant (the sample is a total order, not a per-
    # partition artifact)
    assert pq_train(df.repartition(13), m=4, ks=4, train_limit=60) == books
    # rows outside the sample do not affect training
    extra = spark.createDataFrame(
        [(1000 + i, [99.0] * 16) for i in range(50)],
        "cand_id bigint, embedding array<double>",
    )
    sample_ids = {r.cand_id for r in hand.collect()}
    grown = df.unionByName(extra)
    grown_sample_ids = {
        r.cand_id
        for r in grown.orderBy(
            F.md5(F.col("cand_id").cast("string")), F.col("cand_id")
        ).limit(60).collect()
    }
    if grown_sample_ids == sample_ids:  # md5 order kept the same slice
        assert pq_train(grown, m=4, ks=4, train_limit=60) == books


def test_connected_components_matches_union_find(spark):
    """Min-label propagation (distributed) vs a reference union-find on
    randomized-but-seeded graphs, including chains (diameter > 1), stars
    and singleton-free edge lists."""
    import random

    from flink_spark.llm.dedup import connected_components

    rng = random.Random(7)
    for trial in range(4):
        n = 40
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(30)}
        edges |= {(i, i + 1) for i in range(10)}  # a long chain
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes_in_edges = {x for e in edges for x in e}
        want = {x: find(x) for x in sorted(nodes_in_edges)}
        # canonicalize union-find roots to component minima
        comp_min: dict = {}
        for x, r in want.items():
            comp_min.setdefault(r, x)  # iteration is sorted → min first
        want = {x: comp_min[r] for x, r in want.items()}

        df = spark.createDataFrame(edges, "doc_a int, doc_b int")
        got = {
            r.node: r.comp
            for r in connected_components(df, max_iter=50).collect()
        }
        assert got == want, f"trial {trial}"


def test_long_substring_spans_properties(spark, sf_dir):
    """ExactSubstr-style span dedup: every reported span really is
    cross-document repeated content, spans don't overlap per doc, and a
    synthetic planted duplicate is found end-to-end."""
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_spark.llm.dedup import long_substring_spans

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, f"alpha beta {boiler} gamma"),
        (2, f"delta {boiler} epsilon zeta"),
        (3, "totally unrelated words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = long_substring_spans(df, window=5).orderBy("doc_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    assert 3 not in by_doc              # unique doc untouched
    assert set(by_doc) == {1, 2}
    # doc1: boilerplate at tokens 3..14 (12 tokens); doc2 at 2..13
    assert by_doc[1] == [(3, 14)]
    assert by_doc[2] == [(2, 13)]
    # per-doc spans never overlap (island merge correctness) on real data
    real = long_substring_spans(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), window=5
    ).collect()
    spans = {}
    for r in real:
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for doc, ss in spans.items():
        ss.sort()
        for (a1, b1), (a2, b2) in zip(ss, ss[1:]):
            assert a2 > b1 + 1, (doc, ss)  # merged => gap between islands


class TestVideoFrameSample:
    """FSV1 video container + uniform frame sampling
    (flink_spark/llm/multimodal.py video section)."""

    def test_container_roundtrip_and_seek(self):
        import numpy as np

        from flink_spark.llm import multimodal as MM

        frames = [np.full((8, 8, 3), i * 10, dtype=np.uint8) for i in range(6)]
        v = MM.encode_video(frames, fps=4)
        assert MM.decode_video_header(v) == (6, 4)
        # sampled decode: only wanted frames come back, in order
        got = [(f, int(img[0, 0, 0]))
               for f, img in MM.iter_video_frames(v, {0, 2, 4})]
        assert got == [(0, 0), (2, 20), (4, 40)]
        # full decode
        assert len(list(MM.iter_video_frames(v))) == 6

    def test_bad_magic_rejected(self):
        import pytest as _pytest

        from flink_spark.llm import multimodal as MM

        with _pytest.raises(ValueError, match="FSV1"):
            MM.decode_video_header(b"XXXX\x00\x00\x00\x01\x00\x00\x00\x04")

    def test_sampled_means_match_closed_form(self, spark):
        from flink_spark.llm import multimodal as MM

        docs = spark.createDataFrame(
            [(i,) for i in range(7)], "doc_id bigint")
        out = MM.video_frame_sample(MM.synthesize_videos(docs), step=3)
        rows = {(r.doc_id, r.frame_no): r for r in out.collect()}
        for d in range(7):
            n = 3 + d % 4
            expect_frames = list(range(0, n, 3))
            got_frames = sorted(f for (dd, f) in rows if dd == d)
            assert got_frames == expect_frames
            for f in expect_frames:
                r = rows[(d, f)]
                assert r.n_frames == n
                assert r.ts_sec == f / 4
                assert r.mean_r == float((d + 17 * f) % 256)
                assert r.mean_g == float((d * 5 + 3 * f) % 256)
                assert r.mean_b == float((d * 11 + 7 * f) % 256)


def test_pq_training_budget_caps_by_rows_times_dim(spark, monkeypatch):
    """The driver-side sample is bounded by rows x dim ELEMENTS, not row
    count (VERDICT r7: 50k rows at dim 4096 would be ~1.6 GB on the
    driver): with the budget shrunk, books equal those trained on the
    element-capped row limit, and the cap never goes below ks."""
    from flink_spark.llm import similarity as S

    rows = [(i, [float((i * 7 + j * 13) % 10) + 0.25 * (i % 4)
                 for j in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "cand_id bigint, embedding array<double>")
    # budget 320 elements at d=16 → cap = 20 rows (< the 60 asked for)
    monkeypatch.setattr(S, "PQ_TRAIN_BUDGET_ELEMS", 320)
    capped = S.pq_train(df, m=4, ks=4, train_limit=60)
    monkeypatch.setattr(S, "PQ_TRAIN_BUDGET_ELEMS", 8_000_000)
    assert capped == S.pq_train(df, m=4, ks=4, train_limit=20)
    # floor at ks even when the budget is below ks rows
    monkeypatch.setattr(S, "PQ_TRAIN_BUDGET_ELEMS", 16)  # 1 row's worth
    floor = S.pq_train(df, m=4, ks=4, train_limit=60)
    monkeypatch.setattr(S, "PQ_TRAIN_BUDGET_ELEMS", 8_000_000)
    assert floor == S.pq_train(df, m=4, ks=4, train_limit=4)


def test_video_neardup_pairs_canonical_first(spark):
    """Shot-overlap near-dup (multimodal.video_neardup_pairs): exact
    copies collapse to ONE canonical before the shingle join (the sf1
    lesson: duplicate-pair enumeration is quadratic in copies), and two
    DIFFERENT videos sharing a 2-frame shot are still paired."""
    import numpy as np
    import pandas as pd

    from flink_spark.llm.multimodal import encode_video, video_neardup_pairs

    def frame(r, g, b):
        img = np.empty((6, 8, 3), dtype=np.uint8)
        img[:, :, 0], img[:, :, 1], img[:, :, 2] = r, g, b
        return img

    shot = [frame(10, 20, 30), frame(11, 21, 31)]  # the shared 2-frame shot
    vids = {
        0: [frame(1, 2, 3)] + shot,            # canonical A
        1: [frame(1, 2, 3)] + shot,            # exact copy of A (absorbed)
        2: shot + [frame(99, 98, 97)],         # different video, same shot
        3: [frame(50, 60, 70), frame(51, 61, 71)],  # unrelated
    }
    rows = [(k, encode_video(v)) for k, v in vids.items()]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "payload": [r[1] for r in rows]})
    )
    got = sorted(
        tuple(r) for r in video_neardup_pairs(df, min_match=1).collect()
    )
    # canonicals are {0, 2, 3}: (0,2) share the shot ONCE; the exact
    # copy 1 must not appear in any pair
    assert got == [(0, 2, 1)]


def test_video_dedup_groups_exact(spark):
    import numpy as np
    import pandas as pd

    from flink_spark.llm.multimodal import encode_video, video_dedup_groups

    def frame(c):
        img = np.full((6, 8, 3), c, dtype=np.uint8)
        return img

    vids = {0: [frame(5), frame(6)], 1: [frame(5), frame(6)],
            2: [frame(7)], 3: [frame(5), frame(6)]}
    rows = [(k, encode_video(v)) for k, v in vids.items()]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "payload": [r[1] for r in rows]})
    )
    got = {(r.keep_id, r.n_copies)
           for r in video_dedup_groups(df).collect()}
    assert got == {(0, 3), (2, 1)}


def test_extract_features_null_payload(spark):
    """A NULL payload row (n_bytes NULL from octet_length) must flow
    through extract_features via the null-tolerant decode branch, not
    crash the Arrow task on a non-finite astype."""
    from flink_spark.llm.multimodal import extract_features

    df = spark.createDataFrame(
        [(1, b"ab", 2, "m1", "text/plain"),
         (2, None, None, None, "text/plain")],
        "doc_id long, payload binary, n_bytes int, "
        "payload_md5 string, mime string",
    )
    got = {r["doc_id"]: r for r in extract_features(df).collect()}
    assert got[1]["feature_ok"] and got[1]["n_bytes"] == 2
    assert got[2]["feature_ok"] is False and got[2]["n_bytes"] is None
    assert got[2]["byte_mean"] is None


def test_frame_sample_empty_payload(spark):
    """Empty/NULL payloads emit NO frames (a phantom frame's offset
    would point past the end); every non-empty payload gets >= 1."""
    from flink_spark.llm.multimodal import frame_sample

    df = spark.createDataFrame(
        [(1, b"", 0), (2, b"x" * 10, 10), (3, None, None),
         (4, b"y" * 130, 130)],
        "doc_id long, payload binary, n_bytes int",
    )
    got = frame_sample(df, every_n_bytes=64).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["frame_no"], r["frame_offset"])
        )
    assert set(by_doc) == {2, 4}
    assert by_doc[2] == [(0, 0)]
    assert sorted(by_doc[4]) == [(0, 0), (1, 64)]


def test_video_dedup_geometry_fps_separate_groups(spark):
    """Equal per-frame channel means at different geometry or fps are
    DIFFERENT content — the fingerprint must not merge them."""
    import numpy as np
    import pandas as pd

    from flink_spark.llm.multimodal import encode_video, video_dedup_groups

    def frame(c, h=6, w=8):
        return np.full((h, w, 3), c, dtype=np.uint8)

    rows = [
        (0, encode_video([frame(5), frame(6)])),
        (1, encode_video([frame(5), frame(6)])),             # exact copy
        (2, encode_video([frame(5, h=12, w=16),
                          frame(6, h=12, w=16)])),           # same means, 2x frame
        (3, encode_video([frame(5), frame(6)], fps=8)),      # same frames, 2x speed
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "payload": [r[1] for r in rows]})
    )
    got = {(r.keep_id, r.n_copies)
           for r in video_dedup_groups(df).collect()}
    assert got == {(0, 2), (2, 1), (3, 1)}


def test_video_neardup_distinct_shingles(spark):
    """A still scene repeating one shared shingle must count as ONE
    shared shingle, not the occurrence cross-product — the old p*q
    count both inflated n_match and promoted single-shot overlaps
    past min_match."""
    import numpy as np
    import pandas as pd

    from flink_spark.llm.multimodal import encode_video, video_neardup_pairs

    def frame(r, g, b):
        img = np.empty((6, 8, 3), dtype=np.uint8)
        img[:, :, 0], img[:, :, 1], img[:, :, 2] = r, g, b
        return img

    A, B, C = frame(10, 20, 30), frame(11, 21, 31), frame(90, 91, 92)
    vids = {
        0: [A, B, A, B, A, B],  # still scene: shingle (A,B) x3, (B,A) x2
        1: [A, B, C],           # shares (A,B) once
    }
    rows = [(k, encode_video(v)) for k, v in vids.items()]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows],
                      "payload": [r[1] for r in rows]})
    )
    got = sorted(
        tuple(r) for r in video_neardup_pairs(df, min_match=1).collect()
    )
    assert got == [(0, 1, 1)]
