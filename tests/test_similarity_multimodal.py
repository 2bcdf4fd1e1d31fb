"""Embedding similarity + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    multimodal as M,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    similarity as S,
)

VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), False),
        StructField("embedding", ArrayType(FloatType()), False),
    ]
)


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.95, 0.05]),  # close to 2
        (4, [0.0, 0.0, 1.0]),
        (5, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    return spark.createDataFrame(rows, VEC_SCHEMA)


def test_cosine_topk_exact(spark, vecs):
    q = vecs.filter(F.col("vec_id") == 0)
    out = S.cosine_topk(vecs, q, k=2).collect()
    assert [(r["neighbor_id"]) for r in out] == [1, 2]  # 1 closest, then orthogonals tie→lowest id
    assert out[0]["sim"] == pytest.approx(0.993884, abs=1e-6)
    # self excluded
    assert all(r["neighbor_id"] != 0 for r in out)


def test_cosine_pairs_threshold(spark, vecs):
    pairs = {(r["a"], r["b"]): r["sim"] for r in S.cosine_pairs(vecs, 0.9).collect()}
    assert set(pairs) == {(0, 1), (2, 3)}


def test_ivf_topk_subset_of_exact(spark, vecs):
    q = vecs.filter(F.col("vec_id") <= 1)
    exact = S.cosine_topk(vecs, q, k=3)
    approx = S.ivf_topk(vecs, q, k=3, ncells=3, nprobe=2)
    # approximate results must be a subset of scored (query, neighbor) space
    # and every returned sim must equal the exact sim for that pair
    ex = {(r["a"], r["b"]): r["sim"] for r in S.cosine_pairs(vecs, -1.0).collect()}
    for r in approx.collect():
        a, b = sorted((r["query_id"], r["neighbor_id"]))
        assert ex[(a, b)] == r["sim"]
    # with nprobe = ncells it degrades to exact
    full = S.ivf_topk(vecs, q, k=3, ncells=3, nprobe=3)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, exact.collect()))


def test_vectorized_topk_matches_hof(spark, sf_dir):
    """BLAS mapInPandas top-k must equal the join+window formulation
    bit-for-bit on real data (rounding, ordering, tie-breaking)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 8)
    hof = S.cosine_topk(emb, q, k=5).collect()
    blas = S.cosine_topk_vectorized(emb, q, k=5).collect()
    assert sorted(map(tuple, blas)) == sorted(map(tuple, hof))


def test_vectorized_topk_null_edge_cases(spark):
    """Zero-norm corpus rows fill trailing slots as NULL sims (lowest id
    first) and a zero-norm query ranks purely by neighbor id — matching
    the join formulation's NULL semantics exactly."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),  # zero-norm corpus row
        (3, [0.0, 0.0]),  # zero-norm corpus row
        (4, [0.0, 0.0]),  # zero-norm QUERY
    ]
    df = spark.createDataFrame(
        rows,
        StructType([
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), False),
        ]),
    )
    q = df.filter(F.col("vec_id").isin(0, 4))
    hof = S.cosine_topk(df, q, k=3).collect()
    blas = S.cosine_topk_vectorized(df, q, k=3).collect()
    assert sorted(map(tuple, blas)) == sorted(map(tuple, hof))
    got = {(r["query_id"], r["neighbor_id"]): r["sim"] for r in blas}
    # query 0: one real neighbor, then NULL-sim zero vectors by id
    assert set(got) == {(0, 1), (0, 2), (0, 3), (4, 0), (4, 1), (4, 2)}
    assert got[(0, 2)] is None and got[(0, 3)] is None
    assert all(got[(4, n)] is None for n in (0, 1, 2))


def test_vectorized_topk_chunked_matches_single_block(spark, sf_dir):
    """query_chunk_size smaller than the query set (forcing >1 block,
    unioned) must produce exactly the single-block result."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.orderBy("vec_id").limit(7)
    one = S.cosine_topk_vectorized(emb, queries, k=3).collect()
    many = S.cosine_topk_vectorized(emb, queries, k=3, query_chunk_size=3).collect()
    assert sorted(map(tuple, many)) == sorted(map(tuple, one))
    with pytest.raises(ValueError):
        S.cosine_topk_vectorized(emb, queries, k=3, query_chunk_size=0)


def test_ivf_prebuilt_index_matches_inline(spark, vecs, tmp_path):
    """A persisted-and-reloaded index must serve identical results to the
    inline build — the amortized-index path is the production one."""
    q = vecs.filter(F.col("vec_id") <= 1)
    inline = S.ivf_topk(vecs, q, k=3, ncells=3, nprobe=2)
    centroids, cells = S.build_ivf_index(vecs, ncells=3)
    cells.write.parquet(f"{tmp_path}/cells")
    reloaded = (centroids, spark.read.parquet(f"{tmp_path}/cells"))
    served = S.ivf_topk(vecs, q, k=3, ncells=3, nprobe=2, index=reloaded)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, inline.collect())
    )


def test_hyperplane_lsh_pairs_subset_of_exact(spark, sf_dir):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        hyperplane_lsh_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r["a"], r["b"]): r["sim"] for r in S.cosine_pairs(emb, 0.35).collect()}
    approx = {(r["a"], r["b"]): r["sim"] for r in
              hyperplane_lsh_pairs(emb, dim=64, threshold=0.35).collect()}
    # every LSH pair is a true pair with the exact same verified sim
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert exact[k] == v
    # recall sanity: hyperplane banding should recover a decent fraction
    if exact:
        assert len(approx) / len(exact) >= 0.3


def test_media_pipeline_fake_decode(spark):
    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(9)], ["doc_id", "text"]
    )
    media = M.media_from_documents(docs)
    assert media.schema["payload"].dataType.typeName() == "binary"
    kinds = {r["kind"] for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}

    stats = M.media_stats(media)
    row = stats.filter(F.col("media_id") == 0).first()
    assert row["n_bytes"] == len("document body 0")

    dec = M.decode_media(media, fake=True)
    rows = {r["media_id"]: r for r in dec.collect()}
    assert rows[0]["kind"] == "image" and rows[0]["width"] is not None
    assert rows[1]["kind"] == "audio" and rows[1]["duration_ms"] is not None
    assert rows[2]["kind"] == "video" and rows[2]["width"] is not None
    # deterministic: same payload → same feature hash
    dec2 = {r["media_id"]: r["feature_hash"] for r in
            M.decode_media(media, fake=True).collect()}
    assert dec2 == {k: v["feature_hash"] for k, v in rows.items()}


def test_real_decode_non_container_video_yields_null(spark):
    # doc_id 2 → kind 'video' (media_from_documents routing); its payload
    # is utf-8 text, not ISO-BMFF — real decode must yield NULL metadata
    # (robustness contract), not crash. Frame PIXEL decode remains the
    # ffmpeg-gated stub (sample_frames real mode).
    docs = spark.createDataFrame([(2, "x")], ["doc_id", "text"])
    media = M.media_from_documents(docs)
    row = M.decode_media(media, fake=False).collect()[0]
    assert row["kind"] == "video"
    assert row["width"] is None and row["duration_ms"] is None
    assert row["feature_hash"] is not None


def test_parse_media_header_formats():
    import struct

    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    )
    assert M.parse_media_header(png) == {
        "fmt": "png", "width": 640, "height": 480, "duration_ms": None
    }

    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    assert M.parse_media_header(gif)["width"] == 320

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 4
    out = M.parse_media_header(bmp)
    assert (out["width"], out["height"]) == (800, 600)  # top-down negative h

    # JPEG: SOI + APP0 stub + SOF0 (height 1080, width 1920)
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920)
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\x03"
    out = M.parse_media_header(jpeg)
    assert (out["fmt"], out["width"], out["height"]) == ("jpeg", 1920, 1080)

    # WAV: byte_rate 16000, data 8000 bytes → 500 ms
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 8000) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 8000)
    )
    assert M.parse_media_header(wav)["duration_ms"] == 500

    # MP4: ftyp + moov(mvhd v0 timescale 600 duration 1200 -> 2000 ms,
    # trak/tkhd 1280x720 as 16.16 fixed point)
    matrix = struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd = (
        struct.pack(">I", 108) + b"mvhd" + b"\x00" * 4
        + struct.pack(">IIII", 0, 0, 600, 1200)
        + struct.pack(">I", 0x10000) + struct.pack(">H", 0x100)
        + b"\x00" * 10 + matrix + b"\x00" * 24 + struct.pack(">I", 2)
    )
    tkhd = (
        struct.pack(">I", 92) + b"tkhd" + b"\x00\x00\x00\x07"
        + struct.pack(">IIIII", 0, 0, 1, 0, 1200) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0) + matrix
        + struct.pack(">II", 1280 << 16, 720 << 16)
    )
    trak = struct.pack(">I", 100) + b"trak" + tkhd
    mp4 = (
        struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 0)
        + struct.pack(">I", 216) + b"moov" + mvhd + trak
    )
    out = M.parse_media_header(mp4)
    assert out == {"fmt": "mp4", "width": 1280, "height": 720, "duration_ms": 2000}
    # truncated mp4 yields fmt with NULL fields, never raises
    out2 = M.parse_media_header(mp4[:40])
    assert out2["fmt"] == "mp4" and out2["duration_ms"] is None

    # hostile/truncated bytes never raise
    for bad in (None, b"", b"\x89PNG\r\n\x1a", b"\xff\xd8\x00\x00",
                b"RIFFxxxxWAVE", b"garbage bytes here", png[:20]):
        assert M.parse_media_header(bad) is None or isinstance(
            M.parse_media_header(bad), dict
        )


def test_real_decode_on_synthetic_media(spark):
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    media = M.synthetic_real_media(docs)
    rows = {r["media_id"]: r for r in M.decode_media(media, fake=False).collect()}
    assert len(rows) == 12
    for i in range(12):
        if i % 4 == 2:
            assert rows[i]["kind"] == "audio"
            assert rows[i]["duration_ms"] == (i % 10 + 1) * 100
            assert rows[i]["width"] is None
        elif i % 4 == 3:
            assert rows[i]["kind"] == "video"
            assert rows[i]["duration_ms"] == (i % 20 + 1) * 500
            assert rows[i]["width"] == 100 + i % 500
            assert rows[i]["height"] == 50 + i % 300
        else:
            assert rows[i]["kind"] == "image"
            assert rows[i]["width"] == 100 + i % 500
            assert rows[i]["height"] == 50 + i % 300
        assert rows[i]["feature_hash"] is not None


def test_sample_frames(spark):
    docs = spark.createDataFrame(
        [(2, "a video-ish payload with enough text")], ["doc_id", "text"]
    )
    media = M.media_from_documents(docs)  # doc 2 → video
    frames = M.sample_frames(media, every_ms=1000, fake=True).collect()
    assert len(frames) >= 1
    assert [f["frame_idx"] for f in frames] == list(range(len(frames)))
    assert all(f["media_id"] == 2 for f in frames)


def test_zero_norm_vector_never_wins(spark):
    """A zero vector yields NULL similarity (not NaN): it must not rank
    in top-k (Spark sorts NaN above all doubles) nor pass thresholds."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero-norm: padding/missing-data row
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    topk = S.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=1)
    assert [(r["query_id"], r["neighbor_id"]) for r in topk.collect()] == [(0, 1)]
    pairs = S.cosine_pairs(df, threshold=0.0)
    ids = {(r["a"], r["b"]) for r in pairs.collect()}
    assert all(2 not in p for p in ids)


def test_nearest_centroid_skips_mismatched_dims(spark):
    """A dimension-mismatched centroid aggregates to NULL dist2 and must
    lose the argmin (NULLS LAST), not win it (default NULLS FIRST)."""
    vecs = spark.createDataFrame([(0, [1.0, 0.0, 0.0])], VEC_SCHEMA)
    cents = spark.createDataFrame(
        [("good", 0, 1.0), ("good", 1, 0.0), ("good", 2, 0.0),
         ("broken", 0, 0.5), ("broken", 1, 0.5)],  # 2-dim: zip pads null
        "label STRING, dim INT, c DOUBLE",
    )
    got = S.assign_nearest_centroid(vecs, cents).collect()
    assert got[0]["assigned_label"] == "good"


def test_extend_ivf_index_matches_rebuild(spark, vecs):
    """Appending vectors incrementally must serve identical results to a
    full rebuild over the union — assignment depends only on the (fixed)
    centroids, so the delta pass is exact, not approximate."""
    old = vecs.filter(F.col("vec_id") <= 3)
    new = vecs.filter(F.col("vec_id") > 3)
    idx = S.build_ivf_index(old, ncells=3)
    extended = S.extend_ivf_index(idx, new)
    q = vecs.filter(F.col("vec_id") <= 1)
    served = S.ivf_topk(vecs, q, k=3, ncells=3, nprobe=2, index=extended)
    # rebuild centroids come from the union's first 3 ids = old's first 3
    rebuilt = S.ivf_topk(vecs, q, k=3, ncells=3, nprobe=2)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_vectorized_topk_nan_vector_scores_null(spark):
    """A NaN-poisoned vector must score NULL (not NaN) on BOTH paths —
    Spark sorts NaN above every double, so a NaN sim would outrank every
    real neighbor on the join path and vanish on the numpy path."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    q = df.filter(F.col("vec_id") == 0)
    hof = S.cosine_topk(df, q, k=2).collect()
    blas = S.cosine_topk_vectorized(df, q, k=2).collect()
    assert sorted(map(tuple, blas)) == sorted(map(tuple, hof))
    got = {r["neighbor_id"]: r["sim"] for r in hof}
    assert got[2] is None  # NaN row demoted to NULL fill, not rank 1


def test_vectorized_topk_inf_norm_scores_null(spark):
    """A vector whose norm overflows to inf (finite 1e200-scale
    components) must score NULL on both paths — the join path would
    otherwise emit a spurious 0.0 when the dot product stays finite."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [1.0e200, 0.0]),  # norm overflows to +inf
    ]
    df = spark.createDataFrame(
        rows,
        StructType([
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), False),
        ]),
    )
    q = df.filter(F.col("vec_id") == 0)
    hof = S.cosine_topk(df, q, k=2).collect()
    blas = S.cosine_topk_vectorized(df, q, k=2).collect()
    assert sorted(map(tuple, blas)) == sorted(map(tuple, hof))
    got = {r["neighbor_id"]: r["sim"] for r in hof}
    assert got[2] is None


def test_vectorized_topk_rejects_non_integral_ids(spark):
    df = spark.createDataFrame([("a", [1.0, 0.0])], "vec_id STRING, embedding ARRAY<FLOAT>")
    with pytest.raises(ValueError, match="integral"):
        S.cosine_topk_vectorized(df, df, k=1)


def test_kmeans_fit_converges(spark):
    """Two obvious 2-D clusters with both seeds inside the first one:
    Lloyd must pull one centroid across and converge; early_stop halts
    when labels repeat."""
    rows = [
        (0, [0.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [10.0, 10.0]),
        (3, [11.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, VEC_SCHEMA)
    assign, cents = S.kmeans_fit(df, k=2, n_iter=10, early_stop=True)
    got = {r["vec_id"]: r["assigned_label"] for r in assign.collect()}
    assert got[0] == got[1] and got[2] == got[3] and got[0] != got[2]
    c = {(r["label"], r["dim"]): r["c"] for r in cents.collect()}
    assert c[(got[0], 0)] == pytest.approx(0.5)
    assert c[(got[2], 0)] == pytest.approx(10.5)
    # deterministic: an identical run reproduces the labeling exactly
    again, _ = S.kmeans_fit(df, k=2, n_iter=10, early_stop=True)
    assert {r["vec_id"]: r["assigned_label"] for r in again.collect()} == got


def test_hyperplane_validation():
    with pytest.raises(ValueError):
        S.hyperplane_signature(None, dim=4, n_planes=64)
    with pytest.raises(ValueError):
        S.hyperplane_lsh_pairs(None, dim=4, n_planes=16, bands=5)
    with pytest.raises(ValueError):
        S.hyperplane_lsh_pairs(None, dim=4, n_planes=16, bands=32)


def test_vectorized_topk_duplicate_query_id_across_chunks(spark, sf_dir):
    """A query id duplicated across chunk boundaries must still yield at
    most k rows (global re-rank), matching the single-block contract."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q1 = emb.orderBy("vec_id").limit(3)
    dup = q1.limit(1)
    queries = q1.unionByName(dup)  # 4 rows, one vec_id twice
    single = S.cosine_topk_vectorized(emb, queries, k=3).collect()
    chunked = S.cosine_topk_vectorized(emb, queries, k=3, query_chunk_size=2).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, single))
    from collections import Counter
    per_q = Counter(r["query_id"] for r in chunked)
    assert max(per_q.values()) == 3


def test_real_decode_hostile_headers_yield_null(spark):
    import struct

    # u32-max PNG dims; WAV with byte_rate=1 and a ~4e9 data size
    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 0xFFFFFFFF, 10, 8, 2, 0, 0, 0)
    )
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 1, 2, 16)
        + b"data" + struct.pack("<I", 0xF0000000)
    )
    rows = [(1, "image", bytearray(png), None, None),
            (2, "audio", bytearray(wav), None, None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.decode_media(df, fake=False).collect()}
    assert out[1]["width"] is None and out[1]["height"] == 10
    assert out[2]["duration_ms"] is None  # 4e12 ms clamps to NULL
    assert out[1]["feature_hash"] and out[2]["feature_hash"]


# --- SemDeDup semantic dedup -------------------------------------------------


def test_semantic_dedup_drops_within_cluster_only(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        semantic_dedup,
    )

    # two well-separated clusters; 1&2 near-identical (same cluster),
    # 5&6 near-identical (other cluster), 3 distinct in cluster A
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # ~dup of 1 -> dropped (higher id)
        (3, [0.7, 0.7, 0.0]),      # same cluster, below threshold
        (5, [0.0, 0.0, 1.0]),
        (6, [0.0, 0.01, 0.999]),   # ~dup of 5 -> dropped
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.98, k=2, n_iter=2).collect()
    )
    assert kept == [1, 3, 5]


def test_semantic_dedup_threshold_one_keeps_all_distinct(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = [(i, [float(i), 1.0, 0.0]) for i in range(1, 7)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # nothing is exactly identical -> threshold 1.0 drops nothing
    kept = semantic_dedup(df, threshold=1.0, k=2, n_iter=1).count()
    assert kept == 6


def test_semantic_dedup_engines_agree(spark):
    """The BLAS within-cluster scan must reproduce the join formulation
    exactly — including zero-norm vectors (NULL sim → never dropped) and
    exact-boundary similarities under the 6dp HALF_UP round."""
    import random

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        semantic_dedup,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    # planted near-dups + a zero vector + an exact dup pair
    rows += [
        (100, rows[3][1][:]),                       # exact dup of 3
        (101, [v * 1.0001 for v in rows[10][1]]),   # scaled ≈ cos 1
        (102, [0.0] * 8),                           # zero norm: kept
        (103, [0.0] * 8),                           # second zero: kept too
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    for thr in (0.9, 0.999999):
        a = sorted(
            (r["vec_id"], r["assigned_label"])
            for r in semantic_dedup(
                df, threshold=thr, k=3, n_iter=2, engine="vectorized"
            ).collect()
        )
        b = sorted(
            (r["vec_id"], r["assigned_label"])
            for r in semantic_dedup(
                df, threshold=thr, k=3, n_iter=2, engine="join"
            ).collect()
        )
        assert a == b, f"engines disagree at threshold {thr}"
    kept = {t[0] for t in a}
    assert {102, 103} <= kept  # zero-norm pairs never drop


def test_semantic_dedup_engine_validation(spark):
    import pytest as _pytest

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        semantic_dedup,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        semantic_dedup(df, engine="nope")
    sdf = spark.createDataFrame([("a", [1.0, 0.0])], ["vec_id", "embedding"])
    with _pytest.raises(TypeError):
        semantic_dedup(sdf, k=1, engine="vectorized")


def test_pca_power_iteration_finds_dominant_axis(spark):
    """On an anisotropic cloud the fitted component must align with
    numpy's exact top eigenvector of the covariance (|cos| > 0.99 after
    a few iterations), and projections must be the centered dots."""
    import numpy as np

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        pca_power_iteration,
        pca_project,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(300, 6))
    base[:, 2] *= 8.0  # dominant variance on axis 2
    rows = [(i, [float(v) for v in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    comp = pca_power_iteration(df, n_iter=8)
    v = np.zeros(6)
    for r in comp.collect():
        v[r["dim"]] = r["v"]
    x = base - base.mean(axis=0)
    evals, evecs = np.linalg.eigh(x.T @ x)
    top = evecs[:, -1]
    assert abs(float(v @ top)) > 0.99
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-4

    proj = {r["vec_id"]: r["pc1"] for r in pca_project(df, comp).collect()}
    assert len(proj) == 300
    want = x @ v
    got = np.array([proj[i] for i in range(300)])
    assert np.abs(got - want).max() < 1e-4
    # projections of a centered cloud are centered
    assert abs(got.mean()) < 0.1


def test_pca_power_iteration_errors(spark):
    import pytest as _pytest

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        pca_power_iteration,
    )

    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError):
        pca_power_iteration(df, n_iter=0)
    empty = spark.createDataFrame([], "vec_id: long, embedding: array<double>")
    with _pytest.raises(ValueError):
        pca_power_iteration(empty)


def test_cosine_pairs_lsh_subset_and_recall(spark):
    import random

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        cosine_pairs,
        cosine_pairs_lsh,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    # planted near-identical pairs — cos ≈ 1 ⇒ same sign on every plane
    rows += [(200, rows[5][1][:]), (201, [v * 1.001 for v in rows[40][1]])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {(r["a"], r["b"], r["sim"])
             for r in cosine_pairs(df, threshold=0.4).collect()}
    lsh = {(r["a"], r["b"], r["sim"])
           for r in cosine_pairs_lsh(df, threshold=0.4, n_planes=16,
                                     bands=4).collect()}
    assert lsh <= exact                      # verify step: no false positives
    assert (5, 200, 1.0) in lsh              # exact dup always collides
    assert any(a == 40 and b == 201 for a, b, _ in lsh)

    # bucket cap keeps output a subset and bounds candidates
    capped = {(r["a"], r["b"]) for r in
              cosine_pairs_lsh(df, 0.4, 16, 4, max_bucket_size=5).collect()}
    assert capped <= {(a, b) for a, b, _ in lsh}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        cosine_pairs_lsh(df, 0.4, n_planes=10, bands=4)  # not a multiple


def test_pca_deflation_top2_matches_numpy(spark):
    import numpy as np

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        pca_project_components,
        pca_top_components,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(250, 5))
    base[:, 1] *= 9.0   # dominant axis
    base[:, 3] *= 4.0   # second axis
    df = spark.createDataFrame(
        [(i, [float(v) for v in base[i]]) for i in range(250)],
        ["vec_id", "embedding"],
    )
    comps = pca_top_components(df, n_components=2, n_iter=8)
    v = np.zeros((2, 5))
    for r in comps.collect():
        v[r["component"], r["dim"]] = r["v"]
    x = base - base.mean(axis=0)
    _, evecs = np.linalg.eigh(x.T @ x)
    assert abs(float(v[0] @ evecs[:, -1])) > 0.99
    assert abs(float(v[1] @ evecs[:, -2])) > 0.98
    assert abs(float(v[0] @ v[1])) < 1e-3  # orthogonal up to rounding

    proj = pca_project_components(df, comps)
    assert sorted(proj.columns) == ["pc1", "pc2", "vec_id"]
    got = {r["vec_id"]: (r["pc1"], r["pc2"]) for r in proj.collect()}
    want1, want2 = x @ v[0], x @ v[1]
    for i in (0, 50, 249):
        assert abs(got[i][0] - want1[i]) < 1e-4
        assert abs(got[i][1] - want2[i]) < 1e-4


# --- prototype_prune (Sorscher 2022 cluster-prototypicality pruning) -------


@pytest.fixture(scope="module")
def proto_vecs(spark):
    # two planted clusters; ids 0 and 1 are the first-k seeds, one per
    # cluster, so the 2-iteration Lloyd fit stays put
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.6, 0.4]),
        (4, [0.8, 0.2]),
        (10, [0.1, 0.9]),
        (11, [0.4, 0.6]),
    ]
    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _expected_prune(spark, proto_vecs, keep_num, keep_den, mode):
    """Pure-Python mirror: full assignment from the SAME kmeans_fit,
    then the rational per-cluster cut replayed over sorted rows."""
    import math

    assign, _ = S.kmeans_fit(proto_vecs, k=2, n_iter=2)
    rows = assign.collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.assigned_label, []).append(r)
    kept = set()
    for label, members in by_label.items():
        members.sort(
            key=lambda r: (-r.dist2 if mode == "hard" else r.dist2, r.vec_id)
        )
        n_keep = math.ceil(len(members) * keep_num / keep_den)
        kept |= {m.vec_id for m in members[:n_keep]}
    return kept


@pytest.mark.parametrize("mode", ["hard", "easy"])
def test_prototype_prune_matches_python_mirror(spark, proto_vecs, mode):
    out = S.prototype_prune(
        proto_vecs, k=2, n_iter=2, keep_num=1, keep_den=2, mode=mode
    ).collect()
    expected = _expected_prune(spark, proto_vecs, 1, 2, mode)
    assert {r.vec_id for r in out} == expected
    # per-cluster kept counts are ceil(n * 1/2): clusters of 4 and 3 keep 2 each
    from collections import Counter

    counts = Counter(r.assigned_label for r in out)
    assert sorted(counts.values()) == [2, 2]
    # proto_rank is dense 1..kept within each cluster
    for label in counts:
        ranks = sorted(r.proto_rank for r in out if r.assigned_label == label)
        assert ranks == list(range(1, counts[label] + 1))


def test_prototype_prune_hard_keeps_farthest(spark, proto_vecs):
    assign, _ = S.kmeans_fit(proto_vecs, k=2, n_iter=2)
    dist = {r.vec_id: (r.assigned_label, r.dist2) for r in assign.collect()}
    kept = {
        r.vec_id
        for r in S.prototype_prune(
            proto_vecs, k=2, n_iter=2, keep_num=1, keep_den=2, mode="hard"
        ).collect()
    }
    for label in {v[0] for v in dist.values()}:
        members = {vid: d for vid, (lb, d) in dist.items() if lb == label}
        kept_d = [d for vid, d in members.items() if vid in kept]
        drop_d = [d for vid, d in members.items() if vid not in kept]
        if kept_d and drop_d:
            assert min(kept_d) >= max(drop_d)


def test_prototype_prune_full_fraction_keeps_everything(spark, proto_vecs):
    out = S.prototype_prune(
        proto_vecs, k=2, n_iter=2, keep_num=1, keep_den=1, mode="easy"
    )
    assert out.count() == proto_vecs.count()


def test_prototype_prune_validates_args(spark, proto_vecs):
    with pytest.raises(ValueError, match="mode"):
        S.prototype_prune(proto_vecs, mode="medium")
    with pytest.raises(ValueError, match="rational"):
        S.prototype_prune(proto_vecs, keep_num=3, keep_den=2)
    with pytest.raises(ValueError, match="rational"):
        S.prototype_prune(proto_vecs, keep_num=0, keep_den=2)


# --- rademacher_project (deterministic JL) ---------------------------------


def test_rademacher_project_matches_hash_mirror(spark, vecs):
    import hashlib
    import math

    out = {r.vec_id: list(r.embedding)
           for r in S.rademacher_project(vecs, out_dim=4).collect()}
    raw = {r.vec_id: [float(x) for x in r.embedding] for r in vecs.collect()}
    d = len(next(iter(raw.values())))
    signs = [
        [1.0 if int(hashlib.md5(f"jl|{i}|{j}".encode()).hexdigest()[0], 16) < 8
         else -1.0 for i in range(d)]
        for j in range(4)
    ]
    import decimal

    def r6(x):
        return float(decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))

    for vid, v in raw.items():
        expect = [r6(sum(a * b for a, b in zip(v, signs[j])) / math.sqrt(4.0))
                  for j in range(4)]
        assert out[vid] == expect


def test_rademacher_project_deterministic_and_seeded(spark, vecs):
    a = sorted(map(tuple, S.rademacher_project(vecs, out_dim=4).collect()))
    b = sorted(map(tuple, S.rademacher_project(vecs, out_dim=4).collect()))
    assert a == b
    c = sorted(map(tuple,
                   S.rademacher_project(vecs, out_dim=4, seed="jl2|").collect()))
    assert c != a  # a different seed is a different projection


def test_rademacher_project_validates(spark, vecs):
    with pytest.raises(ValueError):
        S.rademacher_project(vecs, out_dim=0)


def test_semantic_dedup_sweep_matches_standalone_runs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sweep = {
        r.threshold: r
        for r in S.semantic_dedup_sweep(
            emb, thresholds=(0.35, 0.5, 0.7), k=4
        ).collect()
    }
    assert len(sweep) == 3
    n_total = emb.count()
    for thr in (0.35, 0.5, 0.7):
        kept = S.semantic_dedup(emb, threshold=thr, k=4, engine="join").count()
        assert sweep[thr].n_kept == kept, thr
        assert sweep[thr].n_total == n_total
        assert sweep[thr].n_dropped == n_total - kept
    # monotone: a higher epsilon never drops more
    assert (
        sweep[0.35].n_dropped >= sweep[0.5].n_dropped >= sweep[0.7].n_dropped
    )
    with pytest.raises(ValueError):
        S.semantic_dedup_sweep(emb, thresholds=())


def test_semantic_dedup_sweep_engines_agree(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = sorted(
        map(
            tuple,
            S.semantic_dedup_sweep(
                emb, thresholds=(0.35, 0.5), k=4, engine="vectorized"
            ).collect(),
        )
    )
    j = sorted(
        map(
            tuple,
            S.semantic_dedup_sweep(
                emb, thresholds=(0.35, 0.5), k=4, engine="join"
            ).collect(),
        )
    )
    assert v == j


def test_cross_modal_alignment_properties(spark):
    """r12 LAION-style alignment cut: identical modalities score 1;
    an orthogonal pair scores 0; a zero-norm / NULL side is NULL (never
    NaN — NaN would pass every threshold); amp=0 rows (pair == text
    embedding) always survive the quantile cut."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        multimodal as MM,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, [1.0, 0.0], [0.0, 1.0]),
            (3, [1.0, 0.0], [-1.0, 0.0]),
            (4, [1.0, 0.0], [0.0, 0.0]),
            (5, [1.0, 0.0], None),
        ],
        "vec_id bigint, embedding array<double>, pair_embedding array<double>",
    )
    out = {
        r["vec_id"]: r["alignment"]
        for r in MM.cross_modal_alignment(df).collect()
    }
    assert out == {1: 1.0, 2: 0.0, 3: -1.0, 4: None, 5: None}


def test_synthetic_paired_embeddings_alignment_tracks_amp(spark, sf_dir):
    """The md5-derived second modality must create a real spread of
    alignments (some near 1, some low) and alignment must DECREASE with
    the per-row noise amp — otherwise the quantile cut is vacuous."""
    from pyspark.sql import functions as F

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        multimodal as MM,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = MM.cross_modal_alignment(MM.synthetic_paired_embeddings(emb))
    amp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("amp|"), F.col("vec_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000
    ) / F.lit(500.0)
    rows = scored.select("vec_id", "alignment", amp.alias("amp")).collect()
    lo_amp = [r["alignment"] for r in rows if r["amp"] < 0.3]
    hi_amp = [r["alignment"] for r in rows if r["amp"] > 1.7]
    assert lo_amp and hi_amp
    assert min(lo_amp) > max(hi_amp) - 0.2  # broad monotone trend
    assert sum(lo_amp) / len(lo_amp) > sum(hi_amp) / len(hi_amp) + 0.3
    assert max(r["alignment"] for r in rows) > 0.9
    assert min(r["alignment"] for r in rows) < 0.5


def test_cross_modal_alignment_is_map_side(spark, sf_dir):
    """Scale pin: scoring is pure map-side column work — zero exchanges,
    zero Python — so the only shuffle in the full filter is the scalar
    quantile aggregate."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        multimodal as MM,
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.bucketing import (
        count_exchanges,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = MM.cross_modal_alignment(MM.synthetic_paired_embeddings(emb))
    assert count_exchanges(scored) == 0
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_cross_modal_topk_retrieves_own_pair_when_aligned(spark, sf_dir):
    """Retrieval sanity: a LOW-amp query (its image ≈ its text) must
    rank its own paired image first; the offset id space keeps
    cosine_topk's self-exclusion inert."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    out = e.q_cross_modal_topk(spark, sf_dir)
    top1 = {
        r["query_id"]: r["image_id"]
        for r in out.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("query_id")
                .orderBy(F.desc("sim"), "image_id")
            ),
        ).filter(F.col("rn") == 1).collect()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    amp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("amp|"), F.col("vec_id").cast("string"))),
                1, 15,
            ), 16, 10,
        ).cast("bigint") % 1000
    ) / F.lit(500.0)
    amps = {
        r["vec_id"]: r["a"]
        for r in emb.filter(F.col("vec_id") < 3)
        .select("vec_id", amp.alias("a"))
        .collect()
    }
    assert len(top1) == 3
    hits = [qid for qid, a in amps.items() if a < 0.3]
    for qid in hits:  # near-identical pair -> must be its own top-1
        assert top1[qid] == qid, (qid, top1)
