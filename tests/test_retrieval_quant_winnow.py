"""Round-7 batch 2: RRF fusion, scalar quantization, winnowing."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    dedup as D,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    retrieval as R,
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


# --- RRF fusion --------------------------------------------------------------


def _ranked(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, rank int")


def test_rrf_fuse_hand_computed(spark):
    a = _ranked(spark, [(10, 1), (20, 2)])
    b = _ranked(spark, [(20, 1), (30, 2)])
    out = {
        r["doc_id"]: r
        for r in R.rrf_fuse(
            [("a", a), ("b", b)], id_col="doc_id", k0=60
        ).collect()
    }
    assert out[20]["rrf_score"] == pytest.approx(
        round(1 / 62 + 1 / 61, 6), abs=1e-9
    )
    # single-list docs: the absent list contributes exactly 0.0
    assert out[10]["rrf_score"] == pytest.approx(round(1 / 61, 6), abs=1e-9)
    assert out[30]["rrf_score"] == pytest.approx(round(1 / 62, 6), abs=1e-9)
    assert out[10]["b_rank"] is None and out[30]["a_rank"] is None


def test_rrf_fuse_topk_cut_is_deterministic(spark):
    # 10 and 30 tie exactly (rank 3 in one list each) -> id breaks it
    a = _ranked(spark, [(10, 3)])
    b = _ranked(spark, [(30, 3)])
    out = R.rrf_fuse([("a", a), ("b", b)], id_col="doc_id", top_k=1).collect()
    assert [r["doc_id"] for r in out] == [10]


def test_rrf_fuse_rejects_bad_input(spark):
    a = _ranked(spark, [(1, 1)])
    with pytest.raises(ValueError):
        R.rrf_fuse([], id_col="doc_id")
    with pytest.raises(ValueError):
        R.rrf_fuse([("x", a), ("x", a)], id_col="doc_id")


def test_rank_list_orders_on_rounded_score_with_id_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.5)], "doc_id bigint, s double"
    )
    out = {r["doc_id"]: r["rank"] for r in R.rank_list(df, "s", "doc_id").collect()}
    assert out == {2: 1, 1: 2, 3: 3}


def test_hybrid_rrf_search_end_to_end(spark):
    docs = spark.createDataFrame(
        [
            (0, "spark join spark join stream"),
            (1, "vector stream vector"),
            (2, "nothing relevant here"),
        ],
        "doc_id bigint, text string",
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (7, [1.0, 0.05])],
        VEC_SCHEMA,
    )
    out = R.hybrid_rrf_search(
        docs, emb, ["spark", "join", "vector", "stream"], query_vec_id=7,
        k_each=3, top_k=4,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(out.columns) == {"doc_id", "rrf_score", "lex_rank", "sem_rank"}
    # doc 0: lexical rank 1 AND semantically nearest to vec 7
    assert rows[0]["lex_rank"] == 1 and rows[0]["sem_rank"] == 1
    # doc 2 matches nothing lexically relevant but is still in the sem list
    assert rows[2]["sem_rank"] is not None
    # fused ordering puts the dual-list doc first
    top = max(rows.values(), key=lambda r: r["rrf_score"])
    assert top["doc_id"] == 0


# --- scalar quantization -----------------------------------------------------


@pytest.fixture(scope="module")
def qvecs(spark):
    rows = [
        (0, [0.0, -1.0, 5.0]),
        (1, [1.0, 1.0, 5.0]),
        (2, [0.25, 0.5, 5.0]),
        (3, [0.75, -0.5, 5.0]),
    ]
    return spark.createDataFrame(rows, VEC_SCHEMA)


def test_quantizer_params_shape(spark, qvecs):
    p = S.fit_quantizer(qvecs).collect()[0]
    assert p["lo"] == [0.0, -1.0, 5.0]
    assert p["scale"][0] == pytest.approx(1.0 / 255)
    assert p["scale"][2] == 0.0  # constant dim


def test_quantize_roundtrip_error_bounded(spark, qvecs):
    p = S.fit_quantizer(qvecs)
    rep = S.quantization_error_report(qvecs, p).collect()[0]
    assert rep["n_vecs"] == 4 and rep["n_dims"] == 3
    # error is bounded by half the largest step (scale 2/255 on dim 1)
    assert rep["max_abs_err"] <= (2.0 / 255) / 2 + 1e-9
    # constant dim reconstructs exactly -> mean err strictly below max
    assert rep["mean_abs_err"] <= rep["max_abs_err"]


def test_quantize_codes_range_and_constant_dim(spark, qvecs):
    p = S.fit_quantizer(qvecs)
    codes = {r["vec_id"]: r["codes"] for r in
             S.quantize_embeddings(qvecs, p).collect()}
    for c in codes.values():
        assert all(0 <= x <= 255 for x in c)
    assert all(c[2] == 0 for c in codes.values())  # constant dim -> 0
    assert codes[0][:2] == [0, 0] and codes[1][:2] == [255, 255]


def test_quantize_out_of_fit_range_saturates(spark, qvecs):
    p = S.fit_quantizer(qvecs)
    out = spark.createDataFrame([(9, [-5.0, 9.0, 5.0])], VEC_SCHEMA)
    c = S.quantize_embeddings(out, p).collect()[0]["codes"]
    assert c == [0, 255, 0]


def test_quantized_topk_matches_exact_on_separated_data(spark):
    # well-separated directions: int8 noise cannot flip the ranking
    rows = [(i, [float(i == j) + 0.01 * j for j in range(4)]) for i in range(8)]
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    p = S.fit_quantizer(vecs)
    codes = S.quantize_embeddings(vecs, p)
    qs = vecs.filter(F.col("vec_id") < 2)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(vecs, qs, k=3).collect()}
    quant = {(r["query_id"], r["neighbor_id"])
             for r in S.quantized_cosine_topk(codes, p, qs, k=3).collect()}
    assert exact == quant


def test_quantized_serve_has_no_python_stage(spark, qvecs):
    p = S.fit_quantizer(qvecs)
    codes = S.quantize_embeddings(qvecs, p)
    plan = S.quantized_cosine_topk(
        codes, p, qvecs.filter(F.col("vec_id") == 0), k=2
    )
    ex = plan._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ex and "InPandas" not in ex


# --- winnowing ---------------------------------------------------------------


def _py_winnow(text, k=4, w=4):
    """Independent reference implementation (1-based positions)."""
    toks = re.findall(r"[a-z0-9]+", (text or "").lower())
    if not toks:
        return set()
    n_grams = max(len(toks) - (k - 1), 1)
    # 120-bit fingerprints: 30-char md5 hex prefix; lexicographic order
    # on lowercase hex equals numeric order, mirroring the operator
    ghs = [
        hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:30]
        for i in range(n_grams)
    ]
    sel = set()
    for j in range(max(n_grams - (w - 1), 1)):
        best_p, best_h = -1, "~"
        for off, h in enumerate(ghs[j:j + w]):
            if h <= best_h:
                best_h, best_p = h, j + off
        sel.add((best_p + 1, best_h))
    return sel


def test_winnow_matches_python_reference(spark):
    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "short one"),
        (2, "a b a b a b a b a b a b"),  # heavy gram repetition -> ties
        (3, None),
        (4, ""),
        (5, "one two three four"),  # exactly k words -> 1 gram
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {}
    for r in D.winnow_fingerprints(df, k=4, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in texts:
        expect = _py_winnow(text)
        assert got.get(doc_id, set()) == expect, f"doc {doc_id}"


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    # docs share a 7-word run (= w + k - 1) embedded in different prefixes
    run = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [(0, "xx yy " + run + " zz"), (1, "completely different start " + run)],
        "doc_id bigint, text string",
    )
    fps = D.winnow_fingerprints(df, k=4, w=4)
    a = {r["fp"] for r in fps.filter(F.col("doc_id") == 0).collect()}
    b = {r["fp"] for r in fps.filter(F.col("doc_id") == 1).collect()}
    assert a & b


def test_winnow_matches_pairs_and_hot_cap(spark):
    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"doc number {i} says " + run) for i in range(5)]
    rows.append((9, "nothing in common with anything else at all here"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.winnow_matches(df, min_shared=1, max_fp_docs=10).collect()
    }
    assert (0, 1) in pairs and (3, 4) in pairs
    assert not any(9 in p for p in pairs)
    # cap below the sharing degree: every shared fp is "hot" -> no pairs
    capped = D.winnow_matches(df, min_shared=1, max_fp_docs=3)
    assert capped.count() == 0


def test_winnow_matches_plan_single_scan_three_shuffles(spark, sf_dir):
    # the bucket pair-generation shape: the fingerprint pipeline runs
    # ONCE (the naive self-join re-ran scan+tokenize per reference —
    # 4 scans / 7 exchanges) and shuffles only on (doc,fp) / fp / pair
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.sources.bucketing import (
        count_exchanges,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = D.winnow_matches(docs)
    ex = plan._jdf.queryExecution().executedPlan().toString()
    assert ex.count("regexp_extract_all") == 1
    assert count_exchanges(plan) <= 3


def test_winnow_plan_is_map_side_with_single_tokenize(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = D.winnow_fingerprints(docs)
    ex = plan._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in ex and "InPandas" not in ex
    # staged projections hold: tokenize once, hash pipeline not re-inlined
    # into a pushed-down filter (the span_dedup regression, CLAUDE.md)
    assert ex.count("regexp_extract_all") == 1


# --- product quantization ----------------------------------------------------


def test_pq_fit_matches_per_sub_kmeans(spark, sf_dir):
    # the fused all-subspaces iteration must be bit-identical to m_sub
    # independent kmeans_fit runs on the dim slices (same seeds, rounds,
    # tiebreaks) — the equivalence that lets the oracle unroll per sub
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = {
        (r["sub"], r["label"], r["dim"]): r["c"]
        for r in S.pq_fit(emb, m_sub=2, k_codes=4, n_iter=2).collect()
    }
    sub_d = 32
    expect = {}
    for s in range(2):
        sliced = emb.select(
            "vec_id",
            F.slice(F.col("embedding").cast("array<double>"),
                    s * sub_d + 1, sub_d).alias("sv"),
        )
        _, cents = S.kmeans_fit(sliced, k=4, n_iter=2, vec_col="sv")
        for r in cents.collect():
            expect[(s, r["label"], r["dim"])] = r["c"]
    assert books == expect


def test_pq_encode_shape_and_self_codewords(spark):
    # 4 well-separated 4-dim vectors, m_sub=2, k=4: each seed vector is
    # its own codeword, so encoding the corpus returns the seed labels
    rows = [(i, [10.0 * (i == 0), 10.0 * (i == 1),
                 10.0 * (i == 2), 10.0 * (i == 3)]) for i in range(4)]
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    books = S.pq_fit(vecs, m_sub=2, k_codes=4, n_iter=2)
    codes = {(r["vec_id"], r["sub"]): r["code"]
             for r in S.pq_encode(vecs, books).collect()}
    assert len(codes) == 8  # m_sub codes per vector
    assert all(0 <= c < 4 for c in codes.values())
    # vector i reconstructs exactly -> its own (stable) cluster per sub
    for i in range(4):
        same = [codes[(i, s)] for s in range(2)]
        assert all(isinstance(c, int) for c in same)


def test_pq_adc_top1_matches_exact_on_separated_clusters(spark):
    # two tight clusters far apart: ADC must rank same-cluster first
    base = [1.0, 1.0, -1.0, -1.0]
    rows = []
    for i in range(4):
        rows.append((i, [b + 0.01 * i for b in base]))
    for i in range(4, 8):
        rows.append((i, [-b + 0.01 * i for b in base]))
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    books = S.pq_fit(vecs, m_sub=2, k_codes=2, n_iter=2)
    codes = S.pq_encode(vecs, books)
    top = S.pq_adc_topk(codes, books, vecs.filter("vec_id IN (0, 7)"), k=3)
    by_q = {}
    for r in top.collect():
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(by_q[0]) <= {1, 2, 3}
    assert set(by_q[7]) <= {4, 5, 6}


def test_pq_fit_guards(spark):
    vecs = spark.createDataFrame([(0, [1.0, 2.0, 3.0])], VEC_SCHEMA)
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_fit(vecs, m_sub=2, k_codes=2)
    with pytest.raises(ValueError, match="empty"):
        S.pq_fit(vecs.filter("vec_id < 0"), m_sub=1, k_codes=2)


def test_ivf_pq_indexed_serve_matches_inline_build(spark, sf_dir):
    # serving from persisted artifacts must be bit-identical to the
    # inline build (the bm25_scores_indexed convention)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter("vec_id < 2")
    inline = S.ivf_pq_topk(emb, qs, k=5, ncells=4, nprobe=2,
                           m_sub=4, k_codes=4)
    cents, cells = S.build_ivf_index(emb, ncells=4)
    books = S.pq_fit(emb, m_sub=4, k_codes=4, n_iter=2)
    codes = S.pq_encode(emb, books)
    served = S.ivf_pq_topk(
        emb, qs, k=5, nprobe=2, index=(cents, cells, books, codes)
    )
    key = lambda r: (r["query_id"], r["neighbor_id"], r["adc_dist2"])
    assert sorted(map(key, inline.collect())) == sorted(
        map(key, served.collect())
    )


# --- residual IVF-PQ ----------------------------------------------------------


def test_residualize_subtracts_own_cell_centroid(spark):
    cents = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [10.0, 20.0])], VEC_SCHEMA
    )
    vecs = spark.createDataFrame(
        [(5, [2.0, 2.5], 0), (6, [9.0, 21.0], 1)],
        "vec_id bigint, embedding array<double>, cell bigint",
    )
    out = {r["vec_id"]: r["embedding"]
           for r in S.residualize(vecs, cents).collect()}
    assert out[5] == [1.0, 0.5]
    assert out[6] == [-1.0, 1.0]


def test_residual_ivfpq_stays_in_cluster_and_finds_nearest(spark):
    # two far-apart clusters (cosine-separable so vec 0 / vec 1 become
    # the cell centroids); within-cluster variation is tiny — exactly
    # the regime where flat global codebooks waste capacity on the
    # coarse offsets and residual codebooks see only the deltas
    rows = []
    for j in range(4):  # cluster A: ids 0,2,4,6
        rows.append((2 * j, [100.0, 0.0, 1.0 + 0.5 * j, 2.0 - 0.25 * j]))
    for j in range(4):  # cluster B: ids 1,3,5,7
        rows.append((2 * j + 1, [0.0, 100.0, -1.0 - 0.5 * j, 3.0 + 0.25 * j]))
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    qs = vecs.filter("vec_id IN (0, 1)")
    top = S.ivf_pq_residual_topk(
        vecs, qs, k=3, ncells=2, nprobe=1, m_sub=2, k_codes=4
    )
    by_q = {}
    for r in top.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["adc_dist2"], r["neighbor_id"])
        )
    # nprobe=1: every neighbor comes from the query's own cluster
    assert set(n for _, n in by_q[0]) <= {2, 4, 6}
    assert set(n for _, n in by_q[1]) <= {3, 5, 7}
    # the ADC top-1 is the true L2 nearest within the cluster
    assert min(by_q[0])[1] == 2
    assert min(by_q[1])[1] == 3


def test_residual_ivfpq_indexed_serve_matches_inline_build(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter("vec_id < 2")
    inline = S.ivf_pq_residual_topk(
        emb, qs, k=5, ncells=4, nprobe=2, m_sub=4, k_codes=4
    )
    cents, cells = S.build_ivf_index(emb, ncells=4)
    res = S.residualize(cells, cents)
    books = S.pq_fit(res, m_sub=4, k_codes=4, n_iter=2)
    codes = S.pq_encode(res, books)
    served = S.ivf_pq_residual_topk(
        emb, qs, k=5, nprobe=2, index=(cents, cells, books, codes)
    )
    key = lambda r: (r["query_id"], r["neighbor_id"], r["adc_dist2"])
    assert sorted(map(key, inline.collect())) == sorted(
        map(key, served.collect())
    )


# --- dimension truncation -----------------------------------------------------


def test_truncate_dims_prefix_slice_and_guard(spark):
    vecs = spark.createDataFrame([(0, [1.0, 2.0, 3.0, 4.0])], VEC_SCHEMA)
    out = S.truncate_dims(vecs, 2).collect()[0]["embedding"]
    assert out == [1.0, 2.0]
    with pytest.raises(ValueError, match="d_keep"):
        S.truncate_dims(vecs, 0)


def test_truncated_serve_exact_when_info_is_in_prefix(spark):
    # all variation lives in the first 2 dims; tail dims are constant —
    # the truncated serve must reproduce the full-precision top-k
    rows = [(i, [float(i), float(-i), 7.0, 7.0]) for i in range(1, 8)]
    vecs = spark.createDataFrame(rows, VEC_SCHEMA)
    qs = vecs.filter("vec_id = 1")
    full = [(r["query_id"], r["neighbor_id"])
            for r in S.cosine_topk(vecs, qs, k=3).collect()]
    trunc = [(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(S.truncate_dims(vecs, 2),
                                    S.truncate_dims(qs, 2), k=3).collect()]
    assert sorted(full) == sorted(trunc)


def test_extend_ivf_pq_index_matches_reencode_against_fixed_artifacts(
    spark, sf_dir
):
    # extend must equal re-assign + re-encode of the UNION against the
    # SAME fixed centroids/codebooks (encoding depends only on those)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.filter("vec_id % 5 != 0")
    new = emb.filter("vec_id % 5 = 0")
    for residual in (False, True):
        cents, cells = S.build_ivf_index(old, ncells=4)
        src = S.residualize(cells, cents) if residual else old
        books = S.pq_fit(src, m_sub=4, k_codes=4, n_iter=2)
        codes = S.pq_encode(src, books)
        _, xcells, _, xcodes = S.extend_ivf_pq_index(
            (cents, cells, books, codes), new, residual=residual
        )
        ref_cells = S.assign_cells(emb, cents, nprobe=1)
        ref_src = S.residualize(ref_cells, cents) if residual else emb
        ref_codes = S.pq_encode(ref_src, books)
        ck = lambda df: sorted(
            (r["vec_id"], r["cell"]) for r in df.collect()
        )
        dk = lambda df: sorted(
            (r["vec_id"], r["sub"], r["code"]) for r in df.collect()
        )
        assert ck(xcells.select("vec_id", "cell")) == ck(
            ref_cells.select("vec_id", "cell")
        )
        assert dk(xcodes) == dk(ref_codes)


def test_ivfpq_encoding_gate_picks_flat_on_isotropic_data(spark, sf_dir):
    """The fit-time flat-vs-residual acceptance gate (VERDICT r7 item:
    residual encoding against raw-vector coarse centroids HURTS recall
    on near-isotropic data — the gate must measure that and pick flat,
    never default to residual)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        similarity as SM,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    choice, report, index = SM.choose_ivf_pq_encoding(
        emb, qs, k=10, ncells=16, nprobe=4, m_sub=8, k_codes=16
    )
    assert choice == "flat"
    assert report["flat_recall"] >= report["residual_recall"]
    assert report["n_queries"] == 5 and report["k"] == 10
    # recall normalizes by min(k, per-query candidate count), so it is
    # a true fraction; every sampled query lands in a probed cell here
    assert report["n_scored"] + report["n_zero_candidate"] == 5
    assert 0.0 <= report["flat_recall"] <= 1.0
    # the gate's build IS the serve index: flat serve from it matches a
    # fresh flat build exactly
    served = SM.ivf_pq_topk(
        emb, qs, k=10, ncells=16, nprobe=4, m_sub=8, k_codes=16,
        index=index,
    )
    fresh = SM.ivf_pq_topk(
        emb, qs, k=10, ncells=16, nprobe=4, m_sub=8, k_codes=16
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, fresh.collect())
    )


# --- robust winnowing (Schleimer §5) ------------------------------------------


def _py_robust_winnow(text, k=4, w=4):
    """Independent reference: per window keep the min hash, re-select
    the previous selection on ties when it is still minimal in-window,
    else rightmost minimal (0-based internally, 1-based output)."""
    toks = re.findall(r"[a-z0-9]+", (text or "").lower())
    if not toks:
        return set()
    n_grams = max(len(toks) - (k - 1), 1)
    ghs = [
        hashlib.md5(" ".join(toks[i:i + k]).encode()).hexdigest()[:30]
        for i in range(n_grams)
    ]
    out, prev = set(), -1
    for j in range(max(n_grams - (w - 1), 1)):
        window = ghs[j:j + w]
        mn = min(window)
        if j <= prev <= j + w - 1 and ghs[prev] == mn:
            continue
        off = max(i for i, h in enumerate(window) if h == mn)
        prev = j + off
        out.add((prev + 1, mn))
    return out


def test_robust_winnow_matches_python_reference(spark):
    texts = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "short one"),
        (2, "a b a b a b a b a b a b"),   # heavy repetition -> ties
        (3, None),
        (4, ""),
        (5, "one two three four"),
        (6, "x y " + "ro bust win now " * 12 + "tail words here"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    got = {}
    for r in D.robust_winnow_fingerprints(df, k=4, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for doc_id, text in texts:
        assert got.get(doc_id, set()) == _py_robust_winnow(text), doc_id


def test_robust_winnow_is_sparser_on_repetitive_text(spark):
    rep = "spark " * 60  # one gram repeated everywhere -> all ties
    df = spark.createDataFrame([(0, rep)], "doc_id bigint, text string")
    rob = D.robust_winnow_fingerprints(df, k=4, w=4)
    robust = rob.count()
    standard = D.winnow_fingerprints(df, k=4, w=4).count()
    # standard re-selects the rightmost min EVERY window (one row per
    # window); robust keeps the previous selection while it stays in
    # the window, so it records ~1 per w windows — the §5 density win
    assert robust < standard
    assert robust * (4 - 1) <= standard
    assert rob.select("fp").distinct().count() == 1  # one gram VALUE


def test_robust_winnow_value_guarantee_and_plan(spark, sf_dir):
    # the VALUE-level guarantee survives the tie rule: every window's
    # minimal hash value lands in the fingerprint set, so a shared
    # >= w+k-1 run still shares a fingerprint VALUE across docs
    run = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [(0, "xx yy " + run + " zz"), (1, "other start here " + run)],
        "doc_id bigint, text string",
    )
    fps = D.robust_winnow_fingerprints(df, k=4, w=4)
    a = {r["fp"] for r in fps.filter(F.col("doc_id") == 0).collect()}
    b = {r["fp"] for r in fps.filter(F.col("doc_id") == 1).collect()}
    assert a & b
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ex = D.robust_winnow_fingerprints(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert ex.count("regexp_extract_all") == 1
    assert "EvalPython" not in ex and "InPandas" not in ex


def test_robust_winnow_matches_shared_run_pair(spark):
    # the w + k - 1 guarantee holds for ROBUST selection too: a shared
    # 7-word run must surface as a match pair (min_shared=1)
    run = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame(
        [
            (0, "xx yy " + run + " zz"),
            (1, "completely different start " + run),
            (2, "unrelated words entirely here nothing shared at all"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.robust_winnow_matches(df, min_shared=1).collect()
    }
    assert (0, 1) in pairs
    assert all(p == (0, 1) for p in pairs)


def test_winnow_retention_report_robust_sparser(spark):
    # repetitive docs: robust selects strictly fewer fingerprints at the
    # same guarantee; counts agree with the fingerprint frames
    df = spark.createDataFrame(
        [(i, "spam ham " * 30 + f"tail{i} words here") for i in range(6)]
        + [(99, None)],
        "doc_id bigint, text string",
    )
    rep = {r["variant"]: r.asDict() for r in
           D.winnow_retention_report(df).collect()}
    assert rep["robust"]["n_fps"] <= rep["standard"]["n_fps"]
    assert rep["robust"]["n_grams"] == rep["standard"]["n_grams"] > 0
    n_std = D.winnow_fingerprints(df).count()
    n_rob = D.robust_winnow_fingerprints(df).count()
    assert rep["standard"]["n_fps"] == n_std
    assert rep["robust"]["n_fps"] == n_rob
    assert rep["standard"]["retention"] == round(
        n_std / rep["standard"]["n_grams"], 6
    )


# --- mmr_rerank (Carbonell & Goldstein 1998) --------------------------------


def _py_round6(x):
    # Spark HALF_UP at 6dp on doubles
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _py_mmr(cands, vecs, k, lam):
    """Pure-Python mirror of mmr_rerank: cands = {qid: [(nid, rel)]},
    vecs = {vid: list[float]}; returns [(qid, nid, sel_rank, score)]."""
    import math

    def cos(a, b):
        # a zero-norm vector has no cosine: NULL, which max() skips
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return None if na * nb == 0 else d / (na * nb)

    out = []
    for qid, cl in cands.items():
        rem = dict(cl)
        sel = []
        for i in range(1, k + 1):
            if not rem:
                break
            best = None
            for nid, rel in rem.items():
                sims = [cos(vecs[nid], vecs[s]) for s in sel]
                ms = max(
                    (_py_round6(x) for x in sims if x is not None),
                    default=0.0,
                )
                score = _py_round6(lam * rel - (1.0 - lam) * ms)
                key = (-score, nid)
                if best is None or key < best[0]:
                    best = (key, nid, score)
            _, nid, score = best
            out.append((qid, nid, i, score))
            sel.append(nid)
            del rem[nid]
    return sorted(out)


@pytest.fixture(scope="module")
def mmr_vecs(spark):
    rows = [
        (0, [1.0, 1.0, 0.0]),    # the query
        (1, [1.0, 0.9, 0.0]),    # relevant
        (2, [0.9, 1.0, 0.05]),   # relevant, near-dup of 1
        (3, [1.0, -0.2, 0.1]),   # less relevant, diverse
        (4, [0.2, 1.0, 0.9]),    # less relevant, diverse
    ]
    return spark.createDataFrame(rows, VEC_SCHEMA)


def test_mmr_matches_python_mirror(spark, mmr_vecs):
    cand = S.cosine_topk(mmr_vecs, mmr_vecs.filter(F.col("vec_id") == 0), k=4)
    got = sorted(
        (r.query_id, r.neighbor_id, r.sel_rank, r.mmr_score)
        for r in R.mmr_rerank(cand, mmr_vecs, k=3, lam=0.5).collect()
    )
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in mmr_vecs.collect()}
    cands = {}
    for r in cand.collect():
        cands.setdefault(r.query_id, []).append((r.neighbor_id, r.sim))
    expected = _py_mmr({q: dict(c) for q, c in cands.items()}, vecs, 3, 0.5)
    assert got == expected


def test_mmr_null_sims_ties_short_lists_and_string_ids(spark):
    """A zero-norm candidate (its sims are NULL: redundancy 0 when no
    other sim exists, and max skips them otherwise), an exact
    rank-1 score tie (id ASC wins), a query with fewer than k
    candidates, and string ids, whose type the output keeps."""
    vecs = {
        "a": [1.0, 0.0, 0.0],
        "b": [0.0, 1.0, 0.0],
        "c": [1.0, 1.0, 0.0],
        "z": [0.0, 0.0, 0.0],
        "d": [0.5, 0.5, 0.7071],
        "n": [-1.0, -1.0, 0.0],
    }
    vdf = spark.createDataFrame(
        list(vecs.items()), "vec_id STRING, embedding ARRAY<DOUBLE>"
    )
    cands = {
        1: {"a": 0.9, "b": 0.9, "c": 0.8, "z": 0.7, "d": 0.5},
        2: {"z": 0.6, "b": 0.4},
        # n's sims: NULL to z, negative to a; the max is the negative one
        3: {"z": 0.9, "a": 0.8, "n": 0.5},
    }
    cdf = spark.createDataFrame(
        [(q, i, rel) for q, c in cands.items() for i, rel in c.items()],
        "query_id BIGINT, neighbor_id STRING, sim DOUBLE",
    )
    out = R.mmr_rerank(cdf, vdf, k=4, lam=0.5)
    assert out.schema.simpleString() == (
        "struct<query_id:bigint,neighbor_id:string,sel_rank:int,"
        "mmr_score:double>"
    )
    got = sorted(tuple(r) for r in out.collect())
    assert got == _py_mmr(cands, vecs, 4, 0.5)
    assert (1, "a", 1, 0.45) in got  # the tie with b breaks by id
    assert [r for r in got if r[0] == 2] == [(2, "b", 2, 0.2), (2, "z", 1, 0.3)]
    assert (3, "n", 3, 0.603554) in got


def test_mmr_diversifies_away_from_near_dup(spark, mmr_vecs):
    """Pure relevance ranks the near-dup pair 1,2 first; with λ=0.5 the
    second pick must NOT be the near-duplicate of the first."""
    cand = S.cosine_topk(mmr_vecs, mmr_vecs.filter(F.col("vec_id") == 0), k=4)
    picks = {
        r.sel_rank: r.neighbor_id
        for r in R.mmr_rerank(cand, mmr_vecs, k=2, lam=0.5).collect()
    }
    assert picks[1] in (1, 2)
    assert picks[2] not in (1, 2)


def test_mmr_lambda_one_is_relevance_order(spark, mmr_vecs):
    cand = S.cosine_topk(mmr_vecs, mmr_vecs.filter(F.col("vec_id") == 0), k=4)
    rel_order = [
        r.neighbor_id
        for r in cand.orderBy(F.col("sim").desc(), F.col("neighbor_id")).collect()
    ]
    got = R.mmr_rerank(cand, mmr_vecs, k=3, lam=1.0).collect()
    by_rank = {r.sel_rank: r.neighbor_id for r in got}
    assert [by_rank[i] for i in (1, 2, 3)] == rel_order[:3]


def test_mmr_short_candidate_list_returns_fewer(spark, mmr_vecs):
    cand = S.cosine_topk(mmr_vecs, mmr_vecs.filter(F.col("vec_id") == 0), k=2)
    out = R.mmr_rerank(cand, mmr_vecs, k=5, lam=0.5).collect()
    assert len(out) == 2
    assert sorted(r.sel_rank for r in out) == [1, 2]


def test_mmr_validates_args(spark, mmr_vecs):
    cand = S.cosine_topk(mmr_vecs, mmr_vecs.filter(F.col("vec_id") == 0), k=2)
    with pytest.raises(ValueError, match="k must be positive"):
        R.mmr_rerank(cand, mmr_vecs, k=0)
    with pytest.raises(ValueError, match="lambda"):
        R.mmr_rerank(cand, mmr_vecs, lam=1.5)


def test_hard_negatives_drops_positives_and_reranks(spark):
    ranked = spark.createDataFrame(
        [
            ("q1", 1, 9.0), ("q1", 2, 8.0), ("q1", 3, 7.0), ("q1", 4, 6.0),
            ("q2", 1, 5.0), ("q2", 9, 4.0),
        ],
        "query_id STRING, doc_id BIGINT, bm25 DOUBLE",
    )
    # a positive in the MIDDLE of q1's list: ranks must close the gap
    pos = spark.createDataFrame([("q1", 2), ("q2", 9)],
                                "query_id STRING, doc_id BIGINT")
    out = sorted(
        (r.query_id, r.doc_id, r.neg_rank)
        for r in R.hard_negatives(ranked, pos, k=2).collect()
    )
    assert out == [("q1", 1, 1), ("q1", 3, 2), ("q2", 1, 1)]
    import pytest as _pt

    with _pt.raises(ValueError):
        R.hard_negatives(ranked, pos, k=0)


def _runs(spark, rows_a, rows_b):
    sch = "q INT, doc STRING, rank INT"
    return (
        spark.createDataFrame(rows_a, sch),
        spark.createDataFrame(rows_b, sch),
    )


def _rbo_py(depth, p, xs):
    return round(sum(
        (1.0 - p) * p ** (d - 1) * xs[d - 1] / d
        for d in range(1, depth + 1)
    ), 6)


def test_rbo_identical_lists_is_one_minus_p_to_d(spark):
    rows = [(1, f"d{i}", i) for i in range(1, 6)]
    a, b = _runs(spark, rows, rows)
    r = R.rbo_report(a, b, "q", "doc", "rank", depth=5, p_num=9,
                     p_den=10).first()
    # identical prefixes: X_d = d, bounded RBO@d = 1 - p^d
    assert r["rbo"] == _rbo_py(5, 0.9, [1, 2, 3, 4, 5])
    assert r["rbo"] == round(1.0 - 0.9 ** 5, 6)
    assert r["overlap_at_depth"] == 5 and r["agreement_at_depth"] == 1.0


def test_rbo_disjoint_and_swapped_and_missing_group(spark):
    a, b = _runs(
        spark,
        [(1, "x", 1), (1, "y", 2), (2, "a", 1)],
        [(1, "y", 1), (1, "x", 2), (3, "z", 1)],
    )
    out = {r["q"]: r for r in R.rbo_report(
        a, b, "q", "doc", "rank", depth=2, p_num=9, p_den=10
    ).collect()}
    # swapped pair: X_1 = 0 (different heads), X_2 = 2
    assert out[1]["rbo"] == _rbo_py(2, 0.9, [0, 2])
    assert out[1]["agreement_at_depth"] == 1.0
    # groups present in only one run score 0 everywhere
    assert out[2]["rbo"] == 0.0 and out[2]["overlap_at_depth"] == 0
    assert out[3]["rbo"] == 0.0
    # top-weighting: agreeing on the HEAD beats agreeing on the tail
    a2, b2 = _runs(
        spark,
        [(1, "x", 1), (1, "y", 2)],
        [(1, "x", 1), (1, "z", 2)],  # head agrees
    )
    a3, b3 = _runs(
        spark,
        [(1, "x", 1), (1, "y", 2)],
        [(1, "z", 1), (1, "y", 2)],  # only tail agrees
    )
    head = R.rbo_report(a2, b2, "q", "doc", "rank", depth=2).first()
    tail = R.rbo_report(a3, b3, "q", "doc", "rank", depth=2).first()
    assert head["rbo"] > tail["rbo"]


def test_rbo_ranks_beyond_depth_ignored_and_guards(spark):
    a, b = _runs(
        spark,
        [(1, "x", 1), (1, "deep", 9)],
        [(1, "x", 1), (1, "deep", 9)],
    )
    r = R.rbo_report(a, b, "q", "doc", "rank", depth=3).first()
    assert r["overlap_at_depth"] == 1  # rank-9 agreement is invisible
    with pytest.raises(ValueError, match="depth"):
        R.rbo_report(a, b, "q", "doc", "rank", depth=0)
    with pytest.raises(ValueError, match="rational"):
        R.rbo_report(a, b, "q", "doc", "rank", depth=3, p_num=10,
                     p_den=10)
