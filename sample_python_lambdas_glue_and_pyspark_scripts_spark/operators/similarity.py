"""Embedding similarity search (SURVEY.md §7.1 M6).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Dot products run as native ``zip_with``/``aggregate`` expressions in
  double precision (JVM-side, no Python).
- ``ivf_topk``: the scale path — IVF-style inverted file with
  deterministic coarse centroids; each vector is assigned to its nearest
  centroid (one map-side pass vs a broadcast centroid table), queries
  probe only ``nprobe`` cells. At 100 TB this turns an O(n) scan per
  query into O(n * nprobe / ncells) with a shuffle keyed on cell id.
- ``cosine_pairs``: embedding near-duplicate pairs above a threshold.

All cosine math is computed on ``double``-cast arrays so results are
bit-comparable with a DuckDB oracle using
``list_cosine_similarity(CAST(e AS DOUBLE[]), ...)`` (rounded to 6dp).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import util
from .util import (
    collect_if_small,
    driver_frame,
    ensure_parallelism,
    guard_quadratic,
    np_round_half_up_like_spark,
)

# r14 (guide §8; the CC/PPR/Gram precedent applied to the Lloyd fits):
# small corpora run kmeans_fit / pq_fit driver-side — the fits make
# their discrete decisions (argmin, tie-break) on 6dp-ROUNDED distances
# and emit 6dp-rounded means, so the driver twin reproduces the same
# values under the contract's existing sum-order tolerance (the per-dim
# fold is replicated in the exact left-to-right order of the Spark
# aggregate). Inputs with NULL/ragged vectors or non-integral ids fall
# through to the distributed loops unchanged, as does anything over the
# bound (``_collect_vectors_bounded``).


def _dbl(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed per-vector norms. NULL (not NaN) for a
    zero-norm OR NaN-poisoned vector: Spark sorts NaN ABOVE every double
    and NaN >= t is true, so a NaN similarity would win every top-k and
    pass every threshold filter; NULL drops out of desc ordering and
    comparisons. (``denom > 0`` is false for NaN norms; ``nanvl`` guards
    a NaN dot product reaching the division.)

    Precomputing norms matters on the O(n·m) join paths: norms depend on
    one vector only, so they are computed n+m times before the join
    instead of 2·n·m times after it.
    """
    denom = na * nb
    # denom > 0 rejects zero and NaN norms; the != inf guard rejects
    # overflowed norms (1e200-scale components), whose division would
    # otherwise yield a spurious 0.0; nanvl catches a NaN dot product
    return F.when(
        (denom > 0) & (denom != F.lit(float("inf"))),
        F.nanvl(dot(a, b) / denom, F.lit(None).cast("double")),
    )


def cosine(a: Column, b: Column) -> Column:
    return cosine_from_norms(a, b, l2_norm(a), l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, sim).

    The query side broadcasts (queries are few); the corpus streams
    through map-side; the only shuffle is the per-query top-k window over
    candidate rows. Self-matches (same id) are excluded. Ranking uses the
    rounded similarity with neighbor-id tiebreak so the cut is
    deterministic across engines.

    Cost is |corpus| × |queries| expression rows — guarded on the QUERY
    side (the corpus side streams; a corpus-sized query set makes this
    all-pairs). Scale paths: ``cosine_topk_vectorized`` (BLAS batches)
    or ``ann_ivf_topk`` (index probe).
    """
    guard_quadratic(
        queries, "cosine_topk",
        "cosine_topk_vectorized (BLAS) or ann_ivf_topk (IVF index)",
        allow_quadratic,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _dbl(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), _dbl(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_to,
            ),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    query_chunk_size: int = 4096,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the
    high-throughput twin of ``cosine_topk`` (same results, same output
    contract, oracle-checked against the same SQL).

    Shape: the query batch collects to the driver and ships inside the
    UDF closure (vector-search serving contract: queries per batch are
    thousands, the corpus is the big side); the corpus streams through
    ``mapInPandas``, each Arrow batch scoring ALL queries with one BLAS
    matmul and keeping only its local top-k per query under the global
    order (sim desc, neighbor_id asc). Selection under a total order
    commutes with partition-wise prefixing, so the global window over
    the surviving n_batches x n_queries x k rows is exact — the O(n*m)
    pair relation never materializes as Spark rows and never shuffles.

    Parity details pinned by tests: Spark shortest-decimal-repr HALF_UP
    rounding (see ``np_round_half_up_like_spark``); zero-norm and
    NaN-poisoned vectors score NULL (never NaN) on both sides; a batch
    short of k non-null candidates pads with its lowest-id NULL-sim rows
    so the global NULLS-LAST fill matches the join formulation's.

    Contract narrowing vs ``cosine_topk``: ids must be an integral type
    (the output schema is bigint ids; numpy packs them as int64). The
    join formulation keeps arbitrary orderable id types.

    Huge query sets: queries stream to the driver via ``toLocalIterator``
    in ``query_chunk_size`` blocks; each block ships its own closure, so
    PER-TASK broadcast/closure size and per-batch Arrow memory are
    O(chunk) — the failure mode this fixes is one giant serialized
    closure (task-size limits, executor OOM on C@Qt intermediates). The
    driver still holds every chunk's matrices across the combined plan
    (total O(|queries|), same as collecting), and the corpus is scanned
    once per block — for truly unbounded query sets run blocks as
    separate jobs and persist per-block results instead. A final re-rank
    unifies blocks when a query id spans more than one.
    """
    import numpy as np
    import pandas as pd

    _INTEGRAL = ("byte", "tinyint", "short", "smallint", "int", "integer",
                 "bigint", "long")
    for side, d in (("corpus", corpus), ("queries", queries)):
        t = dict(d.dtypes).get(id_col)
        if t not in _INTEGRAL:
            raise ValueError(
                f"cosine_topk_vectorized requires an integral {id_col} "
                f"({side} has {t}); use cosine_topk for other id types"
            )
    out_schema = "query_id bigint, neighbor_id bigint, sim double"
    scale = float(10**round_to)
    corpus_proj = ensure_parallelism(corpus).select(id_col, vec_col)

    def _score_block(q_rows):
        qids = np.array([r[0] for r in q_rows], dtype=np.int64)
        Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
        qn = np.linalg.norm(Q, axis=1)
        # zero-norm queries keep a column (NULL sims rank by neighbor id);
        # dividing by 1 avoids a warn — the column is overridden to NULL
        Qt = (Q / np.where(qn == 0.0, 1.0, qn)[:, None]).T

        def score(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                ids = pdf[id_col].to_numpy(np.int64)
                C = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
                if C.shape[1] != Qt.shape[0]:
                    raise ValueError(
                        f"corpus vectors must be uniform dim {Qt.shape[0]}"
                    )
                cn = np.linalg.norm(C, axis=1)
                # non-finite norm = zero-norm semantics: NULL sim (the join
                # path's nanvl guard), never a NaN that outranks everything
                valid = np.isfinite(cn) & (cn != 0.0)
                iv = ids[valid]
                inv = np.sort(ids[~valid])
                S = np_round_half_up_like_spark(
                    (C[valid] / cn[valid, None]) @ Qt, scale
                )
                # self-matches become -inf in ONE vectorized scatter — a
                # per-query boolean mask would copy the column 1024 times
                S[iv[:, None] == qids[None, :]] = -np.inf
                b = S.shape[0]
                if b > k:
                    # vectorized local top-k across every query column at
                    # once; per-query python work only on boundary ties
                    part = np.argpartition(-S, k - 1, axis=0)[:k]
                    boundary = np.take_along_axis(S, part, axis=0).min(axis=0)
                    counts = (S >= boundary[None, :]).sum(axis=0)
                oq, on, os = [], [], []
                for j in range(len(qids)):
                    qid = qids[j]
                    if qn[j] == 0.0 or not np.isfinite(qn[j]):
                        # every sim is NULL: top-k is the k lowest ids
                        pad = np.sort(ids[ids != qid])[:k]
                        oq += [qid] * len(pad)
                        on += pad.tolist()
                        os += [None] * len(pad)
                        continue
                    if b > k and counts[j] == k:
                        # the common case: an unambiguous top-k — order the k
                        # survivors under (sim desc, id asc) and done
                        idx = part[:, j]
                        sel = idx[np.lexsort((iv[idx], -S[idx, j]))]
                    else:
                        # boundary tie (or short batch): widen to every row
                        # tied with the kth sim, then cut with the id
                        # tiebreak — argpartition alone may split a tie
                        # group against the lower id
                        colj = S[:, j]
                        lo = boundary[j] if b > k else -np.inf
                        cand = np.nonzero((colj >= lo) & (colj > -np.inf))[0]
                        sel = cand[np.lexsort((iv[cand], -colj[cand]))[:k]]
                    oq += [qid] * len(sel)
                    on += iv[sel].tolist()
                    os += S[sel, j].tolist()
                    if len(sel) < k:  # NULL-sim fill, lowest ids first
                        pad = inv[inv != qid][: k - len(sel)]
                        oq += [qid] * len(pad)
                        on += pad.tolist()
                        os += [None] * len(pad)
                yield pd.DataFrame(
                    {
                        "query_id": pd.Series(oq, dtype=np.int64),
                        "neighbor_id": pd.Series(on, dtype=np.int64),
                        "sim": pd.Series(os, dtype="Float64"),
                    }
                )


        local = corpus_proj.mapInPandas(score, schema=out_schema)
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id").asc()
        )
        return (
            local.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim")
        )

    if query_chunk_size < 1:
        raise ValueError("query_chunk_size must be >= 1")
    blocks = []
    buf = []
    for r in queries.select(id_col, vec_col).toLocalIterator():
        buf.append(r)
        if len(buf) >= query_chunk_size:
            blocks.append(_score_block(buf))
            buf = []
    if buf:
        blocks.append(_score_block(buf))
    if not blocks:
        return driver_frame(corpus.sparkSession, [], out_schema)
    out = blocks[0]
    for b in blocks[1:]:
        out = out.unionByName(b)
    if len(blocks) > 1:
        # a query id duplicated ACROSS blocks would otherwise emit k rows
        # per block; one cheap re-rank over the <= n_blocks*k rows per id
        # restores the exact single-block contract
        w = Window.partitionBy("query_id").orderBy(
            F.col("sim").desc(), F.col("neighbor_id").asc()
        )
        out = (
            out.withColumn("__rnk", F.row_number().over(w))
            .filter(F.col("__rnk") <= k)
            .select("query_id", "neighbor_id", "sim")
        )
    return out


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    nprobe: int = 1,
) -> DataFrame:
    """IVF assignment: each vector gets its ``nprobe`` nearest centroid
    ids (by cosine, ties → lower centroid id). Centroids broadcast.

    ``nprobe=1`` (the corpus-side hot path: every vector, every index
    build) is an argmax aggregation, not a window: ``max_by`` partial-
    aggregates map-side, so the N x ncells scored rows collapse to N
    BEFORE the shuffle. The window formulation shuffles and sorts all
    N x ncells rows — measured 1.9x slower at 200k x 256 cells, and the
    gap grows with ncells. Both paths break ties identically (max csim,
    then min centroid id).
    """
    cents = centroids.select(
        F.col(id_col).alias("centroid_id"), _dbl(vec_col).alias("centv")
    ).withColumn("centn", l2_norm(F.col("centv")))
    v = vectors.select(
        F.col(id_col), _dbl(vec_col).alias("v"), F.col(vec_col)
    ).withColumn("vn", l2_norm(F.col("v")))
    scored = v.join(F.broadcast(cents)).withColumn(
        "csim",
        F.round(
            cosine_from_norms(
                F.col("v"), F.col("centv"), F.col("vn"), F.col("centn")
            ),
            6,
        ),
    )
    if nprobe == 1:
        # max of struct(csim, -centroid_id): NULL csim (zero-norm vector)
        # loses to any scored centroid; all-NULL falls through to the
        # lowest centroid id — deterministic either way
        return scored.groupBy(id_col).agg(
            F.first(vec_col).alias(vec_col),  # constant within the group
            F.max_by(
                "centroid_id",
                F.struct(F.col("csim"), (-F.col("centroid_id")).alias("nid")),
            ).alias(cell_col),
        ).select(id_col, vec_col, cell_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("csim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= nprobe)
        .select(id_col, vec_col, F.col("centroid_id").alias(cell_col))
    )


def build_ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncells: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: ``(centroids, corpus_cells)``.

    Coarse centroids = the first ``ncells`` corpus vectors by id (a
    deterministic stand-in for k-means — swap in trained centroids for
    production recall); ``corpus_cells`` holds every corpus vector with
    its single nearest cell id.

    The build scores N x ncells pairs — the dominant IVF cost. It
    depends only on the corpus, so persist ``corpus_cells`` (ideally
    partitioned by ``cell``) and serve every later query batch against
    it via ``ivf_topk(..., index=...)``: the probe measured serve-only
    top-k at ~19-25x over brute force at recall 1.0 (nprobe=4,
    200k x 64d corpus, 256 cells), vs ~2x when the build is re-paid
    inline (BASELINE.md, "ANN scaling probe").
    """
    centroids = (
        corpus.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(ncells)
    )
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col, nprobe=1)
    return centroids, corpus_cells


def extend_ivf_index(
    index: tuple[DataFrame, DataFrame],
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Incrementally maintain an IVF index: assign only the NEW vectors
    against the existing centroids and append — the corpus-sized build
    pass is never re-paid. This is the 100 TB maintenance story ("the
    index is a partitioned table maintained incrementally"): the
    incremental cost is O(|delta| x ncells), map-side.

    Centroids stay fixed (the standard IVF practice — cell quality
    degrades only when the data distribution drifts, at which point a
    full rebuild is a deliberate, separate act). Result cells are
    EXACTLY what a from-scratch build over the union produces (pinned by
    test), because assignment depends only on the centroids.
    """
    centroids, corpus_cells = index
    delta = assign_cells(new_vectors, centroids, id_col, vec_col, nprobe=1)
    return centroids, corpus_cells.unionByName(delta)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncells: int = 16,
    nprobe: int = 4,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k via a deterministic IVF index.

    Corpus vectors live in exactly one cell; queries probe their
    ``nprobe`` nearest cells; exact cosine runs only within probed
    cells. Output schema matches ``cosine_topk``. Pass ``index`` (from
    ``build_ivf_index``, possibly re-read from storage) to amortize the
    index build across query batches; otherwise it is built inline from
    ``corpus`` and ``ncells``.
    """
    centroids, corpus_cells = (
        index if index is not None
        else build_ivf_index(corpus, id_col, vec_col, ncells)
    )
    query_cells = assign_cells(queries, centroids, id_col, vec_col, nprobe=nprobe)
    cq = query_cells.select(
        F.col(id_col).alias("query_id"), F.col("cell"), _dbl(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    cc = corpus_cells.select(
        F.col(id_col).alias("neighbor_id"), F.col("cell"), _dbl(vec_col).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    # no distinct needed: corpus vectors are assigned with nprobe=1, so a
    # (query, neighbor) pair can meet through at most one shared cell
    scored = (
        cq.join(cc, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def hyperplane_signature(
    vectors: DataFrame,
    dim: int,
    n_planes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH signature.

    bit j = sign(<v, h_j>) with h_j a fixed pseudo-random hyperplane
    (deterministic per seed, generated driver-side, inlined as literals —
    no data shuffle, pure map-side). P(bit match) = 1 - angle/pi, so near
    neighbors collide in signature space.

    ``n_planes`` is capped at 63 (bits pack into one signed bigint); wider
    signatures need a two-word layout.
    """
    import random

    if not 1 <= n_planes <= 63:
        raise ValueError("n_planes must be in [1, 63] (bigint bit packing)")
    rnd = random.Random(seed)
    planes = [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]

    def plane_dot(plane: list[float]) -> Column:
        # index the raw array column directly: wrapping it in a
        # transform() and indexing THAT would embed a fresh HOF subtree
        # per term (dim x n_planes copies — Catalyst does not CSE across
        # nested higher-order functions, see CLAUDE.md)
        terms = [
            F.col(vec_col)[i].cast("double") * F.lit(w)
            for i, w in enumerate(plane)
        ]
        s = terms[0]
        for t in terms[1:]:
            s = s + t
        return s

    sig = None
    for j, plane in enumerate(planes):
        bit = F.when(plane_dot(plane) > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = bit if sig is None else (sig + bit)
    return vectors.select(F.col(id_col), sig.alias("hp_sig"))


def hyperplane_lsh_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs: hyperplane-signature banding for
    candidates, exact cosine verify. Same output contract as
    ``cosine_pairs`` but candidate generation is a bucket join instead of
    the O(n²) cross join — the LSH scale path for embeddings."""
    if bands < 1 or n_planes % bands != 0:
        # bands > n_planes would give 0-bit bands (every row in ONE
        # bucket: the O(n²) blowup this function exists to avoid);
        # non-divisible values would silently drop the top planes
        raise ValueError(
            f"bands ({bands}) must divide n_planes ({n_planes}) exactly"
        )
    vectors = ensure_parallelism(vectors)
    sigs = hyperplane_signature(vectors, dim, n_planes, id_col, vec_col, seed)
    bits_per_band = n_planes // bands
    mask = (1 << bits_per_band) - 1
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("hp_sig"), b * bits_per_band)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_val")
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )
    va = vectors.select(
        F.col(id_col).alias("a"), _dbl(vec_col).alias("va")
    ).withColumn("na", l2_norm(F.col("va")))
    vb = vectors.select(
        F.col(id_col).alias("b"), _dbl(vec_col).alias("vb")
    ).withColumn("nb", l2_norm(F.col("vb")))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding near-dup pairs: (a, b, sim) with a < b, sim >= threshold.

    Brute-force O(n²) within the join — correct baseline, guarded above
    ``util.QUADRATIC_GUARD_ROWS`` (pass ``allow_quadratic=True`` to
    override); at scale, pre-bucket with ``assign_cells`` and join on
    cell (the IVF trick) or random-hyperplane LSH (``cosine_pairs_lsh``)
    before verifying.

    r14 probe note: a chunked-BLAS applyInPandas engine (the r10
    SemDeDup recipe) was built, proven value-identical, and REVERTED —
    the all-pairs scan lands in ONE dim-keyed group (no per-cluster
    parallelism to exploit), and a single-task numpy kernel measured
    SLOWER than the 32-core codegen join at every probed size (4.1 s vs
    2.1 s at sf0.1's 2000×64; the per-cluster SemDeDup form keeps its
    BLAS win because its groups parallelize). The scale path for pair
    mining stays ``cosine_pairs_lsh``.
    """
    guard_quadratic(
        vectors, "cosine_pairs",
        "cosine_pairs_lsh (SRP-banded) or assign_cells + within-cell join",
        allow_quadratic,
    )
    vectors = ensure_parallelism(vectors)
    l = vectors.select(
        F.col(id_col).alias("a"), _dbl(vec_col).alias("va")
    ).withColumn("na", l2_norm(F.col("va")))
    r = vectors.select(
        F.col(id_col).alias("b"), _dbl(vec_col).alias("vb")
    ).withColumn("nb", l2_norm(F.col("vb")))
    return (
        l.join(r, F.col("a") < F.col("b"))
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-label centroids as (label, dim, c) — the mean of each embedding
    dimension, rounded so both engines agree bit-for-bit.

    posexplode is map-side; the mean is one shuffle keyed on
    (label, dim) with partial aggregation — shuffled volume is
    |labels| x |dims|, independent of corpus size.
    """
    exploded = vectors.select(
        F.col(label_col).alias("label"),
        F.posexplode(_dbl(vec_col)).alias("dim", "val"),
    )
    return exploded.groupBy("label", "dim").agg(
        F.round(F.avg("val"), round_to).alias("c")
    )


def _centroid_arrays(centroids: DataFrame) -> DataFrame:
    """(label, dim, c) → (label, centv array) with dims in order."""
    return centroids.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centv")
    )


def assign_nearest_centroid(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (one k-means / classification step):
    each vector gets the label of the closest centroid by squared L2
    distance. Returns (vec_id, assigned_label, dist2).

    Centroids default to ``label_centroids`` of the input itself (one
    self-assignment step — the k-means E-step). The centroid table
    broadcasts (|labels| x |dims| rows); distance math is native
    zip_with/aggregate; the argmin is a per-vector window, deterministic
    via (rounded dist2, label) total order.
    """
    if centroids is None:
        centroids = label_centroids(vectors, label_col, vec_col)
    cents = _centroid_arrays(centroids)
    v = ensure_parallelism(vectors).select(
        F.col(id_col).alias("vec_id"), _dbl(vec_col).alias("v")
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("centv"), lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = v.join(F.broadcast(cents)).select(
        "vec_id", F.col("label"), F.round(dist2, 6).alias("dist2")
    )
    # asc_nulls_last: a dimension-mismatched centroid yields NULL dist2
    # (zip_with pads with null) — default NULLS FIRST would make it win
    # the argmin for every vector
    w = Window.partitionBy("vec_id").orderBy(
        F.col("dist2").asc_nulls_last(), F.col("label").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", F.col("label").alias("assigned_label"), "dist2")
    )


def _collect_vectors_bounded(df: DataFrame, id_col: str, vec_col: str):
    """Driver-contraction probe: collect ``(id, double-vector)`` rows
    iff the input fits under the bound (``util.collect_if_small``), ids
    are integral, and every vector is non-NULL, uniform-width, with no
    NULL elements. Returns ``(ids, vecs, d, id_type)`` or None (caller
    falls through to the distributed form)."""
    t = dict(df.dtypes).get(id_col)
    if t not in ("tinyint", "smallint", "int", "bigint"):
        return None
    rows = collect_if_small(
        df.select(F.col(id_col).alias("__id"), _dbl(vec_col).alias("__v")),
        # a tenth of the row bound: each row carries a d-vector
        # (100k×64 doubles ≈ 51 MB, the class of 1M edges)
        util.DRIVER_CONTRACT_MAX_ROWS // 10,
    )
    if rows is None:
        return None
    ids, vecs, d = [], [], None
    for r in rows:
        v = r["__v"]
        if v is None:
            return None
        if d is None:
            d = len(v)
        if len(v) != d or any(x is None for x in v):
            return None
        ids.append(r["__id"])
        vecs.append(v)
    if not ids:
        return None
    return ids, vecs, d, t


def _lloyd_driver(ids, vecs, k: int, n_iter: int, early_stop: bool):
    """Driver twin of the kmeans_fit loop over id-sorted rows: E-step
    distances fold left-to-right per dim (the exact order of the Spark
    ``aggregate``), round 6dp, argmin with smallest-label tie-break;
    M-step means accumulate in id order and round 6dp. Returns
    ``(assign rows, centroid rows)`` matching the distributed outputs.
    Labels whose cluster empties drop out, exactly like the
    distributed M-step."""
    import numpy as np

    ids_a = np.array(ids, dtype=np.int64)
    order = np.argsort(ids_a, kind="stable")
    ids_a = ids_a[order]
    X = np.array(vecs, dtype=np.float64)[order]
    n, d = X.shape
    k = min(k, n)

    # seeds: first k rows by id; label_centroids over one row = round6(x)
    labels_now = list(range(k))
    C = np_round_half_up_like_spark(X[:k].copy(), 1e6)

    def e_step():
        kc = C.shape[0]
        acc = np.zeros((n, kc), dtype=np.float64)
        for j in range(d):  # sequential fold over dims — Spark's order
            diff = X[:, j][:, None] - C[:, j][None, :]
            acc = acc + diff * diff
        dist = np_round_half_up_like_spark(acc, 1e6)
        pick = np.argmin(dist, axis=1)  # first min = smallest label
        return np.array(labels_now)[pick], dist[np.arange(n), pick]

    def m_step(asg):
        new_labels, rows_c = [], []
        for lbl in sorted(set(int(x) for x in asg)):
            members = np.nonzero(asg == lbl)[0]  # id-sorted row order
            acc = np.zeros(d, dtype=np.float64)
            for i in members:
                acc = acc + X[i]
            new_labels.append(lbl)
            rows_c.append(np_round_half_up_like_spark(acc / len(members), 1e6))
        return new_labels, np.array(rows_c, dtype=np.float64)

    asg = dist2 = None
    prev = None
    for _ in range(max(1, n_iter)):
        asg, dist2 = e_step()
        if early_stop and prev is not None and (asg == prev).all():
            break
        labels_now, C = m_step(asg)
        prev = asg
    assign_rows = [
        (int(ids_a[i]), int(asg[i]), float(dist2[i])) for i in range(n)
    ]
    cent_rows = [
        (int(labels_now[ci]), j, float(C[ci, j]))
        for ci in range(len(labels_now))
        for j in range(d)
    ]
    return assign_rows, cent_rows


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    early_stop: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Full Lloyd's k-means from the existing E/M primitives: E-step =
    ``assign_nearest_centroid`` (broadcast centroids, argmin with label
    tiebreak), M-step = ``label_centroids`` (posexplode + partial-agg
    mean, shuffled volume k x dims regardless of corpus size).

    Returns ``(assignments, centroids)``: the final (vec_id,
    assigned_label, dist2) and the (label, dim, c) centroids of that
    final assignment.

    Deterministic by construction — seeds are the first ``k`` vectors by
    id (labels 0..k-1 in id order) and every distance/mean is rounded to
    6dp — so a FIXED ``n_iter`` run is oracle-checkable as plain
    (non-recursive) SQL with the loop unrolled. ``early_stop=True`` adds
    a changed-assignment count per round (a driver-side decision, not
    driver-side data) and stops when an E-step repeats the previous
    labeling. Clusters that lose every member drop out of the centroid
    table (the standard Lloyd hazard — callers needing exactly k cells
    should reseed).

    Per-round lineage is truncated with lazy localCheckpoints: an
    iterative plan otherwise doubles each round and Catalyst re-analyzes
    the whole history (see operators/clustering.py for the same
    pattern).
    """
    got = _collect_vectors_bounded(vectors, id_col, vec_col)
    if got is not None:
        ids, vecs, _d, id_t = got
        assign_rows, cent_rows = _lloyd_driver(
            ids, vecs, k, n_iter, early_stop
        )
        spark = vectors.sparkSession
        return (
            driver_frame(
                spark,
                assign_rows,
                f"vec_id {id_t}, assigned_label INT, dist2 DOUBLE",
            ),
            driver_frame(spark, cent_rows, "label INT, dim INT, c DOUBLE"),
        )
    v = ensure_parallelism(vectors).select(id_col, vec_col)
    w0 = Window.orderBy(F.col(id_col).asc())
    seeds = (
        v.orderBy(F.col(id_col).asc())
        .limit(k)
        .withColumn("label", F.row_number().over(w0) - 1)
    )
    cents = label_centroids(seeds, "label", vec_col)
    assign = None
    prev = None
    for _ in range(max(1, n_iter)):
        assign = assign_nearest_centroid(
            v, cents, id_col, "label", vec_col
        ).localCheckpoint(eager=False)
        if early_stop and prev is not None:
            changed = (
                assign.alias("a")
                .join(prev.alias("p"), "vec_id")
                .filter(F.col("a.assigned_label") != F.col("p.assigned_label"))
                .count()
            )
            if changed == 0:
                break
        labeled = v.join(
            assign.select(
                F.col("vec_id").alias(id_col),
                F.col("assigned_label").alias("label"),
            ),
            id_col,
        )
        cents = label_centroids(labeled, "label", vec_col).localCheckpoint(
            eager=False
        )
        prev = assign
    return assign, cents


def _semantic_dropped_vectorized(
    labeled: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Within-cluster drop set via per-cluster BLAS: for each cluster,
    sort by id, chunk the rows, score each chunk against the whole
    cluster with one matmul, and emit every id with SOME lower-id
    neighbor at round6(cos) ≥ threshold. Index order == id order after
    the sort, so the strict-lower-triangle mask IS the ``a < b``
    predicate of the join formulation."""
    import numpy as np
    import pandas as pd

    integral = ("byte", "tinyint", "short", "smallint", "int", "integer",
                "bigint", "long")
    t = dict(labeled.dtypes).get(id_col)
    if t not in integral:
        raise TypeError(
            f"vectorized semantic_dedup needs an integral {id_col} "
            f"(got {t}); use engine='join' for arbitrary id types"
        )
    thr = float(threshold)

    def find_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__a")
        ids = pdf["__a"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["__va"].to_numpy()).astype(np.float64, copy=False)
        norms = np.sqrt((mat * mat).sum(axis=1))
        n = len(ids)
        out: list[np.ndarray] = []
        chunk = 1024
        for s in range(1, n, chunk):  # index 0 has no lower-id peer
            e = min(s + chunk, n)
            sims = mat[s:e] @ mat.T
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = sims / (norms[s:e, None] * norms[None, :])
            sims = np_round_half_up_like_spark(sims, 1e6)
            lower = np.arange(n)[None, :] < np.arange(s, e)[:, None]
            # NaN (zero-norm / poisoned) compares False — never drops,
            # matching the join path's NULL similarity
            with np.errstate(invalid="ignore"):
                hit = ((sims >= thr) & lower).any(axis=1)
            out.append(ids[s:e][hit])
        flat = (
            np.concatenate(out) if out else np.asarray([], dtype=np.int64)
        )
        return pd.DataFrame({id_col: flat})

    src = labeled.select(
        F.col("assigned_label").alias("__lbl"),
        F.col(id_col).alias("__a"),
        _dbl(vec_col).alias("__va"),
    )
    return src.groupBy("__lbl").applyInPandas(
        find_dropped, schema=f"{id_col} bigint"
    )


def _semantic_maxsim_vectorized(
    labeled: DataFrame, thr_min: float, id_col: str, vec_col: str
) -> DataFrame:
    """Per-id MAX lower-id within-cluster similarity (≥ ``thr_min``
    only) via the same per-cluster chunked-BLAS scan as
    :func:`_semantic_dropped_vectorized` — the sweep's reduction: one
    Σ|c|² matmul pass instead of Σ|c|² Spark pair rows. Sims round to
    6dp BEFORE the max (identical to the join form's round-then-MAX).
    Returns ``(b bigint, __ms double)`` for ids with ≥ 1 qualifying
    lower-id neighbor."""
    import numpy as np
    import pandas as pd

    integral = ("byte", "tinyint", "short", "smallint", "int", "integer",
                "bigint", "long")
    t = dict(labeled.dtypes).get(id_col)
    if t not in integral:
        raise TypeError(
            f"vectorized semantic_dedup_sweep needs an integral {id_col} "
            f"(got {t}); use engine='join' for arbitrary id types"
        )
    thr = float(thr_min)

    def find_maxsim(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__a")
        ids = pdf["__a"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["__va"].to_numpy()).astype(np.float64, copy=False)
        norms = np.sqrt((mat * mat).sum(axis=1))
        n = len(ids)
        out_ids: list[np.ndarray] = []
        out_ms: list[np.ndarray] = []
        chunk = 1024
        for s in range(1, n, chunk):  # index 0 has no lower-id peer
            e = min(s + chunk, n)
            sims = mat[s:e] @ mat.T
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = sims / (norms[s:e, None] * norms[None, :])
            sims = np_round_half_up_like_spark(sims, 1e6)
            lower = np.arange(n)[None, :] < np.arange(s, e)[:, None]
            with np.errstate(invalid="ignore"):
                ok = (sims >= thr) & lower  # NaN compares False
            masked = np.where(ok, sims, -np.inf)
            ms = masked.max(axis=1)
            hit = np.isfinite(ms)
            out_ids.append(ids[s:e][hit])
            out_ms.append(ms[hit])
        return pd.DataFrame(
            {
                "b": np.concatenate(out_ids)
                if out_ids else np.asarray([], dtype=np.int64),
                "__ms": np.concatenate(out_ms)
                if out_ms else np.asarray([], dtype=np.float64),
            }
        )

    src = labeled.select(
        F.col("assigned_label").alias("__lbl"),
        F.col(id_col).alias("__a"),
        _dbl(vec_col).alias("__va"),
    )
    return src.groupBy("__lbl").applyInPandas(
        find_maxsim, schema="b bigint, __ms double"
    )


def auto_k(n: int, target_cluster_size: int = 1024) -> int:
    """Cluster count enforcing SemDeDup's k ∝ n invariant: enough
    clusters that the EXPECTED cluster size is ``target_cluster_size``,
    so the within-cluster Σ|c|² pair scan stays ~n·target (linear in n
    at fixed target) instead of quadratic. ceil-div, floor 2."""
    return max(2, -(-max(0, n) // max(1, target_cluster_size)))


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    k: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "vectorized",
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): cluster the embedding space with k-means, then
    drop every vector that is ≥ ``threshold`` cosine-similar to a
    lower-id vector in the SAME cluster. Returns the kept rows as
    ``(id_col, assigned_label)``.

    This is the scale story for embedding-level near-dup removal: the
    quadratic pair comparison is confined to within-cluster blocks, so
    cost is Σ|cluster|² instead of n² — with balanced clusters that is a
    k× reduction, and clusters are independently parallel (the pair join
    shuffles on the cluster label, not on a global key). The exact
    corpus-wide variant is :func:`cosine_pairs`; this trades the
    (rare) cross-cluster near-dup for tractability, exactly as in the
    paper.

    Deterministic end-to-end: k-means is the fixed-iteration seeded fit
    from :func:`kmeans_fit` and sims are rounded to 6dp, so the whole
    operator (including the clustering) unrolls to plain SQL for the
    DuckDB oracle.

    ``engine`` picks how the within-cluster pair scan runs:
    ``"vectorized"`` (default) streams each cluster through
    ``applyInPandas`` and scores all pairs with row-chunked BLAS matmuls
    (Σ|c|² multiply-adds happen inside BLAS instead of as Σ|c|²
    higher-order-function Spark rows — 5-8× at sf0.1, identical output:
    the 6dp HALF_UP round uses ``np_round_half_up_like_spark`` and
    NaN/zero-norm pairs never drop, matching the join path's NULL
    semantics; requires integral ids like ``cosine_topk_vectorized``).
    ``"join"`` is the pure-DataFrame formulation the oracle SQL mirrors
    1:1 — equivalence of the two engines is pinned in tests. Either way
    per-group memory is O(|c|·d + chunk·|c|), so clusters must stay
    bounded — k must grow with n, as in the paper.

    ``k=None`` (the default) ENFORCES that invariant instead of trusting
    the caller: k = max(2, ceil(n / target_cluster_size)), derived from
    one corpus count, so expected cluster size stays ~target_cluster_size
    and the Σ|c|² pair scan stays linear in n at fixed target size. A
    naive call on a 10× corpus therefore cannot recreate the quadratic
    scan. Pass an explicit k only when the clustering itself is the
    contract (the oracle query pins k=4 so the k-means unroll is stable).
    """
    if engine not in ("vectorized", "join"):
        raise ValueError("engine must be 'vectorized' or 'join'")
    if k is None:
        k = auto_k(vectors.count(), target_cluster_size)
    assign, _ = kmeans_fit(
        vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    labeled = vectors.select(id_col, vec_col).join(
        assign.select(
            F.col("vec_id").alias(id_col),
            F.col("assigned_label").cast("int").alias("assigned_label"),
        ),
        id_col,
    )
    if engine == "vectorized":
        dropped = _semantic_dropped_vectorized(labeled, threshold, id_col, vec_col)
        return labeled.join(dropped, id_col, "left_anti").select(
            id_col, "assigned_label"
        )
    side = labeled.select(
        F.col("assigned_label").alias("lbl"),
        F.col(id_col).alias("a"),
        _dbl(vec_col).alias("va"),
    ).withColumn("na", l2_norm(F.col("va")))
    l = side
    r = side.select(
        F.col("lbl").alias("rlbl"),
        F.col("a").alias("b"),
        F.col("va").alias("vb"),
        F.col("na").alias("nb"),
    )
    dropped = (
        l.join(r, (F.col("lbl") == F.col("rlbl")) & (F.col("a") < F.col("b")))
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ),
        )
        .filter(F.col("sim") >= F.lit(threshold))
        .select(F.col("b").alias(id_col))
        .distinct()
    )
    return labeled.join(dropped, id_col, "left_anti").select(
        id_col, "assigned_label"
    )


# ---------------------------------------------------------------------------
# Power-iteration PCA: the dominant principal component of the embedding
# cloud, distributed. Used in curation to find (and project out / bucket
# by) the dominant axis of variation, and as the standard diagnostic for
# anisotropy before cosine-based dedup/ANN.
# ---------------------------------------------------------------------------


def _pca_base(
    vectors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Shared fit front end: ``(__id, __v)`` with NULL vectors dropped,
    parallelism ensured. Persist-safe for the sequential fit passes
    (mean, Gram) — each pass is a driver-blocking collect, so the first
    populates the cache and the rest read it (no intra-job race)."""
    return (
        ensure_parallelism(vectors)
        .filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), _dbl(vec_col).alias("__v"))
    )


def _pca_mu_list(base: DataFrame, d: int) -> list[float]:
    """Per-dim 6dp-rounded means of ``base.__v``, collected as an ordered
    list (dim-bounded — the same class as the dim probes / banding rows
    the engine already collects). Raises on mixed-width vectors, which
    the old per-dim join silently mis-centered: the dim-count check
    catches any width != d, and the per-dim COUNT check catches the
    mixed-width case where every dim 0..d-1 still occurs (shorter
    vectors are prefixes, so dim d-1's count would drop below dim 0's —
    left unguarded, zip_with would pad short vectors with NULLs that
    silently NULL the centered row)."""
    rows = (
        base.select(F.posexplode("__v").alias("dim", "__raw"))
        .groupBy("dim")
        .agg(
            F.round(F.avg("__raw"), 6).alias("__mu"),
            F.count("__raw").alias("__n"),
        )
        .collect()
    )
    if len(rows) != d:
        raise ValueError(
            f"pca fit: vectors are not uniformly {d}-dimensional "
            f"({len(rows)} distinct dims found)"
        )
    counts = {int(r["__n"]) for r in rows}
    if len(counts) != 1:
        raise ValueError(
            "pca fit: vectors are mixed-width (per-dim counts "
            f"{sorted(counts)}) — every vector must have exactly {d} dims"
        )
    mu = [0.0] * d
    for r in rows:
        mu[r["dim"]] = float(r["__mu"])
    return mu


def _pca_gram_frame(cw: DataFrame, d: int) -> DataFrame:
    """The d²-row Gram aggregate frame ``(__d1, __d2, g)`` over the
    centered wide frame ``(__id, __cv)``.

    Two design points, both plan-pinned in tests/test_plan_shapes.py:
    - ``posexplode_outer`` + explicit null filter, NOT plain
      ``posexplode``: the optimizer infers ``size(__cv)>0 AND
      isnotnull(__cv)`` from a plain posexplode and pushes it below the
      staging projection, re-inlining the whole ``__cv`` construction
      (for deflated components, the nested zip_with/aggregate chain)
      into a per-row Filter — a full duplicate evaluation of the
      deflation arithmetic per row (the span_dedup lesson).
    - pair-explode + ONE narrow sum, not d wide agg expressions
      (``sum(__x * __cv[j])`` × d): the r10 wide-expression lesson —
      the d-sum HashAggregate measured 2.2× slower at d=64 (codegen
      width), while this form's shuffle stays d²-per-partition partial
      sums and the per-(d1,d2) add order matches the wide form's
      (probed bit-identical at sf0.1). The first Generate carries
      ``__cv`` through as a materialized column, so the second explode
      reads it — the deflation chain still evaluates once per row."""
    lf = (
        cw.select(F.posexplode_outer("__cv").alias("__d1", "__x"), "__cv")
        .filter(F.col("__x").isNotNull())
        .select(
            "__d1", "__x", F.posexplode_outer("__cv").alias("__d2", "__y")
        )
        .filter(F.col("__y").isNotNull())
    )
    return lf.groupBy("__d1", "__d2").agg(
        F.sum(F.col("__x") * F.col("__y")).alias("g")
    )


def _pca_collect_gram(cw: DataFrame, d: int):
    """ONE pass over the centered wide frame ``(__id, __cv)`` → the d×d
    Gram matrix ``G[i][j] = Σ_rows cv_i·cv_j``, collected to the driver
    (dim²-bounded: 64² doubles for the embedding corpus — NOT data-sized).
    Shape: posexplode to (d1, x1) carrying the array, then d partial-
    aggregatable sums per d1 — the shuffle moves d² values per map task,
    never rows (guide §2.3 "shuffle metadata, not payloads"; §8 "decide
    with small rows"). d aggregate expressions keep codegen far under
    the 64 KB method limit (the r10 wide-expression lesson caps this
    design at d of a few hundred — the embedding contract is d=64)."""
    import numpy as np

    rows = _pca_gram_frame(cw, d).collect()
    G = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        if r["g"] is not None:
            G[int(r["__d1"]), int(r["__d2"])] = r["g"]
    return G


def _gram_power_iterate(G, d: int, n_iter: int) -> list[float]:
    """Driver-side power iteration on the collected Gram matrix:
    ``v ← round6(Gv / ||Gv||)`` from the fixed ``round6(1/sqrt(d))``
    start — the same per-iteration 6dp-rounded values as the unrolled
    SQL oracle (``w_d = Σ_i x'_{id}(Σ_{d'} x'_{id'}v_{d'}) = (Gv)_d``
    algebraically; float sum orders differ at ~1e-12 relative).
    Caveat (the r8 EWMA lesson): a per-step 6dp round in a recursion is
    a PROBABILISTIC cross-engine tolerance, not a guarantee — a step
    value landing within ~1e-12 of a 7th-digit .5 boundary could split
    one ulp between numpy and the unrolled SQL. The pin is the
    correctness-gate re-run of the pca_* queries on every testdata
    regeneration (CLAUDE.md rule), not the arithmetic alone. Rounding
    is ``np_round_half_up_like_spark`` (parity test-pinned)."""
    import numpy as np

    v = np.full(
        d,
        float(
            np_round_half_up_like_spark(
                np.array([1.0 / d**0.5]), 1e6
            )[0]
        ),
    )
    for _ in range(n_iter):
        w = G @ v
        nrm = float(np.sqrt(np.sum(w * w)))
        v = np_round_half_up_like_spark(w / nrm, 1e6)
    return [float(x) for x in v]


def pca_power_iteration(
    vectors: DataFrame,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the mean-centered vectors via power
    iteration (Mises & Pollaczek-Geiringer 1929; the Krylov workhorse
    behind every large-scale PCA). Returns ``(dim, v)`` — the unit
    component, one row per dimension.

    r13 restructure (guide §1.2 step 1 / §8): the data-pass loop
    (two keyed aggregations over the (id, dim, val) long form PER
    iteration — 2·n_iter shuffles of |rows|-sized dot tables) is
    replaced by ONE Gram pass — a single d-group aggregate whose
    shuffle carries d² partial sums per map task — plus a driver-side
    iteration on the collected d×d proxy (``_gram_power_iterate``).
    Data passes: 2 (mean + Gram), independent of ``n_iter``; nothing
    data-sized is ever collected (the Gram is dim²-bounded).

    Determinism contract (unchanged): the per-dim mean and the
    component after each normalization are rounded to 6dp, and the
    start vector is the fixed ``1/sqrt(d)``; a fixed-``n_iter`` run
    unrolls to plain SQL (the kmeans_fit pattern) and the sign is
    pinned by arithmetic that agrees with the oracle far below the 6dp
    round — no sign convention needed.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    first = vectors.select(F.size(_dbl(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("pca_power_iteration: empty input")
    d = int(first["d"])
    spark = vectors.sparkSession
    base = _pca_base(vectors, id_col, vec_col).persist()
    try:
        mu = _pca_mu_list(base, d)
        mu_arr = F.array(*[F.lit(m) for m in mu])
        cw = base.select(
            "__id",
            F.zip_with("__v", mu_arr, lambda x, m: x - m).alias("__cv"),
        )
        G = _pca_collect_gram(cw, d)
        v = _gram_power_iterate(G, d, n_iter)
        return driver_frame(
            spark, [(i, v[i]) for i in range(d)], "dim INT, v DOUBLE"
        )
    finally:
        base.unpersist()


def pca_project(
    vectors: DataFrame,
    component: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pc1",
    means: DataFrame | None = None,
) -> DataFrame:
    """Project each (mean-centered) vector onto a fitted component:
    ``(id, pc1)`` rounded 6dp. One broadcast join + one keyed
    aggregation — the scoring half of :func:`pca_power_iteration`.

    ``means=None`` centers by THIS frame's per-dim means — correct only
    when scoring the same frame the component was fitted on. To score
    held-out or newly-arrived vectors, pass the fit corpus' means table
    (:func:`pca_fit_means`); otherwise the projection origin silently
    drifts with the scoring batch."""
    lf = vectors.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.posexplode(_dbl(vec_col)).alias("dim", "__raw"),
    )
    if means is not None:
        mu = means.select(F.col("dim"), F.col("mu").alias("__mu")).alias("mu")
    else:
        mu = lf.groupBy("dim").agg(F.round(F.avg("__raw"), 6).alias("__mu")).alias("mu")
    centered = (
        lf.alias("lf")
        .join(F.broadcast(mu), F.col("lf.dim") == F.col("mu.dim"))
        .select(
            F.col("lf.__id").alias("__id"),
            F.col("lf.dim").alias("dim"),
            (F.col("lf.__raw") - F.col("mu.__mu")).alias("__val"),
        )
    )
    return (
        centered.join(F.broadcast(component), "dim")
        .groupBy("__id")
        .agg(F.round(F.sum(F.col("__val") * F.col("v")), 6).alias(out_col))
        .select(F.col("__id").alias(id_col), out_col)
    )


# ---------------------------------------------------------------------------
# Signed-random-projection LSH (Charikar 2002, STOC: SimHash for real
# vectors): the scale path for embedding near-dup PAIRS that
# cosine_pairs' docstring promises. Collision probability of one sign
# bit is 1 − θ/π, so banding b×r bits gives the usual LSH S-curve over
# cosine similarity.
# ---------------------------------------------------------------------------


def _srp_coef(plane: Column, dim: Column, seed: str) -> Column:
    """Deterministic pseudo-random hyperplane coefficient in
    [-1, 1] from the md5 parity recipe — identical in DuckDB via
    ``(('0x' || substr(md5('srp|' || plane || '|' || dim), 1, 15))::BIGINT
    % 2001 - 1000) / 1000.0``."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), plane.cast("string"), F.lit("|"), dim.cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (h % 2001 - 1000) / F.lit(1000.0)


def srp_band_keys(
    vectors: DataFrame,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "srp|",
) -> DataFrame:
    """Per-vector LSH band keys from sign-of-projection bits:
    ``(id, band_id, band_hash)`` where band_hash packs ``n_planes /
    bands`` sign bits. The hyperplane table is (n_planes × d) rows —
    generated, broadcast, never collected — and the projections are one
    fan-out join + keyed aggregation (shuffled volume |rows| × n_planes
    after partial agg, independent of corpus width).

    The projection is rounded to 6dp BEFORE the sign comparison (parity
    kit convention, mirrored in the oracle SQL): a float sum's
    accumulation order is partition-dependent, so an unrounded
    ``sum >= 0`` on a projection within ulp of 0 could flip a band bit
    across runs or engines. Rounding puts the bit on the same acceptance
    class as every other float in the kit.
    """
    if n_planes < 1 or bands < 1 or n_planes % bands:
        raise ValueError("n_planes must be a positive multiple of bands")
    width = n_planes // bands
    first = vectors.select(F.size(_dbl(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("srp_band_keys: empty input")
    d = int(first["d"])
    spark = vectors.sparkSession
    planes = (
        spark.range(n_planes)
        .select(F.col("id").alias("plane"))
        .crossJoin(spark.range(d).select(F.col("id").alias("dim")))
        .select(
            "plane",
            "dim",
            _srp_coef(F.col("plane"), F.col("dim"), seed).alias("coef"),
        )
    )
    lf = ensure_parallelism(vectors).select(
        F.col(id_col), F.posexplode(_dbl(vec_col)).alias("dim", "__val")
    )
    bits = (
        lf.join(F.broadcast(planes), "dim")
        .groupBy(id_col, "plane")
        .agg(
            (F.round(F.sum(F.col("__val") * F.col("coef")), 6) >= 0)
            .cast("bigint")
            .alias("__bit")
        )
    )
    return (
        bits.groupBy(
            F.col(id_col), (F.col("plane") / width).cast("bigint").alias("band_id")
        )
        .agg(
            F.sum(
                F.col("__bit")
                * F.pow(F.lit(2.0), (F.col("plane") % width).cast("double")).cast(
                    "bigint"
                )
            ).alias("band_hash")
        )
    )


def cosine_pairs_lsh(
    vectors: DataFrame,
    threshold: float,
    n_planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs at scale: SRP-LSH candidates (self-join on
    ``(band_id, band_hash)`` — cost Σ bucket², never n²) verified with
    the exact rounded cosine, same output contract as
    :func:`cosine_pairs` restricted to colliding pairs. Approximate by
    design: a pair colliding in no band is never considered (recall
    follows the banding S-curve; raise ``n_planes``/lower ``bands`` to
    push it up). ``max_bucket_size`` caps pathological buckets exactly
    like ``dedup.lsh_candidate_pairs`` (deterministic lowest-id
    survivors).
    """
    bk = srp_band_keys(vectors, n_planes, bands, id_col, vec_col)
    if max_bucket_size is not None:
        w = Window.partitionBy("band_id", "band_hash").orderBy(F.col(id_col).asc())
        bk = (
            bk.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    cand = (
        bk.alias("l")
        .join(
            bk.alias("r"),
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )
    va = vectors.select(
        F.col(id_col).alias("a"), _dbl(vec_col).alias("va")
    ).withColumn("na", l2_norm(F.col("va")))
    vb = vectors.select(
        F.col(id_col).alias("b"), _dbl(vec_col).alias("vb")
    ).withColumn("nb", l2_norm(F.col("vb")))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def pca_fit_means(
    vectors: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dim 6dp-rounded means ``(dim, mu)`` of the fit corpus — the
    centering table every PCA operator uses. Persist it alongside the
    fitted component and pass it to :func:`pca_project` /
    :func:`pca_project_components` when scoring a DIFFERENT frame than
    the fit input (held-out or newly-arrived vectors): recomputing means
    from the scoring frame silently centers by the wrong origin."""
    return (
        vectors.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(_dbl(vec_col)).alias("dim", "__raw"))
        .groupBy("dim")
        .agg(F.round(F.avg("__raw"), 6).alias("mu"))
    )


def _pca_centered_lf(
    vectors: DataFrame, id_col: str, vec_col: str,
    means: DataFrame | None = None,
) -> DataFrame:
    """Long-form mean-centered ``(__id, dim, __val)`` (6dp-rounded per-dim
    means — the shared front end of the PCA operators). ``means``
    (schema ``(dim, mu)``, from :func:`pca_fit_means`) overrides the
    from-this-frame means for scoring against a fitted model."""
    lf = (
        ensure_parallelism(vectors)
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.posexplode(_dbl(vec_col)).alias("dim", "__raw"),
        )
    )
    if means is not None:
        mu = means.select(
            F.col("dim"), F.col("mu").alias("__mu")
        ).alias("mu")
    else:
        mu = lf.groupBy("dim").agg(F.round(F.avg("__raw"), 6).alias("__mu")).alias("mu")
    return (
        lf.alias("lf")
        .join(F.broadcast(mu), F.col("lf.dim") == F.col("mu.dim"))
        .select(
            F.col("lf.__id").alias("__id"),
            F.col("lf.dim").alias("dim"),
            (F.col("lf.__raw") - F.col("mu.__mu")).alias("__val"),
        )
    )


def pca_top_components(
    vectors: DataFrame,
    n_components: int = 2,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top ``n_components`` principal components by deflation (Hotelling
    1933): fit the dominant component, subtract each vector's projection
    onto it (residuals 6dp-rounded — the determinism contract that keeps
    the whole deflation SQL-unrollable), and power-iterate again on the
    residual. Returns ``(component, dim, v)`` — component 0 is the
    dominant axis.

    r13 restructure (guide §1.2 step 1 / §8, same as
    :func:`pca_power_iteration`): one Gram pass + driver-side iteration
    per component instead of 2·n_iter data-pass shuffles per component.
    The deflation residual keeps its element-wise 6dp round IN SPARK
    (``round(val − dot·v, 6)`` — the SQL-unroll contract), computed
    map-side off the cached base (the per-row dot is a sequential
    zip_with/aggregate fold — the same left-to-right add order the
    long-form hash aggregate produced). Data passes: mean + n_components
    Gram passes + (n_components−1) map-side residual derivations.

    Components are orthogonal up to the rounding contract
    (|v_i·v_j| ≲ 1e-4), which is what a corpus-diagnostic scatter needs
    — for a tight orthonormal basis at higher k, re-orthogonalize the
    small (k × d) table driver-side.
    """
    if n_components < 1 or n_iter < 1:
        raise ValueError("n_components and n_iter must be >= 1")
    first = vectors.select(F.size(_dbl(vec_col)).alias("d")).first()
    if first is None:
        raise ValueError("pca_top_components: empty input")
    d = int(first["d"])
    spark = vectors.sparkSession
    base = _pca_base(vectors, id_col, vec_col).persist()
    try:
        mu = _pca_mu_list(base, d)
        mu_arr = F.array(*[F.lit(m) for m in mu])
        cw = base.select(
            "__id",
            F.zip_with("__v", mu_arr, lambda x, m: x - m).alias("__cv"),
        )
        rows: list[tuple[int, int, float]] = []
        for c in range(n_components):
            G = _pca_collect_gram(cw, d)
            v = _gram_power_iterate(G, d, n_iter)
            rows += [(c, i, v[i]) for i in range(d)]
            if c < n_components - 1:
                v_arr = F.array(*[F.lit(x) for x in v])
                # staging projection: the per-row dot is emitted ONCE
                # (the nested-higher-order CSE caveat), then the
                # residual rounds element-wise in Spark — identical
                # arithmetic to the long-form deflation it replaces
                staged = cw.select(
                    "__id",
                    "__cv",
                    F.aggregate(
                        F.zip_with(
                            "__cv", v_arr, lambda x, vv: x * vv
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("__dot"),
                )
                cw = staged.select(
                    "__id",
                    F.zip_with(
                        "__cv",
                        v_arr,
                        lambda x, vv: F.round(
                            x - F.col("__dot") * vv, 6
                        ),
                    ).alias("__cv"),
                )
                if n_components > 2:
                    # one staged zip_with/aggregate layer nests per
                    # deflation round; truncate lineage so analyzer/
                    # codegen cost stays flat at higher k (the old
                    # long-form loop checkpointed each round too)
                    cw = cw.localCheckpoint(eager=False)
        return driver_frame(
            spark, rows, "component INT, dim INT, v DOUBLE"
        )
    finally:
        base.unpersist()


def pca_project_components(
    vectors: DataFrame,
    components: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "pc",
    means: DataFrame | None = None,
) -> DataFrame:
    """Score every vector against a ``(component, dim, v)`` table:
    ``(id, pc1, pc2, ...)`` — pc_k = centered · v_{k-1}, rounded 6dp
    (standard PCA scores: always against the ORIGINAL centered data, not
    the deflated residuals). One broadcast fan-out join + one keyed
    aggregation + a literal-pivot. Pass ``means`` (the fit corpus'
    :func:`pca_fit_means` table) when scoring a different frame than the
    fit input — see :func:`pca_project`."""
    ks = [r["component"] for r in
          components.select("component").distinct().orderBy("component").collect()]
    lf = _pca_centered_lf(vectors, id_col, vec_col, means=means)
    scores = (
        lf.join(F.broadcast(components), "dim")
        .groupBy("__id", "component")
        .agg(F.round(F.sum(F.col("__val") * F.col("v")), 6).alias("__pc"))
    )
    wide = scores.groupBy("__id").pivot("component", ks).agg(F.first("__pc"))
    renamed = wide.select(
        F.col("__id").alias(id_col),
        *[F.col(str(k)).alias(f"{prefix}{int(k) + 1}") for k in ks],
    )
    return renamed


# --- scalar (int8-style) embedding quantization -------------------------------


def fit_quantizer(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_levels: int = 255,
) -> DataFrame:
    """Fit a per-dimension affine scalar quantizer: ONE row
    ``(lo: array<double>, scale: array<double>, n_levels)``.

    ``lo[d]``/``hi[d]`` are the exact per-dimension min/max over the fit
    corpus (a posexplode → per-dim aggregate — the shuffle is DIM-sized,
    like the PCA passes); ``scale[d] = (hi[d] - lo[d]) / n_levels``
    (0.0 for constant dimensions — handled at encode/decode). The params
    row is broadcast wherever it is used; at 100 TB it persists next to
    the codes table like the IVF/BM25 index artifacts
    (``sources.promote.promote_swap``), and — like IVF centroids — stays
    FIXED as the corpus extends, so encode is map-side incremental and a
    refit is a deliberate separate act when the distribution drifts.

    Everything here is exact float arithmetic (min/max picks existing
    values, one IEEE subtraction + division) — no rounding needed for
    engine parity.
    """
    lf = corpus.select(
        F.posexplode(_dbl(vec_col)).alias("dim", "val")
    )
    per_dim = lf.groupBy("dim").agg(
        F.min("val").alias("lo"), F.max("val").alias("hi")
    )
    return per_dim.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("lo")))
        ).alias("__l"),
        F.array_sort(
            F.collect_list(F.struct(F.col("dim"), F.col("hi")))
        ).alias("__h"),
    ).select(
        F.transform(F.col("__l"), lambda s: s["lo"]).alias("lo"),
        F.zip_with(
            F.col("__h"),
            F.col("__l"),
            lambda h, l: (h["hi"] - l["lo"]) / F.lit(float(n_levels)),
        ).alias("scale"),
        F.lit(int(n_levels)).alias("n_levels"),
    )


def quantize_embeddings(
    vectors: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors to integer codes: ``(id, codes: array<int>)``.

    ``codes[d] = clamp(round((x[d] - lo[d]) / scale[d]), 0, n_levels)``
    — Spark HALF_UP and DuckDB round() agree because the operand is
    non-negative for in-range values and out-of-range values saturate at
    the clamp. Constant dims (scale 0) encode as 0. Pure map-side over a
    broadcast params row: the 100 TB memory lever — int8 codes are 4×
    smaller than float32 (8× vs double), which is the difference between
    an in-memory and a spilled ANN serve.
    """
    q = vectors.crossJoin(F.broadcast(params))
    codes = F.expr(
        """
        transform({v}, (x, i) -> CAST(least(greatest(round(
            CASE WHEN element_at(scale, i + 1) = 0.0 THEN 0.0
                 ELSE (CAST(x AS DOUBLE) - element_at(lo, i + 1))
                      / element_at(scale, i + 1) END,
            0), 0.0), CAST(n_levels AS DOUBLE)) AS INT))
        """.format(v=vec_col)
    )
    return q.select(F.col(id_col), codes.alias("codes"))


def dequantize_codes(
    codes: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    out_col: str = "recv",
) -> DataFrame:
    """Reconstruct ``x̂[d] = lo[d] + codes[d] * scale[d]`` (exact IEEE:
    one multiply + one add per element). Map-side over broadcast params."""
    d = codes.crossJoin(F.broadcast(params))
    rec = F.expr(
        f"""
        transform({codes_col}, (c, i) ->
            element_at(lo, i + 1)
            + CAST(c AS DOUBLE) * element_at(scale, i + 1))
        """
    )
    return d.select(F.col(id_col), rec.alias(out_col))


def quantized_cosine_topk(
    codes: DataFrame,
    params: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Serve cosine top-k against the QUANTIZED corpus: full-precision
    queries score against reconstructed corpus vectors
    (asymmetric distance computation, the standard SQ serve). Output
    schema matches :func:`cosine_topk` — ``(query_id, neighbor_id, sim)``
    with the sim computed on reconstructed values, rounded, id-tiebreak.

    Same brute scan shape as ``cosine_topk`` (guarded on the query
    side); composes with IVF by quantizing each cell's codes — the
    reconstruction is a per-row map, so any serve path can adopt it.
    """
    guard_quadratic(
        queries, "quantized_cosine_topk",
        "ivf_topk over quantized cells (reconstruction is map-side)",
        allow_quadratic,
    )
    rec = dequantize_codes(codes, params, id_col=id_col)
    c = ensure_parallelism(rec).select(
        F.col(id_col).alias("neighbor_id"), F.col("recv").alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _dbl(vec_col).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv")))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "sim",
            F.round(
                cosine_from_norms(
                    F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
                ),
                round_to,
            ),
        )
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def quantization_error_report(
    vectors: DataFrame,
    params: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """One-row QA report for a fitted quantizer over a corpus:
    ``(n_vecs, n_dims, max_abs_err, mean_abs_err)`` (errors rounded).

    The acceptance gate before swapping a serve path to codes — the
    numeric analogue of the IVF recall probe. Element errors come from
    an encode→decode round trip computed in one map-side projection;
    the aggregate is a single pass (max + avg over exploded elements).
    """
    codes = quantize_embeddings(vectors, params, id_col, vec_col)
    rec = dequantize_codes(codes, params, id_col=id_col)
    err = (
        vectors.select(F.col(id_col), _dbl(vec_col).alias("v"))
        .join(rec, on=id_col)
        .select(
            F.col(id_col),
            F.zip_with(
                F.col("v"), F.col("recv"), lambda a, b: F.abs(a - b)
            ).alias("e"),
        )
    )
    lf = err.select(F.col(id_col), F.posexplode_outer("e").alias("dim", "ae"))
    return lf.agg(
        F.count_distinct(F.col(id_col)).alias("n_vecs"),
        (F.max("dim") + F.lit(1)).cast("int").alias("n_dims"),
        F.round(F.max("ae"), round_to).alias("max_abs_err"),
        F.round(F.avg("ae"), round_to).alias("mean_abs_err"),
    )


# --- product quantization (Jégou, Douze & Schmid, TPAMI 2011) -----------------


def _pq_dims(corpus: DataFrame, vec_col: str, m_sub: int) -> int:
    """Subvector width from a bounded 1-row probe; d must split evenly."""
    row = corpus.select(F.size(_dbl(vec_col)).alias("d")).limit(1).collect()
    if not row:
        raise ValueError("pq: empty corpus")
    d = int(row[0]["d"])
    if d % m_sub != 0:
        raise ValueError(f"pq: dim {d} not divisible by m_sub={m_sub}")
    return d // m_sub


def pq_fit(
    corpus: DataFrame,
    m_sub: int = 4,
    k_codes: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks: split each d-dim vector into
    ``m_sub`` contiguous subvectors and Lloyd-fit a codebook per
    subspace under the :func:`kmeans_fit` determinism contract (first-k
    seeds shared across subs, fixed ``n_iter``, 6dp-rounded means and
    distances, (dist2, label) argmin ties). All subspaces iterate
    TOGETHER: each round is one broadcast E-step over the (vec, sub)
    long form + one (sub, label, dim)-keyed M-step — 2 shuffles per
    iteration total, not per subspace (the fused form measured ~3×
    over m_sub sequential kmeans_fit runs; per-sub math identical, so
    the per-sub SQL unroll still mirrors it exactly). Returns
    ``(sub, label, dim, c)`` — ``m_sub × k_codes × (d/m_sub)`` rows.

    Why PQ at 100 TB: codes are ``m_sub`` small ints per vector
    (vs d floats — 32× at d=64, m=4, k≤256), and serving uses per-query
    lookup tables instead of full-vector arithmetic; composes with IVF
    (quantize within cells) exactly as in the IVF-PQ literature. The
    fit cost is m_sub short k-means runs over dim-sliced projections of
    ONE corpus scan shape each; codebooks are dim-sized artifacts that
    persist and stay fixed across extends (the fit_quantizer / IVF
    centroid convention).

    Determinism contract: identical to kmeans_fit per subspace, so a
    fixed-``n_iter`` fit unrolls to plain SQL per sub — the whole
    codebook table is oracle-checkable.
    """
    sub_d = _pq_dims(corpus, vec_col, m_sub)
    # r14 driver contraction (the kmeans_fit twin, per subspace): the
    # per-sub E/M arithmetic is identical to _lloyd_driver's (rounded
    # dist2 argmin with label tie-break ≡ min_by(label, struct(dist2,
    # label)); round6(avg) M-step), so each subspace runs the same
    # kernel on its dim slice. Over-the-bound / NULL / ragged corpora
    # fall through to the distributed loop unchanged.
    got = _collect_vectors_bounded(corpus, id_col, vec_col)
    if got is not None:
        ids, vecs, _d, _t = got
        rows_out = []
        for s in range(m_sub):
            sl = [v[s * sub_d:(s + 1) * sub_d] for v in vecs]
            _asg, cent_rows = _lloyd_driver(ids, sl, k_codes, n_iter, False)
            rows_out += [(s, lbl, dim, c) for (lbl, dim, c) in cent_rows]
        return driver_frame(
            corpus.sparkSession, rows_out, "sub INT, label INT, dim INT, c DOUBLE"
        )
    lf = _pq_long(corpus, id_col, vec_col, m_sub, sub_d, "vec_id")
    lf = lf.localCheckpoint(eager=False)
    w0 = Window.orderBy(F.col(id_col).asc())
    seeds = (
        corpus.select(id_col)
        .orderBy(F.col(id_col).asc())
        .limit(k_codes)
        .withColumn("label", F.row_number().over(w0) - 1)
        .select(F.col(id_col).alias("vec_id"), "label")
    )

    def m_step(asg: DataFrame) -> DataFrame:
        # (sub, label, dim)-keyed mean — ALL subspaces in one shuffle
        return (
            lf.join(asg, ["vec_id", "sub"])
            .select("sub", "label", F.posexplode("subv").alias("dim", "x"))
            .groupBy("sub", "label", "dim")
            .agg(F.round(F.avg("x"), 6).alias("c"))
        )

    # seed labels are per-vector, so the seed M-step joins on vec_id only
    cents = (
        lf.join(seeds, "vec_id")
        .select("sub", "label", F.posexplode("subv").alias("dim", "x"))
        .groupBy("sub", "label", "dim")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    for _ in range(max(1, n_iter)):
        ca = _pq_cent_arrays(cents)
        assign = (
            lf.join(F.broadcast(ca), "sub")
            .select(
                "vec_id",
                "sub",
                "label",
                _PQ_DIST2(F.col("subv"), F.col("centv")).alias("dist2"),
            )
            .groupBy("vec_id", "sub")
            .agg(F.min_by("label", F.struct("dist2", "label")).alias("label"))
            .localCheckpoint(eager=False)
        )
        cents = m_step(assign).localCheckpoint(eager=False)
    # NOTE (r13 probe): do NOT add an outer eager checkpoint here — the
    # loop's lazy checkpoint above already backs every consumer with ONE
    # shared RDD (materialized on first use, reused after), so an extra
    # checkpoint only re-materializes the ~1k-row table and measured
    # 1.1-1.2x SLOWER on pq_codes/ann_pq_topk (alternating-arm probes).
    return cents.select("sub", "label", "dim", "c")


def _pq_cent_arrays(codebooks: DataFrame) -> DataFrame:
    return codebooks.groupBy("sub", "label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centv")
    )


def _pq_long(
    vectors: DataFrame, id_col: str, vec_col: str, m_sub: int, sub_d: int,
    out_id: str,
) -> DataFrame:
    subv_arr = F.array(
        *[
            F.slice(_dbl(vec_col), s * sub_d + 1, sub_d)
            for s in range(m_sub)
        ]
    )
    return ensure_parallelism(vectors).select(
        F.col(id_col).alias(out_id), F.posexplode(subv_arr).alias("sub", "subv")
    )


_PQ_DIST2 = lambda a, b: F.round(  # noqa: E731 — shared rounded L2 fold
    F.aggregate(
        F.zip_with(a, b, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ),
    6,
)


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against fitted codebooks: ``(id, sub, code)`` —
    per subspace the nearest codeword by rounded squared L2 with the
    (dist2, label) tiebreak (the assign_nearest_centroid order).

    One map-side slice-and-explode, one broadcast join against the
    ``m_sub × k_codes`` codeword table, one keyed ``min_by`` — works for
    held-out vectors too (encode-at-intake), and the ``m_sub`` small
    ints per row are what a serving table stores."""
    meta = codebooks.agg(
        F.max("sub").alias("ms"), F.max("dim").alias("md")
    ).collect()[0]
    m_sub, sub_d = int(meta["ms"]) + 1, int(meta["md"]) + 1
    lf = _pq_long(vectors, id_col, vec_col, m_sub, sub_d, id_col)
    cents = _pq_cent_arrays(codebooks)
    scored = lf.join(F.broadcast(cents), "sub").select(
        F.col(id_col),
        F.col("sub"),
        F.col("label"),
        _PQ_DIST2(F.col("subv"), F.col("centv")).alias("dist2"),
    )
    return scored.groupBy(id_col, "sub").agg(
        F.min_by("label", F.struct("dist2", "label")).cast("int").alias("code")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: per query, a
    ``m_sub × k_codes`` lookup table of subspace distances to every
    codeword (computed once, broadcast), then each candidate's distance
    is a SUM OF TABLE LOOKUPS — no vector arithmetic on the corpus side
    at all. Output ``(query_id, neighbor_id, adc_dist2)``, ascending
    distance, neighbor-id tiebreak, self excluded.

    Per-subspace distances round to 6dp BEFORE the sum (the
    bm25_topk_batch partial-aggregation-order contract) and the sum
    rounds again; the cut happens on rounded values + id, so the top-k
    is engine-reproducible.

    ``candidates`` — optional ``(query_id, id_col)`` pairs restricting
    which corpus codes are scored per query (the IVF probe set in
    :func:`ivf_pq_topk`); without it every code row scores against
    every query."""
    meta = codebooks.agg(
        F.max("sub").alias("ms"), F.max("dim").alias("md")
    ).collect()[0]
    m_sub, sub_d = int(meta["ms"]) + 1, int(meta["md"]) + 1
    qlf = _pq_long(queries, id_col, vec_col, m_sub, sub_d, "query_id")
    cents = _pq_cent_arrays(codebooks)
    lut = qlf.join(F.broadcast(cents), "sub").select(
        F.col("query_id"),
        F.col("sub"),
        F.col("label"),
        _PQ_DIST2(F.col("subv"), F.col("centv")).alias("pd"),
    )
    if candidates is None:
        scored = codes.join(
            F.broadcast(lut),
            (codes["sub"] == lut["sub"]) & (codes["code"] == lut["label"]),
        ).filter(F.col(id_col) != F.col("query_id"))
        adc = scored.groupBy("query_id", id_col).agg(
            F.round(F.sum("pd"), 6).alias("adc_dist2")
        )
    else:
        base = candidates.alias("cd").join(codes.alias("co"), id_col)
        scored = base.join(
            F.broadcast(lut).alias("lt"),
            (F.col("co.sub") == F.col("lt.sub"))
            & (F.col("co.code") == F.col("lt.label"))
            & (F.col("cd.query_id") == F.col("lt.query_id")),
        ).select(
            F.col("cd.query_id").alias("query_id"), F.col(id_col), F.col("pd")
        )
        adc = scored.groupBy("query_id", id_col).agg(
            F.round(F.sum("pd"), 6).alias("adc_dist2")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adc_dist2")
    )


def truncate_dims(
    vectors: DataFrame,
    d_keep: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Prefix-truncate embeddings to their first ``d_keep`` dimensions
    (the Matryoshka serve lever, Kusupati et al. 2022: MRL-trained
    embeddings concentrate information in the prefix, so serving on a
    prefix slice cuts compute and memory ``d/d_keep``× with bounded
    recall loss — and even non-MRL embeddings make this a useful
    cheap-tier serve whose recall the gate query MEASURES rather than
    assumes). Pure map-side projection; pair with
    :func:`cosine_topk`/:func:`cosine_topk_vectorized` on both sides.
    """
    if d_keep < 1:
        raise ValueError(f"truncate_dims: d_keep must be >= 1, got {d_keep}")
    return vectors.withColumn(vec_col, F.slice(F.col(vec_col), 1, d_keep))


def residualize(
    vectors_with_cells: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Replace each vector with its residual against its assigned cell
    centroid: ``r = v − centroid[cell]`` (exact IEEE element-wise
    subtraction — both engines widen float32 → double identically, so no
    extra rounding is needed for oracle parity). Input rows carry
    ``(id, vec, cell)`` (the :func:`assign_cells` shape, one row per
    (vector, probed cell)); output keeps the same shape with ``vec_col``
    now holding the residual.

    This is the residual-encoding half of IVF-PQ (Jégou et al., TPAMI
    2011 §III): PQ codebooks fit on residuals only have to cover
    WITHIN-cell variation, not the global spread — the standard recall
    upgrade over flat global codebooks. Centroids broadcast; pure
    map-side."""
    ca = centroids.select(
        F.col(id_col).alias(cell_col), _dbl(vec_col).alias("__centv")
    )
    return vectors_with_cells.join(F.broadcast(ca), cell_col).select(
        id_col,
        cell_col,
        F.zip_with(
            _dbl(vec_col), F.col("__centv"), lambda x, c: x - c
        ).alias(vec_col),
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ncells: int = 16,
    nprobe: int = 4,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the recall upgrade
    :func:`ivf_pq_topk` documents: corpus vectors are PQ-encoded as
    residuals against their own cell centroid, so the codebooks spend
    their k_codes × m_sub capacity on within-cell variation instead of
    re-describing the coarse structure IVF already captured.

    MEASURED guidance (BASELINE.md, "Residual-vs-flat IVF-PQ recall"):
    the upgrade holds only over genuinely CLUSTERED corpora (probe:
    0.225 vs 0.205 recall@10 with true clusters as centroids); on
    near-isotropic data with raw-vector first-k coarse centroids,
    residuals v − c INFLATE variance and recall drops well below flat
    (0.065 vs 0.300). Use trained (k-means) coarse centroids, and gate
    the switch on :func:`choose_ivf_pq_encoding` — the fit-time
    measured-recall acceptance check that builds both encodings over a
    query sample and returns the WINNING serve index, so no serve path
    defaults to residual unmeasured (the quantization_error_report
    gate philosophy).

    Serving differs from flat IVF-PQ in one place: the ADC lookup table
    is per (query, probed cell) — the query's residual against THAT
    cell's centroid scored against every codeword — because candidates
    in cell c are encoded relative to centroid c. Each (query, neighbor)
    pair is reachable through exactly one cell (the neighbor's own), so
    no dedup is needed. LUTs stay broadcast-sized
    (|queries| × nprobe × m_sub × k_codes rows).

    Same determinism contract as the flat form (6dp-rounded per-sub
    distances BEFORE the sum, rounded sum, (dist, id) cut), so the whole
    stack — cell assignment, residuals, per-sub Lloyd fit on residuals,
    encode, per-cell LUT serve — unrolls into one SQL oracle. Pass
    ``index`` = ``(centroids, corpus_cells, codebooks, codes)`` (codes
    fit/encoded on residuals) to serve from persisted artifacts.

    Output matches :func:`pq_adc_topk`: ``(query_id, neighbor_id,
    adc_dist2)`` ascending with id tiebreak, self excluded.
    """
    if index is not None:
        centroids, corpus_cells, books, codes = index
    else:
        # eager-checkpoint every shared build artifact (the
        # nation_triangles fix, r13): the residualize, the Lloyd fit
        # loop, the encode, the query assignment and the serve join
        # all branch from these frames, and Catalyst reuses no subtree
        # across branches — without the pins PLANS.md showed 10 scans /
        # 12 shuffles for a 4-cell index (every branch re-ran the
        # corpus scan + cell assignment). The index= serve path is
        # untouched: persisted artifacts are already materialized.
        centroids, corpus_cells = build_ivf_index(
            corpus, id_col, vec_col, ncells
        )
        centroids = centroids.localCheckpoint(eager=True)
        corpus_cells = corpus_cells.localCheckpoint(eager=True)
        res = residualize(
            corpus_cells, centroids, id_col, vec_col
        ).localCheckpoint(eager=True)
        books = pq_fit(res, m_sub, k_codes, 2, id_col, vec_col)
        codes = pq_encode(res, books, id_col, vec_col)
    books = books.localCheckpoint(eager=True)
    meta = books.agg(
        F.max("sub").alias("ms"), F.max("dim").alias("md")
    ).collect()[0]
    m_sub, sub_d = int(meta["ms"]) + 1, int(meta["md"]) + 1
    # query-sized, read twice (LUT build + candidate join)
    query_cells = assign_cells(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).localCheckpoint(eager=True)
    qres = residualize(query_cells, centroids, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), "cell", vec_col
    )
    # per-(query, probed cell) lookup table: residual subvectors vs
    # every codeword — the only serve-time vector arithmetic
    qlf = qres.select(
        "query_id",
        "cell",
        F.posexplode(
            F.array(
                *[
                    F.slice(_dbl(vec_col), s * sub_d + 1, sub_d)
                    for s in range(m_sub)
                ]
            )
        ).alias("sub", "subv"),
    )
    cents = _pq_cent_arrays(books)
    lut = qlf.join(F.broadcast(cents), "sub").select(
        "query_id",
        "cell",
        "sub",
        "label",
        _PQ_DIST2(F.col("subv"), F.col("centv")).alias("pd"),
    )
    cand = (
        query_cells.select(F.col(id_col).alias("query_id"), "cell")
        .join(
            corpus_cells.select(F.col(id_col).alias("__cand"), "cell"), "cell"
        )
        .filter(F.col("__cand") != F.col("query_id"))
        .select("query_id", "cell", F.col("__cand").alias(id_col))
    )
    scored = cand.join(codes, id_col).join(
        F.broadcast(lut).alias("lt"),
        (cand["query_id"] == F.col("lt.query_id"))
        & (cand["cell"] == F.col("lt.cell"))
        & (codes["sub"] == F.col("lt.sub"))
        & (codes["code"] == F.col("lt.label")),
    ).select(cand["query_id"], F.col(id_col), F.col("pd"))
    adc = scored.groupBy("query_id", id_col).agg(
        F.round(F.sum("pd"), 6).alias("adc_dist2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col(id_col).asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "adc_dist2")
    )


def extend_ivf_pq_index(
    index: tuple[DataFrame, DataFrame, DataFrame, DataFrame],
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Incrementally maintain an IVF-PQ index (flat or residual): assign
    only the NEW vectors against the existing centroids, encode them
    against the existing codebooks, and append — neither the corpus-
    sized cell build nor the codebook fit is re-paid (the
    extend_ivf_index / extend_bm25_index maintenance convention;
    incremental cost O(|delta| × (ncells + m_sub·k_codes)), map-side
    plus one delta-keyed min_by).

    Centroids AND codebooks stay fixed (the fit_quantizer convention —
    quantizer quality degrades only under distribution drift, at which
    point a rebuild is a deliberate act). Because encoding depends only
    on those fixed artifacts, the extended (cells, codes) are EXACTLY
    what re-assigning/re-encoding the unioned corpus against the same
    artifacts produces — serve parity pinned by test. Pass
    ``residual=True`` iff the index was built for
    :func:`ivf_pq_residual_topk` (delta vectors are residualized
    against their assigned cell before encoding).
    """
    centroids, corpus_cells, books, codes = index
    delta_cells = assign_cells(new_vectors, centroids, id_col, vec_col, nprobe=1)
    enc_src = (
        residualize(delta_cells, centroids, id_col, vec_col)
        if residual
        else delta_cells
    )
    delta_codes = pq_encode(enc_src, books, id_col, vec_col)
    return (
        centroids,
        corpus_cells.unionByName(delta_cells),
        books,
        codes.unionByName(delta_codes),
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    ncells: int = 16,
    nprobe: int = 4,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF-PQ serve — the industry-standard ANN architecture composed
    from the two proven halves: IVF cells bound WHICH candidates are
    scored (queries probe ``nprobe`` cells; Σ probed-cell sizes, never
    the corpus) and PQ/ADC bounds WHAT scoring costs (sum of lookup-
    table entries per candidate, no corpus-side vector math).

    Codebooks here are global (IVF-Flat-PQ; see
    :func:`ivf_pq_residual_topk` for the residual-encoding recall
    upgrade, same determinism contract). Pass ``index`` =
    ``(centroids, corpus_cells, codebooks, codes)`` — the persisted
    artifacts of ``build_ivf_index`` + ``pq_fit`` + ``pq_encode`` — to
    serve without re-paying any corpus-sized build (the
    bm25_scores_indexed convention); otherwise everything builds inline.

    Output matches :func:`pq_adc_topk`: ``(query_id, neighbor_id,
    adc_dist2)`` ascending with id tiebreak, self excluded.
    """
    if index is not None:
        centroids, corpus_cells, books, codes = index
    else:
        # r13 opt (guide §1.2; the residual form's r13-build fix applied
        # to the flat form): eager-checkpoint every shared build
        # artifact. Catalyst reuses no subtree across branches, and the
        # serve references books 4x (two meta collects + two codeword-
        # array builds in pq_encode / pq_adc_topk), corpus_cells and
        # codes once each — without the pins the whole Lloyd fit and
        # the cell assignment re-ran per reference inside the final
        # job. The index= serve path is untouched: persisted artifacts
        # are already materialized.
        centroids, corpus_cells = build_ivf_index(
            corpus, id_col, vec_col, ncells
        )
        centroids = centroids.localCheckpoint(eager=True)
        corpus_cells = corpus_cells.localCheckpoint(eager=True)
        books = pq_fit(corpus, m_sub, k_codes, 2, id_col, vec_col)
        codes = pq_encode(corpus, books, id_col, vec_col).localCheckpoint(
            eager=True
        )
    query_cells = assign_cells(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    )
    cand = (
        query_cells.select(F.col(id_col).alias("query_id"), "cell")
        .join(
            corpus_cells.select(F.col(id_col).alias("__cand"), "cell"), "cell"
        )
        .filter(F.col("__cand") != F.col("query_id"))
        .select("query_id", F.col("__cand").alias(id_col))
    )
    return pq_adc_topk(
        codes, books, queries, k, id_col, vec_col, candidates=cand
    )


def _ivf_exact_l2_topk(
    corpus_cells: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k restricted to the SAME nprobe candidate set the
    IVF-PQ serve scores — the reference that isolates CODEBOOK quality
    from cell-probe misses and metric mismatch (the
    methodology of BASELINE.md's "Residual-vs-flat IVF-PQ recall",
    now fit-time callable)."""
    query_cells = assign_cells(
        queries, centroids, id_col, vec_col, nprobe=nprobe
    ).select(F.col(id_col).alias("query_id"), "cell")
    cand = (
        query_cells.join(
            corpus_cells.select(F.col(id_col).alias("neighbor_id"), "cell"),
            "cell",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    scored = (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "d2",
            F.round(
                F.aggregate(
                    F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id")
    )


def choose_ivf_pq_encoding(
    corpus: DataFrame,
    sample_queries: DataFrame,
    k: int = 10,
    ncells: int = 16,
    nprobe: int = 4,
    m_sub: int = 4,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trained_centroids: bool = False,
):
    """Fit-time flat-vs-residual acceptance gate for IVF-PQ — the
    measured-recall pattern of ``ann_quantized_recall``, wired into the
    build so a serve path can never default to residual encoding on
    data where it measurably loses (BASELINE.md: residuals against
    raw-vector coarse centroids on near-isotropic data drop recall@k
    0.300 → 0.065; the upgrade holds only on genuinely clustered
    corpora — Jégou et al., TPAMI 2011 §III).

    Builds the IVF coarse index ONCE, fits BOTH codebook families on a
    shared geometry (flat: raw vectors; residual: per-cell residuals),
    serves ``sample_queries`` through both, and scores each against the
    exact L2 top-k over the SAME probed candidate set. Returns
    ``(choice, report, index)``:

    - ``choice``: ``"flat"`` or ``"residual"`` — residual only when it
      STRICTLY wins mean recall (ties go to flat: same recall, simpler
      serve — no per-(query, cell) LUTs).
    - ``report``: driver-side dict with both mean recalls (rounded 6dp,
      each query normalized by min(k, its probed-candidate count) so a
      sparse cell cannot bias the number low), the query count, and the
      scored / zero-candidate split — bounded by the sample size, never
      corpus-sized.
    - ``index``: the chosen ``(centroids, corpus_cells, codebooks,
      codes)`` tuple, ready for :func:`ivf_pq_topk` /
      :func:`ivf_pq_residual_topk`'s ``index=`` serve path — the gate's
      build cost is the serve index, not a throwaway probe.

    The query sample should be small (tens) — recall aggregation
    collects one scalar per query. ``trained_centroids=True`` builds
    the coarse index with :func:`build_ivf_index_trained` (the regime
    where residual encoding can actually win — Jégou et al. §III)."""
    build = build_ivf_index_trained if trained_centroids else build_ivf_index
    centroids, corpus_cells = build(corpus, id_col, vec_col, ncells)
    centroids = centroids.localCheckpoint(eager=True)
    corpus_cells = corpus_cells.localCheckpoint(eager=True)
    books_f = pq_fit(corpus, m_sub, k_codes, 2, id_col, vec_col)
    codes_f = pq_encode(corpus, books_f, id_col, vec_col)
    res = residualize(corpus_cells, centroids, id_col, vec_col)
    books_r = pq_fit(res, m_sub, k_codes, 2, id_col, vec_col)
    codes_r = pq_encode(res, books_r, id_col, vec_col)
    exact = _ivf_exact_l2_topk(
        corpus_cells, corpus, sample_queries, centroids, k, nprobe,
        id_col, vec_col,
    ).localCheckpoint(eager=True)

    # per-query attainable ceiling: a query whose probed-cell candidate
    # set holds fewer than k vectors can never return k hits, so recall
    # normalizes by min(k, exact-candidate count) — dividing by k biased
    # both arms low (identically, so the flat-vs-residual CHOICE was
    # unaffected, but the REPORTED recalls were wrong). Queries with
    # ZERO probed candidates are unscoreable; they are excluded from the
    # mean and surfaced in the report as n_zero_candidate instead of
    # silently dropped.
    exact_n = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    base = (
        sample_queries.select(F.col(id_col).alias("query_id"))
        .distinct()
        .join(exact_n, "query_id", "left")
        .localCheckpoint(eager=True)
    )
    n_zero = base.filter(F.col("n_exact").isNull()).count()

    def _mean_recall(top: DataFrame) -> float:
        hits = (
            exact.join(top.select("query_id", "neighbor_id"),
                       ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("h"))
        )
        per_q = base.filter(F.col("n_exact").isNotNull()).join(
            hits, "query_id", "left"
        )
        row = per_q.agg(
            F.round(
                F.avg(
                    F.coalesce(F.col("h"), F.lit(0))
                    / F.least(F.lit(float(k)),
                              F.col("n_exact").cast("double"))
                ),
                6,
            ).alias("r")
        ).collect()[0]
        return float(row["r"]) if row["r"] is not None else 0.0

    flat_top = ivf_pq_topk(
        corpus, sample_queries, k, ncells, nprobe, m_sub, k_codes,
        id_col, vec_col, index=(centroids, corpus_cells, books_f, codes_f),
    )
    res_top = ivf_pq_residual_topk(
        corpus, sample_queries, k, ncells, nprobe, m_sub, k_codes,
        id_col, vec_col, index=(centroids, corpus_cells, books_r, codes_r),
    )
    flat_recall = _mean_recall(flat_top)
    res_recall = _mean_recall(res_top)
    n_q = sample_queries.count()
    choice = "residual" if res_recall > flat_recall else "flat"
    report = {
        "flat_recall": flat_recall,
        "residual_recall": res_recall,
        "k": int(k),
        "n_queries": int(n_q),
        "n_scored": int(n_q) - int(n_zero),
        "n_zero_candidate": int(n_zero),
        "choice": choice,
    }
    if choice == "residual":
        return choice, report, (centroids, corpus_cells, books_r, codes_r)
    return choice, report, (centroids, corpus_cells, books_f, codes_f)


def build_ivf_index_trained(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ncells: int = 16,
    n_iter: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """:func:`build_ivf_index` with TRAINED coarse centroids — the
    production-recall form its docstring (and the residual-encoding
    guidance) calls for: a fixed-``n_iter`` Lloyd fit
    (:func:`kmeans_fit` — deterministic seeds, 6dp-rounded means, so
    the whole build unrolls into a SQL oracle) replaces the first-k
    raw-vector stand-in, then every corpus vector is assigned to its
    nearest trained centroid by the same cosine rule.

    Returned centroid ids are the surviving k-means labels (clusters
    that lose every member drop out — the standard Lloyd hazard, so
    the effective cell count may be < ``ncells``). The result tuple
    serves through the same ``index=`` paths as the untrained build
    (``ivf_topk``/``ivf_pq_topk``/``extend_ivf_index``), and because a
    trained centroid is a MEAN — not a stored corpus vector — the
    retract_from_ivf_index centroid-id refusal can never fire on it.
    """
    _, cents_long = kmeans_fit(
        corpus, k=ncells, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    centroids = _centroid_arrays(cents_long).select(
        F.col("label").cast("bigint").alias(id_col),
        F.col("centv").alias(vec_col),
    )
    centroids = centroids.localCheckpoint(eager=False)
    corpus_cells = assign_cells(corpus, centroids, id_col, vec_col, nprobe=1)
    return centroids, corpus_cells


def prototype_prune(
    vectors: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    keep_num: int = 1,
    keep_den: int = 2,
    mode: str = "hard",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-prototypicality data pruning (Sorscher, Geirhos, Shekhar,
    Ganguli & Morcos, NeurIPS 2022, "Beyond neural scaling laws: beating
    power law scaling via data pruning"): self-supervised prototypes are
    k-means centroids, an example's difficulty is its distance to its
    prototype, and pruning happens PER CLUSTER so the kept set still
    spans every prototype. ``mode="hard"`` keeps the FARTHEST
    ``keep_num/keep_den`` fraction of each cluster (the paper's
    abundant-data regime — easy, redundant examples go); ``mode="easy"``
    keeps the closest fraction (the scarce-data regime, where outliers
    and label noise go).

    Engine-exact with no float threshold: the keep fraction is a
    RATIONAL (``keep_num``/``keep_den``), so the per-cluster cut
    ``kept = ceil(n · num/den)`` is the integer comparison
    ``(rank − 1) · den < n · num`` over ``row_number`` ranked on the
    already-6dp-rounded ``dist2`` with id tiebreak — the rational-
    threshold idiom from the prefix-filter family.

    Scale: the fit is :func:`kmeans_fit` (broadcast E-step, k×dims
    M-step — nothing corpus-quadratic); the prune adds one k-row size
    aggregate joined back broadcast plus one per-cluster window pass.
    Lloyd assignment keeps cluster sizes ~corpus/k, so the window
    partitions are balanced by construction; a corpus with a known
    degenerate cluster takes the salted ``cap_per_group`` lever
    upstream instead.

    Returns the KEPT rows: ``(id_col, assigned_label, dist2,
    proto_rank)`` — rank 1 is the hardest (mode="hard") or easiest
    (mode="easy") example of its cluster.
    """
    if mode not in ("hard", "easy"):
        raise ValueError(f"prototype_prune: mode must be 'hard' or 'easy', got {mode!r}")
    if keep_num <= 0 or keep_den <= 0 or keep_num > keep_den:
        raise ValueError(
            "prototype_prune: keep fraction must be a rational in (0, 1] "
            f"(got {keep_num}/{keep_den})"
        )
    assign, _ = kmeans_fit(
        vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    dist_order = (
        F.col("dist2").desc() if mode == "hard" else F.col("dist2").asc()
    )
    w = Window.partitionBy("assigned_label").orderBy(
        dist_order, F.col("vec_id").asc()
    )
    sizes = assign.groupBy("assigned_label").agg(
        F.count(F.lit(1)).alias("__n")
    )
    ranked = assign.withColumn(
        "proto_rank", F.row_number().over(w)
    ).join(F.broadcast(sizes), "assigned_label")
    return (
        ranked.filter(
            (F.col("proto_rank") - F.lit(1)) * F.lit(keep_den)
            < F.col("__n") * F.lit(keep_num)
        )
        .select(
            F.col("vec_id").alias(id_col),
            F.col("assigned_label").cast("int").alias("assigned_label"),
            "dist2",
            "proto_rank",
        )
    )


def rademacher_project(
    vectors: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "jl|",
) -> DataFrame:
    """Deterministic Johnson-Lindenstrauss projection (Achlioptas 2003,
    "Database-friendly random projections", sign variant):
    ``y_j = round(Σ_i x_i·s(i,j) / √out_dim, 6)`` with ``s(i,j) = ±1``
    decided by one md5 hex nibble of ``seed||i||'|'||j`` — the
    projection matrix IS a hash function, so it needs no storage, no
    fit, and no synchronization across jobs (any worker, any engine,
    any day reconstructs it bit-identically; the oracle rebuilds it in
    SQL). The data-independent member of the dim-reduction family next
    to the trained ones (PCA), the structural one (Matryoshka prefix),
    and the codebook ones (int8/PQ) — the only one that works on a
    corpus it has never seen.

    The d×out_dim sign matrix is computed ONCE driver-side
    (deterministic — the seed is the RNG state) and shipped as a
    one-row broadcast rather than a literal in the plan (the r8
    analyzer-cost lesson); the multiply is JVM-side higher-order
    functions, pure map-side. Per the float-sum contract only the
    final component rounds (a d-element product sum).
    """
    import hashlib

    if out_dim < 1:
        raise ValueError(f"rademacher_project: out_dim must be >= 1, got {out_dim}")
    first = vectors.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError("rademacher_project: no vectors to infer dims from")
    d = len(first[0])
    signs = [
        [
            1.0
            if int(hashlib.md5(f"{seed}{i}|{j}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for i in range(d)
        ]
        for j in range(out_dim)
    ]
    spark = vectors.sparkSession
    sdf = driver_frame(spark, [(signs,)], "signs array<array<double>>")
    scale = float(out_dim) ** 0.5
    v = _dbl(vec_col)
    proj = F.transform(
        F.col("__signs"),
        lambda row: F.round(
            F.aggregate(
                F.zip_with(v, row, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(scale),
            6,
        ),
    )
    return (
        vectors.crossJoin(
            F.broadcast(sdf.select(F.col("signs").alias("__signs")))
        )
        .select(F.col(id_col), proj.alias(vec_col))
    )


def semantic_dedup_sweep(
    vectors: DataFrame,
    thresholds: tuple[float, ...] = (0.35, 0.5, 0.7),
    k: int | None = None,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "vectorized",
    target_cluster_size: int = 1024,
) -> DataFrame:
    """SemDeDup epsilon sweep — the tuning view the paper's Figure-style
    analysis needs before committing to one threshold: the per-epsilon
    drop census ``(threshold, n_total, n_dropped, n_kept, drop_frac)``
    for several thresholds from ONE clustering and ONE within-cluster
    pair scan (the ``cross_source_dup_sweep`` design): a vector's
    verdict at ε depends only on its MAX 6dp-rounded cosine to a
    lower-id same-cluster neighbor, so the Σ|c|² scan runs once at
    ``min(thresholds)``, reduces to a doc-sized (id, max_sim) table,
    and every threshold is a filter+count over that table.

    Clustering and tie rules are exactly :func:`semantic_dedup`'s
    (fixed-iteration seeded k-means, 6dp sims), so each sweep point's
    ``n_kept`` equals a standalone ``semantic_dedup`` run at that
    threshold (pinned by test) and the whole sweep unrolls to SQL.

    ``engine`` follows :func:`semantic_dedup`: ``"vectorized"``
    (default) runs the max-sim scan as per-cluster chunked BLAS
    (:func:`_semantic_maxsim_vectorized` — Σ|c|² multiply-adds inside
    matmuls; the pure-join form swept 73× at 16× with the oracle's
    pinned k=4), ``"join"`` is the pure-DataFrame formulation the
    oracle mirrors 1:1 — engine equivalence pinned by test.
    """
    if not thresholds:
        raise ValueError("semantic_dedup_sweep: no thresholds")
    if engine not in ("vectorized", "join"):
        raise ValueError("engine must be 'vectorized' or 'join'")
    thr_min = min(thresholds)
    if k is None:
        k = auto_k(vectors.count(), target_cluster_size)
    assign, _ = kmeans_fit(
        vectors, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    labeled = vectors.select(id_col, vec_col).join(
        assign.select(
            F.col("vec_id").alias(id_col),
            F.col("assigned_label").cast("int").alias("assigned_label"),
        ),
        id_col,
    )
    # r13 opt (guide §1.2/§5): labeled feeds TWO consumers (the n_total
    # aggregate's broadcast build and the max-sim scan), and the k-means
    # fit behind `assign` truncates lineage with LAZY checkpoints — so
    # each consumer re-ran the whole assignment chain. Materialize the
    # vector-sized labeled frame once; both reads hit cached blocks.
    labeled = labeled.localCheckpoint(eager=True)
    if engine == "vectorized":
        maxs = _semantic_maxsim_vectorized(
            labeled, thr_min, id_col, vec_col
        ).localCheckpoint(eager=False)
    else:
        side = labeled.select(
            F.col("assigned_label").alias("lbl"),
            F.col(id_col).alias("a"),
            _dbl(vec_col).alias("va"),
        ).withColumn("na", l2_norm(F.col("va")))
        r = side.select(
            F.col("lbl").alias("rlbl"),
            F.col("a").alias("b"),
            F.col("va").alias("vb"),
            F.col("na").alias("nb"),
        )
        maxs = (
            side.join(
                r, (F.col("lbl") == F.col("rlbl")) & (F.col("a") < F.col("b"))
            )
            .withColumn(
                "sim",
                F.round(
                    cosine_from_norms(
                        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                    ),
                    6,
                ),
            )
            .filter(F.col("sim") >= F.lit(float(thr_min)))
            .groupBy(F.col("b"))
            .agg(F.max("sim").alias("__ms"))
            .localCheckpoint(eager=False)
        )
    spark = vectors.sparkSession
    tdf = driver_frame(
        spark, [(float(t),) for t in sorted(thresholds)], "threshold DOUBLE"
    )
    total = labeled.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    dropped = (
        F.broadcast(tdf)
        .join(maxs, F.col("__ms") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when(F.col("__ms").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_dropped")
        )
    )
    return dropped.crossJoin(F.broadcast(total)).select(
        "threshold",
        "n_total",
        "n_dropped",
        (F.col("n_total") - F.col("n_dropped")).cast("bigint").alias("n_kept"),
        F.round(F.col("n_dropped") / F.col("n_total"), 6).alias("drop_frac"),
    )
