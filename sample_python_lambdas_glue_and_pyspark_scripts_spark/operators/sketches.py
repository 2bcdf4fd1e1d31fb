"""Count-min sketch (Cormode & Muthukrishnan 2005,
doi:10.1016/j.jalgor.2003.12.001): sublinear frequency summaries for
heavy-hitter detection over unbounded key domains.

Why it matters at 100 TB: an exact token/key frequency table is
|vocab|-sized and must be rebuilt per corpus; the sketch is a FIXED
``depth x width`` grid of counters that (a) aggregates with one keyed
shuffle whose output is at most depth*width rows, (b) merges across
corpora/partitions/days by plain cell-wise addition (a union + groupBy —
the same mergeability that makes it streamable), and (c) answers
point-frequency queries with one-sided error: estimate >= true count,
overshoot bounded by e*N/width with probability 1 - (1/e)^depth.

Engine fit: every hash is the md5 recipe from the oracle-parity kit, so
the whole sketch — not just its answers — is exactly reproducible in
DuckDB SQL; the contract query hashes the full grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .util import driver_frame


def _cms_slot(key: Column, row: int, width: int) -> Column:
    """Row-seeded md5 slot hash — identical in DuckDB via
    ``('0x' || substr(md5('cms<row>|' || key), 1, 15))::BIGINT % width``."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{row}|"), key)), 1, 15), 16, 10
        ).cast("bigint")
        % F.lit(width)
    )


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: ``(row, slot, cnt)`` with at most depth*width
    rows. One pass, map-side expansion by ``depth`` (cheap, constant),
    one keyed shuffle that partial-aggregates map-side — hot keys
    collapse before the exchange, so skew cannot hurt it."""
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be >= 1")
    key = F.col(key_col).cast("string")
    w = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    # NULL keys are ignored, matching hll_sketch: md5(NULL) is NULL, so
    # an unfiltered NULL key would inject a (row, NULL) cell that
    # corrupts grid merges (found by the pure-Python property oracle)
    df = df.where(F.col(key_col).isNotNull())
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_slot(key, r, width).alias("slot"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
        w.alias("__w"),
    )
    return (
        cells.select(F.col("c.row").alias("row"), F.col("c.slot").alias("slot"), "__w")
        .groupBy("row", "slot")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the same (width, depth): cell-wise sum
    (union + one keyed shuffle). This is the cross-corpus / cross-day
    accumulation path — no re-scan of the original data."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "slot").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for ``keys``: probe each of the
    ``depth`` rows (broadcast-join the sketch — it is at most
    depth*width rows) and take the minimum. Estimates never undercount;
    absent cells read as 0."""
    key = F.col(key_col).cast("string")
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _cms_slot(key, r, width).alias("slot"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select(F.col(key_col), F.col("p.row").alias("row"), F.col("p.slot").alias("slot"))
    joined = probes.join(F.broadcast(sketch), ["row", "slot"], "left").select(
        F.col(key_col), F.coalesce(F.col("cnt"), F.lit(0)).alias("__c")
    )
    return joined.groupBy(key_col).agg(F.min("__c").cast("bigint").alias("est"))


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007, AofA; practical constants from
# Heule et al. 2013 "HyperLogLog in Practice"): sublinear cardinality.
#
# Why it matters at 100 TB: COUNT(DISTINCT key) over an unbounded domain
# (URLs, user ids, n-grams) needs a |domain|-sized shuffle; the HLL
# register table is a FIXED 2^p rows, built with one keyed shuffle whose
# map-side partial MAX collapses every partition's contribution before
# the exchange, and it merges across corpora/days by cell-wise MAX — the
# same mergeability that makes it streamable and union-able without
# re-scanning either side. Standard error ~= 1.04 / sqrt(2^p).
#
# Oracle parity: the hash is the md5 recipe from the parity kit (15 hex
# chars -> 60-bit bigint); the leading-run length rho is derived from the
# UNPADDED base-2 string length — Spark `length(conv(x, 10, 2))` and
# DuckDB `length(bin(x))` are integer-identical — so the whole register
# table, not just the estimate, is reproducible in SQL.
# ---------------------------------------------------------------------------

_HLL_BITS = 60  # md5 15-hex-char prefix


def _hll_hash(key: Column) -> Column:
    """60-bit md5 hash — in DuckDB:
    ``('0x' || substr(md5('hll|' || key), 1, 15))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("hll|"), key)), 1, 15), 16, 10
    ).cast("bigint")


def hll_sketch(df: DataFrame, key_col: str, p: int = 9) -> DataFrame:
    """Build the register table ``(bucket, rho)`` with at most ``2^p``
    rows: bucket = low p bits of the hash; rho = position of the first
    set bit in the remaining ``60 - p`` bits (all-zero remainder maps to
    ``60 - p + 1``). One explode-free map stage + one keyed shuffle with
    map-side MAX."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    m = 1 << p
    bits = _HLL_BITS - p
    h = _hll_hash(F.col(key_col).cast("string"))
    bucket = (h % F.lit(m)).alias("bucket")
    # shiftright, NOT floor(h / m): the hash is 60-bit and double
    # division is lossy past 2^53 (DuckDB side uses exact `//`)
    rest = F.shiftright(h, p)
    rho = (
        F.when(rest == 0, F.lit(bits + 1))
        .otherwise(F.lit(bits) - F.length(F.conv(rest.cast("string"), 10, 2)) + 1)
        .cast("int")
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(bucket, rho.alias("__rho"))
        .groupBy("bucket")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge register tables built with the same ``p``: cell-wise MAX
    (union + one keyed shuffle). hll_sketch(A ∪ B) ==
    hll_merge(hll_sketch(A), hll_sketch(B)) exactly — the law the tests
    pin."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(sketch: DataFrame, p: int = 9) -> DataFrame:
    """Cardinality estimate from a register table. Returns one row
    ``(m, zero_registers, raw_estimate, estimate)``, doubles rounded to
    6dp (parity kit). Buckets absent from the table are empty registers
    (rho = 0); the small-range correction is Flajolet's linear counting
    ``m * ln(m / V)`` when ``raw <= 2.5 m`` and zeros exist."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = sketch.agg(
        F.count(F.lit(1)).alias("__nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__s"),
    )
    zeros = (F.lit(m) - F.col("__nz")).cast("bigint")
    # coalesce: SUM over an EMPTY register table is NULL; with nz=0 the
    # V=m linear-counting branch must yield estimate 0.0 (an un-committed
    # streaming sketch is an empty set, not a NULL cardinality)
    denom = F.coalesce(F.col("__s"), F.lit(0.0)) + zeros.cast("double")
    raw = F.lit(alpha) * F.lit(float(m) * float(m)) / denom
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.lit(m).cast("bigint").alias("m"),
        zeros.alias("zero_registers"),
        F.round(raw, 6).alias("raw_estimate"),
        F.round(corrected, 6).alias("estimate"),
    )


def hll_intersect_estimate(a: DataFrame, b: DataFrame, p: int = 9) -> DataFrame:
    """Set-overlap estimate from two register tables built with the same
    ``p``: inclusion-exclusion ``|A∩B| ≈ |A| + |B| − |A∪B|``, where the
    union estimate comes from the cell-wise-MAX merge (exact by the
    merge law — no re-scan of either corpus). Returns one row
    ``(est_a, est_b, est_union, est_intersection)``, clamped at 0.

    Standard caveat (Flajolet; formalized in Ertl 2017): the
    intersection inherits the ABSOLUTE error of the union, so small
    intersections of large sets are noisy — size ``p`` for the union
    cardinality, and treat sub-σ intersections as "indistinguishable
    from empty". That trade is what makes cross-corpus overlap
    auditable without ever co-shuffling the corpora.
    """
    ea = hll_estimate(a, p).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(b, p).select(F.col("estimate").alias("est_b"))
    eu = hll_estimate(hll_merge(a, b), p).select(
        F.col("estimate").alias("est_union")
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                    F.lit(0.0),
                ),
                6,
            ).alias("est_intersection"),
        )
    )


def hll_sketch_grouped(
    df: DataFrame, group_col: str, key_col: str, p: int = 9
) -> DataFrame:
    """Per-group register tables ``(group, bucket, rho)`` — the
    mergeable replacement for ``GROUP BY g, COUNT(DISTINCT key)`` when
    the key domain is unbounded: at most ``2^p`` rows per group, one
    keyed shuffle on (group, bucket) with map-side MAX, and groups merge
    across corpora/days exactly like the ungrouped sketch."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    m = 1 << p
    bits = _HLL_BITS - p
    h = _hll_hash(F.col(key_col).cast("string"))
    rest = F.shiftright(h, p)
    rho = (
        F.when(rest == 0, F.lit(bits + 1))
        .otherwise(F.lit(bits) - F.length(F.conv(rest.cast("string"), 10, 2)) + 1)
        .cast("int")
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.col(group_col), (h % F.lit(m)).alias("bucket"), rho.alias("__rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_estimate_grouped(sketch: DataFrame, group_col: str, p: int = 9) -> DataFrame:
    """Per-group cardinality estimates from grouped register tables:
    ``(group, zero_registers, estimate)``, same correction and 6dp
    rounding as :func:`hll_estimate`, one aggregation keyed on the
    group."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = sketch.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__nz"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__s"),
    )
    zeros = (F.lit(m) - F.col("__nz")).cast("bigint")
    raw = F.lit(alpha) * F.lit(float(m) * float(m)) / (
        F.coalesce(F.col("__s"), F.lit(0.0)) + zeros.cast("double")
    )
    corrected = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col(group_col),
        zeros.alias("zero_registers"),
        F.round(corrected, 6).alias("estimate"),
    )


# --- Bloom filter (Bloom 1970, CACM 13(7)) -----------------------------------
#
# The membership member of the sketch shelf (CMS = frequency, HLL =
# cardinality, Bloom = set membership): a fixed m-bit array answering
# "possibly present" (with bounded false-positive rate ~ (1-e^{-kn/m})^k)
# or "definitely absent" — no false negatives. At 100 TB this is the
# decontamination / intake prefilter: a benchmark or blocklist key set
# becomes a few-KB bit table broadcast to every executor, and only
# flagged rows pay the exact verification join.
#
# Representation: 60 bits per BIGINT word — rows ``(word_idx, bits)``,
# at most ceil(m/60) of them. 60 (not 64) keeps every word positive and
# every shift exact in BOTH engines (the hash60/shiftright rule from the
# parity kit: never touch the sign bit). Bit positions are the seeded
# md5 family ``('0x' || substr(md5('bf<j>|' || key), 1, 15))::BIGINT % m``
# — the _cms_slot recipe, so the whole bit table is oracle-reproducible.

BLOOM_WORD_BITS = 60


def _bloom_pos(key: Column, j: int, m_bits: int) -> Column:
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bf{j}|"), key)), 1, 15), 16, 10
        ).cast("bigint")
        % F.lit(m_bits)
    )


def bloom_filter(
    df: DataFrame, key_col: str, m_bits: int = 1024, k_hashes: int = 3
) -> DataFrame:
    """Build the filter: ``(word_idx, bits)`` — one map-side expansion
    by ``k_hashes`` (constant), one keyed shuffle whose output is at
    most ``ceil(m_bits/60)`` rows with map-side ``bit_or`` partials (hot
    keys collapse before the exchange; duplicate inserts are free
    because OR is idempotent). NULL keys are ignored (the CMS/HLL
    convention). Size guidance: ``m ≈ 10·n`` bits with ``k = 7`` gives
    ~1% FP; the contract query deliberately undersizes to exercise the
    FP arithmetic."""
    if m_bits < 1 or k_hashes < 1:
        raise ValueError("m_bits and k_hashes must be >= 1")
    key = F.col(key_col).cast("string")
    pos = df.where(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(*[_bloom_pos(key, j, m_bits) for j in range(k_hashes)])
        ).alias("_pos")
    )
    return (
        pos.select(
            F.expr(f"_pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            (F.col("_pos") % BLOOM_WORD_BITS).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_bit AS INT))")
            ).alias("bits")
        )
    )


def bloom_merge(*filters: DataFrame) -> DataFrame:
    """Merge filters built with the same (m_bits, k_hashes): word-wise
    OR — union + one keyed shuffle over ≤ ceil(m/60) rows. Exactly the
    filter a single build over the unioned keys produces (OR is
    associative/commutative/idempotent; pinned by test)."""
    if not filters:
        raise ValueError("bloom_merge: no filters")
    out = filters[0]
    for s in filters[1:]:
        out = out.unionByName(s)
    return out.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Probe distinct non-null keys: ``(key_col, maybe_present)``.

    Each key expands to its ``k`` (word, bit) positions map-side; the
    filter — ≤ ceil(m/60) rows — broadcasts to the join, and a key is
    flagged iff EVERY position's bit is set (a missing word row reads
    as all-zero via coalesce). One broadcast join + one keyed
    ``bool_and``; the probed table is never shuffled by content."""
    key = F.col(key_col).cast("string")
    pos = (
        df.where(F.col(key_col).isNotNull())
        .select(F.col(key_col), key.alias("_k"))
        .distinct()
        .select(
            F.col(key_col),
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("_k"), j, m_bits) for j in range(k_hashes)]
                )
            ).alias("_pos"),
        )
        .select(
            F.col(key_col),
            F.expr(f"_pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            (F.col("_pos") % BLOOM_WORD_BITS).alias("_bit"),
        )
    )
    joined = pos.join(F.broadcast(bloom), on="word_idx", how="left")
    hit = F.expr(
        "(shiftright(coalesce(bits, CAST(0 AS BIGINT)), CAST(_bit AS INT)) & 1) = 1"
    )
    return joined.groupBy(key_col).agg(
        F.bool_and(hit).alias("maybe_present")
    )


def bloom_semi_join(
    big: DataFrame,
    big_key: str,
    small: DataFrame,
    small_key: str,
    m_bits: int = 8192,
    k_hashes: int = 3,
) -> DataFrame:
    """Semi-join ``big ⋉ small`` with an explicit Bloom prefilter.

    The small side's keys build a filter whose ≤ ``ceil(m/60)`` words
    are collected into a LITERAL array (bounded by ``m_bits`` at build
    time — the broadcast-offsets allowance, never data-sized) so the
    definitely-absent test runs per-row, map-side, BEFORE the join
    shuffle; survivors then pay the exact ``left_semi``. Because Bloom
    has no false negatives the result EQUALS the plain semi-join — the
    prefilter is semantically transparent (that identity IS the
    contract oracle) and exists to cut the big side's shuffle volume
    when most of it does not match. Spark's AQE runtime filters are the
    implicit cousin; this form is deterministic, oracle-checkable, and
    works where the planner declines (non-equi pipelines, pre-shuffle
    UDF stages).

    At 100 TB: ~10 bits per small-side key keeps the word array a few
    hundred KB for tens of millions of keys — shipped once per executor
    as an expression literal — while dropping the bulk of non-matching
    fact rows before they shuffle.
    """
    pre = bloom_prefilter(big, big_key, small, small_key, m_bits, k_hashes)
    right = small.select(F.col(small_key).alias(big_key)).distinct()
    return pre.join(right, on=big_key, how="left_semi")


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    keys: DataFrame,
    keys_col: str,
    m_bits: int = 8192,
    k_hashes: int = 3,
) -> DataFrame:
    """The map-side half of :func:`bloom_semi_join`, reusable on its
    own: build a Bloom filter over ``keys[keys_col]``, fold its
    ≤ ``ceil(m_bits/60)`` words into a ONE-ROW array that BROADCASTS
    into the plan, and drop every ``df`` row whose ``key_col`` is
    definitely absent — per-row, map-side, before any shuffle. No
    false negatives, so the result is a SUPERSET of the exact match;
    follow with an exact join/verify to kill the false positives
    (decontamination, blocklists, dimension prefilters).

    LAZY like every other operator builder: the filter build is a
    subtree of the returned plan (the word table aggregated to a
    ONE-ROW ``map<word_idx, bits>``, broadcast-cross-joined; absent
    words read as 0 through ``try_element_at`` + ``coalesce``), so
    merely CONSTRUCTING the plan runs no Spark job — the build executes
    with the query (formerly an eager ``collect()`` at construction
    time, which made plan_report / schema checks pay a full keys-side
    scan). A map, NOT a zero-filled array: the array form needs
    ``n_words`` per-slot expressions (~1100 at the decontamination
    default m=65536 — real analyzer/codegen cost per plan), the map is
    one expression at any ``m_bits``."""
    words_df = (
        bloom_filter(keys, keys_col, m_bits, k_hashes)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("word_idx").cast("int").alias("k"),
                        F.col("bits").alias("v"),
                    )
                )
            ).alias("_bf_words")
        )
    )
    key = F.col(key_col).cast("string")
    # positions materialized in their own projection (nested-HOF CSE rule)
    staged = df.withColumn(
        "_bf_pos",
        F.array(*[_bloom_pos(key, j, m_bits) for j in range(k_hashes)]),
    ).crossJoin(F.broadcast(words_df))
    hit = F.expr(
        f"forall(_bf_pos, p -> (shiftright(coalesce(try_element_at("
        f"_bf_words, CAST(p div {BLOOM_WORD_BITS} AS INT)), "
        f"CAST(0 AS BIGINT)), "
        f"CAST(p % {BLOOM_WORD_BITS} AS INT)) & 1) = 1)"
    )
    return staged.filter(hit).drop("_bf_pos", "_bf_words")


# --- bottom-k sketch ----------------------------------------------------------
#
# The fourth member of the sketch family (Cohen & Kaplan, "Summarizing
# data using bottom-k sketches", PODC 2007): membership -> Bloom,
# frequency -> CMS, cardinality -> HLL, SAMPLE -> bottom-k. The k
# distinct keys with the smallest md5-derived hashes form a uniform
# without-replacement sample of the distinct-key set that is (a)
# MERGEABLE (re-take-k of a union of sketches == the sketch of the
# union — the law tests pin), (b) a cardinality estimator with a
# CLOSED-FORM value ((k-1) * 2^60 / h_k — fully oracle-reproducible,
# unlike HLL's engine-tuned bias tables), and (c) the carrier of the
# sampled KEYS themselves, so downstream joins can inspect the actual
# sampled members (a Bloom/HLL cannot return members).

_BK_SPACE = float(1 << 60)


def bottomk_sketch(df: DataFrame, key_col: str, k: int = 32) -> DataFrame:
    """Build the sketch: the ``k`` distinct keys with the smallest
    ``hash60('bk|' || key)`` values, as ``(h, key)`` rows (ascending by
    construction; ties impossible up to md5 collisions, which both
    engines share). One distinct + one TakeOrdered — no full sort.
    NULL keys are ignored (the family convention)."""
    if k < 1:
        raise ValueError("bottomk_sketch: k must be >= 1")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("bk|"), F.col("key"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.col(key_col).cast("string").alias("key"))
        .distinct()
        .select(h.alias("h"), "key")
        .orderBy(F.col("h").asc())
        .limit(k)
    )


def bottomk_merge(*sketches: DataFrame, k: int = 32) -> DataFrame:
    """Merge sketches built with the same hash: union (+ distinct — the
    same key may appear in several sketches) and re-take the k smallest.
    Equals a direct build over the unioned key sets exactly (pinned by
    test): bottom-k of a union is the bottom-k of the per-set bottoms."""
    if not sketches:
        raise ValueError("bottomk_merge: no sketches")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy(F.col("h").asc()).limit(k)


def bottomk_estimate(sketch: DataFrame, k: int = 32) -> DataFrame:
    """Distinct-count estimate from the sketch: if the sketch holds
    fewer than ``k`` keys the count is EXACT (every distinct key is in
    it); otherwise ``n_hat = (k - 1) * 2^60 / h_k`` with ``h_k`` the
    largest retained hash (the order statistic estimator — unbiased for
    uniform hashes). One row ``(k_used, h_k, estimate)``, 6dp."""
    agg = sketch.agg(
        F.count(F.lit(1)).alias("k_used"), F.max("h").alias("h_k")
    )
    return agg.select(
        F.col("k_used").cast("bigint").alias("k_used"),
        F.col("h_k").cast("bigint").alias("h_k"),
        F.round(
            F.when(F.col("k_used") < k, F.col("k_used").cast("double"))
            .otherwise(
                F.lit(float(k - 1)) * F.lit(_BK_SPACE) / F.col("h_k")
            ),
            6,
        ).alias("estimate"),
    )


# --- priority sampling ---------------------------------------------------------
#
# The WEIGHTED companion of the bottom-k sketch (Duffield, Lund &
# Thorup, "Priority sampling for estimation of arbitrary subset sums",
# JACM 2007): priority q = w / u with u a hash-derived uniform in
# (0, 1]; keep the k+1 largest priorities. The top k are the sample,
# the (k+1)-th priority is the threshold tau, and SUM(max(w, tau)) over
# the sampled members of ANY key subset is an unbiased estimate of that
# subset's total weight — per-key aggregates answerable from a k-row
# summary. Mergeable exactly like bottom-k: the k+1 largest priorities
# of a union live in the union of each side's k+1 largest.
#
# Determinism contract: weights must arrive deterministic (round float
# aggregates to 6dp first — the parity kit); u = (h+1)/2^60 from the
# md5 hash60 of the key, and q = w * 2^60 / (h+1) is one multiply and
# one divide in fixed order, so the whole sketch and every estimate
# are IEEE-identical across engines (no tolerance bands).


def priority_sample(
    df: DataFrame, key_col: str, weight_col: str, k: int = 32
) -> DataFrame:
    """Build the sketch: the ``k + 1`` rows with the largest priorities
    as ``(q, key, w)``, descending (ties → key). Input must hold ONE
    row per key (it samples keys, not rows — pre-aggregate first) with
    deterministic non-negative weights. One TakeOrdered, no full
    sort."""
    if k < 1:
        raise ValueError("priority_sample: k must be >= 1")
    base = df.where(
        F.col(key_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(
        F.col(key_col).cast("string").alias("key"),
        F.col(weight_col).cast("double").alias("w"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("ps|"), F.col("key"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    q = (F.col("w") * F.lit(_BK_SPACE)) / (h + F.lit(1)).cast("double")
    return (
        base.select(q.alias("q"), "key", "w")
        .orderBy(F.col("q").desc(), F.col("key").asc())
        .limit(k + 1)
    )


def priority_merge(*sketches: DataFrame, k: int = 32) -> DataFrame:
    """Merge sketches built with the same hash and k: union (+ distinct
    — a key may appear in several sketches with the same (q, w)) and
    re-take the k+1 largest. Equals a direct build over the unioned key
    sets (pinned by test). Do NOT merge sketches whose shared keys
    carry DIFFERENT weights — a key's weight must be global before
    sketching (the one-row-per-key contract)."""
    if not sketches:
        raise ValueError("priority_merge: no sketches")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return (
        out.distinct()
        .orderBy(F.col("q").desc(), F.col("key").asc())
        .limit(k + 1)
    )


def priority_estimates(sketch: DataFrame, k: int = 32) -> DataFrame:
    """Per-key unbiased weight estimates from the sketch: the top-k
    rows with ``adj_weight = max(w, tau)``, tau = the (k+1)-th priority
    (0 when the sketch holds ≤ k keys — then every key is present and
    the estimate is EXACT). Summing ``adj_weight`` over any key subset
    estimates that subset's total weight (Duffield et al. Thm 1)."""
    w = Window.orderBy(F.col("q").desc(), F.col("key").asc())
    ranked = sketch.withColumn("__rn", F.row_number().over(w))
    tau = (
        ranked.filter(F.col("__rn") == k + 1)
        .select(F.col("q").alias("__tau"))
    )
    return (
        ranked.filter(F.col("__rn") <= k)
        .crossJoin(
            F.broadcast(
                tau.unionByName(
                    driver_frame(tau.sparkSession, [(0.0,)], "__tau double")
                ).orderBy(F.col("__tau").desc()).limit(1)
            )
        )
        .select(
            "key",
            "w",
            F.round(F.greatest(F.col("w"), F.col("__tau")), 6).alias(
                "adj_weight"
            ),
        )
    )


# --- sampled quantile summary ----------------------------------------------
#
# The DISTRIBUTION member of the sketch family (next to Bloom membership,
# CMS frequency, HLL cardinality, bottom-k key samples, priority weighted
# samples): a k-row mergeable uniform ROW sample whose order statistics
# estimate population quantiles. Deterministic by the same hash rule as
# bottom-k, so both the sample and every quantile read off it are
# engine-exact — no probabilistic tolerance bands in the oracle.


def bottomk_value_sample(
    df: DataFrame, key_col: str, val_col: str, k: int = 64
) -> DataFrame:
    """Mergeable uniform row sample for DISTRIBUTION summaries: the
    ``k`` rows with the smallest ``hash60('bq|' || key)`` carrying
    their ``val_col`` — the bottom-k sketch lifted from distinct keys
    to (key, value) rows, so quantiles (not just cardinalities) serve
    from a k-row summary at 100 TB. ``key_col`` must identify the row
    (a primary key): hashing the KEY, not the value, is what makes the
    inclusion decision independent of the value distribution (uniform)
    AND reproducible across engines/partitions/merges.

    Rows with NULL key or NULL value are ignored (the family
    convention — a NULL value cannot contribute an order statistic).
    One TakeOrdered, no full sort; merge law identical to
    ``bottomk_merge``: bottom-k of a union is the bottom-k of the
    per-part bottoms (``bottomk_value_merge``, pinned by test).
    """
    if k < 1:
        raise ValueError("bottomk_value_sample: k must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bq|"), F.col(key_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        df.where(F.col(key_col).isNotNull() & F.col(val_col).isNotNull())
        .select(
            h.alias("h"),
            F.col(key_col).cast("string").alias("key"),
            F.col(val_col).cast("double").alias("val"),
        )
        # identical (h, key, val) rows collapse — a no-op when key_col is
        # a real primary key, but it keeps the merge law exact on
        # replayed/overlapping inputs (direct build ≡ merge, as for
        # bottomk_sketch's key distinct)
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )


def bottomk_value_merge(*samples: DataFrame, k: int = 64) -> DataFrame:
    """Merge value samples built with the same hash: union (+ distinct —
    replayed parts contribute identical (h, key, val) rows) and re-take
    the k smallest. ≡ a direct build over the unioned inputs."""
    if not samples:
        raise ValueError("bottomk_value_merge: no samples")
    out = samples[0]
    for s in samples[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy(F.col("h").asc()).limit(k)


def sampled_quantile_report(
    sample: DataFrame,
    full: DataFrame,
    val_col: str,
    quantiles: tuple[tuple[int, int], ...] = ((1, 4), (2, 4), (3, 4), (9, 10)),
) -> DataFrame:
    """Self-measuring quantile acceptance gate (the
    ``hll_cardinality_report`` pattern applied to distributions): for
    each RATIONAL quantile ``q_num/q_den``, the DISCRETE (lower order
    statistic) quantile of the k-row sample next to the same statistic
    over the full data, plus the 6dp absolute error. The rank is the
    integer ``ceil(n·num/den) = (n·num + den − 1) div den`` — no float
    quantile definition to reconcile between engines, and the emitted
    value is a VALUE FROM THE DATA (row_number ties on equal values
    cannot change it).

    100 TB posture: the exact side is the gate you run ONCE at
    onboarding (it is the ``price_quantiles`` global-sort shape); after
    it passes, serving reads quantiles off the k-row sample alone —
    that is the point of the sketch. The sample side's "global" window
    is ≤ k rows by construction.
    """
    spark = sample.sparkSession
    qdf = driver_frame(
        spark, [(int(a), int(b)) for a, b in quantiles], "q_num INT, q_den INT"
    )
    if any(a < 1 or b < 1 or a > b for a, b in quantiles):
        raise ValueError(
            "sampled_quantile_report: quantiles must be rationals in (0, 1]"
        )

    def _side(df: DataFrame, vcol: str, out_name: str) -> DataFrame:
        ranked = (
            df.where(F.col(vcol).isNotNull())
            .select(F.col(vcol).cast("double").alias("__v"))
            .withColumn(
                "__r", F.row_number().over(Window.orderBy(F.col("__v").asc()))
            )
        )
        n = ranked.agg(F.count(F.lit(1)).alias("__n"))
        tgt = F.broadcast(qdf).crossJoin(F.broadcast(n)).withColumn(
            "__tr", F.expr("(__n * q_num + q_den - 1) div q_den")
        )
        return tgt.join(ranked, F.col("__r") == F.col("__tr")).select(
            "q_num",
            "q_den",
            F.col("__n").alias(f"__n_{out_name}"),
            F.col("__v").alias(out_name),
        )

    est = _side(sample, "val", "est")
    exact = _side(full, val_col, "exact")
    return (
        est.join(exact, ["q_num", "q_den"])
        .select(
            "q_num",
            "q_den",
            F.col("__n_est").alias("n_sample"),
            "est",
            "exact",
            F.round(F.abs(F.col("est") - F.col("exact")), 6).alias("abs_err"),
        )
    )


def bottomk_value_sample_grouped(
    df: DataFrame,
    group_col: str,
    key_col: str,
    val_col: str,
    k: int = 32,
) -> DataFrame:
    """Per-group :func:`bottomk_value_sample` (the
    ``hll_sketch_grouped`` precedent applied to distributions): ≤ k
    sample rows PER GROUP via one (group)-partitioned rank window over
    the hashed keys — a GROUP BY quantile summary whose state is
    ``groups × k`` rows. Merge law per group: union + distinct +
    re-rank (:func:`bottomk_value_merge_grouped`)."""
    if k < 1:
        raise ValueError("bottomk_value_sample_grouped: k must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("bq|"), F.col(key_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    staged = (
        df.where(F.col(key_col).isNotNull() & F.col(val_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            h.alias("h"),
            F.col(key_col).cast("string").alias("key"),
            F.col(val_col).cast("double").alias("val"),
        )
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    return (
        staged.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(F.col("grp").alias(group_col), "h", "key", "val")
    )


def bottomk_value_merge_grouped(
    *samples: DataFrame, group_col: str = "grp", k: int = 32
) -> DataFrame:
    """Merge grouped value samples: union, collapse identical rows,
    re-take the k smallest hashes per group — ≡ a direct grouped build
    over the unioned inputs (pinned by test)."""
    if not samples:
        raise ValueError("bottomk_value_merge_grouped: no samples")
    out = samples[0]
    for s in samples[1:]:
        out = out.unionByName(s)
    w = Window.partitionBy(group_col).orderBy(F.col("h").asc())
    return (
        out.distinct()
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .drop("__r")
    )


def grouped_quantile_report(
    sample: DataFrame,
    full: DataFrame,
    group_col: str,
    val_col: str,
    quantiles: tuple[tuple[int, int], ...] = ((1, 2), (9, 10)),
) -> DataFrame:
    """Per-group :func:`sampled_quantile_report`: discrete rational
    quantiles of each group's k-row sample next to the same statistic
    over the full group, 6dp absolute error. All windows are
    (group)-partitioned — never unpartitioned; the exact side is the
    once-at-onboarding gate, serving reads the groups × k state."""
    if any(a < 1 or b < 1 or a > b for a, b in quantiles):
        raise ValueError(
            "grouped_quantile_report: quantiles must be rationals in (0, 1]"
        )
    spark = sample.sparkSession
    qdf = driver_frame(
        spark, [(int(a), int(b)) for a, b in quantiles], "q_num INT, q_den INT"
    )

    def _side(df: DataFrame, gcol: str, vcol: str, out_name: str) -> DataFrame:
        ranked = (
            df.where(F.col(vcol).isNotNull())
            .select(
                F.col(gcol).alias("__g"), F.col(vcol).cast("double").alias("__v")
            )
            .withColumn(
                "__r",
                F.row_number().over(
                    Window.partitionBy("__g").orderBy(F.col("__v").asc())
                ),
            )
        )
        n = ranked.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
        tgt = n.crossJoin(F.broadcast(qdf)).withColumn(
            "__tr", F.expr("(__n * q_num + q_den - 1) div q_den")
        )
        return (
            tgt.alias("t")
            .join(
                ranked.alias("r"),
                (F.col("t.__g") == F.col("r.__g"))
                & (F.col("r.__r") == F.col("t.__tr")),
            )
            .select(
                F.col("t.__g").alias("__g"),
                "q_num",
                "q_den",
                F.col("t.__n").alias(f"__n_{out_name}"),
                F.col("r.__v").alias(out_name),
            )
        )

    est = _side(sample, group_col, "val", "est")
    exact = _side(full, group_col, val_col, "exact")
    return (
        est.alias("e")
        .join(
            exact.alias("x"),
            (F.col("e.__g") == F.col("x.__g"))
            & (F.col("e.q_num") == F.col("x.q_num"))
            & (F.col("e.q_den") == F.col("x.q_den")),
        )
        .select(
            F.col("e.__g").alias(group_col),
            F.col("e.q_num").alias("q_num"),
            F.col("e.q_den").alias("q_den"),
            F.col("e.__n_est").alias("n_sample"),
            "est",
            "exact",
            F.round(F.abs(F.col("est") - F.col("exact")), 6).alias("abs_err"),
        )
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    width: int = 1024,
    depth: int = 4,
    sketch: DataFrame | None = None,
) -> DataFrame:
    """Heavy-hitter detection with exact verification — the acceptance-
    gate pattern applied to frequency: distinct keys probe the CMS grid
    (broadcast, map-side); every key whose estimate ≥ ``threshold`` is
    a CANDIDATE — a SUPERSET of the true heavy hitters by the sketch's
    one-sided error (estimates never undercount) — and only candidates
    pay for an exact count (broadcast semi-join + keyed count whose
    map-side combine collapses exactly the hot keys being counted).
    Returns ``(key, est, exact, is_heavy)`` — ``est ≥ exact`` always,
    and ``is_heavy = exact ≥ threshold`` exposes the false candidates
    the width bounds (the self-measuring view that sizes the grid).

    Pass ``sketch=`` to probe a PRE-BUILT (possibly merged, possibly
    streamed) grid — the cross-corpus/day accumulation path; the
    default builds it from ``df`` in one keyed pass.
    """
    if threshold < 1:
        raise ValueError("cms_heavy_hitters: threshold must be >= 1")
    sk = (
        sketch
        if sketch is not None
        else count_min_sketch(df, key_col, width, depth)
    )
    keys = (
        df.where(F.col(key_col).isNotNull()).select(key_col).distinct()
    )
    ests = cms_estimate(sk, keys, key_col, width, depth)
    cands = ests.filter(F.col("est") >= F.lit(int(threshold)))
    exact = (
        df.join(F.broadcast(cands.select(key_col)), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact"))
    )
    return (
        cands.join(exact, key_col)
        .select(
            key_col,
            "est",
            "exact",
            (F.col("exact") >= F.lit(int(threshold))).alias("is_heavy"),
        )
    )
