"""Deterministic sampling operators for large-scale pipelines.

At 100 TB you cannot re-toss coins per run: samples must be REPRODUCIBLE
(same rows on every rerun and on every engine), SEEDABLE (change the seed
to get an independent sample), and PUSHDOWN-friendly (a filter on a hash
of an existing column — no shuffle, no state). The standard trick is
hash-mod bucketing: ``H(seed || key) % B < fraction * B``.

All hashing uses the engine's md5→bigint parity recipe
(``operators.dedup.hash60``) so every sample is DuckDB-oracle-checkable
bit-for-bit. ``rand()``/``df.sample`` are deliberately NOT used: Spark's
sample is partition-order-dependent and irreproducible across engines.

Scale notes:
- ``hash_sample`` / ``stratified_hash_sample`` are pure narrow filters —
  they compose with scan pushdown and cost one pass, no shuffle.
- ``group_topk_sample`` ("deterministic reservoir": the k smallest hash
  values per group) shuffles once on the group key; at scale prefer a
  two-phase top-k (partial per partition, then merge) — Spark's window
  + filter already executes exactly that via partial row_number pruning
  when k is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import hash60

# bucket space for fraction arithmetic: large enough that quantization
# error is < 1e-6, small enough that fraction*BUCKETS stays exact in
# int64 on both engines
BUCKETS = 1_000_000


def hash_bucket(key_col, seed: str = "sample|"):
    """Stable bucket in [0, BUCKETS) from the row key (md5-based)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return hash60(c.cast("string"), seed=seed) % F.lit(BUCKETS)


def _threshold(fraction: float) -> int:
    # round, don't truncate: fraction*BUCKETS can land a hair below the
    # intended integer in binary (0.000249*1e6 == 248.99999...), and
    # int() would silently shift the cut by one bucket
    return int(round(fraction * BUCKETS))


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, seed: str = "sample|"
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash.

    Same (key, seed) → same decision, on any engine, at any scale, under
    any partitioning. Rows with equal keys are kept or dropped together.
    """
    return df.filter(hash_bucket(key_col, seed) < _threshold(fraction))


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    default_fraction: float = 0.0,
    seed: str = "sample|",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages, keep 100% of rare ones). ``fractions`` maps stratum value
    → keep fraction; unlisted strata use ``default_fraction``."""
    thr = F.lit(_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == F.lit(value), F.lit(_threshold(frac))
        ).otherwise(thr)
    return df.filter(hash_bucket(key_col, seed) < thr)


def group_topk_sample(
    df: DataFrame, group_col: str, key_col: str, k: int, seed: str = "sample|"
) -> DataFrame:
    """Deterministic fixed-size sample per group: the k rows with the
    smallest key hashes (a derandomized reservoir sample). Unlike
    ``fraction``-based sampling this bounds every group's output size —
    the right tool when strata are skewed."""
    w = Window.partitionBy(group_col).orderBy(
        hash60(F.col(key_col).cast("string"), seed=seed), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def assign_training_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 16,
    seed: str = "epoch0|",
) -> DataFrame:
    """Deterministic global pseudo-shuffle for training-batch
    construction: (id_col, shard, pos). ``shard`` spreads rows evenly by
    the md5 parity hash; ``pos`` is the row's stable position within its
    shard, ordered by an independent hash (tie-broken by id) — so
    (shard, pos) is a reproducible random permutation of the corpus that
    any reader can page through without coordination.

    Change ``seed`` per epoch for a fresh permutation (same property the
    hash-sampling ops use: a seed IS the RNG state, no stored shuffle
    order, no driver-side randomness).

    Scale: the hash projections are map-side; the only shuffle is the
    per-shard position window, keyed on shard — volume |rows|, one pass.
    At extreme scale, make pos coarse (sort by the hash during the write
    instead of numbering rows) or number within smaller hash buckets.
    """
    c = F.col(id_col).cast("string")
    shard = (hash60(c, seed=seed) % F.lit(n_shards)).alias("shard")
    order = hash60(c, seed=seed + "pos|").alias("__ord")
    w = Window.partitionBy("shard").orderBy(
        F.col("__ord").asc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), shard, order)
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(id_col, "shard", "pos")
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    shard_col: str = "shard",
    order_col: str = "pos",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Greedy sequential packing of rows into token-budget bins: adds
    ``pack_id`` (per shard, starting at 0). Feed it chunk rows that
    carry ``assign_training_shards``'s (shard, pos) — the packs then
    inherit that permutation's determinism.

    Greedy packing is inherently sequential (each decision depends on
    the running remainder — a plain cumulative-sum window can't express
    the per-pack reset), so it runs as ``applyInPandas`` per shard: rows
    are sorted by ``order_col`` and a pack closes when the next row
    would exceed ``budget_tokens``. A single row larger than the budget
    gets its own pack rather than being dropped or split.

    Scale contract: one shard's rows must fit in one executor's memory
    (the packing state is a scalar, the sort is the bound) — size
    ``n_shards`` accordingly; shards process in parallel and nothing
    crosses shards. Not SQL-expressible, so this operator is pinned by
    tests rather than a DuckDB oracle.
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", pack_id int"

    def pack(pdf):
        pdf = pdf.sort_values([order_col]).reset_index(drop=True)
        pack_id, acc, ids = 0, 0, []
        for t in pdf[tokens_col]:
            if acc > 0 and acc + t > budget_tokens:
                pack_id += 1
                acc = 0
            acc += int(t)
            ids.append(pack_id)
        pdf["pack_id"] = ids
        return pdf

    return df.groupBy(shard_col).applyInPandas(pack, schema=out_schema)


def pack_sequences_bfd(
    df: DataFrame,
    budget_tokens: int,
    shard_col: str = "shard",
    order_col: str = "pos",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Best-fit-decreasing packing — the padding-waste lever over
    :func:`pack_sequences`' order-preserving greedy (bin-packing
    heuristics for sequence packing per Krell et al. 2021, "Efficient
    Sequence Packing without Cross-contamination"): rows sort by
    ``tokens_col`` DESC (ties: ``order_col`` ASC), and each row joins
    the FULLEST already-open pack it still fits (ties: the earliest-
    opened), else opens a new pack. BFD trades the arrival-order
    property away (a shuffled order is re-established downstream by the
    pack-level hash, not the member order) for measurably fewer packs —
    :func:`packing_efficiency_report` on both is the comparison the
    budget is tuned with.

    Deterministic: the sort key and both tie rules are total, so the
    fold unrolls into a DuckDB oracle exactly like the greedy form
    (delimited-VARCHAR ``list_reduce`` accumulator). Same scale
    contract as ``pack_sequences`` (per-shard applyInPandas; the
    best-fit scan is O(bins) per row — shard-bounded).

    Oversize rows (``t > budget``) open their own pack and can never
    receive a second member (any load beyond the budget fits nothing) —
    the same overflow rule as the greedy form.
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", pack_id int"

    def pack(pdf):
        import numpy as np

        pdf = pdf.sort_values(
            [tokens_col, order_col], ascending=[False, True]
        ).reset_index(drop=True)
        # the best-fit pick is vectorized (np.argmax over masked loads —
        # argmax returns the FIRST max, which IS the tie rule), so the
        # per-shard cost is O(rows·bins) in C, not a Python inner loop:
        # the 16× sweep on the pure-Python form was superlinear (19.7×)
        loads = np.empty(len(pdf), dtype=np.int64)
        nb = 0
        ids: list[int] = []
        for t in pdf[tokens_col]:
            t = int(t)
            if nb:
                masked = np.where(
                    loads[:nb] <= budget_tokens - t, loads[:nb], -1
                )
                best = int(masked.argmax())
                if masked[best] >= 0:
                    loads[best] += t
                    ids.append(best)
                    continue
            loads[nb] = t
            ids.append(nb)
            nb += 1
        pdf["pack_id"] = ids
        return pdf

    return df.groupBy(shard_col).applyInPandas(pack, schema=out_schema)


def pack_manifest(
    packed: DataFrame,
    shard_col: str = "shard",
    order_col: str = "pos",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dataloader-facing manifest of a :func:`pack_sequences` result:
    one row per ``(shard, pack_id)`` with the ordered member docs and
    their token OFFSETS inside the packed sequence — exactly what a
    cross-document attention mask needs (tokens at positions
    ``[offsets[i], offsets[i] + token_counts[i])`` belong to
    ``member_ids[i]``; attention must not cross those boundaries).

    Returns ``(shard_col, pack_id, n_docs, total_tokens, member_ids
    array, token_counts array, offsets array)`` — offsets are the
    exclusive prefix sums of the member token counts in ``order_col``
    order (first offset 0).

    One keyed shuffle on (shard, pack_id): the exclusive prefix sum is
    a running-sum window over that SAME partitioning (pack-sized
    groups, never unpartitioned), so the groupBy that follows reuses
    the window's exchange — one shuffle total and O(p) per pack (the
    previous per-member slice-and-reaggregate form was O(p²))."""
    w = Window.partitionBy(shard_col, "pack_id").orderBy(order_col)
    off = F.coalesce(
        F.sum(F.col(tokens_col).cast("bigint")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("bigint"),
    )
    members = (
        packed.withColumn("_off", off)
        .groupBy(shard_col, "pack_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(order_col).alias("o"),
                        F.col(id_col).alias("i"),
                        F.col(tokens_col).cast("bigint").alias("t"),
                        F.col("_off").alias("off"),
                    )
                )
            ).alias("_m")
        )
    )
    m = F.col("_m")
    counts = F.transform(m, lambda x: x["t"])
    return members.select(
        shard_col,
        "pack_id",
        F.size(m).cast("bigint").alias("n_docs"),
        F.aggregate(
            counts, F.lit(0).cast("bigint"), lambda a, t: a + t
        ).alias("total_tokens"),
        F.transform(m, lambda x: x["i"]).alias("member_ids"),
        counts.alias("token_counts"),
        F.transform(m, lambda x: x["off"]).alias("offsets"),
    )


def packing_efficiency_report(
    packed: DataFrame,
    budget_tokens: int,
    shard_col: str = "shard",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Per-shard packing-efficiency census over a
    :func:`pack_sequences` result — the number a dataloader owner
    actually tunes ``budget_tokens`` with. One row per shard:

    - ``n_packs`` / ``n_docs`` / ``total_tokens``,
    - ``mean_fill``: mean over packs of pack_tokens / budget (6dp),
    - ``padding_waste_frac``: (n_packs * budget - total_tokens) /
      (n_packs * budget) — the fraction of trained-on positions that
      would be padding at this budget (6dp),
    - ``max_pack_tokens``: sanity bound (> budget means an oversize
      single doc got its own pack — the pack_sequences overflow rule).

    Two keyed aggregates (pack level then shard level), no joins."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    b = F.lit(int(budget_tokens)).cast("bigint")
    per_pack = packed.groupBy(shard_col, "pack_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("_docs"),
        F.sum(F.col(tokens_col).cast("bigint")).alias("_toks"),
    )
    n_packs = F.count(F.lit(1)).cast("bigint")
    total = F.sum("_toks").cast("bigint")
    return (
        per_pack.groupBy(shard_col)
        .agg(
            n_packs.alias("n_packs"),
            F.sum("_docs").cast("bigint").alias("n_docs"),
            total.alias("total_tokens"),
            F.round(F.avg(F.col("_toks") / b), 6).alias("mean_fill"),
            F.round(
                (n_packs * b - total) / (n_packs * b), 6
            ).alias("padding_waste_frac"),
            F.max("_toks").alias("max_pack_tokens"),
        )
    )


def select_token_budget(
    df: DataFrame,
    budget: int,
    score_col: str,
    token_col: str,
    id_col: str = "doc_id",
    max_levels: int = 10_000,
    quantize: int | None = None,
) -> DataFrame:
    """Greedy best-first subset under a global token budget: walk rows in
    (``score_col`` DESC, ``id_col`` ASC) order and keep each row while the
    running ``token_col`` total (inclusive) stays ≤ ``budget`` — the
    "assemble the best N-token training mix" selection.

    The naive formulation is one global-order running sum — a
    single-partition window (WindowExec moves ALL rows to one task; the
    100 TB anti-pattern). This is the two-phase distributed prefix sum
    instead:

    1. per-level running sums: window partitioned BY the score level —
       fully parallel, keyed shuffle;
    2. level offsets: aggregate per-level totals (tiny frame, one row per
       distinct score), prefix-sum THAT with a window, broadcast it back.

    Requires ``score_col`` to be low-cardinality (a quantized/rounded
    score or bucket — the offsets frame is one row per level), and now
    ENFORCES it: the level cardinality is estimated up front and more
    than ``max_levels`` distinct scores raises rather than silently
    building a level-count-sized single-partition window in phase 2.
    With continuous scores, pass ``quantize=<ndigits>`` to 6dp-style
    round the score first (HALF_UP, matching the parity kit) — curation
    scores are discretized in practice.

    Returns the kept rows plus ``cum_tokens`` (inclusive global running
    total). Rows are kept iff their inclusive cumulative total fits.
    """
    if quantize is not None:
        df = df.withColumn(
            score_col, F.round(F.col(score_col).cast("double"), quantize)
        )
    n_levels = df.agg(
        F.approx_count_distinct(score_col).alias("n")
    ).first()["n"]
    if n_levels > max_levels:
        raise ValueError(
            f"select_token_budget: score_col={score_col!r} has ~{n_levels} "
            f"distinct levels (> max_levels={max_levels}) — a continuous "
            "score would turn the phase-2 offsets prefix-sum into a "
            "level-count-sized single-partition window. Pass "
            "quantize=<ndigits> (or bucket the score upstream), or raise "
            "max_levels if the offsets frame really fits one task."
        )
    per_level = Window.partitionBy(score_col).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = df.withColumn("_lvl_run", F.sum(token_col).over(per_level))
    levels = df.groupBy(score_col).agg(F.sum(token_col).alias("_lvl_total"))
    higher = (
        Window.orderBy(F.col(score_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = levels.select(
        score_col,
        F.coalesce(F.sum("_lvl_total").over(higher), F.lit(0)).alias("_offset"),
    )
    return (
        run.join(F.broadcast(offsets), score_col)
        .withColumn(
            "cum_tokens", (F.col("_offset") + F.col("_lvl_run")).cast("bigint")
        )
        .filter(F.col("cum_tokens") <= F.lit(int(budget)))
        .drop("_lvl_run", "_offset")
    )


def mix_to_proportions(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    weight_unit_col: str | None = None,
    key_col: str = "doc_id",
    seed: str = "mix|",
) -> DataFrame:
    """Downsample groups toward target mix proportions (the training-mix
    "data recipe" step): given target shares per group (e.g. 40% web /
    30% books / 20% code / 10% wiki), keep the LARGEST achievable subset
    with exactly those proportions — no upsampling, so the scarcest
    group relative to its target binds the total and keeps everything;
    every other group is deterministically hash-downsampled to match.

    ``weight_unit_col`` is the mass being proportioned (token count,
    char count); None = row count. Groups absent from ``weights`` are
    dropped (share 0).

    Mechanics: available mass per group → achievable total
    ``T = min_g(avail_g / w_g)`` → per-group keep-fraction
    ``w_g·T / avail_g`` (6dp-rounded, then scaled to an integer bucket
    threshold so the cross-engine comparison is exact-integer) →
    :func:`hash_bucket` filter. Plan: one aggregate over the corpus +
    two broadcast joins of group-cardinality frames + a narrow filter —
    nothing heavy shuffles, fractions are reproducible run-to-run.
    """
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(g, float(w)) for g, w in weights.items()], [group_col, "__w"]
    )
    unit = F.col(weight_unit_col) if weight_unit_col else F.lit(1)
    avail = df.groupBy(group_col).agg(
        F.sum(unit).cast("double").alias("__avail")
    )
    aw = avail.join(F.broadcast(wdf), group_col)
    total = aw.agg(F.min(F.col("__avail") / F.col("__w")).alias("__T"))
    thresholds = aw.crossJoin(F.broadcast(total)).select(
        group_col,
        F.round(
            F.round(F.col("__w") * F.col("__T") / F.col("__avail"), 6)
            * F.lit(BUCKETS),
            0,
        )
        .cast("bigint")
        .alias("__thr"),
    )
    return (
        df.join(F.broadcast(thresholds), group_col)
        .filter(hash_bucket(key_col, seed) < F.col("__thr"))
        .drop("__thr")
    )


def temperature_weights(
    df: DataFrame,
    alpha: float = 0.3,
    group_col: str = "source",
    weight_unit_col: str | None = None,
) -> dict[str, float]:
    """Temperature-scaled source weights: ``w_g ∝ mass_g ** alpha``
    (the multilingual-LM mixing rule — mT5/XLM-R style; Xue et al. 2021,
    arXiv:2010.11934 §3.1). ``alpha=1`` keeps natural proportions,
    ``alpha=0`` gives uniform; the usual 0.2-0.5 range boosts scarce
    sources without letting any dominate.

    Returns a plain dict for :func:`mix_to_proportions`. The aggregate
    is one groupBy over the group column (group cardinality is small —
    sources, languages — so collecting the per-group masses is a
    bounded control-plane read, not a data collect). Weights are
    6dp-rounded so downstream keep-fractions are reproducible.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    unit = F.col(weight_unit_col) if weight_unit_col else F.lit(1)
    rows = (
        df.groupBy(group_col)
        .agg(F.sum(unit).cast("double").alias("__mass"))
        .collect()
    )
    return {
        r[group_col]: round(float(r["__mass"]) ** alpha, 6)
        for r in rows
        if r[group_col] is not None and r["__mass"] and r["__mass"] > 0
    }


def cap_per_group(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Keep at most ``n`` rows per group under a deterministic total
    order (``order_col`` then ``id_col`` tiebreak) — the C4-style
    per-domain document cap that stops any one source from dominating a
    training mix.

    One keyed shuffle on the group column; the rank is a window over
    each group only (never a global sort). Hot groups are exactly the
    point — the window truncates them to ``n`` — but a single
    pathological group still sorts within one partition; for
    billion-row groups pre-filter with an approximate per-group
    threshold first.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    # NULLS LAST in BOTH directions: Spark's asc default is nulls-first
    # while DuckDB defaults to NULLS LAST, so a bare .asc() would
    # silently diverge from the oracle on NULL order_col values
    # (.desc() is already nulls-last on both engines — pinned for
    # symmetry).
    ordc = (
        F.col(order_col).desc_nulls_last()
        if descending
        else F.col(order_col).asc_nulls_last()
    )
    w = Window.partitionBy(group_col).orderBy(ordc, F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def cap_per_group_salted(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof :func:`cap_per_group`: the exact same kept set
    (pinned by test and by the domain_capped_docs oracle), computed as
    a salted two-phase top-n so no single reducer ever sorts a whole
    hot group.

    Phase 1 ranks within ``(group, salt)`` — a 50%-of-the-corpus hot
    domain spreads over ``n_salts`` reducers — and keeps each bucket's
    top-n; phase 2 re-ranks the survivors within the group, now at most
    ``n_salts × n`` rows per group, so the second window's worst
    reducer is bounded by a constant regardless of group size. Exact
    for any n: every row of the true global top-n is inside its own
    bucket's top-n (fewer than n rows precede it globally, hence in its
    bucket), under the same total order (``order_col``, ``id_col``
    NULLS-LAST discipline). Salt assignment does not affect the result,
    only the spread.

    This is the documented 100 TB posture for hot-group caps
    (``web.domain_capped_docs(..., n_salts=...)``); the plain window is
    fine when group sizes are bounded. Measured (BASELINE.md,
    "Hot-domain window-skew probe"): 1.48× over the plain
    window at 48M rows with 94% in one domain (string order key);
    break-even-to-slightly-behind when no group dominates — the
    per-bucket top-n only truncates buckets holding > n rows, so a fat
    tail of ~n·n_salts-row groups re-pays the second shuffle for
    nothing. Use it for KNOWN hot-key caps, keep the plain window as
    the default."""
    if n < 1:
        raise ValueError("n must be >= 1")
    from .skew import with_salt

    ordc = (
        F.col(order_col).desc_nulls_last()
        if descending
        else F.col(order_col).asc_nulls_last()
    )
    w1 = Window.partitionBy(group_col, "__salt").orderBy(
        ordc, F.col(id_col).asc()
    )
    w2 = Window.partitionBy(group_col).orderBy(ordc, F.col(id_col).asc())
    return (
        with_salt(df, int(n_salts))
        .withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= n)
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= n)
        .drop("__salt", "__rn1", "__rn")
    )


def cap_per_group_hot_routed(
    df: DataFrame,
    group_col: str,
    n: int,
    order_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
    n_salts: int = 16,
    hot_min_rows: int | None = None,
) -> DataFrame:
    """Count-prefiltered :func:`cap_per_group`: route only HOT groups
    through the salted two-phase top-n, everything else through the
    plain window. Same kept set as both (pinned by test and by the
    domain_capped_docs contract oracle).

    The rationale: phase 1 of the all-salted plan only truncates a
    bucket holding MORE than n rows, so a long tail of smallish
    over-cap groups (~n·n_salts rows each) passes phase 1 intact and
    pays the second shuffle for nothing. One map-side-combined count
    pass finds the groups where the straggler risk actually lives
    (``hot_min_rows`` — default ``4·n·n_salts``, the size where
    phase-1 truncation provably bites), BROADCASTS that short list
    (hot groups are few by definition; size the threshold so the list
    fits the broadcast budget), and splits the input with map-side
    semi/anti joins.

    MEASURED caveat (BASELINE.md, "Hot-domain window-skew probe"): the
    routing itself costs ~two extra passes over the input (count pass
    + the semi/anti split re-scan), which at 48M rows exactly ate the
    straggler win — plain 17.0 s, all-salted 11.5 s, routed 17.4 s at
    94%-hot. Prefer :func:`cap_per_group_salted` for a known-hot-key
    cap on a cold (uncached) input; this routed form pays off only
    when the input is already materialized/cached so the extra passes
    are cheap, or when a fat mid-size tail makes all-salting's
    phase-2 shuffle the dominant cost."""
    if n < 1:
        raise ValueError("n must be >= 1")
    s = int(n_salts)
    thresh = int(hot_min_rows) if hot_min_rows is not None else 4 * n * s
    hot_groups = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("__gc"))
        .filter(F.col("__gc") >= thresh)
        .select(group_col)
        .localCheckpoint(eager=True)
    )
    # the keyed semi/anti joins move the join key to the front — restore
    # the input column order so both branches union (and match the plain
    # window's schema) positionally
    cols = df.columns
    hot = df.join(F.broadcast(hot_groups), group_col, "left_semi").select(
        *cols
    )
    cold = df.join(F.broadcast(hot_groups), group_col, "left_anti").select(
        *cols
    )
    return cap_per_group(
        cold, group_col, n, order_col, id_col, descending
    ).unionByName(
        cap_per_group_salted(
            hot, group_col, n, order_col, id_col, descending, s
        )
    )


def split_assign(
    df: DataFrame,
    key_col: str,
    fractions: tuple[float, ...] = (0.9, 0.05, 0.05),
    labels: tuple[str, ...] = ("train", "val", "test"),
    seed: str = "split|",
    label_col: str = "split",
) -> DataFrame:
    """Deterministic dataset split: label every row ``train``/``val``/
    ``test`` (or any label set) by key hash — same (key, seed) → same
    split on any engine, at any scale, under any partitioning, across
    re-runs and late-arriving data. Equal keys land in the same split,
    so splitting by document id (or by URL/domain to prevent
    train-test leakage across near-identical pages) is a pure map-side
    projection: zero shuffles, composes with every downstream operator.

    Cut points use the same rounded integer-bucket thresholds as
    ``hash_sample`` (cross-engine exactness — no float boundary rows).
    """
    if len(fractions) != len(labels) or not labels:
        raise ValueError("fractions and labels must align and be non-empty")
    if any(f < 0 for f in fractions) or abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError("fractions must be non-negative and sum to 1")
    b = hash_bucket(key_col, seed)
    cuts = []
    acc = 0.0
    for f in fractions[:-1]:
        acc += f
        cuts.append(_threshold(acc))
    expr = F.lit(labels[-1])
    for cut, lab in zip(reversed(cuts), reversed(labels[:-1])):
        expr = F.when(b < cut, F.lit(lab)).otherwise(expr)
    return df.withColumn(label_col, expr)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str = "doc_id",
    seed: str = "wsample|",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis
    2006, doi:10.1016/j.ipl.2005.11.003): each row draws a deterministic
    uniform ``u`` from its key hash and scores ``ln(u) / w``; the k
    LARGEST scores are exactly a ∝-weight sample without replacement.
    This is the principled way to turn importance weights (DSIR,
    quality scores, source priorities) into a training subset — rows
    with zero/negative/NULL weight are excluded, heavier rows win more
    often, and the draw is reproducible across engines, re-runs, and
    partitioning (no ``rand()``).

    One map-side projection + TakeOrdered: no shuffle beyond the per-
    partition top-k merge, at any corpus size. The cut compares the
    6dp-rounded score with a key tiebreak (oracle parity kit).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (hash60(F.col(key_col).cast("string"), seed=seed) + 1).cast("double") / F.lit(
        float((1 << 60) + 1)
    )
    w = F.col(weight_col).cast("double")
    score = F.round(F.log(u) / w, 6)
    return (
        df.filter(w.isNotNull() & (w > 0))
        .withColumn("__es_score", score)
        .orderBy(F.col("__es_score").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("__es_score")
    )
