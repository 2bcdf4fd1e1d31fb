"""Streaming cardinality: HyperLogLog registers as persistent stream
state. The batch side (`operators/sketches.hll_sketch`) answers "how
many distinct users/URLs/tokens so far" for a static corpus; this wires
the SAME register table into the incremental-intake loop
(`streaming/incremental.run_incremental`) so a continuously-arriving
stream keeps a live distinct-count without ever re-scanning history.

Why this shape at 100 TB:
- Per micro-batch the work is one ``hll_sketch`` over the batch (one
  keyed shuffle, map-side MAX) writing ≤ 2^p rows — state size is
  INDEPENDENT of stream length.
- State layout copies streaming/minhash_dedup.py: one partition dir per
  micro-batch epoch (``registers/batch_id=N/``), each write a per-batch
  overwrite — a replayed batch rewrites its own dir and nothing else,
  so the callback is idempotent under crash/replay. Cell-wise MAX adds
  a second safety net: merging the same batch twice is a no-op even if
  layout discipline is lost.
- Reads merge all batch dirs with one groupBy MAX (the ``hll_merge``
  law); ``compact_registers`` folds old dirs into one to bound file
  count, with the checked-rename promote protocol (Hadoop ``rename``
  returns False on failure — CLAUDE.md constraint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources.promote import promote_swap, recover_backup

from ..operators.sketches import hll_estimate, hll_sketch
from .incremental import run_incremental

_REG_SCHEMA = "bucket bigint, rho int"


def make_hll_batch_fn(work_dir: str, key_col: str, p: int = 12):
    """Per-micro-batch callback, standalone so probes can wrap the real
    production path."""

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        hll_sketch(batch_df, key_col, p).write.mode("overwrite").parquet(
            f"{work_dir}/registers/batch_id={batch_id}"
        )

    return batch_fn


def streaming_hll(
    stream_df: DataFrame,
    work_dir: str,
    key_col: str,
    p: int = 12,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live HLL register table over a stream. Layout under
    ``work_dir``: ``registers/batch_id=N/`` (state), ``ckpt/`` (stream
    checkpoint)."""
    return run_incremental(
        stream_df,
        make_hll_batch_fn(work_dir, key_col, p),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def read_hll_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """The merged register table across every batch dir (cell-wise MAX).
    Empty-but-valid when no batch has committed yet."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/registers")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _REG_SCHEMA)
    return (
        spark.read.schema(_REG_SCHEMA)
        .parquet(f"{work_dir}/registers")
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_state_estimate(spark: SparkSession, work_dir: str, p: int = 12) -> DataFrame:
    """One-row cardinality estimate of everything the stream has seen."""
    return hll_estimate(read_hll_state(spark, work_dir), p=p)


def compact_registers(spark: SparkSession, work_dir: str) -> int:
    """Offline maintenance: fold every committed batch dir into a single
    ``batch_id=compact`` dir so the state stays O(2^p) FILES as well as
    rows. Returns the number of batch dirs merged away.

    Promote protocol (checked renames, backup kept until the swap
    lands): write merged registers to a hidden tmp dir, back up the
    previous compact dir if present, rename tmp into place, then drop
    the merged-away per-batch dirs and the backup. MAX-merge idempotency
    makes a crash at ANY point safe: the un-deleted batch dirs simply
    re-merge next time.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    reg_root = f"{work_dir}/registers"
    root = hpath(reg_root)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return 0
    # crash recovery BEFORE reading: a run that died between its two
    # renames left batch_id=compact missing and the backup as the ONLY
    # copy of previously merged-away registers — the old inline swap
    # deleted the "stale" backup unconditionally and would have lost
    # them here; the shared helper restores first
    recover_backup(
        spark,
        f"{reg_root}/batch_id=compact",
        backup=f"{work_dir}/.registers_compact_bak",
    )
    batch_dirs = [
        st.getPath()
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("batch_id=")
    ]
    if len(batch_dirs) <= 1:
        return 0
    merged = (
        spark.read.schema(_REG_SCHEMA)
        .parquet(reg_root)
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )
    promote_swap(
        spark,
        f"{reg_root}/batch_id=compact",
        lambda tmp: merged.coalesce(1).write.mode("overwrite").parquet(tmp),
        tmp=f"{work_dir}/.registers_compact_tmp",
        backup=f"{work_dir}/.registers_compact_bak",
    )
    # swap landed: drop the merged-away per-batch dirs
    removed = 0
    for p_ in batch_dirs:
        if p_.getName() != "batch_id=compact":
            fs.delete(p_, True)
            removed += 1
    return removed


# --- count-min twin: streaming heavy-hitter frequencies -------------------
#
# Same epoch-dir layout as the HLL registers. One difference in the
# safety story: CMS merges by SUM, which is NOT idempotent — here the
# LAYOUT carries idempotency alone (a replayed epoch overwrites its own
# batch_id dir and nothing else), so the read-side sum across dirs never
# double-counts. That is exactly why state lives in per-epoch dirs
# rather than one running table.

_CMS_SCHEMA = "row int, slot bigint, cnt bigint"


def make_cms_batch_fn(
    work_dir: str, key_col: str, width: int = 1024, depth: int = 4
):
    from ..operators.sketches import count_min_sketch

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        count_min_sketch(batch_df, key_col, width, depth).select(
            F.col("row").cast("int"), "slot", "cnt"
        ).write.mode("overwrite").parquet(f"{work_dir}/cms/batch_id={batch_id}")

    return batch_fn


def streaming_cms(
    stream_df: DataFrame,
    work_dir: str,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live count-min grid over a stream (heavy-hitter
    frequencies with one-sided error, state fixed at depth×width cells
    per epoch regardless of stream length)."""
    return run_incremental(
        stream_df,
        make_cms_batch_fn(work_dir, key_col, width, depth),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def read_cms_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """Merged grid across every committed epoch (cell-wise SUM)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/cms")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _CMS_SCHEMA)
    return (
        spark.read.schema(_CMS_SCHEMA)
        .parquet(f"{work_dir}/cms")
        .groupBy("row", "slot")
        .agg(F.sum("cnt").alias("cnt"))
    )


# --- Bloom twin: streaming membership state --------------------------------
#
# Same epoch-dir layout. Safety story matches HLL, not CMS: word-wise
# OR is idempotent, so a replayed epoch is harmless through BOTH the
# layout (overwrite-own-dir) and the merge law. The live use: a
# continuously-extended blocklist/benchmark key set whose compact bit
# table any intake job can read and broadcast as a prefilter.

_BLOOM_SCHEMA = "word_idx bigint, bits bigint"


def make_bloom_batch_fn(
    work_dir: str, key_col: str, m_bits: int = 1024, k_hashes: int = 3
):
    from ..operators.sketches import bloom_filter

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bloom_filter(batch_df, key_col, m_bits, k_hashes).write.mode(
            "overwrite"
        ).parquet(f"{work_dir}/bloom/batch_id={batch_id}")

    return batch_fn


def streaming_bloom(
    stream_df: DataFrame,
    work_dir: str,
    key_col: str,
    m_bits: int = 1024,
    k_hashes: int = 3,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live Bloom filter over a stream: per epoch one
    ``bloom_filter`` over the batch (≤ ceil(m/60) rows written),
    state size independent of stream length."""
    return run_incremental(
        stream_df,
        make_bloom_batch_fn(work_dir, key_col, m_bits, k_hashes),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def read_bloom_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """Merged filter across every committed epoch (word-wise OR — the
    ``bloom_merge`` law). Empty-but-valid before the first commit."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/bloom")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _BLOOM_SCHEMA)
    return (
        spark.read.schema(_BLOOM_SCHEMA)
        .parquet(f"{work_dir}/bloom")
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )


# --- bottom-k sample state -----------------------------------------------------

_BK_SCHEMA = "h bigint, key string"


def make_bottomk_batch_fn(work_dir: str, key_col: str, k: int = 32):
    from ..operators.sketches import bottomk_sketch

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bottomk_sketch(batch_df, key_col, k).write.mode("overwrite").parquet(
            f"{work_dir}/bottomk/batch_id={batch_id}"
        )

    return batch_fn


def streaming_bottomk(
    stream_df: DataFrame,
    work_dir: str,
    key_col: str,
    k: int = 32,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live bottom-k distinct-key sample over a stream: per
    epoch one ``bottomk_sketch`` over the batch (≤ k rows written —
    state size independent of stream length). Replay-safe BOTH ways
    (the HLL double-safety): a replayed epoch overwrites its own dir,
    AND re-taking the k smallest over duplicated dirs is idempotent
    (min-take of a multiset ignores multiplicity after the distinct)."""
    return run_incremental(
        stream_df,
        make_bottomk_batch_fn(work_dir, key_col, k),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def read_bottomk_state(
    spark: SparkSession, work_dir: str, k: int = 32
) -> DataFrame:
    """The merged sample across every committed epoch (re-take-k — the
    ``bottomk_merge`` law, so the read EQUALS a batch sketch over
    everything the stream has seen). Empty-but-valid before the first
    commit."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/bottomk")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _BK_SCHEMA)
    return (
        spark.read.schema(_BK_SCHEMA)
        .parquet(f"{work_dir}/bottomk")
        .select("h", "key")
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )


# --- streaming value sample (live quantiles) -------------------------------

_BKV_SCHEMA = "h bigint, key string, val double"


def make_bottomk_values_batch_fn(
    work_dir: str, key_col: str, val_col: str, k: int = 64
):
    from ..operators.sketches import bottomk_value_sample

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        bottomk_value_sample(batch_df, key_col, val_col, k).write.mode(
            "overwrite"
        ).parquet(f"{work_dir}/bottomk_values/batch_id={batch_id}")

    return batch_fn


def streaming_bottomk_values(
    stream_df: DataFrame,
    work_dir: str,
    key_col: str,
    val_col: str,
    k: int = 64,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live bottom-k VALUE sample over a stream — the
    distribution member of the streaming sketch family (live quantiles
    without ever rescanning the stream): per epoch one
    ``bottomk_value_sample`` over the batch (≤ k rows written). Same
    double replay-safety as the key sample: a replayed epoch overwrites
    its own dir, AND re-taking the k smallest over duplicated rows is
    idempotent (identical (h, key, val) rows collapse in the distinct).
    Serve quantiles with ``operators.sketches.sampled_quantile_report``
    over :func:`read_bottomk_values_state`."""
    return run_incremental(
        stream_df,
        make_bottomk_values_batch_fn(work_dir, key_col, val_col, k),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def read_bottomk_values_state(
    spark: SparkSession, work_dir: str, k: int = 64
) -> DataFrame:
    """The merged value sample across every committed epoch (re-take-k,
    the ``bottomk_value_merge`` law — the read EQUALS a batch sample
    over everything the stream has seen). Empty-but-valid before the
    first commit."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/bottomk_values")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _BKV_SCHEMA)
    return (
        spark.read.schema(_BKV_SCHEMA)
        .parquet(f"{work_dir}/bottomk_values")
        .select("h", "key", "val")
        .distinct()
        .orderBy(F.col("h").asc())
        .limit(k)
    )


# --- streaming corpus census (live fertility stats) -------------------------

_FERT_SCHEMA = (
    "source string, n_docs bigint, total_bytes bigint, total_chars bigint,"
    " total_tokens bigint, total_words bigint, tokens_per_word double,"
    " bytes_per_token double"
)


def make_fertility_batch_fn(
    work_dir: str, text_col: str = "text", group_col: str = "source"
):
    from ..operators.text import tokenizer_fertility_report

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        tokenizer_fertility_report(batch_df, text_col, group_col).write.mode(
            "overwrite"
        ).parquet(f"{work_dir}/fertility/batch_id={batch_id}")

    return batch_fn


def streaming_fertility(
    stream_df: DataFrame,
    work_dir: str,
    text_col: str = "text",
    group_col: str = "source",
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live per-source fertility/compression census over a
    document stream: per epoch one ``tokenizer_fertility_report`` over
    the batch (≤ |sources| rows written — the census is an algebraic
    counter aggregate, so epochs merge by counter sum exactly like the
    batch ``merge_fertility_reports``). Replay safety is the CMS story
    — layout only: a replayed epoch overwrites its OWN dir (counter
    sums are NOT idempotent under duplicated rows, so the per-epoch
    dir layout is what makes replay safe). The live read is the drift
    monitor a crawl intake watches: a fertility shift in the merged
    census vs the trained tokenizer's baseline is the early warning
    that new data segments badly."""
    return run_incremental(
        stream_df,
        make_fertility_batch_fn(work_dir, text_col, group_col),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def read_fertility_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """The merged census across every committed epoch
    (``merge_fertility_reports`` counter law — the read EQUALS a batch
    census over everything the stream has seen, pinned by test).
    Empty-but-valid before the first commit."""
    from ..operators.text import merge_fertility_reports

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/fertility")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _FERT_SCHEMA)
    return merge_fertility_reports(
        spark.read.schema(_FERT_SCHEMA).parquet(f"{work_dir}/fertility")
    )


# --- streaming bounded-error quantiles (KLL state) ---------------------------

_KLL_SCHEMA = "level int, val double, n bigint, err_budget bigint"


def make_kll_batch_fn(work_dir: str, val_col: str, k: int = 512, n_blocks: int = 16):
    from ..operators.kll import kll_sketch

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        kll_sketch(batch_df, val_col, k=k, n_blocks=n_blocks).write.mode(
            "overwrite"
        ).parquet(f"{work_dir}/kll/batch_id={batch_id}")

    return batch_fn


def read_kll_state(
    spark: SparkSession, work_dir: str, k: int = 512
) -> DataFrame:
    """The merged sketch across every committed epoch: ONE m-way
    canonical merge (``kll_merge_tagged`` keyed by the epoch's
    batch_id partition column — per-level multiset concatenation is
    order-free, so the fold is one sketch-sized stage however many
    epochs exist). Empty-but-valid before the first commit."""
    from ..operators.kll import kll_merge_tagged

    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/kll")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _KLL_SCHEMA)
    state = spark.read.parquet(f"{work_dir}/kll")  # batch_id partition col
    return kll_merge_tagged(state, k=k, tag_col="batch_id")


# --- streaming annotation vote state (consensus + agreement live reads) ------

_VOTE_SCHEMA = "item bigint, annotator bigint, label string"


def make_votes_batch_fn(
    work_dir: str,
    item_col: str = "item",
    annotator_col: str = "annotator",
    label_col: str = "label",
):
    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.select(
                F.col(item_col).cast("bigint").alias("item"),
                F.col(annotator_col).cast("bigint").alias("annotator"),
                F.col(label_col).cast("string").alias("label"),
            )
            .where(
                F.col("item").isNotNull()
                & F.col("annotator").isNotNull()
                & F.col("label").isNotNull()
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{work_dir}/votes/batch_id={batch_id}")
        )

    return batch_fn


def streaming_votes(
    stream_df: DataFrame,
    work_dir: str,
    item_col: str = "item",
    annotator_col: str = "annotator",
    label_col: str = "label",
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live annotation-vote state over a label stream (the
    annotation shelf's streaming member): each epoch persists its
    DISTINCT (item, annotator, label) triples — the vote LOG, not a
    counter fold, because consensus dedups submissions GLOBALLY (an
    annotator re-sending the same vote in a later epoch must not
    double-count; counter epochs would). The merged reads re-distinct
    across epochs, so read ≡ batch over everything seen EXACTLY
    (distinct-union is associative — pinned by test), and replay is
    safe twice over: layout (a replayed epoch rewrites its own dir)
    AND semantics (distinct is idempotent). State is vote-sized — the
    votes ARE the dataset here, there is nothing smaller that stays
    exact. Retraction: the rows are DOUBLY keyed (item AND annotator),
    so ``state_retraction.retract_from_votes_state`` anti-joins hit
    epochs exactly in either key space (annotator opt-out or item
    takedown); no lossy-fold refusal applies."""
    return run_incremental(
        stream_df,
        make_votes_batch_fn(work_dir, item_col, annotator_col, label_col),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def _read_votes(spark: SparkSession, work_dir: str) -> DataFrame:
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(f"{work_dir}/votes")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return spark.createDataFrame([], _VOTE_SCHEMA)
    return spark.read.schema(_VOTE_SCHEMA).parquet(f"{work_dir}/votes")


def read_consensus_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """Live consensus labels over every committed epoch (≡ batch
    ``consensus_labels`` over everything seen). Empty-but-valid before
    the first commit."""
    from ..operators.annotation import consensus_labels

    return consensus_labels(
        _read_votes(spark, work_dir), "item", "annotator", "label"
    )


def read_agreement_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """Live Fleiss' kappa over every committed epoch (≡ batch
    ``fleiss_kappa_report`` over everything seen)."""
    from ..operators.annotation import fleiss_kappa_report

    return fleiss_kappa_report(
        _read_votes(spark, work_dir), "item", "annotator", "label"
    )


def read_reliability_state(spark: SparkSession, work_dir: str) -> DataFrame:
    """Live per-annotator reliability census over every committed epoch
    (≡ batch ``annotator_reliability`` over everything seen — the
    distinct-union vote log makes every batch read exact)."""
    from ..operators.annotation import annotator_reliability

    return annotator_reliability(
        _read_votes(spark, work_dir), "item", "annotator", "label"
    )


def read_alpha_state(
    spark: SparkSession, work_dir: str, metric: str = "nominal"
) -> DataFrame:
    """Live Krippendorff's alpha over every committed epoch (≡ batch
    ``krippendorff_alpha``; pass ``metric='interval'`` only when the
    label column carries numeric scores)."""
    from ..operators.annotation import krippendorff_alpha

    return krippendorff_alpha(
        _read_votes(spark, work_dir), "item", "annotator", "label", metric
    )


# --- k-anonymity census state: streaming privacy compliance ---------------
#
# The privacy shelf's streaming member (`operators/privacy.py` is the
# batch side): a continuously-arriving table keeps a LIVE k-anonymity
# census without re-scanning history. State is the per-epoch CLASS
# COUNT table over the quasi-identifier tuple — class-bounded, not
# row-bounded (the whole point: the census never needs the rows).
# SUM-merge across epochs; like the CMS twin, SUM is not idempotent so
# the per-epoch dir LAYOUT alone carries replay safety (a replayed
# epoch overwrites its own dir).
#
# Retraction (the GDPR-delete case) is a NEGATIVE-COUNT epoch under a
# SEPARATE `retractions/` counter (the stream's checkpoint counter
# knows nothing about retraction events — sharing `classes/` would let
# a replayed stream epoch overwrite one): sum-merge then yields exactly
# the census a history without the retracted rows would have produced
# (counts are abelian — order never matters). The writer guards
# over-retraction per class; reads raise if a negative net ever
# appears anyway.

_KANON_CNT = "__cnt"


def _kanon_count_classes(df: DataFrame, qi_cols: list[str]) -> DataFrame:
    if not qi_cols:
        raise ValueError("qi_cols must name at least one column")
    return df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias(_KANON_CNT)
    )


def make_kanon_batch_fn(work_dir: str, qi_cols: list[str]):
    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        _kanon_count_classes(batch_df, qi_cols).write.mode(
            "overwrite"
        ).parquet(f"{work_dir}/classes/batch_id={batch_id}")

    return batch_fn


def streaming_kanon(
    stream_df: DataFrame,
    work_dir: str,
    qi_cols: list[str],
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain a live k-anonymity class-count state over a stream.
    Layout under ``work_dir``: ``classes/batch_id=N`` (per-epoch class
    counts), ``retractions/batch_id=M`` (negative-count retraction
    epochs, written by ``state_retraction.retract_from_kanon_state``),
    ``ckpt/`` (stream checkpoint)."""
    return run_incremental(
        stream_df,
        make_kanon_batch_fn(work_dir, qi_cols),
        f"{work_dir}/ckpt",
        available_now=available_now,
    )


def _read_kanon_parts(spark: SparkSession, work_dir: str) -> DataFrame | None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(work_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    # a compacted-away retractions/ root may exist but hold no epoch
    # dirs — parquet schema inference fails on an empty root, so only
    # roots with at least one batch_id child count as present
    parts = [
        p
        for p in (f"{work_dir}/classes", f"{work_dir}/retractions")
        if fs.exists(hpath(p))
        and any(
            st.getPath().getName().startswith("batch_id=")
            for st in fs.listStatus(hpath(p))
        )
    ]
    if not parts:
        return None
    out = None
    for p in parts:
        cur = spark.read.parquet(p).drop("batch_id")
        out = cur if out is None else out.unionByName(cur)
    return out


def read_kanon_state(
    spark: SparkSession, work_dir: str, qi_cols: list[str]
) -> DataFrame | None:
    """The net per-class count table across every committed epoch and
    retraction (classes with net count 0 — fully retracted — are
    dropped; a NEGATIVE net means rows were retracted that were never
    ingested and raises at action time). ``None`` before the first
    commit (the state's schema is the stream's, unknowable earlier)."""
    parts = _read_kanon_parts(spark, work_dir)
    if parts is None:
        return None
    merged = parts.groupBy(*qi_cols).agg(
        F.sum(_KANON_CNT).cast("bigint").alias(_KANON_CNT)
    )
    guard = F.when(
        F.col(_KANON_CNT) < 0,
        F.raise_error(F.concat(
            F.lit("kanon state: negative net class count "),
            F.col(_KANON_CNT).cast("string"),
            F.lit(" — rows were retracted that were never ingested"),
        )),
    ).otherwise(F.lit(True))
    return merged.filter(guard & (F.col(_KANON_CNT) != 0))


def read_kanon_census(
    spark: SparkSession, work_dir: str, qi_cols: list[str], k: int = 5
) -> DataFrame:
    """Live k-anonymity census over everything seen minus everything
    retracted — identical columns to the batch
    ``privacy.k_anonymity_report`` and pinned ≡ it over the surviving
    rows. One row even before the first commit (0 classes, NULL
    min/pct)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    state = read_kanon_state(spark, work_dir, qi_cols)
    if state is None:
        return spark.createDataFrame(
            [(k, 0, 0, None, 0, None)],
            "k int, n_rows bigint, n_classes bigint, "
            "min_class_size bigint, n_rows_below_k bigint, "
            "pct_rows_below_k double",
        )
    return state.agg(
        F.lit(k).cast("int").alias("k"),
        F.coalesce(F.sum(_KANON_CNT), F.lit(0)).cast("bigint")
        .alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min(_KANON_CNT).alias("min_class_size"),
        F.coalesce(
            F.sum(F.when(F.col(_KANON_CNT) < k, F.col(_KANON_CNT))),
            F.lit(0),
        ).cast("bigint").alias("n_rows_below_k"),
    ).select(
        "k",
        "n_rows",
        "n_classes",
        "min_class_size",
        "n_rows_below_k",
        F.round(
            F.try_divide(
                F.col("n_rows_below_k").cast("double"),
                F.col("n_rows").cast("double"),
            ),
            6,
        ).alias("pct_rows_below_k"),
    )


def read_kanon_below_k(
    spark: SparkSession, work_dir: str, qi_cols: list[str], k: int = 5
) -> DataFrame | None:
    """The currently-risky classes (net count in (0, k)), with their
    TYPED quasi-identifier values — the worklist a suppression or
    generalization pass consumes. ``None`` before the first commit."""
    state = read_kanon_state(spark, work_dir, qi_cols)
    if state is None:
        return None
    return state.filter(F.col(_KANON_CNT) < k).select(
        *qi_cols, F.col(_KANON_CNT).alias("class_size")
    )


def compact_kanon_state(
    spark: SparkSession,
    work_dir: str,
    qi_cols: list[str],
    upto_batch: int,
) -> tuple[int, int]:
    """Offline maintenance: fold every ``classes/batch_id < upto_batch``
    epoch AND every retraction epoch into ONE net partition named
    ``batch_id=<upto_batch - 1>`` (the compact_claimed naming rule, so
    any later epoch still reads as newer), dropping net-zero classes.
    MUST run while the stream is stopped with ``upto_batch`` = last
    committed batch + 1 (compacting an unsealed epoch would let its
    replay wipe merged history — the SUM-state rule shared with the
    EWMA compactor). Raises on a negative net (over-retraction is
    corruption, never silently folded away). Checked-rename promote;
    retraction dirs are deleted only after the swap lands (a crash
    re-merges them — sum of an already-folded zero-delta is safe
    because the folded partition replaced the dirs it covered).
    Returns ``(dirs_merged_away, rows_after)``."""
    from .state_retraction import list_state_epochs

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(work_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    recover_backup(
        spark,
        f"{work_dir}/classes/batch_id={upto_batch - 1}",
        backup=f"{work_dir}/.kanon_compact_bak",
    )
    class_epochs = [
        e for e in list_state_epochs(spark, f"{work_dir}/classes")
        if e < upto_batch
    ]
    retr_epochs = list_state_epochs(spark, f"{work_dir}/retractions")
    if len(class_epochs) + len(retr_epochs) <= 1:
        return (0, 0)
    parts = None
    for d in (
        [f"{work_dir}/classes/batch_id={e}" for e in class_epochs]
        + [f"{work_dir}/retractions/batch_id={e}" for e in retr_epochs]
    ):
        cur = spark.read.parquet(d)
        parts = cur if parts is None else parts.unionByName(cur)
    net = (
        parts.groupBy(*qi_cols)
        .agg(F.sum(_KANON_CNT).cast("bigint").alias(_KANON_CNT))
    ).localCheckpoint(eager=True)
    if net.filter(F.col(_KANON_CNT) < 0).limit(1).count() > 0:
        raise ValueError(
            "compact_kanon_state: negative net class count — rows were "
            "retracted that were never ingested; refusing to fold the "
            "corruption away"
        )
    net = net.filter(F.col(_KANON_CNT) != 0)
    promote_swap(
        spark,
        f"{work_dir}/classes/batch_id={upto_batch - 1}",
        lambda tmp: net.coalesce(1).write.mode("overwrite").parquet(tmp),
        tmp=f"{work_dir}/.kanon_compact_tmp",
        backup=f"{work_dir}/.kanon_compact_bak",
    )
    removed = 0
    for e in class_epochs:
        if e != upto_batch - 1:
            fs.delete(hpath(f"{work_dir}/classes/batch_id={e}"), True)
            removed += 1
    for e in retr_epochs:
        fs.delete(hpath(f"{work_dir}/retractions/batch_id={e}"), True)
        removed += 1
    return (removed, net.count())


def read_kanon_ldiv_census(
    spark: SparkSession,
    work_dir: str,
    qi_cols: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Live distinct l-diversity census off a kanon state built over
    ``qi_cols + [sensitive_col]`` (one state, every privacy census):
    the net (class, sensitive) count rows ARE the distinct sensitive
    values per class (NULL included — it keys its own state row, the
    batch operator's NULL-is-a-value convention), so the census is one
    aggregate over the state. Identical columns to and pinned ≡ the
    batch ``privacy.l_diversity_report`` over the surviving rows."""
    if l < 1:
        raise ValueError("l must be >= 1")
    state = read_kanon_state(
        spark, work_dir, qi_cols + [sensitive_col]
    )
    if state is None:
        return spark.createDataFrame(
            [(l, 0, None, 0, None)],
            "l int, n_classes bigint, min_distinct_sensitive bigint, "
            "n_classes_below_l bigint, pct_classes_below_l double",
        )
    per_class = state.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nsens")
    )
    return per_class.agg(
        F.lit(l).cast("int").alias("l"),
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("__nsens").alias("min_distinct_sensitive"),
        F.coalesce(
            F.sum(F.when(F.col("__nsens") < l, 1)), F.lit(0)
        ).cast("bigint").alias("n_classes_below_l"),
    ).select(
        "l",
        "n_classes",
        "min_distinct_sensitive",
        "n_classes_below_l",
        F.round(
            F.try_divide(
                F.col("n_classes_below_l").cast("double"),
                F.col("n_classes").cast("double"),
            ),
            6,
        ).alias("pct_classes_below_l"),
    )


def read_kanon_tcloseness_census(
    spark: SparkSession,
    work_dir: str,
    qi_cols: list[str],
    sensitive_col: str,
    t_num: int,
    t_den: int,
    ordered_values: list | None = None,
) -> DataFrame:
    """Live t-closeness census off the same sensitive-augmented kanon
    state: the state rows regroup into the (class, value-string) count
    table and feed ``privacy.t_closeness_from_counts`` — pinned ≡ the
    batch ``t_closeness_report`` over the surviving rows, both
    metrics. The categorical read maps NULL sensitive values to the
    batch operator's NULL sentinel; the ordinal read raises on NULL or
    unlisted values exactly like batch."""
    from ..operators.privacy import (
        _NULL_SENT,
        t_closeness_from_counts,
    )

    state = read_kanon_state(
        spark, work_dir, qi_cols + [sensitive_col]
    )
    if state is None:
        metric = "ordinal" if ordered_values is not None else "categorical"
        return spark.createDataFrame(
            [(metric, t_num, t_den, 0, None, 0, None)],
            "metric string, t_num int, t_den int, n_classes bigint, "
            "max_emd double, n_classes_above_t bigint, "
            "pct_classes_above_t double",
        )
    if ordered_values is not None:
        sval = F.col(sensitive_col).cast("string")
    else:
        sval = F.coalesce(
            F.col(sensitive_col).cast("string"), F.lit(_NULL_SENT)
        )
    cv = state.groupBy(*qi_cols, sval.alias("__v")).agg(
        F.sum(_KANON_CNT).cast("bigint").alias("__cnt")
    )
    return t_closeness_from_counts(
        cv, qi_cols, t_num, t_den, ordered_values
    )
