"""Streaming MinHash-LSH near-dup dedup (SURVEY.md §7.1 M6 × §2.8).

Batch dedup (``operators.dedup``) answers "which docs in this corpus are
near-duplicates of each other"; a training-data *intake* pipeline needs
the streaming form: docs arrive continuously, and each doc is admitted
only if it is not a near-duplicate of anything already admitted.

Spark-first design: the admission state is a **claimed-buckets table** —
the (band_id, band_hash) LSH buckets of every admitted doc — kept as a
plain parquet table, NOT driver memory and NOT the streaming state
store. Each micro-batch (``foreachBatch``):

1. MinHash signatures + band keys for the batch (map-side only, the
   same deterministic family as batch dedup — signatures are
   bit-identical across the two paths).
2. Drop docs whose any band bucket is already claimed (left-semi join
   against the claimed table, shuffle keyed on the bucket).
3. Within the batch, greedy admission: a doc is dropped iff it shares
   a bucket with a smaller-id doc of the same batch (min-per-bucket —
   one pass, SQL-expressible, deterministic). This is slightly more
   aggressive than strict arrival order (if A~B and B~C but A≁C, C is
   dropped even though B — its only collider — was itself dropped);
   that bias is the standard one-pass LSH-dedup tradeoff and is
   documented behavior, pinned by tests.
4. Append the admitted docs' buckets to the claimed table and the
   admitted docs to the output — both written under
   ``batch_id=<epoch>`` subdirectories with mode=overwrite, so a
   replayed micro-batch (checkpoint recovery) overwrites its own
   previous attempt instead of double-claiming: exactly-once output
   from an at-least-once callback. Reading the claimed table for batch
   N filters to ``batch_id < N`` so a replay never sees its own
   half-written claims.

Scale: claimed-table size is O(admitted docs × bands) rows of
(smallint, 32-char hash) — tiny relative to the corpus. The per-batch
cost is one scan of the claimed table; for long-running intakes,
``compact_claimed`` merges the accumulated per-batch claim dirs into
one distinct partition between runs (checked-rename promote protocol,
history-preserving — pinned by test), and at extreme scale bucket the
compacted table by band_hash so the semi-join co-locates without a
full shuffle.

Reference parity: the reference has no streaming dedup (its streaming
is file-arrival triggering, s3_trigger_lambda.py:45-158); this operator
is part of the beyond-reference training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup import band_keys, minhash_signature
from ..sources.promote import promote_swap
from .incremental import run_incremental

# claimed-table read schema: data columns + the batch_id partition column
# (partition values are directory names; type inference is disabled
# session-wide, so it reads as string and is cast where compared)
_CLAIMED_SCHEMA = "band_id INT, band_hash STRING, batch_id STRING"

# compaction output sizing: ~4M (band_id, band_hash) rows ≈ 150-250 MB
# parquet per file — big enough that a year of compactions stays at a
# handful of files, small enough to split across readers
_ROWS_PER_COMPACT_FILE = 4_000_000


def lsh_admit(
    docs: DataFrame,
    claimed: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """One round of LSH admission: returns (kept_docs, new_buckets).

    ``claimed`` is the (band_id, band_hash) table of previously-admitted
    buckets (None = empty history, e.g. the first batch). ``kept_docs``
    preserves all input columns; ``new_buckets`` are the distinct buckets
    of the kept docs, to be appended to the claimed table.

    Plan shape: signatures map-side; history check = left-semi join on
    the bucket key; within-batch greedy = min-per-bucket aggregation.
    No driver-side collection anywhere.

    ``materialize=True`` (the streaming default) lazily localCheckpoints
    the band-key set and the kept-key set so that (a) the expensive
    shingle+signature projection runs once, not once per downstream
    consumer, and (b) consuming BOTH returned DataFrames (two write
    actions per micro-batch) shares one computation of the admission
    chain. Pass ``materialize=False`` when the result is consumed by a
    single action or when the full declarative plan must stay visible
    (plan audits) — checkpointing truncates the plan to an RDD scan.
    """
    sigs = minhash_signature(docs, text_col, id_col, num_hashes)
    bk = band_keys(sigs, id_col, bands, num_hashes // bands)
    if materialize:
        # lazy (eager=False): no job at construction time; the first
        # action materializes, later actions reuse the checkpointed
        # blocks. localCheckpoint (not persist): per-batch persist()
        # entries would accumulate in the CacheManager across
        # micro-batches; checkpoint blocks are reclaimed on RDD GC.
        bk = bk.localCheckpoint(eager=False)

    if claimed is not None:
        # no .distinct() on the probe side: left-semi/anti joins already
        # have set semantics, a distinct would only add a shuffle
        hist_dup_ids = bk.join(
            claimed, ["band_id", "band_hash"], "left_semi"
        ).select(id_col)
        surv = bk.join(hist_dup_ids, id_col, "left_anti")
    else:
        surv = bk

    # within-batch greedy as ONE pass over the band keys: window-min per
    # bucket, then per-doc "collides with a smaller id anywhere" flag.
    # (A bucket-min self-join expresses the same thing but consumes the
    # band-key subtree three times — Catalyst re-evaluates the whole
    # shingle+signature chain per consumer unless checkpointed.)
    w = Window.partitionBy("band_id", "band_hash")
    kept_keys = (
        surv.withColumn("__min_id", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(
            F.max((F.col(id_col) > F.col("__min_id")).cast("int")).alias("__dup"),
            F.collect_list(F.struct("band_id", "band_hash")).alias("__buckets"),
        )
        .filter(F.col("__dup") == 0)
    )
    if materialize:
        kept_keys = kept_keys.localCheckpoint(eager=False)
    new_buckets = kept_keys.select(
        F.explode("__buckets").alias("b")
    ).select("b.band_id", "b.band_hash").distinct()
    kept_docs = docs.join(kept_keys.select(id_col), id_col, "left_semi")
    return kept_docs, new_buckets


def _read_claimed(
    spark: SparkSession, claimed_dir: str, before_batch: int
) -> DataFrame | None:
    """Claimed buckets from all batches strictly before ``before_batch``
    (a replayed batch must not see its own previous half-written claims).
    Returns None only when no claimed table exists yet (first batch);
    any other read failure propagates — silently treating a broken
    state table as empty history would admit duplicates."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(claimed_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    return (
        spark.read.schema(_CLAIMED_SCHEMA)
        .parquet(claimed_dir)
        .filter(F.col("batch_id").cast("bigint") < before_batch)
        .select("band_id", "band_hash")
    )


def make_batch_fn(
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
):
    """The per-micro-batch admission callback, exposed standalone so
    instrumentation (BASELINE.md, "Streaming MinHash intake probe")
    wraps and times the REAL production path instead of
    re-implementing it."""
    claimed_dir = f"{work_dir}/claimed"
    kept_dir = f"{work_dir}/kept"

    def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        claimed = _read_claimed(spark, claimed_dir, batch_id)
        kept, new_buckets = lsh_admit(
            batch_df, claimed, text_col, id_col, num_hashes, bands
        )
        new_buckets.write.mode("overwrite").parquet(
            f"{claimed_dir}/batch_id={batch_id}"
        )
        kept.write.mode("overwrite").parquet(f"{kept_dir}/batch_id={batch_id}")

    return batch_fn


def streaming_minhash_dedup(
    stream_df: DataFrame,
    work_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous near-dup intake: admit each arriving doc iff it shares
    no LSH bucket with anything admitted before it.

    Layout under ``work_dir``: ``claimed/batch_id=N/`` (admission
    state), ``kept/batch_id=N/`` (admitted docs), ``ckpt/`` (stream
    checkpoint). Both data writes are per-batch overwrites keyed by the
    micro-batch epoch, making the callback idempotent under replay.
    """
    batch_fn = make_batch_fn(work_dir, text_col, id_col, num_hashes, bands)
    return run_incremental(
        stream_df, batch_fn, f"{work_dir}/ckpt", available_now=available_now
    )


def compact_claimed(
    spark: SparkSession, work_dir: str, upto_batch: int
) -> tuple[int, int]:
    """Offline maintenance: merge ``claimed/batch_id=<upto_batch`` into
    ONE distinct partition (named ``batch_id=<upto_batch - 1>`` so every
    later batch's ``batch_id < N`` history read still covers it). This
    is the documented scale lever for long-running intakes: thousands of
    tiny per-batch claim files become one compact table, and the
    per-batch history scan stops paying per-file open costs.

    MUST run while the stream is stopped, with ``upto_batch`` = last
    committed batch + 1: a replayed batch overwrites its own
    ``batch_id=N`` directory, so compacting batches the checkpoint has
    not sealed would let a replay wipe merged history.

    Promote protocol (Hadoop ``rename`` returns False on failure — every
    step is checked, and the previous state is kept as a hidden ``.bak``
    until the swap lands, per the versioning/compaction modules):
    write merged to a temp outside the claimed dir -> back up the target
    partition -> promote temp -> only then delete the merged-away batch
    dirs and the backup. A crash mid-swap leaves the hidden ``.bak`` on
    disk (invisible to Spark readers); the next ``compact_claimed`` call
    auto-recovers it at entry — restoring it as the target partition if
    the promote never landed, deleting it if it did — so recovery needs
    no manual step, only re-running compaction before the stream
    resumes.

    Returns (rows_before, rows_after) — after = distinct buckets.
    """
    claimed_dir = f"{work_dir}/claimed"
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(claimed_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath(claimed_dir)):
        return 0, 0
    # recover any orphaned backup from a crashed earlier compaction
    # BEFORE reading history: if its target partition is missing (died
    # between the two renames), the backup IS the state — restore it;
    # if the target exists (died after promote), the backup is stale
    for st in fs.listStatus(hpath(claimed_dir)):
        name = st.getPath().getName()
        if not name.startswith(".compact_bak_"):
            continue
        orphan_target = hpath(
            f"{claimed_dir}/batch_id={name[len('.compact_bak_'):]}"
        )
        if not fs.exists(orphan_target):
            if not fs.rename(st.getPath(), orphan_target):
                raise IOError(
                    f"compact_claimed: could not restore orphaned "
                    f"backup {name}"
                )
        else:
            fs.delete(st.getPath(), True)
    hist = (
        spark.read.schema(_CLAIMED_SCHEMA)
        .parquet(claimed_dir)
        .filter(F.col("batch_id").cast("bigint") < upto_batch)
        .select("band_id", "band_hash")
    )
    before = hist.count()
    # size the output to ~ROWS_PER_COMPACT_FILE rows per file: the point
    # of compaction is collapsing thousands of tiny per-batch files, so
    # writing back 32-ways would defeat it. repartition, NOT coalesce —
    # coalesce would propagate into the distinct's shuffle read and
    # serialize the whole history dedup through n_files tasks (OOM-prone
    # exactly at the history sizes compaction exists for); the extra
    # shuffle moves only already-deduped rows
    n_files = max(1, -(-before // _ROWS_PER_COMPACT_FILE))
    merged = hist.distinct().repartition(n_files)

    counted = {}

    def _write(tmp_path: str) -> None:
        merged.write.mode("overwrite").parquet(tmp_path)
        counted["after"] = spark.read.parquet(tmp_path).count()

    # checked-rename swap via the shared helper: old partition survives
    # as backup until the compacted one is promoted (the orphan-backup
    # prologue above handles crashed runs with OTHER upto_batch names)
    promote_swap(
        spark,
        f"{claimed_dir}/batch_id={upto_batch - 1}",
        _write,
        tmp=f"{work_dir}/.claimed_compact_tmp",
        backup=f"{claimed_dir}/.compact_bak_{upto_batch - 1}",
    )
    # swap landed: drop the merged-away per-batch dirs
    for st in fs.listStatus(hpath(claimed_dir)):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            try:
                bid = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if bid < upto_batch - 1:
                fs.delete(st.getPath(), True)
    return before, counted["after"]
