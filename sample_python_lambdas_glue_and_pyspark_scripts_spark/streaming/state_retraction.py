"""Retraction over STREAMING intake state — right-to-be-forgotten for
the per-epoch state dirs (the batch serving artifacts live in
``operators/retraction.py``).

Every state family retracts; three retraction stories cover them all
(exact anti-join for keyed rows, epoch rebuild for derived/keyless
rows, replay-as-maintenance for irreversible registers):

- **prefix-intake state** (``streaming/prefix_intake.py``: ``prefix/``,
  ``shingles/``, ``kept/``) is ID-KEYED — every state row carries the
  doc_id it derives from — so retraction is an EXACT per-epoch
  anti-join: the rewritten state is bit-identical to the state a
  history without the retracted docs would have written (pinned by
  test).
- **MinHash claimed buckets** (``streaming/minhash_dedup.py``:
  ``claimed/`` is ``(band_id, band_hash)`` with NO doc id) cannot be
  anti-joined; they are REBUILT per epoch from that epoch's surviving
  ``kept/`` docs with the same (num_hashes, bands) — the band keys are
  per-row deterministic given the hash family, so the rebuild equals
  the state of a history over the surviving docs (the extend-≡-rebuild
  convention, run backwards).
- **HLL / CMS / Bloom registers** (``streaming/sketch_state.py``) are
  MATHEMATICALLY IRREVERSIBLE: a register cell is a lossy fold (max /
  sum / or) of every input, so no operator can subtract one key — the
  only compliant retraction is an EPOCH REBUILD from surviving source
  rows, which the per-epoch layout makes cheap:
  :func:`rebuild_sketch_epoch` overwrites one epoch's registers from a
  caller-supplied surviving slice (the existing ``make_*_batch_fn``
  idempotent-overwrite contract, invoked as maintenance).
- **EWMA per-key state** (``streaming/ewma_state.py``: ``ewma/`` delta
  snapshots of ``(key, s, n_points)``) is KEY-KEYED — retraction is the
  prefix story at key granularity: anti-join every epoch, so the key's
  whole history is forgotten and a future batch for that key folds
  from scratch (:func:`retract_from_ewma_state`).
- **ExactSubstr anchors** (``streaming/exactsubstr_intake.py``:
  ``anchors/`` distinct gram key pairs with NO doc ids — history holds the
  first occurrence by construction) follow the sketch story:
  ``kept/`` is id-keyed (exact anti-join); each HIT epoch's anchor set
  is REBUILT from that epoch's surviving ORIGINAL source docs, which
  the caller supplies from the source-of-record (the state stores
  rewritten text only, and anchors accumulate grams of the original
  text of everything SEEN — :func:`retract_from_exactsubstr_state`).
- **bottom-k value samples** (``streaming/sketch_state.py``:
  ``bottomk_values/`` (h, key, val) rows) are KEY-KEYED with a bonus:
  the per-epoch anti-join leaves exactly the bottom-(k−r) sample of the
  epoch's survivors (excluded survivors hash above the epoch's k-th
  hash by construction), so the shrunken state is still a valid uniform
  sample; ``epoch_sources`` rebuilds hit epochs to the full k
  (:func:`retract_from_bottomk_values_state`).
- **annotation votes** (``streaming/sketch_state.py``: ``votes/``
  per-epoch DISTINCT (item, annotator, label) rows) are DOUBLY keyed —
  every row carries both the item AND the annotator it derives from —
  so retraction is an exact per-epoch anti-join in EITHER key space
  (annotator opt-out is the realistic GDPR case for preference data;
  item takedown follows a retracted document). The vote log is a
  distinct-row set, so the rewritten state is bit-equal to the state a
  history without those votes would have written, and consensus/kappa
  reads over it equal the batch operators on the surviving votes
  (:func:`retract_from_votes_state`, pinned by test).
- **k-anonymity class counts** (``streaming/sketch_state.py``:
  ``classes/`` per-epoch SUM-merged counts over the quasi-identifier
  tuple) are an abelian fold — the ONE family where retraction needs
  no epoch rewrite at all: the deleted rows' class counts append as a
  NEGATIVE-COUNT epoch under the state's own ``retractions/`` counter
  and the sum-merged census equals a history without those rows
  (:func:`retract_from_kanon_state`, over-retraction guarded).
- **connected-components labels** (``streaming/cc_state.py``:
  ``cc_edges/`` deltas + ``cc_labels/`` per-epoch snapshots) are a
  DERIVED chain: retracted vertex ids anti-join out of every hit edge
  epoch, then label snapshots rebuild FORWARD from the earliest hit —
  removing a bridge vertex splits components, and extend can only
  merge, so downstream snapshots must be re-derived
  (:func:`retract_from_cc_state`).

Retraction does NOT re-adjudicate history: a doc that was dropped
because it collided with a now-retracted doc stays dropped (its content
was never admitted and holds no retained data). What retraction
guarantees is (a) no state row derives from a retracted doc, and (b) a
FUTURE doc identical to a retracted one is admitted as if the retracted
doc had never existed (pinned by test).

Operational contract (shared with ``compact_claimed``): run while the
stream is STOPPED. Every directory replacement uses the checked-rename
promote protocol (``sources/promote.py``) with dot-prefixed tmp/backup
names so a crash mid-swap never loses an epoch and never leaves a
directory Spark's partition discovery would misread; orphaned backups
recover at entry on the next call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import band_keys, minhash_signature
from ..operators.retraction import _ids_df
from ..sources.promote import hadoop_fs, promote_swap, recover_backup

_BAK_PREFIX = ".retract_bak_"
_TMP_PREFIX = ".retract_tmp_"


def list_state_epochs(spark: SparkSession, table_dir: str) -> list[int]:
    """Epoch numbers present under ``table_dir`` (``batch_id=N`` dirs),
    after recovering any orphaned mid-retraction backups (a leftover
    ``.retract_bak_N`` with no live ``batch_id=N`` IS that epoch —
    restore it before anything reads the table)."""
    fs, hpath = hadoop_fs(spark, table_dir)
    if not fs.exists(hpath(table_dir)):
        return []
    epochs = []
    for st in fs.listStatus(hpath(table_dir)):
        name = st.getPath().getName()
        if name.startswith(_BAK_PREFIX):
            recover_backup(
                spark,
                f"{table_dir}/batch_id={name[len(_BAK_PREFIX):]}",
                f"{table_dir}/{name}",
            )
            name = f"batch_id={name[len(_BAK_PREFIX):]}"
        if name.startswith("batch_id="):
            try:
                epochs.append(int(name[len("batch_id="):]))
            except ValueError:
                continue
    return sorted(set(epochs))


def _rewrite_epoch(
    spark: SparkSession, table_dir: str, epoch: int, new_df: DataFrame
) -> None:
    """Replace ``table_dir/batch_id=epoch`` with ``new_df`` under the
    checked-rename promote (dot-prefixed tmp/backup: partition
    discovery must never see a half-state name like
    ``batch_id=5__new``)."""
    target = f"{table_dir}/batch_id={epoch}"

    def _write(tmp_path: str) -> None:
        new_df.write.mode("overwrite").parquet(tmp_path)

    promote_swap(
        spark,
        target,
        _write,
        tmp=f"{table_dir}/{_TMP_PREFIX}{epoch}",
        backup=f"{table_dir}/{_BAK_PREFIX}{epoch}",
    )


def retract_from_prefix_state(
    spark: SparkSession,
    work_dir: str,
    retract_ids: DataFrame,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Exact retraction from the prefix-intake state: anti-join every
    epoch of the id-keyed ``prefix/``, ``shingles/`` and ``kept/``
    tables. Stream must be stopped. Returns per-table removed-row
    counts. The rewritten state equals the state a history without the
    retracted docs would have written (the tables are per-row
    deterministic in doc_id under the FIXED dfreq order, which is a fit
    artifact and is not touched)."""
    ids = _ids_df(retract_ids, id_col).localCheckpoint(eager=True)
    removed: dict[str, int] = {}
    for table in ("prefix", "shingles", "kept"):
        table_dir = f"{work_dir}/{table}"
        n_removed = 0
        for epoch in list_state_epochs(spark, table_dir):
            cur = spark.read.parquet(f"{table_dir}/batch_id={epoch}")
            hit = cur.join(ids, id_col, "left_semi").count()
            if hit == 0:
                continue
            n_removed += hit
            _rewrite_epoch(
                spark, table_dir, epoch, cur.join(ids, id_col, "left_anti")
            )
        removed[table] = n_removed
    return removed


def retract_from_minhash_state(
    spark: SparkSession,
    work_dir: str,
    retract_ids: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
) -> dict[str, int]:
    """Epoch-rebuild retraction from the MinHash intake state: the
    ``kept/`` docs are id-keyed (exact anti-join); the ``claimed/``
    buckets are not, so every claimed epoch COVERING a kept epoch that
    lost a doc gets its bucket set RECOMPUTED from the covered range's
    surviving kept docs with the same hash family — deterministic, so
    the result equals the buckets a history over the surviving docs
    would have claimed (pinned by test). Untouched epochs are never
    rewritten. Must use the SAME (num_hashes, bands) the stream ran
    with. Stream must be stopped.

    Coverage rule: ``compact_claimed`` merges ``claimed/batch_id<M``
    dirs into ONE partition named ``batch_id=M-1``, so after any number
    of compactions each claimed epoch M holds the buckets of the kept
    epochs in ``(previous claimed epoch, M]`` — exactly the ranges this
    walks. (Rebuilding only the hit kept-epoch's own claimed dir would
    silently leave a retracted doc's buckets inside a merged
    partition.)"""
    ids = _ids_df(retract_ids, id_col).localCheckpoint(eager=True)
    kept_dir, claimed_dir = f"{work_dir}/kept", f"{work_dir}/claimed"
    removed = {"kept": 0, "claimed_rebuilt_epochs": 0}
    claimed_epochs = sorted(list_state_epochs(spark, claimed_dir))
    kept_epochs = sorted(list_state_epochs(spark, kept_dir))

    hit_epochs: set[int] = set()
    survivors: dict[int, DataFrame] = {}
    for epoch in kept_epochs:
        cur = spark.read.parquet(f"{kept_dir}/batch_id={epoch}")
        hit = cur.join(ids, id_col, "left_semi").count()
        if hit == 0:
            continue
        removed["kept"] += hit
        hit_epochs.add(epoch)
        surviving = cur.join(ids, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        survivors[epoch] = surviving
        _rewrite_epoch(spark, kept_dir, epoch, surviving)

    prev = None
    for cl_epoch in claimed_epochs:
        covered = [
            e for e in kept_epochs
            if (prev is None or e > prev) and e <= cl_epoch
        ]
        prev = cl_epoch
        if not any(e in hit_epochs for e in covered):
            continue
        union = None
        for e in covered:
            part = survivors.get(e) or spark.read.parquet(
                f"{kept_dir}/batch_id={e}"
            )
            union = part if union is None else union.unionByName(
                part, allowMissingColumns=True
            )
        sigs = minhash_signature(union, text_col, id_col, num_hashes)
        buckets = (
            band_keys(sigs, id_col, bands, num_hashes // bands)
            .select("band_id", "band_hash")
            .distinct()
        )
        _rewrite_epoch(spark, claimed_dir, cl_epoch, buckets)
        removed["claimed_rebuilt_epochs"] += 1
    return removed


def retract_from_ewma_state(
    spark: SparkSession,
    work_dir: str,
    retract_keys: DataFrame,
    key_col: str,
) -> dict[str, int]:
    """Exact key-level retraction from the streaming EWMA state: every
    ``ewma/batch_id=N`` delta snapshot is anti-joined on ``key_col``,
    forgetting the key's whole folded history (the per-key state rows
    are independent across keys, so the rewritten state is bit-equal to
    the state a history without that key's rows would have written —
    pinned by test). A future batch carrying the key finds no prior and
    folds from scratch. Works identically on compacted state
    (``compact_ewma_state`` partitions are just bigger epochs). Stream
    must be stopped. Returns the removed-row count."""
    ids = _ids_df(retract_keys, key_col).localCheckpoint(eager=True)
    table_dir = f"{work_dir}/ewma"
    n_removed = 0
    for epoch in list_state_epochs(spark, table_dir):
        cur = spark.read.parquet(f"{table_dir}/batch_id={epoch}")
        hit = cur.join(ids, key_col, "left_semi").count()
        if hit == 0:
            continue
        n_removed += hit
        _rewrite_epoch(
            spark, table_dir, epoch, cur.join(ids, key_col, "left_anti")
        )
    return {"ewma": n_removed}


def retract_from_votes_state(
    spark: SparkSession,
    work_dir: str,
    retract_keys: DataFrame,
    key_col: str = "annotator",
) -> dict[str, int]:
    """Exact retraction from the streaming annotation-vote state
    (``votes/`` per-epoch DISTINCT (item, annotator, label) rows —
    ``streaming/sketch_state.streaming_votes``): anti-join every epoch
    on ``key_col`` — ``"annotator"`` for the realistic case (an
    annotator opts out and their ratings must leave the preference
    data) or ``"item"`` (the labeled document itself was taken down).

    Exact by construction: the state is the distinct vote LOG, every
    row carries both keys, so the rewritten state is bit-equal to the
    state a history without the retracted annotator's (or item's)
    votes would have written — and the derived reads
    (``read_consensus_state`` / ``read_agreement_state``) then equal
    the batch ``consensus_labels`` / ``fleiss_kappa_report`` over the
    surviving votes (both pinned by test). A future vote from a
    retracted annotator finds no prior and is admitted as if the
    annotator were new (the module's non-re-adjudication contract:
    consensus flips caused by the removed votes are recomputed at read
    time, because consensus is DERIVED per read, never persisted).

    Stream must be stopped. Returns the removed-row count."""
    if key_col not in ("item", "annotator"):
        raise ValueError(
            f"retract_from_votes_state: key_col must be 'item' or "
            f"'annotator', got {key_col!r}"
        )
    ids = (
        _ids_df(retract_keys, key_col)
        .select(F.col(key_col).cast("bigint").alias(key_col))
        .distinct()
        .localCheckpoint(eager=True)
    )
    table_dir = f"{work_dir}/votes"
    n_removed = 0
    for epoch in list_state_epochs(spark, table_dir):
        cur = spark.read.parquet(f"{table_dir}/batch_id={epoch}")
        hit = cur.join(ids, key_col, "left_semi").count()
        if hit == 0:
            continue
        n_removed += hit
        # keyed anti-joins move the join key to the FRONT of the
        # column order (the r9 note) — restore the state schema
        surv = cur.join(ids, key_col, "left_anti").select(*cur.columns)
        _rewrite_epoch(spark, table_dir, epoch, surv)
    return {"votes": n_removed}


def retract_from_exactsubstr_state(
    spark: SparkSession,
    work_dir: str,
    retract_ids: DataFrame,
    epoch_sources,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> dict[str, int]:
    """Retraction from the streaming ExactSubstr intake state:
    ``kept/`` is id-keyed (exact per-epoch anti-join); ``anchors/`` is
    a distinct gram-key SET with no doc ids, so each epoch whose
    ``kept/`` lost a doc gets its anchor set REBUILT from that epoch's
    surviving ORIGINAL source docs — anchors are per-epoch
    deterministic in the batch's original text, so the rebuilt set
    equals what a history without the retracted docs would have written
    (pinned by test), and a future doc identical to a retracted one is
    admitted unrewritten.

    ``epoch_sources`` supplies the ORIGINAL docs of each epoch (the
    state stores rewritten text only): a ``dict[int, DataFrame]`` or a
    ``callable(epoch) -> DataFrame`` backed by the caller's
    source-of-record; retracted ids are filtered here. Must use the
    SAME ``min_tokens`` the stream ran with. Stream must be stopped.

    Non-re-adjudication (module contract): other docs' kept rows keep
    their rewritten text — ranges removed because of a now-retracted
    first occurrence STAY removed, which retains none of the retracted
    doc's content (the ranges are absent, not present)."""
    from ..operators.dedup import _exactsubstr_sites
    from ..operators.util import ensure_parallelism

    ids = _ids_df(retract_ids, id_col).localCheckpoint(eager=True)
    kept_dir = f"{work_dir}/kept"
    anchors_dir = f"{work_dir}/anchors"
    removed = {"kept": 0, "anchor_rebuilt_epochs": 0}
    hit_epochs: set[int] = set()
    for epoch in list_state_epochs(spark, kept_dir):
        cur = spark.read.parquet(f"{kept_dir}/batch_id={epoch}")
        hit = cur.join(ids, id_col, "left_semi").count()
        if hit == 0:
            continue
        removed["kept"] += hit
        hit_epochs.add(epoch)
        _rewrite_epoch(
            spark, kept_dir, epoch, cur.join(ids, id_col, "left_anti")
        )
    source_of = (
        epoch_sources if callable(epoch_sources) else epoch_sources.get
    )
    for epoch in list_state_epochs(spark, anchors_dir):
        if epoch not in hit_epochs:
            continue
        src = source_of(epoch)
        if src is None:
            raise ValueError(
                f"retract_from_exactsubstr_state: epoch {epoch} lost a "
                f"doc but epoch_sources has no original docs for it — "
                f"the anchor set cannot be rebuilt compliantly"
            )
        surviving = src.join(ids, id_col, "left_anti")
        anchors = (
            _exactsubstr_sites(
                ensure_parallelism(surviving), text_col, id_col,
                int(min_tokens),
            )
            .select("g1", "g2")
            .distinct()
        )
        _rewrite_epoch(spark, anchors_dir, epoch, anchors)
        removed["anchor_rebuilt_epochs"] += 1
    return removed


def rebuild_sketch_epoch(
    spark: SparkSession,
    batch_fn,
    surviving_df: DataFrame,
    epoch: int,
) -> None:
    """Epoch-rebuild retraction for the IRREVERSIBLE register states
    (HLL max-fold, CMS sum-fold, Bloom or-fold): no operator can
    subtract a key from a register, so the caller supplies the epoch's
    SURVIVING source rows and the state's own idempotent per-epoch
    callback (``make_hll_batch_fn`` / ``make_cms_batch_fn`` /
    ``make_bloom_batch_fn``) overwrites that epoch's dir — exactly the
    replay path, invoked as maintenance. Stream must be stopped.

    This is deliberately thin: the register layout already makes a
    replayed epoch overwrite only its own dir, so retraction IS a
    replay with the retracted rows filtered out. What this function
    adds is the documented contract — there is no cheaper compliant
    path for lossy-fold sketches."""
    batch_fn(surviving_df, epoch)


def retract_from_bottomk_values_state(
    spark: SparkSession,
    work_dir: str,
    retract_keys: DataFrame,
    epoch_sources: dict[int, DataFrame] | None = None,
    key_col: str = "key",
    val_col: str = "val",
    k: int = 64,
) -> dict[str, int]:
    """Retraction from the streaming bottom-k VALUE sample
    (``bottomk_values/`` per-epoch dirs). The state is KEY-KEYED, so
    the cheap path is an exact per-epoch anti-join on the sample's
    ``key`` column — and unlike most sub-sampled states the shrunken
    result keeps a PROVABLE shape: an epoch held its batch's k
    hash-smallest rows, every excluded survivor hashes ABOVE the
    epoch's k-th hash, so after removing r retracted rows the remainder
    is exactly the bottom-(k−r) sample of that epoch's SURVIVORS
    (pinned by test). Quantiles served from the shrunken state are
    therefore still read off a valid uniform sample — just a smaller
    one.

    To restore the full k per hit epoch, pass ``epoch_sources``
    ({epoch: surviving source rows with the ORIGINAL key/val columns})
    and the hit epochs are REBUILT with ``bottomk_value_sample`` — the
    extend-≡-rebuild convention run backwards; the rewritten state then
    equals the state of a history without the retracted keys exactly.

    Stream must be stopped. Returns removed/rebuilt counts.
    """
    from ..operators.sketches import bottomk_value_sample

    # Retract-id column gets a collision-free name: the rebuild path
    # joins epoch_sources on key_col, and with the DEFAULT key_col
    # ('key') an ids column also named 'key' made the join condition
    # AMBIGUOUS_REFERENCE on Spark 4 — raised mid-loop, leaving a
    # PARTIAL retraction behind (round-11 advice fix, test-pinned with
    # key_col='key').
    ids = (
        retract_keys.select(
            F.col(retract_keys.columns[0]).cast("string").alias("__rk")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    table_dir = f"{work_dir}/bottomk_values"
    removed = {"rows_removed": 0, "epochs_rebuilt": 0}
    for epoch in list_state_epochs(spark, table_dir):
        cur = spark.read.parquet(f"{table_dir}/batch_id={epoch}")
        hit = cur.join(
            ids, F.col("key") == F.col("__rk"), "left_semi"
        ).count()
        if hit == 0:
            continue
        removed["rows_removed"] += hit
        if epoch_sources is not None and epoch in epoch_sources:
            src = epoch_sources[epoch].join(
                ids,
                F.col(key_col).cast("string") == F.col("__rk"),
                "left_anti",
            )
            fresh = bottomk_value_sample(src, key_col, val_col, k)
            _rewrite_epoch(spark, table_dir, epoch, fresh)
            removed["epochs_rebuilt"] += 1
        else:
            # keyed anti-joins move the join key to the FRONT of the
            # column order (the r9 note) — restore the state schema
            surv = cur.join(
                ids, F.col("key") == F.col("__rk"), "left_anti"
            ).select(*cur.columns)
            _rewrite_epoch(spark, table_dir, epoch, surv)
    return removed


def retract_from_cc_state(
    spark: SparkSession,
    work_dir: str,
    retract_ids: DataFrame,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Retraction from the streaming connected-components state
    (``cc_edges/`` + ``cc_labels/`` per-epoch dirs, streaming/cc_state):
    the retracted VERTEX ids' edges are anti-joined out of every hit
    edge epoch, then the label snapshots are REBUILT FORWARD from the
    earliest hit epoch — forward rebuild is mandatory, not an
    anti-join on the label rows: removing a bridge vertex SPLITS the
    component it merged, and ``extend_components`` can only merge, so
    snapshots downstream of the hit must be re-derived from the
    retracted deltas. The rewritten state equals the state of a history
    that never saw the retracted ids (pinned by test); untouched
    prefixes of the epoch chain are never rewritten.

    Stream must be stopped. Returns edges-removed / epochs-rebuilt
    counts."""
    from ..operators.clustering import extend_components
    from .cc_state import _CC_EDGES_SCHEMA, _empty_labels, _labels_at

    ids = (
        retract_ids.select(
            F.col(retract_ids.columns[0]).cast("bigint").alias("__rid")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges_dir = f"{work_dir}/cc_edges"
    labels_dir = f"{work_dir}/cc_labels"
    out = {"edges_removed": 0, "label_epochs_rebuilt": 0}
    epochs = list_state_epochs(spark, edges_dir)
    first_hit: int | None = None
    for epoch in epochs:
        cur = spark.read.schema(_CC_EDGES_SCHEMA).parquet(
            f"{edges_dir}/batch_id={epoch}"
        )
        hit_cond = (F.col("a") == F.col("__rid")) | (F.col("b") == F.col("__rid"))
        hits = cur.join(ids, hit_cond, "left_semi").count()
        if hits == 0:
            continue
        out["edges_removed"] += hits
        surv = cur.join(ids, hit_cond, "left_anti").select("a", "b")
        _rewrite_epoch(spark, edges_dir, epoch, surv)
        if first_hit is None:
            first_hit = epoch
    if first_hit is None:
        return out
    # forward rebuild of the derived label snapshots from the earliest
    # hit epoch (earlier snapshots cannot contain the ids: labels only
    # ever come from edges)
    prior = [e for e in list_state_epochs(spark, labels_dir) if e < first_hit]
    prev = _labels_at(spark, work_dir, max(prior)) if prior else _empty_labels(spark)
    for epoch in [e for e in epochs if e >= first_hit]:
        delta = spark.read.schema(_CC_EDGES_SCHEMA).parquet(
            f"{edges_dir}/batch_id={epoch}"
        )
        labels = extend_components(prev, delta, src="a", dst="b").localCheckpoint(
            eager=True
        )
        _rewrite_epoch(spark, labels_dir, epoch, labels)
        out["label_epochs_rebuilt"] += 1
        prev = labels
    return out


def retract_from_kanon_state(
    spark: SparkSession,
    work_dir: str,
    retract_rows: DataFrame,
    qi_cols: list[str],
) -> dict[str, int]:
    """Exact retraction from the streaming k-anonymity census state
    (``sketch_state.streaming_kanon``): the deleted rows' class counts
    are appended as a NEGATIVE-COUNT epoch under the state's own
    ``retractions/`` counter, so the SUM-merged reads equal the census
    a history without those rows would have produced (counts are
    abelian — this is the one state family where retraction needs no
    rewrite of existing epochs at all; the class-count fold loses the
    rows but keeps exactly the statistic being served).

    ``retract_rows`` carries the deleted rows' quasi-identifier VALUES
    (the deletion request knows them — it is deleting the rows).
    Over-retraction guard: every retracted class must have net count
    >= its retraction in the CURRENT state, else ValueError and
    nothing is written (a silently-negative class would poison every
    later census). NOT idempotent by design — each call is a new
    deletion event; calling twice with the same rows retracts twice
    (and the guard catches it when the counts run out). Stream must be
    stopped. Returns ``{"classes_decremented": ..., "rows_retracted":
    ...}``."""
    from .sketch_state import _KANON_CNT, read_kanon_state

    if not qi_cols:
        raise ValueError("qi_cols must name at least one column")
    dec = (
        retract_rows.groupBy(*qi_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("__dec"))
        .localCheckpoint(eager=True)
    )
    state = read_kanon_state(spark, work_dir, qi_cols)
    if state is None:
        raise ValueError(
            "retract_from_kanon_state: no committed state to retract "
            "from"
        )
    cond = None
    for c in qi_cols:
        piece = F.col(f"__s.{c}").eqNullSafe(F.col(f"__d.{c}"))
        cond = piece if cond is None else cond & piece
    short = (
        dec.alias("__d")
        .join(state.alias("__s"), cond, "left")
        .filter(
            F.coalesce(F.col(f"__s.{_KANON_CNT}"), F.lit(0))
            < F.col("__d.__dec")
        )
        .limit(1)
        .count()
    )
    if short > 0:
        raise ValueError(
            "retract_from_kanon_state: retraction exceeds the net "
            "count of at least one class (rows retracted that were "
            "never ingested, or the same deletion submitted twice); "
            "nothing was written"
        )
    epochs = list_state_epochs(spark, f"{work_dir}/retractions")
    nxt = (max(epochs) + 1) if epochs else 0
    neg = dec.select(
        *qi_cols, (-F.col("__dec")).cast("bigint").alias(_KANON_CNT)
    )
    promote_swap(
        spark,
        f"{work_dir}/retractions/batch_id={nxt}",
        lambda tmp: neg.write.mode("overwrite").parquet(tmp),
        tmp=f"{work_dir}/{_TMP_PREFIX}kanon_{nxt}",
        backup=f"{work_dir}/{_BAK_PREFIX}kanon_{nxt}",
    )
    stats = dec.agg(
        F.count(F.lit(1)).alias("k"), F.sum("__dec").alias("r")
    ).collect()[0]
    return {
        "classes_decremented": int(stats["k"] or 0),
        "rows_retracted": int(stats["r"] or 0),
    }
