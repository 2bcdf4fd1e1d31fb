"""Deduplication operators for large-scale training-data pipelines
(SURVEY.md §7.1 M6): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the 100 TB story):
- **exact**: hash-groupBy on a normalized fingerprint — one shuffle keyed
  on a 128-bit hash, near-perfectly balanced.
- **MinHash+LSH**: per-doc signatures are map-side only; candidate
  generation joins docs on (band_id, band_hash) buckets — the join key
  is the bucket, so cost is sum of bucket sizes squared, NOT n². Exact
  Jaccard verification runs only on candidates.
- **SimHash**: per-doc 32-bit signature map-side; near-dup pairs by
  banding the signature (bucket join), hamming verify on candidates.
- **n-gram Jaccard**: the exact (quadratic-within-bucket) baseline used
  to validate the sketches; joins on shared shingle, so common shingles
  dominate cost — at scale, drop top-frequency shingles (documented knob).

Hashing is md5-based (seed-prefix trick: ``H(seed || value)``) so every
operator is deterministic and DuckDB-oracle-checkable: no engine-specific
murmur/xxhash, no modular-arithmetic overflow concerns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import WORD_REGEX, fingerprint
from .util import ensure_parallelism, guard_quadratic

# 2^60 range: 15 hex chars of md5 → non-negative bigint, identical in
# DuckDB via ('0x' || substr(md5(s),1,15))::bigint
def hash60(col: Column, seed: str = "") -> Column:
    c = F.concat(F.lit(seed), col) if seed else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# 120-bit key from ONE md5 (hex chars 1-15 and 16-30 → two bigints,
# kept as TWO FLAT COLUMNS g1/g2): the anchor key for operators whose
# groupBy-count treats a key collision as a duplicate with NO
# downstream verify (ExactSubstr, span surgery). 60 bits is too narrow
# at 100 TB (~2e13 stride-1 anchors → birthday ≈ 1e8 colliding pairs →
# silent false removals); at 120 bits the same corpus gives ≈ 1.5e-10
# expected colliding pairs. Flat columns, NOT a struct: grouping on a
# struct key knocks Spark's hash aggregate off the fixed-width
# fast-hashmap path (measured 1.6× on the 64× exactsubstr sweep);
# two bigint grouping columns keep it. DuckDB mirror: group/join on
# substr(md5(s), 1, 30) — the hex chunks biject onto (g1, g2), so the
# string key groups identically.
_G_KEY = ["g1", "g2"]


def _hash120_cols(md5_hex: Column) -> list[Column]:
    return [
        F.conv(F.substring(md5_hex, 1, 15), 16, 10).cast("bigint").alias("g1"),
        F.conv(F.substring(md5_hex, 16, 15), 16, 10).cast("bigint").alias("g2"),
    ]


# 2^30 range base hash for the MinHash family: md5 runs ONCE per shingle;
# the k hash functions are affine transforms (a*h+b mod p). 30-bit inputs
# and 30-bit coefficients keep a*h+b < 2^61 — no int64 overflow in Spark
# (ANSI) or DuckDB, so the oracle reproduces it exactly.
MINHASH_PRIME = 2147483647  # 2^31 - 1

def _materialize_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    rows_per_band: int,
    max_bucket_size: int | None,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The MinHash-LSH candidate stage: ``(signatures, candidate
    pairs)``, each behind a lazy ``localCheckpoint``.

    The band self-join reads the signatures on both sides, the verify
    stage reads the candidates up to three times, and the estimate
    report joins the signatures twice more; Catalyst has no exchange
    reuse across those shapes. A lazy checkpoint makes every reference
    share one RDD whose blocks the first job to need them computes.
    Nothing is persisted, so nothing needs releasing on success or on
    error; the blocks are GC-cleaned with the frames. Under adaptive
    execution, building the checkpoints runs the shuffle stages beneath
    them (signature repartition, band self-join, candidate distinct);
    the rest runs with the query that reads them."""
    sigs = minhash_signature(
        df, text_col, id_col, num_hashes, shingle_n
    ).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(
        sigs, id_col, bands, rows_per_band, max_bucket_size
    ).localCheckpoint(eager=False)
    return sigs, cands


def hash30(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint") % F.lit(
        2**30
    )


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs (Knuth multiplicative constants)."""
    return [
        (((2 * j + 1) * 2654435761) % (2**30) | 1, (j * 40503 + 11) % (2**30))
        for j in range(num_hashes)
    ]


def word_shingles(text_col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of lowercased text (empty-safe:
    docs shorter than n words yield their full token string)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.regexp_extract_all(F.lower(c), F.lit(WORD_REGEX), 0)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


# --- exact dedup -------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) docs: fingerprint → keeper + count.

    One shuffle on the fingerprint; output has one row per distinct text.
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical normalized text."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# --- MinHash + LSH -----------------------------------------------------------


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: sig[j] = min over shingles of
    H('mh<j>|' || shingle). Map-side only (no shuffle).

    Returns (id_col, sig array<bigint>). Deterministic across engines.
    """
    df = ensure_parallelism(df)
    # materialize the 30-bit shingle hashes ONCE in their own projection;
    # the k affine transforms then reuse the array. (Inlining the hash
    # expression into each transform re-evaluates shingling+md5 k times —
    # Catalyst does not CSE across nested higher-order functions.)
    hashed_df = df.select(
        F.col(id_col),
        F.transform(word_shingles(text_col, shingle_n), hash30).alias("__h"),
    )

    def affine(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("__h"), affine(a, b)))
            for a, b in minhash_coefficients(num_hashes)
        ]
    )
    return hashed_df.select(F.col(id_col), sig.alias("sig"))


def band_keys(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Explode signatures into LSH band keys: one (id_col, band_id,
    band_hash) row per band per doc. Map-side only — the shared bucket
    vocabulary for candidate joins and for streaming admission state."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
    banding: tuple[int, int] | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Explodes each signature into ``bands`` (band_id, band_hash) keys and
    self-joins on the bucket — the quadratic blow-up is confined to
    within-bucket, which is the entire point of LSH at scale.
    Output: (a, b) with a < b, distinct.

    ``max_bucket_size`` is the 100 TB hot-bucket lever: a bucket of
    boilerplate docs (empty bodies, templated headers) is still quadratic
    WITHIN the bucket — one 10M-doc bucket is 5*10^13 pairs and sinks the
    job regardless of how well every other bucket behaves. With the cap
    set, each (band_id, band_hash) bucket keeps only its ``max_bucket_size``
    lowest-id members (deterministic → rerun-stable), bounding per-bucket
    join cost at cap². The trade is explicit RECALL loss inside over-cap
    buckets: members beyond the cap are the same lowest-id losers in
    every band they share with the template (near-identical docs collide
    in all bands), so they form no candidate pairs at all. Use the cap as
    a boundedness guarantee, not a free lunch: run exact dedup upstream
    (it catches byte-identical boilerplate without LSH), and treat an
    over-cap bucket as a signal the whole bucket is one template family —
    callers wanting recall there should keep one survivor per over-cap
    bucket rather than diff its members pairwise. Default None = exact
    banding (the oracle-checked contract).

    ``banding=(bands, rows_per_band)`` overrides the two scalar params
    in one shot — pass :func:`choose_banding`'s advisor-picked winner
    here to close the advisor loop. The product must equal the length
    of the signature arrays (unverifiable from the schema here —
    ``minhash_dedup_pairs`` validates it against its ``num_hashes``);
    oversized products fail fast with an ANSI out-of-range error,
    undersized ones band only a prefix of the hashes.
    """
    if banding is not None:
        bands, rows_per_band = banding
    banded = band_keys(signatures, id_col, bands, rows_per_band)
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError("max_bucket_size must be >= 2 to form any pair")
        w = Window.partitionBy("band_id", "band_hash").orderBy(F.col(id_col))
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col(f"l.band_id") == F.col(f"r.band_id"))
            & (F.col(f"l.band_hash") == F.col(f"r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Without ``candidates``: joins on shared shingle (each co-occurring
    shingle contributes one match row; groupBy pair counts the
    intersection) — the exact baseline, guarded: hot shingles make it
    quadratic, so inputs over ``util.QUADRATIC_GUARD_ROWS`` raise unless
    ``allow_quadratic=True``. Scale paths: :func:`prefix_filter_pairs`
    for the SAME exact output (rare-prefix candidate buckets, never
    all-pairs), or LSH candidates for approximate recall. With
    ``candidates`` (e.g. from LSH): delegates to
    ``verify_jaccard_on_candidates`` so only the candidate pairs are
    evaluated (a post-join filter would still run the full quadratic
    shingle self-join).
    Output: (a, b, jaccard) with a < b.
    """
    if candidates is not None:
        return verify_jaccard_on_candidates(
            df, candidates, text_col, id_col, threshold, shingle_n
        )
    guard_quadratic(
        df, "jaccard_pairs",
        "lsh_candidate_pairs(...) then jaccard_pairs(candidates=...) — "
        "see dedup_minhash_lsh",
        allow_quadratic,
    )
    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col), word_shingles(text_col, shingle_n).alias("shingles")
    )
    sizes = sh.select(F.col(id_col), F.size("shingles").alias("n_sh"))
    exploded = sh.select(F.col(id_col), F.explode("shingles").alias("shingle"))
    l, r = exploded.alias("l"), exploded.alias("r")
    inter = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _hashed_shingles(text_col: str, shingle_n: int) -> Column:
    """Word n-gram shingles interned as hash60 BIGINTs: the prefix
    family's joins and array_intersect verifies then run on fixed-width
    longs instead of re-hashing shingle STRINGS per comparison (the
    verify stage measured ~2× on 310k candidate pairs). The oracle
    mirrors the same md5-derived hash (the MinHash parity idiom), so
    results stay identical across engines even in the measure-zero
    collision case — a collision merges the same two shingles on both
    sides.

    Width note (vs the 120-bit ExactSubstr anchors): 60 bits IS enough
    here, because a collision's effect is one shared element in one
    doc pair's Jaccard — a ±1/|union| perturbation that only matters if
    that pair also sits exactly on the threshold — not a silent
    unconditional removal (the ExactSubstr groupBy-count failure mode).
    At 10^12 corpus shingles the expected number of colliding shingle
    PAIRS is ~4×10^5 corpus-wide, and the probability that any given
    candidate doc pair contains one is ~|shingles|²/2^60 ≈ 10^-13 —
    below the 6dp rounding contract already accepted."""
    return F.array_distinct(
        F.transform(word_shingles(text_col, shingle_n), lambda s: hash60(s))
    )


def _prefix_rows(
    sh: DataFrame, dfreq: DataFrame, num: int, den: int, id_col: str
) -> DataFrame:
    """Per-doc prefix rows ``(id_col, L, pos, s)`` under the ascending
    (document-frequency, shingle) total order given by ``dfreq``
    (shingles absent from dfreq take df 0 — ahead of every seen
    shingle, the deterministic OOV slot for intake against a FIXED
    build-time order). Prefix length p = L − ⌈num·L/den⌉ + 1, integer
    ceil. Each doc sorts only its OWN (df, shingle) structs — no
    global rank window. ``pos`` is the element's 1-based position in
    the doc's FULL sorted list — the PPJoin positional-filter input: a
    match at positions (i, j) bounds the pair's overlap by
    ``1 + min(La − i, Lb − j)``, and for a TRUE pair its smallest
    shared element (which the prefix theorem guarantees sits in both
    prefixes) always satisfies the bound — per-match pruning on it is
    lossless at the pair level."""
    shx = sh.select(F.col(id_col), F.explode("shingles").alias("s"))
    ordered = (
        shx.join(dfreq, "s", "left")
        .withColumn("sdf", F.coalesce(F.col("sdf"), F.lit(0)))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("sdf"), F.col("s")))
            ).alias("arr")
        )
        .withColumn("L", F.size("arr"))
        .withColumn(
            "p",
            F.col("L")
            - F.expr(f"CAST(({num} * L + {den} - 1) div {den} AS INT)")
            + F.lit(1),
        )
    )
    return ordered.select(
        F.col(id_col),
        F.col("L"),
        F.posexplode(
            F.transform(
                F.slice("arr", F.lit(1), F.col("p")), lambda st: st["s"]
            )
        ).alias("pos0", "s"),
    ).select(
        F.col(id_col),
        F.col("L"),
        (F.col("pos0") + 1).cast("int").alias("pos"),
        F.col("s"),
    )


def _positional_bound(num: int, den: int, left: str, right: str):
    """PPJoin positional filter as a join Column: required overlap
    α = ⌈num·(La+Lb)/(num+den)⌉ (from J ≥ num/den ⇔ inter ≥
    t/(1+t)·(La+Lb)), possible overlap from a match at (i, j) is
    1 + min(La−i, Lb−j). Integer arithmetic throughout (L values are
    doc shingle counts, far below any float-precision edge)."""
    la, lb = F.col(f"{left}.L"), F.col(f"{right}.L")
    i, j = F.col(f"{left}.pos"), F.col(f"{right}.pos")
    alpha = F.floor(
        (F.lit(num) * (la + lb) + F.lit(num + den - 1)) / F.lit(num + den)
    )
    return (F.lit(1) + F.least(la - i, lb - j)) >= alpha


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the PPJoin
    family: Chaudhuri et al., ICDE 2006 signature scheme; Xiao et al.,
    WWW 2008) — the exact-recall alternative to MinHash-LSH: every pair
    with Jaccard ≥ t is returned, no banding recall loss, no verify of
    false candidates beyond the prefix survivors.

    Completeness theorem: under ANY global total order on shingles, two
    docs with J(A,B) ≥ t must share an element within their first
    ``|X| − ⌈t·|X|⌉ + 1`` shingles. Ordering by ascending document
    frequency (ties → shingle text) makes each prefix the doc's RAREST
    shingles, so candidate buckets stay small — boilerplate-hot shingles
    never enter a prefix unless a doc is nearly all boilerplate. Plan:
    one df-count shuffle (shingle-keyed), one doc-keyed sort of each
    doc's own (df, shingle) structs (per-doc arrays, no global rank
    window), a prefix-shingle-keyed candidate join (Σ prefix-bucket²,
    rare-first), and an array_intersect verify on the candidate pairs.

    The threshold is a RATIONAL ``threshold_num/threshold_den`` and
    every compare is integer (`den·|A∩B| ≥ num·|A∪B|`, prefix length
    via integer ceil) — no float boundary can disagree between engines,
    so the output is identical to the exact quadratic
    :func:`jaccard_pairs` at the same threshold (with an exact rather
    than 6dp-rounded cut). Output: (a, b, jaccard) with a < b.
    """
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("prefix_filter_pairs: need 0 < num <= den")
    num, den = threshold_num, threshold_den
    df = ensure_parallelism(df)
    sh = df.select(
        F.col(id_col), _hashed_shingles(text_col, shingle_n).alias("shingles")
    ).localCheckpoint(eager=False)  # consumed by dfreq, prefix, and
    # BOTH verify sides — without this the tokenize+dfreq+sort chain
    # re-evaluates per consumer (the lsh_admit materialize lesson)
    shx = sh.select(F.col(id_col), F.explode("shingles").alias("s"))
    dfreq = shx.groupBy("s").agg(F.count(F.lit(1)).alias("sdf"))
    pref = _prefix_rows(sh, dfreq, num, den, id_col).localCheckpoint(
        eager=False
    )  # self-joined: two consumers of the sort-agg subtree
    l, r = pref.alias("l"), pref.alias("r")
    # size filter (PPJoin): J >= t forces t*|A| <= |B| <= |A|/t, and the
    # positional filter bounds possible overlap per match — both integer
    # pre-verify cuts on candidate volume, pure lossless pruning (the
    # exact verify below decides membership)
    cand = (
        l.join(
            r,
            (F.col("l.s") == F.col("r.s"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & (F.lit(num) * F.col("l.L") <= F.lit(den) * F.col("r.L"))
            & (F.lit(num) * F.col("r.L") <= F.lit(den) * F.col("l.L"))
            & _positional_bound(num, den, "l", "r"),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
        )
        .distinct()
    )
    sha = sh.select(F.col(id_col).alias("a"), F.col("shingles").alias("sh_a"))
    shb = sh.select(F.col(id_col).alias("b"), F.col("shingles").alias("sh_b"))
    scored = (
        cand.join(sha, "a")
        .join(shb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            (F.size("sh_a") + F.size("sh_b")).alias("n_ab"),
        )
        .withColumn("n_union", F.col("n_ab") - F.col("n_inter"))
        .filter(F.lit(den) * F.col("n_inter") >= F.lit(num) * F.col("n_union"))
    )
    return scored.select(
        "a", "b", F.round(F.col("n_inter") / F.col("n_union"), 6).alias("jaccard")
    )


def build_prefix_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the EXACT-recall intake-dedup index (the prefix-filter
    sibling of :func:`build_corpus_index`): ``(dfreq, corpus_prefix,
    corpus_shingles)`` — the corpus is shingled ONCE; dfreq fixes the
    global (document-frequency, shingle) order, corpus_prefix holds each
    corpus doc's rarest-first prefix rows ``(id, L, s)``, and
    corpus_shingles keeps the full distinct-shingle arrays for the
    verify. Persist corpus_prefix bucketed on ``s``; later intake
    batches probe it via :func:`prefix_dedup_against_corpus` without
    re-shingling the corpus, and :func:`extend_prefix_index` appends
    admitted docs delta-sized."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("build_prefix_index: need 0 < num <= den")
    corpus = ensure_parallelism(corpus)
    # r13 opt (guide §1.2): make the docstring's "shingled ONCE" true in
    # the plan. Lazy index tables re-derived the corpus shingling per
    # reference (pref consumes sh AND dfreq, the probe reads all three)
    # — ~4 shingle passes in one intake job. Eager checkpoints build
    # each table exactly once off the previous one's cached blocks.
    sh = corpus.select(
        F.col(id_col), _hashed_shingles(text_col, shingle_n).alias("shingles")
    ).localCheckpoint(eager=True)
    shx = sh.select(F.col(id_col), F.explode("shingles").alias("s"))
    dfreq = shx.groupBy("s").agg(
        F.count(F.lit(1)).alias("sdf")
    ).localCheckpoint(eager=True)
    pref = _prefix_rows(
        sh, dfreq, threshold_num, threshold_den, id_col
    ).localCheckpoint(eager=True)
    return dfreq, pref, sh


def extend_prefix_index(
    index: tuple[DataFrame, DataFrame, DataFrame],
    admitted: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incrementally maintain the prefix index: shingle only the newly-
    ADMITTED docs and compute their prefixes under the FIXED build-time
    dfreq order (the IVF-centroid convention — the order is an artifact,
    not refreshed per batch; completeness holds under ANY fixed total
    order, so exact recall is unaffected — only prefix-bucket-size
    OPTIMALITY drifts as true frequencies shift, at which point a
    rebuild is a deliberate act). Delta-sized, map-side + one delta
    sort-per-doc; dfreq unchanged."""
    dfreq, corpus_prefix, corpus_sh = index
    new_sh = ensure_parallelism(admitted).select(
        F.col(id_col), _hashed_shingles(text_col, shingle_n).alias("shingles")
    )
    new_pref = _prefix_rows(new_sh, dfreq, threshold_num, threshold_den, id_col)
    return (
        dfreq,
        corpus_prefix.unionByName(new_pref),
        corpus_sh.unionByName(new_sh),
    )


def prefix_dedup_against_corpus(
    new_df: DataFrame,
    index: tuple[DataFrame, DataFrame, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_num: int = 1,
    threshold_den: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """EXACT-recall incremental intake dedup: admit only the new docs
    with NO corpus match at Jaccard ≥ num/den — every true match is
    found (no LSH banding recall loss). Completeness: batch prefixes
    are computed under the index's FIXED dfreq order (OOV shingles →
    df 0, ahead of every seen shingle — deterministic and shared), and
    under a shared total order any cross-pair with J ≥ t intersects
    within both prefixes. Candidates = batch-prefix ⋈ corpus-prefix on
    the shingle (+ the integer PPJoin size filter); the verify is the
    integer-exact den·|A∩B| ≥ num·|A∪B| on the stored shingle arrays.
    The corpus is never re-shingled at intake — only its index tables
    are probed (delta × prefix-bucket cost)."""
    if not (0 < threshold_num <= threshold_den):
        raise ValueError("prefix_dedup_against_corpus: need 0 < num <= den")
    num, den = threshold_num, threshold_den
    dfreq, corpus_prefix, corpus_sh = index
    new_sh = ensure_parallelism(new_df).select(
        F.col(id_col), _hashed_shingles(text_col, shingle_n).alias("shingles")
    ).localCheckpoint(eager=False)  # consumed by prefix AND verify
    new_pref = _prefix_rows(new_sh, dfreq, num, den, id_col)
    n, c = new_pref.alias("n"), corpus_prefix.alias("c")
    cand = (
        n.join(
            c,
            (F.col("n.s") == F.col("c.s"))
            & (F.lit(num) * F.col("n.L") <= F.lit(den) * F.col("c.L"))
            & (F.lit(num) * F.col("c.L") <= F.lit(den) * F.col("n.L"))
            & _positional_bound(num, den, "n", "c"),
        )
        .select(
            F.col(f"n.{id_col}").alias("a"), F.col(f"c.{id_col}").alias("b")
        )
        .distinct()
    )
    sha = new_sh.select(F.col(id_col).alias("a"), F.col("shingles").alias("sh_a"))
    shb = corpus_sh.select(
        F.col(id_col).alias("b"), F.col("shingles").alias("sh_b")
    )
    matched = (
        cand.join(sha, "a")
        .join(shb, "b")
        .select(
            "a",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            (F.size("sh_a") + F.size("sh_b")).alias("n_ab"),
        )
        .filter(
            F.lit(den) * F.col("n_inter")
            >= F.lit(num) * (F.col("n_ab") - F.col("n_inter"))
        )
        .select(F.col("a").alias(id_col))
        .distinct()
    )
    return new_df.join(matched, id_col, "left_anti")


def verify_jaccard_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard on a (small) candidate-pair set via per-row
    array_intersect/array_union of the two shingle sets.

    This avoids the exploded shingle self-join entirely, and it only
    shingles docs that appear in a candidate pair: a semi-join restricts
    the corpus to candidate ids BEFORE the (expensive) shingling
    projection, so verification cost is O(|candidate docs| * |doc
    shingles|) — independent of corpus size and of how common individual
    shingles are.
    """
    cand_ids = (
        candidates.select(F.col("a").alias(id_col))
        .union(candidates.select(F.col("b").alias(id_col)))
        .distinct()
    )
    needed = df.join(cand_ids, on=id_col, how="left_semi")
    sh = needed.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
    # sh feeds both sides of the verify join (no subtree reuse), so the
    # candidate-doc shingling runs twice per execution. Left unshared on
    # purpose: the projection is candidate-restricted (never corpus-
    # sized), so the waste is bounded at 2x and the two passes overlap
    # on idle cores; the corpus-sized work upstream (signatures, band
    # join) is already shared through the candidate stage's lazy
    # checkpoints. An EAGER checkpoint here was probed in r13 at
    # neutral-to-slightly-slower (4 dedup reports, alternating arms:
    # 14.9 s vs 15.7 s summed mins) — it adds a construction job.
    sh = ensure_parallelism(sh)
    sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .withColumn("__n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        # pairs with zero shared shingles produce no row (matches the
        # shared-shingle-join baseline's contract even at threshold<=0)
        .filter(F.col("__n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__n_inter") / F.size(F.array_union("sh_a", "sh_b")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    shingle_n: int = 3,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs: ``(a, b, dist, edit_sim)`` with
    ``edit_sim = 1 - levenshtein/max(len)`` >= ``threshold`` — the
    character-level member of the dedup family (exact, MinHash-Jaccard,
    SimHash, containment, embedding). Catches small in-place edits
    (typo fixes, boilerplate date stamps) that shingle Jaccard scores
    leniently and exact dedup misses entirely.

    Scale design: NEVER all-pairs — candidates come from MinHash LSH
    banding (shared shingles predict small edit distance for
    similar-length docs; ``candidates=`` overrides with any blocking),
    then a semi-join restricts text lookup to candidate ids and the
    verify is the built-in JVM ``levenshtein`` per candidate pair, so
    cost is O(|candidates| * len²) with the corpus never content-
    shuffled. The LSH blocking is part of the SEMANTICS (a pair sharing
    no band is not reported even if textually close) — the oracle
    mirrors it, same contract as ``minhash_dedup_pairs``.

    Determinism: levenshtein is exact integer edit distance in both
    engines; ``edit_sim`` rounds to 6dp; NULL text behaves as empty.
    """
    if candidates is None:
        _sigs, candidates = _materialize_candidates(
            df, text_col, id_col, num_hashes, bands, num_hashes // bands,
            max_bucket_size, shingle_n,
        )
    cand_ids = (
        candidates.select(F.col("a").alias(id_col))
        .union(candidates.select(F.col("b").alias(id_col)))
        .distinct()
    )
    txt = df.join(cand_ids, on=id_col, how="left_semi").select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("__t")
    )
    # Lossless verify prefilters, in increasing cost order (each exact,
    # none changes the result set — pinned by test):
    # 1. length band: with L = max(len, 1), a pair passes iff
    #    round(1 - dist/L, 6) >= threshold, i.e.
    #    dist <= L*(1 - threshold + 5e-7) =: maxd (+1 slack keeps the
    #    bound provably lossless under the 6dp rounding for any L).
    #    Since dist >= |len_a - len_b| always, pairs outside the band
    #    are dropped before any levenshtein.
    # 2. equality short-circuit: exact duplicates (the dominant near-dup
    #    class in crawl corpora) are dist = 0 by definition — a byte
    #    compare, not an O(L*maxd) DP (measured 14x on the dup-heavy
    #    16x probe, where replicated docs are all identical pairs).
    # 3. thresholded levenshtein(l, r, maxd) for the rest: returns -1
    #    and stops once the running distance exceeds maxd, bounding the
    #    DP band at O(L * maxd) instead of O(L^2) (~2x at maxd = 0.1 L).
    maxlen = F.greatest(F.greatest(F.length("__ta"), F.length("__tb")), F.lit(1))
    return (
        candidates.join(
            txt.select(F.col(id_col).alias("a"), F.col("__t").alias("__ta")), "a"
        )
        .join(
            txt.select(F.col(id_col).alias("b"), F.col("__t").alias("__tb")), "b"
        )
        .withColumn(
            "__maxd",
            (
                F.floor(maxlen * F.lit(1.0 - threshold + 5e-7)) + F.lit(1)
            ).cast("int"),
        )
        .filter(
            F.abs(F.length("__ta") - F.length("__tb")) <= F.col("__maxd")
        )
        .withColumn(
            "dist",
            F.when(F.col("__ta") == F.col("__tb"), F.lit(0)).otherwise(
                F.expr("levenshtein(__ta, __tb, __maxd)")
            ),
        )
        .filter(F.col("dist") >= 0)
        .withColumn(
            "edit_sim",
            F.round(F.lit(1.0) - F.col("dist").cast("double") / maxlen, 6),
        )
        .filter(F.col("edit_sim") >= threshold)
        .select("a", "b", "dist", "edit_sim")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    banding: tuple[int, int] | DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signature → banded candidates → exact
    Jaccard verify. Output (a, b, jaccard) with jaccard >= threshold.
    ``max_bucket_size`` caps hot LSH buckets (see lsh_candidate_pairs).

    ``banding`` closes the advisor loop (r11 VERDICT): either the
    ``(bands, rows_per_band)`` tuple :func:`choose_banding` picked, or
    a MEASURED near-dup pair DataFrame (exact-join output with a
    ``jaccard`` column) — the advisor then runs here and the winning
    factorization of ``num_hashes`` at this ``threshold`` is used
    instead of ``bands``.

    Signatures and candidates are computed once per execution, however
    often the plan references them (lazy checkpoints — see
    ``_materialize_candidates``).
    """
    if isinstance(banding, DataFrame):
        banding = choose_banding(banding, num_hashes, threshold)
    if banding is not None:
        bands, rows_per_band = banding
        # an explicit tuple must factorize the hash budget EXACTLY: a
        # mismatch either indexes the signature array out of range
        # (ANSI runtime error) or silently bands only a subset of the
        # hashes (recall loss with no signal). choose_banding only
        # emits exact factorizations, so the advisor path never trips.
        if bands * rows_per_band != num_hashes:
            raise ValueError(
                f"minhash_dedup_pairs: banding {banding} does not "
                f"factorize num_hashes={num_hashes} "
                f"(bands*rows_per_band must equal num_hashes)"
            )
    else:
        rows_per_band = num_hashes // bands
    _sigs, cands = _materialize_candidates(
        df, text_col, id_col, num_hashes, bands, rows_per_band,
        max_bucket_size,
    )
    return verify_jaccard_on_candidates(
        df, cands, text_col, id_col, threshold
    )


def cross_source_dup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cross-source near-duplication leakage census: one row per
    unordered source pair that shares at least one near-dup pair —
    ``(source_a, source_b, n_pairs, n_docs_a, n_docs_b,
    mean_jaccard)`` with sources ordered lexicographically and the doc
    counts following that normalization (``n_docs_a`` = distinct docs
    on the smaller-named source). Intra-source rows (``source_a ==
    source_b``) are the within-mix duplication baseline.

    Why it matters for a training mix: two "independent" sources that
    share near-duplicate documents silently up-weight that content
    (and can leak held-out material across mix components) — the
    mix-level analog of benchmark decontamination. Observability
    companion to ``dedup_rate_report`` (which is per-source exact-dup
    only) and ``corpus_diff``.

    Plan shape: rides :func:`minhash_dedup_pairs` end to end (banded
    candidates, hot-bucket cap, exact verify), then two id-keyed
    source lookups on the PAIR table (pair-sized, never corpus-sized)
    and one tiny groupBy on the source pair."""
    pairs = minhash_dedup_pairs(
        df, text_col, id_col, threshold, num_hashes, bands,
        max_bucket_size,
    )
    return _source_pair_census(
        _source_labeled_pairs(pairs, df, id_col, source_col)
    )


def _source_labeled_pairs(
    pairs: DataFrame, df: DataFrame, id_col: str, source_col: str
) -> DataFrame:
    """Normalize a verified ``(a, b, jaccard)`` pair frame to
    lexicographically-ordered source pairs: ``(source_a, source_b,
    _da, _db, jaccard)``. Two id-keyed lookups on the PAIR table —
    pair-sized, never corpus-sized."""
    src = df.select(
        F.col(id_col),
        F.coalesce(F.col(source_col), F.lit("")).alias("_src"),
    )
    j = (
        pairs.join(
            src.select(F.col(id_col).alias("a"), F.col("_src").alias("_sa")),
            "a",
        ).join(
            src.select(F.col(id_col).alias("b"), F.col("_src").alias("_sb")),
            "b",
        )
    )
    a_first = F.col("_sa") <= F.col("_sb")
    return j.select(
        F.least("_sa", "_sb").alias("source_a"),
        F.greatest("_sa", "_sb").alias("source_b"),
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("_da"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("_db"),
        "jaccard",
    )


def _source_pair_census(labeled: DataFrame) -> DataFrame:
    return labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("_da").cast("bigint").alias("n_docs_a"),
        F.countDistinct("_db").cast("bigint").alias("n_docs_b"),
        F.round(F.avg("jaccard"), 6).alias("mean_jaccard"),
    )


def cross_source_dup_sweep(
    df: DataFrame,
    thresholds: tuple[float, ...] = (0.2, 0.35, 0.5),
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`cross_source_dup_report` at several thresholds in ONE
    pass — the tuning view a mix owner reads to pick the cut: the LSH
    candidates and the exact-Jaccard verify run ONCE at the LOWEST
    threshold, and each threshold is a filter over the materialized
    verified pair frame (pair-sized — the per-threshold cost is a tiny
    filter + groupBy, not another corpus pass). Output adds a
    ``threshold`` column; rows per (threshold, source pair).

    Recall note: band recall is tuned by (num_hashes, bands) and tracks
    Jaccard, so all thresholds share the candidate recall of the lowest
    one — higher thresholds are strictly exact-filtered subsets."""
    ths = sorted({float(t) for t in thresholds})
    if not ths:
        raise ValueError("cross_source_dup_sweep: thresholds is empty")
    pairs = minhash_dedup_pairs(
        df, text_col, id_col, ths[0], num_hashes, bands, max_bucket_size
    )
    labeled = _source_labeled_pairs(
        pairs, df, id_col, source_col
    ).localCheckpoint(eager=False)
    out = None
    for t in ths:
        c = _source_pair_census(
            labeled.filter(F.col("jaccard") >= t)
        ).select(
            F.lit(t).alias("threshold"),
            "source_a",
            "source_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            "mean_jaccard",
        )
        out = c if out is None else out.unionByName(c)
    return out


def verify_containment_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact CONTAINMENT on a candidate-pair set:
    ``|A∩B| / min(|A|, |B|)`` over the two shingle sets (Broder 1997's
    containment, symmetrized to the smaller side). Same semi-join-
    restricted shingling plan as :func:`verify_jaccard_on_candidates`.

    Why a second metric: Jaccard punishes size asymmetry — a paragraph
    quoted verbatim inside a 100× larger page scores ~0.01 Jaccard and
    survives Jaccard dedup, but its containment is ~1.0. This is the
    verification step for wrapper/quote/boilerplate-inclusion
    duplication, where the smaller doc adds no novel content.
    """
    cand_ids = (
        candidates.select(F.col("a").alias(id_col))
        .union(candidates.select(F.col("b").alias(id_col)))
        .distinct()
    )
    needed = df.join(cand_ids, on=id_col, how="left_semi")
    sh = needed.select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
    # sh feeds both sides of the verify join (no subtree reuse), so the
    # candidate-doc shingling runs twice per execution. Left unshared on
    # purpose: the projection is candidate-restricted (never corpus-
    # sized), so the waste is bounded at 2x and the two passes overlap
    # on idle cores; the corpus-sized work upstream (signatures, band
    # join) is already shared through the candidate stage's lazy
    # checkpoints. An EAGER checkpoint here was probed in r13 at
    # neutral-to-slightly-slower (4 dedup reports, alternating arms:
    # 14.9 s vs 15.7 s summed mins) — it adds a construction job.
    sh = ensure_parallelism(sh)
    sa = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .withColumn("__n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(F.col("__n_inter") > 0)
        .withColumn(
            "containment",
            F.round(
                F.col("__n_inter")
                / F.least(F.size("sh_a"), F.size("sh_b")),
                6,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("a", "b", "containment")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact containment instead of
    Jaccard: ``(a, b, containment)`` with containment ≥ ``threshold`` —
    the near-dup detector for asymmetric duplication (quotes, wrappers,
    templated inclusion) that Jaccard-threshold dedup misses.

    Scale caveat (documented, inherent to MinHash): band recall tracks
    JACCARD, so a tiny doc contained in a huge one may not collide in
    any band despite containment ≈ 1. At extreme size ratios, shard the
    corpus by length band first (compare docs against the next band up),
    or use span/paragraph dedup (:func:`span_dedup`) which catches
    verbatim inclusion exactly.
    """
    _sigs, cands = _materialize_candidates(
        df, text_col, id_col, num_hashes, bands, num_hashes // bands,
        max_bucket_size,
    )
    return verify_containment_on_candidates(
        df, cands, text_col, id_col, threshold
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    shingle_n: int = 3,
) -> DataFrame:
    """Sketch-calibration report: for every LSH candidate pair, the
    MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    positions — the unbiased estimator the whole MinHash construction
    exists for) next to the exact verified value:
    ``(a, b, est_jaccard, jaccard)``.

    This is how a pipeline picks ``num_hashes``/``threshold`` without a
    corpus-sized exact pass: the estimate column costs only the k-word
    signature compare per CANDIDATE pair, while the exact column here is
    the (candidate-restricted) ground truth to calibrate against. Pairs
    sharing a band but no shingle get jaccard 0 (the estimator's
    false-positive tail — visible, not silently dropped).
    """
    sigs, cands = _materialize_candidates(
        df, text_col, id_col, num_hashes, bands, num_hashes // bands,
        max_bucket_size,
    )
    est = (
        cands.join(
            sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("__sa")), "a"
        )
        .join(
            sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("__sb")), "b"
        )
        .select(
            "a",
            "b",
            F.round(
                F.aggregate(
                    F.zip_with(
                        "__sa", "__sb",
                        lambda x, y: (x == y).cast("int"),
                    ),
                    F.lit(0),
                    lambda acc, v: acc + v,
                ).cast("double")
                / F.lit(float(num_hashes)),
                6,
            ).alias("est_jaccard"),
        )
    )
    exact = verify_jaccard_on_candidates(
        df, cands, text_col, id_col, threshold=0.0, shingle_n=shingle_n
    )
    return est.join(exact, ["a", "b"], "left").select(
        "a", "b", "est_jaccard",
        F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: drop corpus docs sharing >=
    ``min_overlap`` distinct word ``shingle_n``-grams with ANY benchmark
    doc (the standard eval-set leak filter for LLM training corpora;
    13-grams are the common published choice).

    Scale design: eval sets are tiny next to a 100 TB corpus, so the
    benchmark's distinct gram set BROADCASTS; the corpus side is a
    map-side shingle explode + broadcast join — contaminated ids fall out
    of one grouped count (or a plain semi-join distinct when
    ``min_overlap == 1``), and the final drop is a broadcast anti-join.
    The corpus is never shuffled on content.
    """
    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    bench_grams = (
        benchmark.select(F.explode(word_shingles(text_col, shingle_n)).alias("g"))
        .distinct()
    )
    corpus_grams = ensure_parallelism(corpus).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("g")
    )
    hit = corpus_grams.join(F.broadcast(bench_grams), "g")
    if min_overlap == 1:
        contaminated = hit.select(id_col).distinct()
    else:
        contaminated = (
            hit.groupBy(id_col)
            .agg(F.countDistinct("g").alias("__n"))
            .filter(F.col("__n") >= min_overlap)
            .select(id_col)
        )
    return corpus.join(F.broadcast(contaminated), id_col, "left_anti")


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
    min_overlap: int = 1,
    m_bits: int = 65536,
    k_hashes: int = 3,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter on the corpus grams:
    the benchmark gram set becomes a ≤ ``ceil(m_bits/60)``-word LITERAL
    bit array tested per corpus gram map-side, so only grams that MIGHT
    be benchmark grams reach the exact broadcast-join verify and the
    contaminated-id distinct/count shuffle. Because Bloom has no false
    negatives and every survivor is exactly verified, the result EQUALS
    plain :func:`decontaminate` — the contract query shares its oracle
    verbatim (the bloom_semi_join identity pattern).

    Why at 100 TB: the exploded corpus-gram stream is corpus-sized × ~L
    grams/doc, and under plain decontamination every gram probes a
    broadcast hash table of full 13-gram STRINGS (an eval suite's
    distinct grams can be hundreds of MB). The ~10-bits-per-gram word
    array is a few hundred KB shipped once per executor as an
    expression literal, and it drops the overwhelmingly-clean gram bulk
    before the string probe and before ANY gram-derived row shuffles.
    """
    from .sketches import bloom_prefilter

    if min_overlap < 1:
        raise ValueError("min_overlap must be >= 1")
    bench_grams = (
        benchmark.select(
            F.explode(word_shingles(text_col, shingle_n)).alias("g")
        ).distinct()
    ).localCheckpoint(eager=False)  # consumed twice: the Bloom build's
    # collect AND the exact-verify broadcast — without this the bench
    # shingle job runs twice
    corpus_grams = ensure_parallelism(corpus).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("g")
    )
    maybe = bloom_prefilter(
        corpus_grams, "g", bench_grams, "g", m_bits, k_hashes
    )
    hit = maybe.join(F.broadcast(bench_grams), "g")
    if min_overlap == 1:
        contaminated = hit.select(id_col).distinct()
    else:
        contaminated = (
            hit.groupBy(id_col)
            .agg(F.countDistinct("g").alias("__n"))
            .filter(F.col("__n") >= min_overlap)
            .select(id_col)
        )
    return corpus.join(F.broadcast(contaminated), id_col, "left_anti")


# --- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash over word tokens (count-weighted).

    bit b of the signature is 1 iff sum over token occurrences of
    (+1 if bit b of H(token) else -1) > 0. Built as 32 conditional sums
    over the exploded token list — one shuffle keyed on doc id.
    """
    df = ensure_parallelism(df)
    c = F.col(text_col)
    toks = F.regexp_extract_all(F.lower(c), F.lit(WORD_REGEX), 0)
    tok = df.select(F.col(id_col), F.explode(toks).alias("tok")).withColumn(
        "h", hash60(F.col("tok"), seed="sh|")
    )
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(2**b).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else (sig + bit)
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Candidate generation: band the 32-bit signature into 4 bytes; docs
    sharing any byte-band are candidates (pigeonhole: any pair within
    hamming<=3 of each other shares a band; larger max_hamming values are
    verified but candidate recall comes from the banding). Exact hamming
    verify via bit_count(xor).
    """
    sigs = simhash(df, text_col, id_col)
    banded = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_id", "band.band_val")
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.col("l.simhash").alias("sig_a"),
            F.col("r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
    ).filter(F.col("hamming") <= max_hamming).select("a", "b", "hamming")


def dhash_near_pairs(
    frames: DataFrame,
    key_cols: tuple[str, str] = ("media_id", "frame_idx"),
    max_hamming: int = 7,
) -> DataFrame:
    """Multimodal near-dup pairs by dHash hamming distance — the
    ``simhash_pairs`` machinery applied to the perceptual hash of
    decoded frames (``multimodal.frame_dhash`` emits the inputs:
    ``d_bands`` = 8 per-row bytes, ``sig_hi``/``sig_lo`` = the 64-bit
    signature as two 32-bit halves).

    Candidates: frames sharing any of the 8 row-byte bands (explode +
    equi-join — never all-pairs). PIGEONHOLE-EXACT regime: a pair at
    hamming <= 7 differs in at most 7 of the 8 bands, so at least one
    band matches and recall is 100% for ``max_hamming <= 7`` (the
    default). A single perturbed pixel flips at most 2 bits (its two
    adjacent comparisons), so small retouches stay well inside the
    exact regime. Verify: ``bit_count(xor)`` per half, exact.

    Scale: band join is keyed (AQE-splittable); hot bands (flat images
    — all-equal rows give byte 0) densify candidates exactly like hot
    LSH buckets — cap or pre-dedup exact payloads upstream
    (``media_stats`` content hash) as with text LSH.
    """
    ka, kb = key_cols
    banded = frames.select(
        ka,
        kb,
        "sig_hi",
        "sig_lo",
        F.posexplode("d_bands").alias("band_id", "band_val"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    lt = (F.col(f"l.{ka}") < F.col(f"r.{ka}")) | (
        (F.col(f"l.{ka}") == F.col(f"r.{ka}"))
        & (F.col(f"l.{kb}") < F.col(f"r.{kb}"))
    )
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & lt,
        )
        .select(
            F.col(f"l.{ka}").alias(f"a_{ka}"),
            F.col(f"l.{kb}").alias(f"a_{kb}"),
            F.col(f"r.{ka}").alias(f"b_{ka}"),
            F.col(f"r.{kb}").alias(f"b_{kb}"),
            F.col("l.sig_hi").alias("hi_a"),
            F.col("l.sig_lo").alias("lo_a"),
            F.col("r.sig_hi").alias("hi_b"),
            F.col("r.sig_lo").alias("lo_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        cand.withColumn("hamming", ham.cast("bigint"))
        .filter(F.col("hamming") <= int(max_hamming))
        .select(f"a_{ka}", f"a_{kb}", f"b_{ka}", f"b_{kb}", "hamming")
    )


# --- span-level (line/paragraph) exact dedup ---------------------------------
#
# C4/RefinedWeb-style sub-document dedup: boilerplate (nav bars, license
# headers, repeated template paragraphs) recurs across documents even when
# whole documents are unique. The corpus-wide rule is "keep only the FIRST
# occurrence of each span" (global order = (doc_id, span_idx)), then stitch
# each document back together from its surviving spans; documents whose
# spans were all seen earlier disappear entirely.
#
# Scale shape (100 TB): explode is map-side; first-occurrence is ONE keyed
# shuffle on span_text where the combiner is MIN(struct(doc_id, span_idx))
# — partial-aggregatable, so hot spans (the boilerplate this exists to
# kill) collapse map-side instead of flooding a reducer; reconstruction is
# a second keyed shuffle on doc_id. No windows, no joins, no Python.


def _span_dedup_core(
    spans_df: DataFrame, id_col: str, n_spans_col: str, joiner: str
) -> DataFrame:
    """First-occurrence keep + doc reconstruction over an exploded
    (id, span_idx, span_text, n_spans) frame."""
    kept = (
        spans_df.groupBy("span_text")
        .agg(F.min(F.struct(id_col, "span_idx", n_spans_col)).alias("o"))
        .select(
            F.col(f"o.{id_col}").alias(id_col),
            F.col("o.span_idx").alias("span_idx"),
            F.col(f"o.{n_spans_col}").alias(n_spans_col),
            "span_text",
        )
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("span_idx", "span_text"))
            ).alias("kept"),
            F.min(n_spans_col).cast("bigint").alias("n_spans"),
        )
        .select(
            id_col,
            F.concat_ws(
                joiner, F.transform(F.col("kept"), lambda x: x["span_text"])
            ).alias("text_dedup"),
            "n_spans",
            F.size("kept").cast("bigint").alias("n_kept"),
        )
    )


def _exploded_spans(df: DataFrame, id_col: str, spans: Column) -> DataFrame:
    # posexplode_outer, NOT posexplode: the non-outer variant makes the
    # optimizer infer `size(e) > 0 AND isnotnull(e)` and push it below
    # the staging projections, re-inlining the whole span-construction
    # expression into a per-row Filter (the nested-HOF CSE trap again,
    # through the back door). Outer explode infers nothing; the explicit
    # isNotNull filter below runs on the already-materialized output.
    return (
        df.select(
            F.col(id_col),
            F.size(spans).alias("n_spans_raw"),
            F.posexplode_outer(spans),
        )
        .filter(F.col("col").isNotNull())
        .select(
            id_col,
            "n_spans_raw",
            F.col("pos").cast("bigint").alias("span_idx"),
            F.col("col").alias("span_text"),
        )
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 3,
) -> DataFrame:
    """Corpus-wide exact dedup of fixed-width word spans.

    Documents are cut into consecutive non-overlapping ``span_words``-word
    spans (lowercased word tokens; the trailing span may be shorter); only
    the globally-first occurrence of each span survives. Returns
    ``(id_col, text_dedup, n_spans, n_kept)`` — documents with zero
    surviving spans (fully-duplicate) are dropped.

    Reference scope note: the reference engine has no sub-document
    operator at all (its unit is the CSV row — SURVEY.md §1.1); this is
    part of the training-data extension surface.
    """
    k = int(span_words)
    # Materialize the token array, then the span array, each in its own
    # projection: Catalyst does not CSE across nested higher-order
    # functions, so inlining `toks` into the transform() lambda (plus
    # the two size() references) re-runs regexp_extract_all per span —
    # measured 29.7 s -> 2.4 s at sf0.1 for the explode stage alone.
    staged = df.withColumn(
        "_sd_toks",
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(WORD_REGEX),
            0,
        ),
    )
    toks = F.col("_sd_toks")
    n_spans = F.ceil(F.size(toks) / F.lit(k)).cast("int")
    staged = staged.withColumn(
        "_sd_spans",
        F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, k)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    exploded = _exploded_spans(staged, id_col, F.col("_sd_spans"))
    return _span_dedup_core(exploded, id_col, "n_spans_raw", " ")


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = r"\n{2,}",
    joiner: str = "\n\n",
) -> DataFrame:
    """Corpus-wide exact paragraph dedup: split on ``delim`` (regex),
    trim, drop empties, keep each paragraph's globally-first occurrence,
    rejoin survivors with ``joiner``. Same contract as :func:`span_dedup`
    (``n_spans`` counts this doc's non-empty paragraphs)."""
    # materialized projection for the same nested-HOF CSE reason as
    # span_dedup (size() + posexplode() would re-split per reference)
    staged = df.withColumn(
        "_sd_paras",
        F.filter(
            F.transform(
                F.split(F.coalesce(F.col(text_col), F.lit("")), delim),
                lambda p: F.trim(p),
            ),
            lambda p: p != "",
        ),
    )
    exploded = _exploded_spans(staged, id_col, F.col("_sd_paras"))
    return _span_dedup_core(exploded, id_col, "n_spans_raw", joiner)


# --- incremental (cross-corpus) dedup ----------------------------------------


def build_corpus_index(
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the intake-dedup index over the existing corpus:
    ``(corpus_fp, corpus_bands)`` — exactly the two tables
    :func:`dedup_against_corpus` accepts via ``corpus_fp=`` /
    ``corpus_bands=``.

    This is the 100 TB posture for incremental intake (the batch
    analogue of the reference's per-arrival processing,
    /root/reference/src/price_zone/s3_trigger_lambda.py:45-55): the
    corpus is scanned ONCE here — one pass for exact fingerprints, one
    for MinHash band keys, both map-side — and every later intake batch
    probes the index instead of re-fingerprinting the corpus. Persist
    ``corpus_fp`` partitioned/bucketed on ``fp`` and ``corpus_bands`` on
    ``(band_id, band_hash)``; after each admitted batch, extend both
    with :func:`extend_corpus_index` (delta-sized, map-side — the
    corpus-sized build pass is never re-paid, mirroring
    ``similarity.extend_ivf_index``).

    Schemas: ``corpus_fp(fp string)`` distinct;
    ``corpus_bands(id_col, band_id int, band_hash string)``.
    """
    corpus_fp = corpus_df.select(fingerprint(text_col).alias("fp")).distinct()
    corpus_bands = band_keys(
        minhash_signature(corpus_df, text_col, id_col, num_hashes, shingle_n),
        id_col, bands, num_hashes // bands,
    )
    return corpus_fp, corpus_bands


def fingerprint_holders(
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The refcount side-table that makes ``corpus_fp`` exactly
    retractable: ``(id_col, fp)`` — which doc holds which exact-dup
    fingerprint. ``corpus_fp`` itself is a distinct md5 SET with no doc
    ids (deliberately — the probe is a set-membership semi join), so an
    id alone cannot tell whether its fingerprint is still held by a
    surviving verbatim duplicate; this doc-sized table can. Persist it
    next to the index and pass it to
    ``retraction.retract_from_lsh_corpus_index(fp_holders=)`` (or
    ``retract_doc_ids(lsh_corpus_index=(fp, bands, holders))``) and fp
    retraction becomes EXACT: a fingerprint survives iff at least one
    surviving doc still holds it — closing the r4-documented
    conservative-retention caveat. Extend per admitted batch with
    :func:`fingerprint_holders` over the batch + union (delta-sized,
    map-side, same as the index extension)."""
    return corpus_df.select(
        F.col(id_col), fingerprint(text_col).alias("fp")
    ).distinct()


def extend_corpus_index(
    index: tuple[DataFrame, DataFrame],
    admitted_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incrementally maintain the intake index: fingerprint + band only
    the newly-ADMITTED batch (map-side, delta-sized) and append. The
    result is exactly what :func:`build_corpus_index` over
    ``corpus ∪ admitted`` produces (pinned by test), because both
    passes are per-row deterministic.
    """
    fp, bands_df = index
    new_fp, new_bands = build_corpus_index(
        admitted_df, text_col, id_col, num_hashes, bands, shingle_n
    )
    return fp.unionByName(new_fp).distinct(), bands_df.unionByName(new_bands)


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    corpus_fp: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental intake dedup: admit only the rows of ``new_df`` that
    are neither exact nor near duplicates of the existing ``corpus_df``
    (crawl N+1 vs crawls 1..N — the batch companion of
    ``streaming/minhash_dedup.lsh_admit``).

    Unlike the streaming bucket-grant rule (collide ⇒ reject), LSH here
    only PROPOSES candidates; each is verified with exact Jaccard
    against the colliding corpus doc, so an incidental band collision
    cannot reject a genuinely-new document.

    Plan shape: exact pass = distinct corpus fingerprints + left-anti
    join (one keyed shuffle on a 128-bit hash). Near pass = band keys on
    both sides joined on (band_id, band_hash) — cost is Σ(bucket_new ×
    bucket_corpus), never |new|×|corpus| — then candidate-only shingling
    (semi-join restricted, as in ``verify_jaccard_on_candidates``).
    New-batch dedup WITHIN the batch is intentionally out of scope:
    compose with ``minhash_dedup_pairs``/``exact_dedup`` on the admitted
    set.

    **100 TB posture**: recomputing fingerprints and band keys over the
    whole corpus per intake batch re-scans the corpus (~3 passes). At
    scale those are INDEX tables — computed once, persisted partitioned
    on their key, extended with each admitted batch (exactly like the
    IVF index split in ``similarity.build_ivf_index``). Pass them in via
    ``corpus_fp`` (columns: ``fp``) and ``corpus_bands`` (columns:
    ``id_col, band_id, band_hash``); then only candidate corpus docs are
    touched for the Jaccard verify.

    No hand-rolled Bloom pre-filter on the exact pass: Spark's runtime
    bloom-filter join pruning
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``, on by default
    in Spark 4) already injects a bloom built from the smaller join side
    into the probe-side scan when sizes warrant — duplicating it in
    operator code would shadow Catalyst's cost model.
    """
    if corpus_fp is None:
        corpus_fp = corpus_df.select(
            fingerprint(text_col).alias("fp")
        ).distinct()
    new_fp = new_df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    exact_dup = new_fp.join(corpus_fp, "fp", "left_semi").select(id_col)
    survivors = new_df.join(exact_dup, id_col, "left_anti")

    rows_per_band = num_hashes // bands
    bk_new = band_keys(
        minhash_signature(survivors, text_col, id_col, num_hashes),
        id_col, bands, rows_per_band,
    )
    bk_cor = corpus_bands if corpus_bands is not None else band_keys(
        minhash_signature(corpus_df, text_col, id_col, num_hashes),
        id_col, bands, rows_per_band,
    )
    cand = (
        bk_new.alias("n")
        .join(bk_cor.alias("c"), ["band_id", "band_hash"])
        .select(
            F.col(f"n.{id_col}").alias("a"), F.col(f"c.{id_col}").alias("b")
        )
        .distinct()
    )
    sh_new = survivors.join(
        cand.select(F.col("a").alias(id_col)).distinct(), id_col, "left_semi"
    ).select(F.col(id_col).alias("a"), word_shingles(text_col, shingle_n).alias("sh_a"))
    sh_cor = corpus_df.join(
        cand.select(F.col("b").alias(id_col)).distinct(), id_col, "left_semi"
    ).select(F.col(id_col).alias("b"), word_shingles(text_col, shingle_n).alias("sh_b"))
    near_dup = (
        cand.join(ensure_parallelism(sh_new), "a")
        .join(ensure_parallelism(sh_cor), "b")
        .withColumn("__n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(F.col("__n_inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__n_inter") / F.size(F.array_union("sh_a", "sh_b")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a").alias(id_col))
        .distinct()
    )
    return survivors.join(near_dup, id_col, "left_anti")


def contamination_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
) -> DataFrame:
    """Continuous companion of :func:`decontaminate`: per-doc overlap
    fraction ``round(|grams(doc) ∩ grams(bench)| / |grams(doc)|, 6)``
    instead of a drop/keep verdict — the report a pipeline uses to pick
    its decontamination threshold (and to audit near-miss docs the
    boolean filter would silently keep).

    Same scale shape as decontaminate: the benchmark gram set
    BROADCASTS, the corpus side is a map-side shingle explode, hits fall
    out of one grouped count; the corpus is never shuffled on content.
    Every doc has ≥1 shingle by ``word_shingles``' short-doc convention,
    so the division is total.
    """
    bench_grams = (
        benchmark.select(F.explode(word_shingles(text_col, shingle_n)).alias("g"))
        .distinct()
    )
    cg = ensure_parallelism(corpus).select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("g")
    )
    totals = cg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        cg.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.round(
                F.coalesce(F.col("__h"), F.lit(0)) / F.col("n_grams"), 6
            ).alias("contamination"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Snapshot diff between two corpus versions: per-doc status
    ``added`` / ``removed`` / ``modified`` / ``unchanged`` by id +
    normalized-text fingerprint — the release-notes report a curation
    pipeline emits between crawls (and the input to incremental
    reprocessing: only ``added``/``modified`` need re-scoring).

    One fingerprint projection per side + one full-outer keyed join on
    the id; no content shuffle (the md5 travels, not the text). At
    100 TB both sides usually already persist fingerprint columns
    (exact_dedup writes them) — pass projected frames to skip the
    recompute.
    """
    o = old.select(F.col(id_col), fingerprint(text_col).alias("__fp_old"))
    n = new.select(F.col(id_col), fingerprint(text_col).alias("__fp_new"))
    status = (
        F.when(F.col("__fp_old").isNull(), F.lit("added"))
        .when(F.col("__fp_new").isNull(), F.lit("removed"))
        .when(F.col("__fp_old") == F.col("__fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("modified"))
    )
    return o.join(n, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


# --- winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003) ------


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm):
    ``(id_col, pos, fp)`` — the selected k-gram hashes with their
    1-based gram positions.

    Per doc: hash every word k-gram (120-bit md5 prefix — 30 lowercase
    hex chars, whose LEXICOGRAPHIC order equals the numeric order of
    the 120-bit value, so window minima are well-defined and DuckDB
    mirrors them with plain string comparison; 60 bits was too narrow
    for collision-free fingerprinting at 100 TB gram counts), slide a
    window of ``w`` consecutive gram hashes, and
    keep each window's minimum (RIGHTMOST minimum on ties — standard
    winnowing's tie rule; deterministic and position-stable. NOT the
    "robust winnowing" variant, whose tie rule prefers re-selecting
    the previously selected hash), deduplicated. The
    guarantee (Schleimer §2): any shared run of at least ``w + k - 1``
    words between two documents shares at least one fingerprint, while
    only ~``2/(w+1)`` of grams are retained — a LOCAL fingerprinting
    scheme, unlike MinHash's whole-document signatures, so it powers
    span-level match detection (:func:`winnow_matches`) the way
    :func:`span_dedup` powers verbatim-inclusion cleanup.

    Plan shape: entirely map-side (token array, gram-hash array, and
    window-min selection are three staged projections — Catalyst does
    not CSE across nested higher-order functions, CLAUDE.md), then one
    ``explode_outer`` + explicit null filter (never an inner explode:
    the optimizer would push the implied ``size > 0`` filter below the
    projections and re-inline the whole array pipeline into a per-row
    Filter). Window minima fold in O(G·w) per doc with constant w.
    Docs shorter than ``k`` words contribute their full-text gram; empty
    docs contribute nothing.
    """
    kk, ww = int(k), int(w)
    # the O(G·w) hash/fold stage is compute-heavy: fan a small
    # single-split input out first (plan-size triggered, no-op at scale)
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(WORD_REGEX),
            0,
        ).alias("_wn_toks"),
    )
    toks = F.col("_wn_toks")
    n_grams = F.greatest(F.size(toks) - (kk - 1), F.lit(1))
    staged = staged.select(
        F.col(id_col),
        F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i, kk))), 1, 30
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_wn_gh"),
    )
    gh = F.col("_wn_gh")
    n_wins = F.greatest(F.size(gh) - (ww - 1), F.lit(1))
    # fold keeps <= so ties resolve to the RIGHTMOST minimal gram; the
    # zero element '~' sorts above every lowercase-hex hash (0x7e > 'f')
    zero = F.struct(
        F.lit("~").alias("h"), F.lit(-1).cast("int").alias("p")
    )

    def _win_min(j):
        return F.aggregate(
            F.sequence(j, F.least(j + (ww - 1), F.size(gh))),
            zero,
            lambda acc, p: F.when(
                F.element_at(gh, p) <= acc["h"],
                F.struct(
                    F.element_at(gh, p).alias("h"), p.cast("int").alias("p")
                ),
            ).otherwise(acc),
        )

    selected = staged.select(
        F.col(id_col),
        F.when(
            F.size(gh) > 0,
            F.array_distinct(F.transform(F.sequence(F.lit(1), n_wins), _win_min)),
        )
        .otherwise(F.array().cast("array<struct<h:string,p:int>>"))
        .alias("_wn_sel"),
    )
    ex = selected.select(F.col(id_col), F.explode_outer("_wn_sel").alias("s"))
    return ex.filter(F.col("s").isNotNull()).select(
        F.col(id_col),
        F.col("s.p").alias("pos"),
        F.col("s.h").alias("fp"),
    )


def robust_winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """ROBUST winnowing (Schleimer, Wilkerson & Aiken §5 — the variant
    :func:`winnow_fingerprints`'s docstring declines): per window,
    select the minimum gram hash, but break ties by RE-SELECTING the
    previous window's selection when it is still a minimal hash of this
    window — so long repetitive runs contribute ONE fingerprint
    instead of one per window, at the same w+k-1 shared-run guarantee.
    Falls back to the rightmost minimal hash when the previous
    selection is not available. Output matches the standard variant:
    ``(id_col, pos, fp)`` with 1-based gram positions and 30-hex-char
    (120-bit) md5-prefix fingerprints.

    Plan shape: the same three staged projections as the standard
    variant, except selection is a SINGLE sequential fold over window
    indices (``F.aggregate`` carrying (selected list, prev position))
    — the tie rule is a dependency chain across windows, so per-window
    independent minima cannot express it. Still entirely map-side, one
    explode, no Python; O(G·w) per doc with constant w."""
    kk, ww = int(k), int(w)
    staged = ensure_parallelism(df).select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(WORD_REGEX),
            0,
        ).alias("_rw_toks"),
    )
    toks = F.col("_rw_toks")
    n_grams = F.greatest(F.size(toks) - (kk - 1), F.lit(1))
    staged = staged.select(
        F.col(id_col),
        F.when(
            F.size(toks) > 0,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i, kk))), 1, 30
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("_rw_gh"),
    )
    gh = F.col("_rw_gh")
    n_wins = F.greatest(F.size(gh) - (ww - 1), F.lit(1))
    # per-window rightmost minimum, as in the standard variant
    zero_min = F.struct(
        F.lit("~").alias("h"), F.lit(-1).cast("int").alias("p")
    )

    def _win_min(j):
        return F.aggregate(
            F.sequence(j, F.least(j + (ww - 1), F.size(gh))),
            zero_min,
            lambda acc, p: F.when(
                F.element_at(gh, p) <= acc["h"],
                F.struct(
                    F.element_at(gh, p).alias("h"), p.cast("int").alias("p")
                ),
            ).otherwise(acc),
        )

    sel_zero = F.struct(
        F.array()
        .cast("array<struct<p:int,h:string>>")
        .alias("sel"),
        F.lit(-1).cast("int").alias("prev"),
    )

    def _step(acc, j):
        wmin = _win_min(j)
        keep_prev = (
            (acc["prev"] >= j)
            & (acc["prev"] <= j + (ww - 1))
            & (F.element_at(gh, acc["prev"]) == wmin["h"])
        )
        return F.when(keep_prev, acc).otherwise(
            F.struct(
                F.concat(
                    acc["sel"],
                    F.array(
                        F.struct(
                            wmin["p"].alias("p"), wmin["h"].alias("h")
                        )
                    ),
                ).alias("sel"),
                wmin["p"].alias("prev"),
            )
        )

    selected = staged.select(
        F.col(id_col),
        F.when(
            F.size(gh) > 0,
            F.array_distinct(
                F.aggregate(
                    F.sequence(F.lit(1), n_wins),
                    sel_zero,
                    _step,
                    lambda acc: acc["sel"],
                )
            ),
        )
        .otherwise(F.array().cast("array<struct<p:int,h:string>>"))
        .alias("_rw_sel"),
    )
    ex = selected.select(F.col(id_col), F.explode_outer("_rw_sel").alias("s"))
    return ex.filter(F.col("s").isNotNull()).select(
        F.col(id_col),
        F.col("s.p").alias("pos"),
        F.col("s.h").alias("fp"),
    )


def winnow_matches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 50,
) -> DataFrame:
    """Cross-doc match candidates by shared winnowing fingerprints:
    ``(doc_a, doc_b, shared_fps)`` for pairs sharing at least
    ``min_shared`` distinct fingerprint hashes.

    The join is FINGERPRINT-keyed (Σ per-hash doc-count², never
    all-pairs), with the standard hot-key cap: hashes present in more
    than ``max_fp_docs`` documents are boilerplate (headers, licenses)
    and are dropped before the self-join — the same knob as
    ``lsh_candidate_pairs.max_bucket_size`` and the hot-shingle cap, and
    the reason this scales: the cap bounds every hash's contribution at
    ``max_fp_docs²`` pairs regardless of corpus size. By Schleimer's
    guarantee a pair sharing a ≥ ``w + k - 1``-word run shares a
    fingerprint, so capped-hash misses are boilerplate by construction,
    not content.
    """
    fps = (
        winnow_fingerprints(df, text_col, id_col, k, w)
        .select(F.col(id_col), F.col("fp"))
        .distinct()
    )
    return _winnow_pairs_from_fps(fps, id_col, min_shared, max_fp_docs)


def _winnow_pairs_from_fps(
    fps: DataFrame, id_col: str, min_shared: int, max_fp_docs: int
) -> DataFrame:
    """Shared-fingerprint pair census over a distinct ``(id_col, fp)``
    frame — the join core of :func:`winnow_matches` /
    :func:`robust_winnow_matches`."""
    # one hash-keyed aggregation instead of count + semi-join + self-join:
    # each hash's (sorted, capped) doc list emits its pairs map-side — the
    # fingerprint pipeline runs ONCE (the naive self-join re-ran the scan
    # + tokenize per plan reference: 4 scans / 7 exchanges vs 1 / 3), and
    # the Σ bucket² work is bounded by max_fp_docs² per hash
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_docs"))
        .filter(
            (F.size("_docs") >= 2) & (F.size("_docs") <= int(max_fp_docs))
        )
    )
    docs_a = F.col("_docs")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(docs_a) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(docs_a)),
                lambda j: F.struct(
                    F.element_at(docs_a, i).alias("doc_a"),
                    F.element_at(docs_a, j).alias("doc_b"),
                ),
            ),
        )
    )
    exploded = buckets.select(F.explode_outer(pair_arr).alias("_p")).filter(
        F.col("_p").isNotNull()
    )
    return (
        exploded.select(F.col("_p.doc_a"), F.col("_p.doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= int(min_shared))
    )


def robust_winnow_matches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_fp_docs: int = 50,
) -> DataFrame:
    """:func:`winnow_matches` over the ROBUST selection
    (:func:`robust_winnow_fingerprints`) — the match side is where the
    robust variant's point shows: repetitive runs contribute ~1/w as
    many fingerprints at the SAME w+k-1 shared-run guarantee, so the
    fingerprint-keyed join moves proportionally fewer rows for the
    same recall. Same output shape and hot-hash cap as the standard
    variant (``(doc_a, doc_b, shared_fps)``; hashes in more than
    ``max_fp_docs`` docs are boilerplate and dropped)."""
    fps = (
        robust_winnow_fingerprints(df, text_col, id_col, k, w)
        .select(F.col(id_col), F.col("fp"))
        .distinct()
    )
    return _winnow_pairs_from_fps(fps, id_col, min_shared, max_fp_docs)


def winnow_retention_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    w: int = 4,
) -> DataFrame:
    """Fingerprint-retention census: standard vs robust winnowing at
    the same (k, w) — the measured form of Schleimer's density claim
    (standard selects ~2/(w+1) of grams, robust ~1/w on repetitive
    runs). One row per variant: total selected fingerprints, distinct
    hashes corpus-wide, the corpus gram count, and
    ``retention = n_fps / n_grams`` (6dp). Both selection pipelines are
    map-side; the report is two tiny aggregates + a scalar cross join
    (alias-qualified — Spark 4 flags ambiguous lineage otherwise)."""
    kk = int(k)
    toks = F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
        F.lit(WORD_REGEX),
        0,
    )
    grams = (
        df.select(F.size(toks).alias("_nt"))
        .filter(F.col("_nt") > 0)
        .agg(
            F.coalesce(
                F.sum(F.greatest(F.col("_nt") - (kk - 1), F.lit(1))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_grams")
        )
        .alias("tg")
    )

    def census(fps: DataFrame, name: str) -> DataFrame:
        agg = fps.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fps"),
            F.countDistinct("fp").cast("bigint").alias("n_distinct_fps"),
        )
        return agg.crossJoin(F.broadcast(grams)).select(
            F.lit(name).alias("variant"),
            F.col("tg.n_grams").alias("n_grams"),
            "n_fps",
            "n_distinct_fps",
            F.round(
                F.col("n_fps") / F.greatest(F.col("tg.n_grams"), F.lit(1)), 6
            ).alias("retention"),
        )

    std = census(winnow_fingerprints(df, text_col, id_col, k, w), "standard")
    rob = census(
        robust_winnow_fingerprints(df, text_col, id_col, k, w), "robust"
    )
    return std.unionByName(rob).orderBy("variant")


# --- ExactSubstr suffix-overlap dedup (Lee et al. 2022) -----------------------
#
# "Deduplicating Training Data Makes Language Models Better" (Lee et al.,
# ACL 2022) removes every duplicated substring of length >= L from all but
# one of its occurrences. The published implementation builds a monolithic
# suffix array; the Spark-first shape here is sorted L-gram anchors with
# coverage marking — no suffix array, no candidate-pair explosion:
#
# 1. every L-token window (stride 1 — EXACT recall at the threshold) hashes
#    to a 120-bit md5 key pair (``_hash120_cols``: two flat bigints from
#    hex chars 1-15/16-30 of ONE md5), map-side — 60 bits collide at
#    2x10^13 anchors (silent false removal at 100 TB), 120 bits don't;
# 2. ONE keyed aggregate per anchor computes (occurrence count, first site)
#    — partial-aggregatable, so the hot anchors this operator exists to
#    kill collapse map-side instead of flooding a reducer;
# 3. occurrences join back to the >=2-count anchors only (each site row
#    matches exactly one stats row — linear join, no pairs);
# 4. a duplicated maximal span of length M >= L is exactly the union of
#    its M-L+1 duplicated windows, so per-doc interval-merging the window
#    ranges (sort + running-max — the classic union, one per-doc window
#    pass) recovers MAXIMAL extents with no bidirectional-extension loop;
# 5. the FIRST occurrence of each window (min (doc_id, pos) site) is
#    protected, every other occurrence's range is removed; final removed
#    positions = merged removal coverage minus merged protection — each
#    duplicated window's content survives at exactly its first site.
#
# Granularity: lowercased WORD_REGEX tokens rejoined with single spaces
# (the span_dedup convention), not raw bytes — the reference unit of this
# repo's whole text shelf. Fully SQL-expressible, so the DuckDB oracle
# checks it end-to-end. At 100 TB the anchor table is corpus-sized x1
# (the same order as the published suffix array) and everything after the
# count>=2 filter is sized by the duplicated volume only.
#
# Reference scope note: the reference engine has no sub-document operator
# (its unit is the CSV row — SURVEY.md §1.1); this completes the published
# dedup family on the training-data extension surface: span_dedup (fixed
# non-overlapping spans), winnowing (shared runs >= w+k-1, sampled),
# ExactSubstr (ALL maximal verbatim overlaps >= L, exact, with removal).


def _merge_intervals(
    sites: DataFrame,
    id_col: str,
    min_tokens: int,
) -> DataFrame:
    """Union the fixed-length windows ``[pos, pos + L)`` per doc into
    disjoint maximal intervals ``(id_col, start, end)`` (end exclusive):
    sort by pos within the doc, a window starts a new interval iff its
    pos exceeds the running max end of everything before it."""
    keys = [id_col]
    w = Window.partitionBy(*keys).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(min_tokens)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        sites.select(*keys, "pos")
        .withColumn("_grp", grp)
        .groupBy(*keys, "_grp")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + F.lit(min_tokens)).alias("end"),
        )
        .select(*keys, "start", "end")
    )


def _subtract_intervals(
    removal: DataFrame, protect: DataFrame, id_col: str
) -> DataFrame:
    """Interval-algebra set difference removal ∖ protect, both sides
    ``(id_col, start, end)`` with end exclusive and intervals DISJOINT
    per doc (the ``_merge_intervals`` contract). Returns the maximal
    extents of positions covered by a removal interval and by no
    protection interval.

    Endpoint sweep, NOT per-position explode: each interval contributes
    exactly two boundary events (+1 at start, −1 at end) to its side's
    coverage counter; running sums over the per-doc position-ordered
    event stream give the (rem, prot) state between consecutive
    boundaries, and segments with state (1, 0) are emitted directly.
    The intermediate is interval-sized — on dup-heavy crawls the old
    position-level subtraction exploded ~corpus-volume rows. Output
    segments are already maximal: every boundary changes some counter,
    and disjoint-merged inputs cannot produce a no-op boundary between
    two adjacent (1, 0) segments."""
    rem_ev = removal.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(
                    F.col("start").alias("p"),
                    F.lit(1).alias("dr"),
                    F.lit(0).alias("dp"),
                ),
                F.struct(
                    F.col("end").alias("p"),
                    F.lit(-1).alias("dr"),
                    F.lit(0).alias("dp"),
                ),
            )
        ).alias("e"),
    )
    prot_ev = protect.select(
        F.col(id_col),
        F.explode(
            F.array(
                F.struct(
                    F.col("start").alias("p"),
                    F.lit(0).alias("dr"),
                    F.lit(1).alias("dp"),
                ),
                F.struct(
                    F.col("end").alias("p"),
                    F.lit(0).alias("dr"),
                    F.lit(-1).alias("dp"),
                ),
            )
        ).alias("e"),
    )
    ev = (
        rem_ev.unionByName(prot_ev)
        .select(id_col, F.col("e.p").alias("p"), "e.dr", "e.dp")
        .groupBy(id_col, "p")
        .agg(F.sum("dr").alias("dr"), F.sum("dp").alias("dp"))
    )
    w = Window.partitionBy(id_col).orderBy("p")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    seg = ev.select(
        F.col(id_col),
        F.col("p").alias("start"),
        F.lead("p").over(w).alias("end"),
        F.sum("dr").over(run).alias("rem_cov"),
        F.sum("dp").over(run).alias("prot_cov"),
    )
    return seg.filter(
        (F.col("rem_cov") >= 1)
        & (F.col("prot_cov") == 0)
        & F.col("end").isNotNull()
    ).select(id_col, "start", "end")


def _exactsubstr_tokens(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(id, pos, tok, n_tokens) — 0-based positions; NULL text = empty
    (posexplode_outer + explicit isNotNull, the span_dedup CSE/pushdown
    discipline)."""
    staged = df.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(WORD_REGEX),
            0,
        ).alias("_es_toks"),
    )
    return (
        staged.select(
            id_col,
            F.size("_es_toks").alias("n_tokens"),
            F.posexplode_outer("_es_toks"),
        )
        .filter(F.col("col").isNotNull())
        .select(
            id_col,
            "n_tokens",
            F.col("pos").cast("int").alias("pos"),
            F.col("col").alias("tok"),
        )
    )


def _exactsubstr_sites(
    df: DataFrame, text_col: str, id_col: str, min_tokens: int
) -> DataFrame:
    """Every L-token window as (id, pos, g1, g2): the 120-bit md5 key
    pair (``_hash120_cols``, seed ``es|``) of the space-joined window,
    anchored at 0-based token position pos. Docs shorter than L tokens
    contribute nothing (they cannot contain an L-gram). The token array
    and the gram md5 array each materialize in their own projection
    (Catalyst does not CSE across nested higher-order functions); the
    hex→bigint split runs per-row AFTER the explode so the md5 is
    computed once per window inside the lambda."""
    L = int(min_tokens)
    staged = df.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(WORD_REGEX),
            0,
        ).alias("_es_toks"),
    )
    toks = F.col("_es_toks")
    staged = staged.withColumn(
        "_es_md5",
        F.when(
            F.size(toks) >= L,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - L),
                lambda i: F.md5(
                    F.concat(
                        F.lit("es|"), F.concat_ws(" ", F.slice(toks, i + 1, L))
                    )
                ),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # hex→bigint split in its OWN array stage (md5 computed once per
    # window above; the explode then carries 16-byte key structs, and
    # the downstream groupBy/join key on two bigints — measured faster
    # than both a 30-char string key and post-explode convs on the 64×
    # sweep)
    staged = staged.withColumn(
        "_es_keys",
        F.transform(
            F.col("_es_md5"),
            lambda h: F.struct(*_hash120_cols(h)),
        ),
    )
    return (
        staged.select(F.col(id_col), F.posexplode_outer("_es_keys"))
        .filter(F.col("col").isNotNull())
        .select(
            id_col,
            F.col("pos").cast("int").alias("pos"),
            F.col("col.g1").alias("g1"),
            F.col("col.g2").alias("g2"),
        )
    )


def exactsubstr_removals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    _sites_fn=None,
) -> DataFrame:
    """Maximal removal extents: ``(id_col, start, end)`` token intervals
    (0-based, end exclusive) whose content duplicates, token-for-token,
    content first seen at an earlier (doc_id, pos) site — with the first
    occurrence of every duplicated window carved OUT of the extents, so
    exactly one copy of each duplicated span survives corpus-wide.

    The groupBy-count treats an anchor-key collision as a duplicate with
    NO downstream verify, so the key must be collision-free at corpus
    scale — the 120-bit md5 key pair (``_hash120_cols``) keeps the
    expected number of colliding window pairs ≈ 1.5e-10 even at ~2e13
    stride-1 anchors (100 TB). ``_sites_fn`` is a TEST-ONLY hook that
    substitutes the site builder, used by the collision-injection test
    to prove a deliberately-narrowed key produces false removals that
    the production key does not.

    Cites Lee et al. 2022 §4 (ExactSubstr); granularity and conventions
    in the section header above."""
    L = int(min_tokens)
    if L < 1:
        raise ValueError("exactsubstr: min_tokens must be >= 1")
    # parallelism wrap goes on the INPUT: the gram projection is the
    # heavy stage and must run on the repartitioned rows, not before
    # the exchange
    sites = (_sites_fn or _exactsubstr_sites)(
        ensure_parallelism(df), text_col, id_col, L
    ).localCheckpoint(eager=False)
    # anchor stats: map-side-combined groupBy (hot grams collapse in the
    # combiner — the scale-safe shape; a window over the anchor key
    # would ship every site of a boilerplate gram to one reducer)
    stats = (
        sites.groupBy("g1", "g2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(id_col, "pos")).alias("first_site"),
        )
        .filter(F.col("c") >= 2)
        .localCheckpoint(eager=False)
    )
    # Identity that removes the per-site flag join entirely: with every
    # first window contained in the protection coverage,
    #   (all dup windows) ⊖ protection == (non-first dup windows) ⊖
    #   protection
    # — a position covered only by first windows is subtracted either
    # way. So the removal side is just a SEMI join of sites against the
    # dup-anchor key set (no struct payload, no flag compare), and the
    # protection side reads the first sites straight off the stats
    # aggregate with NO join back to sites at all.
    # no forced broadcast: AQE broadcasts the anchor set when it fits
    # and skew-splits the shuffled semi join when it does not (join
    # skew IS AQE-splittable, unlike window skew)
    dup_sites = sites.join(
        stats.select("g1", "g2"), ["g1", "g2"], "left_semi"
    )
    first_sites = stats.select(
        F.col(f"first_site.{id_col}").alias(id_col),
        F.col("first_site.pos").alias("pos"),
    )
    removal = _merge_intervals(dup_sites, id_col, L)
    protect = _merge_intervals(first_sites, id_col, L)
    # interval-algebra subtraction (endpoint sweep): the intermediate is
    # interval-sized — the old position-level explode/anti-join was
    # linear in COVERED token volume, which ≈ corpus volume on dup-heavy
    # crawls
    return _subtract_intervals(removal, protect, id_col)


def exactsubstr_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> DataFrame:
    """The Lee et al. 2022 rewrite: every doc with its duplicated byte
    ranges (here: token ranges, see section header) removed. Returns
    ALL input docs as ``(id_col, text_dedup, n_tokens, n_removed)`` —
    fully-duplicate docs come back with ``text_dedup = ''`` (the
    published semantics removes the range, it does not drop the doc),
    short/empty docs come back unchanged with ``n_removed = 0``."""
    L = int(min_tokens)
    removals = exactsubstr_removals(df, text_col, id_col, L)
    return rewrite_without_ranges(df, removals, text_col, id_col)


def rewrite_without_ranges(
    df: DataFrame,
    removals: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reconstruct every doc with the given token intervals removed —
    the shared rewrite tail of :func:`exactsubstr_rewrite` and
    :func:`decontaminate_spans`. ``removals`` is ``(id_col, start,
    end)`` with end exclusive, intervals DISJOINT per doc (the
    _merge_intervals contract — overlapping inputs would double-count
    ``n_removed``). Returns ALL input docs as ``(id_col, text_dedup,
    n_tokens, n_removed)``; docs with no removals come back unchanged
    (modulo the WORD_REGEX lowercased single-space token convention)."""
    removed_pos = removals.select(
        F.col(id_col),
        F.explode(F.sequence("start", F.col("end") - 1)).alias("pos"),
    ).localCheckpoint(eager=False)
    toks = _exactsubstr_tokens(df, text_col, id_col)
    kept = toks.join(removed_pos, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_rem = removed_pos.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    base = df.select(
        F.col(id_col),
        F.size(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                F.lit(WORD_REGEX),
                0,
            )
        ).cast("bigint").alias("n_tokens"),
    )
    return (
        base.join(rebuilt.select(id_col, "text_dedup"), id_col, "left")
        .join(n_rem, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
        )
    )


def decontaminate_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 13,
) -> DataFrame:
    """Span-SURGICAL decontamination: instead of dropping every document
    that overlaps the benchmark (:func:`decontaminate` — the blunt
    published default), REMOVE exactly the offending token ranges and
    keep the rest of the document (the ExactSubstr machinery pointed at
    an external anchor set). Completes the decontamination family:
    drop-doc (`decontaminate`), Bloom-prefiltered drop-doc
    (`bloom_decontaminate`), and now range surgery.

    Removed = the interval UNION of every corpus ``min_tokens``-window
    whose content appears as a window of some benchmark doc — no
    protection pass (ALL benchmark-overlapping content goes, including
    from the first doc that carries it; benchmark members present in
    the corpus rewrite to empty text). ``min_tokens`` defaults to 13 —
    the standard eval-overlap convention shared with
    :func:`decontaminate`.

    Scale shape: benchmark anchors are one distinct gram set (a few
    rows per eval doc); corpus windows join it keyed on the 60-bit
    anchor — no pair explosion, corpus never content-shuffled; the
    rewrite is the shared linear reconstruction."""
    L = int(min_tokens)
    if L < 1:
        raise ValueError("decontaminate_spans: min_tokens must be >= 1")
    bench_anchors = (
        _exactsubstr_sites(benchmark, text_col, id_col, L)
        .select("g1", "g2")
        .distinct()
    )
    sites = _exactsubstr_sites(
        ensure_parallelism(corpus), text_col, id_col, L
    )
    hit = sites.join(bench_anchors, ["g1", "g2"]).select(id_col, "pos")
    removals = _merge_intervals(hit, id_col, L)
    return rewrite_without_ranges(corpus, removals, text_col, id_col)


def _merge_general_intervals(
    intervals: DataFrame, id_col: str
) -> DataFrame:
    """Union possibly-overlapping ``(id_col, start, end)`` intervals
    (end exclusive) into disjoint maximal ones — running-max over
    start order; touching intervals merge (same covered set)."""
    w = Window.partitionBy(id_col).orderBy("start", "end")
    prev_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        (F.col("start") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        intervals.withColumn("_grp", grp)
        .groupBy(id_col, "_grp")
        .agg(F.min("start").alias("start"), F.max("end").alias("end"))
        .select(id_col, "start", "end")
    )


def _fused_position_entries(
    corpus: DataFrame, text_col: str, id_col: str, L: int, D: int
) -> DataFrame:
    """One tokenize → per-position struct (tok, g_es, g_dc): the token
    plus the L- and D-gram md5s starting at that position (NULL where
    the window would overrun). One staged token projection, one staged
    entry-array projection (nested-HOF CSE discipline), one outer
    explode — plan-pinned to a single ``regexp_extract_all``. Returns
    ``(id_col, n_tokens, pos, e)``; empty/NULL docs keep their one
    outer row (e NULL, n_tokens 0) so the base roster is complete."""
    staged = ensure_parallelism(corpus).select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(WORD_REGEX),
            0,
        ).alias("_fz_toks"),
    )
    toks = F.col("_fz_toks")
    n = F.size(toks)

    def _win_md5(i, width):
        return F.when(
            i <= n - width,
            F.md5(
                F.concat(
                    F.lit("es|"),
                    F.concat_ws(" ", F.slice(toks, i + 1, width)),
                )
            ),
        )

    staged = staged.withColumn(
        "_fz_ent",
        F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.struct(
                    F.element_at(toks, i + 1).alias("tok"),
                    _win_md5(i, L).alias("g_es"),
                    _win_md5(i, D).alias("g_dc"),
                ),
            ),
        ).otherwise(
            F.array().cast(
                "array<struct<tok:string,g_es:string,g_dc:string>>"
            )
        ),
    )
    return staged.select(
        F.col(id_col),
        F.size("_fz_ent").cast("bigint").alias("n_tokens"),
        F.posexplode_outer("_fz_ent"),
    ).select(
        id_col,
        "n_tokens",
        F.col("pos").cast("int").alias("pos"),
        F.col("col").alias("e"),
    )


def exactsubstr_decon_rewrite(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    decon_min_tokens: int = 13,
) -> DataFrame:
    """FUSED ExactSubstr dedup + span decontamination in ONE corpus
    tokenize: remove every token range of the ORIGINAL text that is
    (a) a corpus-duplicated ≥ ``min_tokens``-window occurrence other
    than its first site (the :func:`exactsubstr_removals` rule, with
    first-occurrence protection), or (b) covered by a
    ``decon_min_tokens``-window matching the benchmark (the
    :func:`decontaminate_spans` rule, NO protection). Returns ALL
    corpus docs as ``(id_col, text_dedup, n_tokens, n_removed)``.

    Both consumers build window hashes over the same corpus, so
    running them as separate cascade stages pays two tokenize+scan
    pipelines (7 ``regexp_extract_all`` projections across the pair);
    here ONE staged projection emits, per token position, the token
    plus the 20- and 13-gram md5s, and one explode feeds the
    duplicate-anchor count, the benchmark probe, AND the rewrite
    reconstruction — 2 ``regexp_extract_all`` total (corpus once,
    benchmark once; plan-pinned). Semantics note: this is range
    removal computed on the original text, not the sequential
    composition (a sequential decon pass re-tokenizes the REWRITTEN
    text, where tokens adjacent across a removed range can form new
    benchmark windows — both are published-shaped; the fused form is
    the one-pass cascade stage)."""
    L, D = int(min_tokens), int(decon_min_tokens)
    if L < 1 or D < 1:
        raise ValueError("exactsubstr_decon_rewrite: token widths >= 1")
    # checkpointed ONCE, consumed by the anchor count, the benchmark
    # probe, and the rewrite tail — the materialization is what makes
    # "one corpus tokenize" structural, not just a plan-dedup hope
    # r13 probe: eager=True here measured SLOWER (alternating arms,
    # min 7.5 s lazy vs 9.5 s eager) — the exploded frame is token-
    # level (~100 MB at sf0.1) so the serialization outweighs the
    # overlapped duplicate evaluation of the 4 consumer branches; the
    # lazy checkpoint keeps one shared RDD with race-overlap instead.
    exploded = _fused_position_entries(
        corpus, text_col, id_col, L, D
    ).localCheckpoint(eager=False)
    sites_es = exploded.filter(F.col("e.g_es").isNotNull()).select(
        id_col, "pos", *_hash120_cols(F.col("e.g_es"))
    )
    sites_dc = exploded.filter(F.col("e.g_dc").isNotNull()).select(
        id_col, "pos", *_hash120_cols(F.col("e.g_dc"))
    )
    # ExactSubstr arm: the no-flag-join identity of
    # exactsubstr_removals — all dup windows ⊖ first-window protection
    stats = (
        sites_es.groupBy("g1", "g2")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct(id_col, "pos")).alias("first_site"),
        )
        .filter(F.col("c") >= 2)
        .localCheckpoint(eager=False)
    )
    dup_sites = sites_es.join(
        stats.select("g1", "g2"), ["g1", "g2"], "left_semi"
    )
    first_sites = stats.select(
        F.col(f"first_site.{id_col}").alias(id_col),
        F.col("first_site.pos").alias("pos"),
    )
    es_rem = _subtract_intervals(
        _merge_intervals(dup_sites, id_col, L),
        _merge_intervals(first_sites, id_col, L),
        id_col,
    )
    # decontamination arm: benchmark anchor probe, no protection
    bench_anchors = (
        _exactsubstr_sites(benchmark, text_col, id_col, D)
        .select("g1", "g2")
        .distinct()
    )
    dc_rem = _merge_intervals(
        sites_dc.join(bench_anchors, ["g1", "g2"]).select(id_col, "pos"), id_col, D
    )
    removals = _merge_general_intervals(
        es_rem.unionByName(dc_rem), id_col
    )
    removed_pos = removals.select(
        F.col(id_col),
        F.explode(F.sequence("start", F.col("end") - 1)).alias("pos"),
    ).localCheckpoint(eager=False)
    # shared rewrite tail over the SAME exploded frame (no re-tokenize)
    kept = exploded.filter(F.col("e").isNotNull()).join(
        removed_pos, [id_col, "pos"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", F.col("e.tok").alias("tok")))
                ),
                lambda x: x["tok"],
            ),
        ).alias("text_dedup")
    )
    n_rem = removed_pos.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    base = exploded.groupBy(id_col).agg(F.min("n_tokens").alias("n_tokens"))
    return (
        base.join(rebuilt, id_col, "left")
        .join(n_rem, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text_dedup"), F.lit("")).alias("text_dedup"),
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint").alias(
                "n_removed"
            ),
        )
    )


def exactsubstr_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
) -> DataFrame:
    """Duplication-saturation report — the observability face of the
    ExactSubstr machinery (the window-level analog of FineWeb's
    duplicate-line fraction): per doc, how many of its ``min_tokens``-
    token windows are corpus-duplicated (occur at ≥ 2 sites anywhere,
    self-repeats included) and what fraction of the doc that is.
    Returns ``(id_col, n_windows, n_dup_windows, dup_window_frac)`` for
    every doc with at least one window; ``dup_window_frac`` rounded to
    6dp. Rank by it to find boilerplate-saturated documents BEFORE
    deciding rewrite-vs-drop.

    Same cost shape as :func:`exactsubstr_removals` minus the interval
    work: one anchor count + one join back, no pair explosion."""
    L = int(min_tokens)
    if L < 1:
        raise ValueError("exactsubstr_dup_stats: min_tokens must be >= 1")
    sites = _exactsubstr_sites(
        ensure_parallelism(df), text_col, id_col, L
    ).localCheckpoint(eager=False)
    dup_anchors = (
        sites.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("g1", "g2")
    )
    dup_counts = (
        sites.join(dup_anchors, ["g1", "g2"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_windows"))
    )
    totals = sites.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows")
    )
    return totals.join(dup_counts, id_col, "left").select(
        id_col,
        F.col("n_windows").cast("bigint").alias("n_windows"),
        F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("bigint").alias(
            "n_dup_windows"
        ),
        F.round(
            F.coalesce(F.col("n_dup_windows"), F.lit(0))
            / F.col("n_windows"),
            6,
        ).alias("dup_window_frac"),
    )


def lsh_banding_plan(
    pairs: DataFrame,
    num_hashes: int = 16,
    jaccard_col: str = "jaccard",
    weight_col: str | None = None,
) -> DataFrame:
    """MinHash-LSH banding advisor: for EVERY (bands, rows_per_band)
    factorization of ``num_hashes``, the expected candidate recall over
    a MEASURED pair population — the quantified answer to "how should I
    band my 16 hashes for THIS corpus" (the S-curve math alone answers
    it only for a hypothetical threshold; this evaluates it against the
    actual near-dup pairs an exact join found, so the number read off
    is the recall LSH would have had here).

    Per pair with similarity j, the band-collision probability is the
    standard ``1 − (1 − j^r)^b`` (Leskovec-Rajaraman-Ullman §3.4);
    ``expected_recall`` is its mean over the pairs (floats summed raw,
    ONE 6dp round at the end — the float-sum contract), and
    ``s_midpoint = (1/b)^(1/r)`` is where the curve crosses ~50% — pick
    the banding whose midpoint sits just under your threshold and read
    the recall you will actually get. Input pairs carry 6dp-rounded
    jaccards (``prefix_filter_pairs`` output), so both engines evaluate
    the curve at identical points.

    Scale: one broadcast of the ≤ d(num_hashes)-row banding table over
    the pair frame (pair-sized, already the small output of an exact
    join), one keyed aggregate.

    ``weight_col`` makes each pair row stand for an integer MULTIPLICITY
    of identical-jaccard pairs — the replicated-corpus lever: run the
    exact join on exact-dedup KEEPERS only, weight each keeper pair by
    ``n_docs(a)·n_docs(b)`` and add one ``j=1`` row of weight C(n,2)
    per exact group, and the advisor equals the raw-pair run
    (J(copy, x) = J(keeper, x)) at keeper-pair cost instead of the
    replica-quadratic pair materialization.
    """
    if num_hashes < 1:
        raise ValueError("lsh_banding_plan: num_hashes must be >= 1")
    bandings = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    spark = pairs.sparkSession
    bdf = spark.createDataFrame(bandings, "bands INT, rows_per_band INT")
    j = F.col(jaccard_col).cast("double")
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(j, F.col("rows_per_band").cast("double")),
        F.col("bands").cast("double"),
    )
    if weight_col is not None:
        # integer-multiplicity contract: a weight is a pair COUNT, so
        # NULL / zero / negative weights are caller bugs that would
        # silently skew (or NULL) the advisor output choose_banding
        # collects and acts on — raise at evaluation instead (the
        # ewma_scaled_value precedent)
        w_raw = F.col(weight_col).cast("bigint")
        w = F.when(w_raw.isNotNull() & (w_raw >= 1), w_raw).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "lsh_banding_plan: weight_col must be a "
                        "non-NULL integer multiplicity >= 1, got "
                    ),
                    F.coalesce(w_raw.cast("string"), F.lit("NULL")),
                )
            ).cast("bigint")
        )
    else:
        w = F.lit(1).cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(bdf))
        .groupBy("bands", "rows_per_band")
        .agg(
            F.sum(w).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(w.cast("double") * p) / F.sum(w).cast("double"), 6
            ).alias("expected_recall"),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_pairs",
            "expected_recall",
            F.round(
                F.pow(
                    F.lit(1.0) / F.col("bands").cast("double"),
                    F.lit(1.0) / F.col("rows_per_band").cast("double"),
                ),
                6,
            ).alias("s_midpoint"),
        )
    )


def choose_banding(
    pairs: DataFrame,
    num_hashes: int = 16,
    threshold: float = 0.5,
    jaccard_col: str = "jaccard",
    min_recall: float = 0.9,
) -> tuple[int, int]:
    """Pick a (bands, rows_per_band) factorization from
    :func:`lsh_banding_plan`'s advisor table — the loop-closer between
    the advisor report and the MinHash serving path (r11 VERDICT
    "what's missing #2").

    Rule: among bandings whose S-curve midpoint sits at or below the
    Jaccard ``threshold`` (so recall at the threshold exceeds 50%),
    take the TIGHTEST one (largest ``s_midpoint``) that still shows
    ``expected_recall >= min_recall`` on the measured pairs — the
    highest-precision banding that keeps the recall contract. (The
    naive "max expected_recall" rule degenerates to rows_per_band=1 —
    every doc pair sharing one hash collides — which maximizes false
    candidates; precision is why banding exists.) If no banding meets
    ``min_recall``, the most-recalling candidate wins (explicitly
    best-effort). Ties break toward more bands, deterministically.

    The advisor table is d(num_hashes) rows — a control-plane collect,
    never corpus-sized. ``pairs`` is a MEASURED near-dup pair table
    (exact-join output such as ``prefix_filter_pairs``, typically on a
    sample at 100 TB), so the recall read off is this corpus's, not a
    hypothetical's.
    """
    rows = lsh_banding_plan(pairs, num_hashes, jaccard_col).collect()
    if not rows:
        raise ValueError("choose_banding: advisor table is empty")
    thr = round(float(threshold), 6)
    under = [r for r in rows if r["s_midpoint"] <= thr]
    ok = [r for r in under if r["expected_recall"] >= min_recall]
    if ok:
        best = max(ok, key=lambda r: (r["s_midpoint"], r["bands"]))
    else:
        pool = under or rows
        best = max(
            pool, key=lambda r: (r["expected_recall"], -r["s_midpoint"], r["bands"])
        )
    return int(best["bands"]), int(best["rows_per_band"])
