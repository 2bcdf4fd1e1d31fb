"""End-to-end BATCH corpus curation: the published training-data
cascade composed from this engine's individually-oracle-proven stages,
in the standard cost order (cheapest key first, content surgery last):

    1. URL-level dedup            (web.url_dedup — canonical-form keys)
    2. exact text dedup           (dedup.exact_dedup — fingerprint keys)
    3. ExactSubstr range rewrite  (dedup.exactsubstr_rewrite — remove
                                   duplicated >= L-token ranges, keep
                                   first occurrences)
    4. quality filter             (text.quality_score cut, post-rewrite
                                   — surgery can empty a doc)
    5. per-domain cap             (web.domain_capped_docs — C4 recipe)
    6. token-budget selection     (sampling.select_token_budget —
                                   best-quality-first under a budget)

Every stage is optional (None/0 skips it); each consumes the previous
stage's survivors only, so the expensive content stages never see rows
a cheaper key already killed — the RefinedWeb/C4 ordering argument.
Stage boundaries are eagerly localCheckpointed so the per-stage census
(`report`) never re-runs upstream stages.

Returns ``(kept_docs, report)``: the surviving documents (text
REWRITTEN in place when stage 3 ran, plus ``n_removed``) and a small
``(stage, n_docs)`` census frame — the number left AFTER each enabled
stage, in order, for pipeline observability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    decontaminate_spans,
    exact_dedup,
    exactsubstr_decon_rewrite,
    exactsubstr_rewrite,
)
from ..operators.sampling import select_token_budget
from ..operators.text import quality_score
from ..operators.web import domain_capped_docs, url_dedup


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str | None = None,
    exactsubstr_min_tokens: int | None = 20,
    min_quality: float | None = None,
    n_per_domain: int | None = None,
    token_budget: int | None = None,
    benchmark: DataFrame | None = None,
    decon_min_tokens: int = 13,
    n_salts: int | None = None,
    hot_min_rows: int | None = None,
    c4_clean: dict | None = None,
    scrub_pii: bool = False,
    return_ledger: bool = False,
) -> tuple[DataFrame, DataFrame] | tuple[DataFrame, DataFrame, DataFrame]:
    """Run the cascade (see module docstring). ``url_col`` enables
    stages 1 and 5; ``min_quality`` enables stage 4 (keep docs with
    ``quality_score >= min_quality``); ``token_budget`` enables stage 6.
    ``benchmark`` adds span-surgical decontamination at stage 3: with
    ExactSubstr also enabled the two run FUSED
    (``dedup.exactsubstr_decon_rewrite`` — one corpus tokenize feeds
    both window widths, plan-pinned), otherwise
    ``decontaminate_spans`` runs alone. ``n_salts`` / ``hot_min_rows``
    pass through to the domain-cap stage (the measured 1.48× salted /
    routed hot-domain levers, ``web.domain_capped_docs``) so a
    known-hot crawl uses them WITHOUT bypassing the cascade — the kept
    set is identical on every path (3-way cascade-level test).
    ``c4_clean`` (a kwargs dict for ``text.c4_line_filter``; ``{}`` for
    the published defaults) enables the pipeline's STAGE 0 — line-level
    cleaning before any content key is computed (C4 runs it first for
    the same reason this cascade orders cheap keys first: dedup and
    quality keys over boilerplate lines are wasted work); docs the C4
    doc rules drop leave the cascade, survivors carry the CLEANED text
    forward. ``scrub_pii`` adds PII masking (``text.scrub_text``) as
    the LAST stage — after every content key is computed, so masking
    never perturbs dedup/anchor/quality decisions and the emitted
    corpus alone carries the masked text. Equivalent to applying the
    stages sequentially by hand (pinned by test) — this wrapper adds
    the ordering, the survivor plumbing, and the census."""
    stages: list[tuple[str, DataFrame]] = []
    cur = docs

    def _mark(name: str, df: DataFrame) -> DataFrame:
        # r13 opt (guide §1.2/§5; the CLAUDE.md PPR materialize-before-
        # the-loop lesson): stage boundaries must MATERIALIZE in order.
        # A lazy checkpoint alone let the census (and the ledger) fan
        # out into one final job whose per-stage branches all race to
        # recompute the whole upstream cascade from the raw scan —
        # stage k's count re-ran stages 1..k, so the census paid a
        # quadratic number of stage evaluations ("Block rdd_N already
        # exists" warnings in the bench log). Eager checkpointing runs
        # each stage exactly once, every consumer (next stage, census
        # row, ledger anti-join) reads the cached blocks.
        out = df.localCheckpoint(eager=True)
        stages.append((name, out))
        return out

    if c4_clean is not None:
        from ..operators.text import c4_line_filter

        flagged = c4_line_filter(cur, text_col=text_col, **c4_clean)
        cleaned = flagged.filter(F.col("keep")).select(
            *[
                F.col("text_clean").alias(text_col) if c == text_col else c
                for c in docs.columns
            ]
        )
        cur = _mark("c4_line_clean", cleaned)
    if url_col is not None:
        cur = _mark("url_dedup", url_dedup(cur, url_col, id_col))
    cur = _mark(
        "exact_dedup",
        cur.join(
            exact_dedup(cur, text_col, id_col).select(id_col),
            id_col,
            "left_semi",
        ),
    )
    rewritten, rewrite_stage = None, None
    if exactsubstr_min_tokens and benchmark is not None:
        rewritten = exactsubstr_decon_rewrite(
            cur, benchmark, text_col, id_col, exactsubstr_min_tokens,
            decon_min_tokens,
        )
        rewrite_stage = "exactsubstr_decon_rewrite"
    elif exactsubstr_min_tokens:
        rewritten = exactsubstr_rewrite(
            cur, text_col, id_col, exactsubstr_min_tokens
        )
        rewrite_stage = "exactsubstr_rewrite"
    elif benchmark is not None:
        rewritten = decontaminate_spans(
            cur, benchmark, text_col, id_col, decon_min_tokens
        )
        rewrite_stage = "decontaminate_spans"
    if rewritten is not None:
        cur = _mark(
            rewrite_stage,
            cur.drop(text_col).join(
                rewritten.select(
                    id_col,
                    F.col("text_dedup").alias(text_col),
                    "n_removed",
                ),
                id_col,
            ),
        )
    if min_quality is not None:
        scored = quality_score(cur.select(id_col, text_col), text_col)
        keep_ids = scored.filter(
            F.col("quality_score") >= float(min_quality)
        ).select(id_col)
        cur = _mark("quality_filter", cur.join(keep_ids, id_col, "left_semi"))
    if n_per_domain and url_col is not None:
        capped = domain_capped_docs(
            cur, url_col, n_per_domain, order_col=id_col, id_col=id_col,
            descending=False, n_salts=n_salts, hot_min_rows=hot_min_rows,
        )
        cur = _mark("domain_cap", capped.drop("domain"))
    if token_budget:
        scored = quality_score(cur.select(id_col, text_col), text_col)
        chosen = select_token_budget(
            scored, token_budget,
            score_col="quality_score", token_col="stat_n_words",
            id_col=id_col,
        ).select(id_col)
        cur = _mark("token_budget", cur.join(chosen, id_col, "left_semi"))
    if scrub_pii:
        # LAST stage by design: masking rewrites the text, so every
        # content key (dedup hashes, ExactSubstr anchors, quality
        # features) must be computed on the original — the emitted
        # corpus alone carries the masked form. Map-side projection,
        # keeps every stage above byte-identical.
        from ..operators.text import scrub_text

        cur = _mark(
            "pii_scrub",
            scrub_text(cur, text_col, out_col="__scrubbed").select(
                *[
                    F.col("__scrubbed").alias(c) if c == text_col else c
                    for c in cur.columns
                ]
            ),
        )

    spark = docs.sparkSession
    report = None
    for name, df in stages:
        row = df.groupBy().agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs")
        ).select(F.lit(name).alias("stage"), "n_docs")
        report = row if report is None else report.unionByName(row)
    if report is None:
        report = spark.createDataFrame([], "stage STRING, n_docs BIGINT")
    if not return_ledger:
        return cur, report
    # per-doc drop ledger: the FIRST stage whose survivor set lost the
    # doc ("why did my doc disappear" — the census at doc granularity).
    # Each step is an id-only anti-join between consecutive survivor
    # sets; text-rewrite stages drop nobody and contribute no rows.
    prev = docs.select(id_col)
    ledger = None
    for name, df in stages:
        ids = df.select(id_col)
        dropped = prev.join(ids, id_col, "left_anti").select(
            F.col(id_col), F.lit(name).alias("dropped_at")
        )
        ledger = dropped if ledger is None else ledger.unionByName(dropped)
        prev = ids
    kept_rows = prev.select(F.col(id_col), F.lit("kept").alias("dropped_at"))
    ledger = (
        kept_rows if ledger is None else ledger.unionByName(kept_rows)
    )
    return cur, report, ledger
