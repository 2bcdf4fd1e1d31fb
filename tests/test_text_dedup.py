"""Text-analysis + dedup operator tests (SURVEY.md §7.1 M6)."""

import pytest
from pyspark.sql import functions as F

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import dedup as D
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "THE  Quick  Brown fox jumps over the lazy dog"),  # normalized dup
        (4, "the quick brown fox jumps over a sleepy cat"),  # near dup
        (5, "completely different content about spark engines"),
        (6, ""),  # empty
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_count_and_stats(spark, docs):
    out = T.text_stats(docs).filter(F.col("doc_id") == 1).first()
    assert out["stat_n_words"] == 9
    assert out["stat_n_tokens"] == 9
    assert out["stat_punct_ratio"] == 0.0
    assert out["stat_stopword_ratio"] > 0  # 'the' x2, 'over'... 'the' counted

    punct = spark.createDataFrame([(1, "Hi, there! Ok?")], ["doc_id", "text"])
    s = T.text_stats(punct).first()
    assert s["stat_n_tokens"] == 6  # Hi , there ! Ok ?
    assert s["stat_punct_ratio"] == round(3 / 14, 6)


def test_language_id_votes(spark):
    rows = [
        (1, "the cat and the dog is in the house"),
        (2, "el perro y la casa de los gatos en un pueblo"),
        (3, "zzz qqq xxx"),  # no stopwords anywhere
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["lang_pred"] for r in T.language_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "und"}


def test_fingerprint_normalizes(spark, docs):
    fps = {r["doc_id"]: r["fp"] for r in
           docs.select("doc_id", T.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]  # case + whitespace folded
    assert fps[1] != fps[4]


def test_exact_dedup(spark, docs):
    groups = D.exact_dedup_groups(docs)
    trio = groups.filter(F.col("n_docs") == 3).first()
    assert trio["keep_id"] == 1
    kept = D.exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert ids == {1, 4, 5, 6}


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    sh = df.select(D.word_shingles("text").alias("s")).first()["s"]
    assert sh == ["a b c", "b c d", "c d e"]
    # shorter than n words → whole text as one shingle
    df2 = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    assert df2.select(D.word_shingles("text").alias("s")).first()["s"] == ["a b"]


def test_jaccard_pairs_exact(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             D.jaccard_pairs(docs, threshold=0.3).collect()}
    # identical docs → jaccard 1.0 for (1,2),(1,3),(2,3)
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] == 1.0
    assert pairs[(2, 3)] == 1.0
    # near-dup (shares 'the quick brown fox jumps over' shingles)
    assert (1, 4) in pairs and 0.3 <= pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_minhash_lsh_finds_dups(spark, docs):
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           D.minhash_dedup_pairs(docs, threshold=0.3).collect()}
    # exact dups must always collide in every band
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 1.0
    # LSH output is a subset of exact jaccard pairs
    exact = {(r["a"], r["b"]) for r in D.jaccard_pairs(docs, threshold=0.3).collect()}
    assert set(got) <= exact


def test_minhash_signature_identical_for_dups(spark, docs):
    sigs = {r["doc_id"]: r["sig"] for r in D.minhash_signature(docs).collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    assert sigs[1] != sigs[5]
    assert len(sigs[1]) == 16


def test_simhash_properties(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2] == sh[3]  # identical token multisets
    assert 0 <= sh[1] < 2**32
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             D.simhash_pairs(docs, max_hamming=10).collect()}
    assert pairs[(1, 2)] == 0
    # near-dup doc 4 should be close to 1 in hamming space
    if (1, 4) in pairs:
        assert pairs[(1, 4)] <= 10


def test_tfidf_top_terms(spark):
    """A corpus-wide term scores 0 (idf = ln(1) = 0); a term unique to
    one doc carries that doc's top score; ranking is (rounded score
    desc, term asc)."""
    import math

    rows = [
        (0, "common zebra zebra"),
        (1, "common apple"),
        (2, "common apple banana"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        (r["doc_id"], r["term"]): r["tfidf"]
        for r in T.tfidf_top_terms(df, k=2).collect()
    }
    # doc 0: zebra tf=2, df=1 -> 2*ln(3); common 0.0
    assert got[(0, "zebra")] == pytest.approx(round(2 * math.log(3), 6))
    assert got[(0, "common")] == 0.0
    # doc 2: banana unique beats apple (df=2)
    assert got[(2, "banana")] == pytest.approx(round(math.log(3), 6))
    assert got[(2, "apple")] == pytest.approx(round(math.log(3 / 2), 6))
    # k=2 cut applied per doc
    assert len([1 for (d, _) in got if d == 2]) == 2


def test_chunk_documents_windows(spark):
    """Window coverage contract: contiguous, final window reaches the
    last token, no window fully contained in its predecessor, short docs
    yield one whole-doc chunk, empty docs yield none."""
    ten = " ".join(f"t{i}" for i in range(1, 11))
    rows = [(0, ten), (1, "a b"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = T.chunk_documents(df, chunk_tokens=4, overlap=1)
    got = {
        (r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_text"])
        for r in out.collect()
    }
    assert got[(0, 0)] == (4, "t1 t2 t3 t4")
    assert got[(0, 1)] == (4, "t4 t5 t6 t7")
    assert got[(0, 2)] == (4, "t7 t8 t9 t10")   # reaches the last token
    assert got[(1, 0)] == (2, "a b")            # short doc: one chunk
    assert {d for d, _ in got} == {0, 1}        # empty doc: no rows

    with pytest.raises(ValueError):
        T.chunk_documents(df, chunk_tokens=4, overlap=4)


def test_lsh_bucket_cap_bounds_hot_buckets(spark):
    """Pathological corpus: 60 docs sharing one boilerplate text land in
    ONE bucket per band — uncapped that is 60*59/2 pairs per band; the
    cap must bound it at cap*(cap-1)/2 with deterministic (lowest-id)
    survivors, while distinct docs are unaffected."""
    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(60)]
    distinct = [
        (100 + i, f"unique document number {i} with its own words {i * 7}")
        for i in range(5)
    ]
    df = spark.createDataFrame(boiler + distinct, "doc_id int, text string")
    sigs = D.minhash_signature(df)

    uncapped = D.lsh_candidate_pairs(sigs).filter("a < 100").count()
    assert uncapped == 60 * 59 // 2

    capped = D.lsh_candidate_pairs(sigs, max_bucket_size=10).filter("a < 100")
    rows = capped.collect()
    assert len(rows) == 10 * 9 // 2
    # deterministic survivors: the 10 lowest ids
    assert {r["a"] for r in rows} | {r["b"] for r in rows} == set(range(10))

    with pytest.raises(ValueError):
        D.lsh_candidate_pairs(sigs, max_bucket_size=1)


def test_lsh_bucket_cap_off_matches_default(spark, docs):
    sigs = D.minhash_signature(docs)
    base = set(map(tuple, D.lsh_candidate_pairs(sigs).collect()))
    huge = set(map(tuple, D.lsh_candidate_pairs(sigs, max_bucket_size=10_000).collect()))
    assert base == huge


def test_minhash_dedup_pairs_accepts_cap(spark, docs):
    out = D.minhash_dedup_pairs(docs, threshold=0.5, max_bucket_size=50)
    assert out.columns == ["a", "b", "jaccard"]
    assert out.count() >= 0


def test_decontaminate_drops_overlapping_docs(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated text about engines and turbines"),
            (3, "quick brown fox phrases appear here too"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "watch the quick brown fox run")], "doc_id long, text string"
    )
    # 3-gram 'the quick brown' / 'quick brown fox' hit docs 1 and 3
    kept = D.decontaminate(corpus, bench, shingle_n=3)
    assert {r["doc_id"] for r in kept.collect()} == {2}

    # min_overlap=3: doc 3 shares only 'quick brown fox' (1 gram) → kept;
    # doc 1 shares 'the quick brown' + 'quick brown fox' (2) → also kept
    kept2 = D.decontaminate(corpus, bench, shingle_n=3, min_overlap=3)
    assert {r["doc_id"] for r in kept2.collect()} == {1, 2, 3}

    with pytest.raises(ValueError):
        D.decontaminate(corpus, bench, min_overlap=0)


def test_decontaminate_default_13gram(spark):
    shared = "one two three four five six seven eight nine ten eleven twelve thirteen"
    corpus = spark.createDataFrame(
        [(1, f"prefix words {shared} suffix words"), (2, "a short clean doc")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, shared)], "doc_id long, text string")
    kept = D.decontaminate(corpus, bench)  # n=13
    assert {r["doc_id"] for r in kept.collect()} == {2}


def test_repetition_stats_exact_fractions(spark):
    rows = [
        # 'spam spam spam spam': w=4xspam, g2=3x'spam spam' (top 3/3),
        # g3=2x dup (2/2), max word 4/4
        (1, "spam spam spam spam"),
        # all distinct words: bigrams unique (1/3), trigrams unique (0/2),
        # max word 1/4
        (2, "alpha beta gamma delta"),
        (3, ""),          # empty: all 0
        (4, "one two"),   # no trigrams: dup_trigram_frac 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    assert out[1]["top_bigram_frac"] == 1.0
    assert out[1]["dup_trigram_frac"] == 1.0
    assert out[1]["max_word_frac"] == 1.0
    assert out[2]["top_bigram_frac"] == round(1 / 3, 6)
    assert out[2]["dup_trigram_frac"] == 0.0
    assert out[2]["max_word_frac"] == 0.25
    assert out[3]["top_bigram_frac"] == 0.0
    assert out[3]["dup_trigram_frac"] == 0.0
    assert out[3]["max_word_frac"] == 0.0
    assert out[4]["dup_trigram_frac"] == 0.0
    assert out[4]["top_bigram_frac"] == 1.0  # single bigram is the top one


def test_repetition_stats_null_text(spark):
    """NULL text must behave as empty (0.0 everywhere) — oracle parity."""
    df = spark.createDataFrame([(1, None), (2, "a a")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.repetition_stats(df).collect()}
    assert (
        out[1]["top_bigram_frac"],
        out[1]["dup_trigram_frac"],
        out[1]["max_word_frac"],
    ) == (0.0, 0.0, 0.0)
    assert out[2]["max_word_frac"] == 1.0


def test_unigram_logprob_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a"), (2, "b"), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in T.unigram_logprob(df).collect()}
    # vocab: a=2, b=1, N=3
    assert out[1]["n_tokens"] == 2
    assert out[1]["mean_logprob"] == pytest.approx(round(math.log(2 / 3), 6))
    assert out[2]["mean_logprob"] == pytest.approx(round(math.log(1 / 3), 6))
    assert 3 not in out  # no tokens → no row (matches the SQL oracle)


# --- span / paragraph dedup --------------------------------------------------


def test_span_dedup_first_occurrence_wins(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),          # spans: "a b c","d e f","g"
            (2, "a b c x y z"),            # "a b c" seen -> keeps "x y z"
            (3, "x y z a b c"),            # both spans seen -> doc dropped
            (4, None),                     # NULL text -> no spans -> dropped
            (5, ""),                       # empty -> dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in D.span_dedup(df, span_words=3).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["text_dedup"] == "a b c d e f g"
    assert (out[1]["n_spans"], out[1]["n_kept"]) == (3, 3)
    assert out[2]["text_dedup"] == "x y z"
    assert (out[2]["n_spans"], out[2]["n_kept"]) == (2, 1)


def test_span_dedup_order_within_doc_preserved(spark):
    # surviving spans must be stitched in original span order, not
    # collection order
    df = spark.createDataFrame(
        [(1, "p q r"), (2, "z z z p q r a a a")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in D.span_dedup(df, span_words=3).collect()}
    assert out[2]["text_dedup"] == "z z z a a a"


def test_paragraph_dedup_delimiter_and_joiner(spark):
    df = spark.createDataFrame(
        [
            (1, "hello world\n\nfoo bar"),
            (2, "foo bar\n\nnew para"),      # "foo bar" seen at doc 1
            (3, "hello world"),              # fully duplicate -> dropped
            (4, "  \n\n  "),                 # whitespace-only -> dropped
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in D.paragraph_dedup(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["text_dedup"] == "hello world\n\nfoo bar"
    assert out[2]["text_dedup"] == "new para"
    assert out[2]["n_spans"] == 2 and out[2]["n_kept"] == 1


def test_paragraph_dedup_trims_before_matching(spark):
    # "foo bar" and "  foo bar  " are the same paragraph after trim
    df = spark.createDataFrame(
        [(1, "foo bar"), (2, "  foo bar  ")], ["doc_id", "text"]
    )
    out = D.paragraph_dedup(df).collect()
    assert [r["doc_id"] for r in out] == [1]


# --- corpus-quantile threshold filter ---------------------------------------


def test_quantile_threshold_filter_interpolates(spark):
    # values 10,20,30,40 -> P50 = 25.0 (linear interpolation); keep >= 25
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)], ["doc_id", "score"]
    )
    out = T.quantile_threshold_filter(df, "score", p=0.5).collect()
    assert sorted(r["doc_id"] for r in out) == [3, 4]
    assert out[0]["q_threshold"] == 25.0


def test_quantile_threshold_filter_approx_path(spark):
    # approx_percentile on small data is exact-on-distinct-values; the
    # sketch path must produce a usable threshold column too
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], ["doc_id", "score"]
    )
    out = T.quantile_threshold_filter(df, "score", p=0.9, exact=False)
    kept = out.count()
    assert 5 <= kept <= 15  # ~10 rows above P90, sketch tolerance




# --- incremental cross-corpus dedup ------------------------------------------


def test_dedup_against_corpus_exact_and_near(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different corpus content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            # exact (normalized) duplicate of corpus doc 1 -> rejected
            (10, "THE  quick brown fox jumps over the lazy dog tonight"),
            # near duplicate of corpus doc 1: one word APPENDED, so all
            # original shingles survive (Jaccard 0.8 — this exact pair
            # collides in 2 of 4 LSH bands under the deterministic md5
            # family; a mid-text word swap drops Jaccard to ~0.45 where
            # 16x4 LSH recall is only ~16%, which is sketch behavior,
            # not a bug) -> rejected by the Jaccard verify
            (11, "the quick brown fox jumps over the lazy dog tonight friends"),
            # genuinely new -> admitted
            (12, "a totally novel document about distributed minhash"),
        ],
        ["doc_id", "text"],
    )
    admitted = sorted(
        r["doc_id"]
        for r in D.dedup_against_corpus(new, corpus, threshold=0.2).collect()
    )
    assert admitted == [12]


def test_dedup_against_corpus_does_not_dedup_within_batch(spark):
    # two identical NEW docs, neither in the corpus: both admitted —
    # within-batch dedup is explicitly out of scope (compose exact_dedup)
    corpus = spark.createDataFrame(
        [(1, "existing corpus text about engines")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(10, "fresh new document body"), (11, "fresh new document body")],
        ["doc_id", "text"],
    )
    admitted = sorted(
        r["doc_id"]
        for r in D.dedup_against_corpus(new, corpus, threshold=0.2).collect()
    )
    assert admitted == [10, 11]


def test_dedup_against_corpus_precomputed_index_equivalent(spark):
    # passing persisted fingerprint/band-key index tables must give the
    # same admissions as recomputing from the corpus text
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "existing corpus text about engines and pipelines"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            (11, "fresh new document body about something else"),
        ],
        ["doc_id", "text"],
    )
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        fingerprint,
    )

    fp_index = corpus.select(fingerprint("text").alias("fp")).distinct()
    band_index = D.band_keys(D.minhash_signature(corpus))
    direct = sorted(
        r["doc_id"] for r in D.dedup_against_corpus(new, corpus).collect()
    )
    indexed = sorted(
        r["doc_id"]
        for r in D.dedup_against_corpus(
            new, corpus, corpus_fp=fp_index, corpus_bands=band_index
        ).collect()
    )
    assert direct == indexed == [11]


# --- Gopher/C4 rule battery --------------------------------------------------


def test_gopher_rules_flags_and_keep(spark):
    long_good = "the quick brown fox and the lazy dog sat in it " * 4  # 48 words
    df = spark.createDataFrame(
        [
            (1, long_good),                      # passes everything
            (2, "short text"),                   # fails word count
            (3, None),                           # NULL -> 0 words
            (4, long_good + " lorem ipsum"),     # blocklist hit
            (5, long_good.replace("fox", "###...###")),  # symbol-heavy
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in T.gopher_rules(df, min_words=20).collect()
    }
    assert out[1]["keep"] is True
    assert out[1]["rule_word_count"] and out[1]["rule_stopwords"]
    assert out[2]["rule_word_count"] is False and out[2]["keep"] is False
    assert out[3]["n_words"] == 0 and out[3]["keep"] is False
    assert out[3]["mean_word_len"] == 0.0  # empty-safe, matches oracle
    assert out[4]["rule_blocklist"] is False and out[4]["keep"] is False
    assert out[5]["rule_symbol_ratio"] is False
    # symbol ratio counts '#' and '...' occurrences per word
    assert out[5]["symbol_word_ratio"] > 0.1


def test_gopher_rules_mean_word_len_bounds(spark):
    # 25 one-letter words -> mean length 1 -> fails [3, 10]
    df = spark.createDataFrame(
        [(1, "a " * 25), (2, "abcdefghijklmno " * 25)], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in T.gopher_rules(df).collect()}
    assert out[1]["mean_word_len"] == 1.0
    assert out[1]["rule_mean_word_len"] is False
    assert out[2]["mean_word_len"] == 15.0
    assert out[2]["rule_mean_word_len"] is False  # > 10


def test_span_dedup_plan_materializes_tokens_once(spark):
    # Catalyst does not CSE across nested higher-order functions: the
    # token array must appear as its own projection, or the regex
    # re-runs per span (measured 29.7s -> 2.4s at sf0.1 explode stage).
    df = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
    plan = D.span_dedup(df, span_words=3)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_extract_all") == 1


def test_bigram_logprob_exact_values(spark):
    import math

    # corpus: "a b a b" (doc 1), "a b" (doc 2), "x" (doc 3: <2 words -> no row)
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in T.bigram_logprob(df).collect()}
    assert set(out) == {1, 2}
    # counts: unigrams a:3 b:3 x:1, N=7; bigrams "a b":3, "b a":1
    # P(b|a) = .5*3/3 + .5*3/7 ; P(a|b) = .5*1/3 + .5*3/7
    p_ab = 0.5 * 3 / 3 + 0.5 * 3 / 7
    p_ba = 0.5 * 1 / 3 + 0.5 * 3 / 7
    exp1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_logprob"] == pytest.approx(exp1)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["mean_logprob"] == pytest.approx(round(math.log(p_ab), 6))


def test_bigram_logprob_rejects_bad_lambda(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        T.bigram_logprob(df, lam=0.0)
    with pytest.raises(ValueError):
        T.bigram_logprob(df, min_count=0)


def test_bigram_logprob_min_count_pruning(spark):
    import math

    # same corpus as the exact-values test: bigrams "a b":3, "b a":1.
    # min_count=2 prunes the hapax "b a"; its probes fall back to the
    # pure unigram term .5*c(a)/N. Docs keep all their rows (pruning
    # changes the MODEL, not the probe stream).
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], ["doc_id", "text"]
    )
    # min_count=1 must be bit-identical to the default (left-join +
    # coalesce is invisible when nothing is pruned)
    base = sorted(map(tuple, T.bigram_logprob(df).collect()))
    mc1 = sorted(map(tuple, T.bigram_logprob(df, min_count=1).collect()))
    assert mc1 == base
    out = {r["doc_id"]: r for r in T.bigram_logprob(df, min_count=2).collect()}
    assert set(out) == {1, 2}
    p_ab = 0.5 * 3 / 3 + 0.5 * 3 / 7          # "a b" survives (count 3)
    p_ba_pruned = 0.5 * 0 / 3 + 0.5 * 3 / 7   # "b a" pruned: backoff only
    exp1 = round((2 * math.log(p_ab) + math.log(p_ba_pruned)) / 3, 6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_logprob"] == pytest.approx(exp1)
    # doc 2 contains only the surviving bigram: unchanged by pruning
    assert out[2]["mean_logprob"] == pytest.approx(round(math.log(p_ab), 6))


def test_hashed_tf_long_and_dense_agree(spark):
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b"), (3, None), (4, "")], ["doc_id", "text"]
    )
    long_rows = T.hashed_tf(df, dim=8).collect()
    dense_rows = {r["doc_id"]: r["tf_vec"] for r in
                  T.hashed_tf(df, dim=8, dense=True).collect()}
    # token-less docs emit nothing in either form
    ids = {r["doc_id"] for r in long_rows}
    assert ids == {1, 2} and set(dense_rows) == {1, 2}
    # dense vector is exactly the scattered long form
    for r in long_rows:
        assert dense_rows[r["doc_id"]][r["bucket"]] == float(r["tf"])
    assert sum(dense_rows[1]) == 4.0  # 4 tokens in doc 1
    # deterministic across invocations
    assert sorted(map(tuple, long_rows)) == sorted(
        map(tuple, T.hashed_tf(df, dim=8).collect())
    )


def test_hashed_tf_feeds_semantic_dedup(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.similarity import (
        semantic_dedup,
    )

    # two near-identical docs (same bag of words) + one distinct: the
    # hashing-trick vectors make the duplicate pair cosine-1.0, so
    # semantic_dedup drops the higher-id twin with no external model
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "zeta epsilon delta gamma beta alpha"),  # same bag
            (3, "totally different words entirely here now"),
        ],
        ["doc_id", "text"],
    )
    vecs = T.hashed_tf(df, dim=16, dense=True).select(
        F.col("doc_id").alias("vec_id"), F.col("tf_vec").alias("embedding")
    )
    kept = {r["vec_id"] for r in
            semantic_dedup(vecs, threshold=0.95, k=2, n_iter=1).collect()}
    assert kept == {1, 3}


def test_perplexity_buckets_tertile_partition(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        perplexity_buckets,
    )

    # 9 docs on a clear fluency gradient: common-word docs score high
    # under the self-unigram LM, rare-token docs low
    rows = [
        (1, "the the the the the"), (2, "the the the the and"),
        (3, "the and the and the"), (4, "the and of to in"),
        (5, "the of and qq to"), (6, "and to of zz yy"),
        (7, "xx yy zz ww vv"), (8, "aa bb cc dd ee"),
        (9, "ff gg hh ii jj"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = perplexity_buckets(df)
    got = {r["doc_id"]: r["ppl_bucket"] for r in out.collect()}
    assert len(got) == 9
    assert set(got.values()) == {"head", "middle", "tail"}
    # the most fluent doc is head, the rarest-token docs are tail
    assert got[1] == "head"
    assert got[8] == "tail" and got[9] == "tail"
    # monotone: scores ordered by bucket rank
    scores = {r["doc_id"]: r["mean_logprob"] for r in out.collect()}
    rank = {"head": 2, "middle": 1, "tail": 0}
    for a in rows:
        for b in rows:
            if rank[got[a[0]]] > rank[got[b[0]]]:
                assert scores[a[0]] >= scores[b[0]]


def test_perplexity_buckets_approx_same_shape(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        perplexity_buckets,
    )

    df = spark.createDataFrame(
        [(i, f"w{i % 7} the and of w{i % 3}") for i in range(40)],
        ["doc_id", "text"],
    )
    exact = perplexity_buckets(df, exact=True)
    approx = perplexity_buckets(df, exact=False)
    assert exact.columns == approx.columns
    assert approx.count() == 40


def test_dsir_select_prefers_target_like_docs(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        dsir_select,
    )

    target = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat") for i in range(5)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "the cat sat on a mat"),      # near-target
            (2, "cat mat the sat on on"),     # same unigrams, off bigrams
            (3, "zz qq ww ee rr tt"),         # nothing in common
            (4, "stock market prices fell"),  # nothing in common
        ],
        ["doc_id", "text"],
    )
    top2 = dsir_select(raw, target, k=2, dim=256)
    assert {r["doc_id"] for r in top2.collect()} == {1, 2}
    ranked = dsir_select(raw, target, k=4, dim=256).collect()
    ws = {r["doc_id"]: r["dsir_logw"] for r in ranked}
    assert ws[1] > ws[3] and ws[1] > ws[4]
    # weights are data-derived: the near-target doc scores above the
    # unigram-only match because bigram features count too
    assert ws[1] > ws[2]

    with pytest.raises(ValueError):
        dsir_select(raw, target, k=0)


def test_repeated_passages_counts_and_cut(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        repeated_passages,
    )

    boiler = "all rights reserved click here now"
    rows = [
        (1, f"document one {boiler} body text alpha"),
        (2, f"document two {boiler} body text beta"),
        (3, f"{boiler} {boiler}"),           # twice in one doc
        (4, "totally unrelated content with nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repeated_passages(df, n=6, min_docs=2, k=10).collect()
    got = {r["gram"]: (r["n_docs"], r["n_occurrences"]) for r in out}
    assert got["all rights reserved click here now"] == (3, 4)
    # nothing from the unique doc survives min_docs=2
    assert all("unrelated" not in g for g in got)
    with pytest.raises(ValueError):
        repeated_passages(df, n=0)


def test_cap_per_group_deterministic_retention(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.sampling import (
        cap_per_group,
    )

    rows = [(i, "s1" if i < 6 else "s2", 100 - i) for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    kept = cap_per_group(df, "source", 3, "n_chars")
    by_src = {}
    for r in kept.collect():
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # n_chars desc == doc_id asc here
    assert sorted(by_src["s1"]) == [0, 1, 2]
    assert sorted(by_src["s2"]) == [6, 7, 8]
    # ascending flips the retention
    kept_asc = cap_per_group(df, "source", 2, "n_chars", descending=False)
    ids = sorted(r["doc_id"] for r in kept_asc.collect())
    assert ids == [4, 5, 8, 9]
    with pytest.raises(ValueError):
        cap_per_group(df, "source", 0, "n_chars")


def test_contamination_scores_fraction(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        contamination_scores,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),        # identical: 1.0
            (2, "the quick brown cat sits quietly"), # partial overlap
            (3, "nothing shared at all here"),       # 0.0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           contamination_scores(corpus, bench, shingle_n=3).collect()}
    assert got[1]["contamination"] == 1.0
    assert 0.0 < got[2]["contamination"] < 1.0
    assert got[3]["contamination"] == 0.0
    # doc 2: grams = 4 trigram shingles, 1 shared ("the quick brown")
    assert got[2]["n_grams"] == 4 and got[2]["contamination"] == 0.25


def test_corpus_diff_statuses(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        corpus_diff,
    )

    old = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "gamma text")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(2, "beta text"), (3, "gamma text REVISED"), (4, "delta text")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "modified", 4: "added"}
    # fingerprint normalization: case/whitespace changes are NOT modifications
    new2 = spark.createDataFrame([(2, "  BETA   text ")], ["doc_id", "text"])
    got2 = {r["doc_id"]: r["status"]
            for r in corpus_diff(old.filter("doc_id = 2"), new2).collect()}
    assert got2 == {2: "unchanged"}


def test_build_corpus_index_feeds_intake(spark):
    # build_corpus_index output is drop-in for corpus_fp/corpus_bands and
    # admits the exact set the index-less formulation admits
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "existing corpus text about engines and pipelines"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            (11, "fresh new document body about something else"),
        ],
        ["doc_id", "text"],
    )
    fp, bands = D.build_corpus_index(corpus)
    assert fp.columns == ["fp"]
    assert bands.columns == ["doc_id", "band_id", "band_hash"]
    direct = sorted(
        r["doc_id"] for r in D.dedup_against_corpus(new, corpus).collect()
    )
    indexed = sorted(
        r["doc_id"]
        for r in D.dedup_against_corpus(
            new, corpus, corpus_fp=fp, corpus_bands=bands
        ).collect()
    )
    assert direct == indexed == [11]


def test_extend_corpus_index_matches_rebuild(spark):
    # extending the index with an admitted batch == rebuilding over the
    # union (both passes are per-row deterministic)
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "existing corpus text about engines and pipelines"),
        ],
        ["doc_id", "text"],
    )
    admitted = spark.createDataFrame(
        [(11, "fresh new document body about something else")],
        ["doc_id", "text"],
    )
    ext_fp, ext_bands = D.extend_corpus_index(
        D.build_corpus_index(corpus), admitted
    )
    re_fp, re_bands = D.build_corpus_index(corpus.unionByName(admitted))
    assert sorted(r["fp"] for r in ext_fp.collect()) == sorted(
        r["fp"] for r in re_fp.collect()
    )
    key = lambda r: (r["doc_id"], r["band_id"], r["band_hash"])
    assert sorted(map(key, ext_bands.collect())) == sorted(
        map(key, re_bands.collect())
    )


def test_containment_catches_asymmetric_inclusion(spark):
    # a small doc quoted verbatim inside a much larger one: Jaccard is
    # tiny (size asymmetry) but containment of the smaller side is 1.0
    small = "alpha beta gamma delta epsilon zeta"
    big = small + " " + " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame([(1, big), (2, small)], ["doc_id", "text"])
    cand = spark.createDataFrame([(1, 2)], ["a", "b"])
    got = D.verify_containment_on_candidates(df, cand, threshold=0.9).collect()
    assert len(got) == 1 and got[0]["containment"] == 1.0
    jac = D.verify_jaccard_on_candidates(df, cand, threshold=0.0).collect()
    assert jac[0]["jaccard"] < 0.1  # Jaccard-threshold dedup misses it


def test_minhash_estimate_tracks_exact_jaccard(spark):
    # identical docs estimate 1.0 exactly; near-dups estimate within the
    # sketch's 1/sqrt(k) band of the true value
    t1 = "the quick brown fox jumps over the lazy dog tonight my friends"
    df = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t1 + " again")], ["doc_id", "text"]
    )
    rows = {(r["a"], r["b"]): r for r in D.minhash_estimate_pairs(df).collect()}
    exact_pair = rows[(1, 2)]
    assert exact_pair["est_jaccard"] == 1.0 and exact_pair["jaccard"] == 1.0
    for k, r in rows.items():
        assert abs(r["est_jaccard"] - r["jaccard"]) <= 0.5  # k=16 band


def test_minhash_estimate_leaves_no_cached_frame(spark, docs, monkeypatch):
    """The candidate stage persists nothing, so neither a finished
    report nor a step that raises mid-build leaves a frame in the
    session's cache (the old persist/count/unpersist sequence had no
    try/finally and leaked both frames on an error)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # frames other tests left in the session
    assert cache.isEmpty()
    assert D.minhash_estimate_pairs(docs).count() > 0
    assert cache.isEmpty()

    def boom(*args, **kwargs):
        raise RuntimeError("verify failed")

    monkeypatch.setattr(D, "verify_jaccard_on_candidates", boom)
    with pytest.raises(RuntimeError, match="verify failed"):
        D.minhash_estimate_pairs(docs)
    assert cache.isEmpty()


def test_minhash_estimate_construction_job_count_pin(spark, docs):
    """Fast-tier pin on the Spark jobs that BUILDING the estimate report
    runs on the 6-doc fixture (local[4] test session): 21-22 before the
    candidate stage moved to lazy checkpoints (persist + count of the
    candidates, then an eager checkpoint of the report), 3 after — the
    adaptive-execution shuffle stages under the two lazy checkpoints
    (signature repartition, band self-join, candidate distinct)."""
    import uuid

    sc = spark.sparkContext
    group = f"minhash-estimate-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "minhash_estimate_pairs construction")
    try:
        out = D.minhash_estimate_pairs(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 3
    assert {(r["a"], r["b"]) for r in out.collect()} >= {(1, 2), (1, 3), (2, 3)}


def test_bm25_hand_computed(spark):
    import math

    # corpus of 3 docs, query = ["cat", "dog"]
    rows = [(0, "cat cat fish"), (1, "dog"), (2, "fish bird"), (3, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["bm25"]
        for r in T.bm25_scores(df, ["cat", "dog"]).collect()
    }
    n, k1, b = 4.0, 1.2, 0.75
    avgdl = round((3 + 1 + 2 + 0) / 4.0, 6)
    def idf(dfreq):
        return round(math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 6)
    def score(tf, dl, dfreq):
        return (idf(dfreq) * (tf * (k1 + 1.0))) / (
            tf + k1 * (1 - b + b * dl / avgdl)
        )
    assert out[0] == round(score(2, 3, 1) + 0.0, 6)   # cat twice
    assert out[1] == round(score(1, 1, 1), 6)          # dog once, short doc
    assert out[2] == 0.0 and out[3] == 0.0             # no hits / NULL text
    # top_k cuts on rounded score desc with id tiebreak
    top = T.bm25_scores(df, ["cat", "dog"], top_k=2).collect()
    assert [r["doc_id"] for r in top] == sorted(
        out, key=lambda d: (-out[d], d)
    )[:2]
    # string query tokenizes through the same word regex
    via_str = {
        r["doc_id"]: r["bm25"]
        for r in T.bm25_scores(df, "Cat, DOG!").collect()
    }
    assert via_str == out
    with pytest.raises(ValueError):
        T.bm25_scores(df, [])


def test_edit_distance_pairs_semantics(spark):
    base = ("alpha bravo charlie delta echo foxtrot golf hotel india "
            "juliet kilo lima mike november oscar papa quebec romeo "
            "sierra tango uniform victor whiskey xray yankee zulu")
    rows = [
        (0, base + " dog"),
        (1, base + " cat"),  # 3-char edit on a long shared prefix
        (2, "completely different text about spark shuffles here!"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], ["a", "b"])
    out = {
        (r["a"], r["b"]): (r["dist"], r["edit_sim"])
        for r in D.edit_distance_pairs(
            df, threshold=0.0, candidates=cands
        ).collect()
    }
    L = len(base) + 4
    assert out[(0, 1)][0] == 3
    assert out[(0, 1)][1] == round(1.0 - 3 / L, 6)
    # NULL text behaves as empty: dist = len(other), sim 0 at len parity
    assert out[(0, 3)][0] == L and out[(0, 3)][1] == 0.0
    # threshold filters on the rounded normalized similarity
    kept = {
        (r["a"], r["b"])
        for r in D.edit_distance_pairs(
            df, threshold=0.9, candidates=cands
        ).collect()
    }
    assert kept == {(0, 1)}
    # without candidates=, blocking comes from MinHash banding: the two
    # one-word-apart docs share bands, the unrelated doc does not
    auto = {
        (r["a"], r["b"])
        for r in D.edit_distance_pairs(df, threshold=0.9).collect()
    }
    assert auto == {(0, 1)}


def test_edit_distance_prefilter_lossless(spark):
    # the verify prefilters (length band, equality short-circuit,
    # thresholded levenshtein) must be invisible: results identical to
    # the naive plain-levenshtein formulation on every candidate pair,
    # including boundary pairs sitting exactly at the threshold
    rows = [
        (0, "abcdefghij" * 20),
        (1, "abcdefghij" * 20),            # identical -> short-circuit
        (2, "abcdefghij" * 20 + "x" * 20),  # dist 20 of L 220: sim 0.909090
        (3, "abcdefghij" * 20 + "x" * 23),  # dist 23 of L 223: sim ~0.8968
        (4, "x" * 200),                     # same length, far content
        (5, "ab"),                          # tiny: length band kills it
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cands = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(a + 1, 6)], ["a", "b"]
    )
    got = {
        (r["a"], r["b"]): (r["dist"], r["edit_sim"])
        for r in D.edit_distance_pairs(
            df, threshold=0.9, candidates=cands
        ).collect()
    }
    # naive oracle in python
    import math

    def lev(s, t):
        if s == t:
            return 0
        prev = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            cur = [i]
            for j, ct in enumerate(t, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cs != ct))
                )
            prev = cur
        return prev[-1]

    want = {}
    txt = dict(rows)
    for a in range(6):
        for b in range(a + 1, 6):
            d = lev(txt[a], txt[b])
            L = max(len(txt[a]), len(txt[b]), 1)
            sim = round(1.0 - d / L, 6)
            # HALF_UP like Spark for the .5 boundary
            sim = math.floor((1.0 - d / L) * 1e6 + 0.5) / 1e6
            if sim >= 0.9:
                want[(a, b)] = (d, sim)
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == (0, 1.0)


def test_bm25_additivity_across_terms(spark):
    # BM25 is a sum of independent per-term scores: scoring with the
    # union of two disjoint term sets must equal the sum of scoring
    # each set alone (6dp rounding commutes within tolerance)
    rows = [
        (0, "cat cat fish bird"), (1, "dog fish"), (2, "bird bird dog"),
        (3, "fish"), (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = {r["doc_id"]: r["bm25"] for r in T.bm25_scores(df, ["cat", "dog"]).collect()}
    b = {r["doc_id"]: r["bm25"] for r in T.bm25_scores(df, ["fish"]).collect()}
    ab = {r["doc_id"]: r["bm25"]
          for r in T.bm25_scores(df, ["cat", "dog", "fish"]).collect()}
    for d in a:
        assert abs(ab[d] - (a[d] + b[d])) < 2e-6, d
    # duplicate query terms collapse (no double counting)
    dup = {r["doc_id"]: r["bm25"]
           for r in T.bm25_scores(df, ["cat", "cat", "dog"]).collect()}
    assert dup == a


def test_bm25_indexed_matches_direct(spark, docs):
    # serving from the prebuilt (stats, doclen, postings) index must be
    # bit-identical to the direct corpus-scan form, including zero-score
    # docs, NULL text, absent query terms, and the top-k cut
    rows = [(0, "cat cat fish"), (1, "dog"), (2, "fish bird"), (3, None),
            (4, "cat dog cat dog unicorn")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = T.build_bm25_index(df)
    for terms in (["cat", "dog"], ["absent_term"], ["fish"]):
        direct = {(r["doc_id"], r["bm25"])
                  for r in T.bm25_scores(df, terms).collect()}
        served = {(r["doc_id"], r["bm25"])
                  for r in T.bm25_scores_indexed(idx, terms).collect()}
        assert served == direct, terms
    top_d = T.bm25_scores(df, ["cat", "dog"], top_k=3).collect()
    top_i = T.bm25_scores_indexed(idx, ["cat", "dog"], top_k=3).collect()
    assert [(r["doc_id"], r["bm25"]) for r in top_d] == [
        (r["doc_id"], r["bm25"]) for r in top_i
    ]
    # and on the real documents table
    real = docs.select("doc_id", "text")
    ridx = T.build_bm25_index(real)
    q = ["spark", "join", "vector", "stream"]
    a = {(r["doc_id"], r["bm25"]) for r in T.bm25_scores(real, q).collect()}
    bb = {(r["doc_id"], r["bm25"])
          for r in T.bm25_scores_indexed(ridx, q).collect()}
    assert bb == a
    with pytest.raises(ValueError):
        T.bm25_scores_indexed(idx, [])


def test_bm25_topk_batch_matches_per_query(spark):
    # one batched job over a query TABLE must reproduce, per query, the
    # per-query serving path restricted to matched docs (bm25 > 0 under
    # the Lucene +1 idf), top-k by (rounded score desc, doc_id asc).
    # The batch path rounds per-TERM scores to 6dp BEFORE the sum
    # (partial-aggregation order independence), so scores agree with
    # the end-rounded per-query path only within a 2e-6 band.
    rows = [(0, "cat cat fish"), (1, "dog"), (2, "fish bird"), (3, None),
            (4, "cat dog cat dog unicorn"), (5, "bird cat")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = T.build_bm25_index(df)
    batch = [
        ("q1", ["cat", "dog"]),
        ("q2", ["fish"]),
        ("q3", ["cat", "zz_absent_zz"]),   # absent term scores on cat alone
        ("q4", ["zz_absent_zz"]),          # no matches at all: no rows
        ("q5", ["bird", "bird", "cat"]),   # duplicate terms collapse
    ]
    qdf = spark.createDataFrame(batch, "query_id string, terms array<string>")
    out = {}
    for r in T.bm25_topk_batch(idx, qdf, top_k=2).collect():
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["bm25"]))
    assert "q4" not in out
    for qid, terms in batch:
        if qid == "q4":
            continue
        terms_eff = [t for t in dict.fromkeys(terms) if t != "zz_absent_zz"]
        direct = sorted(
            ((r["doc_id"], r["bm25"])
             for r in T.bm25_scores_indexed(idx, terms_eff).collect()
             if r["bm25"] > 0),
            key=lambda p: (-p[1], p[0]),
        )[:2]
        got = sorted(out[qid], key=lambda p: (-p[1], p[0]))
        assert [g[0] for g in got] == [d[0] for d in direct], qid
        for (gd, gs), (dd, ds) in zip(got, direct):
            assert abs(gs - ds) < 2e-6, (qid, gd)
    # q5's duplicate term must not double-count: equals ["bird","cat"]
    got5 = dict(out["q5"])
    dedup5 = {r["doc_id"]: r["bm25"]
              for r in T.bm25_scores_indexed(idx, ["bird", "cat"]).collect()}
    for d, s in got5.items():
        assert abs(s - dedup5[d]) < 2e-6


def test_extend_bm25_index_matches_rebuild(spark):
    rows_a = [(0, "cat cat fish"), (1, "dog dog dog"), (2, None)]
    rows_b = [(10, "fish bird cat"), (11, "dog unicorn")]
    a = spark.createDataFrame(rows_a, ["doc_id", "text"])
    b = spark.createDataFrame(rows_b, ["doc_id", "text"])
    extended = T.extend_bm25_index(T.build_bm25_index(a), b)
    rebuilt = T.build_bm25_index(a.union(b))
    for ext, reb in zip(extended, rebuilt):
        got = sorted(map(tuple, ext.collect()))
        want = sorted(map(tuple, reb.collect()))
        assert got == want
    # and the served scores agree end-to-end
    q = ["cat", "dog"]
    got = {(r["doc_id"], r["bm25"])
           for r in T.bm25_scores_indexed(extended, q).collect()}
    want = {(r["doc_id"], r["bm25"])
            for r in T.bm25_scores_indexed(rebuilt, q).collect()}
    assert got == want


# --- prefix-filter exact set-similarity join ---------------------------------


def test_prefix_filter_matches_exact_quadratic_jaccard(spark):
    # near-dup family + hot boilerplate shingle shared by everything:
    # the prefix filter must return EXACTLY the quadratic join's pairs
    boiler = "terms of service apply to all"
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " + boiler),
        (2, "the quick brown fox jumps over the lazy cat " + boiler),
        (3, "the quick brown fox jumps over the lazy dog " + boiler),
        (4, "completely different text about spark engines " + boiler),
        (5, "another unrelated document mentioning nothing " + boiler),
        (6, "short one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    exact = D.jaccard_pairs(
        docs, threshold=0.5, shingle_n=3, allow_quadratic=True
    )
    fast = D.prefix_filter_pairs(
        docs, threshold_num=1, threshold_den=2, shingle_n=3
    )
    key = lambda r: (r["a"], r["b"], r["jaccard"])
    # jaccard_pairs cuts on the 6dp-ROUNDED value; rebuild its exact-cut
    # subset for comparison (integer cut never includes a rounded-up pair)
    exact_rows = [
        r for r in exact.collect() if r["jaccard"] >= 0.5 or r["jaccard"] == 0.5
    ]
    assert sorted(map(key, fast.collect())) == sorted(map(key, exact_rows))
    # and the known duplicates are found
    got = {(r["a"], r["b"]) for r in fast.collect()}
    assert (1, 3) in got and (1, 2) in got


def test_prefix_filter_integer_threshold_boundary(spark):
    # two docs with |A∩B|/|A∪B| exactly 1/2 must be INCLUDED (>=)
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y z w")],
        "doc_id bigint, text string",
    )
    # shingle_n=1-like via n=3 is awkward; craft with n=3:
    # doc1 grams: "a b c","b c d","c d e","d e f" (4)
    # doc2 grams: "a b c","b c d","c d x","d x y","x y z","y z w" (6)
    # inter=2, union=8 -> J=0.25; use t=1/4 for the boundary
    out = D.prefix_filter_pairs(
        docs, threshold_num=1, threshold_den=4, shingle_n=3
    ).collect()
    assert [(r["a"], r["b"], r["jaccard"]) for r in out] == [(1, 2, 0.25)]
    # and t just above 1/4 excludes it
    out2 = D.prefix_filter_pairs(
        docs, threshold_num=26, threshold_den=100, shingle_n=3
    ).collect()
    assert out2 == []


def test_prefix_filter_rejects_bad_threshold(spark):
    docs = spark.createDataFrame([(1, "x y z")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="num"):
        D.prefix_filter_pairs(docs, threshold_num=0, threshold_den=2)
    with pytest.raises(ValueError, match="num"):
        D.prefix_filter_pairs(docs, threshold_num=3, threshold_den=2)


def test_prefix_intake_exact_recall_with_oov_shingles(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different corpus text about engines"),
        ],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-verbatim of corpus doc 1 -> must be rejected
            (10, "the quick brown fox jumps over the lazy cat"),
            # entirely OOV text (df 0 shingles) -> admitted
            (11, "zeta omega theta words never seen before anywhere"),
            # verbatim copy of corpus doc 2 (J = 1) -> rejected
            (12, "completely different corpus text about engines"),
        ],
        "doc_id bigint, text string",
    )
    idx = D.build_prefix_index(corpus, threshold_num=1, threshold_den=2)
    out = D.prefix_dedup_against_corpus(
        batch, idx, threshold_num=1, threshold_den=2
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [11]


def test_extend_prefix_index_keeps_exact_recall(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(10, "totally novel first batch document text here")],
        "doc_id bigint, text string",
    )
    idx = D.build_prefix_index(corpus, threshold_num=1, threshold_den=2)
    admitted1 = D.prefix_dedup_against_corpus(
        b1, idx, threshold_num=1, threshold_den=2
    )
    assert [r["doc_id"] for r in admitted1.collect()] == [10]
    idx = D.extend_prefix_index(
        idx, admitted1, threshold_num=1, threshold_den=2
    )
    # batch 2: a near-copy of the batch-1 doc (OOV vs the ORIGINAL
    # corpus, so its shingles ride the fixed df-0 slot) must be caught
    b2 = spark.createDataFrame(
        [
            (20, "totally novel first batch document text here friend"),
            (21, "yet another brand new unrelated document entirely"),
        ],
        "doc_id bigint, text string",
    )
    admitted2 = D.prefix_dedup_against_corpus(
        b2, idx, threshold_num=1, threshold_den=2
    )
    assert sorted(r["doc_id"] for r in admitted2.collect()) == [21]


def test_entropy_stats_hand_computed(spark):
    import math

    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        entropy_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "aa bb"),        # chars: a,a,b,b -> H=1 bit; words: aa,bb -> 1 bit
            (2, "aaaa"),         # single distinct char -> 0
            (3, None),           # null -> 0/0
            (4, "ab ab ab ab"),  # words all 'ab' -> word H 0; chars 4a4b -> 1
        ],
        "doc_id BIGINT, text STRING",
    )
    out = {r["doc_id"]: r for r in entropy_stats(docs).collect()}
    assert out[1]["char_entropy"] == 1.0 and out[1]["word_entropy"] == 1.0
    assert out[2]["char_entropy"] == 0.0 and out[2]["n_words"] == 1
    assert out[3]["char_entropy"] == 0.0 and out[3]["n_chars_nospace"] == 0
    assert out[4]["word_entropy"] == 0.0 and out[4]["char_entropy"] == 1.0
    # a 3-way uneven split: 2x'a', 1x'b', 1x'c' -> H = 1.5 bits
    d5 = spark.createDataFrame([(5, "a a b c")], "doc_id BIGINT, text STRING")
    r5 = entropy_stats(d5).collect()[0]
    assert abs(r5["word_entropy"] - 1.5) < 1e-9


def test_cross_source_dup_report_normalizes_pairs(spark):
    """(source_a, source_b) is lexicographically normalized and the doc
    counts follow the normalization; intra-source rows are the
    within-mix baseline."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        cross_source_dup_report,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank while birds sing in the tall green trees")
    rows = [
        (1, base, "zeta"),
        (2, base + " extra", "alpha"),       # near-dup across sources
        (3, base + " more", "alpha"),        # near-dup within alpha too
        (4, "completely different text with nothing shared here at all "
            "about engines and parquet files and window functions",
         "alpha"),
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, source STRING")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_dup_report(df, threshold=0.3).collect()
    }
    assert ("alpha", "zeta") in out          # normalized, never (zeta, alpha)
    assert ("zeta", "alpha") not in out
    x = out[("alpha", "zeta")]
    # alpha is source_a: its docs count under n_docs_a, doc 1 under b
    assert x["n_docs_a"] >= 1 and x["n_docs_b"] == 1
    assert ("alpha", "alpha") in out         # intra-source baseline row
    assert 0.0 < x["mean_jaccard"] <= 1.0


def test_cross_source_dup_sweep_equals_per_threshold_reports(spark):
    """Every sweep point equals the standalone report at that
    threshold (shared candidates + verify, per-threshold filters)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        cross_source_dup_report,
        cross_source_dup_sweep,
    )

    base = ("the quick brown fox jumps over the lazy dog near the "
            "river bank while birds sing in the tall green trees")
    rows = [
        (1, base, "zeta"),
        (2, base + " extra", "alpha"),
        (3, base + " more words appended here", "alpha"),
        (4, "completely different text with nothing shared here at all "
            "about engines and parquet files and window functions",
         "alpha"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, source STRING"
    )
    ths = (0.2, 0.5)
    sweep = cross_source_dup_sweep(df, thresholds=ths)
    by_t = {}
    for r in sweep.collect():
        by_t.setdefault(r["threshold"], set()).add(tuple(r)[1:])
    assert set(by_t) == set(ths)
    for t in ths:
        want = {
            tuple(r)
            for r in cross_source_dup_report(df, threshold=t).collect()
        }
        assert by_t[t] == want, t
    import pytest as _pt
    with _pt.raises(ValueError):
        cross_source_dup_sweep(df, thresholds=())


def _py_kn_bigram(rows, d=0.75):
    """Pure-Python interpolated Kneser-Ney reference (Chen & Goodman
    1998 section 2.7) for the distributed scorer."""
    import collections
    import math
    import re as _re

    per_doc, bt = {}, collections.Counter()
    for i, t in rows:
        ws = _re.findall(r"[a-z0-9]+", (t or "").lower())
        bs = list(zip(ws, ws[1:]))
        if bs:
            per_doc[i] = bs
        bt.update(bs)
    c1, f1, r2 = (
        collections.Counter(),
        collections.Counter(),
        collections.Counter(),
    )
    for (w1, w2), c in bt.items():
        c1[w1] += c
        f1[w1] += 1
        r2[w2] += 1
    B = len(bt)
    out = {}
    for i, bs in per_doc.items():
        lps = [
            math.log(
                max(bt[b] - d, 0) / c1[b[0]]
                + d * f1[b[0]] / c1[b[0]] * r2[b[1]] / B
            )
            for b in bs
        ]
        out[i] = (len(lps), sum(lps) / len(lps))
    return out


def test_kn_bigram_logprob_matches_python_reference(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.text import (
        kn_bigram_logprob,
    )

    rows = [
        (1, "san francisco is in california and san diego is in california"),
        (2, "francisco francisco francisco"),  # frequent, one-context word
        (3, "one"),          # single word -> no row
        (4, None),           # NULL -> no row
        (5, "a b a b a b"),  # heavy repetition
    ]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["mean_logprob"])
        for r in kn_bigram_logprob(df).collect()
    }
    want = _py_kn_bigram(rows)
    assert set(got) == set(want) == {1, 2, 5}
    for i in want:
        assert got[i][0] == want[i][0]
        assert abs(got[i][1] - want[i][1]) < 1.5e-6, i
    # the KN insight, observable: 'francisco' has high raw frequency
    # but only one predecessor type, so its continuation mass is tiny —
    # doc 2's all-francisco stream must score BELOW doc 5's ab-cycle
    # (both are maximally repetitive bigram streams)
    assert got[2][1] < got[5][1]
    import pytest as _pt
    with _pt.raises(ValueError):
        kn_bigram_logprob(df, discount=1.0)


def test_tokenizer_fertility_report(spark):
    rows = [
        (1, "a", "Hello, world!"),        # tokens: Hello , world ! = 4; words: hello world = 2
        (2, "a", "abc"),                  # 1 token, 1 word
        (3, "b", None),                   # NULL text counts as empty
        (4, "b", "!!!"),                  # 3 punct tokens, 0 words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r for r in T.tokenizer_fertility_report(df).collect()}
    a, b = out["a"], out["b"]
    assert a.n_docs == 2
    assert a.total_bytes == len("Hello, world!") + len("abc")
    assert a.total_chars == a.total_bytes  # ASCII
    assert a.total_tokens == 5 and a.total_words == 3
    assert a.tokens_per_word == round(5 / 3, 6)
    assert a.bytes_per_token == round(a.total_bytes / 5, 6)
    # group b: no words -> fertility NULL, not a division error
    assert b.n_docs == 2
    assert b.total_tokens == 3 and b.total_words == 0
    assert b.tokens_per_word is None
    assert b.bytes_per_token == round(3 / 3, 6)


def test_tokenizer_fertility_all_empty_group(spark):
    df = spark.createDataFrame([(1, "z", None), (2, "z", "")],
                               ["doc_id", "source", "text"])
    r = T.tokenizer_fertility_report(df).collect()[0]
    assert (r.total_bytes, r.total_tokens, r.total_words) == (0, 0, 0)
    assert r.tokens_per_word is None and r.bytes_per_token is None


def test_pii_report_hand_counts(spark):
    rows = [
        (1, "a", "mail me at bob@example.com or alice@test.org thanks"),
        (2, "a", "server at 10.0.0.1 and 192.168.1.255, ssn 123-45-6789"),
        (3, "b", None),
        (4, "b", "call 555-123-4567 twice: 555-123-4567"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {(r.source, r.pii_type): r for r in T.pii_report(df).collect()}
    assert out[("a", "email")].n_matches == 2
    assert out[("a", "email")].n_docs_hit == 1
    assert out[("a", "ipv4")].n_matches == 2
    assert out[("a", "ssn")].n_matches == 1
    # phone pattern \d{3}[-.]\d{3}[-.]\d{4} also matches inside the SSN
    # context? no: 123-45-6789 has a 2-digit middle group
    assert out[("a", "phone")].n_matches == 0
    assert out[("b", "phone")].n_matches == 2
    assert out[("b", "phone")].n_docs_hit == 1
    assert out[("b", "email")].n_matches == 0
    assert all(r.n_docs == 2 for r in out.values())
    # every (source, pattern) pair is present even when all-zero
    assert len(out) == 8


def test_census_merges_match_direct(spark):
    rows = [
        (1, "a", "Hello, world! bob@example.com"),
        (2, "a", "abc def 10.0.0.1"),
        (3, "b", None),
        (4, "b", "call 555-123-4567 now."),
        (5, "a", "more words here with an email x@y.z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    left, right = df.filter("doc_id <= 2"), df.filter("doc_id > 2")

    direct_f = sorted(map(tuple, T.tokenizer_fertility_report(df).collect()))
    merged_f = sorted(
        map(
            tuple,
            T.merge_fertility_reports(
                T.tokenizer_fertility_report(left),
                T.tokenizer_fertility_report(right),
            ).collect(),
        )
    )
    assert merged_f == direct_f

    direct_p = sorted(map(tuple, T.pii_report(df).collect()))
    merged_p = sorted(
        map(
            tuple,
            T.merge_pii_reports(T.pii_report(left), T.pii_report(right)).collect(),
        )
    )
    assert merged_p == direct_p

    import pytest as _pt

    with _pt.raises(ValueError):
        T.merge_fertility_reports()
    with _pt.raises(ValueError):
        T.merge_pii_reports()


def test_zipf_fit_exact_line(spark):
    """Counts constructed so ln(count) = 2 - 1*ln(rank) exactly (count
    = e^2 / rank, rounded to large ints keeps it near-exact): slope
    about -1, r2 about 1. Use a perfect power law: count = C / rank
    with C divisible by all ranks."""
    import math

    C = 2520  # lcm(1..9) keeps counts integral for ranks 1..6
    rows = []
    did = 0
    for rank, term in enumerate(["aa", "bb", "cc", "dd", "ee", "ff"], start=1):
        for _ in range(C // rank):
            rows.append((did, term))
            did += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = TX_zipf(df)
    assert r.n_terms == 6
    assert abs(r.slope + 1.0) < 1e-6
    assert abs(r.r2 - 1.0) < 1e-6
    assert abs(r.intercept - math.log(C)) < 1e-6


def TX_zipf(df):
    return T.zipf_fit_report(df, top_k=100).collect()[0]


def test_source_vocab_divergence_identical_sources_near_zero(spark):
    """Two sources with the same word distribution: KL is near zero
    (not exactly, because of add-one smoothing); a third divergent
    source scores strictly higher."""
    same = "alpha beta gamma delta " * 5
    rows = (
        [(i, "a", same) for i in range(10)]
        + [(100 + i, "b", same) for i in range(10)]
        + [(200 + i, "c", "omega omega omega zeta " * 5) for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r.source: r.kl for r in T.source_vocab_divergence(df, top_k=10).collect()}
    assert out["a"] == out["b"]
    assert out["c"] > out["a"] >= 0.0


def test_perplexity_buckets_grouped_adaptive_cuts(spark):
    """A uniformly-noisier source still yields head/middle/tail thirds
    under its OWN cuts (the global partition would put it wholesale in
    the tail); scores equal the corpus-wide self-LM scores."""
    # varying mixes of common vs rarer words so scores differ per doc
    fluent = [
        "the quick brown fox jumps over the lazy dog " * 2
        + "the and of to is in it a " * (i + 1)
        for i in range(6)
    ]
    noisy = [
        f"zzq{i} qxj{i} wvk{i} jjy{i} pqz{i} xoq{i} " * (i + 2)
        for i in range(6)
    ]
    rows = [(i, "good", t) for i, t in enumerate(fluent)] + [
        (100 + i, "bad", t) for i, t in enumerate(noisy)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = T.perplexity_buckets_grouped(df).collect()
    from collections import Counter

    per_src = {}
    for r in out:
        per_src.setdefault(r.source, Counter())[r.ppl_bucket] += 1
    # each source partitions into its own thirds
    assert set(per_src["bad"]) == {"head", "middle", "tail"}
    assert set(per_src["good"]) == {"head", "middle", "tail"}
    # corpus-wide comparison: every bad doc scores below every good doc
    good_scores = [r.mean_logprob for r in out if r.source == "good"]
    bad_scores = [r.mean_logprob for r in out if r.source == "bad"]
    assert max(bad_scores) < min(good_scores)


def test_datasheet_report_hand_values(spark):
    rows = [
        (1, "a", "the quick brown fox is in the house and it is fine today."),
        (2, "a", "the quick brown fox is in the house and it is fine today."),
        (3, "b", "mail bob@x.com about the thing that is due to land in it."),
        (4, "b", None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    r = T.datasheet_report(df).collect()[0]
    assert r.n_docs == 4 and r.n_sources == 2
    # docs 1 and 2 are exact dups -> 3 unique fingerprints
    assert r.dup_doc_frac == round(1 / 4, 6)
    assert r.top_lang == "en"
    assert r.pii_docs_frac == round(1 / 4, 6)
    assert r.mean_doc_words == round(r.total_words / 4, 6)


def test_readability_report_hand_values(spark):
    rows = [
        (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
        (2, None),
        (3, "xyz"),                          # 1 word, no vowels -> 1 syllable floor
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in T.readability_report(df).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences) == (6, 2)
    # vowel groups: e/a/a/e/o/a = 6 -> syllables 6
    assert r1.n_syllables == 6
    assert r1.flesch == round(206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6), 6)
    assert out[2].n_words == 0 and out[2].flesch is None
    assert out[3].n_syllables == 1  # floor at one per word


def test_lsh_banding_plan_hand_values(spark):
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        lsh_banding_plan,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (3, 4, 1.0), (5, 6, 0.8)], "a BIGINT, b BIGINT, jaccard DOUBLE"
    )
    out = {
        (r["bands"], r["rows_per_band"]): r
        for r in lsh_banding_plan(pairs, num_hashes=4).collect()
    }
    assert set(out) == {(1, 4), (2, 2), (4, 1)}

    def p(j, b, r):
        return 1 - (1 - j**r) ** b

    for (b, r), row in out.items():
        want = round(sum(p(j, b, r) for j in (0.5, 1.0, 0.8)) / 3, 6)
        assert row["n_pairs"] == 3
        assert abs(row["expected_recall"] - want) <= 1e-6, (b, r)
        assert row["s_midpoint"] == round((1 / b) ** (1 / r), 6)
    # more bands at fixed hash budget -> higher recall (the S-curve
    # shifts left), monotone on any population
    assert (
        out[(4, 1)]["expected_recall"]
        > out[(2, 2)]["expected_recall"]
        > out[(1, 4)]["expected_recall"]
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="num_hashes"):
        lsh_banding_plan(pairs, num_hashes=0)


def test_choose_banding_rule(spark):
    """r12: the advisor winner is the TIGHTEST banding (largest
    s_midpoint <= threshold) whose measured expected_recall clears
    min_recall — not the max-recall row, which degenerates to
    rows_per_band=1 and floods the candidate join."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        choose_banding,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.95), (5, 6, 0.85)],
        "a BIGINT, b BIGINT, jaccard DOUBLE",
    )
    # midpoints for 16 hashes: (16,1)=0.0625 (8,2)=0.3536 (4,4)=0.7071
    # (2,8)=0.9170 (1,16)=1.0. At threshold 0.8 the under-set is
    # {(16,1),(8,2),(4,4)}; on these high-j pairs all clear recall 0.9,
    # so the tightest (4,4) wins.
    assert choose_banding(pairs, 16, threshold=0.8) == (4, 4)
    # at threshold 0.4 the under-set is {(16,1),(8,2)} (midpoints
    # 0.0625, 0.3536); tightest clearing 0.9 recall is (8,2)
    assert choose_banding(pairs, 16, threshold=0.4) == (8, 2)
    # at threshold 0.2 only (16,1) qualifies by midpoint
    assert choose_banding(pairs, 16, threshold=0.2) == (16, 1)
    # impossible min_recall: best-effort max-recall row (16,1)
    low = spark.createDataFrame(
        [(1, 2, 0.05)], "a BIGINT, b BIGINT, jaccard DOUBLE"
    )
    assert choose_banding(low, 16, threshold=0.2, min_recall=0.99) == (16, 1)


def test_minhash_auto_banding_reproduces_standalone_pairs(spark, sf_dir):
    """r12 (VERDICT r11 task 4): feeding the measured exact near-dup
    pairs as banding= must (a) pick a banding whose midpoint sits under
    the threshold and (b) reproduce the pair set of the standalone call
    with that banding passed explicitly — the advisor changes HOW the
    hash budget is banded, never the verify semantics."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
        dedup as D,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    measured = D.prefix_filter_pairs(docs, threshold_num=1, threshold_den=2)
    picked = D.choose_banding(measured, num_hashes=16, threshold=0.5)
    assert round((1 / picked[0]) ** (1 / picked[1]), 6) <= 0.5
    assert picked[0] * picked[1] == 16

    auto = sorted(
        map(tuple, D.minhash_dedup_pairs(
            docs, threshold=0.5, banding=measured
        ).collect())
    )
    explicit = sorted(
        map(tuple, D.minhash_dedup_pairs(
            docs, threshold=0.5, banding=picked
        ).collect())
    )
    assert auto == explicit and auto
    # recall vs the exact join at the same threshold: the advisor's
    # pick must actually recall most of the measured pairs
    exact = {(r["a"], r["b"]) for r in measured.collect()}
    got = {(a, b) for a, b, _ in auto}
    assert len(got & exact) / len(exact) >= 0.9


def test_lsh_banding_plan_weighted_equals_replicated(spark):
    """r12 lever: a weighted advisor over keeper pairs (+ closed-form
    intra-group j=1 rows) equals the raw advisor over the materialized
    replicated pairs — the dedup-upstream lever for the advisor's
    replication-quadratic input, exact by J(copy, x) = J(keeper, x)."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        lsh_banding_plan,
    )

    # keeper pairs (a,b,j) with multiplicities 2x3 and 1x2, plus one
    # exact group of size 3 (3 intra pairs at j=1)
    raw = []
    raw += [(f"a{i}", f"b{k}", 0.6) for i in range(2) for k in range(3)]
    raw += [(f"c{i}", f"d{k}", 0.3) for i in range(1) for k in range(2)]
    raw += [("g0", "g1", 1.0), ("g0", "g2", 1.0), ("g1", "g2", 1.0)]
    raw_df = spark.createDataFrame(raw, "a STRING, b STRING, jaccard DOUBLE")
    weighted = spark.createDataFrame(
        [(0.6, 6), (0.3, 2), (1.0, 3)], "jaccard DOUBLE, w BIGINT"
    )
    a = sorted(
        map(tuple, lsh_banding_plan(raw_df, num_hashes=8).collect())
    )
    b = sorted(
        map(
            tuple,
            lsh_banding_plan(weighted, num_hashes=8, weight_col="w").collect(),
        )
    )
    assert a == b


def test_minhash_dedup_pairs_rejects_mismatched_banding(spark, docs):
    """r12 advice fix: an explicit banding tuple that does not factorize
    num_hashes raises instead of indexing out of range / silently
    banding a subset of the hash budget."""
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    with pytest.raises(ValueError, match="factorize"):
        minhash_dedup_pairs(docs, num_hashes=16, banding=(3, 4))
    with pytest.raises(ValueError, match="factorize"):
        minhash_dedup_pairs(docs, num_hashes=16, banding=(16, 2))


def test_lsh_banding_plan_rejects_bad_weights(spark):
    """r12 advice fix: NULL / zero / negative weights violate the
    integer-multiplicity contract and raise at evaluation instead of
    silently skewing the advisor output choose_banding acts on."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators.dedup import (
        lsh_banding_plan,
    )

    for bad_w in (0, -2, None):
        df = spark.createDataFrame(
            [(0.6, 3), (0.3, bad_w)], "jaccard DOUBLE, w BIGINT"
        )
        with pytest.raises(
            (SparkRuntimeException, Exception), match="multiplicity"
        ):
            lsh_banding_plan(df, num_hashes=8, weight_col="w").collect()
