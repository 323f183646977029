"""Planted-example semantics + plan-shape tests for the curation operators
(C4 boilerplate signal, Gopher repetition, GPT-3 contamination, vocab)."""

from __future__ import annotations

import pytest

from pyspark_kmeans_spark.operators.curation import (
    build_vocab,
    contamination,
    duplicate_ngram_stats,
    with_repetition,
)
from pyspark_kmeans_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_aggregation,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


W8 = "a b c d e f g h"  # one exact 8-gram


def test_duplicate_ngram_stats_planted(spark):
    # doc 0 and 1 share their single 8-gram; doc 2 is unique; doc 3 is
    # too short to shingle and must be absent from the output.
    df = _docs(
        spark,
        [
            (0, W8),
            (1, W8),
            (2, "p q r s t u v w x"),
            (3, "too short"),
        ],
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["dup_shingles"], r["dup_frac"])
        for r in duplicate_ngram_stats(df).collect()
    }
    assert got == {0: (1, 1, 1.0), 1: (1, 1, 1.0), 2: (2, 0, 0.0)}


def test_repetition_signals_planted(spark):
    df = _docs(spark, [(0, "x x x x"), (1, "a b c d"), (2, "solo")])
    got = {
        r["doc_id"]: (
            r["distinct_ratio"],
            r["dup_bigram_frac"],
            r["top_token_frac"],
        )
        for r in with_repetition(df)
        .select("doc_id", "distinct_ratio", "dup_bigram_frac", "top_token_frac")
        .collect()
    }
    # "x x x x": 1 distinct of 4; bigrams ["x x"]*3 -> 1 distinct of 3.
    assert got[0] == (0.25, pytest.approx(1 - 1 / 3, abs=1e-6), 1.0)
    assert got[1] == (1.0, 0.0, 0.25)
    # single token: no bigram -> defined as 0.0, not null
    assert got[2] == (1.0, 0.0, 1.0)


def test_contamination_planted_and_broadcast(spark):
    bench = _docs(spark, [(100, W8)])
    corpus = _docs(
        spark,
        [
            (0, W8 + " i"),  # shingles: abcdefgh (hit), bcdefghi (miss)
            (1, "p q r s t u v w"),  # clean, must still appear with 0
        ],
    )
    out = contamination(corpus, bench)
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_contam"], r["contam_frac"])
        for r in out.collect()
    }
    assert got == {0: (2, 1, 0.5), 1: (1, 0, 0.0)}
    # The benchmark side must be broadcast: a shuffle join against an
    # MB-scale benchmark would shuffle the TB corpus for nothing.
    assert_broadcast_join(out, min_count=1)


def test_vocab_ranks_and_min_count(spark):
    df = _docs(spark, [(0, "b b b a a c"), (1, "a")])
    got = [
        (r["token"], r["n_occurrences"], r["token_id"])
        for r in build_vocab(df, min_count=2)
        .orderBy("token_id")
        .collect()
    ]
    # a and b tie at 3 -> alphabetical break; c dropped by min_count.
    assert got == [("a", 3, 1), ("b", 3, 2)]


def test_dup_ngram_plan_shape(spark, sf_dir):
    """The corpus-wide dup-n-gram stats must aggregate partially (map-side
    combine on the shingle groupBy) and contain no cartesian product —
    the word-count shape that stays linear at 100 TB."""
    from pyspark_kmeans_spark.operators.curation import q_dup_ngrams

    df = q_dup_ngrams(spark, sf_dir)
    assert_partial_aggregation(df)
    assert_no_cartesian(df)


def test_redact_pii_planted(spark):
    from pyspark_kmeans_spark.operators.curation import redact_pii

    df = _docs(
        spark,
        [
            (0, "mail me at jo.doe@corp.example.org today"),
            (1, "host 192.168.0.1 and 10.0.0.2 up"),
            (2, "call +44 20 7946 0958 now"),
            (3, "clean text only"),
            (4, "call +1 555 0100 12 people attending"),
            (5, "reach +15551234567 anytime"),
        ],
    )
    got = {
        r["doc_id"]: (r["n_email"], r["n_ipv4"], r["n_phone"], r["text"])
        for r in redact_pii(df).collect()
    }
    assert got[0] == (1, 0, 0, "mail me at <EMAIL> today")
    assert got[1] == (0, 2, 0, "host <IP> and <IP> up")
    assert got[2] == (0, 0, 1, "call <PHONE> now")
    assert got[3] == (0, 0, 0, "clean text only")
    # The final-group rule must not swallow a following standalone number.
    assert got[4] == (0, 0, 1, "call <PHONE> 12 people attending")
    assert got[5] == (0, 0, 1, "reach <PHONE> anytime")


def test_pack_sequences_planted(spark):
    from pyspark_kmeans_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [
            (0, "en", "a b c"),        # tokens 0-2   -> seq 0, offset 0
            (1, "en", "d e f g"),      # tokens 3-6   -> seq 0, offset 3
            (2, "en", "h i"),          # tokens 7-8   -> seq 1, offset 2
            (3, "fr", "x y z w v u"),  # fresh shard  -> seq 0, offset 0
            (4, "fr", "t"),            # token 6      -> seq 1, offset 1
        ],
        "doc_id long, lang string, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in pack_sequences(df, budget=5).collect()
    }
    assert got == {
        0: (3, 0, 0),
        1: (4, 0, 3),
        2: (2, 1, 2),
        3: (6, 0, 0),
        4: (1, 1, 1),
    }


def test_importance_weights_ranks_target_like_docs(spark):
    from pyspark_kmeans_spark.operators.curation import importance_weights

    corpus = _docs(
        spark,
        [
            (0, "gold gold gold"),   # target-like
            (1, "junk junk junk"),   # raw-typical
            (2, "gold junk gold"),   # mixed
        ],
    )
    target = _docs(spark, [(100, "gold gold gold gold")])
    got = {
        r["doc_id"]: r["importance"]
        for r in importance_weights(corpus, target).collect()
    }
    # More target-distribution tokens -> strictly higher weight.
    assert got[0] > got[2] > got[1]


def test_tokenize_with_vocab_roundtrip(spark):
    """Tokenizer-apply contract: id sequence length == token count, OOV
    tokens map to id 0, and inverting the vocab reconstructs the original
    text exactly for fully-in-vocab documents."""
    from pyspark_kmeans_spark.operators.curation import (
        build_vocab,
        tokenize_with_vocab,
    )

    docs = _docs(
        spark,
        [
            (0, "a b a c a b"),
            (1, "b c rare b"),
            (2, "a a a a"),
        ],
    )
    vocab = build_vocab(docs, min_count=2)  # 'rare' and 'c'? c appears 2x
    id2tok = {r["token_id"]: r["token"] for r in vocab.collect()}
    got = {r["doc_id"]: r for r in tokenize_with_vocab(docs, vocab).collect()}
    texts = {0: "a b a c a b", 1: "b c rare b", 2: "a a a a"}
    for doc_id, text in texts.items():
        toks = text.split(" ")
        r = got[doc_id]
        ids = [int(x) for x in r["ids_joined"].split(" ")]
        assert r["n_tokens"] == len(toks)
        assert len(ids) == r["n_tokens"]
        n_oov = sum(1 for t in toks if t not in id2tok.values())
        assert r["n_oov"] == n_oov
        if n_oov == 0:
            assert " ".join(id2tok[i] for i in ids) == text
        else:
            assert 0 in ids


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_quality_funnel_planted(spark):
    """Every rejection reason fires on exactly the planted doc; reasons are
    counted independently and kept_tokens sums only the survivors."""
    from pyspark_kmeans_spark.operators.curation import quality_funnel

    df = _src_docs(
        spark,
        [
            (0, "s", "the cat sat"),          # passes everything
            (1, "s", "x x x x"),              # repetitive + low_stopword
            (2, "s", "a b"),                  # too_short + low_stopword
            (3, "s", "the the dog ate a@b.com"),  # pii only
        ],
    )
    got = quality_funnel(
        df,
        min_tokens=3,
        min_distinct_ratio=0.5,
        min_stopword_ratio=0.25,
        stopwords=("the",),
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (
        r["n_docs"],
        r["n_too_short"],
        r["n_repetitive"],
        r["n_low_stopword"],
        r["n_pii"],
        r["n_kept"],
        r["kept_tokens"],
    ) == (4, 1, 1, 2, 1, 1, 3)


def test_mixture_weights_planted(spark):
    """alpha-temperature mixture: shares mirror the documented rounding
    chain, the big source is down-weighted, the small one up-weighted, and
    target shares sum to ~1."""
    from pyspark_kmeans_spark.operators.curation import mixture_weights

    rows = [(i, "big", "t " * 14 + "t") for i in range(5)]  # 5 docs x 15 tok
    rows += [(100, "small", "u " * 24 + "u")]  # 1 doc x 25 tokens
    df = _src_docs(spark, rows)
    got = {r["source"]: r for r in mixture_weights(df, alpha=0.5).collect()}
    tot = 100
    p_big, p_small = round(75 / tot, 6), round(25 / tot, 6)
    a_big, a_small = round(p_big**0.5, 6), round(p_small**0.5, 6)
    z = a_big + a_small  # exact at 6 decimals by construction
    assert got["big"]["n_tokens"] == 75 and got["small"]["n_tokens"] == 25
    assert got["big"]["natural_share"] == p_big
    assert got["big"]["target_share"] == round(a_big / z, 6)
    assert got["small"]["sample_weight"] == round(a_small / z / p_small, 6)
    assert got["big"]["sample_weight"] < 1.0 < got["small"]["sample_weight"]
    assert (
        got["big"]["target_share"] + got["small"]["target_share"]
        == pytest.approx(1.0, abs=2e-6)
    )
    assert got["big"]["expected_tokens"] == round(a_big / z * tot, 3)


def test_funnel_and_mixture_plan_shape(spark, sf_dir):
    """Corpus-sized work must partially aggregate map-side; the mixture's
    global folds are broadcast 1-row cross-joins, never a cartesian over
    data-sized frames."""
    from pyspark_kmeans_spark.operators.curation import (
        q_mixture_weights,
        q_quality_funnel,
    )

    funnel = q_quality_funnel(spark, sf_dir)
    assert_partial_aggregation(funnel)
    mix = q_mixture_weights(spark, sf_dir)
    assert_partial_aggregation(mix)


def test_epoch_plan_planted(spark):
    """n_repeats = floor(w) + deterministic Bernoulli(frac): exact per-id
    expectation reproduced from md5 in Python; upsampling (w=2.5) yields
    2-or-3 copies, downsampling (w=0.25) 0-or-1, and the realized mean
    tracks the weight."""
    import hashlib

    from pyspark_kmeans_spark.operators.curation import epoch_plan

    rows = [(i, "up" if i < 50 else "down", "x") for i in range(100)]
    docs = _src_docs(spark, [(i, s, t) for i, s, t in rows])
    weights = spark.createDataFrame(
        [("up", 2.5), ("down", 0.25)], "source string, sample_weight double"
    )
    got = {
        r["doc_id"]: r["n_repeats"]
        for r in epoch_plan(docs, weights).collect()
    }
    assert len(got) == 100
    for i, grp, _ in rows:
        bucket = int(hashlib.md5(str(i).encode()).hexdigest()[:2], 16)
        w = 2.5 if grp == "up" else 0.25
        want = int(w // 1) + (1 if bucket < (w % 1) * 256 else 0)
        assert got[i] == want, (i, grp, bucket)
    up = [got[i] for i in range(50)]
    down = [got[i] for i in range(50, 100)]
    assert set(up) <= {2, 3} and set(down) <= {0, 1}
    assert abs(sum(up) / 50 - 2.5) < 0.2
    assert abs(sum(down) / 50 - 0.25) < 0.2


def test_segment_dedup_planted(spark):
    """Global first occurrence (lowest doc_id, then seg_idx) keeps a
    segment; every other occurrence — cross-doc or within-doc — is
    removed, and kept_digest pins the reconstructed text."""
    import hashlib

    from pyspark_kmeans_spark.operators.curation import segment_dedup

    seg_a = " ".join(["a"] * 10)
    seg_b = " ".join(["b"] * 10)
    seg_c = " ".join(["c"] * 10)
    rows = [
        (0, f"{seg_a} {seg_b}"),          # both first occurrences
        (1, f"{seg_b} {seg_c} {seg_b}"),  # b dup of doc0; within-doc b dup
        (2, seg_a),                       # whole doc is a dup
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in segment_dedup(docs, seg_tokens=10).collect()
    }
    assert got[0]["n_segments"] == 2 and got[0]["n_removed"] == 0
    assert got[0]["kept_digest"] == hashlib.md5(
        f"{seg_a} {seg_b}".encode()
    ).hexdigest()
    assert got[1]["n_segments"] == 3 and got[1]["n_removed"] == 2
    assert got[1]["kept_digest"] == hashlib.md5(seg_c.encode()).hexdigest()
    assert got[2]["n_segments"] == 1 and got[2]["n_removed"] == 1
    assert got[2]["kept_digest"] == hashlib.md5(b"").hexdigest()


def test_segment_dedup_partial_tail_segment(spark):
    """A doc whose token count is not a multiple of seg_tokens keeps its
    short tail segment as a distinct unit."""
    from pyspark_kmeans_spark.operators.curation import segment_dedup

    docs = spark.createDataFrame(
        [(0, "x y z w v")], "doc_id long, text string"
    )
    row = segment_dedup(docs, seg_tokens=3).collect()[0]
    assert row["n_segments"] == 2  # "x y z" + "w v"
    assert row["n_removed"] == 0


def test_token_budget_planted_boundary_straddle(spark):
    """Two score classes built so the budget lands INSIDE the lower
    class (exercising the boundary per-doc window) with the straddling
    doc KEPT (its strictly-preceding sum is under budget even though
    keeping it overshoots).  Expected report replayed in python from the
    operator's own (score, tokens) inputs — the oracle's global-greedy
    semantics, independent of the histogram decomposition under test."""
    from pyspark_kmeans_spark.operators.curation import (
        token_budget_selection,
    )
    from pyspark_kmeans_spark.operators.text import with_quality

    # Class A: clean English prose (high score), 3 docs.  Class B: heavy
    # punctuation (low score), 5 docs.  Identical text within a class →
    # identical 6-dp scores → real tie classes.
    a_text = "the cat and the dog walk to a park in the morning sun"
    b_text = "x! y? z# a$ b% c^ d& e* f( g)"
    rows = [(i, a_text, "en") for i in range(1, 4)] + [
        (i, b_text, "xx") for i in range(4, 9)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    scored = {
        r["doc_id"]: (r["quality_score"], r["n_tokens"])
        for r in with_quality(docs).collect()
    }
    assert scored[1][0] > scored[4][0], "construction requires A > B"

    order = sorted(scored, key=lambda i: (-scored[i][0], i))
    total = sum(t for _, t in scored.values())
    budget = int(0.5 * total)
    cum, kept = 0, set()
    for i in order:
        if cum < budget:
            kept.add(i)
        cum += scored[i][1]
    # The planted shape must actually straddle: kept token mass exceeds
    # the budget (last kept doc crosses the line), and class B is split.
    assert sum(scored[i][1] for i in kept) > budget
    assert 0 < len([i for i in kept if i >= 4]) < 5

    got = {
        r["lang"]: r
        for r in token_budget_selection(docs, fraction=0.5).collect()
    }
    for lang, ids in (("en", range(1, 4)), ("xx", range(4, 9))):
        want_kept = [i for i in ids if i in kept]
        assert got[lang]["n_docs"] == len(list(ids))
        assert got[lang]["n_kept"] == len(want_kept)
        assert got[lang]["total_tokens"] == sum(scored[i][1] for i in ids)
        assert got[lang]["kept_tokens"] == sum(
            scored[i][1] for i in want_kept
        )
        assert got[lang]["budget_tokens"] == budget


def test_token_budget_null_score_sorts_last(spark):
    """An empty-text doc has NULL quality_score (0-length division);
    the -1.0 sentinel must class it AFTER every real score on both the
    histogram and oracle orderings — with a half-total budget it is
    never kept, and totals still count it.  One lang, so the global and
    per-lang faces must agree."""
    from pyspark_kmeans_spark.operators.curation import (
        token_budget_per_lang,
        token_budget_selection,
    )

    rows = [
        (1, "the cat and the dog walk to a park in the morning", "en"),
        (2, "the cat and the dog walk to a park in the morning", "en"),
        (3, "", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    for select in (token_budget_selection, token_budget_per_lang):
        got = select(docs, fraction=0.5).collect()
        assert len(got) == 1, select.__name__
        r = got[0]
        assert r["n_docs"] == 3, select.__name__
        # Budget = floor(0.5 * 25) = 12 tokens: doc 1 (12 tokens) fills it
        # exactly; doc 2's preceding sum is not under budget; the empty doc
        # (1 whitespace token, NULL score -> sentinel class) sorts last.
        assert r["n_kept"] == 1 and r["kept_tokens"] == 12, select.__name__
        assert r["total_tokens"] == 25 and r["budget_tokens"] == 12, (
            select.__name__
        )


def test_token_budget_per_lang_preserves_mixture(spark):
    """The point of the per-lang form: a high-quality lang must NOT
    crowd the tail out.  Clean-prose en docs outscore punctuation-heavy
    xx docs; with fraction=0.5 the GLOBAL form spends the whole budget
    on en (keeps 0 xx docs), while the per-lang form keeps ~half of each
    lang's tokens — including a non-zero xx slice — with per-lang
    budgets equal to floor(0.5 × that lang's tokens)."""
    from pyspark_kmeans_spark.operators.curation import (
        token_budget_per_lang,
        token_budget_selection,
    )

    a_text = "the cat and the dog walk to a park in the morning sun"
    b_text = "x! y? z# a$ b% c^ d& e* f( g)"
    rows = [(i, a_text, "en") for i in range(1, 5)] + [
        (i, b_text, "xx") for i in range(5, 9)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    global_rep = {
        r["lang"]: r for r in token_budget_selection(docs, fraction=0.5).collect()
    }
    assert global_rep["xx"]["n_kept"] == 0, "construction requires crowd-out"

    rep = {r["lang"]: r for r in token_budget_per_lang(docs, fraction=0.5).collect()}
    assert set(rep) == {"en", "xx"}
    for lang, n_tok in (("en", 13), ("xx", 10)):
        r = rep[lang]
        assert r["budget_tokens"] == (4 * n_tok) // 2
        # greedy by (score desc — tied within a lang — then id): keeps
        # docs while the preceding within-lang sum is under budget → 2
        # whole docs fill it exactly, so exactly 2 of 4 are kept.
        assert r["n_kept"] == 2 and r["kept_tokens"] == 2 * n_tok
        assert r["n_docs"] == 4 and r["total_tokens"] == 4 * n_tok


def test_token_budget_constant_score_class_spans_buckets(spark):
    """The degenerate tie-class (VERDICT r8 "What's wrong" #3): every doc
    shares ONE score class, so the boundary class is the whole corpus and
    the per-doc cumsum must run through the two-level contiguous-bucket
    fold.  Ids straddle the 2^20 bucket edge, so the bucket-offset window
    (not just the within-bucket window) is load-bearing: a zero offset on
    the second bucket would keep too many docs and fail the by-hand kept
    count.  One lang, so the global and per-lang faces must agree."""
    from pyspark_kmeans_spark.operators.curation import (
        token_budget_per_lang,
        token_budget_selection,
    )

    text = "the cat and the dog walk to a park in the morning"  # 12 tokens
    edge = 1 << 20
    ids = list(range(edge - 5, edge + 5))  # buckets 0 and 1, 5 docs each
    docs = spark.createDataFrame(
        [(i, text, "en") for i in ids], "doc_id long, text string, lang string"
    )
    for select in (token_budget_selection, token_budget_per_lang):
        got = select(docs, fraction=0.5).collect()
        assert len(got) == 1, select.__name__
        r = got[0]
        # budget = floor(0.5 * 120) = 60 tokens; greedy by doc_id keeps docs
        # while the strictly-preceding sum is under 60 → ids[0..4] (the 5th
        # doc's preceding sum is exactly 60, not under).
        assert r["n_docs"] == 10 and r["budget_tokens"] == 60, select.__name__
        assert r["n_kept"] == 5 and r["kept_tokens"] == 60, select.__name__


def test_token_budget_null_lang_report_row(spark):
    """ADVICE r8 #1: the lang report join must be null-safe — a KEPT doc
    whose lang is NULL gets its own report row with the true kept counts,
    not a row zeroed by a null-unsafe equi-join (the oracle GROUPs BY the
    nullable lang column, so NULL groups with NULL there).  The per-lang
    face also budgets the NULL group on its own, through the same
    null-safe joins."""
    from pyspark_kmeans_spark.operators.curation import (
        token_budget_per_lang,
        token_budget_selection,
    )

    text = "the cat and the dog walk to a park in the morning sun"
    rows = [(1, text, "en"), (2, text, None), (3, text, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # fraction=1.0: budget == total tokens (globally and per lang), every
    # doc's strictly-preceding sum is under budget, so ALL docs are kept —
    # including the NULL-lang pair, whose report row is the one the unsafe
    # join would zero.
    for select in (token_budget_selection, token_budget_per_lang):
        got = {r["lang"]: r for r in select(docs, fraction=1.0).collect()}
        assert set(got) == {"en", None}, select.__name__
        assert got[None]["n_docs"] == 2 and got[None]["n_kept"] == 2, (
            select.__name__
        )
        assert got[None]["kept_tokens"] == got[None]["total_tokens"], (
            select.__name__
        )
        assert got["en"]["n_kept"] == 1, select.__name__


def test_length_batching_planted_padding_math(spark):
    """Hand-computed batch formation: bucket_width 4, batch_size 2,
    single shard — docs of 1-2 tokens bucket 0, 5-6 tokens bucket 1;
    batches pad to their own max, and the report's padded/waste math
    must match the by-hand numbers exactly."""
    from pyspark_kmeans_spark.operators.curation import (
        length_bucket_batching,
    )

    rows = [
        (0, "a"),                 # 1 token,  bucket 0
        (8, "a b"),               # 2 tokens, bucket 0
        (16, "a b"),              # 2 tokens, bucket 0
        (24, "a b c d e"),        # 5 tokens, bucket 1
        (32, "a b c d e f"),      # 6 tokens, bucket 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["bucket"]: r
        for r in length_bucket_batching(
            docs, bucket_width=4, batch_size=2, n_shards=1
        ).collect()
    }
    # Bucket 0: batch [1,2] pads to 2 (padded 4), batch [2] padded 2.
    b0 = got[0]
    assert (b0["n_docs"], b0["n_batches"]) == (3, 2)
    assert (b0["total_tokens"], b0["padded_tokens"]) == (5, 6)
    assert b0["waste_ratio"] == round(1 - 5 / 6, 6)
    # Bucket 1: one batch [5,6] pads to 6 (padded 12).
    b1 = got[1]
    assert (b1["n_docs"], b1["n_batches"]) == (2, 1)
    assert (b1["total_tokens"], b1["padded_tokens"]) == (11, 12)
    assert b1["waste_ratio"] == round(1 - 11 / 12, 6)


def test_length_batching_two_shards_never_cross(spark):
    """Multi-shard pin (review finding: the n_shards=1 test cannot catch
    a dropped shard term): even ids carry 1 token, odd ids 3 tokens, so
    with shard = doc_id % 2 each shard is length-homogeneous — 4 batches,
    zero padding waste.  Shard-blind slotting by doc_id would interleave
    the lengths into 3 batches padded to 18 (waste 1/3); a hash-based or
    dropped shard term lands elsewhere too.  All docs share one length
    bucket, so only the shard rule separates the outcomes."""
    from pyspark_kmeans_spark.operators.curation import (
        length_bucket_batching,
    )

    rows = [
        (0, "a"),
        (1, "a b c"),
        (2, "a"),
        (3, "a b c"),
        (4, "a"),
        (5, "a b c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = length_bucket_batching(
        docs, bucket_width=4, batch_size=2, n_shards=2
    ).collect()
    assert len(got) == 1
    r = got[0]
    # shard 0: [0,2] pad 2, [4] pad 1; shard 1: [1,3] pad 6, [5] pad 3.
    assert (r["n_docs"], r["n_batches"]) == (6, 4)
    assert (r["total_tokens"], r["padded_tokens"]) == (12, 12)
    assert r["waste_ratio"] == 0.0


def test_fuzzy_contamination_planted(spark):
    """A lightly edited benchmark copy (one token swapped out of ten)
    must flag at the 0.8 doc-level Jaccard threshold; a partial-overlap
    doc scores its exact hand-computed Jaccard without flagging; a
    zero-overlap doc surfaces with 0.0 (the left-join case) rather than
    disappearing."""
    from pyspark_kmeans_spark.operators.curation import fuzzy_contamination

    bench = _docs(
        spark,
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
    )
    corpus = _docs(
        spark,
        [
            # 9 of 10 tokens shared, union 11 -> 9/11 = 0.818182 >= 0.8
            (0, "alpha beta gamma delta epsilon zeta eta theta iota lam"),
            (1, "one two three"),  # zero overlap
            # 3 shared, union 13 -> 0.230769
            (2, "alpha beta gamma nu xi omicron"),
            (3, None),  # NULL text: defined as nothing shared -> 0.0
        ],
    )
    got = {
        r["doc_id"]: (r["max_jaccard"], r["n_bench_hits"], r["is_contaminated"])
        for r in fuzzy_contamination(corpus, bench, threshold=0.8).collect()
    }
    assert got[0] == (round(9 / 11, 6), 1, True)
    assert got[1] == (0.0, 0, False)
    assert got[2] == (round(3 / 13, 6), 0, False)
    assert got[3] == (0.0, 0, False)


def test_score_percentiles_ties_singleton_null(spark):
    """PERCENT_RANK semantics replayed in python from the operator's own
    scores: ties share strictly-below/(n-1), a single-doc source pins
    0.0 (not NULL from 0/0), and an empty-text doc (NULL score -> -1.0
    sentinel) ranks strictly below every real score in its source."""
    from pyspark_kmeans_spark.operators.curation import score_percentiles
    from pyspark_kmeans_spark.operators.text import with_quality

    good = "the cat and the dog walk to a park in the morning"
    rows = [
        (0, good, "a"),
        (1, good, "a"),            # tie with doc 0
        (2, "zz!! ??##", "a"),     # low score
        (3, "", "a"),              # NULL score -> sentinel, lowest
        (4, good, "b"),            # singleton source
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    score = {
        r["doc_id"]: (
            -1.0 if r["quality_score"] is None else r["quality_score"]
        )
        for r in with_quality(docs).collect()
    }
    got = {
        r["doc_id"]: r["score_pct"]
        for r in score_percentiles(docs).collect()
    }
    a_ids = [0, 1, 2, 3]
    for i in a_ids:
        below = sum(1 for j in a_ids if score[j] < score[i])
        assert got[i] == round(below / (len(a_ids) - 1), 6), i
    assert got[0] == got[1] and got[0] > got[2] > got[3] == 0.0
    assert got[4] == 0.0


def test_score_percentiles_null_source_group(spark):
    """A NULL source must rank in its OWN partition exactly like the
    oracle's PARTITION BY (the eqNullSafe join fix) — not silently drop
    out of a null-unsafe equi-join."""
    from pyspark_kmeans_spark.operators.curation import score_percentiles

    good = "the cat and the dog walk to a park in the morning"
    rows = [
        (0, good, None),
        (1, "zz!! ??##", None),
        (2, good, "a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = score_percentiles(docs).collect()
    assert len(out) == 3, "NULL-source docs must not drop from the output"
    got = {r["doc_id"]: (r["source"], r["score_pct"]) for r in out}
    assert got[0] == (None, 1.0) and got[1] == (None, 0.0)
    assert got[2] == ("a", 0.0)


def test_decontaminated_kept_or_decision(spark):
    """The two drop reasons fire INDEPENDENTLY: a verbatim prefix copy
    drops on shingle fraction alone (its token-set Jaccard is under
    0.8), a token-shuffled copy drops on fuzzy Jaccard alone (zero
    shared 8-grams — the paraphrase case the verbatim filter misses),
    a clean doc survives."""
    from pyspark_kmeans_spark.operators.curation import decontaminated_kept

    bench_tokens = [f"tok{i}" for i in range(20)]
    bench = _docs(spark, [(100, " ".join(bench_tokens))])
    corpus = _docs(
        spark,
        [
            # First 12 bench tokens verbatim: every shingle contaminated
            # (frac 1.0 >= 0.2) but Jaccard 12/20 = 0.6 < 0.8.
            (0, " ".join(bench_tokens[:12])),
            # All 20 tokens REVERSED: no 8-gram survives (frac 0.0) but
            # token-set Jaccard 1.0 >= 0.8.
            (1, " ".join(reversed(bench_tokens))),
            # Clean.
            (2, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        ],
    )
    kept = {r["doc_id"] for r in decontaminated_kept(corpus, bench).collect()}
    assert kept == {2}


def test_top_boilerplate_planted(spark):
    """Only the cross-document shingle surfaces: the 8-gram shared by
    docs 0 and 1 (and repeated inside doc 0) reports (occurrences 3,
    docs 2); doc 2's within-doc-only repeat and every mixed sliding
    shingle are excluded by the >1-doc rule."""
    from pyspark_kmeans_spark.operators.curation import (
        top_boilerplate_shingles,
    )

    docs = _docs(
        spark,
        [
            (0, W8 + " " + W8),  # "a..h" at positions 1 and 9
            (1, W8),
            (2, "p q r s t u v w p q r s t u v w"),  # within-doc only
        ],
    )
    got = [
        (r["shingle"], r["n_occurrences"], r["n_docs"])
        for r in top_boilerplate_shingles(docs).collect()
    ]
    assert got == [(W8, 3, 2)]


def test_domain_filter_drops_systematically_weak_domain(spark):
    """The failure domain-level filtering exists to prevent: every doc in
    the weak domain individually looks mediocre-but-passable, yet the
    DOMAIN's mean quality ranks in the bottom quartile — the per-doc
    funnel keeps them all, the domain filter drops the whole source.
    4 domains, drop_fraction 0.25 → exactly the weakest domain goes."""
    from pyspark_kmeans_spark.operators.curation import (
        domain_filter_kept,
        domain_stats,
    )

    rich = (
        "the quick brown fox jumps over a lazy dog and the day is long "
        "and the work of the crew is done in a calm way"
    )
    poor = "zz zz zz !!"
    rows = []
    did = 0
    for src, text in (
        ("good_a", rich),
        ("good_b", rich + " extra tokens of the same calm shape"),
        ("good_c", rich + " and more of the usual prose here"),
        ("weak", poor),
    ):
        for _ in range(3):
            rows.append((did, text, src, "en"))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    stats = {r["source"]: r for r in domain_stats(docs).collect()}
    assert len(stats) == 4
    assert stats["weak"]["kept"] is False
    assert all(stats[s]["kept"] for s in ("good_a", "good_b", "good_c"))
    # q_pct is PERCENT_RANK over 4 sources: weak at 0.0, next at 1/3
    assert stats["weak"]["q_pct"] == 0.0
    kept_docs = domain_filter_kept(docs).collect()
    assert {r["source"] for r in kept_docs} == {"good_a", "good_b", "good_c"}
    assert len(kept_docs) == 9


def test_domain_stats_null_source_and_single_source(spark):
    """NULL source is its own domain (eqNullSafe join keeps its row); a
    single-domain corpus keeps that domain (pct pinned to 0.0 matches
    the oracle's single-row PERCENT_RANK, and 0.0 < 0.25 drops it — the
    documented degenerate case, asserted so a future rule change is a
    conscious diff)."""
    from pyspark_kmeans_spark.operators.curation import domain_stats

    rich = "the day of the long calm work is a good one in the sun"
    docs = spark.createDataFrame(
        [(0, rich, None, "en"), (1, "zz !!", "a", "en")],
        "doc_id long, text string, source string, lang string",
    )
    out = {r["source"]: r for r in domain_stats(docs).collect()}
    assert set(out) == {None, "a"}
    assert out[None]["kept"] is True and out["a"]["kept"] is False

    single = spark.createDataFrame(
        [(0, rich, "only", "en")],
        "doc_id long, text string, source string, lang string",
    )
    row = domain_stats(single).collect()[0]
    assert row["q_pct"] == 0.0 and row["kept"] is False


def test_verbatim_span_stats_planted_spans(spark):
    """Two docs share one verbatim 20-token run (> SPAN_LEN=16): every
    16-token window inside the run is flagged in BOTH docs and the island
    merge reports exactly one span of 20 tokens each; a third doc sharing
    nothing reports zeros; a shared run SHORTER than span_len is below
    the granularity floor by design (Lee et al. ExactSubstr semantics)."""
    from pyspark_kmeans_spark.operators.curation import (
        SPAN_LEN,
        verbatim_span_stats,
    )

    run = " ".join(f"shared{i}" for i in range(20))          # 20 tokens
    short = " ".join(f"near{i}" for i in range(SPAN_LEN - 1))  # 15 tokens
    docs = spark.createDataFrame(
        [
            (0, "alpha beta " + run + " gamma delta " + short),
            (1, run + " epsilon zeta " + short + " eta"),
            (2, " ".join(f"unique{i}" for i in range(40))),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"], r["n_tok"])
        for r in verbatim_span_stats(docs).collect()
    }
    assert got[0] == (1, 20, 2 + 20 + 2 + 15)
    assert got[1] == (1, 20, 20 + 2 + 15 + 1)
    assert got[2] == (0, 0, 40)


def test_verbatim_span_stats_merges_overlapping_runs(spark):
    """Two docs each repeat the SAME 16-token block twice back-to-back
    (a 32-token duplicated region): the flagged windows overlap across
    the whole region and must merge into ONE island counting each token
    once — never 17 islands or double-counted tokens."""
    from pyspark_kmeans_spark.operators.curation import (
        SPAN_LEN,
        verbatim_span_stats,
    )

    block = " ".join(f"blk{i}" for i in range(SPAN_LEN))
    docs = spark.createDataFrame(
        [
            (0, block + " " + block + " tail0 tail1"),
            (1, "head0 " + block + " " + block),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_dup_spans"], r["dup_tokens"])
        for r in verbatim_span_stats(docs).collect()
    }
    assert got[0] == (1, 2 * SPAN_LEN)
    assert got[1] == (1, 2 * SPAN_LEN)


def test_remove_duplicate_spans_cuts_exact_islands(spark):
    """The round-12 removal transform: the planted 20-token shared run is
    CUT token-exactly from both docs (slice-and-concat), the clean doc
    passes through verbatim, and n_tok_kept == size(split(text_kept))
    everywhere — the arithmetic/text consistency the oracle pins the
    count half of."""
    from pyspark_kmeans_spark.operators.curation import (
        SPAN_LEN,
        remove_duplicate_spans,
    )

    run = " ".join(f"shared{i}" for i in range(20))
    short = " ".join(f"near{i}" for i in range(SPAN_LEN - 1))
    unique = " ".join(f"unique{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (0, "alpha beta " + run + " gamma delta " + short),
            (1, run + " epsilon zeta " + short + " eta"),
            (2, unique),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in remove_duplicate_spans(docs).collect()}
    assert got[0]["text_kept"] == "alpha beta gamma delta " + short
    assert got[1]["text_kept"] == "epsilon zeta " + short + " eta"
    assert got[2]["text_kept"] == unique
    for r in got.values():
        toks = r["text_kept"].split(" ") if r["text_kept"] else []
        assert r["n_tok_kept"] == len(toks), r
        assert r["n_tok"] - r["n_tok_kept"] in (0, 20), r


def test_remove_duplicate_spans_full_cut_yields_empty_text(spark):
    """A doc that is ENTIRELY one duplicated block keeps zero tokens and
    empty text — the boundary where filter-by-index and the n_tok −
    dup_tokens arithmetic could disagree (split('') is [''], size 1)."""
    from pyspark_kmeans_spark.operators.curation import (
        SPAN_LEN,
        remove_duplicate_spans,
    )

    block = " ".join(f"blk{i}" for i in range(SPAN_LEN))
    docs = spark.createDataFrame(
        [(0, block), (1, block)],
        "doc_id long, text string",
    )
    for r in remove_duplicate_spans(docs).collect():
        assert r["n_tok_kept"] == 0, r
        assert r["text_kept"] == "", r
