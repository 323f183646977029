"""Corpus-curation operators for LLM training-data pipelines (extension
beyond the reference's scope, same family as text.py / dedup.py).

The reference repo has no corpus-curation surface (it is a k-means
segmentation pipeline, `pyspark_kmeans.py:1-30`); these operators cover the
quality/contamination stages a 100 TB pre-training pipeline runs between
ingestion and tokenization, following the published recipes (C4: Raffel et
al. 2020 §2.2 boilerplate removal; Gopher: Rae et al. 2021 §A1.1 repetition
filters; GPT-3: Brown et al. 2020 §C benchmark-contamination n-gram check).

Scale shapes (the design point is billions of docs, not the 500-row test
table):

 - `duplicate_ngram_stats`: explode → two linear shuffles (shingle agg,
   doc re-agg).  Nothing quadratic; the shingle groupBy is the classic
   word-count shape with map-side partial aggregation.
 - `with_repetition`: pure per-row array expressions — zero shuffle,
   whole-stage codegen, linear.
 - `contamination`: the benchmark side is distinct-shingled and BROADCAST
   (benchmark suites are MBs, corpora are TBs); the corpus side never
   shuffles except the final per-doc count, which re-uses the explode
   partitioning.
 - `build_vocab`: the heavy token count is a distributed groupBy; the
   final global rank runs on the AGGREGATED frame (vocabulary-sized —
   distinct tokens, not token occurrences), where a single-partition
   window is the honest plan: vocabularies are 1e5–1e7 rows at any corpus
   size.

All tokenization is single-space `split` (the documents table is
single-space separated; see TESTDATA.md) so the DuckDB oracles match
token-for-token.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_kmeans_spark.operators.text import QUALITY_SCORE_SQL
from pyspark_kmeans_spark.sources.tables import load_table


def _shingled(
    df: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, shingle) — one row per n-token shingle POSITION (duplicates
    within a doc kept: position count is what the dup-fraction denominator
    means).  Docs shorter than n tokens are excluded (they have no
    n-shingle; both the Spark and SQL spellings filter identically).

    `F.sequence(1, size-n+1)` is guarded by the length filter — sequence
    with a negative span would generate a DESCENDING range, not an empty
    one.
    """
    toks = F.split(F.col(text_col), " ")
    return (
        df.select(F.col(id_col), toks.alias("_t"))
        .filter(F.size("_t") >= n)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, n)),
                )
            ).alias("shingle"),
        )
    )


def duplicate_ngram_stats(
    df: DataFrame,
    n: int = 8,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc duplicated-n-gram fraction against the WHOLE corpus
    (C4/FineWeb-style boilerplate signal).

    A shingle position counts as duplicated when its n-gram occurs in ≥2
    distinct documents.  Returns (id, n_shingles, dup_shingles, dup_frac)
    for every doc with ≥ n tokens.

    Plan: explode shingles → groupBy(shingle) countDistinct(id) (map-side
    partial agg; shingle keys are near-unique so no skew) → join back on
    shingle → groupBy(id).  Linear in corpus token volume.  At 100 TB the
    join key would be xxhash64(shingle) rather than the string (64-bit keys
    shuffle ~6× less than 50-byte strings; collision odds ~n²/2⁶⁵) — kept
    as the string here so the oracle comparison is airtight.
    """
    sh = _shingled(df, n, id_col, text_col)
    freq = sh.groupBy("shingle").agg(
        F.count_distinct(id_col).alias("_docs_with")
    )
    return (
        sh.join(freq, on="shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("_docs_with") >= 2, 1)).alias(
                "dup_shingles"
            ),
        )
        .withColumn(
            "dup_frac",
            F.round(
                F.col("dup_shingles").cast("double") / F.col("n_shingles"), 6
            ),
        )
    )


def with_repetition(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style within-document repetition signals — pure per-row array
    expressions (zero shuffle, whole-stage codegen):

     - distinct_ratio: |distinct tokens| / |tokens|
     - dup_bigram_frac: 1 − |distinct bigrams| / |bigrams| (0.0 when the
       doc has a single token and therefore no bigram)
     - top_token_frac: occurrences of the most frequent token / |tokens|

    top_token_frac is O(|tokens|·|distinct|) per row — fine for documents
    (β-bounded length); a corpus with megabyte rows would move it to the
    explode/groupBy spelling of duplicate_ngram_stats instead.
    """
    t = F.split(F.col(text_col), " ")
    nt = F.size(t)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(nt - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
    )
    top = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda x: F.size(F.filter(t, lambda y: y == x)),
        )
    )
    return (
        df.withColumn(
            "distinct_ratio",
            F.round(F.size(F.array_distinct(t)).cast("double") / nt, 6),
        )
        .withColumn(
            "dup_bigram_frac",
            F.when(nt < 2, F.lit(0.0)).otherwise(
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(bigrams)).cast("double")
                    / F.size(bigrams),
                    6,
                )
            ),
        )
        .withColumn("top_token_frac", F.round(top.cast("double") / nt, 6))
    )


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """GPT-3-style benchmark-contamination check: per corpus doc, how many
    of its n-gram shingle positions appear VERBATIM in the benchmark set.

    Returns (id, n_shingles, n_contam, contam_frac) for every corpus doc
    with ≥ n tokens — uncontaminated docs included with 0 (the downstream
    decision is a filter on contam_frac; dropping clean docs from the
    report would force a second pass).

    The benchmark side is reduced to DISTINCT shingles and broadcast —
    benchmark suites are MB-scale against a TB corpus, so the corpus side
    joins map-side with no shuffle; the only exchange is the final
    per-doc count.
    """
    bench_sh = F.broadcast(
        _shingled(benchmark, n, id_col, text_col)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        _shingled(corpus, n, id_col, text_col)
        .join(bench_sh, on="shingle", how="left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contam"),
        )
        .withColumn(
            "contam_frac",
            F.round(
                F.col("n_contam").cast("double") / F.col("n_shingles"), 6
            ),
        )
    )


# PII patterns spelled with explicit ASCII classes (Java regex and DuckDB's
# RE2 agree on these; \d/\b unicode behavior differs between engines, and
# RE2 has no lookaround — so segment structure, not lookahead, bounds the
# matches).  Ordered: the phone pattern is +-anchored so it cannot overlap
# IPv4, and neither overlaps the email pattern.  Phone = contiguous
# international form OR +CC then 2-4-digit groups ENDING in a 3-4-digit
# group — the final-group rule stops the match swallowing a following
# standalone small number ('+1 555 0100 12 people' keeps the '12').
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": ("[a-zA-Z0-9_.]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+", "<EMAIL>"),
    "ipv4": ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    "phone": (
        "\\+[0-9]{7,15}"
        "|\\+[0-9]{1,3}([ -][0-9]{2,4}){0,3}[ -][0-9]{3,4}",
        "<PHONE>",
    ),
}


def redact_pii(
    df: DataFrame,
    *,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] = PII_PATTERNS,
) -> DataFrame:
    """Scrub PII from a text column before training (C4 §2.2 removes such
    lines; most production pipelines redact in place to keep context).

    Adds one `n_<kind>` match count per pattern (counted on the ORIGINAL
    text) and replaces `text_col` with the redacted form, applying patterns
    in dict order.  Pure per-row regexp expressions — zero shuffle,
    whole-stage codegen, linear in corpus bytes, same shape as text.py's
    quality signals.
    """
    for kind, (pat, _) in patterns.items():
        df = df.withColumn(
            f"n_{kind}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
    redacted = F.col(text_col)
    for pat, token in patterns.values():
        redacted = F.regexp_replace(redacted, pat, token)
    return df.withColumn(text_col, redacted)


def pack_sequences(
    df: DataFrame,
    budget: int = 512,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_col: str = "lang",
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-2/T5 style): lay documents
    end-to-end per shard in `id_col` order and cut training sequences every
    `budget` tokens.  Returns one row per doc: its shard-local sequence id
    (`seq_id` = the sequence its FIRST token lands in) and the token offset
    of the doc within that sequence — the index a trainer needs to
    materialize packed batches without re-tokenizing.

    Plan: one window (cumulative token sum per shard ordered by id) — a
    single shuffle on the shard key.  At 100 TB the shard key would be
    (lang, pmod(xxhash64(id), n_shards)) so no single ordered partition
    exceeds executor memory; kept to `lang` here so the DuckDB oracle
    (engine-portable ANSI window) matches bit-for-bit.
    """
    n_tokens = F.size(F.split(F.col(text_col), " "))
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum(n_tokens).over(w) - n_tokens  # tokens before this doc
    return df.select(
        id_col,
        shard_col,
        n_tokens.alias("n_tokens"),
        F.floor(start / budget).alias("seq_id"),
        (start % budget).alias("seq_offset"),
    )


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per doc, the log-likelihood
    ratio of its tokens under a unigram model of the TARGET (curated)
    distribution vs the RAW corpus distribution, with add-1 smoothing.
    Downstream selection keeps/samples docs by descending weight.

    Plan: two word-count groupBys (linear, map-side partial agg), a
    vocabulary-sized left join + one-row totals cross join to form the
    per-token log-ratio table, then explode-join-reaggregate per doc.  The
    ratio table is broadcast (vocabulary-bounded — distinct tokens, not
    occurrences; DSIR production hashes tokens into 2^16 buckets, making
    the broadcast side fixed-width at any corpus size).  Per-token ratios
    are rounded to 6 decimals BEFORE the per-doc decimal sum, so the
    aggregate is order-independent and engine-exact.

    The exploded token frame feeds BOTH the raw word count and the final
    per-doc join, so it is registered-persisted (the dedup convention,
    functions/persist.py) — without it the broadcast-join branch would
    re-scan and re-tokenize the whole corpus, doubling the heaviest
    linear pass.
    """
    from pyspark_kmeans_spark.functions.persist import registered_persist

    tok = registered_persist(
        corpus.select(id_col, F.explode(F.split(text_col, " ")).alias("token"))
    )
    rcnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cr"))
    tcnt = (
        target.select(F.explode(F.split(text_col, " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    totals = rcnt.agg(
        F.sum("cr").alias("nr"), F.count(F.lit(1)).alias("v")
    ).crossJoin(tcnt.agg(F.sum("ct").alias("nt")))
    llr = (
        rcnt.join(tcnt, on="token", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            F.round(
                F.log((F.coalesce("ct", F.lit(0)) + 1) / (F.col("nt") + F.col("v")))
                - F.log((F.col("cr") + 1) / (F.col("nr") + F.col("v"))),
                6,
            ).alias("w"),
        )
    )
    from pyspark_kmeans_spark.functions.exact import decimal_sum

    return (
        tok.join(F.broadcast(llr), on="token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(decimal_sum("w"), 6).alias("importance"),
        )
    )


def build_vocab(
    df: DataFrame,
    min_count: int = 1,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary with contiguous frequency-ranked ids (tokenizer
    vocab build): (token, n_occurrences, token_id), token_id = 1 for the
    most frequent token, ties broken alphabetically (deterministic).

    The token count is a distributed word-count groupBy (map-side partial
    agg).  The global rank (desc count, asc token) is computed WITHOUT a
    vocabulary-sized single-partition sort: tokens are ranked inside their
    frequency group (parallel window partitioned by n_occurrences), and
    each group's starting offset comes from a cumulative sum over the
    per-frequency group sizes — a frame with one row per DISTINCT count
    value (≪ vocab size under any Zipfian corpus), small enough to
    broadcast.  The largest within-group sort is the count==min_count tail,
    a bounded fraction of the vocabulary rather than all of it.
    min_count is applied BEFORE ranking so ids stay contiguous.
    """
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    group_sizes = counts.groupBy("n_occurrences").agg(
        F.count(F.lit(1)).alias("_g")
    )
    # Constant-valued partition key (pmod(n_occurrences, 1) ≡ 0): the
    # frame is provably tiny (distinct count values), so the
    # single-partition cumsum is deliberate — the key keeps Spark's
    # no-partition WARN out of production logs.  A plain lit(0) — and,
    # for this non-nullable column, even col*0 — is constant-folded OUT
    # of the partition spec by Catalyst; pmod survives.
    cum = (
        Window.partitionBy(F.pmod(F.col("n_occurrences"), F.lit(1)))
        .orderBy(F.desc("n_occurrences"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = group_sizes.withColumn(
        "_offset", F.coalesce(F.sum("_g").over(cum), F.lit(0))
    ).drop("_g")
    within = Window.partitionBy("n_occurrences").orderBy(F.asc("token"))
    return (
        counts.join(F.broadcast(offsets), on="n_occurrences")
        .withColumn(
            "token_id",
            (F.col("_offset") + F.row_number().over(within)).cast("long"),
        )
        .select("token", "n_occurrences", "token_id")
    )


SEGMENT_TOKENS = 10


def segment_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = SEGMENT_TOKENS,
) -> DataFrame:
    """Segment-level exact dedup WITH REMOVAL — the RefinedWeb/FineWeb
    line-dedup stage re-expressed over fixed `seg_tokens`-token windows
    (the synthetic corpus has no newline structure; real callers split on
    newlines instead).  Unlike `duplicate_ngram_stats` (which only SCORES
    duplication), this materializes the surviving document: every
    occurrence of a segment except the globally FIRST one (lowest
    (doc_id, seg_idx)) is dropped, and the per-doc output carries the
    segment counts plus the md5 of the reconstructed kept text — the
    digest keeps output rows small while pinning the reconstruction
    byte-for-byte.

    Scale shape: the explode is linear (tokens/seg_tokens rows per doc);
    duplicate detection is one groupBy(segment) with a map-side-combining
    MIN monoid; the decision join back is shuffle_hash on segment content
    (each occurrence matches exactly one 1-row group — linear even on a
    Zipf-hot boilerplate segment, which is precisely the row that SHOULD
    be deduped); reassembly is one groupBy(doc).  No window over an
    unpartitioned frame, no driver collect.
    """
    toks = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size("_t") / F.lit(seg_tokens)).cast("int")
    segs = df.select(F.col(id_col), toks.alias("_t")).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_seg - 1),
                lambda i: F.array_join(
                    F.slice("_t", i * seg_tokens + 1, seg_tokens), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    first = segs.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("_first")
    )
    tagged = segs.join(first.hint("shuffle_hash"), on="seg").withColumn(
        "_kept",
        (F.col(id_col) == F.col("_first")[id_col])
        & (F.col("seg_idx") == F.col("_first.seg_idx")),
    )
    return tagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum((~F.col("_kept")).cast("int")).cast("bigint").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_kept"), F.struct("seg_idx", "seg")
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            )
        ).alias("kept_digest"),
    )


# --------------------------------------------------------------------------
# Query registry
# --------------------------------------------------------------------------

# Stand-in benchmark set for the registered contamination query: every
# 50th doc.  Real callers pass the actual eval-suite DataFrame.
_BENCH_PRED = "doc_id % 50 = 0"


def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicate_ngram_stats(load_table(spark, sf_dir, "documents"))


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_repetition(docs).select(
        "doc_id", "distinct_ratio", "dup_bigram_frac", "top_token_frac"
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return contamination(
        docs.filter(f"NOT ({_BENCH_PRED})"), docs.filter(_BENCH_PRED)
    )


def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_vocab(load_table(spark, sf_dir, "documents"), min_count=5)


def tokenize_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    oov_id: int = 0,
) -> DataFrame:
    """Apply a trained vocabulary to the corpus: per document, the ordered
    token-id sequence (space-joined), token count, and OOV count — the
    tokenizer-apply stage between vocab build and sequence packing.

    Tokens explode with their position, map to ids via a LEFT join on the
    vocab (OOV → `oov_id`), and reassemble ordered: collect_list gathers
    (pos, id) structs in arbitrary arrival order, array_sort restores the
    positional order deterministically — no window needed.  The id join is
    PINNED to shuffle_hash: Catalyst's static size estimate for the
    explode-derived vocab subtree is unreliable (the round-3 64x scale run
    crashed exactly this pattern by statically broadcasting a "small"
    multi-GiB frame), and the shuffle spelling is also the skew-correct
    one — token frequency is Zipfian, and AQE skew-split bounds the hot
    token's task.  Callers with a known-bounded vocab (stopword lists)
    can pass F.broadcast(vocab) explicitly."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "token"),
    )
    mapped = toks.join(
        vocab.select("token", "token_id").hint("shuffle_hash"),
        on="token",
        how="left",
    )
    return (
        mapped.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("token_id").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_pos").alias("pos"),
                        F.coalesce("token_id", F.lit(oov_id)).alias("tid"),
                    )
                )
            ).alias("_seq"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_oov",
            F.concat_ws(
                " ", F.transform("_seq", lambda s: s["tid"].cast("string"))
            ).alias("ids_joined"),
        )
    )


def q_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tokenize_with_vocab(docs, build_vocab(docs, min_count=5))


def q_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic documents contain no digits at all (TESTDATA.md), so the
    # registered query appends deterministic PII to a varying subset of docs
    # (same stand-in pattern as _BENCH_PRED) — the redaction operator itself
    # is generic.  Emitting the md5 of the redacted text pins the full
    # replacement output, not just the counts.
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    seeded = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                k % 3 == 0,
                F.concat(F.lit(" user"), k, F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                k % 4 == 0,
                F.concat(F.lit(" from 10.0."), k % 256, F.lit(".7")),
            ).otherwise(F.lit("")),
            F.when(
                k % 5 == 0,
                F.concat(F.lit(" call +1 555 010 "), 1000 + k % 9000),
            ).otherwise(F.lit("")),
        ),
    )
    return redact_pii(seeded).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5(F.col("text")).alias("redacted_md5"),
    )


LM_SMOOTHING_K = 0.5  # add-k; CCNet uses Kneser-Ney, add-k keeps it exact


def lm_perplexity(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020
    §4.3): per-document perplexity under a bigram LM with add-k smoothing,
    trained on the corpus itself — low perplexity ≈ fluent prose, high ≈
    boilerplate/gibberish, the standard filter signal between heuristic
    quality scores and a learned classifier.

    P(w2|w1) = (C(w1,w2) + k) / (C(w1) + k·V);  score(doc) = −mean log2 P
    over its bigrams;  perplexity = 2^score.

    Plan: positional explode → per-doc LEAD window (one doc_id shuffle) →
    two count groupBys (bigram/unigram — word-count shapes, map-side
    partials) joined back onto the bigram stream.  The count-frame joins
    are PINNED shuffle_hash: both sides descend from explodes, where
    Catalyst's static size estimates under-read badly enough to pick a
    corpus-scale broadcast (the crash class the round-3 64× run exposed
    for curation_tokenize); Zipf-skewed token keys also make shuffle+AQE
    skew-split the right plan outright.  V is a 1-row scalar cross
    (bounded, allowlisted).  Determinism: per-bigram log2 rounded to 6
    BEFORE the DECIMAL mean, so the per-doc aggregate is
    order-independent and engine-exact."""
    toks = df.select(
        id_col,
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "pos", "token"
        ),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    big = toks.select(
        id_col, "token", F.lead("token").over(w).alias("next_tok")
    ).filter(F.col("next_tok").isNotNull())
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("_c1"))
    bi = big.groupBy("token", "next_tok").agg(F.count(F.lit(1)).alias("_c2"))
    vocab = uni.agg(F.count(F.lit(1)).alias("_v"))
    k = F.lit(LM_SMOOTHING_K)
    logp = F.round(
        F.log2((F.col("_c2") + k) / (F.col("_c1") + k * F.col("_v"))), 6
    )
    scored = (
        big.join(bi.hint("shuffle_hash"), on=["token", "next_tok"])
        .join(uni.hint("shuffle_hash"), on="token")
        .join(F.broadcast(vocab))  # 1-row scalar, bounded cross
        .select(id_col, logp.alias("_lp"))
    )
    from pyspark_kmeans_spark.functions.exact import decimal_sum

    avg_logp = decimal_sum("_lp") / F.count(F.lit(1))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(avg_logp, 6).alias("avg_logp"),
        F.round(F.pow(F.lit(2.0), -avg_logp), 6).alias("perplexity"),
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_perplexity(load_table(spark, sf_dir, "documents"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load_table(spark, sf_dir, "documents"), budget=512)


def q_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stand-in target distribution: the 'src0' source shard (5% of docs) —
    # real callers pass the curated-reference DataFrame.
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    docs = load_table(spark, sf_dir, "documents")
    return importance_weights(docs, docs.filter(F.col("source") == "src0"))


# Quality-funnel thresholds (picked against the synthetic corpus so every
# reason fires on a meaningful fraction — see the distribution probe in
# PLANS.md; production callers tune per corpus).
FUNNEL_MIN_TOKENS = 25
FUNNEL_MIN_DISTINCT_RATIO = 0.35
FUNNEL_MIN_STOPWORD_RATIO = 0.02
FUNNEL_STOPWORDS = ("the", "a")


def quality_funnel(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    min_tokens: int = FUNNEL_MIN_TOKENS,
    min_distinct_ratio: float = FUNNEL_MIN_DISTINCT_RATIO,
    min_stopword_ratio: float = FUNNEL_MIN_STOPWORD_RATIO,
    stopwords: tuple[str, ...] = FUNNEL_STOPWORDS,
) -> DataFrame:
    """Per-source filter-rejection audit — the daily report a curation
    pipeline emits alongside its kept set (C4 §2.2 / Gopher §A1.1 publish
    exactly these reason breakdowns).

    One row per source: total docs, independent fail counts per reason
    (too short, too repetitive, too few stopwords, PII present), docs
    passing ALL filters, and the kept token volume.  Reasons are counted
    independently (a doc can fail several), so each column is auditable in
    isolation.

    Scale shape: per-doc flags are pure array/regexp expressions (zero
    shuffle, whole-stage codegen); the only shuffle is the final
    groupBy(source) — source cardinality is O(100) at any corpus size, with
    map-side partial aggregation doing the heavy lifting.  Linear in corpus
    bytes.
    """
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size("_t")
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    flagged = df.select(
        F.col(group_col),
        toks.alias("_t"),
        F.col(text_col).alias("_txt"),
    ).select(
        group_col,
        n_tok.alias("_n"),
        (n_tok < min_tokens).cast("int").alias("_too_short"),
        (
            F.size(F.array_distinct("_t")).cast("double") / n_tok
            < min_distinct_ratio
        )
        .cast("int")
        .alias("_repetitive"),
        (
            F.size(F.filter("_t", lambda t: F.array_contains(stop_arr, t)))
            .cast("double")
            / n_tok
            < min_stopword_ratio
        )
        .cast("int")
        .alias("_low_stopword"),
        # PII = ANY pattern fires (email OR ipv4 OR phone) — matches the
        # docstring's "PII present"; redact_pii counts per-kind when the
        # breakdown is needed.
        F.greatest(
            *[
                (F.regexp_count(F.col("_txt"), F.lit(pat)) > 0).cast("int")
                for pat, _ in PII_PATTERNS.values()
            ]
        ).alias("_pii"),
    )
    failed_any = (
        F.col("_too_short")
        + F.col("_repetitive")
        + F.col("_low_stopword")
        + F.col("_pii")
        > 0
    ).cast("int")
    return (
        flagged.withColumn("_failed", failed_any)
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_too_short").alias("n_too_short"),
            F.sum("_repetitive").alias("n_repetitive"),
            F.sum("_low_stopword").alias("n_low_stopword"),
            F.sum("_pii").alias("n_pii"),
            F.sum(1 - F.col("_failed")).alias("n_kept"),
            F.sum((1 - F.col("_failed")) * F.col("_n")).alias("kept_tokens"),
        )
    )


# Temperature exponent for the sampled mixture (mT5, Xue et al. 2021 §3.1
# uses alpha=0.3; XLM, Conneau & Lample 2019 §3.1 alpha=0.5).
MIXTURE_ALPHA = 0.3


def mixture_weights(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = MIXTURE_ALPHA,
) -> DataFrame:
    """Temperature-sampled domain mixture: per-source sampling weights that
    move the natural token distribution p_s toward the flattened target
    q_s ∝ p_s^alpha (multilingual/multi-domain training recipe — mT5 §3.1,
    XLM §3.1; alpha=1 keeps the natural mix, alpha=0 is uniform).

    Returns one row per source: token counts, natural share p_s, target
    share q_s, the per-doc sampling weight w_s = q_s / p_s a sampler
    applies, and the expected token volume after reweighting.

    Scale shape: the ONLY corpus-sized work is one groupBy(group_col) with
    map-side combine (token counting is a per-row F.size, no explode);
    everything after — normalization, the p^alpha fold — runs on the
    source-cardinality frame (O(100) rows at any corpus size) via broadcast
    cross-joins of 1-row aggregates.  No window over an unpartitioned
    frame, no driver collect.
    """
    per = (
        df.groupBy(group_col)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split(F.col(text_col), " "))).alias("n_tokens"),
        )
    )
    tot = per.agg(F.sum("n_tokens").alias("_tot"))
    # _p is the UNROUNDED share: n_tokens/_tot is a single correctly-rounded
    # IEEE division, identical across engines, and never 0 for a source with
    # >=1 token — rounding it first (as pre-round-5 code did) sent any share
    # under ~5e-7 to 0.0 and made sample_weight a 0/0 NaN.  Rounding is
    # applied only to the DISPLAYED natural_share and to the p^alpha terms
    # (whose 6-decimal forms are exact in DECIMAL(18,6), making the z-sum
    # partition-order-independent).
    with_p = per.crossJoin(F.broadcast(tot)).withColumn(
        "_p", F.col("n_tokens") / F.col("_tot")
    )
    zsum = with_p.agg(
        F.sum(
            F.round(F.pow("_p", F.lit(alpha)), 6).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("_z")
    )
    q_raw = F.round(F.pow("_p", F.lit(alpha)), 6) / F.col("_z")
    return (
        with_p.crossJoin(F.broadcast(zsum))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            F.round("_p", 6).alias("natural_share"),
            F.round(q_raw, 6).alias("target_share"),
            F.round(q_raw / F.col("_p"), 6).alias("sample_weight"),
            F.round(q_raw * F.col("_tot"), 3).alias("expected_tokens"),
        )
    )


def epoch_plan(
    df: DataFrame,
    weights: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a target mixture into per-doc repeat counts for one
    training epoch: `n_repeats = floor(w) + Bernoulli(frac(w))`, with the
    Bernoulli drawn from a deterministic md5 bucket of the id (8 hex chars
    = 2^32 buckets, so E[n_repeats] matches the group's sample_weight to
    within 2^-32 quantization — negligible), upsampling (w > 1) and
    downsampling (w < 1) both materialize correctly, and the plan is a
    pure function of the data (reproducible across runs, partitionings,
    and engines; the property every epoch-resumable trainer needs).

    Scale shape: the weights frame is group-cardinality (O(100) rows) and
    broadcast; the bucket is partition-local arithmetic — one linear scan,
    zero shuffles.  Downstream, `explode(sequence(1, n_repeats))` turns the
    plan into the physical epoch stream without ever collecting it.
    """
    w = F.col("sample_weight")
    bucket = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    frac = w - F.floor(w)
    extra = (bucket.cast("double") < frac * F.lit(4294967296.0)).cast("int")
    return (
        df.select(id_col, group_col)
        .join(
            F.broadcast(weights.select(group_col, "sample_weight")),
            on=group_col,
        )
        .select(
            id_col,
            group_col,
            "sample_weight",
            (F.floor(w).cast("int") + extra).alias("n_repeats"),
        )
    )


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup(load_table(spark, sf_dir, "documents"))


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_funnel(load_table(spark, sf_dir, "documents"))


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mixture_weights(load_table(spark, sf_dir, "documents"))


def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch materialization of the lang mixture (lang is the skewed
    grouping in this corpus — en is ~44% of tokens): en is down-sampled
    (w≈0.6 → keep ~60% of docs once), the tail langs up-sampled (w≈1.3 →
    every doc once, ~30% twice)."""
    docs = load_table(spark, sf_dir, "documents")
    weights = mixture_weights(docs, group_col="lang")
    return epoch_plan(docs, weights, group_col="lang")


TOKEN_BUDGET_FRACTION = 0.5


def token_budget_selection(
    docs: DataFrame, *, fraction: float = TOKEN_BUDGET_FRACTION
) -> DataFrame:
    """Quality-greedy corpus selection under a global token budget,
    WITHOUT a global sort.

    Semantics (the oracle's single window spells them directly): order
    docs by (quality_score DESC, doc_id ASC); keep a doc iff the token
    sum of all docs strictly before it is under budget = floor(fraction ×
    total corpus tokens) — so the doc straddling the boundary is kept and
    everything after is dropped.  This is the "select the best N tokens"
    primitive of every data-constrained pretraining recipe.

    A literal cumulative-sum window over the corpus is a single-task
    sort at 100 TB.  Instead the selection decomposes over the SCORE
    HISTOGRAM: quality_score is rounded to 6 decimals in [0,1]
    (with_quality's contract), so there are at most 10^6+1 score classes
    REGARDLESS of corpus size.  One groupBy builds per-class token sums;
    the cumulative window runs over that bounded class frame (tiny);
    whole classes above the boundary are kept by a broadcast semi-join
    (map-side — the corpus never shuffles); only the SINGLE boundary
    class needs a per-doc cumulative sum.

    The boundary class itself is UNBOUNDED — a constant-score corpus
    (every doc in the -1.0 sentinel class, or one viral score value)
    collapses it to the WHOLE corpus, so a per-doc window partitioned by
    the class would degrade to the very single-task global sort the
    decomposition exists to avoid (VERDICT r8 "What's wrong" #3).  The
    boundary cumsum therefore runs as a TWO-LEVEL fold over contiguous
    id buckets (shiftright(doc_id, 20) — exact integer ranges, so bucket
    order == doc_id order): within-bucket windows see at most 2^20 rows
    each (ids are unique, a 2^20-wide range holds at most 2^20 of them),
    and the bucket-offset window runs over the bounded bucket frame.
    Same semantics, no unbounded task — the length_batching shard trick
    with contiguity supplied by integer ranges instead of id%k.

    NULL scores (empty text) bucket under a -1.0 sentinel so they sort
    after every real class on both engines (oracle: DESC NULLS LAST) and
    join null-safely."""
    return _token_budget(docs, fraction, [])


def token_budget_per_lang(
    docs: DataFrame, *, fraction: float = TOKEN_BUDGET_FRACTION
) -> DataFrame:
    """Mixture-constrained quality-greedy selection: each lang gets its
    OWN budget floor(fraction × that lang's tokens) and the greedy
    (quality DESC, doc_id ASC) rule runs WITHIN the lang.  The global
    form (`token_budget_selection`) lets one high-scoring lang crowd the
    tail out of the kept set entirely — a 50% global budget can keep
    100% of en and 0% of a low-scoring tail lang; this form preserves
    the corpus mixture exactly, the knob a training recipe uses when the
    domain proportions are fixed upstream (`mixture_weights` CHOOSES
    proportions; this ENFORCES them under a token budget).

    Same histogram-CDF decomposition as the global form, per lang: the
    class frame is bounded by (6-dp score classes ≤ 10^6+1) × |langs| —
    whole classes keep via a broadcast semi-join, and only each lang's
    single boundary class pays the per-doc two-level contiguous-bucket
    fold (windows partitioned by (lang, bucket) — NULL lang is its own
    window partition natively; every JOIN on lang is eqNullSafe so a
    NULL-lang corpus slice budgets and reports like any other group).
    The broadcast class/boundary frames grow with |langs|; for a
    group key of pathological cardinality (millions of groups) the
    semi-joins would need shuffle form — lang cardinality is bounded by
    the language inventory, so the broadcast contract holds here."""
    return _token_budget(docs, fraction, ["lang"])


def _key_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    *,
    exact: tuple[str, ...] = (),
    how: str = "inner",
) -> DataFrame:
    """left ⋈ broadcast(right): null-safe on `keys`, plain equality on
    `exact`; with neither there is no condition, i.e. a cross join.
    right's join columns are renamed apart for the condition and dropped
    after it, so the output carries left's copies only."""
    on_cols = [*keys, *exact]
    r = right.select(
        *[
            F.col(c).alias("_r" + c) if c in on_cols else F.col(c)
            for c in right.columns
        ]
    )
    conds = [F.col(c).eqNullSafe(F.col("_r" + c)) for c in keys] + [
        F.col(c) == F.col("_r" + c) for c in exact
    ]
    return left.join(F.broadcast(r), on=conds or None, how=how).drop(
        *["_r" + c for c in on_cols]
    )


def _token_budget(docs: DataFrame, fraction: float, keys: list[str]) -> DataFrame:
    """The histogram-CDF selection behind both public faces: one budget
    floor(fraction × group tokens) per `keys` group ([] → one global
    budget), the greedy (quality DESC, doc_id ASC) rule within each
    group, the per-lang report.  Every window partitions by `keys` and
    every budget-side join keys on them null-safely (`_key_join`), so a
    NULL-lang group budgets like any other."""
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.text import with_quality

    scored = registered_persist(
        with_quality(docs).select(
            "doc_id",
            "lang",
            F.coalesce(F.col("quality_score"), F.lit(-1.0)).alias("_skey"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    budgets = scored.groupBy(*keys).agg(
        F.floor(F.lit(fraction) * F.sum("n_tokens"))
        .cast("long")
        .alias("budget_tokens")
    )
    class_w = Window.partitionBy(*keys).orderBy(F.desc("_skey")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    classes = _key_join(
        scored.groupBy(*keys, "_skey")
        .agg(F.sum("n_tokens").alias("_ctok"))
        .withColumn(
            "_before",
            F.coalesce(F.sum("_ctok").over(class_w), F.lit(0).cast("long")),
        ),
        budgets,
        keys,
    )
    kept_whole = _key_join(
        scored,
        classes.filter(
            F.col("_before") + F.col("_ctok") <= F.col("budget_tokens")
        ).select(*keys, "_skey"),
        keys,
        exact=("_skey",),
        how="left_semi",
    ).select("lang", "n_tokens")
    boundary = classes.filter(
        (F.col("_before") < F.col("budget_tokens"))
        & (F.col("_before") + F.col("_ctok") > F.col("budget_tokens"))
    ).select(*keys, "_skey", "_before", "budget_tokens")
    # Two-level strictly-preceding cumsum over each group's boundary class
    # (see token_budget_selection's degenerate-tie-class paragraph):
    # contiguous id buckets bound every window task at 2^20 rows even when
    # the class is the whole group.  At most one class per group reaches
    # here, so the bucket-offset window needs no key beyond the group's.
    bdocs = _key_join(scored, boundary, keys, exact=("_skey",)).withColumn(
        "_bkt", F.shiftright("doc_id", 20)
    )
    bkt_w = Window.partitionBy(*keys).orderBy(F.asc("_bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        bdocs.groupBy(*keys, "_bkt")
        .agg(F.sum("n_tokens").alias("_btok"))
        .withColumn(
            "_boff",
            F.coalesce(F.sum("_btok").over(bkt_w), F.lit(0).cast("long")),
        )
        .select(*keys, "_bkt", "_boff")
    )
    in_bkt_w = (
        Window.partitionBy(*keys, "_bkt")
        .orderBy(F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept_boundary = (
        _key_join(bdocs, offsets, keys, exact=("_bkt",))
        .withColumn(
            "_inb",
            F.col("_boff")
            + F.coalesce(
                F.sum("n_tokens").over(in_bkt_w), F.lit(0).cast("long")
            ),
        )
        .filter(F.col("_before") + F.col("_inb") < F.col("budget_tokens"))
        .select("lang", "n_tokens")
    )
    kept = kept_whole.unionByName(kept_boundary)
    totals = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    kept_agg = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    # eqNullSafe on the report group key (ADVICE r8 #1): the oracle GROUPs
    # BY the nullable lang column, so a kept NULL-lang doc must land in its
    # own report row — a null-unsafe equi-join would zero its n_kept and
    # desync from the oracle.  Same rule score_percentiles already applies.
    kept_side = kept_agg.select(
        F.col("lang").alias("_kl"), "n_kept", "kept_tokens"
    )
    report = totals.join(
        kept_side, on=F.col("lang").eqNullSafe(F.col("_kl")), how="left"
    )
    return _key_join(report, budgets, keys).select(
        "lang",
        "n_docs",
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        "total_tokens",
        F.coalesce("kept_tokens", F.lit(0).cast("long")).alias("kept_tokens"),
        "budget_tokens",
    )


def q_token_budget_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return token_budget_per_lang(load_table(spark, sf_dir, "documents"))


FUZZY_CONTAM_THRESHOLD = 0.8


def fuzzy_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    threshold: float = FUZZY_CONTAM_THRESHOLD,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Doc-level NEAR-VERBATIM benchmark contamination: per corpus doc,
    the maximum whole-document token-set Jaccard against any benchmark
    doc, and whether it crosses `threshold` — the paraphrase-robust
    complement to `contamination` (verbatim n-gram overlap misses a
    lightly edited benchmark copy whose 8-grams all differ; its token
    SET barely moves).

    Plan at scale: the benchmark side is MB-scale by contract, so its
    exploded (token, bench_id, |bench set|) frame broadcasts and the
    corpus joins map-side — candidate (doc, bench) pairs exist only
    where at least one token is shared, the per-pair intersection count
    is one partial-aggregatable groupBy, and per-token fan-out is
    bounded by the bench-doc count, never the corpus.  Docs sharing no
    token with any bench doc surface with max_jaccard 0.0 (left join +
    coalesce), matching the oracle's max over ALL pairs.  Jaccard is
    rounded to 6 dp BEFORE every comparison on both engines."""

    from pyspark_kmeans_spark.operators.text import WS_RE

    def _toks(df: DataFrame, alias: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(alias),
            F.array_distinct(
                F.split(F.trim(F.col(text_col)), WS_RE)
            ).alias("_t"),
        )

    ct = _toks(corpus, "doc_id").select(
        "doc_id", F.size("_t").alias("_na"), F.explode("_t").alias("_tok")
    )
    bench_tokens = F.broadcast(
        _toks(benchmark, "_bench_id").select(
            "_bench_id", F.size("_t").alias("_nb"), F.explode("_t").alias("_tok")
        )
    )
    jac = F.round(
        F.col("_inter").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_inter")),
        6,
    )
    per_doc = (
        ct.join(bench_tokens, on="_tok")
        .groupBy("doc_id", "_bench_id", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_inter"))
        .select("doc_id", jac.alias("_jac"))
        .groupBy("doc_id")
        .agg(
            F.max("_jac").alias("max_jaccard"),
            F.sum((F.col("_jac") >= F.lit(threshold)).cast("int"))
            .cast("long")
            .alias("n_bench_hits"),
        )
    )
    return (
        corpus.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
            F.coalesce("n_bench_hits", F.lit(0).cast("long")).alias(
                "n_bench_hits"
            ),
        )
        .withColumn(
            "is_contaminated", F.col("max_jaccard") >= F.lit(threshold)
        )
    )


def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_contamination(
        docs.filter(f"NOT ({_BENCH_PRED})"), docs.filter(_BENCH_PRED)
    )


TOP_BOILERPLATE_K = 100  # shingles reported by the boilerplate miner


def top_boilerplate_shingles(
    docs: DataFrame, *, n: int = 8, k: int = TOP_BOILERPLATE_K
) -> DataFrame:
    """The corpus's top-k most-repeated n-gram shingles with occurrence
    and document frequencies — the MINING step behind boilerplate filter
    lists (`duplicate_ngram_stats` scores docs against the corpus;
    operators teams then want the actual offending shingles: cookie
    banners, license headers, nav chrome).  One word-count-shaped
    groupBy over the shingle stream (map-side partial agg), then
    TakeOrderedAndProject for the top-k with a total order (count desc,
    doc frequency desc, shingle asc) so the cut is deterministic under
    ties.  Only shingles appearing in MORE THAN ONE document qualify —
    a within-doc repeat is `with_repetition`'s signal, not boilerplate."""
    sh = _shingled(docs, n, "doc_id", "text")
    return (
        sh.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(
            F.desc("n_occurrences"), F.desc("n_docs"), F.asc("shingle")
        )
        .limit(k)
    )


def q_top_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return top_boilerplate_shingles(load_table(spark, sf_dir, "documents"))


CONTAM_FRAC_LIMIT = 0.2  # verbatim 8-gram overlap fraction that drops a doc


def q_decontaminated_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination WITH REMOVAL — the decision step the two
    report operators feed: a corpus doc is dropped iff its verbatim
    8-gram overlap fraction ≥ CONTAM_FRAC_LIMIT (`contamination`) OR its
    doc-level token-set Jaccard to any bench doc ≥ FUZZY_CONTAM_THRESHOLD
    (`fuzzy_contamination`); everything else is kept.  Both filters run
    over the broadcast bench side (map-side, no corpus shuffle); the
    dropped set is pair-derived with no usable static size estimate and
    can be corpus-scale under heavy contamination, so the final anti-join
    is shuffle_hash-pinned, never statically broadcast (the
    near_dedup_kept rationale).  Returns kept doc ids."""
    docs = load_table(spark, sf_dir, "documents")
    return decontaminated_kept(
        docs.filter(f"NOT ({_BENCH_PRED})"), docs.filter(_BENCH_PRED)
    )


def decontaminated_kept(corpus: DataFrame, bench: DataFrame) -> DataFrame:
    verbatim_drop = (
        contamination(corpus, bench)
        .filter(F.col("contam_frac") >= F.lit(CONTAM_FRAC_LIMIT))
        .select("doc_id")
    )
    fuzzy_drop = (
        fuzzy_contamination(corpus, bench)
        .filter("is_contaminated")
        .select("doc_id")
    )
    dropped = verbatim_drop.unionByName(fuzzy_drop).distinct()
    return corpus.select("doc_id").join(
        dropped.hint("shuffle_hash"), on="doc_id", how="left_anti"
    )


BATCH_LENGTH_BUCKET = 64  # tokens per length-bucket step
BATCH_SIZE = 16  # docs per training batch
BATCH_SHARDS = 8  # deterministic parallel shards per bucket


def length_bucket_batching(
    docs: DataFrame,
    *,
    bucket_width: int = BATCH_LENGTH_BUCKET,
    batch_size: int = BATCH_SIZE,
    n_shards: int = BATCH_SHARDS,
) -> DataFrame:
    """Length-bucketed training-batch formation with a padding-waste
    report — the batching-efficiency primitive: a batch padded to its
    longest member wastes (max - len) tokens per doc, and grouping
    similar-length docs first is how pipelines cut that waste.

    Batches are formed deterministically WITHOUT a global sort: docs
    land in (length bucket = n_tokens div bucket_width, shard = doc_id
    mod n_shards), and the row_number window that assigns batch slots
    partitions by (bucket, shard) — parallel across buckets AND shards,
    each window task bounded by |bucket|/n_shards (the production knob:
    more shards, smaller tasks; batches never cross shards, which is
    exactly how per-worker batch formation behaves in a real loader).
    Report per bucket: docs, batches, real vs padded token mass, and the
    waste ratio.  Membership is a pure function of (doc_id, n_tokens),
    so the plan is engine/partitioning-stable and the oracle replays it
    verbatim."""
    from pyspark_kmeans_spark.operators.text import with_token_counts

    t = with_token_counts(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    x = t.select(
        "doc_id",
        "n_tokens",
        F.floor(F.col("n_tokens") / F.lit(bucket_width))
        .cast("long")
        .alias("bucket"),
        (F.col("doc_id") % F.lit(n_shards)).alias("shard"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("doc_id")
    batches = (
        x.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "batch",
            F.floor((F.col("_rn") - 1) / F.lit(batch_size)).cast("long"),
        )
        .groupBy("bucket", "shard", "batch")
        .agg(
            F.count(F.lit(1)).alias("_bd"),
            F.max("n_tokens").alias("_mt"),
            F.sum("n_tokens").alias("_st"),
        )
    )
    return batches.groupBy("bucket").agg(
        F.sum("_bd").alias("n_docs"),
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("_st").alias("total_tokens"),
        F.sum(F.col("_mt") * F.col("_bd")).alias("padded_tokens"),
        F.round(
            F.lit(1.0)
            - F.sum("_st").cast("double")
            / F.sum(F.col("_mt") * F.col("_bd")).cast("double"),
            6,
        ).alias("waste_ratio"),
    )


def q_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_bucket_batching(load_table(spark, sf_dir, "documents"))


def score_percentiles(
    docs: DataFrame, *, group_col: str = "source"
) -> DataFrame:
    """Per-source quality-score calibration: each doc's percentile rank
    of its quality score WITHIN its source — the normalization step that
    makes one global quality threshold meaningful across sources with
    different score distributions (a 0.5 score can be top-decile in one
    crawl and median in another; thresholding raw scores silently skews
    the mixture).

    Percentile = PERCENT_RANK semantics: strictly-lower-scored docs in
    the source / (n_source - 1), ties sharing a value, 0.0 for a
    single-doc source.  Computed WITHOUT a per-source global sort via
    the same histogram-CDF decomposition as `token_budget_selection`:
    the 6-dp score codomain bounds each source's class frame at 10^6+1
    rows regardless of corpus size, the strictly-below cumsum runs on
    that bounded frame (parallel across sources), and docs join their
    class's percentile back on (source, class).  Unlike
    token_budget_selection there is NO per-doc window here, so the
    degenerate tie-class (a constant-score source) is harmless: it
    collapses to ONE class row the docs equi-join.  The oracle is the
    INDEPENDENT spelling — DuckDB's PERCENT_RANK window — so a mistake
    in the CDF decomposition cannot be mirrored.  NULL scores (empty
    text) class under the -1.0 sentinel, ranking below every real
    score on both engines."""
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.text import with_quality

    # Persisted like token_budget_selection's scored frame: with_quality's
    # regexp aggregates dominate the query, and `scored` feeds both the
    # class groupBy and the final join — without the persist each scan
    # would re-run the scorer over the full corpus.
    scored = registered_persist(
        with_quality(docs).select(
            "doc_id",
            group_col,
            F.coalesce(F.col("quality_score"), F.lit(-1.0)).alias("_skey"),
        )
    )
    classes = scored.groupBy(group_col, "_skey").agg(
        F.count(F.lit(1)).alias("_c")
    )
    below_w = Window.partitionBy(group_col).orderBy(F.asc("_skey")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Per-group totals fold from the bounded class frame (sum of class
    # counts), never from a second corpus scan; the window partitions by
    # group, so _n rides along without any join.
    total_w = Window.partitionBy(group_col)
    cdf = classes.withColumn(
        "_below",
        F.coalesce(F.sum("_c").over(below_w), F.lit(0).cast("long")),
    ).withColumn("_n", F.sum("_c").over(total_w))
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        F.round(F.col("_below").cast("double") / (F.col("_n") - 1), 6)
    )
    # eqNullSafe on the group key: a NULL source must rank in its own
    # partition exactly as the oracle's PARTITION BY does, not silently
    # drop out of a null-unsafe equi-join.
    # Both join keys aliased on the cdf side: unambiguous column lineage
    # (no reliance on self-join disambiguation, no trivially-true-equals
    # WARN from a same-lineage predicate).
    cdf_side = cdf.select(
        F.col(group_col).alias("_g"),
        F.col("_skey").alias("_sk"),
        pct.alias("score_pct"),
    )
    return (
        scored.join(
            cdf_side,
            on=(
                F.col(group_col).eqNullSafe(F.col("_g"))
                & (F.col("_skey") == F.col("_sk"))
            ),
        )
        .select("doc_id", group_col, "score_pct")
    )


def q_score_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return score_percentiles(load_table(spark, sf_dir, "documents"))


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return token_budget_selection(load_table(spark, sf_dir, "documents"))


DOMAIN_DROP_FRACTION = 0.25


def domain_stats(
    docs: DataFrame,
    *,
    group_col: str = "source",
    drop_fraction: float = DOMAIN_DROP_FRACTION,
) -> DataFrame:
    """Per-domain aggregate quality profile + bottom-quantile blocklist
    decision — DOMAIN-level filtering, the curation step doc-level
    filters cannot replace (C4 §2.2's blocklist and RefinedWeb §3.1's
    URL scoring both act on the domain: a systematically low-quality
    domain whose docs each sit just above the per-doc threshold passes
    every doc filter and still poisons the mixture).

    One row per source: n_docs, token volume, mean quality, the
    domain's percentile rank by mean quality, and `kept` = rank >=
    drop_fraction (ties share a class, hence a fate — PERCENT_RANK
    semantics, so the oracle's single-window spelling is independent).

    Scale shape: the corpus appears ONCE, as a map-side-combinable
    groupBy(source).  Domains are bounded but NOT small (a web crawl
    has ~10^8 registrable domains), so the rank does NOT use a window
    over the per-source frame: the same histogram-CDF decomposition as
    `score_percentiles` bounds the sorted structure by the 6-dp
    mean-quality CODOMAIN (10^6+1 classes max), and sources equi-join
    their class's rank back.  The mean is an exact DECIMAL sum (order-
    independent) cast to double for ONE identical division+round on
    both engines, so the class key is bit-stable across partitionings.
    NULL scores (empty text) carry the -1.0 sentinel into the mean,
    matching the oracle's COALESCE."""
    from pyspark_kmeans_spark.functions.persist import registered_persist
    from pyspark_kmeans_spark.operators.text import with_quality

    scored = with_quality(docs).select(
        group_col,
        F.coalesce(F.col("quality_score"), F.lit(-1.0)).alias("_s"),
        F.col("n_tokens").cast("long").alias("_nt"),
    )
    # Persisted: the per-source frame feeds both the class histogram and
    # the final join-back; without the persist the corpus scan (and its
    # regexp scorer) would run twice.
    per = registered_persist(
        scored.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("_s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_quality"),
        )
    )
    classes = per.groupBy("mean_quality").agg(F.count(F.lit(1)).alias("_c"))
    # Strictly-below cumsum over the BOUNDED class frame (6-dp codomain),
    # not the source frame — the "no partition" window is safe here for
    # the same reason token_budget_selection's class window is.
    below_w = Window.orderBy(F.asc("mean_quality")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = classes.agg(F.sum("_c").cast("long").alias("_n"))
    cdf = (
        classes.withColumn(
            "_below",
            F.coalesce(F.sum("_c").over(below_w), F.lit(0).cast("long")),
        )
        # 1-row scalar cross (total source count), broadcast-bounded.
        .crossJoin(F.broadcast(tot))
    )
    pct = F.when(F.col("_n") == 1, F.lit(0.0)).otherwise(
        F.round(F.col("_below").cast("double") / (F.col("_n") - 1), 6)
    )
    cdf_side = cdf.select(
        F.col("mean_quality").alias("_mq"), pct.alias("q_pct")
    )
    return (
        per.join(cdf_side, on=F.col("mean_quality") == F.col("_mq"))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            "mean_quality",
            "q_pct",
            (F.col("q_pct") >= F.lit(drop_fraction)).alias("kept"),
        )
    )


def domain_filter_kept(
    docs: DataFrame,
    *,
    group_col: str = "source",
    drop_fraction: float = DOMAIN_DROP_FRACTION,
    sources_broadcastable: bool = True,
) -> DataFrame:
    """Docs surviving the domain blocklist: semi-join the corpus against
    the kept-source set from `domain_stats`.

    Scale shape: the kept-source list is the bounded per-domain frame —
    broadcast it (default) so the corpus never shuffles.  The broadcast
    holds to ~10^7 domains; for a crawl-scale domain universe pass
    ``sources_broadcastable=False`` and the semi-join shuffles on the
    group key instead (the similarity.py probes_broadcastable contract).
    eqNullSafe: a NULL source is its own domain on both engines."""
    kept = domain_stats(
        docs, group_col=group_col, drop_fraction=drop_fraction
    ).filter(F.col("kept")).select(F.col(group_col).alias("_g"))
    if sources_broadcastable:
        kept = F.broadcast(kept)
    return docs.join(
        kept, on=F.col(group_col).eqNullSafe(F.col("_g")), how="left_semi"
    ).select("doc_id", group_col, "lang")


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return domain_stats(load_table(spark, sf_dir, "documents"))


def q_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return domain_filter_kept(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Verbatim span dedup (round 11, VERDICT r10 stretch #7)
# --------------------------------------------------------------------------

# Fixed window length in tokens — the ExactSubstr granularity (Lee et al.
# 2022, "Deduplicating Training Data Makes Language Models Better", use 50
# BPE tokens over a suffix array; a fixed-window hash join is the standard
# distributed approximation: every duplicated run of >= span_len tokens
# contains at least one duplicated window, so flagged-window islands cover
# exactly the >= span_len verbatim repeats).  16 fits the fixture docs
# (median 56 tokens); production corpora tune this like Lee et al.'s 50.
SPAN_LEN = 16
# Double rolling hash: two independent (multiplier, modulus) pairs at both
# levels — char-fold per token, then token-hash-fold per window.  One
# 31-bit key would collide at ~10^5 windows (birthday bound); the pair
# key's effective ~62 bits keep false window matches out of any realistic
# corpus, and BOTH engines compute the identical folds, so the oracle sees
# the same keys bit-for-bit (the text.ROLLING_HASH_MOD convention: all
# products stay under 2^52, exact in either engine's 64-bit arithmetic).
_SPAN_H1 = (31, 2147483647)  # text.ROLLING_HASH char-fold pair
_SPAN_H2 = (131, 2147483629)
_SPAN_W1 = (1000003, 2147483647)  # token-level window folds
_SPAN_W2 = (999979, 2147483629)


def _char_fold(col, mult: int, mod: int) -> F.Column:
    """Polynomial char fold (acc*mult + ascii(c)) % mod — the
    text.with_rolling_hash fold, parameterized."""
    return F.aggregate(
        F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * mult + c) % F.lit(mod),
    )


def _hash_fold(arr, mult: int, mod: int) -> F.Column:
    """Second-level fold over an array of token hashes (longs)."""
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * mult + h) % F.lit(mod),
    )


def _span_islands(
    docs: DataFrame,
    *,
    span_len: int,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(base, islands) — the span-dedup machinery shared by the REPORT
    (verbatim_span_stats) and the REMOVAL transform
    (remove_duplicate_spans), single-sourced so the cut can never
    disagree with the report that justified it.  base = (id, n_tok, …)
    for every doc; islands = (id, _s, _e): maximal merged cross-doc
    duplicated token runs, 0-based start, end exclusive.

    Plan (all linear, nothing pairwise):
      1. Per doc, ONE pass builds the token-hash arrays (char fold per
         token) and every window's double hash via F.slice over them —
         O(n_tok · span_len) long ops per doc, zero shuffle, pure JVM.
      2. Window keys dedup to (key, doc) then a map-side-combinable
         groupBy counts DISTINCT docs per key; keys in >= 2 docs are the
         duplicated windows (the exact_dedup shuffle shape: 16 B keys,
         never text, through the exchange).
      3. Flagged windows semi-join back (equi-join on the key pair) and
         merge into maximal islands per doc with the classic
         gaps-and-islands window pair (runs over FLAGGED windows only —
         the duplicated subset, not the corpus window volume)."""
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("n_tok"),
        F.transform(toks, lambda w: _char_fold(w, *_SPAN_H1)).alias("_t1"),
        F.transform(toks, lambda w: _char_fold(w, *_SPAN_H2)).alias("_t2"),
    )
    wins = (
        base.filter(F.col("n_tok") >= span_len)
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tok") - span_len),
                    lambda i: F.struct(
                        i.alias("start"),
                        _hash_fold(
                            F.slice("_t1", i + 1, span_len), *_SPAN_W1
                        ).alias("w1"),
                        _hash_fold(
                            F.slice("_t2", i + 1, span_len), *_SPAN_W2
                        ).alias("w2"),
                    ),
                )
            ).alias("_w"),
        )
        .select(id_col, "_w.start", "_w.w1", "_w.w2")
    )
    # distinct-then-count, not countDistinct: dropDuplicates partially
    # aggregates map-side, so the shuffle carries one row per (key, doc)
    # regardless of within-doc window repetition.
    flagged_keys = (
        wins.select("w1", "w2", id_col)
        .dropDuplicates()
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("w1", "w2")
    )
    flagged = wins.join(flagged_keys, on=["w1", "w2"], how="left_semi")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy(id_col).orderBy("start")
    islands = (
        flagged.withColumn(
            "_prev_end", F.max(F.col("start") + span_len).over(w_prev)
        )
        .withColumn(
            "_new",
            F.when(
                F.col("_prev_end").isNull()
                | (F.col("start") > F.col("_prev_end")),
                1,
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w_run))
        .groupBy(id_col, "_isl")
        .agg(
            F.min("start").alias("_s"),
            (F.max("start") + span_len).alias("_e"),
        )
    )
    return base, islands


def verbatim_span_stats(
    docs: DataFrame,
    *,
    span_len: int = SPAN_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document VERBATIM SPAN dedup report: per doc, the merged
    token spans (>= span_len tokens) that appear verbatim in at least one
    OTHER document — (id, n_tok, n_dup_spans, dup_tokens, dup_frac).
    This is span-granular (which tokens to cut), complementing
    `contamination`/`duplicate_ngram_stats` which flag whole DOCS; the
    removal step is a slice-and-concat over the reported islands.

    Plan (all linear, nothing pairwise):
      1. Per doc, ONE pass builds the token-hash arrays (char fold per
         token) and every window's double hash via F.slice over them —
         O(n_tok · span_len) long ops per doc, zero shuffle, pure JVM.
      2. Window keys dedup to (key, doc) then a map-side-combinable
         groupBy counts DISTINCT docs per key; keys in >= 2 docs are the
         duplicated windows (the exact_dedup shuffle shape: 16 B keys,
         never text, through the exchange).
      3. Flagged windows semi-join back (equi-join on the key pair) and
         merge into maximal islands per doc with the classic
         gaps-and-islands window pair (runs over FLAGGED windows only —
         the duplicated subset, not the corpus window volume).
      4. Per-doc rollup left-joins onto the full doc list so clean docs
         report zeros (the curation-report convention).

    Every duplicated run of r >= span_len tokens yields r - span_len + 1
    consecutive flagged windows whose island is exactly [run_start,
    run_end) — so dup_tokens counts each repeated token ONCE, and a run
    shorter than span_len is (by design, as in Lee et al.) below the
    granularity floor."""
    base, islands = _span_islands(
        docs, span_len=span_len, id_col=id_col, text_col=text_col
    )
    per_doc = islands.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_spans"),
        F.sum(F.col("_e") - F.col("_s")).alias("_dup_tok"),
    )
    return (
        base.select(id_col, "n_tok")
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            "n_tok",
            F.coalesce("_n_spans", F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.coalesce("_dup_tok", F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.round(
                F.coalesce("_dup_tok", F.lit(0)) / F.col("n_tok"), 6
            ).alias("dup_frac"),
        )
    )


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return verbatim_span_stats(load_table(spark, sf_dir, "documents"))


def remove_duplicate_spans(
    docs: DataFrame,
    *,
    span_len: int = SPAN_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span REMOVAL (round 12, VERDICT r11 stretch #7 — the transform
    verbatim_span_stats' docstring promises): per doc, the kept text
    with every cross-doc duplicated island CUT at token granularity —
    (id, n_tok, n_tok_kept, text_kept).  The slice-and-concat of Lee et
    al.'s dedup paper, as one declarative pass.

    Islands come from the SAME `_span_islands` machinery as the report
    (merged maximal runs, 0-based [s, e)), collected per doc into a
    model-free array column (islands per doc are few by construction —
    merged and non-overlapping), then the cut is a pure JVM
    filter-by-index over the token array: a token survives iff no
    island covers its position.  No shuffle beyond the report's own;
    the token filter is map-side.  Because islands are disjoint,
    n_tok_kept == n_tok − Σ(e−s) exactly — the oracle-checkable
    arithmetic twin of the text column."""
    base, islands = _span_islands(
        docs, span_len=span_len, id_col=id_col, text_col=text_col
    )
    isl_arr = islands.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("_s").alias("s"), F.col("_e").alias("e"))
            )
        ).alias("_islands"),
        F.sum(F.col("_e") - F.col("_s")).alias("_dup_tok"),
    )
    toks = F.split(F.col(text_col), " ")
    joined = docs.join(isl_arr, on=id_col, how="left")
    isl = F.coalesce(
        F.col("_islands"),
        F.array().cast("array<struct<s:int,e:int>>"),
    )
    kept = F.filter(
        F.transform(toks, lambda w, i: F.struct(w.alias("w"), i.alias("i"))),
        lambda s: ~F.exists(
            isl, lambda r: (s["i"] >= r["s"]) & (s["i"] < r["e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size(toks).alias("n_tok"),
        (F.size(toks) - F.coalesce("_dup_tok", F.lit(0)))
        .cast("bigint")
        .alias("n_tok_kept"),
        F.array_join(
            F.transform(kept, lambda s: s["w"]), " "
        ).alias("text_kept"),
    )


def q_span_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal DECISION, driver-hashable: (doc_id, n_tok,
    n_tok_kept) — the oracle replays the full window/island pipeline in
    SQL and derives n_tok_kept arithmetically; the text column itself is
    pinned by tests (token-exact slice-and-concat, and
    size(split(text_kept)) == n_tok_kept consistency)."""
    from pyspark_kmeans_spark.functions.persist import release_persisted

    release_persisted()
    return remove_duplicate_spans(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "n_tok", "n_tok_kept")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "curation_span_dedup": q_span_dedup,
    "curation_span_removed": q_span_removed,
    "curation_token_budget": q_token_budget,
    "curation_token_budget_per_lang": q_token_budget_per_lang,
    "curation_length_batching": q_length_batching,
    "curation_fuzzy_contamination": q_fuzzy_contamination,
    "curation_score_percentiles": q_score_percentiles,
    "curation_domain_stats": q_domain_stats,
    "curation_domain_filter": q_domain_filter,
    "curation_decontaminated": q_decontaminated_kept,
    "curation_top_boilerplate": q_top_boilerplate,
    "curation_funnel": q_quality_funnel,
    "mixture_weights": q_mixture_weights,
    "epoch_plan": q_epoch_plan,
    "curation_dup_ngrams": q_dup_ngrams,
    "curation_repetition": q_repetition,
    "curation_contamination": q_contamination,
    "curation_vocab": q_vocab,
    "curation_pii": q_pii,
    "curation_pack_sequences": q_pack_sequences,
    "curation_importance": q_importance,
    "curation_tokenize": q_tokenize_docs,
    "curation_lm_score": q_lm_perplexity,
    "curation_segment_dedup": q_segment_dedup,
}

_SH_CTE = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+{m}], ' ')
                       for i in generate_series(1, len(t)-{m})]) AS shingle
        FROM toks WHERE len(t) >= {n}
    )
"""

# Fuzzy doc-level token sets + the rounded Jaccard expression, shared by
# the fuzzy-contamination and decontamination oracles (the _SH_CTE
# convention: one spelling, so a tokenization or rounding edit cannot
# land in one oracle and miss the other).  A NULL text yields t = NULL
# and every jac NULL — the consumers coalesce/HAVING that to "nothing
# shared", matching the Spark side's no-token-rows path.
_FUZZY_CTE = f"""
    ct AS (
        SELECT doc_id,
               list_distinct(regexp_split_to_array(trim(text),
                             '[ \\t\\n]+')) AS t
        FROM documents WHERE NOT ({_BENCH_PRED})
    ),
    bt AS (
        SELECT doc_id AS bench_id,
               list_distinct(regexp_split_to_array(trim(text),
                             '[ \\t\\n]+')) AS t
        FROM documents WHERE {_BENCH_PRED}
    )
"""

_FUZZY_JAC_SQL = """ROUND(
    CAST(len(list_intersect(ct.t, bt.t)) AS DOUBLE)
    / (len(ct.t) + len(bt.t) - len(list_intersect(ct.t, bt.t))), 6)"""

# Oracle fragments interpolated from the SAME constants the Spark side
# reads (editing FUNNEL_STOPWORDS / PII_PATTERNS keeps oracle parity —
# round-4 advice: these two were hardcoded while the thresholds were not).
_SQL_STOPWORD_LIST = ", ".join(
    "'" + s.replace("'", "''") + "'" for s in FUNNEL_STOPWORDS
)
_SQL_PII_ANY = " OR ".join(
    "regexp_matches(text, '" + pat.replace("'", "''") + "')"
    for pat, _ in PII_PATTERNS.values()
)

# The span-dedup window/island pipeline as a shared WITH-chain (toks →
# per_doc), interpolated by BOTH span oracles (report + removal) so the
# SQL replay can't drift between them — mirroring how the Spark side
# single-sources `_span_islands`.
_SPAN_CTES = f"""toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), th AS (
            SELECT doc_id, len(t) AS n_tok,
                   list_transform(t, w -> list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(regexp_split_to_array(w, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                       (acc, c) -> (acc * {_SPAN_H1[0]} + c)
                                   % {_SPAN_H1[1]})) AS t1,
                   list_transform(t, w -> list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(regexp_split_to_array(w, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                       (acc, c) -> (acc * {_SPAN_H2[0]} + c)
                                   % {_SPAN_H2[1]})) AS t2
            FROM toks
        ), wins AS (
            SELECT doc_id, i - 1 AS start,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    t1[i:i+{SPAN_LEN}-1]),
                       (acc, h) -> (acc * {_SPAN_W1[0]} + h)
                                   % {_SPAN_W1[1]}) AS w1,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    t2[i:i+{SPAN_LEN}-1]),
                       (acc, h) -> (acc * {_SPAN_W2[0]} + h)
                                   % {_SPAN_W2[1]}) AS w2
            FROM th,
                 unnest(generate_series(1, n_tok - {SPAN_LEN} + 1)) g(i)
            WHERE n_tok >= {SPAN_LEN}
        ), flagged_keys AS (
            SELECT w1, w2
            FROM (SELECT DISTINCT doc_id, w1, w2 FROM wins) d
            GROUP BY w1, w2 HAVING COUNT(*) >= 2
        ), flagged AS (
            SELECT wins.doc_id, start
            FROM wins JOIN flagged_keys USING (w1, w2)
        ), isl AS (
            SELECT doc_id, start,
                   CASE WHEN start > COALESCE(MAX(start + {SPAN_LEN}) OVER (
                       PARTITION BY doc_id ORDER BY start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), -1) THEN 1 ELSE 0 END AS new_isl
            FROM flagged
        ), isl2 AS (
            SELECT doc_id, start,
                   SUM(new_isl) OVER (
                       PARTITION BY doc_id ORDER BY start) AS isl_id
            FROM isl
        ), spans AS (
            SELECT doc_id, isl_id,
                   MAX(start) + {SPAN_LEN} - MIN(start) AS span_tok
            FROM isl2 GROUP BY doc_id, isl_id
        ), per_doc AS (
            SELECT doc_id, COUNT(*) AS n_dup_spans,
                   SUM(span_tok) AS dup_tokens
            FROM spans GROUP BY doc_id
        )"""

ORACLES: dict[str, str] = {
    # Full replay of the double-rolling-hash window pipeline: identical
    # char folds per token, identical token-hash folds per window (all
    # products < 2^52 — exact in both engines), identical distinct-doc
    # flagging and gaps-and-islands merge.  Window start is 0-based on
    # both sides (DuckDB's generate_series i is 1-based; i-1 aligns).
    "curation_span_dedup": f"""
        WITH {_SPAN_CTES}
        SELECT th.doc_id, n_tok,
               COALESCE(n_dup_spans, 0) AS n_dup_spans,
               CAST(COALESCE(dup_tokens, 0) AS BIGINT) AS dup_tokens,
               ROUND(CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / n_tok, 6)
                   AS dup_frac
        FROM th LEFT JOIN per_doc USING (doc_id)
    """,
    # The removal decision: kept tokens = n_tok − dup_tokens (islands
    # are merged and disjoint, so the subtraction is exact — the same
    # arithmetic the Spark side's filter-by-index guarantees).
    "curation_span_removed": f"""
        WITH {_SPAN_CTES}
        SELECT th.doc_id, n_tok,
               CAST(n_tok - COALESCE(dup_tokens, 0) AS BIGINT)
                   AS n_tok_kept
        FROM th LEFT JOIN per_doc USING (doc_id)
    """,
    # Top-k with a TOTAL order (count desc, doc-freq desc, shingle asc)
    # so the limit cut is deterministic under ties on both engines; the
    # >1-doc HAVING mirrors the Spark filter.
    "curation_top_boilerplate": f"""
        WITH {_SH_CTE.format(n=8, m=7)}
        SELECT shingle,
               COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM sh GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) > 1
        ORDER BY n_occurrences DESC, n_docs DESC, shingle ASC
        LIMIT {TOP_BOILERPLATE_K}
    """,
    # The decontamination DECISION: both flag CTEs replay their report
    # oracles (verbatim shingle fraction with the same HAVING threshold;
    # full-cross fuzzy Jaccard max), kept = corpus minus either drop set.
    # All three thresholds interpolated from the shared constants.
    "curation_decontaminated": f"""
        WITH {_SH_CTE.format(n=8, m=7)},
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE {_BENCH_PRED}
        ),
        corpus_sh AS (SELECT * FROM sh WHERE NOT ({_BENCH_PRED})),
        verbatim_drop AS (
            SELECT corpus_sh.doc_id
            FROM corpus_sh LEFT JOIN bench USING (shingle)
            GROUP BY corpus_sh.doc_id
            HAVING round(count(bench.shingle)::DOUBLE / count(*), 6)
                   >= {CONTAM_FRAC_LIMIT}
        ),
        {_FUZZY_CTE},
        fuzzy_drop AS (
            SELECT ct.doc_id
            FROM ct, bt
            GROUP BY ct.doc_id
            HAVING MAX({_FUZZY_JAC_SQL}) >= {FUZZY_CONTAM_THRESHOLD}
        )
        SELECT doc_id FROM documents
        WHERE NOT ({_BENCH_PRED})
          AND doc_id NOT IN (SELECT doc_id FROM verbatim_drop)
          AND doc_id NOT IN (SELECT doc_id FROM fuzzy_drop)
    """,
    # The INDEPENDENT spelling: DuckDB's PERCENT_RANK window vs the Spark
    # side's histogram-CDF decomposition — a CDF bug cannot be mirrored.
    # Same -1.0 NULL sentinel, same 6-dp rounding.
    "curation_score_percentiles": f"""
        WITH q AS (
            SELECT doc_id, source,
                   COALESCE({QUALITY_SCORE_SQL}, -1.0) AS s
            FROM documents
        )
        SELECT doc_id, source,
               ROUND(PERCENT_RANK() OVER (
                   PARTITION BY source ORDER BY s
               ), 6) AS score_pct
        FROM q
    """,
    # Independent spelling: one PERCENT_RANK window over the per-source
    # aggregate (the Spark side uses the histogram-CDF decomposition, so
    # a CDF bug cannot be mirrored).  Mean = exact DECIMAL sum cast to
    # double, then one identical division+round on both engines.
    "curation_domain_stats": f"""
        WITH q AS (
            SELECT source,
                   COALESCE({QUALITY_SCORE_SQL}, -1.0) AS s,
                   len(regexp_split_to_array(trim(text), '[ \\t\\n]+')) AS nt
            FROM documents
        ), per AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(nt AS BIGINT)) AS BIGINT) AS n_tokens,
                   ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*), 6) AS mean_quality
            FROM q GROUP BY source
        )
        SELECT source, n_docs, n_tokens, mean_quality,
               ROUND(PERCENT_RANK() OVER (ORDER BY mean_quality), 6)
                   AS q_pct,
               ROUND(PERCENT_RANK() OVER (ORDER BY mean_quality), 6)
                   >= {DOMAIN_DROP_FRACTION} AS kept
        FROM per
    """,
    "curation_domain_filter": f"""
        WITH q AS (
            SELECT source,
                   COALESCE({QUALITY_SCORE_SQL}, -1.0) AS s
            FROM documents
        ), per AS (
            SELECT source,
                   ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*), 6) AS mean_quality
            FROM q GROUP BY source
        ), dec AS (
            SELECT source,
                   ROUND(PERCENT_RANK() OVER (ORDER BY mean_quality), 6)
                       >= {DOMAIN_DROP_FRACTION} AS kept
            FROM per
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d
        JOIN dec ON d.source IS NOT DISTINCT FROM dec.source
        WHERE dec.kept
    """,
    # The oracle affords the full corpus×bench cross (bench is 1/50 of
    # the corpus at oracle SF) — the shared _FUZZY_CTE/_FUZZY_JAC_SQL
    # spelling; a doc sharing no token with any bench doc (or with NULL
    # text, whose jac is NULL against every bench doc) gets max 0.0 via
    # the COALESCE, matching the Spark left-join/coalesce path.
    "curation_fuzzy_contamination": f"""
        WITH {_FUZZY_CTE},
        p AS (
            SELECT ct.doc_id, {_FUZZY_JAC_SQL} AS jac
            FROM ct, bt
        )
        SELECT doc_id,
               COALESCE(MAX(jac), 0.0) AS max_jaccard,
               CAST(SUM(CASE WHEN jac >= {FUZZY_CONTAM_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_bench_hits,
               COALESCE(MAX(jac), 0.0) >= {FUZZY_CONTAM_THRESHOLD}
                   AS is_contaminated
        FROM p GROUP BY doc_id
    """,
    # Batch formation replayed verbatim: same (bucket, shard) keys, same
    # row_number slotting, same padded-to-batch-max accounting.  All
    # three knobs interpolated from the shared constants.
    "curation_length_batching": f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n]+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ),
        x AS (
            SELECT doc_id, n_tokens,
                   CAST(FLOOR(CAST(n_tokens AS DOUBLE)
                              / {BATCH_LENGTH_BUCKET}) AS BIGINT) AS bucket,
                   doc_id % {BATCH_SHARDS} AS shard
            FROM t
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY bucket, shard ORDER BY doc_id
            ) AS rn
            FROM x
        ),
        b AS (
            SELECT bucket, shard,
                   CAST(FLOOR(CAST(rn - 1 AS DOUBLE)
                              / {BATCH_SIZE}) AS BIGINT) AS batch,
                   COUNT(*) AS bd,
                   MAX(n_tokens) AS mt,
                   SUM(n_tokens) AS st
            FROM r GROUP BY 1, 2, 3
        )
        SELECT bucket,
               CAST(SUM(bd) AS BIGINT) AS n_docs,
               COUNT(*) AS n_batches,
               CAST(SUM(st) AS BIGINT) AS total_tokens,
               CAST(SUM(mt * bd) AS BIGINT) AS padded_tokens,
               ROUND(1.0 - CAST(SUM(st) AS DOUBLE)
                           / CAST(SUM(mt * bd) AS DOUBLE), 6) AS waste_ratio
        FROM b GROUP BY bucket
    """,
    # The oracle spells the SEMANTICS directly — one global cumulative
    # window in (score DESC, doc_id ASC) order, kept iff the strictly-
    # preceding token sum is under budget; the Spark side's histogram
    # decomposition must reproduce it exactly.  Score via the shared
    # QUALITY_SCORE_SQL fragment, fraction interpolated from the shared
    # constant; the -1.0 sentinel matches the Spark side's null-safe
    # class key.
    "curation_token_budget": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   COALESCE({QUALITY_SCORE_SQL}, -1.0) AS skey,
                   CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n]+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ),
        b AS (
            SELECT CAST(FLOOR({TOKEN_BUDGET_FRACTION}
                              * CAST(SUM(n_tokens) AS DOUBLE)) AS BIGINT)
                   AS budget_tokens
            FROM t
        ),
        o AS (
            SELECT t.*,
                   COALESCE(CAST(SUM(n_tokens) OVER (
                       ORDER BY skey DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum_before
            FROM t
        ),
        k AS (
            SELECT o.*,
                   CASE WHEN cum_before < (SELECT budget_tokens FROM b)
                        THEN 1 ELSE 0 END AS kept
            FROM o
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS kept_tokens,
               (SELECT budget_tokens FROM b) AS budget_tokens
        FROM k GROUP BY lang
    """,
    # Independent spelling: a single per-lang cumulative window — the
    # direct form of the greedy rule the histogram decomposition avoids;
    # IS NOT DISTINCT FROM mirrors the Spark side's eqNullSafe joins.
    "curation_token_budget_per_lang": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   COALESCE({QUALITY_SCORE_SQL}, -1.0) AS skey,
                   CAST(len(regexp_split_to_array(trim(text), '[ \\t\\n]+'))
                        AS BIGINT) AS n_tokens
            FROM documents
        ),
        b AS (
            SELECT lang,
                   CAST(FLOOR({TOKEN_BUDGET_FRACTION}
                              * CAST(SUM(n_tokens) AS DOUBLE)) AS BIGINT)
                   AS budget_tokens
            FROM t GROUP BY lang
        ),
        o AS (
            SELECT t.*,
                   COALESCE(CAST(SUM(n_tokens) OVER (
                       PARTITION BY lang
                       ORDER BY skey DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum_before
            FROM t
        ),
        k AS (
            SELECT o.*, b.budget_tokens,
                   CASE WHEN cum_before < b.budget_tokens
                        THEN 1 ELSE 0 END AS kept
            FROM o JOIN b ON o.lang IS NOT DISTINCT FROM b.lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(kept) AS BIGINT) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN kept = 1 THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS kept_tokens,
               MIN(budget_tokens) AS budget_tokens
        FROM k GROUP BY lang
    """,
    "curation_segment_dedup": f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ), segs AS (
            SELECT doc_id,
                   unnest(generate_series(
                       0, CAST(ceil(len(t) / {SEGMENT_TOKENS}.0) AS INT) - 1
                   )) AS seg_idx,
                   unnest([array_to_string(
                               t[(i*{SEGMENT_TOKENS}+1):((i+1)*{SEGMENT_TOKENS})],
                               ' ')
                           for i in generate_series(
                               0,
                               CAST(ceil(len(t) / {SEGMENT_TOKENS}.0) AS INT) - 1
                           )]) AS seg
            FROM toks
        ), tagged AS (
            SELECT doc_id, seg_idx, seg,
                   ROW_NUMBER() OVER (
                       PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS kept
            FROM segs
        )
        SELECT doc_id,
               COUNT(*) AS n_segments,
               CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_removed,
               md5(COALESCE(string_agg(CASE WHEN kept THEN seg END,
                                       ' ' ORDER BY seg_idx), ''))
                   AS kept_digest
        FROM tagged GROUP BY doc_id
    """,
    "curation_funnel": f"""
        WITH t AS (
            SELECT source, text, string_split(text, ' ') AS t FROM documents
        ), f AS (
            SELECT source,
                   len(t) AS n_tok,
                   CASE WHEN len(t) < {FUNNEL_MIN_TOKENS} THEN 1 ELSE 0 END
                       AS too_short,
                   CASE WHEN len(list_distinct(t))::DOUBLE / len(t)
                             < {FUNNEL_MIN_DISTINCT_RATIO}
                        THEN 1 ELSE 0 END AS repetitive,
                   CASE WHEN len(list_filter(t,
                                 x -> x IN ({_SQL_STOPWORD_LIST})))::DOUBLE
                             / len(t) < {FUNNEL_MIN_STOPWORD_RATIO}
                        THEN 1 ELSE 0 END AS low_stopword,
                   CASE WHEN {_SQL_PII_ANY}
                        THEN 1 ELSE 0 END AS pii
            FROM t
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(too_short) AS BIGINT) AS n_too_short,
               CAST(SUM(repetitive) AS BIGINT) AS n_repetitive,
               CAST(SUM(low_stopword) AS BIGINT) AS n_low_stopword,
               CAST(SUM(pii) AS BIGINT) AS n_pii,
               CAST(SUM(CASE WHEN too_short + repetitive + low_stopword + pii
                                  = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN too_short + repetitive + low_stopword + pii
                                  = 0 THEN n_tok ELSE 0 END) AS BIGINT)
                   AS kept_tokens
        FROM f GROUP BY source
    """,
    "mixture_weights": f"""
        WITH per AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per
        ), withp AS (
            SELECT source, n_docs, n_tokens, tot,
                   CAST(n_tokens AS DOUBLE) / tot AS p
            FROM per CROSS JOIN tot
        ), z AS (
            SELECT CAST(SUM(CAST(ROUND(POWER(p, {MIXTURE_ALPHA}), 6)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS z
            FROM withp
        )
        SELECT source, n_docs, n_tokens,
               ROUND(p, 6) AS natural_share,
               ROUND(ROUND(POWER(p, {MIXTURE_ALPHA}), 6) / z, 6)
                   AS target_share,
               ROUND(ROUND(POWER(p, {MIXTURE_ALPHA}), 6) / z / p, 6)
                   AS sample_weight,
               ROUND(ROUND(POWER(p, {MIXTURE_ALPHA}), 6) / z * tot, 3)
                   AS expected_tokens
        FROM withp CROSS JOIN z
    """,
    "epoch_plan": f"""
        WITH per AS (
            SELECT lang,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY lang
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM per
        ), withp AS (
            SELECT lang, tot,
                   CAST(n_tokens AS DOUBLE) / tot AS p
            FROM per CROSS JOIN tot
        ), z AS (
            SELECT CAST(SUM(CAST(ROUND(POWER(p, {MIXTURE_ALPHA}), 6)
                                 AS DECIMAL(18,6))) AS DOUBLE) AS z
            FROM withp
        ), w AS (
            SELECT lang,
                   ROUND(ROUND(POWER(p, {MIXTURE_ALPHA}), 6) / z / p, 6)
                       AS sample_weight
            FROM withp CROSS JOIN z
        )
        SELECT d.doc_id, d.lang, w.sample_weight,
               CAST(FLOOR(w.sample_weight) AS INT)
               + CASE WHEN CAST(CAST('0x' || substring(md5(CAST(d.doc_id
                          AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE)
                          < (w.sample_weight - FLOOR(w.sample_weight))
                            * 4294967296.0
                      THEN 1 ELSE 0 END AS n_repeats
        FROM documents d JOIN w USING (lang)
    """,
    "curation_lm_score": f"""
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '[ \\t\\n]+') AS t
            FROM documents
        ), z AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(t))) AS pos,
                   unnest(t) AS token
            FROM toks
        ), big AS (
            SELECT z1.doc_id, z1.token AS w1, z2.token AS w2
            FROM z z1
            JOIN z z2 ON z1.doc_id = z2.doc_id AND z2.pos = z1.pos + 1
        ), uni AS (
            SELECT token, COUNT(*) AS c1 FROM z GROUP BY token
        ), bi AS (
            SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
        ), v AS (
            SELECT COUNT(*) AS v FROM uni
        ), scored AS (
            SELECT big.doc_id,
                   ROUND(log2((c2 + {LM_SMOOTHING_K})
                              / (c1 + {LM_SMOOTHING_K} * v)), 6) AS lp
            FROM big
            JOIN bi ON big.w1 = bi.w1 AND big.w2 = bi.w2
            JOIN uni ON big.w1 = uni.token
            CROSS JOIN v
        ), agg AS (
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*) AS avg_lp
            FROM scored GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams,
               ROUND(avg_lp, 6) AS avg_logp,
               ROUND(POWER(2.0, -avg_lp), 6) AS perplexity
        FROM agg
    """,
    "curation_dup_ngrams": f"""
        WITH {_SH_CTE.format(n=8, m=7)},
        freq AS (
            SELECT shingle, count(DISTINCT doc_id) AS docs_with
            FROM sh GROUP BY shingle
        )
        SELECT sh.doc_id,
               count(*) AS n_shingles,
               count(CASE WHEN freq.docs_with >= 2 THEN 1 END) AS dup_shingles,
               round(count(CASE WHEN freq.docs_with >= 2 THEN 1 END)::DOUBLE
                     / count(*), 6) AS dup_frac
        FROM sh JOIN freq USING (shingle)
        GROUP BY sh.doc_id
    """,
    "curation_repetition": """
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        )
        SELECT doc_id,
               round(len(list_distinct(t))::DOUBLE / len(t), 6)
                   AS distinct_ratio,
               CASE WHEN len(t) < 2 THEN 0.0 ELSE
                   round(1.0 - len(list_distinct(
                       [array_to_string(t[i:i+1], ' ')
                        for i in generate_series(1, greatest(len(t)-1, 1))]
                   ))::DOUBLE / greatest(len(t)-1, 1), 6)
               END AS dup_bigram_frac,
               round(list_max(
                   [len(list_filter(t, y -> y = x)) for x in list_distinct(t)]
               )::DOUBLE / len(t), 6) AS top_token_frac
        FROM toks
    """,
    "curation_contamination": f"""
        WITH {_SH_CTE.format(n=8, m=7)},
        bench AS (
            SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
        ),
        corpus AS (SELECT * FROM sh WHERE NOT (doc_id % 50 = 0))
        SELECT corpus.doc_id,
               count(*) AS n_shingles,
               count(bench.shingle) AS n_contam,
               round(count(bench.shingle)::DOUBLE / count(*), 6)
                   AS contam_frac
        FROM corpus LEFT JOIN bench USING (shingle)
        GROUP BY corpus.doc_id
    """,
    "curation_pii": """
        WITH seeded AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' user' || doc_id || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 4 = 0
                           THEN ' from 10.0.' || (doc_id % 256) || '.7'
                           ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' call +1 555 010 ' || (1000 + doc_id % 9000)
                           ELSE '' END AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text,
                   '[a-zA-Z0-9_.]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+')) AS n_email,
               len(regexp_extract_all(text,
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ipv4,
               len(regexp_extract_all(text,
                   '\\+[0-9]{7,15}|\\+[0-9]{1,3}([ -][0-9]{2,4}){0,3}[ -][0-9]{3,4}')) AS n_phone,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '[a-zA-Z0-9_.]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]+', '<EMAIL>', 'g'),
                   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'),
                   '\\+[0-9]{7,15}|\\+[0-9]{1,3}([ -][0-9]{2,4}){0,3}[ -][0-9]{3,4}', '<PHONE>', 'g')) AS redacted_md5
        FROM seeded
    """,
    "curation_importance": """
        WITH toks AS (
            SELECT doc_id, source,
                   unnest(string_split(text, ' ')) AS token
            FROM documents
        ), r AS (
            SELECT token, count(*) AS cr FROM toks GROUP BY token
        ), t AS (
            SELECT token, count(*) AS ct FROM toks
            WHERE source = 'src0' GROUP BY token
        ), tot AS (
            SELECT CAST((SELECT sum(cr) FROM r) AS BIGINT) AS nr,
                   CAST((SELECT count(*) FROM r) AS BIGINT) AS v,
                   CAST((SELECT sum(ct) FROM t) AS BIGINT) AS nt
        ), llr AS (
            SELECT r.token,
                   round(ln((coalesce(t.ct, 0) + 1) / (tot.nt + tot.v))
                         - ln((r.cr + 1) / (tot.nr + tot.v)), 6) AS w
            FROM r LEFT JOIN t USING (token), tot
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               round(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS importance
        FROM toks JOIN llr USING (token)
        GROUP BY doc_id
    """,
    "curation_pack_sequences": """
        WITH toks AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ), cum AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS BIGINT) AS start
            FROM toks
        )
        SELECT doc_id, lang, n_tokens,
               CAST(floor(start / 512) AS BIGINT) AS seq_id,
               start % 512 AS seq_offset
        FROM cum
    """,
    "curation_vocab": """
        WITH counts AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        agg AS (
            SELECT token, count(*) AS n_occurrences
            FROM counts GROUP BY token
            HAVING count(*) >= 5
        )
        SELECT token, n_occurrences,
               row_number() OVER (ORDER BY n_occurrences DESC, token ASC)
                   AS token_id
        FROM agg
    """,
    "curation_tokenize": """
        WITH counts AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        agg AS (
            SELECT token, count(*) AS n_occurrences
            FROM counts GROUP BY token
            HAVING count(*) >= 5
        ),
        vocab AS (
            SELECT token,
                   row_number() OVER (ORDER BY n_occurrences DESC, token ASC)
                       AS token_id
            FROM agg
        ),
        toks AS (
            SELECT doc_id,
                   unnest(generate_series(1, len(t))) AS pos,
                   unnest(t) AS token
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        ),
        mapped AS (
            SELECT doc_id, pos,
                   v.token_id,
                   COALESCE(v.token_id, 0) AS tid
            FROM toks LEFT JOIN vocab v USING (token)
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids_joined
        FROM mapped GROUP BY doc_id
    """,
}
