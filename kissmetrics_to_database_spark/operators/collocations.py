"""Collocation mining + n-gram LM statistics over the token stream.

Training-pipeline uses:
- PMI collocations find multiword expressions worth protecting from
  tokenizer splits ("new york", "machine learning") and feed phrase
  vocabularies for retrieval and tokenizer training.
- Kneser-Ney inputs (count-of-counts, continuation counts) are the
  sufficient statistics for the classic smoothed n-gram LM used to
  perplexity-filter web corpora (CCNet-style; this module scores
  documents under a bigram model).

Scale shape (100 TB): everything reduces the token stream with
map-side-combinable groupBys before any join. Bigram extraction is a
`lead()` window partitioned by doc — one shuffle on doc_id, the same
partitioning the shingle pipeline (`dedup.exploded_shingles`) already
uses, so at scale the exchange is reusable. The bigram-TYPE table
(post-aggregation) is orders of magnitude smaller than the token
stream; all PMI joins run on it, never on raw tokens. Totals attach
as broadcast 1-row aggregates.

Reference anchor: the reference has no LM layer (its text processing
stops at key sanitization, KissmetricsToDatabase.php:214-233); this
is north-star extension surface per SURVEY.md §2.8-2.10 notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bigrams_long(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, a, b) rows — one per ADJACENT token pair occurrence.

    Tokens are the trimmed, lowercased text split on whitespace runs,
    empty tokens dropped; the oracle SQL splits the same way, so both
    sides agree on the token universe. Pairs never cross a
    document boundary (the window is per-doc); docs with one token
    contribute nothing.
    """
    tok = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "a"),
    ).where(F.col("a") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        tok.withColumn("b", F.lead("a").over(w))
        .where(F.col("b").isNotNull())
        .select(id_col, "a", "b")
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` bigrams by pointwise mutual information.

    PMI = ln( p(a,b) / (p(a) p(b)) ) with p(a,b) = c_ab / N_bigrams
    and p(a) = c_a / N_tokens (unigram counts over ALL positions).
    Rounded to 6 dp before ranking so the order is engine-portable;
    ties break on (a, b) ascending. ``min_count`` suppresses the
    classic PMI pathology where hapax pairs score highest.

    Plan: bigram counts and unigram counts are two independent
    map-side-combinable aggregations; the ``min_count`` filter runs
    BEFORE the unigram joins, so the joins see only the surviving
    bigram types. Totals are broadcast 1-row aggregates. The final
    ordering is a top-k (``orderBy().limit()`` → TakeOrdered), never
    a materialized global sort.
    """
    bg = bigrams_long(df, id_col, text_col)
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "term"
        ),
    ).where(F.col("term") != "")

    c_ab = (
        bg.groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    c_uni = tok.groupBy("term").agg(F.count("*").alias("c_t"))
    n_bg = bg.agg(F.count("*").alias("n_bigrams"))
    n_tok = tok.agg(F.count("*").alias("n_tokens"))

    scored = (
        c_ab.join(c_uni.withColumnRenamed("term", "a"), "a")
        .withColumnRenamed("c_t", "c_a")
        .join(c_uni.withColumnRenamed("term", "b"), "b")
        .withColumnRenamed("c_t", "c_b")
        .crossJoin(F.broadcast(n_bg))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("n_bigrams"))
                    / (
                        (F.col("c_a") / F.col("n_tokens"))
                        * (F.col("c_b") / F.col("n_tokens"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("a"), F.asc("b")).limit(k)


def kn_bigram_logprob_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ndigits: int = 6,
) -> DataFrame:
    """Per-document fluency score under an interpolated Kneser-Ney
    bigram LM trained on the corpus itself (CCNet-style perplexity
    filtering).

    P_KN(b|a) = max(c(a,b) − D, 0) / c(a·)
              + (D / c(a·)) · N1+(a·) · P_cont(b)

    with c(a·) the left-context mass (row sum of the type table),
    N1+(a·) the distinct continuations of ``a``, P_cont from
    continuation counts, and D = N1/(N1 + 2·N2) (degenerate corpora
    with no singleton/doubleton types yield NULL scores rather than a
    division blowup, same contract as `kn_continuation_stats`).
    Returns (id, n_bigrams, mean_logprob) with the mean over bigram
    OCCURRENCES.

    Plan: the token stream reduces once to the bigram TYPE table;
    left-context and continuation aggregates reduce FROM it; the
    per-type probability table joins back to the occurrence stream on
    (a, b) — vocab²-bounded, equi-keyed, never all-pairs. The 1-row
    count-of-counts broadcasts.
    """
    bg = bigrams_long(df, id_col, text_col)
    types = bg.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    coc = types.agg(
        F.sum((F.col("c_ab") == 1).cast("long")).alias("n1"),
        F.sum((F.col("c_ab") == 2).cast("long")).alias("n2"),
        F.count("*").alias("n_types"),
    )
    left = types.groupBy("a").agg(
        F.sum("c_ab").alias("c_a"),
        F.count("*").alias("n1plus_a"),
    )
    cont = types.groupBy("b").agg(F.count("*").alias("cc_b"))
    d = F.when(
        (F.col("n1") + 2.0 * F.col("n2")) > 0,
        F.col("n1") / (F.col("n1") + 2.0 * F.col("n2")),
    )
    ptab = (
        types.join(left, "a")
        .join(cont, "b")
        .crossJoin(F.broadcast(coc))
        .select(
            "a",
            "b",
            (
                F.greatest(F.col("c_ab") - d, F.lit(0.0)) / F.col("c_a")
                + (d / F.col("c_a"))
                * F.col("n1plus_a")
                * (F.col("cc_b") / F.col("n_types"))
            ).alias("p"),
        )
    )
    return (
        bg.join(ptab, ["a", "b"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(F.log("p")), ndigits).alias("mean_logprob"),
        )
    )


def kn_continuation_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Kneser-Ney sufficient statistics at the bigram level.

    Returns the top-``k`` words by CONTINUATION COUNT — the number of
    distinct left contexts the word follows, the quantity KN uses in
    place of raw frequency for the lower-order distribution — plus
    the absolute-discount constant D = N1 / (N1 + 2 N2) (Ney-Essen-
    Kneser estimate from the bigram count-of-counts) carried as a
    constant column so one result row set hands a trainer everything
    it needs.

    p_continuation(w) = |{a : c(a,w) > 0}| / |distinct bigram types|.

    Plan: one pass builds the bigram TYPE table (groupBy a,b); the
    count-of-counts (2 rows) and the type total reduce from it and
    broadcast back. Continuation counts are a second aggregation of
    the type table — the raw token stream is touched exactly once.
    """
    types = bigrams_long(df, id_col, text_col).groupBy("a", "b").agg(
        F.count("*").alias("c_ab")
    )
    coc = types.agg(
        F.sum((F.col("c_ab") == 1).cast("long")).alias("n1"),
        F.sum((F.col("c_ab") == 2).cast("long")).alias("n2"),
        F.count("*").alias("n_types"),
    )
    cont = types.groupBy(F.col("b").alias("word")).agg(
        F.count("*").alias("continuation_count")
    )
    return (
        cont.crossJoin(F.broadcast(coc))
        .select(
            "word",
            "continuation_count",
            F.round(F.col("continuation_count") / F.col("n_types"), 6).alias(
                "p_continuation"
            ),
            # D is undefined when the corpus has no singleton or
            # doubleton bigram types (a large corpus over a small
            # vocabulary — every type frequent): NULL, not a
            # divide-by-zero under ANSI mode (found by the sf0.1 bench)
            F.when(
                (F.col("n1") + 2.0 * F.col("n2")) > 0,
                F.round(
                    F.col("n1") / (F.col("n1") + 2.0 * F.col("n2")), 6
                ),
            ).alias("d_discount"),
        )
        .orderBy(F.desc("continuation_count"), F.asc("word"))
        .limit(k)
    )
