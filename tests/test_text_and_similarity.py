"""Text-analysis and similarity-search unit tests against pure-Python
ground truth."""

from __future__ import annotations

import hashlib
import math
import re

import pytest

from kissmetrics_to_database_spark.operators import similarity, text


def test_lang_id_markers(spark):
    rows = [
        (0, "the cat and the dog is here"),       # en
        (1, "le chat et la mer les des"),          # fr
        (2, "zzz qqq www"),                        # no markers → und
        (3, "der die und das ein haus"),           # de
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(df).collect()}
    assert out == {0: "en", 1: "fr", 2: "und", 3: "de"}


def test_token_counts_match_python(spark):
    rows = [(0, "hello, world! 42 times"), (1, "  spaced   out  ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens_ws"], r["n_tokens_bpe"])
        for r in text.with_token_counts(df).collect()
    }
    for doc_id, t in rows:
        ws = len(t.strip().split()) if t.strip() else 0
        bpe = len(re.findall(text.BPE_ISH_RE, t))
        assert out[doc_id] == (ws, bpe), doc_id


def test_rolling_hash_matches_python(spark):
    s = "hello spark"
    df = spark.createDataFrame([(0, s)], ["doc_id", "text"])
    got = text.with_fingerprints(df).collect()[0]["rolling_hash"]
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) % 1_000_000_007
    assert got == h


def test_norm_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "Hello, World!"), (1, "hello world"), (2, "HELLO  ...  WORLD")],
        ["doc_id", "text"],
    )
    fps = {r["norm_fingerprint"] for r in text.with_fingerprints(df).collect()}
    assert fps == {hashlib.md5(b"helloworld").hexdigest()}


def test_brute_force_topk_matches_python(spark):
    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0],
        2: [0.0, 1.0, 0.0],
        3: [0.0, 0.9, 0.3],
        4: [-1.0, 0.0, 0.1],
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], ["vec_id", "embedding"]
    )
    out = similarity.brute_force_topk(df, df.where("vec_id = 0"), k=2).collect()

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    ranked = sorted(
        ((round(cos(vecs[0], v), 6), k) for k, v in vecs.items() if k != 0),
        key=lambda t: (-t[0], t[1]),
    )
    got = [(r["neighbor_id"], r["score"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(k, s) for s, k in ranked[:2]]


def test_lsh_topk_subset_of_bucket(spark):
    vecs = [(i, [float((i % 3) - 1), float(i % 2), 1.0]) for i in range(12)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    hyperplanes = [v for _, v in vecs[:2]]
    out = similarity.lsh_topk(df, df.where("vec_id < 4"), hyperplanes, k=3)
    rows = out.collect()
    assert all(r["probe_id"] != r["neighbor_id"] for r in rows)
    assert all(r["rank"] <= 3 for r in rows)


def test_tfidf_top_terms_ground_truth(spark):
    import math

    from kissmetrics_to_database_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry dill"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    # doc 1: apple tf=2 df=1 -> 2*ln(4/2); banana tf=1 df=2 -> ln(4/3)
    assert out[(1, 1)][0] == "apple"
    assert out[(1, 1)][3] == round(2 * math.log(4 / 2), 6)
    assert out[(1, 2)][0] == "banana"
    assert out[(1, 2)][3] == round(math.log(4 / 3), 6)
    # doc 3: cherry tf=3 dominates; dill tf=1 df=1
    assert out[(3, 1)][0] == "cherry"
    assert out[(3, 2)][0] == "dill"


def test_bm25_ranks_matching_docs_first(spark):
    from kissmetrics_to_database_spark.operators.text import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "shuffle join window shuffle"),
            (2, "shuffle elsewhere entirely"),
            (3, "nothing relevant here at all"),
            (4, "join join join join padding padding padding"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_search(docs, ("shuffle", "join", "window")).collect()
    ids = [r.doc_id for r in rows]
    assert 3 not in ids  # score 0 excluded
    assert ids[0] == 1  # matches all three terms
    assert all(a.score >= b.score for a, b in zip(rows, rows[1:]))
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_bm25_topk_guard_rejects_fallback_degradation(spark):
    # topk >= topKSortFallbackThreshold would silently degrade the
    # TakeOrdered plan to a global single-task sort (ADVICE r3) —
    # the operator must refuse instead
    from kissmetrics_to_database_spark.operators.text import bm25_search

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="topKSortFallbackThreshold"):
        bm25_search(docs, ("a",), topk=10_000)


def test_repetition_stats_ground_truth(spark):
    from kissmetrics_to_database_spark.operators.text import (
        with_repetition_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # 4 tokens, 1 distinct; bigrams all "a a"
            (2, "w x y z"),          # no repetition at all
            (3, ""),                 # degenerate: no tokens
            (4, "spam ham spam ham"),  # distinct bigrams despite repeated tokens
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in with_repetition_stats(docs).collect()}
    assert out[1].n_tokens == 4 and out[1].n_distinct == 1
    assert out[1].repetition_ratio == 0.75
    assert out[1].dup_bigram_frac == round(1 - 1 / 3, 6)
    assert out[2].repetition_ratio == 0.0 and out[2].dup_bigram_frac == 0.0
    assert out[3].n_tokens == 0 and out[3].repetition_ratio == 0.0
    assert out[4].n_tokens == 4 and out[4].n_distinct == 2
    # bigrams: "spam ham", "ham spam", "spam ham" -> 1 dup of 3
    assert out[4].dup_bigram_frac == round(1 - 2 / 3, 6)


def test_mask_pii_redacts_and_counts(spark):
    from kissmetrics_to_database_spark.operators.text import mask_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org plus +4915123456789 end"),
            (2, "nothing sensitive"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in mask_pii(docs).collect()}
    assert out[1].n_emails == 2 and out[1].n_phones == 1
    assert out[1].masked == "mail <EMAIL> and <EMAIL> plus <PHONE> end"
    assert out[2].n_emails == 0 and out[2].masked == "nothing sensitive"


def test_label_centroids_elementwise_mean(spark):
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [3.0, 2.0]),
        (2, 1, [0.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    cent = {
        r["label"]: r["centroid"]
        for r in similarity.label_centroids(df).collect()
    }
    assert cent == {0: [2.0, 1.0], 1: [0.0, 4.0]}


def test_nearest_centroid_assign_and_tiebreak(spark):
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 1, [0.0, 1.0]),
        (2, 1, [1.0, 0.0]),  # true label 1, sits on label-0 centroid
        (3, 0, [1.0, 1.0]),  # equidistant from both axes → tie → label 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["label", "centroid"]
    )
    got = {
        r["vec_id"]: (r["true_label"], r["assigned_label"])
        for r in similarity.nearest_centroid_assign(df, cent).collect()
    }
    assert got == {0: (0, 0), 1: (1, 1), 2: (1, 0), 3: (0, 0)}


def test_knn_label_vote_majority_and_tie(spark):
    # Neighbor rank order for probe 0: 1 (label 5), 2 (label 3), 3 (label 5).
    rows = [
        (0, 7, [1.0, 0.0, 0.0]),
        (1, 5, [0.99, 0.1, 0.0]),
        (2, 3, [0.98, 0.15, 0.0]),
        (3, 5, [0.97, 0.2, 0.0]),
        (4, 9, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    # 3-NN: votes {5: 2, 3: 1} → majority 5.
    out = similarity.knn_label_vote(df, df.where("vec_id = 0"), k=3).collect()
    assert [(r["probe_id"], r["true_label"], r["predicted_label"]) for r in out] == [
        (0, 7, 5)
    ]
    # 2-NN: one vote each for 5 and 3 → tie breaks to the SMALLER
    # label (3), not the nearer neighbor's label.
    out2 = similarity.knn_label_vote(
        df, df.where("vec_id = 0"), k=2
    ).collect()
    assert out2[0]["predicted_label"] == 3


def test_gopher_quality_flags_ground_truth(spark):
    import math as _m

    docs = [
        (0, "the cat sat on a mat next to the dog in the sun and it was warm all day long today"),  # good
        (1, "short text"),  # too few words
        (2, " ".join(["zzz"] * 30)),  # no stopwords
        (3, " ".join(["the", "a", "of"] + ["x" * 15] * 25)),  # mean word len too high
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in text.gopher_quality_flags(df).collect()}

    for doc_id, t in docs:
        words = [w for w in t.lower().strip().split() if w]
        n = len(words)
        mean_wl = round(sum(len(w) for w in words) / n, 6)
        alpha = round(sum(1 for w in words if re.search("[a-z]", w)) / n, 6)
        stops = len(set(words) & set(text.GOPHER_STOPWORDS))
        r = out[doc_id]
        assert r["n_words"] == n
        assert r["mean_word_len"] == mean_wl
        assert r["alpha_frac"] == alpha
        assert r["n_stopwords"] == stops
        expected_keep = (
            20 <= n <= 100_000 and 2.0 <= mean_wl <= 10.0
            and alpha >= 0.8 and stops >= 2
        )
        assert r["keep"] == expected_keep, doc_id
    assert out[0]["keep"] and not out[1]["keep"]
    assert not out[2]["keep"] and not out[3]["keep"]


def test_unigram_logprob_matches_python(spark):
    docs = [(0, "a a b"), (1, "b c"), (2, "a c c a")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.unigram_logprob_scores(df).collect()}

    toks = [w for _, t in docs for w in t.split()]
    total = len(toks)
    freq = {w: toks.count(w) / total for w in set(toks)}
    for doc_id, t in docs:
        ws = t.split()
        expected = round(sum(math.log(freq[w]) for w in ws) / len(ws), 6)
        assert out[doc_id]["n_tokens"] == len(ws)
        assert abs(out[doc_id]["mean_logprob"] - expected) < 1e-9

    # rarer tokens → lower (more negative) score: doc 1 is all-rare
    assert out[1]["mean_logprob"] < out[0]["mean_logprob"]


def test_span_dedup_stats_first_occurrence_wins(spark):
    from kissmetrics_to_database_spark.operators import dedup

    boiler = "one two three four five"
    docs = [
        (0, boiler + " unique tail zero alpha beta"),
        (1, boiler + " other ending here gamma delta"),  # repeats doc0's leading span
        (2, "totally different words without any repeats at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in dedup.span_dedup_stats(df, n=5).collect()}

    # doc0 owns the boilerplate span (first occurrence): zero dups
    assert out[0]["n_dup_spans"] == 0 and out[0]["keep"]
    # doc1's copy of the span counts as duplicated
    assert out[1]["n_dup_spans"] == 1
    assert out[1]["n_spans"] == len(docs[1][1].split()) - 4
    assert out[2]["n_dup_spans"] == 0
    # ratio arithmetic
    assert out[1]["dup_ratio"] == round(1 / out[1]["n_spans"], 6)


def test_kmeans_lloyd_separated_clusters(spark):
    # two tight blobs far apart; k=2, init = first 2 ids (one per blob)
    rows = [
        (0, [0.0, 0.0]), (2, [0.1, 0.0]), (4, [0.0, 0.1]),
        (1, [10.0, 10.0]), (3, [10.1, 10.0]), (5, [10.0, 10.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in similarity.kmeans_lloyd(df, k=2, iters=2).collect()}
    assert {out[i]["cluster"] for i in (0, 2, 4)} == {0}
    assert {out[i]["cluster"] for i in (1, 3, 5)} == {1}
    # converged centroid of blob 0 is its mean → dist of (0,0) is
    # sqrt((1/15)^2 + (1/15)^2) rounded at each stage
    import math as _m
    cx = round(0.1 / 3, 6)
    assert abs(out[0]["dist"] - round(_m.sqrt(2 * cx * cx), 6)) < 2e-6


def test_semantic_dedup_drops_higher_id_twin(spark):
    rows = [
        (0, [1.0, 0.0]), (7, [1.0, 0.001]),      # near-dup pair, same blob
        (1, [0.0, 1.0]), (3, [0.001, 1.0]),      # second near-dup pair
        (5, [-1.0, -1.0]),                        # isolated
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r.asDict()
        for r in similarity.semantic_dedup(df, k=2, iters=1, threshold=0.95).collect()
    }
    # min-id member of each near-dup neighborhood survives
    assert out[0]["keep"] and not out[7]["keep"] and out[7]["n_near"] >= 1
    assert out[1]["keep"] and not out[3]["keep"]
    assert out[5]["keep"] and out[5]["n_near"] == 0


def test_perplexity_buckets_order_and_cutoffs(spark):
    # one language, 6 docs: common-token docs score high (head),
    # rare-token docs low (tail)
    rows = [
        (0, "aa aa aa", "en"), (1, "aa aa aa", "en"),
        (2, "aa aa bb", "en"), (3, "aa bb bb", "en"),
        (4, "cc dd ee", "en"), (5, "ff gg hh", "en"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r["doc_id"]: r.asDict() for r in text.perplexity_buckets(df).collect()}
    assert out[0]["bucket"] == "head" and out[1]["bucket"] == "head"
    assert out[5]["bucket"] == "tail"
    # monotone: higher mean_logprob never lands in a lower bucket
    order = {"head": 2, "middle": 1, "tail": 0}
    vals = sorted(out.values(), key=lambda r: -r["mean_logprob"])
    ranks = [order[v["bucket"]] for v in vals]
    assert ranks == sorted(ranks, reverse=True)


def test_hashed_ngram_classifier_matches_python(spark):
    rows = [(0, "the quick brown fox"), (1, "hello"), (2, "a b a b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r.asDict()
        for r in text.hashed_ngram_classifier(df).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:3], 16)

    def wgt(b):
        return round((b * 2654435761) % 4093 / 4093.0 - 0.5, 6)

    for doc_id, txt in rows:
        ws = [t for t in re.split(r"\s+", txt.lower().strip()) if t]
        bigrams = (
            [" ".join(ws[i : i + 2]) for i in range(len(ws) - 1)]
            if len(ws) > 1
            else list(ws)  # 1-token doc: the lone token doubles as its span
        )
        feats = ws + bigrams
        mean_w = round(sum(wgt(bucket(t)) for t in feats) / len(feats), 6)
        prob = round(1.0 / (1.0 + math.exp(-4.0 * mean_w)), 6)
        got = out[doc_id]
        assert got["n_features"] == len(feats)
        assert abs(got["mean_w"] - mean_w) <= 1e-6
        assert abs(got["prob"] - prob) <= 1e-6
        assert got["label"] == (prob >= 0.5)


def test_hard_negative_mining_excludes_same_label(spark):
    rows = [
        (i, [float((i * 3 + d) % 5) for d in range(4)], i % 2)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    probes = df.where("vec_id < 4").select("vec_id")
    out = similarity.hard_negative_mining(df, probes, k=3).collect()
    assert len(out) == 12
    for r in out:
        assert r["probe_label"] != r["neighbor_label"]
        assert r["probe_id"] != r["neighbor_id"]
    # ranks are 1..3 per probe, scores non-increasing
    from collections import defaultdict

    by_probe = defaultdict(list)
    for r in out:
        by_probe[r["probe_id"]].append(r)
    for rs in by_probe.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3]
        assert all(
            rs[i]["score"] >= rs[i + 1]["score"] for i in range(len(rs) - 1)
        )


def test_hard_negative_is_nearest_other_label(spark):
    # probe at origin-ish; same-label twin is closest but excluded
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.99, 0.1], 0),   # same label, most similar — excluded
        (2, [0.9, 0.3], 1),    # different label — the hard negative
        (3, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.hard_negative_mining(
        df, df.where("vec_id = 0").select("vec_id"), k=1
    ).collect()
    assert len(out) == 1 and out[0]["neighbor_id"] == 2


def test_zipf_fit_on_synthetic_zipf_corpus(spark):
    # freq(rank) ~ rank^-1 exactly -> slope == -1, r2 == 1
    words = []
    for r in range(1, 51):
        words += [f"w{r:03d}"] * (2400 // r)
    df = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    [row] = text.zipf_fit(df, top_n=50).collect()
    assert row["n_terms"] == 50
    assert abs(row["slope"] + 1.0) < 0.02  # floor() of counts adds noise
    assert row["r2"] > 0.999


def test_zipf_fit_flat_corpus_slope_zero(spark):
    words = [f"w{i}" for i in range(40)] * 10
    df = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    [row] = text.zipf_fit(df, top_n=40).collect()
    assert row["slope"] == 0.0  # all freqs equal -> zero slope


def test_bpe_train_merges_hand_computed(spark):
    # corpus: "low low low lower" -> words {low:3, lower:1}
    # iter0 pairs: lo:4, ow:4, we:1, er:1 -> tie lo/ow -> 'lo' wins lex
    # iter1 (l o->lo): [lo,w]x3, [lo,w,e,r]: pairs low:4, we:1, er:1 -> low
    # iter2: [low]x3, [low,e,r]: pairs lowe:1, er:1 -> 'er' wins lex? cnt
    #   equal (1,1): lexicographic (left,right): ('e','r') < ('low','e')
    # iter3: [low]x3, [low,e,er]... wait after merging e+r: [low, e, er]?
    #   no — greedy merges (e,r) -> [low, er]; pairs: lower... 'low'+'er'
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([("low low low lower",)], ["text"])
    got = [
        (r["merge_idx"], r["left_sym"], r["right_sym"], r["pair_count"],
         r["new_sym"])
        for r in t.bpe_train_merges(df, n_merges=4).orderBy("merge_idx").collect()
    ]
    assert got == [
        (0, "l", "o", 4, "lo"),
        (1, "lo", "w", 4, "low"),
        (2, "e", "r", 1, "er"),
        (3, "low", "er", 1, "lower"),
    ]


def test_bpe_fold_handles_self_overlap(spark):
    # 'aaaaa' with merge (a,a): greedy left-to-right -> [aa, aa, a],
    # so iteration 1 sees pairs (aa,aa):1 and (aa,a):1 — the cnt tie
    # breaks lexicographically on (left, right): ('aa','a') wins
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([("aaaaa",)], ["text"])
    got = [
        (r["merge_idx"], r["left_sym"], r["right_sym"], r["new_sym"])
        for r in t.bpe_train_merges(df, n_merges=2).collect()
    ]
    assert got[0] == (0, "a", "a", "aa")
    assert got[1] == (1, "aa", "a", "aaa")


def test_html_to_text_ground_truth(spark):
    from kissmetrics_to_database_spark.operators.text import html_to_text

    cases = [
        (1, '<p>hello <b>world</b></p>', "hello world"),
        (2, '<script>var x = "<p>no</p>";</script>visible', "visible"),
        (3, "<style>a{..}</style>a &amp; b &lt;c&gt;", "a & b <c>"),
        (4, "no markup at all", "no markup at all"),
        (5, "x<br/>y\n\n  z &nbsp; w", "x y z w"),
        (6, "<SCRIPT>var y=1;</SCRIPT>kept", "kept"),  # tags are case-insensitive
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in cases], ["doc_id", "html"]
    )
    out = {r["doc_id"]: r["text_clean"] for r in html_to_text(df).collect()}
    for i, _, want in cases:
        assert out[i] == want, (i, out[i])


def test_bpe_apply_merges_matches_training_segmentation(spark):
    # applying the learned merges reproduces the trainer's final
    # segmentation: "low low lower" after (l,o),(lo,w) merges
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([("low low lower",)], ["text"])
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in t.bpe_train_merges(df, n_merges=2).orderBy("merge_idx").collect()
    ]
    assert merges == [("l", "o"), ("lo", "w")]
    seg = {r["w"]: (r["wc"], r["syms"]) for r in t.bpe_apply_merges(df, merges).collect()}
    assert seg["low"] == (2, ["low"])
    assert seg["lower"] == (1, ["low", "e", "r"])


def test_bpe_local_trainer_matches_distributed(spark):
    # the driver-side trainer must be semantically identical to the
    # distributed per-iteration trainer: same argmax, same tie-break,
    # same greedy run-parity application
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame(
        [("low low low lower lowest newer newest wide wider",),
         ("aaaaa banana bandana low newer",)],
        ["text"],
    )
    dist = [
        (r["merge_idx"], r["left_sym"], r["right_sym"], r["pair_count"],
         r["new_sym"])
        for r in t.bpe_train_merges(df, n_merges=8).orderBy("merge_idx").collect()
    ]
    local = t.bpe_train_merges_local(df, n_merges=8)
    assert local == dist


def test_bpe_local_trainer_early_stop_and_full_merge(spark):
    # asking for more merges than pairs exist: trainer stops when the
    # vocab is fully merged (every word one symbol) instead of failing
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([("ab ab cd cd cd ab",)], ["text"])
    merges = t.bpe_train_merges_local(df, n_merges=100)
    assert len(merges) == 2  # (c,d) then (a,b) — nothing left after
    assert {m[4] for m in merges} == {"ab", "cd"}


def test_bpe_encode_corpus_matches_fold_apply(spark):
    # the linear-time kernel and the expression-fold apply agree on
    # per-doc token counts (rank-greedy == sequential application)
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame(
        [(0, "low low lower lowest the the them"),
         (1, "newer newest wide wider aaaaa"),
         (2, ""),
         (3, "banana bandana low")],
        ["doc_id", "text"],
    )
    merges = [(m[1], m[2]) for m in t.bpe_train_merges_local(df, n_merges=6)]
    enc = {r["doc_id"]: r for r in t.bpe_encode_corpus(df, merges).collect()}

    seg = t.bpe_apply_merges(df, merges).select(
        "w", F.size("syms").alias("n_syms")
    )
    docw = df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), "[^a-z]+")).alias("w"),
    ).where(F.col("w") != "")
    expected = {
        r["doc_id"]: r["n_tokens"]
        for r in docw.join(seg, "w")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").alias("n_tokens"))
        .collect()
    }
    for d, n in expected.items():
        assert enc[d]["n_tokens"] == n
    assert enc[2]["n_words"] == 0 and enc[2]["n_tokens"] == 0
    assert enc[2]["compression_ratio"] is None
    assert enc[0]["n_chars"] == len("lowlowlowerlowestthethethem")


def test_bpe_encode_rank_greedy_equals_sequential_property():
    # pure-Python property: for random words and a random learned-like
    # merge list, encoding by min-rank-first equals applying every
    # merge sequentially in rank order (the equivalence the kernel
    # docstring claims)
    import random

    from kissmetrics_to_database_spark.operators.text import _merge_pair

    rng = random.Random(7)
    for _ in range(200):
        word = "".join(rng.choice("abc") for _ in range(rng.randint(1, 12)))
        # build a plausible merge list: symbols built bottom-up
        symbols = list("abc")
        merges = []
        for _k in range(rng.randint(0, 10)):
            a, b = rng.choice(symbols), rng.choice(symbols)
            merges.append((a, b))
            symbols.append(a + b)
        # sequential application
        seq = tuple(word)
        for a, b in merges:
            seq = _merge_pair(seq, a, b)
        # rank-greedy application
        ranks = {}
        for i, p in enumerate(merges):
            ranks.setdefault(p, i)  # first occurrence wins, like dict build
        out = tuple(word)
        while len(out) > 1:
            cands = [(ranks[p], p) for p in zip(out, out[1:]) if p in ranks]
            if not cands:
                break
            _, best = min(cands)
            out = _merge_pair(out, *best)
        assert out == seq, (word, merges, out, seq)


def test_bpe_apply_merges_rejects_unsafe_symbols(spark):
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([("low",)], ["text"])
    with pytest.raises(ValueError, match="merge symbols"):
        t.bpe_apply_merges(df, [("l'", "o")])
    with pytest.raises(ValueError, match="merge symbols"):
        t.bpe_apply_merges(df, [("", "o")])


def test_probe_dim_empty_input_raises(spark):
    from kissmetrics_to_database_spark.operators import similarity as sim

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty embedding input"):
        sim.random_project(empty)


def test_train_serve_split_matches_end_to_end(spark):
    # pre-trained artifacts must reproduce the monolithic results
    # exactly (the bench.py train/serve split depends on it)
    from kissmetrics_to_database_spark.operators import similarity as sim
    from kissmetrics_to_database_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    kc = sim.kmeans_train_centroids(emb, k=8, iters=2)
    assert rows(sim.kmeans_lloyd(emb, k=8, iters=2, centroids=kc)) == rows(
        sim.kmeans_lloyd(emb, k=8, iters=2)
    )


def test_train_hashed_classifier_separates_disjoint_vocab(spark):
    # two disjoint vocabularies: full-batch GD must reach perfect
    # separation in a few iterations (no shared buckets to fight over)
    from kissmetrics_to_database_spark.operators import text as t

    pos = [f"good great fine nice doc{i}" for i in range(8)]
    neg = [f"bad awful poor sad doc{i}x" for i in range(8)]
    rows = [(i, txt, 1.0) for i, txt in enumerate(pos)] + [
        (100 + i, txt, 0.0) for i, txt in enumerate(neg)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    w = t.train_hashed_classifier(df, "y", iters=4, lr=10.0)
    scored = {r["doc_id"]: r for r in t.hashed_classifier_score(df, w).collect()}
    for i, _ in enumerate(pos):
        assert scored[i]["pred"] is True, scored[i]
    for i, _ in enumerate(neg):
        assert scored[100 + i]["pred"] is False, scored[100 + i]


def test_train_hashed_classifier_zero_iters_rejected_and_weights_shape(spark):
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([(0, "a b", 1.0)], ["doc_id", "text", "y"])
    w = t.train_hashed_classifier(df, "y", iters=1, lr=1.0)
    assert len(w) == 4096
    # only buckets present in the corpus move off zero
    assert sum(1 for v in w if v != 0.0) <= 3  # 'a','b','a b'


def test_unigram_tokenizer_hand_computed(spark):
    import math

    from kissmetrics_to_database_spark.operators import text as t

    # words {abc:2, ab:1}; best segmentations stay [abc] / [ab] through
    # both EM iterations; bc prunes (never used), singles floor at 0.5
    df = spark.createDataFrame([("abc abc ab",)], ["text"])
    pieces = dict(t.train_unigram_pieces(df, n_multi=8, iters=2))
    assert pieces["abc"] == round(math.log(2 / 3), 6)
    assert pieces["ab"] == round(math.log(1 / 3), 6)
    assert "bc" not in pieces            # unused multi pruned
    assert pieces["a"] == round(math.log(0.5 / 3), 6)  # char floor
    seg = {
        r["w"]: list(r["pieces"])
        for r in t.unigram_segment_vocab(
            df, sorted(pieces.items())
        ).collect()
    }
    assert seg == {"abc": ["abc"], "ab": ["ab"]}


def test_unigram_tokenizer_char_coverage(spark):
    from kissmetrics_to_database_spark.operators import text as t

    # rare chars survive pruning so every word stays segmentable
    df = spark.createDataFrame(
        [("the the the quick xylophone q",)], ["text"]
    )
    pieces = t.train_unigram_pieces(df, n_multi=4, iters=2)
    have = {p for p, _ in pieces}
    for ch in "qxy":
        assert ch in have
    seg = {
        r["w"]: list(r["pieces"])
        for r in t.unigram_segment_vocab(df, pieces).collect()
    }
    for w, ps in seg.items():
        assert "".join(ps) == w, (w, ps)  # lossless segmentation


def test_unigram_tokenizer_overlong_word_raises(spark):
    import pytest as _pytest

    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame([("supercalifragilisticexpialidocious",)], ["text"])
    with _pytest.raises(ValueError, match="max_word_len"):
        t.train_unigram_pieces(df, max_word_len=16)


def test_unigram_local_trainer_parity_with_distributed(spark):
    # the driver-resident EM and the distributed expression-fold EM
    # produce the IDENTICAL piece artifact at equal caps (same
    # candidate selection, DP tie-break, coverage floor, rounding)
    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("pack my box with five dozen liquor jugs",),
         ("the theme of the thesis is thin theory",)],
        ["text"],
    )
    dist = t.train_unigram_pieces(df, n_multi=16, max_piece_len=4, iters=2)
    loc = t.train_unigram_pieces_local(
        df, n_multi=16, max_piece_len=4, iters=2
    )
    assert loc == dist


def test_unigram_encode_corpus_matches_vocab_segmentation(spark):
    # the linear mapInPandas encoder's per-doc n_tokens equals the
    # E-step segmentation of each document's word stream (Viterbi
    # under the trained table == final training segmentation)
    from pyspark.sql import functions as F

    from kissmetrics_to_database_spark.operators import text as t

    df = spark.createDataFrame(
        [(0, "banana band bandana"),
         (1, "the theme anthem"),
         (2, ""),
         (3, "ba na nab and")],
        ["doc_id", "text"],
    )
    pieces = t.train_unigram_pieces_local(
        df, n_multi=12, max_piece_len=4, iters=2
    )
    enc = {
        r["doc_id"]: r
        for r in t.unigram_encode_corpus(
            df, pieces, max_piece_len=4
        ).collect()
    }
    seg = t.unigram_segment_vocab(df, pieces, max_piece_len=4).select(
        "w", F.size("pieces").alias("n_syms")
    )
    docw = df.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), "[^a-z]+")).alias("w"),
    ).where(F.col("w") != "")
    expected = {
        r["doc_id"]: r["n_tokens"]
        for r in docw.join(seg, "w")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").alias("n_tokens"))
        .collect()
    }
    for d, n in expected.items():
        assert enc[d]["n_tokens"] == n
    assert enc[2]["n_words"] == 0 and enc[2]["n_tokens"] == 0
    assert enc[2]["compression_ratio"] is None


def test_unigram_encode_corpus_unknown_char_fallback(spark):
    # a word with a character outside the trained table falls back to
    # one token per char (byte-fallback convention), never crashes
    from kissmetrics_to_database_spark.operators import text as t

    train = spark.createDataFrame([(0, "abba abab")], ["doc_id", "text"])
    pieces = t.train_unigram_pieces_local(
        train, n_multi=4, max_piece_len=3, iters=1
    )
    new = spark.createDataFrame([(9, "zzzz ab")], ["doc_id", "text"])
    row = t.unigram_encode_corpus(new, pieces, max_piece_len=3).collect()[0]
    # 'zzzz' -> 4 char-fallback tokens; 'ab' -> its trained segmentation
    assert row["n_words"] == 2
    assert row["n_tokens"] >= 4 + 1


def test_unigram_local_trainer_production_budget(spark):
    # the driver trainer works at budgets far beyond the expression
    # fold's planner bound: thousands of candidate pieces, len-8 max
    from kissmetrics_to_database_spark.operators import text as t

    import string

    def word(i: int) -> str:
        # deterministic letter-only words with diverse substrings
        s = ""
        x = i * 2654435761 % (1 << 32)
        for _ in range(6 + i % 5):
            s += string.ascii_lowercase[x % 26]
            x = (x * 1103515245 + 12345) % (1 << 31)
        return s

    rows = [
        (" ".join(word(i) for i in range(j, j + 40)),)
        for j in range(0, 400, 40)
    ]
    df = spark.createDataFrame(rows, ["text"])
    pieces = t.train_unigram_pieces_local(
        df, n_multi=4096, max_piece_len=8, iters=2
    )
    have = {p for p, _ in pieces}
    assert len([p for p in have if len(p) > 1]) > 100
    # lossless coverage: every seen char survives
    seen = {c for (txt,) in rows for c in txt if c.isalpha()}
    assert {c for c in seen if c.islower()} <= have


def test_html_main_content_fixture_page(spark):
    # readability-shape fixture: nav + header + article(2 paragraphs,
    # one containing a link below the density cut) + link-saturated
    # aside + footer — only the article prose survives
    from kissmetrics_to_database_spark.operators.text import (
        html_main_content,
    )

    page = (
        "<html><body>"
        '<nav><a href="/">Home</a> <a href="/b">Blog</a>'
        ' <a href="/c">Contact</a></nav>'
        "<header><h1>My Site</h1></header>"
        "<article>"
        "<p>This article body has plenty of ordinary prose words"
        " to clear the minimum word threshold easily.</p>"
        '<p>It cites <a href="/ref">a reference</a> while staying'
        " mostly prose with low link density overall.</p>"
        "</article>"
        '<aside><a href="/x">Ad one</a> <a href="/y">Ad two</a></aside>'
        '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a></footer>'
        "</body></html>"
    )
    df = spark.createDataFrame([(0, page)], "doc_id long, html string")
    [r] = html_main_content(df).collect()
    assert "ordinary prose words" in r["main_text"]
    assert "a reference" in r["main_text"]  # link-bearing prose kept
    assert "Home" not in r["main_text"]
    assert "My Site" not in r["main_text"]
    assert "Ad one" not in r["main_text"]
    assert "Privacy" not in r["main_text"]
    assert r["n_content_blocks"] == 2
    assert r["n_blocks"] > r["n_content_blocks"]
    assert 0.0 < r["boilerplate_ratio"] < 0.5


def test_html_main_content_link_density_cut(spark):
    # a long-enough block that is >1/3 link text must drop even
    # though it clears the word minimum; the same text without the
    # anchors survives
    from kissmetrics_to_database_spark.operators.text import (
        html_main_content,
    )

    linky = (
        '<p>See <a href="/1">the first long link text</a> and'
        ' <a href="/2">the second long link text</a> now.</p>'
    )
    plain = "<p>See the first long link text and the second long link text now.</p>"
    df = spark.createDataFrame(
        [(0, linky), (1, plain)], "doc_id long, html string"
    )
    out = {r["doc_id"]: r for r in html_main_content(df).collect()}
    assert out[0]["n_content_blocks"] == 0
    assert out[0]["boilerplate_ratio"] == 1.0
    assert out[1]["n_content_blocks"] == 1
    assert out[1]["boilerplate_ratio"] == 0.0


def test_html_main_content_empty_and_scriptonly(spark):
    from kissmetrics_to_database_spark.operators.text import (
        html_main_content,
    )

    df = spark.createDataFrame(
        [(0, ""), (1, "<script>var x = '<p>hi</p>';</script>")],
        "doc_id long, html string",
    )
    out = {r["doc_id"]: r for r in html_main_content(df).collect()}
    for d in (0, 1):
        assert out[d]["n_blocks"] == 0
        assert out[d]["main_text"] == ""
        assert out[d]["boilerplate_ratio"] == 0.0


def test_fim_transform_reassembles_to_original(spark):
    # PSM pieces must reassemble exactly: prefix+middle+suffix == text
    from kissmetrics_to_database_spark.operators.text import fim_transform

    rows = [(i, f"def f_{i}(x):\n    return x * {i}\n") for i in range(20)]
    rows.append((20, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in fim_transform(df).collect()}
    texts = dict(rows)
    n_tr = 0
    for d, r in out.items():
        if not r["transformed"]:
            assert r["fim_text"] == texts[d]
            assert r["split_a"] is None
            continue
        n_tr += 1
        body = r["fim_text"]
        assert body.startswith("<|fim_pre|>")
        pre_rest = body[len("<|fim_pre|>"):]
        prefix, rest = pre_rest.split("<|fim_suf|>", 1)
        suffix, middle = rest.split("<|fim_mid|>", 1)
        assert prefix + middle + suffix == texts[d]
        assert len(prefix) == r["split_a"]
        assert len(prefix) + len(middle) == r["split_b"]
    assert 0 < n_tr < len(rows)  # the 50% gate actually splits


def test_random_project_preserves_neighbors_better_than_chance(spark):
    import numpy as np

    from kissmetrics_to_database_spark.operators import similarity

    rng = np.random.default_rng(3)
    # 3 well-separated clusters in 64-d
    cents = rng.normal(0, 1, (3, 64))
    vecs = []
    for i in range(60):
        c = cents[i % 3]
        vecs.append((i, (c + rng.normal(0, 0.05, 64)).tolist(), i % 3))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
    proj = similarity.random_project(df, m=16)
    out = {r["vec_id"]: r["proj"] for r in proj.collect()}
    assert all(len(v) == 16 for v in out.values())

    def cos(a, b):
        import math
        d = sum(x * y for x, y in zip(a, b))
        return d / math.sqrt(sum(x * x for x in a) * sum(x * x for x in b))

    # same-cluster pairs must stay more similar than cross-cluster
    same = cos(out[0], out[3])   # both label 0
    cross = cos(out[0], out[1])  # labels 0 vs 1
    assert same > cross


def test_random_project_deterministic_and_scaled(spark):
    from kissmetrics_to_database_spark.operators import similarity

    df = spark.createDataFrame(
        [(0, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    a = similarity.random_project(df, m=16).collect()[0]["proj"]
    b = similarity.random_project(df, m=16).collect()[0]["proj"]
    assert a == b
    # each coord = (sum of 64 signs) * 0.25 -> multiple of 0.25
    assert all(abs(v * 4 - round(v * 4)) < 1e-9 for v in a)


def test_length_bucket_padding_ground_truth(spark):
    from kissmetrics_to_database_spark.operators.packing import (
        length_bucket_padding,
    )

    rows = [(0, 10), (1, 16), (2, 17), (3, 100), (4, 5000), (5, 0)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {
        r["bucket_len"]: r
        for r in length_bucket_padding(
            df, min_len=16, max_len=4096
        ).collect()
    }
    # 10 -> pot 16; 16 -> exact 16; 0 -> clamp(1) -> 16
    assert out[16]["n_docs"] == 3 and out[16]["sum_tokens"] == 10 + 16 + 1
    assert out[16]["padded_tokens"] == 48
    # 17 -> 32
    assert out[32]["n_docs"] == 1 and out[32]["padded_tokens"] == 32
    # 100 -> 128
    assert out[128]["n_docs"] == 1
    assert out[128]["waste_ratio"] == round(1 - 100 / 128, 6)
    # 5000 -> clamp 4096, truncated
    assert out[4096]["n_truncated"] == 1
    assert out[4096]["trunc_tokens"] == 5000 - 4096
    assert out[4096]["sum_tokens"] == 4096
    assert out[4096]["waste_ratio"] == 0.0


def test_classifier_readouts_partition_order_proof(spark):
    # r8 regression guard for the r7 driver flake: the calibration /
    # confusion readouts must be EXACTLY identical across partition
    # layouts. All aggregated quantities are integer micro-unit sums
    # (order-independent); a float-sum formulation flips a 6-dp half
    # boundary when spark.sql.shuffle.partitions changes.
    from kissmetrics_to_database_spark.plans import catalog

    sf = "/root/testdata/sf0.001"
    q = catalog.QUERIES["classifier_calibration_bins"]
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for n in ("1", "3", "8", "17", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            runs.append([tuple(r) for r in q(spark, sf).collect()])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    for other in runs[1:]:
        assert other == runs[0]


def test_fim_transform_corpus_scale_ids_no_overflow(spark):
    # ADVICE r7: doc_id ≳ 3.4e9 used to wrap 64-bit in Spark while
    # DuckDB raises on BIGINT overflow; the id is reduced mod 2^31
    # first so both engines stay in range for ANY long id.
    import duckdb

    from kissmetrics_to_database_spark.operators import text as t
    from kissmetrics_to_database_spark.plans import catalog

    big = [(9_200_000_000_000_000_000, "alpha beta gamma delta"),
           (5_000_000_000, "one two three"),
           (7, "tiny")]
    df = spark.createDataFrame(big, "doc_id long, text string")
    got = {r["doc_id"]: tuple(r) for r in t.fim_transform(df).collect()}
    assert set(got) == {x[0] for x in big}
    for did, txt in big:
        r = got[did]
        if r[1]:  # transformed: splits in range
            assert 0 <= r[2] <= r[3] <= len(txt)
    # the oracle SQL runs the same ids without raising
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({d}, '{s}')" for d, s in big)
        + ") t(doc_id, text)"
    )
    rows = con.execute(catalog.ORACLES["fim_transform"]).fetchall()
    assert len(rows) == 3


def test_gopher_repetition_hand_computed(spark):
    from kissmetrics_to_database_spark.operators import text as t

    doc = "nav home\nnav home\nbody text here\n\nnav home\n\npara two"
    # lines: [nav home, nav home, body text here, nav home, para two]
    # paras: [nav home\nnav home\nbody text here, nav home, para two]
    df = spark.createDataFrame([(1, doc), (2, ""), (3, "a b a b a b")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in t.gopher_repetition_stats(df).collect()}
    r = out[1]
    assert r["n_lines"] == 5
    assert r["dup_line_frac"] == round(1 - 3 / 5, 6)
    # dup line char mass: 'nav home' (8 chars) has 3 occurrences -> 16
    # dup chars; total line chars = 8*3 + 14 + 8 = 46
    assert r["dup_line_char_frac"] == round(16 / 46, 6)
    assert r["n_paras"] == 3 and r["dup_para_frac"] == 0.0
    # top bigram of doc3: 'a b' x3 (len 3) over n_chars=6 -> 9/6 can
    # exceed 1 by the overlapping-gram definition; check exact value
    r3 = out[3]
    assert r3["top_2gram_char_frac"] == round(3 * 3 / 6, 6)
    assert out[2]["n_lines"] == 0 and out[2]["dup_line_frac"] == 0.0



def test_encoding_repair_fixes_classic_mojibake(spark):
    from kissmetrics_to_database_spark.operators import text as t

    broken = "It\u00e2\u20ac\u2122s caf\u00c3\u00a9 \u00e2\u20ac\u201c nice"
    df = spark.createDataFrame(
        [(1, broken), (2, "plain ascii"), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in t.encoding_repair(df).collect()}
    assert out[1]["text_fixed"] == "It\u2019s caf\u00e9 \u2013 nice"
    assert out[1]["n_mojibake"] == 3 and out[1]["repaired"] is True
    assert out[2]["n_mojibake"] == 0 and out[2]["repaired"] is False
    assert out[3]["text_fixed"] == "" and out[3]["n_mojibake"] == 0


def test_kcenter_coreset_hand_computed(spark):
    # four unit vectors in 2D: e1, e2, -e1, and a near-e1 point.
    # seed = min id (e1). Farthest from e1 under cosine distance is
    # -e1 (d=2), then e2 (d=1 from e1, 1 from -e1 -> min 1), then the
    # near-e1 point last with a small distance.
    from kissmetrics_to_database_spark.operators import similarity as sim

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
        (4, [0.9998, 0.02]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [tuple(r) for r in sim.kcenter_coreset(df, k=4).collect()]
    assert [r[1] for r in out] == [1, 3, 2, 4]
    assert out[0][2] == 0.0
    assert out[1][2] == 2.0   # 1 - (-1)
    assert out[2][2] == 1.0   # orthogonal
    assert 0.0 < out[3][2] < 0.01


def test_ivf_topk_filtered_respects_label_and_fills_k(spark):
    # two orthogonal cells; labels interleave within each cell. A
    # post-filter of plain ivf_topk top-3 would keep only ~half the
    # rows; the filtered variant must (a) return ONLY same-label
    # neighbors and (b) still fill k from deeper in the cell.
    from kissmetrics_to_database_spark.operators import similarity as sim

    c0 = [1.0, 0.0] * 4
    c1 = [0.0, 1.0] * 4
    rows = [(0, c0, 0), (1, c1, 1)] + [
        (10 + i, c0 if i % 2 == 0 else c1, i % 3) for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cents = df.where("vec_id < 2")
    probes = df.where("vec_id = 0")  # label 0, cell 0
    out = sorted(
        sim.ivf_topk_filtered(
            df, probes, cents, k=3, nprobe=1, match_col="label"
        ).collect(),
        key=lambda r: r["rank"],
    )
    labels = {r[0]: r[2] for r in rows}
    # cell-0 members are the even-i ids 10..21; label==0 among them
    # means i even AND i%3==0 -> i in {0, 6} -> ids {10, 16}. The
    # probe itself is excluded, so the filtered result holds exactly
    # those 2 rows; if this ever returns 3, the label filter leaked.
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(10, 1), (16, 2)]
    assert all(labels[r["neighbor_id"]] == 0 for r in out)


def test_ivf_topk_filtered_never_returns_cross_label(spark):
    from kissmetrics_to_database_spark.operators import similarity as sim

    c0 = [1.0, 0.0] * 4
    c1 = [0.0, 1.0] * 4
    rows = [(0, c0, 0), (1, c1, 1)] + [
        (10 + i, c0 if i % 2 == 0 else c1, i % 2) for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    cents = df.where("vec_id < 2")
    probes = df.where("vec_id IN (0, 1)")
    out = sim.ivf_topk_filtered(
        df, probes, cents, k=5, nprobe=2, match_col="label"
    ).collect()
    labels = {r[0]: r[2] for r in rows}
    assert out, "filtered search returned nothing"
    for r in out:
        assert labels[r["neighbor_id"]] == labels[r["probe_id"]]
        assert r["neighbor_id"] != r["probe_id"]


def test_semantic_decontamination_flags_and_ties(spark):
    # eval 100 = x-axis, eval 101 = y-axis; corpus vectors at known angles
    ev = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    tr = spark.createDataFrame(
        [
            (1, [2.0, 0.0]),   # cos=1.0 with eval 100
            (2, [1.0, 1.0]),   # cos=0.7071 with BOTH -> tie -> min eval id 100
            (3, [-1.0, 0.0]),  # cos=0.0 with 101, -1 with 100 -> nearest 101
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_decontamination(
            tr, ev, threshold=0.9
        ).collect()
    }
    assert out[1]["nearest_eval_id"] == 100 and out[1]["contaminated"]
    assert out[1]["max_eval_cosine"] == 1.0
    assert out[2]["nearest_eval_id"] == 100  # exact tie -> min eval id
    assert abs(out[2]["max_eval_cosine"] - 0.707107) < 1e-9
    assert not out[2]["contaminated"]
    assert out[3]["nearest_eval_id"] == 101 and out[3]["max_eval_cosine"] == 0.0


def test_blocklist_gate_counts_and_verdict(spark):
    rows = [
        (1, "clean text about spark"),
        (2, "this has spam and more SPAM inside"),
        (3, "dup dup spam"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.blocklist_gate(df).collect()}
    assert not out[1]["dropped"] and out[1]["n_flagged"] == 0
    assert out[2]["dropped"] and out[2]["n_flagged"] == 2  # lowercased match
    assert out[2]["n_flagged_terms"] == 1
    assert out[3]["n_flagged"] == 3 and out[3]["n_flagged_terms"] == 2
    assert out[3]["flagged_ratio"] == 1.0
    assert out[4]["n_tokens"] == 0 and not out[4]["dropped"]


def test_margin_bitext_mining_mutual_and_margin(spark):
    rows = [
        (1, "en", [1.0, 0.0]),
        (2, "en", [0.0, 1.0]),
        (3, "fr", [0.9, 0.1]),
        (4, "fr", [0.1, 0.9]),
        (5, "fr", [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, embedding array<float>")
    out = {
        (r["src_id"], r["tgt_id"]): r
        for r in similarity.margin_bitext_mining(
            df, k=2, threshold=0.0
        ).collect()
    }
    # mutual nearest: (1,3) and (2,4); 5 points at 2 but 2's best is 4
    assert set(out) == {(1, 3), (2, 4)}
    assert all(r["margin"] > 1.0 for r in out.values())
    assert abs(out[(1, 3)]["cosine"] - 0.9 / (0.81 + 0.01) ** 0.5) < 1e-6
    # k=1 margin is identically 1.0 for mutual pairs: the normalizer
    # IS the pair's own cosine on both sides
    out1 = similarity.margin_bitext_mining(df, k=1, threshold=0.0).collect()
    assert {r["margin"] for r in out1} == {1.0}


def test_dbscan_cosine_roles_and_clusters(spark):
    import math

    a15, a30 = math.radians(15), math.radians(30)
    rows = [
        (1, [1.0, 0.0]),
        (2, [math.cos(a15), math.sin(a15)]),
        (3, [math.cos(a30), math.sin(a30)]),
        (4, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # eps cos>=0.9: edges (1,2) and (2,3) only -> 2 is the sole core
    out = {
        r["vec_id"]: (r["role"], r["cluster_id"])
        for r in similarity.dbscan_cosine(df, eps_cos=0.9, min_pts=3).collect()
    }
    assert out[2] == ("core", 2)      # isolated core -> own cluster
    assert out[1] == ("border", 2) and out[3] == ("border", 2)
    assert out[4] == ("noise", None)


def test_phrase_blocklist_spans_positions_and_overlap(spark):
    rows = [
        (1, "the slow query ran a table scan twice table scan done"),
        (2, "slow hash batch slow hash batch"),  # back-to-back trigram
        (3, "slow"),                              # shorter than any phrase
        (4, "query slow"),                        # reversed -> no match
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["start_token"], r["phrase"])
        for r in text.phrase_blocklist_spans(df).collect()
    )
    assert got == [
        (1, 2, "slow query"),
        (1, 6, "table scan"),
        (1, 9, "table scan"),
        (2, 1, "slow hash batch"),
        (2, 4, "slow hash batch"),
    ]


def test_lsh_multiprobe_expands_to_hamming1_buckets(spark):
    # hyperplanes = axes; corpus point in bucket '01', probe in '11':
    # single-probe misses it, multi-probe (flip bit 1) finds it
    hps = [[1.0, 0.0], [0.0, 1.0]]
    corpus = spark.createDataFrame(
        [(1, [-1.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    probes = spark.createDataFrame(
        [(10, [0.9, 1.0])], "vec_id long, embedding array<float>"
    )
    single = similarity.lsh_topk(corpus, probes, hps, k=5).collect()
    multi = similarity.lsh_multiprobe_topk(corpus, probes, hps, k=5).collect()
    assert {r["neighbor_id"] for r in single} == {2}
    assert {r["neighbor_id"] for r in multi} == {1, 2}


def test_margin_bitext_mining_ann_matches_exact_on_clustered(spark):
    """r10, VERDICT r9 #2: on clustered embeddings (the production
    regime) the ANN-candidates + exact-verify route recovers the
    exact kernel's pair set; probe keys are the full Hamming-radius
    ball (1 + b + C(b,2) distinct buckets for radius 2)."""
    import math

    # 6 tight en/fr pairs around distinct directions in 4-d
    rows = []
    for i in range(6):
        a = math.pi * i / 6.0
        base = [math.cos(a), math.sin(a), 0.2 * i, 1.0]
        rows.append((i, "en", [float(x) for x in base]))
        rows.append(
            (100 + i, "fr", [float(x + 0.01) for x in base])
        )
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, embedding array<float>"
    )
    hp = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [1.0, -1.0, 0.5, 0.0],
        [0.3, 0.3, -1.0, 0.2],
    ]
    exact = {
        (r["src_id"], r["tgt_id"])
        for r in similarity.margin_bitext_mining(
            df, k=2, threshold=1.0
        ).collect()
    }
    ann = {
        (r["src_id"], r["tgt_id"])
        for r in similarity.margin_bitext_mining_ann(
            df, hp, k=2, threshold=1.0, probe_radius=2
        ).collect()
    }
    assert exact == {(i, 100 + i) for i in range(6)}
    assert ann == exact
    # radius-0 (home bucket only) is a subset of the radius-2 set
    ann0 = {
        (r["src_id"], r["tgt_id"])
        for r in similarity.margin_bitext_mining_ann(
            df, hp, k=2, threshold=1.0, probe_radius=0
        ).collect()
    }
    assert ann0 <= ann


def test_margin_bitext_mining_ivf_matches_exact_on_clustered(spark):
    """r11, VERDICT r10 #3: the trained-IVF candidate generator
    recovers the exact kernel's pair set on clustered embeddings,
    like the LSH route — the generators differ only in how they
    propose candidates."""
    import math

    rows = []
    for i in range(6):
        a = math.pi * i / 6.0
        base = [math.cos(a), math.sin(a), 0.2 * i, 1.0]
        rows.append((i, "en", [float(x) for x in base]))
        rows.append((100 + i, "fr", [float(x + 0.01) for x in base]))
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, embedding array<float>"
    )
    cent = similarity.kmeans_train_centroids(
        df.selectExpr("doc_id AS vec_id", "embedding"), k=6, iters=2
    )
    exact = {
        (r["src_id"], r["tgt_id"])
        for r in similarity.margin_bitext_mining(
            df, k=2, threshold=1.0
        ).collect()
    }
    ivf = {
        (r["src_id"], r["tgt_id"])
        for r in similarity.margin_bitext_mining_ivf(
            df, cent, k=2, threshold=1.0, nprobe=2
        ).collect()
    }
    assert exact == {(i, 100 + i) for i in range(6)}
    assert ivf == exact
    # nprobe=1 (home cell only) is a subset of the nprobe=2 set
    ivf1 = {
        (r["src_id"], r["tgt_id"])
        for r in similarity.margin_bitext_mining_ivf(
            df, cent, k=2, threshold=1.0, nprobe=1
        ).collect()
    }
    assert ivf1 <= ivf


def test_semantic_decontamination_ivf_matches_exact_on_clustered(spark):
    """r11: on clustered embeddings the IVF decontamination route's
    flags equal the exact kernel's; no-candidate corpus rows read as
    clean (contaminated=false, null nearest)."""
    import math

    corpus_rows, eval_rows = [], []
    for i in range(4):
        a = math.pi * i / 2.0
        base = [math.cos(a), math.sin(a), 1.0, 0.5 * i]
        corpus_rows.append((i, [float(x) for x in base]))
        # evals 0/1 sit on corpus 0/1's directions; 2/3 far away
        if i < 2:
            eval_rows.append((50 + i, [float(x + 0.01) for x in base]))
    eval_rows.append((60, [9.0, -9.0, -9.0, 9.0]))
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>"
    )
    ev = spark.createDataFrame(
        eval_rows, "vec_id long, embedding array<float>"
    )
    cent = similarity.kmeans_train_centroids(corpus, k=4, iters=2)
    exact = {
        r["vec_id"]: r["contaminated"]
        for r in similarity.semantic_decontamination(
            corpus, ev, threshold=0.9
        ).collect()
    }
    ivf = {
        r["vec_id"]: r["contaminated"]
        for r in similarity.semantic_decontamination_ivf(
            corpus, ev, cent, threshold=0.9, nprobe=2
        ).collect()
    }
    assert exact == {0: True, 1: True, 2: False, 3: False}
    assert ivf == exact
