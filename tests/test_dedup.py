"""Dedup-suite tests: LSH recall vs. exact Jaccard, SimHash
pigeonhole exactness vs. brute-force Hamming, exact dedup."""

from __future__ import annotations

import itertools

from kissmetrics_to_database_spark.operators import dedup

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog and runs far away today"),
    (1, "the quick brown fox jumps over the lazy dog and runs far away now"),  # near-dup of 0
    (2, "completely different content about spark shuffle partitions and joins"),
    (3, "completely different content about spark shuffle partitions and aggregation"),  # near-dup of 2
    (4, "unrelated text mentioning neither foxes nor shuffles at all whatsoever"),
    (5, "the quick brown fox jumps over the lazy dog and runs far away today"),  # exact dup of 0
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _python_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().strip().split()
    if len(toks) <= n:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_shingles_match_python(spark):
    out = dedup.distinct_shingles(_docs_df(spark), "doc_id", "text").collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], set()).add(r["token"])
    for doc_id, text in DOCS:
        assert got[doc_id] == _python_shingles(text), doc_id


def test_jaccard_matches_python(spark):
    tok = dedup.distinct_tokens(_docs_df(spark), "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(tok, "doc_id").collect()
    }
    sets = {d: set(t.lower().split()) for d, t in DOCS}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter == 0:
            assert (a, b) not in got
        else:
            expected = round(inter / len(sets[a] | sets[b]), 6)
            assert abs(got[(a, b)] - expected) < 1e-9


def test_jaccard_pairs_orients_unoriented_candidates(spark):
    # a candidate set holding (a, b), (b, a) and (a, a) scores the
    # same rows as the oriented set: each pair once, no self-pair
    tok = dedup.distinct_tokens(_docs_df(spark), "doc_id", "text")
    oriented = spark.createDataFrame([(0, 1), (2, 3), (0, 5)], "id_a long, id_b long")
    messy = spark.createDataFrame(
        [(0, 1), (1, 0), (3, 2), (2, 3), (5, 0), (0, 0), (4, 4)],
        "id_a long, id_b long",
    )
    want = sorted(map(tuple, dedup.jaccard_pairs(tok, "doc_id", oriented).collect()))
    got = sorted(map(tuple, dedup.jaccard_pairs(tok, "doc_id", messy).collect()))
    assert got == want
    assert [(a, b) for a, b, _ in want] == [(0, 1), (0, 5), (2, 3)]


def test_minhash_lsh_finds_planted_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_dedup_pairs(
            _docs_df(spark), "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert {(0, 1), (0, 5), (1, 5), (2, 3)} <= pairs
    assert all(4 not in p for p in pairs)


def test_exact_dup_has_jaccard_one(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_dedup_pairs(
            _docs_df(spark), "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert out[(0, 5)] == 1.0


def test_simhash_blocking_is_recall_exact(spark):
    # every brute-force pair with hamming <= h must be found by the
    # (h+1)-block index — pigeonhole guarantee
    df = _docs_df(spark)
    sh = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash(
            dedup.distinct_shingles(df, "doc_id", "text"), "doc_id"
        ).collect()
    }
    brute = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a, b in itertools.combinations(sorted(sh), 2)
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_pairs(df, "doc_id", "text", 32, 3).collect()
    }
    assert got == brute
    assert got[(0, 5)] == 0  # exact dup → identical simhash


def test_lsh_short_final_band_keeps_trailing_seeds(spark):
    """num_hashes not divisible by rows_per_band: trailing seeds form
    a short final band (seed // rows_per_band grouping) instead of
    being dropped (ADVICE r01 #2)."""
    tok = dedup.distinct_shingles(_docs_df(spark), "doc_id", "text")
    wide = dedup.minhash_wide_tokens(tok, "doc_id", num_hashes=7)

    # docs 0 and 5 are exact dups: identical in every band including
    # the short one, so they must appear with 7 seeds / 2-rows bands
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs_wide(
            wide, "doc_id", num_hashes=7, rows_per_band=2
        ).collect()
    }
    assert (0, 5) in pairs

    # the short band must use ONLY seed 6: construct signatures that
    # agree on seed 6 alone — a full-band grouping would never pair
    # them, the ceil grouping must
    import pyspark.sql.functions as F  # noqa: N812

    rows = []
    for doc in (10, 11):
        sig = {f"_mh{s}": f"{doc}{s:02d}" for s in range(6)}  # all differ
        sig["_mh6"] = "same"
        rows.append({"doc_id": doc, **sig})
    df = spark.createDataFrame(rows).select(
        "doc_id", *[F.col(f"_mh{s}") for s in range(7)]
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs_wide(
            df, "doc_id", num_hashes=7, rows_per_band=2
        ).collect()
    }
    assert got == {(10, 11)}


def test_dedup_exact(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], ["k", "v"])
    assert dedup.dedup_exact(df).count() == 2


def test_near_dup_clusters_canonical_is_min_member(spark):
    from kissmetrics_to_database_spark.operators.dedup import near_dup_clusters

    # two clusters {1,2,3} (chained, NOT all-pairs) and {10, 11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        (r.doc_id, r.canonical_id)
        for r in near_dup_clusters(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_leakage_safe_split_keeps_clusters_together(spark):
    from pyspark.sql import functions as F

    # clusters of near-identical docs + singletons: every cluster
    # must land in exactly one split, whatever the split hash says
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    for c in range(12):
        for m in range(3):
            rows.append((c * 10 + m, base * 3 + f"cluster {c} tail {m}"))
    for s in range(200, 220):
        rows.append((s, f"unique singleton document number {s} " * 5))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    pairs = dedup.minhash_lsh_dedup_pairs(
        docs, "doc_id", "text", num_hashes=8, rows_per_band=2, threshold=0.5
    )
    clusters = dedup.near_dup_clusters(pairs)
    assigned = docs.select("doc_id").join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canonical_id"),
    )
    b = (
        F.conv(
            F.substring(F.md5(F.col("canonical_id").cast("string")), 1, 2),
            16,
            10,
        ).cast("int")
    )
    split = F.when(b < 205, "train").when(b < 230, "val").otherwise("test")
    out = assigned.select("doc_id", "canonical_id", split.alias("split")).collect()

    split_of = {r["doc_id"]: r["split"] for r in out}
    canon_of = {r["doc_id"]: r["canonical_id"] for r in out}
    # invariant 1: same canonical -> same split
    by_canon: dict = {}
    for d, c in canon_of.items():
        by_canon.setdefault(c, set()).add(split_of[d])
    assert all(len(s) == 1 for s in by_canon.values())
    # invariant 2: no verified near-dup pair straddles splits
    for p in pairs.collect():
        assert split_of[p["id_a"]] == split_of[p["id_b"]]
    # sanity: the synthetic clusters actually clustered
    for c in range(12):
        assert len({canon_of[c * 10 + m] for m in range(3)}) == 1


def test_cdc_chunks_partition_and_reassemble(spark):
    from kissmetrics_to_database_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog " * 20
    docs = spark.createDataFrame(
        [(1, text), (2, text)], ["doc_id", "text"]
    )
    out = dedup.cdc_chunks(docs, mask_bits=2).collect()
    chunks = sorted(
        (r for r in out if r.doc_id == 1), key=lambda r: r.chunk_idx
    )
    # chunks reassemble the token stream exactly, in order
    reassembled = " ".join(r.chunk_text for r in chunks)
    expected = " ".join(text.lower().split())
    assert reassembled == expected
    assert [r.chunk_idx for r in chunks] == list(range(len(chunks)))
    assert all(r.n_tokens == len(r.chunk_text.split()) for r in chunks)
    # doc 2 is byte-identical → every chunk duplicates corpus-wide
    assert all(r.dup_occurrences >= 2 for r in chunks)


def test_cdc_chunks_are_shift_robust(spark):
    # THE property that motivates CDC over fixed windows: prepending
    # tokens changes only the first chunk's hash; fixed-stride spans
    # would shift every window
    from kissmetrics_to_database_spark.operators import dedup

    base = "alpha bravo charlie delta echo foxtrot golf hotel " * 12
    docs = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX " + base)], ["doc_id", "text"]
    )
    out = dedup.cdc_chunks(docs, mask_bits=2).collect()
    h1 = {r.chunk_hash for r in out if r.doc_id == 1}
    h2 = {r.chunk_hash for r in out if r.doc_id == 2}
    shared = h1 & h2
    # all but the edited leading chunk(s) survive identically
    assert len(shared) >= len(h1) - 2
    assert len(shared) > 0


def test_cdc_dedup_rewrite_first_occurrence_wins(spark):
    # two docs sharing a chunk: the corpus-wide first occurrence
    # (min doc_id, chunk_idx) survives, later ones are dropped and
    # the byte accounting is exact vs the normalized original
    from kissmetrics_to_database_spark.operators import dedup as dd

    # mask_bits=0 => every token is its own chunk (bucket % 1 == 0),
    # making the winner rule trivially hand-checkable
    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dd.cdc_dedup_rewrite(df, mask_bits=0).collect()
    }
    # doc 1: chunks alpha/beta/alpha -> keeps (1,0) alpha and (1,1)
    # beta; the second alpha (1,2) loses to (1,0)
    assert out[1]["n_chunks"] == 3 and out[1]["n_kept"] == 2
    assert out[1]["deduped_text"] == "alpha beta"
    assert out[1]["bytes_saved"] == len("alpha beta alpha") - len("alpha beta")
    # doc 2: beta lost to doc 1, gamma survives
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["deduped_text"] == "gamma"
    assert out[2]["bytes_saved"] == len("beta gamma") - len("gamma")


def test_winnow_containment_detects_embedded_doc(spark):
    # doc 1's full text is embedded inside doc 2: containment(1->2)
    # must be 1.0 (every fingerprint of 1 appears in 2 — the
    # winnowing guarantee for shared runs >= w+k-1 tokens), while the
    # reverse direction is partial and the unrelated doc pairs with
    # nothing
    from kissmetrics_to_database_spark.operators import dedup as dd

    d1 = "the quick brown fox jumps over the lazy dog again and again today"
    d2 = "xx yy zz " + d1 + " aa bb cc dd ee ff"
    d3 = "completely different content with no overlap whatsoever here at all"
    df = spark.createDataFrame([(1, d1), (2, d2), (3, d3)], ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dd.winnow_containment(df).collect()
    }
    assert got[(1, 2)] == 1.0
    assert 0 < got[(2, 1)] < 1.0
    assert not any(3 in pair for pair in got)


def test_winnow_fingerprints_are_position_invariant(spark):
    # shifting a document by a prefix must not change the fingerprint
    # SET of the shared suffix region (content-defined selection —
    # the property fixed-stride sampling lacks)
    from kissmetrics_to_database_spark.operators import dedup as dd

    body = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, body), (2, "pre1 pre2 pre3 pre4 " + body)], ["doc_id", "text"]
    )
    fps = {
        r["doc_id"]: set()
        for r in df.select("doc_id").collect()
    }
    for r in dd.winnow_fingerprints(df).collect():
        fps[r["doc_id"]].add(r["fp"])
    assert fps[1] <= fps[2]  # every body fingerprint survives the shift


class TestExactSubstring:
    def _df(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_spans_exact_coordinates(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        # doc 1 embeds doc 0's 6-token run at offset 2: with k=5 that
        # is two removable grams (pos 2,3) whose union is [2,7] — the
        # exact embedded run; doc 0 (first occurrence) keeps everything
        run = "a b c d e f"
        df = self._df(
            spark,
            [(0, f"{run} x y"), (1, f"p q {run} r")],
        )
        spans = [
            (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
            for r in dedup.exact_substring_spans(df, k=5)
            .orderBy("doc_id", "span_start")
            .collect()
        ]
        assert spans == [(1, 2, 7, 6)]

    def test_within_doc_duplicate_keeps_first(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        # same 5-token run twice within ONE doc: the second occurrence
        # (pos 7..11) is removed, the first kept
        df = self._df(spark, [(0, "a b c d e xx yy a b c d e")])
        spans = [
            (r["span_start"], r["span_end"])
            for r in dedup.exact_substring_spans(df, k=5).collect()
        ]
        assert spans == [(7, 11)]

    def test_no_dup_no_spans(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        df = self._df(spark, [(0, "a b c d e"), (1, "f g h i j")])
        assert dedup.exact_substring_spans(df, k=5).count() == 0

    def test_short_docs_excluded(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        # identical docs shorter than k produce no strict k-gram
        df = self._df(spark, [(0, "a b c"), (1, "a b c")])
        assert dedup.exact_substring_spans(df, k=5).count() == 0

    def test_rewrite_reassembles_and_accounts(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        run = "a b c d e f"
        df = self._df(
            spark,
            [(0, f"{run} x y"), (1, f"p q {run} r"), (2, "tiny")],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.exact_substring_rewrite(df, k=5).collect()
        }
        assert out[0]["n_removed"] == 0
        assert out[0]["text_rewritten"] == f"{run} x y"
        assert out[1]["n_tokens"] == 9
        assert out[1]["n_removed"] == 6
        assert out[1]["n_dup_spans"] == 1
        assert out[1]["text_rewritten"] == "p q r"
        assert out[2]["n_tokens"] == 1 and out[2]["n_removed"] == 0

    def test_three_way_duplicate_single_winner(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        # the run appears in three docs: only the (min doc) copy
        # survives; both later docs lose the whole run
        run = "a b c d e"
        df = self._df(spark, [(0, run), (1, run), (2, run)])
        out = {
            r["doc_id"]: r["n_removed"]
            for r in dedup.exact_substring_rewrite(df, k=5).collect()
        }
        assert out == {0: 0, 1: 5, 2: 5}


class TestExactSubstringIngest:
    def test_history_wins_and_batch_internal_dedup(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        run = "a b c d e"
        history = spark.createDataFrame(
            [(0, f"{run} tail words")], ["doc_id", "text"]
        )
        batch = spark.createDataFrame(
            [
                (10, f"p q {run}"),         # run known from history
                (11, "x y z w v"),           # fresh run, batch-first
                (12, "x y z w v extra"),     # loses to doc 11
            ],
            ["doc_id", "text"],
        )
        spans = {
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in dedup.exact_substring_ingest_spans(
                history, batch, k=5
            ).collect()
        }
        assert (10, 2, 6) in spans      # history copy removed
        assert (12, 0, 4) in spans      # batch-internal dup removed
        assert not any(d == 11 for d, *_ in spans)  # batch-first kept

    def test_empty_history_equals_batch_dedup(self, spark):
        from kissmetrics_to_database_spark.operators import dedup

        empty = spark.createDataFrame([], "doc_id long, text string")
        run = "a b c d e f"
        batch = spark.createDataFrame(
            [(0, f"{run} x y"), (1, f"p q {run} r")], ["doc_id", "text"]
        )
        got = sorted(
            tuple(r)
            for r in dedup.exact_substring_ingest_spans(
                empty, batch, k=5
            ).collect()
        )
        want = sorted(
            tuple(r) for r in dedup.exact_substring_spans(batch, k=5).collect()
        )
        assert got == want


def test_decontamination_spans_hand_computed(spark):
    from kissmetrics_to_database_spark.operators import dedup

    secret = "q1 q2 q3 q4 q5 q6"
    bench = spark.createDataFrame(
        [(0, f"intro {secret} outro")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (10, f"leak {secret} here"),    # contains the benchmark run
            (11, "clean document words"),    # clean
            (12, f"{secret}"),               # is exactly the run
        ],
        ["doc_id", "text"],
    )
    spans = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.decontamination_spans(bench, corpus, k=5).collect()
    )
    assert spans == [(10, 1, 6), (12, 0, 5)]
    # no corpus-internal dedup: docs 10 and 12 both flagged only for
    # the benchmark overlap, doc 11 untouched


def test_line_dedup_corpus_strikes_cross_doc_boilerplate(spark):
    from kissmetrics_to_database_spark.operators import dedup as dd

    docs = [
        (1, "COOKIE BANNER\nreal content one\n\nfooter"),
        (2, "COOKIE BANNER\nreal content two\nfooter"),
        (3, "unique only"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dd.line_dedup_corpus(df).collect()}
    # 'COOKIE BANNER' and 'footer' repeat across docs -> removed;
    # blank line preserved; unique lines kept in order
    assert out[1]["clean_text"] == "real content one\n"
    assert out[1]["n_lines"] == 4 and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "real content two"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "unique only"
    # max_occurrences=2 tolerates pairs
    out2 = {
        r["doc_id"]: r
        for r in dd.line_dedup_corpus(df, max_occurrences=2).collect()
    }
    assert out2[1]["n_removed"] == 0


def test_edit_distance_pairs_blocking_is_lossless(spark):
    from kissmetrics_to_database_spark.operators import dedup as dd

    base = (
        "the quick brown fox jumps over the lazy dog and runs away fast "
        "while the slow grey wolf watches from the hill and the night "
        "falls quietly over the sleeping valley below them all"
    )  # > 128 chars so the tail window is a proper suffix
    docs = [
        (1, base),
        (2, base),                                   # d=0
        (3, base.replace("quick", "qwick")),          # d=1 substitution
        (4, base.replace("jumps over", "leaps over")),  # small edit
        (5, base[:-9] + "homeward!"),                 # tail rewrite, d<=9
        (6, "completely different text about spark catalyst planning"),
        (7, "x" * 200 + base),                        # same tail window
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in dd.edit_distance_pairs(df, max_dist=8).collect()
    }
    # brute-force ground truth over the same tail-128 window
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    tails = {i: t[-128:] for i, t in docs}
    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(sorted(tails.items()), 2):
        d = lev(ta, tb)
        if d <= 8:
            want[(ia, ib)] = d
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 0
    assert (1, 7) in got and got[(1, 7)] == 0  # prefix noise outside window
    assert not any(6 in p for p in got)


def test_edit_distance_pairs_short_bucket(spark):
    from kissmetrics_to_database_spark.operators import dedup as dd

    # strings <= 2*d chars take the bounded short-bucket path
    docs = [(1, "abcd"), (2, "abcx"), (3, "abcdefgh"), (4, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in dd.edit_distance_pairs(df, max_dist=3).collect()
    }
    assert got == {(1, 2): 1}  # (1,3) differ by 4 > d; 4 is too long for either


def test_edit_distance_pairs_short_long_boundary(spark):
    """ADVICE r8 (high): pairs straddling the 2d short/long cutoff —
    one tail <= 2d, the other in (2d, 3d] — must not be dropped."""
    from kissmetrics_to_database_spark.operators import dedup as dd

    # d=3: 'abcdef' (ln=6 <= 2d) vs 'abcdefgh' (ln=8 > 2d), lev=2
    docs = [(1, "abcdef"), (2, "abcdefgh")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in dd.edit_distance_pairs(df, max_dist=3).collect()
    }
    assert got == {(1, 2): 2}

    # d=8: 16-char (== 2d, short) vs 24-char (== 3d, long), lev=8
    docs = [(1, "a" * 16), (2, "a" * 16 + "b" * 8), (3, "c" * 40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in dd.edit_distance_pairs(df, max_dist=8).collect()
    }
    assert got == {(1, 2): 8}


def test_edit_distance_pairs_boundary_brute_force(spark):
    """Exhaustive lossless check with tail lengths covering
    [0, 3d+2] around the short/long cutoff at d=3."""
    from kissmetrics_to_database_spark.operators import dedup as dd
    import itertools, random

    rng = random.Random(9)
    docs = []
    i = 0
    for ln in range(0, 12):  # 0..3d+2 for d=3
        for _ in range(3):
            i += 1
            docs.append((i, "".join(rng.choice("abc") for _ in range(ln))))

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for ii, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], ii
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        d = lev(ta, tb)
        if d <= 3:
            want[(min(ia, ib), max(ia, ib))] = d
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_distance"]
        for r in dd.edit_distance_pairs(df, max_dist=3).collect()
    }
    assert got == want
