"""Similarity-search and span-dedup unit tests against pure-Python
ground truth."""

from __future__ import annotations

import math

import pytest

from kissmetrics_to_database_spark.operators import similarity


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
