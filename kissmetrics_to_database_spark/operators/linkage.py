"""Probabilistic record linkage — Fellegi & Sunter (1969), the model
behind production Spark linkers (Splink's architecture is exactly
this shape: blocked candidate generation + per-field m/u log-weights
+ oversized-block exclusion).

The dedup suite answers "are these two documents the same BYTES /
the same TOKEN SET?"; record linkage answers the softer entity
question — "do these two records describe the same underlying
thing?" — by scoring an agreement VECTOR over typed fields instead
of thresholding one similarity. Per field f the evidence weight is

    agree(f):     log2(m_f / u_f)
    disagree(f):  log2((1 - m_f) / (1 - u_f))

where m_f = P(fields agree | same entity) — a model constant — and
u_f = P(fields agree | different entities) — the CHANCE-agreement
rate, estimated from the data itself as sum_v (n_v / N)^2 (the
probability two random records share value v, summed over values;
the standard frequency-based u estimate). A pair's match weight is
the sum over fields; pairs above a threshold are linked.

Engineering shape (100 TB):
  * Candidate pairs come from a UNION OF BLOCKING RULES (equi-joins
    on derived keys), never an all-pairs product.
  * A fixed-cardinality blocking key is quadratic by construction
    (every block grows O(n)), so every rule here carries a
    ``max_block`` guard: blocks holding more than ``max_block``
    records are EXCLUDED from candidate generation — the Splink
    "blocking rules that are too loose" treatment. That bounds total
    candidates at n * max_block regardless of corpus size; what it
    costs is pairs inside mega-blocks, which are precisely the pairs
    whose blocking key carries the least evidence (chance agreement
    on a near-universal value).
  * u-probabilities are one skinny aggregate per field (map-side
    combined, value-cardinality-sized) crossed in as a broadcast
    1-row frame; block keep-lists are aggregates of the same shape,
    joined back broadcast-style by Catalyst/AQE.
  * Scoring is a pure codegen projection over the candidate rows.

Determinism: u values are rounded to 9 dp before entering log2 and
the final weight to 6 dp, so the DuckDB oracle replays the identical
doubles (repo-wide round-before-use convention). The disagree
numerators embed the Python double ``1.0 - m`` (not the decimal
literal) for bit parity with the Spark expression.

Reference anchor: none — beyond-reference extension surface
(SURVEY.md north-star: training-data / entity-resolution tooling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kissmetrics_to_database_spark.operators import dedup

# P(agree | same entity) per field: how often a true duplicate pair
# preserves the field. Model constants in the Fellegi-Sunter sense —
# tunable, not estimated here (estimating m needs labels or EM).
M_PROBS = {"lang": 0.95, "source": 0.90, "band": 0.85, "head": 0.70}

BAND_CHARS = 32  # length-band width for the band field / blocking
MAX_BLOCK = 50  # blocks larger than this are excluded (see module doc)

_FIELDS = ("lang", "source", "band", "head")


def field_table(docs: DataFrame) -> DataFrame:
    """Typed comparison fields per record: language, source, 32-char
    length band, first normalized token (blocking salt), and the
    3-token normalized head. Map-only."""
    toks = dedup.tokens(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.floor(F.col("n_chars") / F.lit(BAND_CHARS))
        .cast("long")
        .alias("band"),
        toks.getItem(0).alias("tok1"),
        F.concat_ws(" ", F.slice(toks, 1, 3)).alias("head"),
    )


def u_probabilities(fields: DataFrame) -> DataFrame:
    """Chance-agreement probability per field as a 1-row frame:
    u_f = sum_v (n_v / N)^2, rounded to 9 dp. One skinny aggregate
    per field (value-cardinality-sized shuffle, map-side combined).

    Counts square-and-sum in DOUBLE: integer-valued doubles add
    exactly (and order-independently) while the partials stay under
    2^53, and a bigint product would overflow long before that."""
    out = None
    for f in _FIELDS:
        counts = fields.groupBy(f).agg(
            F.count("*").cast("double").alias("_n")
        )
        u = counts.agg(
            F.round(
                F.sum(F.col("_n") * F.col("_n"))
                / (F.sum("_n") * F.sum("_n")),
                9,
            ).alias(f"u_{f}")
        )
        out = u if out is None else out.crossJoin(F.broadcast(u))
    return out


def _blocked_pairs(
    fields: DataFrame, keys: list[str], max_block: int
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from one blocking rule: records
    sharing the key tuple, restricted to blocks of <= max_block
    records. The keep-list is a HAVING'd aggregate; candidates are an
    equi-self-join within kept blocks only."""
    kept = (
        fields.groupBy(*keys)
        .agg(F.count("*").alias("_c"))
        .where(F.col("_c") <= max_block)
        .drop("_c")
    )
    a = fields.join(kept, keys).select(
        *keys, F.col("doc_id").alias("doc_a")
    )
    b = fields.select(*keys, F.col("doc_id").alias("doc_b"))
    return a.join(b, keys).where(F.col("doc_a") < F.col("doc_b")).select(
        "doc_a", "doc_b"
    )


def candidate_pairs(fields: DataFrame, max_block: int) -> DataFrame:
    """The production candidate set: union of the three blocking
    rules, pair-deduped, each max_block-guarded.

      B1: equal non-empty 3-token head            — content-keyed;
      B2: equal (lang, length band, first token)  — structure keyed,
          salted with a content token, catches same-entity records
          whose head drifted after the first word;
      B3: equal (lang, source, length band)       — provenance keyed,
          catches records whose text drifted from the first word on
          (B3 pairs carry the source-agreement evidence, the highest
          per-field weight, so they are precisely the high-weight
          pairs B1/B2 would miss — found by linkage_blocking_recall).
    """
    b1 = _blocked_pairs(
        fields.where(F.col("head") != ""), ["head"], max_block
    )
    b2 = _blocked_pairs(fields, ["lang", "band", "tok1"], max_block)
    b3 = _blocked_pairs(fields, ["lang", "source", "band"], max_block)
    return b1.unionByName(b2).unionByName(b3).distinct()


def _fs_weight():
    """(agreement columns, match-weight column) over a frame carrying
    {field}_a / {field}_b pair fields and the broadcast u_{field}
    columns — the one scoring expression every consumer shares."""
    weight = F.lit(0.0)
    agrees = {}
    for f, m in M_PROBS.items():
        agree = F.col(f"{f}_a") == F.col(f"{f}_b")
        agrees[f] = agree
        u = F.col(f"u_{f}")
        weight = weight + F.when(agree, F.log2(F.lit(m) / u)).otherwise(
            F.log2(F.lit(1.0 - m) / (F.lit(1.0) - u))
        )
    return agrees, weight


def record_linkage_pairs(
    docs: DataFrame,
    threshold: float = 6.0,
    max_block: int = MAX_BLOCK,
) -> DataFrame:
    """Linked record pairs with their agreement vector and
    Fellegi-Sunter match weight.

    Candidates come from :func:`candidate_pairs` (three
    max_block-guarded blocking rules, unioned and pair-deduped).

    Returns (doc_a, doc_b, agree_lang, agree_source, agree_band,
    agree_head, match_weight) for pairs with weight >= threshold,
    doc_a < doc_b.
    """
    fields = field_table(docs)
    pair_ids = candidate_pairs(fields, max_block)
    cand = pair_ids.join(
        fields.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f).alias(f"{f}_a") for f in _FIELDS],
        ),
        "doc_a",
    ).join(
        fields.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f).alias(f"{f}_b") for f in _FIELDS],
        ),
        "doc_b",
    )
    scored = cand.crossJoin(F.broadcast(u_probabilities(fields)))
    agrees, weight = _fs_weight()
    return scored.select(
        "doc_a",
        "doc_b",
        agrees["lang"].alias("agree_lang"),
        agrees["source"].alias("agree_source"),
        agrees["band"].alias("agree_band"),
        agrees["head"].alias("agree_head"),
        F.round(weight, 6).alias("match_weight"),
    ).where(F.col("match_weight") >= threshold)


# --- EM parameter estimation (Winkler 1988) -------------------------

EM_INIT = {"lam": 0.1, "m": 0.9, "u": 0.1}
EM_ROUND = 9  # round every estimate each step: hash-exact replay


def agreement_patterns(docs: DataFrame, max_block: int = MAX_BLOCK):
    """Contingency table over the blocked candidate pairs: one row
    per agreement pattern (g_lang, g_source, g_band, g_head) with its
    pair count. At most 2^4 = 16 rows regardless of corpus size —
    the whole sufficient statistic of the FS mixture model."""
    fields = field_table(docs)
    pair_ids = candidate_pairs(fields, max_block)
    cand = pair_ids.join(
        fields.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f).alias(f"{f}_a") for f in _FIELDS],
        ),
        "doc_a",
    ).join(
        fields.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f).alias(f"{f}_b") for f in _FIELDS],
        ),
        "doc_b",
    )
    return cand.groupBy(
        *[
            (F.col(f"{f}_a") == F.col(f"{f}_b"))
            .cast("int")
            .alias(f"g_{f}")
            for f in _FIELDS
        ]
    ).agg(F.count("*").cast("long").alias("n_pairs"))


def _round_away(x: float, digits: int) -> float:
    """Round half AWAY from zero on the binary value: floor(|x|·10^d
    + 0.5) / 10^d with x's sign, DuckDB's round(double) formula
    (Python's built-in round() is half-to-even and diverges on
    boundaries)."""
    import math

    s = 10.0**digits
    return math.copysign(math.floor(abs(x) * s + 0.5) / s, x)


_NANO = 10**9
_CLAMP_LO = 1e-9
_CLAMP_HI = 1.0 - 1e-9


def _clamp01(x: float) -> float:
    """Clamp an estimated probability away from exact 0/1 (the Splink
    treatment): a field that agrees — or disagrees — in EVERY
    candidate pattern would otherwise drive an m or u to a hard
    boundary and the implied log2 weight to +/-inf. Clamped, such a
    field reads out m ~= u ~= 1 (or ~= 0) and carries ~zero evidence,
    which is the truthful statement."""
    return min(max(x, _CLAMP_LO), _CLAMP_HI)


def em_estimate(
    patterns: list,
    iters: int = 5,
) -> tuple[float, dict[str, float], dict[str, float]]:
    """Winkler EM over the (pattern, count) contingency rows: the
    two-class conditional-independence mixture whose M-step closed
    forms are the FS m/u definitions.

    Hash-exact replay discipline (the classifier-calibration lesson):
    each pattern's posterior is snapped to integer NANO-UNITS
    (floor(w*1e9 + 0.5)), all accumulation is exact integer
    arithmetic — order-independent by construction — and every
    lambda/m/u estimate re-enters the next iteration rounded to
    EM_ROUND digits via the half-away-from-zero formula DuckDB's
    round() uses, so the unrolled-SQL oracle replays identical
    doubles. Product order inside the posterior is the _FIELDS tuple
    order, left-associated, mirrored literally in the oracle SQL
    (FP multiplication is order-sensitive).

    Driver-side BY DESIGN: the sufficient statistic is <= 16 rows no
    matter the corpus, so iterating here costs nothing and keeps the
    distributed plan a single groupBy."""
    import math

    lam = EM_INIT["lam"]
    m = {f: EM_INIT["m"] for f in _FIELDS}
    u = {f: EM_INIT["u"] for f in _FIELDS}
    rows = [
        ({f: r[f"g_{f}"] for f in _FIELDS}, int(r["n_pairs"]))
        for r in patterns
    ]
    total_nano = sum(n for _, n in rows) * _NANO
    for _ in range(iters):
        num_m = {f: 0 for f in _FIELDS}
        num_u = {f: 0 for f in _FIELDS}
        w_sum = 0
        for g, n in rows:
            pm = lam
            pu = 1.0 - lam
            for f in _FIELDS:
                pm *= m[f] if g[f] else 1.0 - m[f]
                pu *= u[f] if g[f] else 1.0 - u[f]
            wn = int(math.floor(pm / (pm + pu) * _NANO + 0.5))
            w_sum += n * wn
            for f in _FIELDS:
                if g[f]:
                    num_m[f] += n * wn
                    num_u[f] += n * (_NANO - wn)
        lam = _clamp01(_round_away(w_sum / total_nano, EM_ROUND))
        m = {
            f: _clamp01(_round_away(num_m[f] / w_sum, EM_ROUND))
            for f in _FIELDS
        }
        u = {
            f: _clamp01(
                _round_away(num_u[f] / (total_nano - w_sum), EM_ROUND)
            )
            for f in _FIELDS
        }
    return lam, m, u


def em_params_table(docs: DataFrame, iters: int = 5) -> DataFrame:
    """UNSUPERVISED m/u estimation — the Splink 'training' step: run
    Winkler EM on the agreement-pattern contingency and read out, per
    field, the estimated m, u and the implied log2 evidence weights.
    Returns (field, m_est, u_est, w_agree, w_disagree, lambda_est)
    rounded to 6 dp (half-away — the DuckDB convention), ordered by
    field name."""
    import math

    spark = docs.sparkSession
    patterns = agreement_patterns(docs).collect()
    lam, m, u = em_estimate(patterns, iters=iters)
    out = [
        (
            f,
            _round_away(m[f], 6),
            _round_away(u[f], 6),
            _round_away(math.log2(m[f] / u[f]), 6),
            _round_away(math.log2((1.0 - m[f]) / (1.0 - u[f])), 6),
            _round_away(lam, 6),
        )
        for f in sorted(_FIELDS)
    ]
    return spark.createDataFrame(
        out,
        "field string, m_est double, u_est double, w_agree double, "
        "w_disagree double, lambda_est double",
    )


def blocking_recall_eval(
    docs: DataFrame,
    eval_max_id: int = 300,
    thresholds: tuple[float, ...] = (4.0, 6.0, 8.0),
    max_block: int = MAX_BLOCK,
) -> DataFrame:
    """Blocking-quality eval (the linkage counterpart of
    lsh_recall_eval): of all record pairs in a
    CONSTANT-SIZE eval slice (doc_id < eval_max_id) whose exact FS
    match weight clears each threshold, what fraction does the
    production blocked candidate path (union of max_block-guarded
    rules, computed over the FULL corpus) actually see?

    What it measures, honestly: both blocking misses (no rule keyed
    the pair together) AND guard misses (the pair's block exceeded
    max_block and was excluded). Ground truth is an all-pairs scored
    join WITHIN THE SLICE ONLY — an eval to run on a sample at
    scale, never the corpus (same contract as lsh_recall_eval);
    slice pairs score with the CORPUS u-probabilities, i.e. the
    exact weights the production query would assign.

    Returns (threshold, n_true, n_caught, recall) ordered by
    threshold; recall is NULL where the slice holds no true pair.
    """
    spark = docs.sparkSession
    fields = field_table(docs)
    sl = fields.where(F.col("doc_id") < eval_max_id)
    fa = sl.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f).alias(f"{f}_a") for f in _FIELDS],
    )
    fb = sl.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f).alias(f"{f}_b") for f in _FIELDS],
    )
    _, weight = _fs_weight()
    truth = (
        fa.join(F.broadcast(fb), F.col("doc_a") < F.col("doc_b"))
        .crossJoin(F.broadcast(u_probabilities(fields)))
        .select("doc_a", "doc_b", F.round(weight, 6).alias("w"))
    )
    cand = candidate_pairs(fields, max_block).withColumn(
        "caught", F.lit(True)
    )
    hit = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "w", F.coalesce("caught", F.lit(False)).alias("caught")
    )
    th = spark.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    n_caught = F.coalesce(
        F.sum(F.when(F.col("caught"), 1)), F.lit(0)
    ).cast("long")
    n_true = F.count(F.col("w")).cast("long")
    return (
        th.join(F.broadcast(hit), F.col("w") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            n_true.alias("n_true"),
            n_caught.alias("n_caught"),
            F.when(
                F.count(F.col("w")) > 0,
                F.round(
                    F.coalesce(F.sum(F.when(F.col("caught"), 1)), F.lit(0))
                    / F.count(F.col("w")).cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
        .orderBy("threshold")
    )
