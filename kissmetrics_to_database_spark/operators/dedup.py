"""Deduplication operators — exact and near-duplicate, at scale.

The reference's dedup is a stubbed all-columns-equal self-join DELETE
(reference: src/KissmetricsToDatabase.php:656-672, flag :348-351) plus
an md5 row fingerprint (:293). This module keeps that intent (exact
dedup) and adds the near-dup family a training-data pipeline needs:
MinHash+LSH, SimHash, and n-gram Jaccard verification.

Scale design:
- every operator is shuffle-minimal: exact dedup is one hash
  aggregation; MinHash is explode→groupBy (map-side combinable);
  LSH banding turns the quadratic all-pairs comparison into a
  groupBy on band keys, so only same-bucket docs are ever joined;
- all hashing is md5/sha2-based (built-in, codegen'd, and
  reproducible in any engine — no JVM-specific hash functions), so
  results are oracle-comparable;
- no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def dedup_exact(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """J3: keep one copy of each duplicate row (all-columns or subset).

    ``dropDuplicates`` compiles to a hash aggregation on the key
    columns — the distributed equivalent of the reference's
    all-columns-equal self-join delete, without the join.
    """
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def dedup_by_fingerprint(
    df: DataFrame,
    fingerprint_col: str = "md5hash",
    row_id_col: str | None = None,
) -> DataFrame:
    """Exact dedup on a precomputed row fingerprint (md5hash, P5).

    Kept row per fingerprint = the lexicographically minimal row
    (deterministic; same choice the previous window formulation made),
    computed as a hash **aggregation**, never a per-key sort:

    - default: ``groupBy(fp).agg(min(struct(*cols)))`` then unpack the
      struct. Partial aggregation (map-side combine) means each map
      task ships at most one candidate row per fingerprint into the
      shuffle — with duplicates present the shuffle payload shrinks by
      the duplication factor, and no full-row sort ever runs.
    - with ``row_id_col`` (a unique id): the shuffle is pruned to
      ``(fingerprint, min(row_id))`` — two slim columns regardless of
      row width — then a left-semi join on the id restores the
      surviving rows. At 100 TB on wide event rows this is the plan to
      pick: the wide columns never enter a shuffle at all (the semi
      join's probe side streams map-local).
    """
    if row_id_col is not None:
        keep = df.groupBy(fingerprint_col).agg(
            F.min(row_id_col).alias(row_id_col)
        ).select(row_id_col)
        return df.join(keep, on=row_id_col, how="left_semi")
    other = [c for c in df.columns if c != fingerprint_col]
    if not other:
        return df.dropDuplicates([fingerprint_col])
    packed = df.groupBy(fingerprint_col).agg(
        F.min(F.struct(*other)).alias("_row")
    )
    return packed.select(fingerprint_col, "_row.*").select(*df.columns)


def tokens(text_col, lowercase: bool = True):
    """Whitespace tokenization as an array column."""
    c = F.lower(text_col) if lowercase else text_col
    return F.split(F.trim(c), TOKEN_SPLIT_RE)


def distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) rows — the token-set representation used by
    MinHash / Jaccard. Distinct per doc (set semantics)."""
    return (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, _toks) where _toks = the doc's *distinct* ``n``-token
    shingle set as an array column — the zero-shuffle representation.

    Shingles (word n-grams) are the standard near-dup unit: unigram
    sets collide across any documents sharing vocabulary, while
    n-gram shingles are selective for copied *passages*. Built with
    ``transform`` over a token-index sequence — one projection, no
    join, no UDF. Docs shorter than ``n`` tokens contribute their full
    token sequence as a single shingle; docs with no shingles are
    dropped (matching the exploded form, which yields no rows).

    Set semantics come from ``array_distinct`` *inside the row* —
    at 100 TB this replaces a full-corpus ``distinct()`` shuffle with
    per-row work, which is why every signature below can be computed
    without shuffling the corpus at all.

    The tokenization is projected to a real column in a separate step:
    referencing the split expression directly inside the higher-order
    lambda defeats subexpression elimination and re-tokenizes the text
    once per shingle (measured 5x slower at sf0.1).
    """
    tok_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))
    shingles = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_t") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i + 1, n)),
            ),
            lambda s: s != "",
        )
    )
    return tok_df.select(F.col(id_col), shingles.alias("_toks")).where(
        F.size("_toks") > 0
    )


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, token) shingle rows WITH per-doc duplicates — the cheap
    form for duplicate-insensitive consumers.

    MinHash signatures are min() aggregates, so repeated shingles
    cannot change them, and the per-doc window below leaves the data
    hash-partitioned on the doc id, so a signature groupBy over this
    form runs without any further shuffle. NOTE: for repetitive
    corpora this is NOT the fast signature path — see
    :func:`minhash_lsh_dedup_pairs` for the measurement showing
    distinct-first wins (fewer md5 evaluations dominate the saved
    exchange). Set-semantics consumers (Jaccard) must ``.distinct()``.
    """
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "_tk"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = ["_tk"] + [F.lead("_tk", j).over(w) for j in range(1, n)]
    return (
        tok.select(
            F.col(id_col),
            "pos",
            F.concat_ws(" ", *parts).alias("token"),
            F.count("*").over(Window.partitionBy(id_col)).alias("_sz"),
        )
        .where(
            (F.col("pos") <= F.greatest(F.col("_sz") - n, F.lit(0)))
            & (F.col("token") != "")
        )
        .select(F.col(id_col), "token")
    )


def distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(id, token) rows where token = a distinct ``n``-token shingle.

    Formulation: posexplode the token array, then build each shingle
    as ``concat_ws(token, lead(1), …, lead(n-1))`` over a per-doc
    window — every operator (explode, window, concat) is codegen'd.
    Measured 4-6× faster at sf0.1 than constructing the shingle array
    with higher-order ``transform``+``slice`` lambdas, which are
    interpreted per element (see :func:`shingle_arrays` for that
    zero-shuffle alternate — worth it only when the cluster is
    shuffle-bound rather than CPU-bound).

    Docs shorter than ``n`` tokens contribute their full token
    sequence as one shingle (``concat_ws`` skips the null leads and
    the pos filter keeps only pos 0).
    """
    return exploded_shingles(df, id_col, text_col, n).distinct()


def minhash_wide_tokens(
    tok_df: DataFrame, id_col: str, num_hashes: int = 8
) -> DataFrame:
    """MinHash signatures (_mh0.._mhN wide) via the split-one-hash
    family: ONE md5 per token; seed s reads hex chars [4s+1 .. 4s+4]
    (16 bits) of that digest.

    This is the fast path and the one the pipeline uses:
    - 1 md5 per token instead of num_hashes (8× fewer digests);
    - min() aggregates over constant-position substrings are fully
      whole-stage-codegen'd (measured: higher-order-function lambdas
      over the shingle array are *interpreted* per element and lose
      despite avoiding the shuffle — see ``minhash_wide``);
    - one groupBy shuffling a single narrow (id, md5) row per token.
    16-bit hash slices are standard for MinHash-LSH (collisions only
    bias the signature toward agreement; the exact-Jaccard verify
    step restores precision).

    Discriminative bound (ADVICE r01 #3): with D distinct shingles
    per doc, the expected per-seed minimum is ~2^16/D, so slices stay
    informative while D ≪ 2^16 (≈65k shingles ≈ a ~400 KB document).
    Beyond that the minima saturate toward 0x0000 across long docs and
    band buckets over-collide — candidate-pair volume (and hence the
    exact-Jaccard verify join) inflates, though correctness is
    unaffected because the verify step filters false candidates.
    Pipelines over very long documents should split them into
    fixed-length chunks first or widen the slices at the cost of
    oracle-portability of the hash family.
    """
    assert num_hashes * 4 <= 32
    h = tok_df.withColumn("_h", F.md5(F.col("token")))
    mins = [
        F.min(F.substring("_h", 4 * s + 1, 4)).alias(f"_mh{s}")
        for s in range(num_hashes)
    ]
    return h.groupBy(id_col).agg(*mins)


def minhash_signatures(
    token_df_or_arrays: DataFrame,
    id_col: str,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signatures in long format (doc, seed, minhash).

    Accepts either the array form (from :func:`shingle_arrays`, the
    zero-shuffle path) or the exploded (id, token) form (aggregated
    with one groupBy).
    """
    tok = token_df_or_arrays
    if "_toks" in tok.columns:
        tok = tok.select(F.col(id_col), F.explode("_toks").alias("token"))
    wide = minhash_wide_tokens(tok, id_col, num_hashes)
    stack_expr = "stack({n}, {args}) as (seed, minhash)".format(
        n=num_hashes,
        args=", ".join(f"{s}, _mh{s}" for s in range(num_hashes)),
    )
    return wide.select(id_col, F.expr(stack_expr))


def band_keys_wide(
    wide: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, band_key) rows from wide MinHash signatures.

    band id = seed // rows_per_band; band key = md5 of the ordered
    minhashes in the band — a pure projection off the wide columns
    (no shuffle). This is the LSH index representation: the pairwise
    path equi-joins it against itself (:func:`lsh_candidate_pairs_wide`)
    and the incremental-ingest path equi-joins a new batch's keys
    against a persisted corpus index, so arriving data is deduped
    against 100 TB of history without ever rescanning it.
    """
    n_bands = -(-num_hashes // rows_per_band)  # ceil: short final band
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"_mh{s}")
                        for s in range(
                            i * rows_per_band,
                            min((i + 1) * rows_per_band, num_hashes),
                        )
                    ],
                )
            ).alias("band_key"),
        )
        for i in range(n_bands)
    ]
    return wide.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_b")
    ).select(
        id_col, F.col("_b.band").alias("band"), F.col("_b.band_key").alias("band_key")
    )


def lsh_candidate_pairs_wide(
    wide: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH banding from wide signatures: docs sharing any band bucket
    become candidates.

    band id = seed // rows_per_band; band key = md5 of the ordered
    minhashes in the band — computed as a projection straight off the
    wide columns (no groupBy). Output: (id_a, id_b) with id_a < id_b,
    distinct. The bucket equi-join replaces the O(n²) comparison — at
    100 TB the bucket sizes, not the corpus size, bound the join, and
    the only shuffled payload is (doc id, band key).

    When ``num_hashes`` is not a multiple of ``rows_per_band`` the
    trailing seeds form a final short band — the same grouping as
    ``seed // rows_per_band`` (and the DuckDB oracle), so no seed is
    ever silently dropped (ADVICE r01 #2).
    """
    bands = band_keys_wide(wide, id_col, num_hashes, rows_per_band)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(
    token_df: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact token-set Jaccard for (candidate) pairs.

    |A∩B| via a token equi-join, |A∪B| = |A|+|B|-|A∩B|. When
    ``candidates`` is given (from LSH) the join is semi-restricted to
    those pairs; otherwise all same-token pairs are scored (only safe
    at small scale). Scores are rounded to 6 decimals so cross-engine
    float summation order can't flip a comparison.

    ``candidates`` may hold a pair in either order, more than once, or
    a doc paired with itself: each pair is scored once as
    ``id_a < id_b`` and self-pairs are dropped.
    """
    sizes = token_df.groupBy(id_col).agg(F.count("*").alias("n"))
    ta = token_df.select(F.col(id_col).alias("id_a"), "token")
    tb = token_df.select(F.col(id_col).alias("id_b"), "token")
    if candidates is not None:
        # PAIR-centric verification (r14 optimization round, guide
        # §2.3 — shuffle fewer bytes): intersect each candidate
        # pair's token sets directly — pairs ⨝ A-side tokens, then
        # an equi-join on (id_b, token). The former doc-level
        # prefilter ran the token SELF-join over every same-token
        # doc pair among candidate DOCS and only then semi-joined to
        # candidate pairs: measured at sf1.0, 210k candidate pairs
        # produced a 133.6M-row same-token intermediate (×640
        # waste, Σ df_a·df_b vs |pairs|·|tokens/doc| ≈ 11M).
        # Identical output: same |A∩B| per candidate pair;
        # zero-intersection pairs are absent either way.
        pairs = (
            candidates.select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .where(F.col("id_a") != F.col("id_b"))
            .distinct()
        )
        inter = (
            pairs.join(ta, "id_a")
            .join(tb, ["id_b", "token"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        inter = (
            ta.join(tb, "token")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash→LSH→Jaccard-verify near-dup pipeline.

    Returns (id_a, id_b, jaccard) for verified near-duplicate pairs.

    Why distinct-FIRST (measured, sf0.1): feeding the signature path
    non-distinct shingles looks like it saves the (id, token) distinct
    exchange — MinHash mins are duplicate-insensitive — but loses 2.5×
    (1.7 s → 4.4 s warm) because (a) repetitive documents carry heavy
    within-doc shingle duplication, so distinct-first means one md5
    per distinct shingle instead of per instance, and (b) Spark's
    aggregate-based ``distinct()`` partially dedupes map-side before
    the exchange anyway, so the shuffle being "saved" was already
    small. The persisted distinct set is then shared by the signature
    and verify paths.
    """
    tok = distinct_shingles(df, id_col, text_col).persist()
    wide = minhash_wide_tokens(tok, id_col, num_hashes)
    cand = lsh_candidate_pairs_wide(wide, id_col, num_hashes, rows_per_band).persist()
    # materialize the (small) verified-pair result so the shingle and
    # candidate caches can be released immediately instead of leaking
    # for the session's lifetime
    result = jaccard_pairs(tok, id_col, cand, threshold).localCheckpoint(eager=True)
    tok.unpersist()
    cand.unpersist()
    return result


def corpus_ingest_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Build the two index tables incremental-ingest dedup probes:
    the distinct normalized-text fingerprint set and the distinct
    MinHash LSH (band, band_key) set.

    At scale these are persisted tables maintained alongside the
    corpus (append a batch's keys after it is admitted); they are the
    reason arriving data can be deduped against 100 TB of history
    with two key equi-joins instead of any rescan.
    """
    fp = docs.select(F.md5(F.trim(F.lower(text_col))).alias("fp")).distinct()
    tok = distinct_shingles(docs, id_col, text_col)
    wide = minhash_wide_tokens(tok, id_col, num_hashes)
    bands = (
        band_keys_wide(wide, id_col, num_hashes, rows_per_band)
        .select("band", "band_key")
        .distinct()
    )
    return fp, bands


def ingest_verdicts(
    batch: DataFrame,
    fp_index: DataFrame,
    band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Classify an arriving batch against a corpus index as
    exact_dup / near_dup / new.

    Shared verbatim by the batch catalog query
    (``incremental_ingest_dedup``) and the streaming ingest path
    (``streaming.pipeline.stream_ingest_dedup`` runs it per
    micro-batch inside foreachBatch), so both paths cannot drift.
    Exact probe: batch fingerprints ⋈ fp_index. Near probe: batch LSH
    band keys ⋈ band_index. Both joins are batch-sized on the probe
    side — broadcastable when the micro-batch is small.
    """
    fp = batch.select(
        F.col(id_col), F.md5(F.trim(F.lower(text_col))).alias("fp")
    )
    exact_hit = fp.join(fp_index, "fp").select(id_col).distinct()
    tok = distinct_shingles(batch, id_col, text_col)
    wide = minhash_wide_tokens(tok, id_col, num_hashes)
    bands = band_keys_wide(wide, id_col, num_hashes, rows_per_band)
    near_hit = (
        bands.join(band_index, ["band", "band_key"]).select(id_col).distinct()
    )
    return (
        batch.select(id_col)
        .join(exact_hit.withColumn("_e", F.lit(1)), id_col, "left")
        .join(near_hit.withColumn("_n", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_e").isNotNull(), "exact_dup")
            .when(F.col("_n").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("verdict"),
        )
    )


def near_dup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Cluster verified near-dup pairs into components and elect a
    canonical document per cluster (the min member id).

    This is the step that turns *pairs* into a usable dedup decision:
    near-duplication is not transitive (A~B, B~C does not imply A~C),
    but corpus curation needs a partition, so the standard practice
    (MinHash-LSH dedup as in web-scale corpus pipelines) is to take
    connected components of the verified-pair graph and keep one doc
    per component. Reuses the identity-resolution CC engine (SURVEY
    §2.3 J4 — the same algorithm the reference applies to user
    aliases, applied to documents; reference intent:
    src/KissmetricsToDatabase.php:506-559).

    Returns ``(doc_id, canonical_id)`` for every doc that appears in
    at least one pair. Docs in no pair are their own canonical by
    definition and are not emitted (callers left-join + coalesce).
    At 100 TB the verified-pair graph is orders of magnitude smaller
    than the corpus, so the CC loop runs on a tiny edge set.
    """
    from kissmetrics_to_database_spark.operators.identity import (
        connected_components,
    )

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    comp = connected_components(edges)
    return comp.select(
        F.col("member").alias("doc_id"),
        F.col("component_id").alias("canonical_id"),
    )


def _hex_digit_val(c):
    """Hex char → 0..15 via position in the hex alphabet (portable —
    the same expression works in ANSI SQL as strpos)."""
    return F.instr(F.lit("0123456789abcdef"), c) - 1


def simhash(token_df: DataFrame, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash over the token set, ``bits`` wide (default 32).

    For bit position p of md5(token)'s leading hex digits: each token
    votes +1/-1; the output bit is 1 iff the vote sum is positive.
    Entirely integer arithmetic on hex digits → engine-portable and
    exactly oracle-comparable (no platform hash involved).

    Shape: ONE groupBy(doc) over the (doc, md5) token rows, computing
    all ``bits`` vote sums as parallel agg expressions with *constant*
    bit positions — every substring/floor/when stays inside
    whole-stage codegen, and the shuffle carries one narrow row per
    token (not token × bits rows like an explode-by-bit would, and
    not interpreted per-element lambdas like the higher-order-function
    formulation in :func:`simhash_from_arrays`; both measured slower
    at sf0.1).

    ``bits`` ≤ 62: the signature packs into a single signed LongType
    and ``1 << p`` must stay representable (ADVICE r01 #1). Wider
    signatures would need an array-of-longs packing.
    """
    assert bits % 4 == 0 and bits <= 62, "single-long packing: bits <= 62"
    h = token_df.withColumn("md5h", F.md5(F.col("token")))

    def _bit(p: int) -> F.Column:
        digit = _hex_digit_val(F.substring("md5h", p // 4 + 1, 1))
        return F.floor(digit / F.lit(2 ** (p % 4))).cast("long") % 2

    votes = [
        F.sum(F.when(_bit(p) == 1, 1).otherwise(-1)).alias(f"_v{p}")
        for p in range(bits)
    ]
    agg = h.groupBy(id_col).agg(*votes)
    packed = None
    for p in range(bits):
        term = F.when(F.col(f"_v{p}") > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = term if packed is None else packed + term
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_from_arrays(
    arr_df: DataFrame, id_col: str, bits: int = 32, tok_col: str = "_toks"
) -> DataFrame:
    """SimHash computed as a pure projection over the shingle array —
    same bit-for-bit output as :func:`simhash`, zero shuffle.

    One ``aggregate`` folds the per-token ±1 votes into a
    ``bits``-wide accumulator via ``zip_with`` (integer adds —
    order-independent, so partitioning can't change the result), then
    a second fold packs sign bits into the simhash long. The exploded
    formulation shuffles corpus_tokens × bits rows through a groupBy;
    this shuffles nothing.

    ``bits`` ≤ 52: this variant packs via ``pow(2, p).cast('long')``,
    which is exact only within double-precision mantissa range
    (ADVICE r01 #1).
    """
    assert bits % 4 == 0 and bits <= 52, "pow-based packing: bits <= 52"

    def _token_votes(h):
        # h = md5 hex string; vote per bit position p: +1 if bit set else -1
        return F.transform(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda p: F.when(
                F.floor(
                    _hex_digit_val(F.substring(h, (p / 4).cast("int") + 1, 1))
                    / F.pow(F.lit(2), p % 4)
                ).cast("long")
                % 2
                == 1,
                1,
            ).otherwise(-1),
        )

    md5s = F.transform(F.col(tok_col), lambda t: F.md5(t))
    votes = F.aggregate(
        md5s,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, _token_votes(h), lambda a, b: a + b),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, p: F.when(v > 0, F.pow(F.lit(2), p).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return arr_df.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pairing strategy: split the simhash into ``max_hamming + 1``
    blocks and join on each block (pigeonhole: ≤ h differing bits
    across h+1 blocks ⇒ at least one block is identical, so recall
    for hamming ≤ max_hamming is exact). Verify candidates with
    bit_count(xor). This is the standard multi-table SimHash index —
    each block join is an equi-join on a small integer key, never a
    cross join, so it scales to full-corpus dedup.

    Plan shape (r14 optimization round, guide §2.4): the h+1 block
    tables are ONE exploded (block_index, block_value) table and the
    candidate join is ONE self equi-join on that composite key —
    the previous per-block formulation ran h+1 separate self-joins
    (each its own pair of exchanges) and unioned them. Same pair
    set: a pair sharing block i surfaces from the (i, value) key
    exactly as it did from join i, and the same ``distinct`` folds
    multi-block collisions.
    """
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    sh = simhash(distinct_shingles(df, id_col, text_col), id_col, bits).persist()
    blocked = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.shiftright(F.col("simhash"), i * block_bits)
                        .bitwiseAND((1 << block_bits) - 1)
                        .alias("bv"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "simhash", "blk.bi", "blk.bv")
    a = blocked.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "bi",
        "bv",
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "bi",
        "bv",
    )
    pairs = (
        a.join(b, ["bi", "bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    result = (
        pairs.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return result


def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """(id, pos, token) rows — every ``n``-token span WITH its start
    position (NOT distinct: span-level dedup needs every occurrence).
    Same window-lead formulation as :func:`distinct_shingles`."""
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "_tk"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = ["_tk"] + [F.lead("_tk", j).over(w) for j in range(1, n)]
    return (
        tok.select(
            F.col(id_col),
            "pos",
            F.concat_ws(" ", *parts).alias("token"),
            F.count("*").over(Window.partitionBy(id_col)).alias("_sz"),
        )
        .where(
            (F.col("pos") <= F.greatest(F.col("_sz") - n, F.lit(0)))
            & (F.col("token") != "")
        )
        .select(F.col(id_col), "pos", "token")
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_dup_ratio: float = 0.5,
) -> DataFrame:
    """C4-style global span dedup: any ``n``-token span occurring more
    than once in the corpus keeps only its FIRST occurrence (min
    (doc, position)); all other occurrences count as duplicated. Emits
    per-doc span counts, the duplicated-span ratio, and a ``keep``
    verdict at ``max_dup_ratio`` — the corpus-level complement of the
    pairwise MinHash path (catches boilerplate repeated across MANY
    docs, which pairwise near-dup scoring under-weights).

    Scale shape: one hash exchange on md5(span) — a 32-byte key,
    never the span text — computing the per-span occurrence count
    and first-occurrence winner as WINDOW aggregates over that one
    partitioning (r14 optimization round, guide §2.4/§1.2: the
    former groupBy + equi-join-back shape ran the span-extraction
    kernel twice, once under each exchange, and paid the join; the
    window computes the identical min(struct(doc,pos))/_occ per row
    in one pass). No window over the corpus as a single partition,
    no all-pairs anything; cost is two shuffles of narrow rows.
    """
    spans = positional_shingles(df, id_col, text_col, n).select(
        F.col(id_col), "pos", F.md5("token").alias("_h")
    )
    wh = Window.partitionBy("_h")
    joined = spans.select(
        F.col(id_col),
        "pos",
        F.count("*").over(wh).alias("_occ"),
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        ).over(wh).alias("_w"),
    ).select(
        F.col(id_col),
        (
            (F.col("_occ") > 1)
            & ~((F.col("_w.d") == F.col(id_col)) & (F.col("_w.p") == F.col("pos")))
        ).cast("long").alias("_dup"),
    )
    agg = joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("_dup").cast("long").alias("n_dup_spans"),
    )
    ratio = F.round(F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6)
    return agg.select(
        id_col,
        "n_spans",
        "n_dup_spans",
        ratio.alias("dup_ratio"),
        (ratio <= max_dup_ratio).alias("keep"),
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_bits: int = 5,
) -> DataFrame:
    """Content-defined chunking (gear/Rabin-style, token granularity):
    a token ENDS a chunk when its md5 bucket has the low ``mask_bits``
    bits zero — expected chunk length ``2^mask_bits`` tokens,
    geometric distribution.

    Why content-defined instead of fixed windows: the boundary
    decision is LOCAL to each token, so inserting or deleting text
    shifts only the chunk containing the edit — every downstream
    chunk hash is unchanged (pinned in tests). Fixed-stride spans
    (`span_dedup_stats`) lose all alignment after one insertion; CDC
    is the primitive storage dedup and shift-robust corpus dedup are
    built on.

    Returns (id, chunk_idx, n_tokens, chunk_text, chunk_hash,
    dup_occurrences) where dup_occurrences counts the chunk_hash
    across the WHOLE corpus.

    Plan: boundary flags are per-row expressions (md5 bucket, no
    state); chunk assignment is one running sum over the per-doc
    window — the same doc-keyed shuffle every text operator uses;
    chunk assembly is sort_array(collect_list(struct(pos, token)))
    inside the doc partition; the corpus-wide occurrence count is a
    window partitioned BY CHUNK HASH (hash-partitioned, never a
    single-task exchange). No joins at all.
    """
    n_buckets = 1 << mask_bits
    tok = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "term"),
    ).where(F.col("term") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 2), 16, 10)
        .cast("int")
        % n_buckets
    )
    flag = (bucket == 0).cast("long")
    w = Window.partitionBy(id_col).orderBy("pos")
    with_idx = tok.select(
        F.col(id_col),
        "pos",
        "term",
        (F.sum(flag).over(w) - flag).alias("chunk_idx"),
    )
    chunks = (
        with_idx.groupBy(id_col, "chunk_idx")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "term"))
                    ),
                    lambda s: s["term"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .withColumn("chunk_hash", F.md5("chunk_text"))
    )
    occ = Window.partitionBy("chunk_hash")
    return chunks.select(
        id_col,
        "chunk_idx",
        "n_tokens",
        "chunk_text",
        "chunk_hash",
        F.count("*").over(occ).cast("long").alias("dup_occurrences"),
    )


def cdc_dedup_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_bits: int = 5,
) -> DataFrame:
    """CDC-based corpus rewrite: the dedup ACTION on top of
    :func:`cdc_chunks` (VERDICT r4 item 6 — the chunker counted
    duplicates but nothing consumed them).

    Per chunk_hash the corpus-wide FIRST occurrence wins — minimum
    (id, chunk_idx), the same deterministic winner rule as span
    dedup — and every other occurrence is dropped. Each document is
    reassembled from its surviving chunks in order, and the bytes
    reclaimed are reported against the normalized original
    (whitespace-normalized text == all chunks joined, so the
    accounting is exact, not estimated).

    Returns one row per document: (id, n_chunks, n_kept,
    deduped_text, bytes_saved).

    Plan shape: cdc_chunks' per-doc window + doc rollup, plus ONE
    window partitioned by chunk_hash for the winner (hash-partitioned
    across reducers — a hot chunk costs one cell, never a
    single-task exchange) and ONE doc-keyed rollup for reassembly.
    No joins; scales exactly like the chunker itself.
    """
    chunks = cdc_chunks(df, id_col, text_col, mask_bits).select(
        id_col, "chunk_idx", "chunk_text", "chunk_hash"
    )
    w = Window.partitionBy("chunk_hash")
    winner = F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).over(w)
    flagged = chunks.withColumn(
        "_keep",
        (F.col(id_col) == winner[id_col])
        & (F.col("chunk_idx") == winner["chunk_idx"]),
    )
    items = F.sort_array(
        F.collect_list(F.struct("chunk_idx", "_keep", "chunk_text"))
    )
    full = F.array_join(F.transform(items, lambda s: s["chunk_text"]), " ")
    kept = F.array_join(
        F.transform(
            F.filter(items, lambda s: s["_keep"]),
            lambda s: s["chunk_text"],
        ),
        " ",
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.col("_keep").cast("long")).alias("n_kept"),
            full.alias("_full"),
            kept.alias("deduped_text"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_kept",
            "deduped_text",
            (F.octet_length("_full") - F.octet_length("deduped_text"))
            .cast("long")
            .alias("bytes_saved"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): from each window of ``w``
    consecutive ``k``-gram hashes, select the MINIMUM (rightmost on
    ties), then dedup — a guaranteed-density sample of the document's
    k-gram set that two documents sharing any run of ≥ w+k-1 tokens
    are guaranteed to sample identically. This catches CONTAINMENT
    (one doc embedding a chunk of another) that whole-document
    MinHash misses.

    Hashes are md5 12-hex prefixes compared AS STRINGS — min over hex
    strings is total, engine-portable, and avoids hex→int conversion
    that DuckDB can't replay.

    Returns distinct (id, fp) rows. Plan (r14 optimization round,
    guide §2.4 — remove shuffles outright): the token stream gains
    k-grams via ``lead`` in the per-doc window (the shingle shape);
    each window's winner is a SLIDING-FRAME min —
    ``min(struct(hash, -pos)) OVER (partition doc ORDER BY pos ROWS
    BETWEEN CURRENT ROW AND w-1 FOLLOWING)`` evaluated at the
    window's first k-gram — which shares the existing doc-keyed
    exchange and sort instead of the former w× sequence+explode row
    expansion plus a second (doc, window-start) groupBy exchange;
    the final distinct is per (doc, fp). Winner selection is
    bit-equal: the same min over the same struct over the same w
    hashes per window (rightmost-on-ties via -pos). All codegen'd;
    ONE doc-keyed shuffle + the (doc, fp) distinct.
    """
    tok = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("p0", "term"),
    ).where(F.col("term") != "")
    dw = Window.partitionBy(id_col).orderBy("p0")
    idx = tok.select(
        F.col(id_col),
        F.row_number().over(dw).alias("i"),
        F.col("term"),
    )
    # k-gram at i: terms i..i+k-1 joined by space (null-padded leads
    # filtered out at the edge of the doc)
    grams = idx.select(
        id_col,
        "i",
        F.concat_ws(
            " ", F.col("term"),
            *[F.lead("term", j).over(Window.partitionBy(id_col).orderBy("i")) for j in range(1, k)],
        ).alias("kg"),
        F.lead("term", k - 1).over(
            Window.partitionBy(id_col).orderBy("i")
        ).isNotNull().alias("_full"),
    ).where(F.col("_full"))
    hashed = grams.select(
        id_col, "i", F.substring(F.md5("kg"), 1, 12).alias("h"),
        F.count("*").over(Window.partitionBy(id_col)).alias("_n"),
    )
    # window s (s = 1 .. n-w+1) covers k-grams i in [s, s+w-1]; its
    # winner is the frame min over the w k-grams starting at i = s —
    # same partitioning/order as the k-gram window, so no new
    # exchange and no w× row expansion (the former sequence+explode
    # + (doc, s) groupBy shape computed the identical min per s)
    frame = (
        Window.partitionBy(id_col)
        .orderBy("i")
        .rowsBetween(Window.currentRow, w - 1)
    )
    winners = (
        hashed.where(F.col("_n") >= w)
        .select(
            id_col,
            "i",
            "_n",
            F.min(
                F.struct(F.col("h"), (-F.col("i")).alias("ni"))
            ).over(frame).alias("_m"),
        )
        .where(F.col("i") <= F.col("_n") - F.lit(w - 1))
        .select(id_col, F.col("_m.h").alias("fp"))
        .distinct()
    )
    return winners


def winnow_containment(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    max_doc_freq: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Containment detection over winnowing fingerprints: for ordered
    doc pairs, |FP_a ∩ FP_b| / |FP_a| — near 1.0 when doc ``a`` is
    (mostly) contained in ``b`` even if ``b`` is much larger.

    Fingerprints appearing in more than ``max_doc_freq`` documents are
    dropped BEFORE the pair join (MOSS's boilerplate suppression):
    at corpus scale a boilerplate k-gram is a quadratic hot key, and
    it carries no containment signal. The join is an equi-join on fp,
    cost Σ df(fp)² over surviving fingerprints — bounded by the cap.
    """
    fps = winnow_fingerprints(df, k=k, w=w, id_col=id_col, text_col=text_col)
    dfreq = Window.partitionBy("fp")
    # The rare-fingerprint table feeds THREE consumers (per-doc sizes
    # plus both sides of the pair join), and only the join sides sit
    # under reusable same-key exchanges — the sizes branch re-ran the
    # whole winnowing kernel (posexplode + three windows + distinct).
    # Materialize it once (r14 optimization round, guide §5); it is
    # the winnowed SAMPLE of the corpus, ≪ the token stream. The
    # quadratic hot-key risk in the join stays bounded by the
    # max_doc_freq cap itself (≤ cap² pairs per fingerprint), which
    # is MOSS's own boilerplate suppression — no salting needed.
    rare = (
        fps.withColumn("_df", F.count("*").over(dfreq))
        .where(F.col("_df") <= max_doc_freq)
        .select(id_col, "fp")
        .localCheckpoint(eager=True)
    )
    sizes = rare.groupBy(id_col).agg(F.count("*").cast("long").alias("n_fp"))
    a = rare.select(F.col(id_col).alias("doc_a"), "fp")
    b = rare.select(F.col(id_col).alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed(id_col, "doc_a"), "doc_a"
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.round(F.col("shared") / F.col("n_fp"), 6).alias("containment"),
        )
    )


def lsh_recall_eval(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    rows_per_band: int = 2,
    thresholds: tuple[float, ...] = (0.5, 0.6, 0.7, 0.8),
) -> DataFrame:
    """Index-quality eval for the LSH dedup path: per Jaccard
    threshold, what fraction of the EXACT near-dup pairs does the banded-LSH
    candidate set recover?

    recall(t) = |{exact pairs ≥ t} ∩ candidates| / |{exact pairs ≥ t}|

    Recall rises with t by construction (the S-curve: a (bands, rows)
    scheme catches high-similarity pairs with probability
    1-(1-s^r)^b), so the row at the operating threshold tells you
    whether to re-band. Exact ground truth is the all-pairs token
    join — an EVAL to run on a sample at scale, never the corpus.

    Returns (threshold, n_true, n_caught, recall) ordered by
    threshold.
    """
    tok = distinct_shingles(df, id_col, text_col).persist()
    wide = minhash_wide_tokens(tok, id_col, num_hashes)
    cand = lsh_candidate_pairs_wide(wide, id_col, num_hashes, rows_per_band)
    truth = jaccard_pairs(tok, id_col, None, min(thresholds))
    flagged = truth.join(
        cand.withColumn("_c", F.lit(1)), ["id_a", "id_b"], "left"
    ).select("jaccard", F.coalesce("_c", F.lit(0)).alias("_c"))
    per_t = flagged.select(
        "jaccard",
        "_c",
        F.explode(
            F.array(*[F.lit(float(t)) for t in thresholds])
        ).alias("threshold"),
    ).where(F.col("jaccard") >= F.col("threshold"))
    out = (
        per_t.groupBy("threshold")
        .agg(
            F.count("*").cast("long").alias("n_true"),
            F.sum("_c").cast("long").alias("n_caught"),
        )
        .select(
            "threshold",
            "n_true",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_true"), 6).alias("recall"),
        )
        .orderBy("threshold")
    )
    result = out.localCheckpoint(eager=True)
    tok.unpersist()
    return result


def _positional_kgram_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, gram_hash) for every STRICT ``k``-token gram (grams
    shorter than ``k`` — doc tails, short docs — are excluded; exact
    substring semantics need full-length runs only). Same window-lead
    formulation as :func:`positional_shingles`, one doc-keyed shuffle;
    only the 32-hex md5 of the gram travels downstream, never text."""
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "_tk"),
    ).where(F.col("_tk") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("_tk")] + [F.lead("_tk", j).over(w) for j in range(1, k)]
    return (
        tok.select(
            F.col(id_col),
            "pos",
            F.concat_ws(" ", *parts).alias("_g"),
            F.lead("_tk", k - 1).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select(F.col(id_col), "pos", F.md5("_g").alias("gram_hash"))
    )


def _removed_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Token positions covered by a duplicated ``k``-gram occurrence
    that is NOT the corpus-wide first (min (doc, pos)) occurrence of
    its gram — the removal set of Lee et al. 2021-style exact
    substring dedup. Distinct (id, cpos) rows.

    Plan (r14 optimization round, guide §2.4/§1.2): ONE hash
    exchange on the 32-hex gram hash, with the corpus-wide
    min(struct(doc, pos)) winner and occurrence count computed as
    whole-partition WINDOW aggregates over that exchange — the
    former groupBy + equi-join-back shape ran the gram-extraction
    kernel (posexplode + per-doc lead windows) once under EACH
    exchange subtree and shuffled the occurrences a second time for
    the join; measured 1.8-2.7 s vs 1.3 s on the sibling span_dedup
    shape at sf0.1. Output rows == occurrences — LINEAR, no pair
    explosion (a gram occurring N times costs N rows, never N²),
    then a k-row positional explode. Skew note: an extreme
    boilerplate gram now lands in one window task (AQE skew
    splitting applies to joins only); if that ever dominates, the
    two-level salted pre-aggregation is the fallback — at the
    tested scales the single exchange wins."""
    grams = _positional_kgram_hashes(df, id_col, text_col, k)
    wh = Window.partitionBy("gram_hash")
    removable = grams.select(
        F.col(id_col),
        "pos",
        F.count("*").over(wh).alias("_occ"),
        F.min(
            F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
        ).over(wh).alias("_w"),
    ).where(
        (F.col("_occ") > 1)
        & ~(
            (F.col("_w.d") == F.col(id_col)) & (F.col("_w.p") == F.col("pos"))
        )
    )
    return (
        removable.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cpos"),
        )
        .distinct()
    )


def _spans_from_covered(covered: DataFrame, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of distinct covered positions into
    maximal (span_start, span_end, span_len) runs per doc."""
    w = Window.partitionBy(id_col).orderBy("cpos")
    islands = covered.withColumn(
        "_isl", F.col("cpos") - F.row_number().over(w)
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("cpos").cast("long").alias("span_start"),
            F.max("cpos").cast("long").alias("span_end"),
            F.count("*").cast("long").alias("span_len"),
        )
        .select(id_col, "span_start", "span_end", "span_len")
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    covered: DataFrame | None = None,
) -> DataFrame:
    """EXACT duplicated-substring spans (the Lee et al. 2021
    'Deduplicating Training Data Makes Language Models Better' shape,
    arXiv:2107.06499, distributed): report every MAXIMAL run of token
    positions covered by duplicated ``k``-gram occurrences that lost
    the corpus-wide first-occurrence race.

    A duplicated run of length L ≥ k shared between documents yields
    L-k+1 removable gram occurrences in the later document; the union
    of their k-token extents is exactly the run, and the
    gaps-and-islands merge (pos - row_number, the scd.py pattern)
    recovers it as one (start, end) span — the surgical-removal
    coordinates whole-document MinHash and winnowing containment
    cannot produce (they say WHICH docs overlap, not WHERE).

    Returns (id, span_start, span_end, span_len), token coordinates,
    0-based inclusive.

    Scale: the suffix-array of the public single-machine algorithm is
    replaced by the gram-hash equi-join — O(corpus tokens) rows end to
    end, no all-pairs stage anywhere; see SCALING.md (exact-substring
    section) for the hot-gram and memory story.
    """
    if covered is None:
        covered = _removed_positions(df, id_col, text_col, k)
    return _spans_from_covered(covered, id_col)


def exact_substring_rewrite(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    covered: DataFrame | None = None,
) -> DataFrame:
    """The dedup ACTION for :func:`exact_substring_spans`:
    first-occurrence-wins rewrite (the ``cdc_dedup_rewrite`` contract
    at exact-substring granularity). Every token inside a removed span
    is dropped; each document is reassembled from its surviving tokens
    in order, with exact token accounting.

    Returns one row per INPUT document (short/empty docs included):
    (id, n_tokens, n_kept, n_removed, n_dup_spans, text_rewritten).

    Plan: the removal set's linear join + one anti-join on (doc, pos)
    + doc-keyed rollups — same keys throughout, no pair joins, no
    windows over the corpus except doc-partitioned ones.
    """
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "term"),
    ).where(F.col("term") != "")
    if covered is None:
        covered = _removed_positions(df, id_col, text_col, k)
    spans = exact_substring_spans(df, id_col, text_col, k, covered=covered)

    kept = tok.join(
        covered.withColumnRenamed("cpos", "pos"), [id_col, "pos"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "term"))),
                lambda s: s["term"],
            ),
            " ",
        ).alias("text_rewritten"),
    )
    totals = tok.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    n_spans = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_spans")
    )
    base = df.select(id_col)
    return (
        base.join(totals, id_col, "left")
        .join(rebuilt, id_col, "left")
        .join(n_spans, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (
                F.coalesce("n_tokens", F.lit(0))
                - F.coalesce("n_kept", F.lit(0))
            ).alias("n_removed"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("text_rewritten", F.lit("")).alias("text_rewritten"),
        )
    )


def exact_substring_ingest_spans(
    history: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Incremental exact-substring dedup: duplicated-run spans of a
    NEW batch against the already-ingested corpus — the ingest-time
    complement of :func:`exact_substring_spans` (same contract as
    ``incremental_ingest_dedup`` for MinHash: history is never
    re-deduped or rescanned beyond its gram index).

    A batch gram occurrence is removable when its gram exists ANYWHERE
    in history (history always wins — those tokens are already in the
    corpus) OR when it lost the batch-internal first-occurrence race.
    Returns maximal (id, span_start, span_end, span_len) runs over
    batch docs only.

    At scale the history side is the PERSISTED gram index (gram_hash
    → presence), built once and appended per ingest — this function
    derives it from the history frame for self-containedness; the
    plan is the same linear groupBy + equi-join shape as the batch
    operator (no pair join), with the index join a plain equi-join on
    the 32-hex hash.
    """
    return exact_substring_spans_vs_index(
        exact_substring_gram_index(history, id_col, text_col, k),
        batch, id_col, text_col, k,
    )


def exact_substring_gram_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """The persisted artifact of incremental exact-substring dedup:
    distinct ``gram_hash`` rows of a corpus (32-hex md5 per distinct
    k-gram — presence is all the ingest probe needs). Append new
    batches' indexes with union+distinct."""
    return (
        _positional_kgram_hashes(df, id_col, text_col, k)
        .select("gram_hash")
        .distinct()
    )


def exact_substring_spans_vs_index(
    index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Probe half of :func:`exact_substring_ingest_spans`: spans of a
    batch against an already-built gram index (plus the
    batch-internal first-occurrence race). Same linear plan; the
    index join is a plain equi-join on the hash."""
    hist_idx = index.select("gram_hash").withColumn("_in_hist", F.lit(True))
    grams = _positional_kgram_hashes(batch, id_col, text_col, k)
    # batch-internal winner/count as window aggregates over one
    # gram_hash exchange — see _removed_positions (r14, guide §2.4);
    # the history-index probe stays a plain equi-join on the hash
    wh = Window.partitionBy("gram_hash")
    removable = (
        grams.select(
            F.col(id_col),
            "pos",
            "gram_hash",
            F.count("*").over(wh).alias("_occ"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).over(wh).alias("_w"),
        )
        .join(hist_idx, "gram_hash", "left")
        .where(
            F.coalesce(F.col("_in_hist"), F.lit(False))
            | (
                (F.col("_occ") > 1)
                & ~(
                    (F.col("_w.d") == F.col(id_col))
                    & (F.col("_w.p") == F.col("pos"))
                )
            )
        )
    )
    covered = (
        removable.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    return _spans_from_covered(covered, id_col)


def decontamination_spans(
    bench: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Span-level benchmark decontamination: maximal corpus token runs
    whose ``k``-grams appear anywhere in the ``bench`` eval set —
    exact (doc, start, end) removal coordinates, the surgical
    complement of count-based overlap screening. The eval-set gram
    index always wins (no corpus-internal race — contamination is
    defined purely against the benchmark). Same linear plan family as
    :func:`exact_substring_spans`."""
    grams = _positional_kgram_hashes(corpus, id_col, text_col, k)
    bench_idx = exact_substring_gram_index(bench, id_col, text_col, k)
    covered = (
        grams.join(bench_idx, "gram_hash")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    return _spans_from_covered(covered, id_col)


def line_dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
) -> DataFrame:
    """CCNet-style LINE-level corpus deduplication (r8; Wenzek et
    al. 2019 §3.1): a line whose trimmed form occurs more than
    ``max_occurrences`` times ACROSS THE CORPUS is boilerplate
    (navigation, cookie banners, footers) and is struck from every
    document; blank lines keep document structure and are never
    counted. Returns (id, n_lines, n_removed, clean_text) with the
    surviving lines rejoined in original order.

    100-TB shape: one explode → skinny (line-key, count) aggregation
    with map-side combine, then the counts are FILTERED to the
    duplicated keys only before joining back — the join's build side
    carries just the boilerplate lines (a tiny fraction of distinct
    lines), not the whole line vocabulary. One further doc-keyed
    aggregation rebuilds the text. No window, no driver loop.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col),
        F.posexplode_outer(F.split(t, "\n")).alias("idx", "line"),
    ).withColumn("k", F.trim(F.col("line")))
    dup_keys = (
        lines.where(F.col("k") != "")
        .groupBy("k")
        .agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") > max_occurrences)
        .select("k")
        .withColumn("_dup", F.lit(True))
    )
    verdicts = lines.join(dup_keys, "k", "left").select(
        id_col,
        "idx",
        "line",
        (
            (F.col("k") == "") | F.col("_dup").isNull()
        ).alias("_keep"),
    )
    kept = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("_keep"), F.struct("idx", "line"))
            )
        ),
        lambda s: s["line"],
    )
    return verdicts.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def _tail_window(text_col: str, window: int):
    """Last-``window``-chars slice — the shift-robust suffix key the
    edit-distance join runs on (prefix fingerprints miss near-dups
    whose early edits shift everything after them)."""
    return F.expr(
        f"substring({text_col}, greatest(1, length({text_col}) - {window - 1}),"
        f" {window})"
    )




def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    max_dist: int = 8,
) -> DataFrame:
    """Edit-distance similarity join (PassJoin shape; Li, Deng, Feng
    2011): all pairs whose tail-``window`` text slices are within
    Levenshtein distance ``max_dist``, WITHOUT the O(n²) comparison.

    Pigeonhole blocking: split the SHORTER string of each prospective
    pair into ``max_dist + 1`` contiguous segments; if lev(a, b) ≤ d
    then at least one segment of a maps edit-free into b. So an
    equi-join of
      A-side: the d+1 segments of every string, keyed (i, seg, len)
      B-side: every substring of every string that could be segment i
              of a length-``la`` partner (la ∈ [len−d, len])
    is a provably lossless candidate generator; candidates are then
    verified with the exact ``levenshtein(…, threshold)`` (early-exit
    banded DP in the JVM). Measured at sf0.01: 322 candidates out of
    124,750 possible pairs for 24 true pairs — and this corpus is the
    adversarial case (30-word vocabulary); natural text segments are
    far rarer.

    The candidate window start is bounded by the MULTI-MATCH-AWARE
    rule (the PassJoin paper's substring selection): a segment match
    shifted by s needs ≥ |s| edits before it and ≥ |Δ − s| after it
    (Δ = length difference), so |s| + |Δ − s| ≤ d, i.e.
    s ∈ [−⌊(d−Δ)/2⌋, ⌊(d+Δ)/2⌋] — d+1 window starts per (length,
    segment) instead of the naive 2d+1. The index stays linear in n:
    ≤ (d+1)²·(d+1) window rows per string, generated by three integer
    explodes + one plain substring projection (codegen'd end to end —
    the nested higher-order-function formulation evaluated the
    1.4k-element array builder per row outside codegen and was
    measured 2× slower; duplicate windows are NOT deduplicated
    because measurement showed <0.05% duplicates, and the candidate
    `distinct()` already collapses them after the join).

    Strings shorter than 2·d+1 chars are routed to a bounded "short
    path": every short string (ln ≤ 2d) probes ALL strings with
    ln ≤ 3d — its partner's length can exceed 2d by up to d, so a
    short-only bucket would silently drop short-long pairs with the
    long tail in (2d, 3d] (ADVICE r8, high). The probe is an
    equi-join on an exploded candidate-length key (the ≤3d side emits
    keys [ln−d, ln+d] ∩ [0, 2d]), so each bucket is bounded by the
    per-length population, never the whole short set. Segment
    blocking only ever sees strings long enough that every segment is
    non-empty. Both paths' candidates union + distinct before the
    verify, so overlap cannot double-count.

    Returns (id_a, id_b, edit_distance), id_a < id_b.
    """
    d = max_dist
    nseg = d + 1
    strings = df.select(
        F.col(id_col).alias("did"),
        _tail_window(text_col, window).alias("s"),
    ).withColumn("ln", F.length("s"))

    def seg_start(i, la):
        # 1-based start of segment i for a length-`la` string
        return (F.floor(i * la / F.lit(nseg)) + 1).cast("int")

    def seg_len(i, la):
        return (
            F.floor((i + 1) * la / F.lit(nseg)) - F.floor(i * la / F.lit(nseg))
        ).cast("int")

    long_strings = strings.where(F.col("ln") > 2 * d)

    segs = (
        long_strings.select(
            "did",
            "ln",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(d)),
                    lambda i: F.col("s").substr(
                        seg_start(i, F.col("ln")), seg_len(i, F.col("ln"))
                    ),
                )
            ).alias("i", "seg"),
        )
    ).where(F.col("seg") != "")

    # B-side candidate windows: three integer explodes (partner
    # length gap, segment index, multi-match shift) + one substring
    # projection. la = ln + dl ≤ ln because the A-side is the shorter
    # string of each pair; Δ = ln − la = −dl.
    delta = -F.col("dl")
    la = F.col("ln") + F.col("dl")
    st = (seg_start(F.col("i"), la) + F.col("o")).cast("int")
    wl = seg_len(F.col("i"), la)
    wins = (
        long_strings.select(
            "did", "ln", "s", F.explode(F.sequence(F.lit(-d), F.lit(0))).alias("dl")
        )
        .select(
            "did", "ln", "s", "dl",
            F.explode(F.sequence(F.lit(0), F.lit(d))).alias("i"),
        )
        .select(
            "did", "ln", "s", "dl", "i",
            F.explode(
                F.sequence(
                    -F.floor((F.lit(d) - delta) / 2).cast("int"),
                    F.floor((F.lit(d) + delta) / 2).cast("int"),
                )
            ).alias("o"),
        )
        .where((la >= 1) & (st >= 1) & (wl >= 1) & (st + wl - 1 <= F.col("ln")))
        .select(
            F.col("did").alias("bdid"),
            F.col("ln").alias("bln"),
            la.cast("int").alias("la"),
            F.col("i").alias("bi"),
            F.col("s").substr(st, wl).alias("w"),
        )
    )

    ordered = (F.col("ln") < F.col("bln")) | (
        (F.col("ln") == F.col("bln")) & (F.col("did") < F.col("bdid"))
    )
    # shuffle_hash hint: Catalyst cannot see through the 3-explode
    # fan-out, estimates the window side as tiny, and would BROADCAST
    # it — measured 4+ GiB at sf1.0 (50k docs × ~700 windows). The
    # scale-correct plan is a shuffled hash join on the compound
    # equi-key; the hint pins it at every size.
    cand_long = (
        segs.join(
            wins.hint("shuffle_hash"),
            (F.col("i") == F.col("bi"))
            & (F.col("seg") == F.col("w"))
            & (F.col("ln") == F.col("la"))
            & ordered,
        )
        .select(
            F.least("did", "bdid").alias("id_a"),
            F.greatest("did", "bdid").alias("id_b"),
        )
        .distinct()
    )

    # Short path: shorts (ln <= 2d) probe every string with ln <= 3d
    # — a short's partner can be up to d longer than 2d. Equi-key is
    # the exploded candidate length [ln-d, ln+d] clamped to [0, 2d]
    # (only shorts probe), so bucket size is the per-length
    # population. Short-short pairs arrive twice (each side probes
    # the other) and collapse in the distinct below.
    shorts = strings.where(F.col("ln") <= 2 * d)
    border = strings.where(F.col("ln") <= 3 * d).select(
        F.col("did").alias("bdid"),
        F.explode(
            F.sequence(
                F.greatest(F.col("ln") - d, F.lit(0)),
                F.least(F.col("ln") + d, F.lit(2 * d)),
            )
        ).alias("k"),
    )
    cand_short = shorts.join(
        border,
        (F.col("ln") == F.col("k")) & (F.col("did") != F.col("bdid")),
    ).select(
        F.least("did", "bdid").alias("id_a"),
        F.greatest("did", "bdid").alias("id_b"),
    )

    cand = cand_long.unionByName(cand_short).distinct()
    sa = strings.select(F.col("did").alias("id_a"), F.col("s").alias("s_a"))
    sb = strings.select(F.col("did").alias("id_b"), F.col("s").alias("s_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("edit_distance", F.levenshtein("s_a", "s_b", d))
        .where(F.col("edit_distance") >= 0)
        .select(
            "id_a", "id_b", F.col("edit_distance").cast("long").alias("edit_distance")
        )
    )
