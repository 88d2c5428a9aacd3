"""Deduplication operators over the `documents` table [EXT].

Five tiers, each the Spark-idiomatic shape for its scale profile:

- exact:      hash-groupBy — one shuffle on a 128-bit digest; at 100 TB the
              digest shuffle is ~32 bytes/doc regardless of doc size.
- MinHash+LSH: signature → band → bucket-join. Candidate generation never
              compares all pairs; cost is O(docs × k) + bucket-local joins.
- SimHash:    64-bit fingerprint, candidates from 16-bit band collisions,
              verified by hamming distance (bit_count of xor).
- n-gram Jaccard: exact verify step, candidate-restricted (same lang +
              ±30% length band) so the join never goes quadratic.
- substring spans: rolling k-token-gram postings → per-doc verbatim-span
              fraction; finds copied PASSAGES inside otherwise-distinct
              docs, linear in corpus size (per-gram aggregation, no pair
              join).

All hashing is xxhash64/md5 with fixed seeds — deterministic across runs
and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.shingles import shingles_from_tokens, tokens, with_shingles
from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query
from ..session import broadcast_if_fits, fits_broadcast

# MinHash parameters: 32 permutations = 8 bands × 4 rows. With Jaccard
# threshold t, collision prob in ≥1 band is 1-(1-t^4)^8 (s-curve at ~0.5).
_MINHASH_K = 32
_BANDS = 8
_ROWS_PER_BAND = 4


@query(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(text)          AS text_hash,
           min(doc_id)        AS keep_doc_id,
           count(*)           AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: digest-groupBy, keep lowest doc_id per distinct text."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_keep_first_per_group",
    oracle="""
    SELECT lang, source, doc_id, n_chars
    FROM (
        SELECT lang, source, doc_id, n_chars,
               row_number() OVER (
                   PARTITION BY lang, source ORDER BY doc_id
               ) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_keep_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dropDuplicates: keep the lowest-doc_id row per
    (lang, source). (Plain dropDuplicates keeps an *arbitrary* row — wrong
    for a reproducible pipeline, so the engine's canonical form is the
    row_number window.)"""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", "source", "doc_id", "n_chars")
    )


def hashed_shingles(docs: DataFrame) -> DataFrame:
    """doc_id → int64-hashed distinct shingle array (the shared input of
    signature generation and exact verification — computed once).

    The source is repartitioned first: a small parquet file arrives as ONE
    partition, which would serialize the (expensive) shingle+hash compute
    onto a single core — scan parallelism must be decoupled from compute
    parallelism when per-row work dominates.
    """
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        docs.repartition(n, "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("__w"))
        .select(
            "doc_id",
            F.transform(
                F.array_distinct(shingles_from_tokens(F.col("__w"), k=3)),
                lambda s: F.xxhash64(s),
            ).alias("hs"),
        )
    )


def _mh_perm(i: int):
    """Unary permutation lambda for F.transform.

    MUST be built by a factory: ``lambda x, i=i: ...`` looks unary but
    PySpark counts the defaulted parameter and passes the ARRAY INDEX as
    ``i``, silently shadowing the captured value — the seed string then
    interpolates a Column repr whose fresh-variable counter changes per
    plan build, making signatures depend on session plan-build order
    (caught in round 7 when the band-tuning oracle compared raw candidate
    counts; the J >= 0.5 verify filter had masked it everywhere else).
    tests/test_wave39.py pins stability across two independent builds.
    """
    seed = F.lit(f"mh{i}")
    return lambda x: F.xxhash64(seed, x)


def minhash_signatures(docs: DataFrame, k: int = _MINHASH_K) -> DataFrame:
    """doc_id → k MinHash values: k array_min/transform expressions over the
    pre-hashed shingle array.

    Shape history (all measured): k array-expressions over *string* shingles
    re-derive the shingle construction k times (90s); explode + k-way
    min-aggregate fixes that but Spark's Generate re-evaluates a complex
    child expression pathologically (~15x the cost of building the arrays),
    and adds a shuffle. Over the *pre-hashed long* array, the k transforms
    are trivially cheap, stay in one codegen stage, and need no shuffle at
    all — the hashed array is materialized once per row because Catalyst
    refuses to collapse a projection referenced k times.
    """
    hs_df = hashed_shingles(docs)
    return hs_df.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("hs"), _mh_perm(i))
            ).alias(f"mh_{i}")
            for i in range(k)
        ],
    )


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    The hashed-shingle table is materialized once (a few MB: one long array
    per doc): it feeds both signature generation and the two verify joins,
    and re-deriving it under a join/Generate re-evaluates the expensive
    shingle expression per consumer (measured 5x). ``localCheckpoint``
    rather than ``persist``: checkpoint blocks are released by the
    ContextCleaner when the returned plan is garbage-collected, so repeated
    invocations in one session (bench best-of-two, driver verify loops)
    don't accumulate cached blocks the way CacheManager entries do.

    EAGER checkpoint, always: a lazy (eager=False) checkpoint only
    materializes when some job first computes it — when the FIRST consuming
    job contains several branches over this plan, tasks race and each
    branch recomputes the expensive derivation (round 3 shipped that bug:
    12.7-30s instead of ~3s on dedup_ngram_jaccard). Eager materialization
    before fan-out is the single-computation guarantee;
    tests/test_materialization.py pins both the mechanism and a repo-wide
    no-lazy-checkpoint lint.
    """
    hs = hashed_shingles(docs).localCheckpoint(eager=True)
    sig = hs.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("hs"), _mh_perm(i))
            ).alias(f"mh_{i}")
            for i in range(_MINHASH_K)
        ],
    )
    # r10 tried checkpointing `bands` bare and REVERTED it: the
    # materialized table loses the inline plan's statistics and the band
    # self-join degraded broadcast -> shuffle (1.31 -> 2.99 normalized on
    # the 10x density probe). r11 (VERDICT r10 item 7) retries the
    # materialization WITH the stats preserved by an explicit size-gated
    # broadcast hint (session.broadcast_if_fits): the 32-transform
    # signature projection now computes ONCE (it appeared on BOTH sides of
    # the self-join — nodes 3+8 of the r10 before-plan) and the join
    # strategy can no longer silently degrade.
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"mh_{b * _ROWS_PER_BAND + r}")
                            for r in range(_ROWS_PER_BAND)
                        ]
                    )
                    for b in range(_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    ).localCheckpoint(eager=True)
    n_docs = hs.count()  # cached-metadata read: hs is checkpointed above
    left = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    right = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    pairs = (
        left.join(
            broadcast_if_fits(right, n_docs * _BANDS, row_bytes=32),
            ["band_id", "band_hash"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # attach the hashed shingle sets (same pipeline as the signatures —
    # Jaccard over int64 hashes equals Jaccard over the strings) for the
    # exact verify step
    return (
        pairs.join(hs.select(F.col("doc_id").alias("doc_a"),
                             F.col("hs").alias("sh_a")), "doc_a")
        .join(hs.select(F.col("doc_id").alias("doc_b"),
                        F.col("hs").alias("sh_b")), "doc_b")
        .select("doc_a", "doc_b", "sh_a", "sh_b")
    )


def jaccard_arrays(sa: F.Column, sb: F.Column) -> F.Column:
    """Jaccard over two distinct-shingle array columns."""
    return F.size(F.array_intersect(sa, sb)) / F.size(F.array_union(sa, sb))


def exact_jaccard(a: F.Column, b: F.Column) -> F.Column:
    """Jaccard over distinct shingle sets, inline from two text columns."""
    from ..functions.shingles import distinct_shingles

    return jaccard_arrays(distinct_shingles(a), distinct_shingles(b))


# r5 graduation of the LLM-dedup workhorse from rows-only: the DuckDB XXH64
# macros reproduce (a) the shingle hash xxhash64(s) and (b) all 32
# permutation hashes xxhash64(lit('mh{i}'), h) — a LongType second arg, so
# the chained-seed form is xxh64_long(h, XXH64('mh{i}', 42)). Band
# membership is joined on the 4-TUPLE of minhashes rather than Spark's
# 64-bit band digest: equal tuples always produce equal digests, so the
# only possible divergence is a 2^-64 digest collision between unequal
# tuples that ALSO passes exact-Jaccard verification — ignorable.
_MH_SEEDS = tuple(chain_seed(f"mh{i}") for i in range(_MINHASH_K))
# Vectorized permutation pipeline: the xxh64_long macro is subquery-shaped
# (DuckDB executes those per-row, measured 139 s at sf0.001), so the 32
# permutation hashes are laddered into flat column stages instead. Two
# algebraic facts make this cheap: round(0, u) does not depend on the seed
# (ONE shared k1 column feeds all 32 perms), and the per-perm prefix
# h1_i = seed_i + P5 + 8 is a compile-time constant.
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791,
    14029467366897019727,
    1609587929392839161,
    9650029242287828579,
    2870177450012600261,
)
_M64 = 1 << 64
_MH_H1 = tuple((s + _P5 + 8) % _M64 for s in _MH_SEEDS)
_MH_T2 = ",\n               ".join(
    f"xx_addm(xx_mulm(xx_rotl(xor({h1}::UBIGINT, k1), 27),"
    f" {_P1}::UBIGINT), {_P4}::UBIGINT) AS t{i}"
    for i, h1 in enumerate(_MH_H1)
)
_MH_A = ",\n               ".join(
    f"xx_mulm(xor(t{i}, t{i} >> 33), {_P2}::UBIGINT) AS a{i}"
    for i in range(_MINHASH_K)
)
_MH_B = ",\n               ".join(
    f"xx_mulm(xor(a{i}, a{i} >> 29), {_P3}::UBIGINT) AS b{i}"
    for i in range(_MINHASH_K)
)
_MH_P = ",\n               ".join(
    f"CASE WHEN xor(b{i}, b{i} >> 32) >= {1 << 63}::UBIGINT"
    f" THEN (xor(b{i}, b{i} >> 32)::HUGEINT - {_M64})::BIGINT"
    f" ELSE xor(b{i}, b{i} >> 32)::BIGINT END AS p{i}"
    for i in range(_MINHASH_K)
)
_MH_SIG_SQL = ", ".join(f"min(p{i}) AS mh_{i}" for i in range(_MINHASH_K))
_MH_BAND_JOINS = "\n        UNION ALL\n".join(
    "        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
    "        FROM sig a JOIN sig b ON a.doc_id < b.doc_id"
    + "".join(
        f" AND a.mh_{_ROWS_PER_BAND * b + r} = b.mh_{_ROWS_PER_BAND * b + r}"
        for r in range(_ROWS_PER_BAND)
    )
    for b in range(_BANDS)
)
_MH_TOKENS = "string_split_regex(trim(text), '\\s+')"


# The full MinHash-LSH pair derivation as one DuckDB query body (shingle
# hash → 32 permutation ladder → per-band candidate joins → exact-Jaccard
# verify at >= 0.5). Shared by the dedup_minhash_docs oracle and, as a
# subquery, by the dedup_minhash_recall oracle (graduated round 8 — the
# r7 _mh_perm determinism fix made the signature chain exactly
# replayable, so recall-vs-exact is now plain arithmetic over two
# replayed pair sets).
_MH_PAIRS_ORACLE_BODY = f"""
    WITH sh AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len({_MH_TOKENS}) - 1, 1)),
            i -> {_MH_TOKENS}[i] || ' ' || {_MH_TOKENS}[i+1] || ' ' ||
                 {_MH_TOKENS}[i+2])) AS shingles
        FROM documents
    ),
    hrow AS (
        SELECT doc_id, xxh64_signed(encode(u.s), 42::UBIGINT) AS h
        FROM sh, UNNEST(shingles) AS u(s)
    ),
    hs AS (SELECT doc_id, list(h) AS hset FROM hrow GROUP BY doc_id),
    u0 AS (
        SELECT doc_id,
               xx_round(0::UBIGINT,
                        ((h::HUGEINT + {_M64}) % {_M64})::UBIGINT) AS k1
        FROM hrow
    ),
    s_t AS (SELECT doc_id,
               {_MH_T2}
            FROM u0),
    s_a AS (SELECT doc_id,
               {_MH_A}
            FROM s_t),
    s_b AS (SELECT doc_id,
               {_MH_B}
            FROM s_a),
    permrow AS (SELECT doc_id,
               {_MH_P}
            FROM s_b),
    sig AS (SELECT doc_id, {_MH_SIG_SQL} FROM permrow GROUP BY doc_id),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
{_MH_BAND_JOINS}
        )
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE)
                 / len(list_distinct(list_concat(x.hset, y.hset))), 4) AS jaccard
    FROM cand c
    JOIN hs x ON x.doc_id = c.doc_a
    JOIN hs y ON y.doc_id = c.doc_b
    WHERE round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE)
                / len(list_distinct(list_concat(x.hset, y.hset))), 4) >= 0.5
"""


@query("dedup_minhash_docs", oracle=XXH64_MACROS + _MH_PAIRS_ORACLE_BODY)
def dedup_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by exact Jaccard ≥ 0.5."""
    d = load_table(spark, sf_dir, "documents")
    cands = minhash_candidates(d)
    return (
        cands.withColumn(
            "jaccard", F.round(jaccard_arrays(F.col("sh_a"), F.col("sh_b")), 4)
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id → 63-bit SimHash fingerprint.

    Vote computation is one explode + one hash-aggregate: each of the 63
    bits sums +1/-1 per distinct token depending on xxhash64(token) bit i.
    A single shuffle on doc_id, map-side partial aggregation, no Python.
    (Bit 63 is excluded so the fingerprint stays a positive long.)
    """
    spark = docs.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    toks = F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
    tok_df = docs.repartition(n_part, "doc_id").select(
        "doc_id", F.explode(toks).alias("tok")
    ).withColumn(
        "h", F.xxhash64(F.lit("sh"), F.col("tok"))
    )
    votes = tok_df.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(63)
        ]
    )
    simhash = F.lit(0).cast("long")
    for i in range(63):
        simhash = simhash + F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        ).cast("long")
    return votes.select("doc_id", simhash.cast("long").alias("simhash"))


def simhash_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Candidate pairs from 16-bit band collisions (any of 4 bands), with
    both fingerprints and the hamming distance attached."""
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * b)
                    .bitwiseAND(F.lit(0xFFFF))
                    .cast("long")
                    for b in range(4)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"),
        "band_id", "band_val",
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"),
        "band_id", "band_val",
    )
    return (
        left.join(right, ["band_id", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .distinct()
    )


def derive_hamming_threshold(
    sig: DataFrame, quantile: float = 0.1, lo: int = 1, hi: int = 16
) -> int:
    """Corpus-derived near-dup threshold: a low quantile of the candidate
    pairs' hamming distances, clamped to [lo, hi].

    Candidate pairs (band collisions) are already biased toward similarity,
    so their distance distribution separates near-dups from the background;
    the low quantile lands in the near-dup mode. One scalar aggregate job at
    plan time — the same class of eager statistic AQE collects.
    """
    row = (
        simhash_candidate_pairs(sig)
        .select(F.percentile_approx("hamming", quantile).alias("q"))
        .first()
    )
    q = row["q"] if row and row["q"] is not None else lo
    return max(lo, min(hi, int(q)))


def simhash_pairs(docs: DataFrame, max_hamming: int | None = None) -> DataFrame:
    """SimHash near-dup pairs with a parameterized hamming threshold.

    ``max_hamming=None`` derives the threshold from the corpus itself
    (:func:`derive_hamming_threshold`). Typical values: tight shared-
    vocabulary corpora discriminate at ~2; natural text at ~3-8.
    """
    sig = simhash_signatures(docs).localCheckpoint(eager=True)
    if max_hamming is None:
        max_hamming = derive_hamming_threshold(sig)
    return simhash_candidate_pairs(sig).filter(F.col("hamming") <= max_hamming)


# Fixture-corpus threshold, injected at registration: the synthetic
# documents table's tight shared vocabulary makes simhashes cluster
# (median candidate-pair hamming ≈ 6), so ≤2 is its discriminative
# near-dup band. The operator itself takes the threshold as a parameter.
_FIXTURE_SIMHASH_HAMMING = 2


@query(
    "dedup_simhash_docs",
    # r5 graduation from rows-only: the per-token hash is Spark's
    # xxhash64(lit('sh'), tok) = XXH64(utf8(tok), 11311678090148365197)
    # (chained literal seed), reproduced by the DuckDB XXH64 macros; bit
    # votes, 16-bit banding and the hamming filter are then plain SQL. The
    # vote rule votes_i > 0 is equivalently 2*ones_i > n_tokens.
    oracle=XXH64_MACROS + """
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(
                   string_split_regex(trim(text), '\\s+'))) AS tok
        FROM documents
    ),
    hs AS (
        SELECT doc_id,
               list(xxh64_u(encode(tok), 11311678090148365197::UBIGINT)) AS h
        FROM toks GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, 63), i ->
                   CASE WHEN 2 * list_sum(list_transform(h, x ->
                                ((x >> i::INT) & 1::UBIGINT)::BIGINT)) > len(h)
                        THEN (1::BIGINT << i::INT) ELSE 0 END))::BIGINT AS simhash
        FROM hs
    ),
    bands AS (
        SELECT doc_id, simhash, u.b AS band_id,
               (simhash >> (16 * u.b::INT)) & 65535 AS band_val
        FROM sig, UNNEST([0, 1, 2, 3]) AS u(b)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-63 near-dup pairs via bit_count(xor) ≤ threshold."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, max_hamming=_FIXTURE_SIMHASH_HAMMING)


# Document-frequency candidacy cap shared by the operator and the oracle
# (interpolated below): a shingle present in more than this fraction of a
# language's documents generates no candidates.
NGRAM_DF_FRAC = 0.5

# Shared by dedup_ngram_jaccard and dedup_components_ngram (operators/graph.py):
# both oracles must see the IDENTICAL pair set.
#
# The oracle mirrors the operator's document-frequency candidacy cap
# (NGRAM_DF_FRAC): a pair is a candidate only if it shares at least one
# COLD shingle (document frequency <= df_frac of its language's docs).
# Jaccard itself is still computed over the FULL shingle sets. Without
# this clause the operator and its oracle would diverge on a corpus where
# some pair's entire overlap is ubiquitous boilerplate shingles — the
# equivalence is now unconditional, not fixture-dependent.
NGRAM_PAIRS_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, lang, n_chars,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 1, 1)),
                   i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+2]
               )) AS shingles
        FROM documents
    ),
    lang_sizes AS (SELECT lang, count(*) AS n_docs FROM sh GROUP BY lang),
    hot AS (
        SELECT p.lang, p.s
        FROM (SELECT lang, unnest(shingles) AS s FROM sh) p
        JOIN lang_sizes ls ON ls.lang = p.lang
        GROUP BY p.lang, p.s, ls.n_docs
        HAVING count(*) > ls.n_docs * {NGRAM_DF_FRAC}
    ),
    hot_lists AS (SELECT lang, list(s) AS hot_list FROM hot GROUP BY lang),
    shc AS (
        SELECT sh.doc_id, sh.lang, sh.n_chars, sh.shingles,
               CASE WHEN hl.lang IS NULL THEN sh.shingles
                    ELSE list_filter(sh.shingles,
                                     x -> NOT list_contains(hl.hot_list, x))
               END AS cold_shingles
        FROM sh LEFT JOIN hot_lists hl ON hl.lang = sh.lang
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
    FROM shc a JOIN shc b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND b.n_chars BETWEEN CAST(floor(a.n_chars * 0.7) AS BIGINT)
                       AND CAST(ceil(a.n_chars * 1.3) AS BIGINT)
    WHERE len(list_intersect(a.cold_shingles, b.cold_shingles)) >= 1
      AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.05
"""


@query("dedup_ngram_jaccard", oracle=NGRAM_PAIRS_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over candidate-restricted pairs (oracle-checked).

    Candidates: pairs sharing ≥1 cold shingle, same lang, ±30% length band.
    The join key is (shingle, lang) — the inverted-index posting join —
    and the length band is applied as a post-join filter, NOT folded into
    the key: the shingle key is already high-cardinality (parallelism and
    pair pruning both come from it), so exploding the probe side to the
    2-3 length buckets its band covers would triple the posting shuffle to
    prune pairs the band filter removes for ~free after the match. (A
    banded *equi* bucket key is the right shape when the only other key is
    low-cardinality — see join_theta_price_band / range_join_banded for
    that form.)

    Shingle sets are hashed to int64 before the join: Jaccard over long
    arrays is identical to Jaccard over the strings (64-bit collisions are
    negligible) and intersects several times faster. The unrestricted scale
    path is dedup_minhash_docs.

    Hot-posting-list guard: candidate generation drops shingles present in
    more than NGRAM_DF_FRAC of a language's documents (ubiquitous shingles
    fan out toward all-pairs — the classic inverted-index blowup). The cap
    affects only candidacy: a pair is dropped only if its entire
    intersection is ubiquitous shingles, which at any meaningful threshold
    means boilerplate, not near-duplication — and the oracle mirrors the
    same clause (≥1 shared cold shingle), so operator ≡ oracle holds on
    EVERY corpus, not just ones without hot-only pairs.

    Exact Jaccard WITHOUT shipping full shingle arrays to every pair
    (round 2 did, and paid 4.2×): the posting join itself yields the
    cold-overlap count — each shared cold shingle produces exactly one
    join row, so ``count(*)`` per (doc_a, doc_b) IS |cold(A) ∩ cold(B)|.
    Hot-shingle overlap comes from the *small* per-doc hot arrays (≤ the
    handful of shingles a lang has above the DF cap). Then
    |A ∩ B| = cold_overlap + hot_overlap and |A ∪ B| = |A| + |B| − |A ∩ B|
    from per-doc distinct counts — the same math the full-array verify
    computed, at the cost of one pair-keyed aggregate instead of two
    array-shipping joins.
    """
    df_frac = NGRAM_DF_FRAC
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = with_shingles(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars", "text")
        .repartition(n_part, "doc_id")
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.transform(F.col("shingles"), lambda s: F.xxhash64(s)).alias("hs"),
    ).localCheckpoint(eager=True)  # feeds postings + hot arrays; released on GC
    # (see minhash_candidates note on why not persist(), and why EAGER:
    # this plan fans out to 4 consumers — postings a/b sides, the hot
    # table, hot_per_doc — inside one write job; a lazy checkpoint lets
    # those branches race and recompute the 6.6s shingle derivation)
    # Inverted-index set-similarity join: explode to (shingle, doc) postings
    # and equi-join on (shingle, lang) — pairs sharing no shingle are never
    # generated at all. n_sh (per-doc distinct count) rides along for the
    # union-size arithmetic.
    post = d.select(
        "doc_id", "lang", "n_chars", F.size("hs").alias("n_sh"),
        F.explode("hs").alias("s"),
    )
    # document-frequency cap: hot postings out before the self-join
    lang_sizes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    hot = (
        post.groupBy("s", "lang")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(lang_sizes), "lang")
        .filter(F.col("df") > F.col("n_docs") * df_frac)
        .select("s", "lang")
    )
    # The cold posting table is consumed TWICE (a-side and b-side of the
    # pair self-join); without materialization each side re-runs the
    # explode + hot-agg + anti-join from the d checkpoint (measured: the
    # full query drops 10s → 6.8s with this cut, → 3.4s with hot_per_doc's
    # below). Storage is O(corpus postings) on executor disk — the same
    # order as the shuffle the self-join writes anyway.
    cold = post.join(F.broadcast(hot), ["s", "lang"], "left_anti").localCheckpoint(
        eager=True
    )
    a = cold.select(
        F.col("s"), F.col("lang"),
        F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("chars_a"),
        F.col("n_sh").alias("n_sh_a"),
    )
    b = cold.select(
        F.col("s"), F.col("lang"),
        F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("chars_b"),
        F.col("n_sh").alias("n_sh_b"),
    )
    # one shared cold shingle == one join row → count(*) = |cold(A)∩cold(B)|
    pair_cold = (
        a.join(b, ["s", "lang"])
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("chars_b") >= F.floor(F.col("chars_a") * 0.7))
            & (F.col("chars_b") <= F.ceil(F.col("chars_a") * 1.3))
        )
        .groupBy("doc_a", "doc_b", "n_sh_a", "n_sh_b")
        .agg(F.count(F.lit(1)).alias("inter_cold"))
    )
    # per-doc hot-shingle arrays: each ARRAY is bounded by construction
    # (every hot shingle has df > n_docs·df_frac, so a lang has fewer than
    # avg_shingles_per_doc/df_frac distinct hot shingles — a constant), but
    # the TABLE has up to one row per document, so it is NOT broadcast:
    # the joins below shuffle on doc id and AQE broadcasts only when the
    # hot table is actually small (fixture scale). What matters at 100 TB
    # is the payload — a handful of int64s per doc vs the full shingle
    # arrays the round-2 verify shipped.
    hot_per_doc = (
        post.join(F.broadcast(hot), ["s", "lang"], "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("s").alias("hot_arr"))
        .localCheckpoint(eager=True)  # two joins below; compute once
    )
    empty = F.array().cast("array<bigint>")
    pairs = (
        pair_cold.join(
            hot_per_doc.select(
                F.col("doc_id").alias("doc_a"), F.col("hot_arr").alias("hot_a")
            ),
            "doc_a",
            "left",
        )
        .join(
            hot_per_doc.select(
                F.col("doc_id").alias("doc_b"), F.col("hot_arr").alias("hot_b")
            ),
            "doc_b",
            "left",
        )
        .withColumn(
            "inter",
            F.col("inter_cold")
            + F.size(
                F.array_intersect(
                    F.coalesce("hot_a", empty), F.coalesce("hot_b", empty)
                )
            ),
        )
    )
    jac = F.col("inter") / (F.col("n_sh_a") + F.col("n_sh_b") - F.col("inter"))
    return (
        pairs.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= 0.05)
        .select("doc_a", "doc_b", "jaccard")
    )


@query(
    "dedup_minhash_recall",
    # GRADUATED from rows-only (round 8, VERDICT r7 item 3): the r7
    # _mh_perm determinism fix made the signature chain plan-build-order
    # independent, and the xxh64 DuckDB macros replay it exactly (the
    # band-tuning oracle proved the raw candidate counts match), so
    # recall-vs-exact at J >= 0.5 is exactly-replayable arithmetic: both
    # pair sets are existing hash-green oracle bodies, composed here as
    # subqueries and reduced to four counts.
    oracle=XXH64_MACROS
    + f"""
    WITH truth AS (
        SELECT doc_a, doc_b FROM ({NGRAM_PAIRS_ORACLE}) t
        WHERE t.jaccard >= 0.5
    ),
    found AS (
        SELECT doc_a, doc_b FROM ({_MH_PAIRS_ORACLE_BODY}) f
    ),
    hit AS (
        SELECT t.doc_a FROM truth t
        JOIN found f ON f.doc_a = t.doc_a AND f.doc_b = t.doc_b
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
           round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                 / greatest((SELECT count(*) FROM truth), 1), 4) AS recall
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH banding against the exact ≥0.5-Jaccard pair
    set (the oracle-checked inverted-index join, filtered to the minhash
    operating threshold). One row: (n_true, n_found, n_hit, recall) —
    the banding s-curve (1-(1-t^4)^8, ~0.94 at t=0.5) made measurable in
    the driver record each round."""
    truth = (
        dedup_ngram_jaccard(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b")
    )
    found = dedup_minhash_docs(spark, sf_dir).select("doc_a", "doc_b")
    hit = truth.join(found, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(found.agg(F.count(F.lit(1)).alias("n_found")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            "n_true",
            "n_found",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.greatest("n_true", F.lit(1)), 4
            ).alias("recall"),
        )
    )


# Token length of the exact-substring grams. 10 tokens is scaled to the
# fixture's short documents; production corpora use 50 (the "memorized
# span" threshold in the exact-substring-dedup literature).
SUBSTR_GRAM_K = 10


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(t[i : i + {SUBSTR_GRAM_K - 1}], ' ') AS g
        FROM toks,
             LATERAL (SELECT unnest(range(1, len(t) - {SUBSTR_GRAM_K} + 2)) AS i) r
        WHERE len(t) >= {SUBSTR_GRAM_K}
    ),
    shared AS (
        SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT doc_id,
               count(*) AS n_grams,
               CAST(sum(CASE WHEN g IN (SELECT g FROM shared) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_grams
        FROM grams GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_dup_grams,
           round(CAST(n_dup_grams AS DOUBLE) / n_grams, 4) AS dup_frac
    FROM per_doc WHERE n_dup_grams >= 1
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication audit: for every document, the fraction
    of its {SUBSTR_GRAM_K}-token windows that also occur verbatim in at
    least one OTHER document — the exact-substring complement to the
    set-similarity (jaccard/minhash) family. Set similarity scores whole
    documents; this finds verbatim SPANS (quotes, boilerplate, templated
    passages) inside otherwise-distinct documents, which is what
    memorization-risk dedup actually removes at training time.

    Spark shape: tokenize → rolling k-gram per position (slice over a
    sequence — one Generate, no Python) → postings keyed by the gram's
    xxhash64 (the shuffle moves 8-byte keys, not ~60-char strings; a
    64-bit collision is the same negligible-odds trade the jaccard
    operator documents) → grams with ≥2 distinct docs → per-doc dup-span
    counts. Two shuffles total (gram groupBy, doc groupBy), both on
    unskewed high-cardinality keys; the DF-cap lesson from the jaccard
    operator does not apply because nothing here joins pairs — per-gram
    aggregation stays linear in corpus size no matter how hot a gram is.

    The oracle compares raw gram STRINGS (DuckDB has no xxhash64);
    counts agree unless two distinct grams collide in 64 bits."""
    k = SUBSTR_GRAM_K
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t"))
        .filter(F.size("t") >= k)
    )
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - k + 1),
                lambda i: F.xxhash64(F.array_join(F.slice("t", i, k), " ")),
            )
        ).alias("gh"),
    ).localCheckpoint(eager=True)  # two consumers (shared-gram agg + the
    # semi-join probe side) — round-4 fan-out policy; postings are
    # (doc_id, int64) rows, the same order of bytes the gram shuffle
    # moves anyway
    shared = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    dup_counts = (
        grams.join(shared, "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    totals = d.select("doc_id", (F.size("t") - k + 1).cast("long").alias("n_grams"))
    return (
        totals.join(dup_counts, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams").cast("double") / F.col("n_grams"), 4).alias(
                "dup_frac"
            ),
        )
    )


@query(
    "dedup_containment_ngram",
    # Quadratic within-lang definition at oracle scale; the engine path is
    # the posting join. Shingles are strings here vs xxhash64 ints on the
    # Spark side — same equivalence precedent as NGRAM_PAIRS_ORACLE.
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 1, 1)),
                   i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+2]
               )) AS shingles
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS shared,
           CAST(len(a.shingles) AS BIGINT) AS size_a,
           CAST(len(b.shingles) AS BIGINT) AS size_b,
           CAST(100 * len(list_intersect(a.shingles, b.shingles))
                // len(a.shingles) AS BIGINT) AS cont_a_pct,
           CAST(100 * len(list_intersect(a.shingles, b.shingles))
                // len(b.shingles) AS BIGINT) AS cont_b_pct
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE 100 * len(list_intersect(a.shingles, b.shingles))
              >= 80 * least(len(a.shingles), len(b.shingles))
      AND len(list_intersect(a.shingles, b.shingles)) > 0
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup detection: |S_A ∩ S_B| / min(|S_A|, |S_B|)
    ≥ 0.8 — the asymmetric measure that catches "document A is embedded
    inside document B", which symmetric Jaccard misses entirely (a
    200-word doc inside a 10k-word doc has Jaccard ≈ 0.02 but
    containment 1.0). The de-facto measure for quote/boilerplate/
    subset dedup in LLM corpora.

    Shape: the same inverted-index posting join as dedup_ngram_jaccard
    (shared-shingle pairs only, never n²), but the verify divides by
    the SMALLER set — integer percent with floor division, the
    threshold applied as the cross-multiplied integer inequality
    100·shared ≥ 80·min(sizes). Shingle derivation is the shared
    hashed_shingles pipeline, eagerly checkpointed (round-3/4 fan-out
    rule: postings a-side, b-side and the size table all consume it).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    sh = (
        hashed_shingles(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "hs")
        .localCheckpoint(eager=True)
    )
    sizes = sh.select("doc_id", F.size("hs").alias("sz"))
    posts = sh.select(
        "doc_id", "lang", F.explode("hs").alias("s")
    )
    a = posts.select(
        F.col("doc_id").alias("doc_a"), "lang", "s"
    )
    b = posts.select(
        F.col("doc_id").alias("doc_b"), "lang", "s"
    )
    shared = (
        a.join(b, ["lang", "s"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            100 * F.col("shared")
            >= 80 * F.least(F.col("size_a"), F.col("size_b"))
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "size_a",
            "size_b",
            F.expr("100 * shared div size_a").alias("cont_a_pct"),
            F.expr("100 * shared div size_b").alias("cont_b_pct"),
        )
    )


@query(
    "dedup_similarity_histogram",
    oracle="""
    WITH sh AS (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 1, 1)),
                   i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                        string_split_regex(trim(text), '\\s+')[i+2]
               )) AS shingles
        FROM documents
    ),
    pairs AS (
        SELECT len(list_intersect(a.shingles, b.shingles)) AS inter,
               len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles)) AS uni
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE len(list_intersect(a.shingles, b.shingles)) > 0
    )
    SELECT CAST(10 * inter // uni AS BIGINT) AS sim_decile,
           count(*) AS n_pairs
    FROM pairs
    GROUP BY 1
    """,
)
def dedup_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-threshold sweep in ONE pass: the histogram of pairwise
    Jaccard deciles over all shared-shingle candidate pairs — the tuning
    readout that answers "how many pairs does each dedup threshold
    merge?" WITHOUT re-running the pipeline per threshold.

    Decile = 10·|A∩B| div |A∪B| — an exact integer ratio bucket, no
    float jaccard anywhere. The pair space is the posting join's
    (shared-shingle pairs only); intersection counts come from the
    same groupBy as the containment operator, union sizes by
    inclusion-exclusion from the broadcast size table. At 100 TB this
    is run on an LSH-candidate sample rather than all candidate pairs;
    the histogram math is identical.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    sh = (
        hashed_shingles(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "hs")
        .localCheckpoint(eager=True)
    )
    sizes = sh.select("doc_id", F.size("hs").alias("sz"))
    posts = sh.select("doc_id", "lang", F.explode("hs").alias("s"))
    inter = (
        posts.select(F.col("doc_id").alias("doc_a"), "lang", "s")
        .join(
            posts.select(F.col("doc_id").alias("doc_b"), "lang", "s"),
            ["lang", "s"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    n_docs = sh.count()  # cached-metadata read: sh is localCheckpointed
    with_sizes = (
        inter.join(
            broadcast_if_fits(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")),
                n_docs,
                row_bytes=24,
            ),
            "doc_a",
        )
        .join(
            broadcast_if_fits(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")),
                n_docs,
                row_bytes=24,
            ),
            "doc_b",
        )
        .select(
            "inter",
            (F.col("sza") + F.col("szb") - F.col("inter")).alias("uni"),
        )
    )
    return with_sizes.groupBy(
        F.expr("10 * inter div uni").alias("sim_decile")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "dedup_ppjoin_prefix",
    # The oracle is the BRUTE-FORCE quadratic: every doc pair's exact
    # shingle-set Jaccard, thresholded with the 5*inter >= 4*union integer
    # cross-multiplication. Deliberately a DIFFERENT algorithm than the
    # Spark side (prefix-filtered candidates) — the skyline pattern: two
    # algorithms, one hash. Threshold 0.8, no lang/length restrictions, so
    # the pair set is the pure similarity-join contract.
    oracle="""
    WITH sh AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 1, 1)),
            i -> string_split_regex(trim(text), '\\s+')[i] || ' ' ||
                 string_split_regex(trim(text), '\\s+')[i+1] || ' ' ||
                 string_split_regex(trim(text), '\\s+')[i+2])) AS shingles
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS inter_size,
           CAST(len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
               AS union_size
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE 5 * len(list_intersect(a.shingles, b.shingles)) >=
          4 * (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))
      -- guard the 0/0-Jaccard degenerate: two sub-3-token docs have EMPTY
      -- shingle sets, 5*0 >= 4*0 is TRUE, but an empty-vs-empty pair is
      -- not a duplicate and the Spark side structurally drops shingle-less
      -- docs at the explode (review finding, r5; fixture min is 10 tokens
      -- but the contract must not depend on that)
      AND len(a.shingles) > 0
    """,
)
def dedup_ppjoin_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs similarity join with PREFIX FILTERING (the PPJoin family,
    Xiao/Wang/Lin/Yu 2008): sort every doc's distinct shingles by one
    GLOBAL order (corpus frequency asc, shingle asc — rarest first), index
    only each doc's first |t| - ceil(0.8|t|) + 1 shingles, and join on
    those prefixes. Two sets with Jaccard >= 0.8 under a shared total
    order MUST collide in their prefixes, so the candidate set is complete
    by theorem while indexing only ~20% of the postings — the pruning is
    measured against the full posting join in tests/test_ppjoin.py. Exact
    intersection counting then verifies candidates with the same
    cross-multiplied integer threshold as the oracle.

    Third candidate-generation strategy in the dedup family, same exact
    contract: DF-capped postings (dedup_ngram_jaccard) prune by DROPPING
    hot shingles (needs the lang/band guard), MinHash-LSH prunes
    probabilistically (needs recall instrumentation), prefix filtering
    prunes LOSSLESSLY — the right default when the threshold is high and
    exactness is contractual.

    Scale shape: frequency table and per-doc ranks are one aggregate +
    one doc-partitioned window over the posting table; the candidate join
    keys on a shingle whose posting list the prefix rule already
    truncated, with the companion LENGTH filter (J >= 0.8 forces
    5·min(|a|,|b|) >= 4·max(|a|,|b|)) applied inside the join before the
    distinct; verify joins each candidate pair against the per-doc
    shingle-ARRAY table (broadcast while it fits the broadcast budget,
    `session.fits_broadcast`) and intersects map-side — candidate-bounded
    work with no posting re-shuffle. Nothing is ever all-pairs. Above the
    budget (the 100 TB regime) the array table exceeds broadcast and the
    verify switches to the posting-join count (the dedup_ngram_jaccard
    shape) — both paths pinned identical in tests/test_wave40.py; the
    candidate stages are unchanged."""
    d = with_shingles(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "shingles").localCheckpoint(eager=True)
    sh = d.select("doc_id", F.size("shingles").alias("nt"),
                  F.explode("shingles").alias("s"))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "s")
    prefix = (
        sh.join(freq, "s")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= F.col("nt") - F.expr("(8 * nt + 9) div 10") + 1)
        .select("doc_id", "s", "nt")
        # r10 tried an eager checkpoint here bare and REVERTED it
        # (broadcast -> shuffle degradation, 0.80 -> 3.63 on the 10x
        # density probe). r11 (VERDICT r10 item 7) re-probed WITH the join
        # strategy preserved by a size-gated broadcast hint: the blowup
        # mode was gone, but the materialization still measured a
        # consistent loss — density probe 1.20 vs 1.08 control-normalized
        # (3 interleaved rounds) and +37% in-bench at sf0.1 — because the
        # prefix rows carry the WIDE shingle string (unlike the 3-long
        # minhash band rows, whose identical treatment wins next door in
        # minhash_candidates), so serializing them costs more than the
        # duplicate inline chain that runs concurrently on idle cores.
        # CLOSING ADJUDICATION: inline form kept; the materialized prefix
        # index remains the right call only where duplicate compute is the
        # binding cost (saturated cluster), not locally.
    )
    cand = (
        prefix.select(F.col("doc_id").alias("doc_a"), "s", F.col("nt").alias("na"))
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"), "s", F.col("nt").alias("nb")
            ),
            "s",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (5 * F.least("na", "nb") >= 4 * F.greatest("na", "nb"))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    n_docs = d.count()  # cached-metadata read: d is localCheckpointed above
    if fits_broadcast(n_docs, row_bytes=1431):
        arr_a = d.select(
            F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
        )
        arr_b = d.select(
            F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
        )
        inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
        return (
            cand.join(F.broadcast(arr_a), "doc_a")
            .join(F.broadcast(arr_b), "doc_b")
            .withColumn("inter_size", inter)
            .withColumn(
                "union_size", F.size("sa") + F.size("sb") - F.col("inter_size")
            )
            .filter(5 * F.col("inter_size") >= 4 * F.col("union_size"))
            .select(
                "doc_a",
                "doc_b",
                F.col("inter_size").cast("long").alias("inter_size"),
                F.col("union_size").cast("long").alias("union_size"),
            )
        )
    # 100 TB path: posting-join verify. Shingles are distinct per doc
    # (with_shingles array_distinct), so the per-pair posting match count
    # IS the exact intersection; union by inclusion-exclusion from the
    # per-doc size scalars. No corpus-sized table is ever broadcast — the
    # heavy join shuffles on (doc, shingle), the pair aggregate on the
    # candidate key, both AQE-planned.
    sizes = d.select("doc_id", F.size("shingles").alias("sz"))
    posts = d.select("doc_id", F.explode("shingles").alias("s"))
    inter_counts = (
        cand.join(posts.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(posts.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_size"))
    )
    return (
        inter_counts.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")),
            "doc_b",
        )
        .withColumn(
            "union_size",
            (F.col("sza") + F.col("szb") - F.col("inter_size")).cast("long"),
        )
        .filter(5 * F.col("inter_size") >= 4 * F.col("union_size"))
        .select("doc_a", "doc_b", "inter_size", "union_size")
    )


# LSH S-curve tuning configs (bands x rows-per-band over the 16 minhashes):
# P(candidate | J) = 1 - (1 - J^r)^b — more bands = higher recall, lower
# precision. The three configs sweep the curve's knee.
_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4))


def _tune_band_joins_sql(b_cnt: int, r: int) -> str:
    return "\n            UNION ALL\n".join(
        "            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
        "            FROM sig a JOIN sig b ON a.doc_id < b.doc_id"
        + "".join(
            f" AND a.mh_{r * band + j} = b.mh_{r * band + j}"
            for j in range(r)
        )
        for band in range(b_cnt)
    )


_TUNE_JACC = (
    "round(CAST(len(list_intersect(x.hset, y.hset)) AS DOUBLE)"
    " / len(list_distinct(list_concat(x.hset, y.hset))), 4)"
)
_TUNE_PER_CONFIG = "\n    UNION ALL\n".join(
    f"""
    SELECT 'b{b_cnt}r{r}' AS config, {b_cnt} AS b, {r} AS r,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN {_TUNE_JACC} >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_verified
    FROM (SELECT DISTINCT doc_a, doc_b FROM (
{_tune_band_joins_sql(b_cnt, r)}
    )) c
    JOIN hs x ON x.doc_id = c.doc_a
    JOIN hs y ON y.doc_id = c.doc_b
    """
    for b_cnt, r in _TUNE_CONFIGS
)


@query(
    "dedup_minhash_band_tuning",
    oracle=XXH64_MACROS
    + f"""
    WITH sh AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len({_MH_TOKENS}) - 1, 1)),
            i -> {_MH_TOKENS}[i] || ' ' || {_MH_TOKENS}[i+1] || ' ' ||
                 {_MH_TOKENS}[i+2])) AS shingles
        FROM documents
    ),
    hrow AS (
        SELECT doc_id, xxh64_signed(encode(u.s), 42::UBIGINT) AS h
        FROM sh, UNNEST(shingles) AS u(s)
    ),
    hs AS (SELECT doc_id, list(h) AS hset FROM hrow GROUP BY doc_id),
    u0 AS (
        SELECT doc_id,
               xx_round(0::UBIGINT,
                        ((h::HUGEINT + {_M64}) % {_M64})::UBIGINT) AS k1
        FROM hrow
    ),
    s_t AS (SELECT doc_id,
               {_MH_T2}
            FROM u0),
    s_a AS (SELECT doc_id,
               {_MH_A}
            FROM s_t),
    s_b AS (SELECT doc_id,
               {_MH_B}
            FROM s_a),
    permrow AS (SELECT doc_id,
               {_MH_P}
            FROM s_b),
    sig AS (SELECT doc_id, {_MH_SIG_SQL} FROM permrow GROUP BY doc_id),
    sweep AS (
    {_TUNE_PER_CONFIG}
    )
    SELECT config, b, r, n_candidates, n_verified,
           CAST(CAST(n_verified AS HUGEINT) * 1000000
                // nullif(n_candidates, 0) AS BIGINT)
               AS precision_ppm
    FROM sweep
    """,
)
def dedup_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding S-curve, MEASURED: candidate-pair count and
    verified-pair precision for three (bands, rows-per-band) layouts of
    the same 16 minhashes — (16,1) recall-max, (8,2) the shipping config
    (dedup_minhash_docs), (4,4) precision-max. P(candidate | J) =
    1 − (1 − J^r)^b, so r steepens and b lifts the curve; this query is
    the tuning table an operator reads before committing a 100 TB dedup
    run, because the candidate count IS the cost (the verify join's input)
    and the fixture's measured counts anchor the analytic curve.

    Scale shape: signatures are computed ONCE (k array-min transforms over
    pre-hashed shingles, no shuffle); each config's candidates come from
    b bucket-joins on r-column band keys — the standard LSH generation,
    never all-pairs; the sweep output is 3 rows. The verify join prices
    each config's honesty column (n_verified at exact J ≥ 0.5).
    """
    d = load_table(spark, sf_dir, "documents")
    hs_df = hashed_shingles(d).localCheckpoint(eager=True)
    # signatures straight over the checkpointed hashed-shingle array (the
    # minhash_signatures body, minus its own hashed_shingles re-derivation
    # — hs_df has two consumers here: signatures and the verify join)
    sig = hs_df.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(F.col("hs"), _mh_perm(i))
            ).alias(f"mh_{i}")
            for i in range(_MINHASH_K)
        ],
    ).localCheckpoint(eager=True)
    # Candidate nesting: agreeing on an r=4 band implies agreeing on both
    # of its r=2 sub-bands and all four r=1 coordinates, so b4r4's
    # candidates ⊆ b8r2's ⊆ b16r1's. Generate ONE candidate set (the
    # (16,1) superset: 16 single-coordinate bucket joins) and evaluate the
    # tighter configs as per-pair band booleans off the joined signature
    # rows — replacing 28 self-joins + 3 verify joins with 16 + 1
    # (measured 10.0 s → see bench; the oracle keeps the three literal
    # band-join formulations, so the asymmetric plans re-prove each other).
    # ONE bucket join generates the (16,1) superset: posexplode the 16
    # coordinates into (band, h) bucket keys and self-join — the
    # minhash_candidates shape. 16 separate unioned self-joins measured
    # 2x slower here purely on task-count overhead (16 x partitions map
    # tasks feeding the distinct).
    buckets = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"mh_{i}") for i in range(_MINHASH_K)])
        ).alias("band", "h"),
    )
    # r10 rework: the bucket self-join's match rows already SAY which
    # coordinates agree — a (pair, band) row exists iff mh_band(a) ==
    # mh_band(b) — so the per-pair agreement BITMASK (sum of 2^band; each
    # coordinate matches at most once per pair) is computable in the same
    # aggregate that used to be `cand.distinct()`. Every config's band_hit
    # then becomes a bitwise test on the mask, which removes the two
    # 32-column signature joins the before-plan carried
    # (plans/r10/dedup_minhash_band_tuning_before.txt) — only the two
    # shingle-array verify joins remain (guide §2.3: shuffle keys and
    # metadata, not payloads).
    pair_mask = (
        buckets.select(F.col("doc_id").alias("doc_a"), "band", "h")
        .join(
            buckets.select(F.col("doc_id").alias("doc_b"), "band", "h"),
            ["band", "h"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.expr("shiftleft(1L, band)")).alias("mask"))
    )
    hits = {}
    for b_cnt, r in _TUNE_CONFIGS:
        band_hit = None
        for band in range(b_cnt):
            band_mask = sum(1 << (r * band + j) for j in range(r))
            h = (
                F.col("mask").bitwiseAND(F.lit(band_mask))
                == F.lit(band_mask)
            )
            band_hit = h if band_hit is None else (band_hit | h)
        hits[f"b{b_cnt}r{r}"] = band_hit
    n_docs = sig.count()  # cached-metadata read: sig is localCheckpointed
    scored = (
        pair_mask.join(
            broadcast_if_fits(
                hs_df.select(
                    F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a")
                ),
                n_docs,
                row_bytes=461,
            ),
            "doc_a",
        )
        .join(
            broadcast_if_fits(
                hs_df.select(
                    F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b")
                ),
                n_docs,
                row_bytes=461,
            ),
            "doc_b",
        )
        .select(
            *[expr.alias(cfg) for cfg, expr in hits.items()],
            (
                F.round(jaccard_arrays(F.col("sh_a"), F.col("sh_b")), 4) >= 0.5
            ).alias("is_true"),
        )
        # r11: no checkpoint here — `totals` below is scored's ONLY
        # consumer now (the r10 bitmask rework removed the other two), so
        # materializing the pair-space table bought nothing and cost one
        # extra write+read of the largest intermediate. The aggregate
        # pipelines straight off the verify join in one job.
    )
    # ONE aggregate pass computes all three configs' counts (the union of
    # three filtered aggregates scanned the scored table three
    # times); the 1-row totals frame is checkpointed so the 3-row reshape
    # union does not re-run the aggregate per branch.
    totals = scored.agg(
        *[
            e
            for cfg in hits
            for e in (
                F.sum(F.when(F.col(cfg), 1).otherwise(0))
                .cast("long")
                .alias(f"nc_{cfg}"),
                F.sum(
                    F.when(F.col(cfg) & F.col("is_true"), 1).otherwise(0)
                )
                .cast("long")
                .alias(f"nv_{cfg}"),
            )
        ]
    ).localCheckpoint(eager=True)
    out = None
    for b_cnt, r in _TUNE_CONFIGS:
        cfg = f"b{b_cnt}r{r}"
        # NULL semantics of the old filtered aggregate reproduced exactly:
        # count(*) over an empty set was 0 (never null) and sum(...) over an
        # empty set was NULL — a zero-candidate config must emit
        # (n_candidates=0, n_verified=NULL), as the oracle's sum() does.
        row = totals.select(
            F.lit(cfg).alias("config"),
            F.lit(b_cnt).cast("int").alias("b"),
            F.lit(r).cast("int").alias("r"),
            F.coalesce(F.col(f"nc_{cfg}"), F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            F.when(
                F.coalesce(F.col(f"nc_{cfg}"), F.lit(0).cast("long")) == 0,
                F.lit(None).cast("long"),
            )
            .otherwise(F.coalesce(F.col(f"nv_{cfg}"), F.lit(0).cast("long")))
            .alias("n_verified"),
        )
        out = row if out is None else out.unionAll(row)
    # ppm numerator widened to DECIMAL(38,0) (ADVICE r7 item 5 — the same
    # overflow class fixed in relational4.py's ppm shares): at large
    # candidate counts n_verified * 1e6 exceeds BIGINT, where Spark would
    # wrap silently while DuckDB's HUGEINT errors-or-widens.
    return out.select(
        "*",
        F.expr(
            "CAST(CAST(n_verified AS DECIMAL(38,0)) * 1000000"
            " DIV nullif(n_candidates, 0) AS BIGINT)"
        ).alias("precision_ppm"),
    )
