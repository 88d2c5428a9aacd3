"""Feature-engineering operators for training pipelines [EXT beyond
task.ts — the tabular-ML preprocessing surface]: leave-one-out + smoothed
target encoding, quantile-normalization mapping, and purged time-series
cross-validation splits.

All exact-integer (ppm / cents / epoch-day arithmetic), all oracle-checked.

Scale notes (100 TB):
- target encoding reduces to one combinable (category) aggregate; the
  per-row encode is a broadcast join against the category table — the
  LOO identity (sum-y_i)/(n-1) means the encoder state is category-sized,
  never row-sized, and the output here verifies every distinct encoded
  value each category can produce;
- the quantile mapping table is two discrete-quantile passes (group and
  pooled) joined on decile — the mapping artifact is O(groups × deciles)
  regardless of row count, and applying it downstream is a broadcast
  range join;
- the purged split is pure date arithmetic on the scan (no shuffle at
  all until the per-fold count), the same reason split_train_test is
  partition-layout-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query
from ..session import broadcast_if_fits

_FH_SEED = chain_seed("fh")


@query(
    "feature_target_encoding_loo",
    # Leave-one-out target encoding of o_orderpriority against the
    # order-finished flag,
    # verified COMPACTLY: a row's LOO value (sum - y_i) / (n - 1) depends
    # only on (category, y_i), so emitting the encoding per (category, y)
    # cell checks every distinct value the encoder can produce without a
    # row-sized result. Smoothed (m-estimate, m=100) encoding alongside,
    # all in floor-ppm integers.
    oracle="""
    WITH rows_y AS (
        SELECT o_orderpriority AS category,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ),
    cat AS (
        SELECT category, count(*) AS n_cat,
               CAST(sum(y) AS BIGINT) AS sum_y
        FROM rows_y GROUP BY category
    ),
    tot AS (
        SELECT CAST(sum(n_cat) AS BIGINT) AS n_tot,
               CAST(sum(sum_y) AS BIGINT) AS sum_tot
        FROM cat
    ),
    cells AS (SELECT DISTINCT category, y FROM rows_y)
    SELECT c.category, c.y,
           CAST(k.n_cat AS BIGINT) AS n_cat,
           k.sum_y,
           CAST(1000000 * (k.sum_y - c.y) // (k.n_cat - 1) AS BIGINT)
               AS loo_enc_ppm,
           CAST((1000000 * k.sum_y + 100 * (1000000 * t.sum_tot // t.n_tot))
                // (k.n_cat + 100) AS BIGINT) AS smooth_enc_ppm
    FROM cells c JOIN cat k USING (category), tot t
    """,
)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target encoding of a categorical feature (o_orderpriority) against
    a binary target (o_orderstatus = 'F'), in the two standard leakage-safe
    forms: leave-one-out ((sum - y_i)/(n - 1)) and m-estimate smoothing
    toward the global prior ((sum + m·prior)/(n + m), m = 100). Values in
    floor-ppm so both engines stay in exact integers.

    The output is the per-(category, target-value) encoding table — the
    complete value domain of the encoder — rather than a row-per-row
    encode, which is the same information at category scale instead of
    table scale."""
    rows_y = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    cat = rows_y.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_cat"),
        F.sum("y").cast("long").alias("sum_y"),
    )
    tot = cat.agg(
        F.sum("n_cat").cast("long").alias("n_tot"),
        F.sum("sum_y").cast("long").alias("sum_tot"),
    )
    cells = rows_y.distinct()
    return (
        cells.join(F.broadcast(cat), "category")
        .crossJoin(F.broadcast(tot))
        .select(
            "category",
            "y",
            F.col("n_cat").cast("long").alias("n_cat"),
            "sum_y",
            F.expr(
                "CAST(1000000 * (sum_y - y) div (n_cat - 1) AS BIGINT)"
            ).alias("loo_enc_ppm"),
            F.expr(
                "CAST((1000000 * sum_y + 100 * (1000000 * sum_tot div n_tot)) "
                "div (n_cat + 100) AS BIGINT)"
            ).alias("smooth_enc_ppm"),
        )
    )


@query(
    "feature_quantile_normalize_map",
    # Quantile normalization = map each group's distribution onto the
    # pooled reference by rank. The materialized artifact is this mapping
    # table: per (group, decile q/10), the group's discrete quantile value
    # and the pooled one. Discrete quantile = value at rank ceil(q·n/10)
    # (the repo-wide rank identity, ties broken by value order), so both
    # engines pick the identical element.
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS grp,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    g_ranked AS (
        SELECT grp, cents,
               row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY grp) AS n
        FROM v
    ),
    p_ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents) AS rn,
               count(*) OVER () AS n
        FROM v
    ),
    q(decile) AS (SELECT unnest(range(1, 11))),
    g_q AS (
        SELECT q.decile, r.grp, min(r.cents) AS group_value_cents
        FROM q JOIN g_ranked r
          ON r.rn = (q.decile * r.n + 9) // 10
        GROUP BY q.decile, r.grp
    ),
    p_q AS (
        SELECT q.decile, min(r.cents) AS pooled_value_cents
        FROM q JOIN p_ranked r
          ON r.rn = (q.decile * r.n + 9) // 10
        GROUP BY q.decile
    )
    SELECT g.grp, CAST(g.decile AS INT) AS decile,
           g.group_value_cents, p.pooled_value_cents,
           g.group_value_cents - p.pooled_value_cents AS shift_cents
    FROM g_q g JOIN p_q p USING (decile)
    """,
)
def feature_quantile_normalize_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization mapping table: for each group (l_returnflag)
    and decile, the group's discrete-quantile value next to the pooled
    reference value — the artifact quantile normalization materializes,
    applied downstream as a broadcast range join. Discrete quantile rank
    is ceil(q·n) = (q·n + 9) div 10 in decile units, exact both engines.

    Scale shape: two rank windows (one per-group, one pooled — the pooled
    one is the only global sort, the price of exact global quantiles;
    the sketch-based alternative is sketch_quantile_mergeable) feeding
    decile-rank equi-joins; output is O(groups × 10)."""
    v = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    from pyspark.sql import Window as W

    q = spark.range(1, 11).select(F.col("id").cast("int").alias("decile"))

    def decile_values(part_cols: list[str], out_col: str):
        # one shared implementation of the integer ceil-rank decile pick
        # (rank = (decile*n + 9) div 10, ties by value order); the pooled
        # side is the empty partition (review finding, r5: the group and
        # pooled copies had drifted apart by construction)
        w = W.partitionBy(*part_cols)
        ranked = v.select(
            *part_cols,
            "cents",
            F.row_number().over(w.orderBy("cents")).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n"),
        )
        return (
            F.broadcast(q)
            .join(ranked, F.col("rn") == F.expr("(decile * n + 9) div 10"))
            .groupBy("decile", *part_cols)
            .agg(F.min("cents").alias(out_col))
        )

    g_q = decile_values(["grp"], "group_value_cents")
    p_q = decile_values([], "pooled_value_cents")
    return g_q.join(F.broadcast(p_q), "decile").select(
        "grp",
        "decile",
        "group_value_cents",
        "pooled_value_cents",
        (F.col("group_value_cents") - F.col("pooled_value_cents")).alias(
            "shift_cents"
        ),
    )


@query(
    "split_time_purged",
    # Purged K-fold time-series CV (the de Prado construction): K=5
    # contiguous date folds; for each test fold, training rows within
    # EMBARGO=7 days of either fold boundary are PURGED so look-ahead
    # leakage through overlapping information horizons is impossible.
    # Everything is epoch-day integer arithmetic on the scan.
    oracle="""
    WITH d AS (
        SELECT CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day FROM orders
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    f AS (
        SELECT day,
               CAST((day - lo) * 5 // (hi - lo + 1) AS INT) AS fold
        FROM d, bounds
    ),
    fold_bounds AS (
        SELECT fold, min(day) AS f_lo, max(day) AS f_hi FROM f GROUP BY fold
    )
    SELECT b.fold,
           CAST(count(*) FILTER (WHERE r.fold = b.fold) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (
               WHERE r.fold <> b.fold
                 AND (r.day < b.f_lo - 7 OR r.day > b.f_hi + 7)) AS BIGINT)
               AS n_train,
           CAST(count(*) FILTER (
               WHERE r.fold <> b.fold
                 AND r.day >= b.f_lo - 7 AND r.day <= b.f_hi + 7) AS BIGINT)
               AS n_purged,
           b.f_lo AS test_lo_day, b.f_hi AS test_hi_day
    FROM fold_bounds b CROSS JOIN f r
    GROUP BY b.fold, b.f_lo, b.f_hi
    """,
)
def split_time_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-series K-fold split over order dates: 5 contiguous
    folds, 7-day embargo on both sides of each test fold; per fold the
    test/train/purged row counts and test-window bounds. Complements
    split_train_test (hash split) and split_group_preserving (entity
    split) with the leakage-safe TIME split a forecasting or
    market-data pipeline needs.

    Scale shape: fold assignment is scan-side integer arithmetic; the
    audit's fold × row cross join is 5 × rows, collapsed by one
    combinable aggregate — and the assignment itself (what a real split
    materializes) never shuffles at all."""
    d = load_table(spark, sf_dir, "orders").select(
        F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("day")
    )
    bounds = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    f = d.crossJoin(F.broadcast(bounds)).select(
        "day",
        F.expr("CAST((day - lo) * 5 div (hi - lo + 1) AS INT)").alias("fold"),
    )
    fold_bounds = f.groupBy("fold").agg(
        F.min("day").alias("f_lo"), F.max("day").alias("f_hi")
    )
    b = F.broadcast(
        fold_bounds.select(
            F.col("fold").alias("b_fold"), "f_lo", "f_hi"
        )
    )
    joined = b.crossJoin(f)
    return joined.groupBy("b_fold", "f_lo", "f_hi").agg(
        F.sum(F.when(F.col("fold") == F.col("b_fold"), 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.sum(
            F.when(
                (F.col("fold") != F.col("b_fold"))
                & (
                    (F.col("day") < F.col("f_lo") - 7)
                    | (F.col("day") > F.col("f_hi") + 7)
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_train"),
        F.sum(
            F.when(
                (F.col("fold") != F.col("b_fold"))
                & (F.col("day") >= F.col("f_lo") - 7)
                & (F.col("day") <= F.col("f_hi") + 7),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_purged"),
    ).select(
        F.col("b_fold").alias("fold"),
        "n_test",
        "n_train",
        "n_purged",
        F.col("f_lo").alias("test_lo_day"),
        F.col("f_hi").alias("test_hi_day"),
    )


@query(
    "feature_point_in_time",
    # The feature-store training snapshot: per customer, behavioral
    # features computed STRICTLY BEFORE a cutoff date and a label window
    # strictly after it — the point-in-time discipline that keeps training
    # data leakage-free. All date math in epoch days, money in cents;
    # customers with no pre-cutoff history are excluded (no features to
    # snapshot), exactly like a production feature store would.
    oracle="""
    WITH o AS (
        SELECT o_custkey,
               CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    cutoff AS (SELECT CAST(epoch(TIMESTAMP '1997-01-01') // 86400 AS BIGINT)
                   AS cut)
    SELECT o_custkey,
           CAST(count(*) FILTER (WHERE day < cut) AS BIGINT) AS n_orders_pre,
           CAST(count(*) FILTER (WHERE day >= cut - 90 AND day < cut)
                AS BIGINT) AS n_orders_90d,
           CAST(coalesce(sum(cents) FILTER (
                WHERE day >= cut - 90 AND day < cut), 0) AS BIGINT)
               AS spend_cents_90d,
           CAST(cut - max(day) FILTER (WHERE day < cut) AS BIGINT)
               AS recency_days,
           CAST(cut - min(day) FILTER (WHERE day < cut) AS BIGINT)
               AS tenure_days,
           CAST(CASE WHEN count(*) FILTER (
                    WHERE day >= cut AND day < cut + 90) > 0
                THEN 1 ELSE 0 END AS INT) AS label_active_90d
    FROM o, cutoff
    GROUP BY o_custkey, cut
    HAVING count(*) FILTER (WHERE day < cut) > 0
    """,
)
def feature_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training snapshot per customer: order count /
    90-day spend / recency / tenure features computed strictly BEFORE the
    1997-01-01 cutoff, and the churn-style label (ordered again within 90
    days) computed strictly AFTER it. The leakage rule every feature
    store exists to enforce, as one conditional-aggregate pass.

    Scale shape: ONE combinable groupBy over the fact table — every
    feature and the label are conditional aggregates of the same shuffle;
    at 100 TB this runs per cutoff with no joins at all (and multiple
    cutoffs batch as a spine crossJoin, the split_time_purged shape)."""
    cut = 9862  # epoch day of 1997-01-01, fixed with the oracle's literal
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("day"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pre = F.col("day") < cut
    w90 = (F.col("day") >= cut - 90) & pre
    post90 = (F.col("day") >= cut) & (F.col("day") < cut + 90)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.sum(pre.cast("int")).cast("long").alias("n_orders_pre"),
            F.sum(w90.cast("int")).cast("long").alias("n_orders_90d"),
            F.coalesce(
                F.sum(F.when(w90, F.col("cents"))), F.lit(0)
            ).cast("long").alias("spend_cents_90d"),
            (F.lit(cut) - F.max(F.when(pre, F.col("day"))))
            .cast("long")
            .alias("recency_days"),
            (F.lit(cut) - F.min(F.when(pre, F.col("day"))))
            .cast("long")
            .alias("tenure_days"),
            (F.sum(post90.cast("int")) > 0).cast("int").alias("label_active_90d"),
        )
        .filter(F.col("n_orders_pre") > 0)
    )


@query(
    "join_asof_directions",
    # The full as-of join direction family over one probe set: per
    # customer, a deterministic anchor date (1995-01-01 + custkey%365
    # days), then the BACKWARD match (latest order <= anchor), the FORWARD
    # match (earliest order > anchor), the NEAREST match (smaller absolute
    # day gap, ties to backward — the tie rule spelled out, not implied),
    # and a 30-day tolerance flag on the chosen side. join_asof_latest_order
    # is the backward special case; this pins all three semantics at once.
    oracle="""
    WITH probe AS (
        SELECT c_custkey,
               CAST(epoch(TIMESTAMP '1995-01-01') // 86400 + c_custkey % 365
                    AS BIGINT) AS anchor_day
        FROM customer
    ),
    o AS (
        SELECT o_custkey, CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day
        FROM orders
    ),
    m AS (
        SELECT p.c_custkey, p.anchor_day,
               max(o.day) FILTER (WHERE o.day <= p.anchor_day) AS back_day,
               min(o.day) FILTER (WHERE o.day > p.anchor_day) AS fwd_day
        FROM probe p JOIN o ON o.o_custkey = p.c_custkey
        GROUP BY p.c_custkey, p.anchor_day
    )
    SELECT c_custkey, anchor_day, back_day, fwd_day,
           CASE WHEN back_day IS NULL THEN fwd_day
                WHEN fwd_day IS NULL THEN back_day
                WHEN anchor_day - back_day <= fwd_day - anchor_day
                    THEN back_day
                ELSE fwd_day END AS nearest_day,
           CAST(back_day IS NOT NULL
                AND anchor_day - back_day <= 30 AS BOOLEAN)
               AS back_within_30d
    FROM m
    """,
)
def join_asof_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, all three direction semantics in one pass: backward
    (latest at-or-before), forward (earliest after), nearest (smaller
    absolute gap, ties resolved to backward — stated, not engine-implied),
    plus a 30-day backward-tolerance flag. Probe anchors are deterministic
    per-customer dates so the query is a pure function of the fixture.

    Scale shape: one equi-join on the customer key followed by one
    combinable conditional-aggregate — the direction logic is all
    conditional min/max, so the as-of family costs exactly one shuffle
    regardless of which semantics a caller picks; no window, no
    per-direction re-scan. Customers with no orders drop out in the inner
    join (both sides NULL carries no information)."""
    probe = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(9131) + F.col("c_custkey") % 365).cast("long").alias("anchor_day"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("day"),
    )
    m = (
        probe.join(o, probe["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", "anchor_day")
        .agg(
            F.max(F.when(F.col("day") <= F.col("anchor_day"), F.col("day"))).alias(
                "back_day"
            ),
            F.min(F.when(F.col("day") > F.col("anchor_day"), F.col("day"))).alias(
                "fwd_day"
            ),
        )
    )
    nearest = (
        F.when(F.col("back_day").isNull(), F.col("fwd_day"))
        .when(F.col("fwd_day").isNull(), F.col("back_day"))
        .when(
            F.col("anchor_day") - F.col("back_day")
            <= F.col("fwd_day") - F.col("anchor_day"),
            F.col("back_day"),
        )
        .otherwise(F.col("fwd_day"))
    )
    return m.select(
        "c_custkey",
        "anchor_day",
        "back_day",
        "fwd_day",
        nearest.alias("nearest_day"),
        (
            F.col("back_day").isNotNull()
            & (F.col("anchor_day") - F.col("back_day") <= 30)
        ).alias("back_within_30d"),
    )


@query(
    "feature_hashing_trick",
    # The hashing trick (Weinberger et al. 2009): token t contributes
    # sign(h) to dimension h mod D, D fixed at 64 — the unbounded
    # vocabulary maps to a FIXED feature width with no dictionary to
    # build, ship, or keep consistent across 100 TB of shards. Sign from
    # the hash's top bit (unbiased, and what cancels collision noise in
    # expectation). Cross-engine exact via the xxh64 macros:
    # Spark xxhash64(lit('fh'), tok) == xxh64_u(tok, chain_seed('fh')).
    oracle=XXH64_MACROS
    + f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               (xxh64_u(encode(tok), {_FH_SEED}::UBIGINT) % 64)::INT AS dim,
               CASE WHEN (xxh64_u(encode(tok), {_FH_SEED}::UBIGINT) >> 63) = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM toks
    )
    SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS value
    FROM hashed GROUP BY doc_id, dim
    HAVING sum(sgn) != 0
    """,
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words features, D=64, signed: the sparse (doc_id,
    dim, value) triples a linear model trains on without any vocabulary
    coordination — the dictionary-free encoder that makes streaming /
    multi-shard featurization embarrassingly parallel (no broadcast
    vocab, no OOV bucket). Token OCCURRENCES count (term frequency), not
    distinct tokens; zero-sum dims are dropped as in any sparse format.

    Exactness: dim = pmod(hash, 64) and sign = top hash bit are pure
    integer functions of xxhash64, replayed by the DuckDB macros. The
    unsigned hash mod 64 equals Spark's pmod on the signed value because
    2^64 is divisible by 64 (the same power-of-two argument the Bloom/
    IBLT positions rely on via explicit pmod). One explode + one
    combinable (doc, dim) aggregate — no joins, no windows."""
    from ..functions.shingles import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    h = F.xxhash64(F.lit("fh"), F.col("tok"))
    hashed = d.select(
        "doc_id",
        F.pmod(h, F.lit(64)).cast("int").alias("dim"),
        F.when(F.shiftrightunsigned(h, 63) == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "dim")
        .agg(F.sum("sgn").cast("long").alias("value"))
        .filter(F.col("value") != 0)
    )


# Per-mode WOE and IV term as ONE shared double expression each over the
# row's exact integers plus the broadcast totals; nullif guards BOTH the
# numerator and the denominator (ADVICE r6): a category with n_good = 0
# makes the log argument exactly 0, which DuckDB rejects out-of-range
# while Spark returns NULL — nullif makes it NULL in both engines.
_WOE = (
    "ln(nullif(CAST(n_good AS DOUBLE) * b_tot, 0)"
    " / nullif(CAST(n_bad AS DOUBLE) * g_tot, 0))"
)
_IV_TERM = (
    "(CAST(n_good AS DOUBLE) / nullif(g_tot, 0)"
    f" - CAST(n_bad AS DOUBLE) / nullif(b_tot, 0)) * ({_WOE})"
)


@query(
    "feature_woe_iv",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_bad
        FROM orders
    ),
    per AS (
        SELECT o_orderpriority,
               CAST(count(*) FILTER (WHERE is_bad = 0) AS BIGINT) AS n_good,
               CAST(count(*) FILTER (WHERE is_bad = 1) AS BIGINT) AS n_bad
        FROM base GROUP BY o_orderpriority
    ),
    tot AS (
        SELECT CAST(sum(n_good) AS BIGINT) AS g_tot,
               CAST(sum(n_bad) AS BIGINT) AS b_tot
        FROM per
    )
    SELECT o_orderpriority, n_good, n_bad,
           {_WOE} AS woe,
           {_IV_TERM} AS iv_term
    FROM per, tot
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value per order priority against
    the fulfilled-status target (o_orderstatus = 'F') — the
    credit-scoring / feature-selection encoding: WOE_j =
    ln((g_j/G)/(b_j/B)) says which way category j leans, its IV term
    (g_j/G - b_j/B)*WOE_j says how much separating power it carries.
    The supervised sibling of feature_target_encoding_loo (which encodes
    the RATE; WOE encodes the log-odds SHIFT, additive in logistic
    models - why scorecards use it).

    Float discipline: per-category counts are exact integers from ONE
    combinable aggregate; WOE and the IV term are one shared double
    expression each, evaluated per category row against the broadcast
    totals, nullif-guarded for empty cells. No float is ever aggregated
    ACROSS categories inside the query (the IV total is a k-term sum a
    consumer adds at metadata scale - k is the category count).

    Shape at 100 TB: one groupBy over facts, a 1-row broadcast of
    totals, k output rows.
    """
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("is_bad"),
    )
    per = base.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("is_bad") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum("is_bad").cast("long").alias("n_bad"),
    )
    tot = per.agg(
        F.sum("n_good").cast("long").alias("g_tot"),
        F.sum("n_bad").cast("long").alias("b_tot"),
    )
    return per.crossJoin(F.broadcast(tot)).selectExpr(
        "o_orderpriority",
        "n_good",
        "n_bad",
        f"{_WOE} AS woe",
        f"{_IV_TERM} AS iv_term",
    )


# --- wave 45 (round 8) ---

_KFOLD_K = 5


@query(
    "feature_kfold_assignment",
    oracle=XXH64_MACROS
    + f"""
    WITH folded AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
               CAST(((xxh64_long(doc_id, 42::UBIGINT) % {_KFOLD_K})
                     + {_KFOLD_K}) % {_KFOLD_K} AS INT) AS fold
        FROM documents
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_all,
               CAST(sum(n_chars) AS BIGINT) AS chars_all
        FROM folded
    )
    SELECT f.fold,
           CAST(count(*) AS BIGINT) AS n_val_docs,
           CAST(sum(f.n_chars) AS BIGINT) AS val_chars,
           CAST(count(DISTINCT f.lang) AS BIGINT) AS n_val_langs,
           CAST(min(f.doc_id) AS BIGINT) AS min_doc_id,
           CAST(t.n_all - count(*) AS BIGINT) AS n_train_docs,
           CAST(t.chars_all - sum(f.n_chars) AS BIGINT) AS train_chars
    FROM folded f CROSS JOIN tot t
    GROUP BY f.fold, t.n_all, t.chars_all
    """,
)
def feature_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment over the corpus:
    fold = xxhash64(doc_id) mod {_KFOLD_K} — the eval-carving primitive
    between split_train_test's single holdout and split_time_purged's
    temporal folds. Hash assignment makes folds REPRODUCIBLE across
    engines, reruns, and cluster sizes (no rand(), no partition-order
    dependence), folds are disjoint and exhaustive by construction, and
    each fold's validation/train complements are reported so the
    standard k-fold loop can budget per-fold token counts before any
    training run.

    Scale shape: one map-side fold projection + one combinable aggregate;
    the totals ride in via a broadcast 1-row cross join. Nothing
    shuffles but the k-row aggregate.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )
    folded = d.withColumn(
        "fold",
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(_KFOLD_K)).cast("int"),
    )
    tot = folded.agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("n_chars").cast("long").alias("chars_all"),
    )
    return (
        folded.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_val_docs"),
            F.sum("n_chars").cast("long").alias("val_chars"),
            F.countDistinct("lang").cast("long").alias("n_val_langs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "fold",
            "n_val_docs",
            "val_chars",
            "n_val_langs",
            "min_doc_id",
            (F.col("n_all") - F.col("n_val_docs")).alias("n_train_docs"),
            (F.col("chars_all") - F.col("val_chars")).alias("train_chars"),
        )
    )


# --- wave 48 (round 9) ---

_CV_MIN_DF = 25
_CV_MAX_DF = 400


@query(
    "feature_count_vectorizer_df",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, u.t
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS ts
              FROM documents) d, UNNEST(d.ts) AS u(t)
        WHERE u.t <> ''
    ),
    occ AS (
        SELECT doc_id, t, CAST(count(*) AS BIGINT) AS cnt
        FROM tok GROUP BY doc_id, t
    ),
    df AS (
        SELECT t, CAST(count(*) AS BIGINT) AS df
        FROM occ GROUP BY t
        HAVING count(*) BETWEEN {_CV_MIN_DF} AND {_CV_MAX_DF}
    ),
    vocab AS (
        SELECT t, df,
               CAST(row_number() OVER (ORDER BY df DESC, t) AS BIGINT)
                   AS vocab_id
        FROM df
    )
    SELECT o.doc_id,
           CAST(count(*) AS BIGINT) AS n_vocab_terms,
           CAST(sum(o.cnt) AS BIGINT) AS total_count,
           CAST(sum(v.vocab_id * o.cnt) AS BIGINT) AS vector_checksum
    FROM occ o JOIN vocab v ON v.t = o.t
    GROUP BY o.doc_id
    ORDER BY o.doc_id
    """,
)
def feature_count_vectorizer_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency-pruned count vectorization (the CountVectorizer
    feature kernel): the vocabulary keeps tokens with document frequency
    in [{_CV_MIN_DF}, {_CV_MAX_DF}] (the min-df noise gate + max-df
    stopword gate), ids assigned by (df desc, token) exactly as MLlib's
    CountVectorizer orders its vocabulary; each document reports its
    in-vocabulary term count, total occurrence mass, and the
    position-weighted checksum sum(vocab_id · count) — the sparse vector
    itself, pinned into one hashable integer per doc.

    Scale shape: occurrence counts are one (doc, token) combinable
    aggregate; the vocabulary is a REDUCTION (distinct frequent tokens)
    small enough to broadcast back — at 100 TB the vocab table is the
    classic broadcast dim, and vectorization is a map-side join. The
    vocab_id window runs over the vocabulary only, never the corpus.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), " ")).alias("t"),
    ).filter(F.col("t") != "")
    occ = tok.groupBy("doc_id", "t").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    df_t = (
        occ.groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(
            (F.col("df") >= _CV_MIN_DF) & (F.col("df") <= _CV_MAX_DF)
        )
    )
    vocab = df_t.withColumn(
        "vocab_id",
        F.row_number()
        .over(W.orderBy(F.col("df").desc(), F.col("t")))
        .cast("long"),
    ).localCheckpoint(eager=True)
    return (
        occ.join(broadcast_if_fits(vocab, vocab.count(), row_bytes=32), "t")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vocab_terms"),
            F.sum("cnt").cast("long").alias("total_count"),
            F.sum(F.col("vocab_id") * F.col("cnt"))
            .cast("long")
            .alias("vector_checksum"),
        )
        .orderBy("doc_id")
    )
