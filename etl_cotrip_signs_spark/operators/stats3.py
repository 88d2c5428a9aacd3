"""Nonparametric + resampling inference operators [EXT beyond task.ts —
engine surface breadth]: Mann-Whitney U with exact midranks, Spearman
rank correlation, a deterministic sign-flip permutation test, lagged
cross-correlation between two daily series, Wilcoxon signed-rank (the
paired twin of Mann-Whitney), Kruskal-Wallis (the k-sample
generalization), and one-way ANOVA F (the parametric k-sample twin).

Companions to stats2.py's parametric tests (Welch t, OLS): these are the
rank/resampling half of the analyst's inference toolbox — what you reach
for when the value distribution is skewed (ranks) or when you refuse
distributional assumptions entirely (permutation). The shared discipline
is stat_corr_moments': every data-dependent reduction is an EXACT
integer (doubled midranks so ties never produce .5; BIGINT /
DECIMAL(38,0) Spark-side, HUGEINT-cast-back in DuckDB), and each final
float is ONE textually identical double expression on both engines.

The permutation test's "randomness" is xxhash64 over (user_id*64 + b) —
Spark's builtin replayed bit-for-bit by the DuckDB XXH64 macros
(functions/xxh64_sql.py), so a Monte-Carlo procedure becomes
hash-oracle-checkable: both engines enumerate the SAME 64 sign
assignments. This is the md5-bucket determinism rule
(sample_stratified / events_ab_test_lift) applied to resampling
inference.

Scale notes (100 TB):
- Mann-Whitney reduces the fact table to the distinct-value count table
  (the drift_ks_exact shape); the single-partition prefix window runs
  over values, not rows — bounded by the value domain, and a 1e6-cell
  milli-unit domain is metadata next to the fact table.
- Spearman's ranks need two sorts per group (one per variable) — that is
  the honest cost of rank statistics; both windows share the group
  partitioning so the second sort is within-partition. The moment
  aggregate then ships 6 numbers per group.
- The permutation test is one per-user reduction (the shuffle
  sessionization already pays) followed by a 64x replicate explode of
  the per-user table — combinable aggregate per replicate, never a
  second pass over facts. B=64 replicates bound the blow-up; the
  resolution (p in units of 1/64) is stated in the output.
- Cross-correlation runs entirely on the per-day aggregate (calendar-
  bounded): 15 lags x |days| rows is metadata regardless of event
  volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query

_EPOCH = "1970-01-01"

# z-statistic with the standard tie correction, as one shared double
# expression over the exact integers (u2_a is the DOUBLED U so the /2
# happens in float exactly once, like the doubled-midrank literature
# form). Kept textually identical in Spark selectExpr and DuckDB SELECT.
_MWU_Z = (
    "(CAST(u2_a AS DOUBLE) - CAST(n_a AS DOUBLE) * n_b) / 2"
    " / sqrt(CAST(n_a AS DOUBLE) * n_b / 12"
    " * ((n_a + n_b + 1)"
    " - CAST(tt AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1))))"
)


@query(
    "stat_mann_whitney_u",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(floor(value * 1000) AS BIGINT) AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ib
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    per AS (
        SELECT x, sum(ia) AS ca, sum(ib) AS cb, count(*) AS c
        FROM vals GROUP BY x
    ),
    ranked AS (
        SELECT x, ca, cb, c,
               coalesce(sum(c) OVER (
                   ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cumc
        FROM per
    ),
    m AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               CAST(sum(ca * (2 * cumc + c + 1)) AS BIGINT) AS r2_a,
               CAST(sum(c * c * c - c) AS BIGINT) AS tt
        FROM ranked
    ),
    u AS (
        SELECT n_a, n_b, tt,
               r2_a - n_a * (n_a + 1) AS u2_a,
               2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b
        FROM m
    )
    SELECT n_a, n_b, u2_a, u2_b, tt, {_MWU_Z} AS z_stat FROM u
    """,
)
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (purchase vs click event values) with EXACT
    tie-corrected midranks — the rank-based twin of stats_welch_ttest,
    insensitive to the value distribution's shape.

    Midranks are kept DOUBLED so ties never create half-integers: a tie
    group of size c whose exclusive prefix count is cumc has doubled
    midrank 2*cumc + c + 1, an odd integer. R2_a = sum over the a-arm,
    and 2*U_a = R2_a - n_a(n_a+1) stays exactly integer. The normal
    z-approximation (standard tie-corrected variance) is the one shared
    double expression; the tie term sum(c^3 - c) rides along exactly.

    Shape: facts reduce to the per-distinct-value (ca, cb) table; one
    prefix window over values (the drift_ks_exact merged-CDF shape);
    the output is a single row.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            F.floor(F.col("value") * 1000).cast("long").alias("x"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ib"),
        )
    )
    per = ev.groupBy("x").agg(
        F.sum("ia").alias("ca"),
        F.sum("ib").alias("cb"),
        F.count(F.lit(1)).alias("c"),
    )
    w = W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
    ranked = per.withColumn("cumc", F.coalesce(F.sum("c").over(w), F.lit(0)))
    m = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("cumc") + F.col("c") + 1))
        .cast("long")
        .alias("r2_a"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tt"),
    )
    u = m.selectExpr(
        "n_a",
        "n_b",
        "tt",
        "r2_a - n_a * (n_a + 1) AS u2_a",
        "2 * n_a * n_b - (r2_a - n_a * (n_a + 1)) AS u2_b",
    )
    return u.selectExpr("n_a", "n_b", "u2_a", "u2_b", "tt", f"{_MWU_Z} AS z_stat")


_SPEAR_RHO = (
    "CAST(n * sxy - srx * sry AS DOUBLE)"
    " / sqrt(CAST(n * sxx - srx * srx AS DOUBLE)"
    " * CAST(n * syy - sry * sry AS DOUBLE))"
)


@query(
    "stat_spearman_rank",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS xq,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS yc
        FROM lineitem
    ),
    ranked AS (
        SELECT l_returnflag,
               2 * rank() OVER (PARTITION BY l_returnflag ORDER BY xq)
                 + count(*) OVER (PARTITION BY l_returnflag, xq) - 1 AS rx,
               2 * rank() OVER (PARTITION BY l_returnflag ORDER BY yc)
                 + count(*) OVER (PARTITION BY l_returnflag, yc) - 1 AS ry
        FROM base
    ),
    m AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(rx) AS srx, sum(ry) AS sry,
               sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
               sum(rx * ry) AS sxy
        FROM ranked GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n,
           CAST(CAST(n * sxy - srx * sry AS HUGEINT) AS VARCHAR) AS num,
           {_SPEAR_RHO} AS rho
    FROM m
    """,
)
def stat_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs price, per returnflag) via
    Pearson on DOUBLED midranks — the robust twin of stat_corr_moments,
    invariant to any monotone transform of either variable.

    A tie group of size t starting at dense position r has midrank
    r + (t-1)/2; doubled, 2*rank() + count_ties - 1 — an integer, so the
    moment sums stay exact (the doubling cancels in rho: numerator and
    both variance terms each carry the factor 4). rho is the one shared
    double expression; the exact integer numerator rides as a string
    (HUGEINT->pandas is lossy float64, the stat_corr_moments rule).

    Shape: two within-group sorts (the honest cost of ranks — both
    windows share the group partitioning), then a 6-number moment
    aggregate per group. At 100 TB the rank windows are the cost of ONE
    extra sort over a repartitioned-by-group table; the alternative
    two-pass join-by-value formulation reads facts twice and is rejected.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("xq"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("yc"),
    )
    ranked = li.select(
        "l_returnflag",
        (
            2 * F.rank().over(W.partitionBy("l_returnflag").orderBy("xq"))
            + F.count(F.lit(1)).over(W.partitionBy("l_returnflag", "xq"))
            - 1
        ).alias("rx"),
        (
            2 * F.rank().over(W.partitionBy("l_returnflag").orderBy("yc"))
            + F.count(F.lit(1)).over(W.partitionBy("l_returnflag", "yc"))
            - 1
        ).alias("ry"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("rx"))).alias("srx"),
        F.sum(dec(F.col("ry"))).alias("sry"),
        F.sum(dec(F.col("rx") * F.col("rx"))).alias("sxx"),
        F.sum(dec(F.col("ry") * F.col("ry"))).alias("syy"),
        F.sum(dec(F.col("rx") * F.col("ry"))).alias("sxy"),
    )
    return m.selectExpr(
        "l_returnflag",
        "n",
        "CAST(CAST(n * sxy - srx * sry AS DECIMAL(38,0)) AS STRING) AS num",
        f"{_SPEAR_RHO} AS rho",
    )


_SF_SEED = chain_seed("sf")
_SF_B = 64  # replicates; p-value resolution 1/64, stated in the output


@query(
    "stat_signflip_permutation",
    oracle=XXH64_MACROS
    + f"""
    WITH diffs AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(floor(value * 1000) AS BIGINT)
                             ELSE 0 END)
                  - sum(CASE WHEN event_type = 'click'
                             THEN CAST(floor(value * 1000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS d
        FROM events
        WHERE event_type IN ('purchase', 'click')
        GROUP BY user_id
    ),
    obs AS (
        SELECT CAST(sum(d) AS BIGINT) AS t_obs, count(*) AS n_users
        FROM diffs
    ),
    reps AS (
        SELECT b.b,
               CAST(sum(CASE WHEN xxh64_long(
                        user_id * {_SF_B} + b.b, {_SF_SEED}::UBIGINT) >= 0
                    THEN d ELSE -d END) AS BIGINT) AS t_rep
        FROM diffs
        CROSS JOIN (SELECT unnest(range(0, {_SF_B})) AS b) b
        GROUP BY b.b
    )
    SELECT CAST(n_users AS BIGINT) AS n_users,
           t_obs AS t_obs_milli,
           CAST({_SF_B} AS BIGINT) AS n_replicates,
           CAST((SELECT count(*) FROM reps
                 WHERE abs(t_rep) >= abs(obs.t_obs)) AS BIGINT)
               AS n_as_extreme,
           CAST((SELECT min(t_rep) FROM reps) AS BIGINT) AS t_rep_min,
           CAST((SELECT max(t_rep) FROM reps) AS BIGINT) AS t_rep_max
    FROM obs
    """,
)
def stat_signflip_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sign-flip permutation test on the per-user
    purchase-minus-click value difference — distribution-free
    significance for events_ab_test_lift's effect, with ZERO
    distributional assumptions (the rank tests still assume
    exchangeability of shapes).

    Under H0 the per-user differences are sign-symmetric, so T = sum(d_u)
    is compared against replicates that flip each user's sign. The flips
    are xxhash64('sf', user_id*64 + b) >= 0 — Spark's builtin replayed
    bit-for-bit by the DuckDB macros — so both engines enumerate the SAME
    64 replicates and the whole Monte-Carlo procedure hash-matches
    (the md5-bucket determinism rule applied to resampling). p-value
    resolution is 1/64; n_as_extreme rides with n_replicates so the
    reader forms p = (n_as_extreme)/64 themselves.

    Shape at 100 TB: one per-user reduction over facts (combinable),
    then a 64x explode of the per-user table into one combinable
    aggregate per replicate — the replicate pass never re-reads facts.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1000).cast("long"),
            )
            .otherwise(-F.floor(F.col("value") * 1000).cast("long"))
            .alias("sd"),
        )
    )
    diffs = ev.groupBy("user_id").agg(F.sum("sd").cast("long").alias("d"))
    diffs = diffs.localCheckpoint(eager=True)  # obs + reps both read it
    obs = diffs.agg(
        F.sum("d").cast("long").alias("t_obs_milli"),
        F.count(F.lit(1)).alias("n_users"),
    )
    reps = (
        diffs.withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(_SF_B - 1)))
        )
        .withColumn(
            "s",
            F.when(
                F.xxhash64(
                    F.lit("sf"),
                    (F.col("user_id") * _SF_B + F.col("b")).cast("long"),
                )
                >= 0,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        .groupBy("b")
        .agg(F.sum(F.col("s") * F.col("d")).cast("long").alias("t_rep"))
    )
    summary = reps.agg(
        F.min("t_rep").cast("long").alias("t_rep_min"),
        F.max("t_rep").cast("long").alias("t_rep_max"),
    )
    # The extreme-count needs |t_obs| beside every replicate: broadcast the
    # 1-row obs (the documented 1-row metric-merge crossJoin pattern).
    extreme = (
        reps.crossJoin(F.broadcast(obs))
        .filter(F.abs(F.col("t_rep")) >= F.abs(F.col("t_obs_milli")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_as_extreme"))
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .crossJoin(F.broadcast(summary))
        .select(
            F.col("n_users").cast("long").alias("n_users"),
            "t_obs_milli",
            F.lit(_SF_B).cast("long").alias("n_replicates"),
            "n_as_extreme",
            "t_rep_min",
            "t_rep_max",
        )
    )


_XCORR_R = (
    "CAST(n_pairs * sab - sa * sb AS DOUBLE)"
    " / sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE)"
    " * CAST(n_pairs * sbb - sb * sb AS DOUBLE))"
)


@query(
    "events_cross_correlation",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '{_EPOCH}' AS BIGINT) AS day,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(floor(value * 1000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM events GROUP BY CAST(ts AS DATE)
    ),
    pairs AS (
        SELECT lg.lag_days, l.a AS a, r.b AS b
        FROM daily l
        CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag_days) lg
        JOIN daily r ON r.day = l.day + lg.lag_days
    ),
    m AS (
        SELECT lag_days, count(*) AS n_pairs,
               sum(a) AS sa, sum(b) AS sb,
               sum(a * a) AS saa, sum(b * b) AS sbb,
               sum(a * b) AS sab
        FROM pairs GROUP BY lag_days
    )
    SELECT CAST(lag_days AS BIGINT) AS lag_days,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           {_XCORR_R} AS corr_ab
    FROM m
    """,
)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily purchase-revenue series
    and the daily click-count series, lags -7..+7 — the does-marketing-
    lead-revenue diagnostic beside events_autocorr_lag1's self-version.

    Day buckets are epoch-day arithmetic (the seasonality rule: calendar
    builtins disagree across engines). Pairing is an inner join on the
    day table with itself shifted by each lag — days absent from the data
    drop out identically in both engines, so no zero-fill convention is
    needed. Per lag, Pearson r comes from exact integer moments
    (DECIMAL(38,0)-widened) with the one shared double expression.

    Shape at 100 TB: facts reduce once to the per-day aggregate
    (calendar-bounded); everything after runs on |days| x 15 rows —
    metadata. The moments are per-lag combinable aggregates.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(
            f"CAST(datediff(CAST(ts AS DATE), DATE '{_EPOCH}') AS BIGINT)"
        ).alias("day")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1000).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    daily = daily.localCheckpoint(eager=True)  # both sides of the self-join
    left = daily.withColumn(
        "lag_days", F.explode(F.sequence(F.lit(-7), F.lit(7)))
    ).select("lag_days", (F.col("day") + F.col("lag_days")).alias("rday"), "a")
    right = daily.select(F.col("day").alias("rday"), "b")
    pairs = left.join(right, "rday")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = pairs.groupBy("lag_days").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(dec(F.col("a"))).alias("sa"),
        F.sum(dec(F.col("b"))).alias("sb"),
        F.sum(dec(F.col("a") * F.col("a"))).alias("saa"),
        F.sum(dec(F.col("b") * F.col("b"))).alias("sbb"),
        F.sum(dec(F.col("a") * F.col("b"))).alias("sab"),
    )
    return m.selectExpr(
        "CAST(lag_days AS BIGINT) AS lag_days",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        f"{_XCORR_R} AS corr_ab",
    )


_WSR_Z = (
    "(CAST(w2p AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4)"
    " / nullif(sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24"
    " - CAST(tt AS DOUBLE) / 48), 0)"
)


@query(
    "stat_wilcoxon_signed_rank",
    oracle=f"""
    WITH diffs AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(floor(value * 1000) AS BIGINT)
                             ELSE 0 END)
                  - sum(CASE WHEN event_type = 'click'
                             THEN CAST(floor(value * 1000) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS d
        FROM events
        WHERE event_type IN ('purchase', 'click')
        GROUP BY user_id
    ),
    nz AS (
        SELECT abs(d) AS ad, CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos
        FROM diffs WHERE d <> 0
    ),
    per AS (
        SELECT ad, sum(pos) AS cp, count(*) AS c FROM nz GROUP BY ad
    ),
    ranked AS (
        SELECT ad, cp, c,
               coalesce(sum(c) OVER (
                   ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cumc
        FROM per
    ),
    m AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(cp) AS BIGINT) AS n_pos,
               CAST(sum(cp * (2 * cumc + c + 1)) AS BIGINT) AS w2p,
               CAST(sum(c * c * c - c) AS BIGINT) AS tt
        FROM ranked
    )
    SELECT n, n_pos, w2p, tt, {_WSR_Z} AS z_stat FROM m
    """,
)
def stat_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the per-user purchase-minus-click
    milli-value difference — the PAIRED twin of stat_mann_whitney_u and
    the rank-based twin of stat_signflip_permutation's T: same per-user
    reduction, but the statistic ranks |d| instead of enumerating flips.

    Zero differences drop (the standard convention); |d| gets DOUBLED
    midranks over its distinct-value count table (2*cumc + c + 1, exactly
    the Mann-Whitney machinery), and 2*W+ = sum of doubled midranks where
    d > 0 stays exactly integer. z uses the standard tie-corrected
    variance n(n+1)(2n+1)/24 - sum(c^3-c)/48 as the one shared double
    expression.

    Shape at 100 TB: one combinable per-user reduction over facts, then
    the per-distinct-|d| count table (bounded by the value domain) and
    one prefix window over it — the drift_ks_exact shape again.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            "user_id",
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1000).cast("long"),
            )
            .otherwise(-F.floor(F.col("value") * 1000).cast("long"))
            .alias("sd"),
        )
    )
    diffs = ev.groupBy("user_id").agg(F.sum("sd").cast("long").alias("d"))
    nz = diffs.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"),
        F.when(F.col("d") > 0, 1).otherwise(0).alias("pos"),
    )
    per = nz.groupBy("ad").agg(
        F.sum("pos").alias("cp"), F.count(F.lit(1)).alias("c")
    )
    w = W.orderBy("ad").rowsBetween(W.unboundedPreceding, -1)
    ranked = per.withColumn("cumc", F.coalesce(F.sum("c").over(w), F.lit(0)))
    m = ranked.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("cp").cast("long").alias("n_pos"),
        F.sum(F.col("cp") * (2 * F.col("cumc") + F.col("c") + 1))
        .cast("long")
        .alias("w2p"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tt"),
    )
    return m.selectExpr("n", "n_pos", "w2p", "tt", f"{_WSR_Z} AS z_stat")


# The five event types, pinned in literal order — the pivot that turns a
# k-sample statistic into fixed scalar expressions (no cross-group float
# aggregation whose order an engine could choose).
_ETYPES = ("click", "error", "purchase", "signup", "view")

# Every denominator that can vanish on degenerate data (an absent event
# type -> n_j = 0, an empty/singleton table -> n(n+1) = 0 or n^3-n = 0,
# all values tied -> tie correction 1 - tt/(n^3-n) = 0) is wrapped in
# nullif IN THE SHARED STRING, so both engines agree on NULL rather than
# each picking its own float div-by-zero convention (DuckDB's depends on
# ieee_floating_point_ops; r5 ADVICE item).
_KW_H = (
    "12 / nullif(CAST(n AS DOUBLE) * (n + 1), 0) * ("
    + " + ".join(
        f"CAST(r{j} AS DOUBLE) * r{j} / 4 / nullif(n{j}, 0)"
        for j in range(1, len(_ETYPES) + 1)
    )
    + ") - 3 * (CAST(n AS DOUBLE) + 1)"
)
_KW_HC = (
    f"({_KW_H}) / nullif(1 - CAST(tt AS DOUBLE)"
    " / nullif(CAST(n AS DOUBLE) * n * n - n, 0), 0)"
)


@query(
    "stat_kruskal_wallis",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(floor(value * 1000) AS BIGINT) AS x,
               {", ".join(
                   f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END AS i{j}"
                   for j, t in enumerate(_ETYPES, 1)
               )}
        FROM events
    ),
    per AS (
        SELECT x, count(*) AS c,
               {", ".join(f"sum(i{j}) AS c{j}" for j in range(1, 6))}
        FROM vals GROUP BY x
    ),
    ranked AS (
        SELECT x, c, {", ".join(f"c{j}" for j in range(1, 6))},
               coalesce(sum(c) OVER (
                   ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS cumc
        FROM per
    ),
    m AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * c * c - c) AS BIGINT) AS tt,
               {", ".join(
                   f"CAST(sum(c{j}) AS BIGINT) AS n{j},"
                   f" CAST(sum(c{j} * (2 * cumc + c + 1)) AS BIGINT) AS r{j}"
                   for j in range(1, 6)
               )}
        FROM ranked
    )
    SELECT n, tt, {", ".join(f"n{j}, r{j}" for j in range(1, 6))},
           {_KW_H} AS h_stat, {_KW_HC} AS h_tie_corrected
    FROM m
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL FIVE event types — the k-sample
    generalization of stat_mann_whitney_u (k=2 reduces to it exactly).

    The pooled doubled-midrank machinery is shared verbatim; the new move
    is the k-way PIVOT: per distinct value the count table carries one
    column per event type (fixed literal order _ETYPES), so the per-group
    doubled rank-sums r_j are exact integers from ONE prefix window and H
    (with its tie-corrected twin H / (1 - tt/(n^3-n))) is a fixed scalar
    expression over 12 exact integers — no cross-group float aggregation
    whose summation order an engine could pick.

    Shape at 100 TB: identical to Mann-Whitney — facts reduce to the
    distinct-value count table, one prefix window over values, one row
    out. The pivot adds k columns, not k passes.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
        *[
            F.when(F.col("event_type") == t, 1).otherwise(0).alias(f"i{j}")
            for j, t in enumerate(_ETYPES, 1)
        ],
    )
    per = ev.groupBy("x").agg(
        F.count(F.lit(1)).alias("c"),
        *[F.sum(f"i{j}").alias(f"c{j}") for j in range(1, 6)],
    )
    w = W.orderBy("x").rowsBetween(W.unboundedPreceding, -1)
    ranked = per.withColumn("cumc", F.coalesce(F.sum("c").over(w), F.lit(0)))
    aggs = [
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tt"),
    ]
    for j in range(1, 6):
        aggs.append(F.sum(f"c{j}").cast("long").alias(f"n{j}"))
        aggs.append(
            F.sum(F.col(f"c{j}") * (2 * F.col("cumc") + F.col("c") + 1))
            .cast("long")
            .alias(f"r{j}")
        )
    m = ranked.agg(*aggs)
    return m.selectExpr(
        "n",
        "tt",
        *[c for j in range(1, 6) for c in (f"n{j}", f"r{j}")],
        f"{_KW_H} AS h_stat",
        f"{_KW_HC} AS h_tie_corrected",
    )


# Same nullif-in-the-shared-string discipline as _KW_H: absent groups
# (n_j = 0), empty input (n = 0), n = k exactly, zero within-group
# variance (SSW = 0), and all-tied data (SST = 0) all yield NULL in both
# engines instead of engine-specific float div-by-zero behavior.
_ANOVA_SB = (
    "("
    + " + ".join(
        f"CAST(s{j} AS DOUBLE) * s{j} / nullif(n{j}, 0)"
        for j in range(1, len(_ETYPES) + 1)
    )
    + ")"
)
_ANOVA_F = (
    f"(({_ANOVA_SB} - CAST(st AS DOUBLE) * st / nullif(n, 0))"
    f" / {len(_ETYPES) - 1})"
    f" / nullif((CAST(qt AS DOUBLE) - {_ANOVA_SB})"
    f" / nullif(n - {len(_ETYPES)}, 0), 0)"
)
_ANOVA_ETA = (
    f"({_ANOVA_SB} - CAST(st AS DOUBLE) * st / nullif(n, 0))"
    " / nullif(CAST(qt AS DOUBLE) - CAST(st AS DOUBLE) * st"
    " / nullif(n, 0), 0)"
)


@query(
    "stat_anova_oneway",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(floor(value * 1000) AS BIGINT) AS x,
               {", ".join(
                   f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END AS i{j}"
                   for j, t in enumerate(_ETYPES, 1)
               )}
        FROM events
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS st,
               CAST(sum(x * x) AS BIGINT) AS qt,
               {", ".join(
                   f"CAST(sum(i{j}) AS BIGINT) AS n{j},"
                   f" CAST(sum(i{j} * x) AS BIGINT) AS s{j}"
                   for j in range(1, 6)
               )}
        FROM vals
    )
    SELECT n, st, qt, {", ".join(f"n{j}, s{j}" for j in range(1, 6))},
           {_ANOVA_F} AS f_stat, {_ANOVA_ETA} AS eta_squared
    FROM m
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five event types — the parametric twin
    of stat_kruskal_wallis, sharing stats_welch_ttest's exact-moment
    discipline: every reduction is an exact integer (milli-value sums and
    sums of squares, per group via the fixed-order pivot), and F plus
    eta-squared are fixed scalar expressions over those 13 integers.

    SSB = sum_j s_j^2/n_j - S^2/N and SSW = Q - sum_j s_j^2/n_j never
    materialize as intermediate aggregates — they appear only inside the
    one shared double expression, so there is no cross-group float
    summation whose order an engine could choose (the reason this is a
    pivot, not a groupBy(event_type) + second aggregate).

    Shape at 100 TB: ONE combinable aggregate over facts, 13 numbers out.
    The cheapest statistic in the module.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
        *[
            F.when(F.col("event_type") == t, 1).otherwise(0).alias(f"i{j}")
            for j, t in enumerate(_ETYPES, 1)
        ],
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).cast("long").alias("st"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("long").alias("qt"),
    ]
    for j in range(1, 6):
        aggs.append(F.sum(f"i{j}").cast("long").alias(f"n{j}"))
        aggs.append(
            F.sum(dec(F.col(f"i{j}") * F.col("x"))).cast("long").alias(f"s{j}")
        )
    m = ev.agg(*aggs)
    return m.selectExpr(
        "n",
        "st",
        "qt",
        *[c for j in range(1, 6) for c in (f"n{j}", f"s{j}")],
        f"{_ANOVA_F} AS f_stat",
        f"{_ANOVA_ETA} AS eta_squared",
    )


# Two-sided alpha=0.05 and power=0.80 normal quantiles, as shared literal
# constants (they are spec inputs, not computed values).
_Z_ALPHA = "1.9599639845400545"
_Z_BETA = "0.8416212335729143"

_POWER_N = (
    f"CAST(ceil(({_Z_ALPHA} + {_Z_BETA}) * ({_Z_ALPHA} + {_Z_BETA})"
    " * (CAST(qa AS DOUBLE) / na - (CAST(sa AS DOUBLE) / na)"
    " * (CAST(sa AS DOUBLE) / na)"
    " + CAST(qb AS DOUBLE) / nb - (CAST(sb AS DOUBLE) / nb)"
    " * (CAST(sb AS DOUBLE) / nb))"
    " / ((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)"
    " * (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb))) AS BIGINT)"
)


@query(
    "events_ab_power_analysis",
    oracle=f"""
    WITH m AS (
        SELECT
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS na,
            CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN CAST(floor(value * 1000) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS sa,
            CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN CAST(floor(value * 1000) AS BIGINT)
                               * CAST(floor(value * 1000) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS qa,
            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS nb,
            CAST(sum(CASE WHEN event_type = 'click'
                          THEN CAST(floor(value * 1000) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS sb,
            CAST(sum(CASE WHEN event_type = 'click'
                          THEN CAST(floor(value * 1000) AS BIGINT)
                               * CAST(floor(value * 1000) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS qb
        FROM events WHERE event_type IN ('purchase', 'click')
    )
    SELECT na, sa, qa, nb, sb, qb, {_POWER_N} AS n_per_arm_required
    FROM m
    """,
)
def events_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test power analysis: the per-arm sample size required to
    detect the CURRENTLY OBSERVED purchase-vs-click value gap at
    alpha = 0.05 (two-sided) and power = 0.80 — the
    before-you-run-the-experiment arithmetic that pairs with
    events_ab_test_lift's after-the-fact readout.

    n = (z_a + z_b)^2 * (var_a + var_b) / delta^2, with the z quantiles
    as shared literal CONSTANTS (spec inputs, not engine-computed —
    there is no cross-engine erf to disagree about), the moments exact
    integers, and the whole formula one shared double expression ending
    in ceil -> BIGINT.

    Shape at 100 TB: ONE combinable aggregate over facts, seven numbers
    out — the stat_anova_oneway shape.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("ia"),
            F.floor(F.col("value") * 1000).cast("long").alias("x"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = ev.agg(
        F.sum(F.col("ia")).cast("long").alias("na"),
        F.sum(dec(F.col("ia") * F.col("x"))).cast("long").alias("sa"),
        F.sum(dec(F.col("ia") * F.col("x") * F.col("x")))
        .cast("long")
        .alias("qa"),
        F.sum(1 - F.col("ia")).cast("long").alias("nb"),
        F.sum(dec((1 - F.col("ia")) * F.col("x"))).cast("long").alias("sb"),
        F.sum(dec((1 - F.col("ia")) * F.col("x") * F.col("x")))
        .cast("long")
        .alias("qb"),
    )
    return m.selectExpr(
        "na", "sa", "qa", "nb", "sb", "qb",
        f"{_POWER_N} AS n_per_arm_required",
    )


# Poisson(1) inverse-CDF thresholds c_k = e^-1 * sum_{j<=k} 1/j!, k=0..7 —
# spec constants of the Poisson bootstrap (literals, not computed values),
# shared verbatim by both engines. P(w > 8) < 1e-8; the tail is clamped.
_POIS_T = (
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238462",
    "0.9963401531726562",
    "0.9994058151824182",
    "0.999916758850712",
    "0.9999897508033254",
)
_BOOT_B = 64
_BOOT_SEED = chain_seed("boot")

# u in [0,1) from the signed 64-bit hash: int64 -> double conversion and
# the two power-of-two literals are IEEE-exact in both engines.
_BOOT_U = (
    "((CAST({h} AS DOUBLE) + 9.223372036854775808E18)"
    " / 1.8446744073709551616E19)"
)
# Poisson(1) weight by inverse CDF over the shared thresholds.
_BOOT_W = (
    "(CASE "
    + " ".join(
        f"WHEN {{u}} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    + " ELSE 8 END)"
)


@query(
    "stat_bootstrap_ci",
    oracle=XXH64_MACROS
    + f"""
    WITH per AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    reps AS (SELECT CAST(b AS BIGINT) AS b FROM range({_BOOT_B}) t(b)),
    w AS (
        SELECT p.x, r.b,
               {_BOOT_W.format(u=_BOOT_U.format(
                   h=f"xxh64_long(p.user_id * {_BOOT_B} + r.b, "
                     f"{_BOOT_SEED}::UBIGINT)"))} AS w
        FROM per p, reps r
    ),
    sums AS (
        SELECT b, CAST(sum(w * x) AS BIGINT) AS num,
               CAST(sum(w) AS BIGINT) AS den
        FROM w GROUP BY b
    ),
    ranked AS (
        SELECT num, den,
               row_number() OVER (
                   ORDER BY CASE WHEN den = 0 THEN 0
                                 ELSE CAST(num AS DOUBLE) / den END, b)
                   AS rn
        FROM sums
    ),
    point AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(x) AS BIGINT) AS sx
        FROM per
    )
    SELECT n_users,
           sx // n_users AS point_mean_milli,
           (SELECT num // den FROM ranked WHERE rn = 4) AS lo_mean_milli,
           (SELECT num // den FROM ranked WHERE rn = {_BOOT_B - 3})
               AS hi_mean_milli
    FROM point
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean per-user purchase
    spend — Monte-Carlo uncertainty quantification made
    hash-oracle-checkable, completing the resampling pair started by
    stat_signflip_permutation.

    The classic bootstrap draws n units with replacement, which is not a
    per-unit-expressible operation; the POISSON BOOTSTRAP (the standard
    large-scale substitute: per replicate, each unit gets an independent
    Poisson(1) weight) is — and that per-(unit, replicate) weight is
    where the xxh64 determinism rule lands: u = xxhash64('boot',
    user_id*64 + b) mapped to [0,1), w = Poisson inverse-CDF over eight
    shared threshold literals. Both engines therefore weigh the SAME 64
    pseudo-resamples. Replicate means stay exact integer pairs
    (num = Σ w·x, den = Σ w); the double appears only as the sort key
    that picks the 4th and 62nd ordered replicates (a 90.6%-coverage
    percentile interval at B=64, stated resolution 1/64), and the
    reported bounds are exact floor-divided milli.

    Shape at 100 TB: ONE combinable reduction over facts (per-user
    totals), then a B-fold explode of the per-user table with a
    combinable aggregate per replicate — the signflip shape. B bounds
    the blow-up; at production B=256+ the same plan holds because
    replicates shuffle (b)-keyed partial sums, never facts.
    """
    per = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )
    w = (
        per.select(
            "user_id",
            "x",
            F.explode(F.expr(f"sequence(0L, {_BOOT_B - 1}L)")).alias("b"),
        )
        .withColumn(
            "h",
            F.xxhash64(
                F.lit("boot"),
                (F.col("user_id") * _BOOT_B + F.col("b")).cast("long"),
            ),
        )
        .withColumn("w", F.expr(_BOOT_W.format(u=_BOOT_U.format(h="h"))))
    )
    # r11 (guide §2.4): the old shape derived the per-user/replicate chain
    # THREE times — `point` re-aggregated `per`, and `lo`/`hi` each
    # re-derived the full explode + replicate aggregate behind separate
    # cross-joined branches (the r11 before-plan carries three events
    # scans and two identical Generate subtrees). Every replicate group
    # sees every user exactly once, so the point stats (n_users, sx) ride
    # the SAME per-replicate aggregate for free, and both order statistics
    # come out of one conditional aggregate over the 64 ranked rows: one
    # scan, one derivation, no cross joins.
    sums = w.groupBy("b").agg(
        F.sum(F.col("w") * F.col("x")).cast("long").alias("num"),
        F.sum("w").cast("long").alias("den"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sx"),
    )
    ranked = sums.selectExpr(
        "num",
        "den",
        "n_users",
        "sx",
        "row_number() OVER (ORDER BY CASE WHEN den = 0 THEN 0"
        " ELSE CAST(num AS DOUBLE) / den END, b) AS rn",
    )
    # No purchases means no replicate rows: n_users is 0 and every mean
    # NULL, as in the oracle (nullif keeps ANSI DIV from raising on 0).
    return ranked.agg(
        F.coalesce(F.max("n_users"), F.lit(0)).cast("long").alias("n_users"),
        F.max("sx").cast("long").alias("sx"),
        F.max(F.when(F.col("rn") == 4, F.expr("num DIV den")))
        .cast("long")
        .alias("lo_mean_milli"),
        F.max(F.when(F.col("rn") == _BOOT_B - 3, F.expr("num DIV den")))
        .cast("long")
        .alias("hi_mean_milli"),
    ).selectExpr(
        "n_users",
        "sx DIV nullif(n_users, 0) AS point_mean_milli",
        "lo_mean_milli",
        "hi_mean_milli",
    )


# Shannon entropy over the five fixed event-type counts: each term
# (n_j/n)·ln(n/n_j) is written out per pivot column in the ONE shared
# expression (the _KW_H discipline applied to information theory); an
# absent class contributes 0 by convention — expressed branchlessly with
# nullif so both engines agree on the degenerate cases too.
_ENT_H = (
    "("
    + " + ".join(
        f"coalesce(CAST(n{j} AS DOUBLE) / nullif(n, 0)"
        f" * ln(CAST(n AS DOUBLE) / nullif(n{j}, 0)), 0)"
        for j in range(1, len(_ETYPES) + 1)
    )
    + ")"
)


@query(
    "events_type_entropy",
    oracle=f"""
    WITH vals AS (
        SELECT {", ".join(
            f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END AS i{j}"
            for j, t in enumerate(_ETYPES, 1)
        )}
        FROM events
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {", ".join(
                   f"CAST(sum(i{j}) AS BIGINT) AS n{j}"
                   for j in range(1, 6)
               )}
        FROM vals
    )
    SELECT n, {", ".join(f"n{j}" for j in range(1, 6))},
           {_ENT_H} AS entropy_nats,
           exp({_ENT_H}) AS perplexity,
           {_ENT_H} / ln(5) AS entropy_normalized
    FROM m
    """,
)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type distribution — the
    distribution-shape summary under drift monitors and mixture
    balancing (a corpus mixer reports exactly this over domain shares;
    perplexity = exp(H) is the 'effective number of classes').

    Float-summation discipline: entropy is a SUM OF LOGS, and letting an
    engine aggregate ln-terms in its own order would diverge — so the
    five event types PIVOT into fixed columns (the stat_kruskal_wallis
    move) and H is one textually shared expression over six exact
    integers, with nullif/coalesce making absent classes contribute
    exactly 0 in both engines rather than engine-specific NaN.

    Shape at 100 TB: ONE combinable aggregate, six numbers out, three
    shared scalar expressions. The cheapest drift statistic there is.
    """
    ev = load_table(spark, sf_dir, "events").select(
        *[
            F.when(F.col("event_type") == t, 1).otherwise(0).alias(f"i{j}")
            for j, t in enumerate(_ETYPES, 1)
        ]
    )
    m = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[F.sum(f"i{j}").cast("long").alias(f"n{j}") for j in range(1, 6)],
    )
    return m.selectExpr(
        "n",
        *[f"n{j}" for j in range(1, 6)],
        f"{_ENT_H} AS entropy_nats",
        f"exp({_ENT_H}) AS perplexity",
        f"{_ENT_H} / ln(5) AS entropy_normalized",
    )


# Jensen-Shannon divergence between the two halves' event-type
# distributions, written branchlessly over TEN exact integers (five types
# x two periods) in ONE shared expression. Each term handles its own
# zero-count case via coalesce(x*ln(x/..), 0); the halves use the fixed
# literal split DATE '2024-01-16' (mid-fixture).
def _jsd_expr() -> str:
    # H(M) - (H(P) + H(Q))/2, expanded per class j:
    #   m_j = (a_j/na + b_j/nb)/2 over the mixture of the two halves;
    # JSD = sum_j [ (a_j/na)/2 * ln((a_j/na)/m_j) + (b_j/nb)/2 * ln((b_j/nb)/m_j) ]
    terms = []
    for j in range(1, len(_ETYPES) + 1):
        p = f"(CAST(a{j} AS DOUBLE) / nullif(na, 0))"
        q = f"(CAST(b{j} AS DOUBLE) / nullif(nb, 0))"
        m = f"(({p} + {q}) / 2)"
        # nullif the NUMERATOR too (ADVICE r6): with p = 0, Spark's ln(0)
        # is NULL (coalesced to 0) but DuckDB raises out-of-range; a zero
        # share must become ln(NULL) -> NULL -> 0 in BOTH engines
        terms.append(
            f"coalesce({p} / 2 * ln(nullif({p}, 0) / nullif({m}, 0)), 0)"
            f" + coalesce({q} / 2 * ln(nullif({q}, 0) / nullif({m}, 0)), 0)"
        )
    return "(" + " + ".join(terms) + ")"


_JSD = _jsd_expr()


@query(
    "drift_jsd_events",
    oracle=f"""
    WITH vals AS (
        SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                    THEN 1 ELSE 0 END AS early,
               {", ".join(
                   f"CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END AS i{j}"
                   for j, t in enumerate(_ETYPES, 1)
               )}
        FROM events
    ),
    m AS (
        SELECT CAST(sum(early) AS BIGINT) AS na,
               CAST(sum(1 - early) AS BIGINT) AS nb,
               {", ".join(
                   f"CAST(sum(early * i{j}) AS BIGINT) AS a{j},"
                   f" CAST(sum((1 - early) * i{j}) AS BIGINT) AS b{j}"
                   for j in range(1, 6)
               )}
        FROM vals
    )
    SELECT na, nb, {", ".join(f"a{j}, b{j}" for j in range(1, 6))},
           {_JSD} AS jsd_nats,
           sqrt({_JSD}) AS js_distance
    FROM m
    """,
)
def drift_jsd_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the early and late halves'
    event-type distributions — the fourth drift lens (TVD = mass moved,
    KS = worst CDF gap, W1 = mass x distance, JSD = information gained
    by telling the halves apart): bounded [0, ln 2], symmetric, and its
    square root is a true metric, which is why embedding/mixture
    monitoring standardizes on it.

    Same engine-safety discipline as events_type_entropy: the ten
    period-x-type counts come from ONE combinable aggregate; JSD (a sum
    of TEN ln terms) is one textually shared expression with per-term
    coalesce zero handling, so neither engine ever aggregates floats in
    its own order and empty classes contribute exactly 0 — the mixture
    denominator is nullif-guarded for the both-empty case.

    Shape at 100 TB: one scan, 12 integers, two shared scalar
    expressions.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.col("ts").cast("date") < F.lit("2024-01-16"), 1)
        .otherwise(0)
        .alias("early"),
        *[
            F.when(F.col("event_type") == t, 1).otherwise(0).alias(f"i{j}")
            for j, t in enumerate(_ETYPES, 1)
        ],
    )
    aggs = [
        F.sum("early").cast("long").alias("na"),
        F.sum(1 - F.col("early")).cast("long").alias("nb"),
    ]
    for j in range(1, 6):
        aggs.append(
            F.sum(F.col("early") * F.col(f"i{j}")).cast("long").alias(f"a{j}")
        )
        aggs.append(
            F.sum((1 - F.col("early")) * F.col(f"i{j}"))
            .cast("long")
            .alias(f"b{j}")
        )
    m = ev.agg(*aggs)
    return m.selectExpr(
        "na",
        "nb",
        *[c for j in range(1, 6) for c in (f"a{j}", f"b{j}")],
        f"{_JSD} AS jsd_nats",
        f"sqrt({_JSD}) AS js_distance",
    )


# Brown-Forsythe reuses the one-way ANOVA machinery verbatim: W IS the
# ANOVA F statistic computed on absolute deviations from the GROUP MEDIAN
# (Brown & Forsythe 1974; Levene 1960 used the mean). Deviations are kept
# integer by doubling: z = |2x - (m_lo + m_hi)| where m_lo/m_hi are the two
# middle order statistics, so even-count medians (.5 values) never touch a
# float. The shared _ANOVA_F string then applies unchanged because the
# moment columns carry the same names (n, st, qt, n{j}, s{j}).
_LEV_GROUPS = ", ".join(
    f"CAST(sum(CASE WHEN t = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n{j},"
    f" CAST(sum(CASE WHEN t = '{t}' THEN z ELSE 0 END) AS BIGINT) AS s{j}"
    for j, t in enumerate(_ETYPES, 1)
)


@query(
    "stat_levene_bf",
    oracle=f"""
    WITH vals AS (
        SELECT event_type AS t, CAST(floor(value * 1000) AS BIGINT) AS x
        FROM events
    ),
    cnt AS (SELECT t, x, count(*) AS c FROM vals GROUP BY t, x),
    cum AS (
        SELECT t, x,
               sum(c) OVER (PARTITION BY t ORDER BY x) AS cm,
               sum(c) OVER (PARTITION BY t) AS tot
        FROM cnt
    ),
    med AS (
        SELECT t,
               min(CASE WHEN cm >= (tot + 1) // 2 THEN x END)
               + min(CASE WHEN cm >= tot // 2 + 1 THEN x END) AS m2
        FROM cum GROUP BY t
    ),
    z AS (
        SELECT v.t, abs(2 * v.x - m.m2) AS z
        FROM vals v JOIN med m ON m.t = v.t
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(z) AS BIGINT) AS st,
               CAST(sum(z * z) AS BIGINT) AS qt,
               {_LEV_GROUPS}
        FROM z
    )
    SELECT n, {", ".join(f"n{j}" for j in range(1, 6))},
           {_ANOVA_F} AS w_bf
    FROM m
    """,
)
def stat_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equality of group variances (the robust
    Levene variant) across the five event types — the homoscedasticity
    GATE one runs before trusting stat_anova_oneway, since ANOVA's F
    assumes equal variances while Brown-Forsythe's W is exactly ANOVA's F
    applied to |x - median_g|, robust to the skew that wrecks
    mean-centered Levene.

    Exactness discipline (the k-sample house rule): group medians come
    from the per-(group, value) count table as the two middle order
    statistics, deviations are doubled so they stay integer, every moment
    is an exact BIGINT from one combinable aggregate, and W is the SAME
    shared double string as the ANOVA F over identically named columns —
    no cross-group float summation whose order an engine could pick.

    Scale shape: the count table is bounded by the value domain (milli
    units), not the fact count; medians are window arithmetic over it;
    the z-moment pass is one map-side-combinable aggregate over facts
    joined to a BROADCAST 5-row median table. Two fact scans total.
    """
    vals = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
    )
    cnt = vals.groupBy("t", "x").agg(F.count(F.lit(1)).alias("c"))
    wt = W.partitionBy("t")
    wo = wt.orderBy("x").rowsBetween(W.unboundedPreceding, 0)
    cum = cnt.select(
        "t",
        "x",
        F.sum("c").over(wo).alias("cm"),
        F.sum("c").over(wt).alias("tot"),
    )
    med = cum.groupBy("t").agg(
        (
            F.min(F.when(F.col("cm") >= F.expr("(tot + 1) DIV 2"), F.col("x")))
            + F.min(F.when(F.col("cm") >= F.expr("tot DIV 2 + 1"), F.col("x")))
        ).alias("m2")
    )
    z = vals.join(F.broadcast(med), "t").select(
        "t", F.abs(2 * F.col("x") - F.col("m2")).alias("z")
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("st"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("qt"),
    ]
    for j, t in enumerate(_ETYPES, 1):
        aggs.append(
            F.sum(F.when(F.col("t") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n{j}")
        )
        aggs.append(
            F.sum(F.when(F.col("t") == t, F.col("z")).otherwise(0))
            .cast("long")
            .alias(f"s{j}")
        )
    m = z.agg(*aggs)
    return m.selectExpr(
        "n",
        *[f"n{j}" for j in range(1, 6)],
        f"{_ANOVA_F} AS w_bf",
    )


# Friedman Q over DOUBLED within-block midranks: with dr_j = 2*rank_j the
# classic Q = 12/(n k(k+1)) * sum R_j^2 - 3 n (k+1) becomes
# Q = 3 * sum(DR_j^2) / (n k(k+1)) - 3 n (k+1), DR_j = sum of doubled
# ranks of treatment j across the n blocks — every reduction exact integer.
_FRIED_K = len(_ETYPES)
_FRIED_Q = (
    f"3.0 * CAST(sum_dr2 AS DOUBLE) / (CAST(n_blocks AS DOUBLE)"
    f" * {_FRIED_K} * {_FRIED_K + 1})"
    f" - 3.0 * CAST(n_blocks AS DOUBLE) * {_FRIED_K + 1}"
)


@query(
    "stat_friedman_test",
    oracle=f"""
    WITH cells AS (
        SELECT epoch(CAST(ts AS DATE))::BIGINT // 86400 // 7 AS blk,
               event_type AS t,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT blk FROM cells GROUP BY blk HAVING count(*) = {_FRIED_K}
    ),
    ranked AS (
        SELECT c.blk, c.t,
               2 * rank() OVER (PARTITION BY c.blk ORDER BY c.v)
                 + count(*) OVER (PARTITION BY c.blk, c.v) - 1 AS dr
        FROM cells c JOIN complete b ON b.blk = c.blk
    ),
    per_t AS (
        SELECT t, CAST(sum(dr) AS BIGINT) AS dr_t,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY t
    ),
    m AS (
        SELECT CAST(min(n_blocks) AS BIGINT) AS n_blocks,
               CAST(sum(dr_t * dr_t) AS BIGINT) AS sum_dr2
        FROM per_t
    )
    SELECT n_blocks, CAST({_FRIED_K} AS BIGINT) AS k, sum_dr2,
           {_FRIED_Q} AS q_stat
    FROM m
    """,
)
def stat_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test — the BLOCKED k-sample rank test (repeated-measures
    Kruskal-Wallis): do the five event types keep the same value ordering
    week after week, or does one systematically dominate? Blocks = ISO-ish
    weeks (epoch-day DIV 7), treatments = event types, cell value = the
    week's exact milli-value sum per type; only complete blocks (all five
    types present) enter, per the classical design. Completes the
    inference family's design matrix: independent k-sample (KW / ANOVA /
    Brown-Forsythe) now has its blocked twin.

    Exactness: within-block ranks are DOUBLED midranks (the Mann-Whitney
    device — ties never create .5), so every sum is an exact BIGINT and Q
    is one shared double expression over two integers. Ranking partitions
    by block over exactly k=5 rows — window work is bounded by
    |weeks| x 5 cells, metadata regardless of event volume; facts are
    touched once by the combinable cell aggregate.
    """
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.expr("CAST(unix_date(CAST(ts AS DATE)) DIV 7 AS BIGINT)").alias(
                "blk"
            ),
            F.col("event_type").alias("t"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    complete = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == _FRIED_K)
        .select("blk")
    )
    ranked = cells.join(F.broadcast(complete), "blk").select(
        "blk",
        "t",
        (
            2 * F.rank().over(W.partitionBy("blk").orderBy("v"))
            + F.count(F.lit(1)).over(W.partitionBy("blk", "v"))
            - 1
        ).alias("dr"),
    )
    per_t = ranked.groupBy("t").agg(
        F.sum("dr").cast("long").alias("dr_t"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    m = per_t.agg(
        F.min("n_blocks").cast("long").alias("n_blocks"),
        F.sum(F.col("dr_t") * F.col("dr_t")).cast("long").alias("sum_dr2"),
    )
    return m.selectExpr(
        "n_blocks",
        f"CAST({_FRIED_K} AS BIGINT) AS k",
        "sum_dr2",
        f"{_FRIED_Q} AS q_stat",
    )


# --- wave 41 (round 8) ---

# Benjamini-Hochberg parameters: m = 5 event types tested, q = 0.10 FDR.
_BH_Q_NUM, _BH_Q_DEN = 1, 10
# One-vs-rest KS tail approximation (Smirnov's asymptotic leading term):
# p ~ 2 * exp(-2 * D^2 * na*nb/(na+nb)). D cross-multiplies to the exact
# integer numerator over na*nb (the drift_ks_exact identity), so the only
# float steps are one division, one exp, one round — textually identical
# on both engines.
_BH_P = (
    "round(least(CAST(2.0 AS DOUBLE) * exp("
    "CAST(-2.0 AS DOUBLE)"
    " * (CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))"
    " * (CAST(d_num AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))"
    " * (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    "    / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))"
    "), CAST(1.0 AS DOUBLE)), 6)"
)


@query(
    "stat_benjamini_hochberg",
    oracle=f"""
    WITH e AS (
        SELECT event_type AS t, CAST(floor(value * 100) AS BIGINT) AS v
        FROM events
    ),
    counts AS (
        SELECT t, v, count(*) AS c FROM e GROUP BY t, v
    ),
    tot AS (SELECT v, sum(c) AS ct FROM counts GROUP BY v),
    -- one-vs-rest per type: walk the merged distinct-value table once per
    -- type; cum_a = type CDF numerator, cum_b = rest CDF numerator
    walk AS (
        SELECT k.t, g.v,
               sum(coalesce(c.c, 0)) OVER w AS cum_a,
               sum(g.ct - coalesce(c.c, 0)) OVER w AS cum_b
        FROM (SELECT DISTINCT t FROM e) k
        CROSS JOIN tot g
        LEFT JOIN counts c ON c.t = k.t AND c.v = g.v
        WINDOW w AS (PARTITION BY k.t ORDER BY g.v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    sizes AS (
        SELECT t, sum(c) AS na,
               (SELECT count(*) FROM e) - sum(c) AS nb
        FROM counts GROUP BY t
    ),
    d AS (
        SELECT w.t, s.na, s.nb,
               max(abs(w.cum_a * s.nb - w.cum_b * s.na)) AS d_num
        FROM walk w JOIN sizes s ON s.t = w.t
        GROUP BY w.t, s.na, s.nb
    ),
    p AS (
        SELECT t, na, nb, d_num, {_BH_P} AS p_approx FROM d
    ),
    ranked AS (
        SELECT t, na, nb, d_num, p_approx,
               row_number() OVER (ORDER BY p_approx, t) AS p_rank,
               count(*) OVER () AS m
        FROM p
    ),
    kstar AS (
        SELECT coalesce(max(p_rank), 0) AS k FROM ranked
        WHERE p_approx * m * {_BH_Q_DEN} <= p_rank * {_BH_Q_NUM}
    )
    SELECT r.t AS event_type,
           CAST(r.na AS BIGINT) AS n_type,
           CAST(r.nb AS BIGINT) AS n_rest,
           CAST(r.d_num AS BIGINT) AS ks_d_num,
           r.p_approx,
           CAST(r.p_rank AS INT) AS p_rank,
           CAST(CASE WHEN r.p_rank <= (SELECT k FROM kstar)
                THEN 1 ELSE 0 END AS INT) AS rejected
    FROM ranked r
    """,
)
def stat_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a FAMILY of tests —
    the multiple-comparisons layer every per-segment drift monitor needs
    (five one-vs-rest KS drift tests here; at q = 0.10 the procedure
    bounds the expected fraction of false alarms among the segments it
    flags, which per-test thresholds cannot).

    Each test is the drift_ks_exact identity one-vs-rest: D's numerator
    is an exact BIGINT over the merged distinct-value walk, so the only
    float is the shared Smirnov tail expression (one division, one exp,
    rounded to 1e-6). The step-up itself is pure integer arithmetic on
    the ROUNDED p: rank p ascending, k* = max rank with
    p * m * 10 <= rank (q = 1/10), reject ranks <= k* — evaluated on
    identical inputs in both engines, so the decision column
    hash-matches, not just the statistics.

    Scale shape: facts reduce once to (type, value) counts; the per-type
    walk runs over the |distinct values| table x 5 types — bounded by
    the value domain, not event volume; BH runs on m = 5 rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    counts = e.groupBy("t", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("v").agg(F.sum("c").alias("ct"))
    types = counts.select("t").distinct()
    grid = types.crossJoin(tot).join(counts, ["t", "v"], "left").select(
        "t", "v", F.coalesce("c", F.lit(0)).alias("c"), "ct"
    )
    w_cum = W.partitionBy("t").orderBy("v").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    walk = grid.select(
        "t",
        F.sum("c").over(w_cum).alias("cum_a"),
        F.sum(F.col("ct") - F.col("c")).over(w_cum).alias("cum_b"),
    )
    sizes = counts.groupBy("t").agg(F.sum("c").alias("na"))
    n_all = e.count()
    d = (
        walk.join(F.broadcast(sizes), "t")
        .withColumn("nb", F.lit(n_all) - F.col("na"))
        .groupBy("t", "na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("nb") - F.col("cum_b") * F.col("na")
                )
            ).alias("d_num")
        )
    )
    p = d.withColumn("p_approx", F.expr(_BH_P))
    ranked = p.select(
        "*",
        F.row_number().over(W.orderBy("p_approx", "t")).alias("p_rank"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
    )
    kstar = (
        ranked.filter(
            F.col("p_approx") * F.col("m") * _BH_Q_DEN
            <= F.col("p_rank") * _BH_Q_NUM
        )
        .agg(F.coalesce(F.max("p_rank"), F.lit(0)).alias("k"))
    )
    return (
        ranked.crossJoin(F.broadcast(kstar))
        .select(
            F.col("t").alias("event_type"),
            F.col("na").cast("long").alias("n_type"),
            F.col("nb").cast("long").alias("n_rest"),
            F.col("d_num").cast("long").alias("ks_d_num"),
            "p_approx",
            F.col("p_rank").cast("int").alias("p_rank"),
            (F.col("p_rank") <= F.col("k")).cast("int").alias("rejected"),
        )
    )


# --- wave 42 (round 8) ---

# Cochran's Q on the (k-1)(k*sum C^2 - N^2) / (k*N - sum R^2) integer
# identity — one double division over exact BIGINTs, nullif'd for the
# degenerate all-0/all-k table.
_COCH_Q = (
    f"CAST(({_FRIED_K} - 1) AS DOUBLE)"
    f" * (CAST({_FRIED_K} AS DOUBLE) * CAST(sum_c2 AS DOUBLE)"
    f"    - CAST(n_success AS DOUBLE) * CAST(n_success AS DOUBLE))"
    f" / nullif(CAST({_FRIED_K} AS DOUBLE) * CAST(n_success AS DOUBLE)"
    f"          - CAST(sum_r2 AS DOUBLE), 0)"
)


@query(
    "stat_cochran_q",
    oracle=f"""
    WITH cells AS (
        SELECT epoch(CAST(ts AS DATE))::BIGINT // 86400 // 7 AS blk,
               event_type AS t,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT blk FROM cells GROUP BY blk HAVING count(*) = {_FRIED_K}
    ),
    cc AS (
        SELECT c.blk, c.t, c.c FROM cells c JOIN complete b ON b.blk = c.blk
    ),
    tot AS (
        SELECT t, sum(c) AS tot_t, count(*) AS n_blocks FROM cc GROUP BY t
    ),
    x AS (
        SELECT cc.blk, cc.t,
               CASE WHEN cc.c * tot.n_blocks >= tot.tot_t
                    THEN 1 ELSE 0 END AS x
        FROM cc JOIN tot ON tot.t = cc.t
    ),
    cols AS (SELECT t, CAST(sum(x) AS BIGINT) AS cj FROM x GROUP BY t),
    rows_ AS (SELECT blk, CAST(sum(x) AS BIGINT) AS ri FROM x GROUP BY blk),
    m AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM rows_) AS n_blocks,
               (SELECT CAST(sum(cj) AS BIGINT) FROM cols) AS n_success,
               (SELECT CAST(sum(cj * cj) AS BIGINT) FROM cols) AS sum_c2,
               (SELECT CAST(sum(ri * ri) AS BIGINT) FROM rows_) AS sum_r2
    )
    SELECT n_blocks, CAST({_FRIED_K} AS BIGINT) AS k,
           n_success, sum_c2, sum_r2,
           round({_COCH_Q}, 6) AS q_stat
    FROM m
    """,
)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q (Cochran 1950) — the BINARY-outcome twin of the
    Friedman test, completing the blocked design row of the inference
    matrix (continuous: Friedman; binary: Q; Q reduces to McNemar at
    k = 2). Blocks = weeks, treatments = event types, binary outcome =
    "the type ran ABOVE its own mean weekly volume that week"
    (c * n_blocks >= total — an exact integer compare, no float
    threshold), over complete blocks only.

    Q's classical form uses column totals C_j and row totals R_i:
    Q = (k-1)(k ΣC_j² − N²) / (kN − ΣR_i²) — every moment an exact
    BIGINT; the single float division is one shared expression, nullif'd
    for the degenerate table where every week flags all or none.

    Scale shape: facts reduce once to the (week x type) count grid;
    everything after is arithmetic on that calendar-bounded table — the
    Friedman scaling argument verbatim, minus even its rank windows.
    """
    e = load_table(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            (F.unix_date(F.col("ts").cast("date")) / 7)
            .cast("long")
            .alias("blk"),
            F.col("event_type").alias("t"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    complete = (
        cells.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == _FRIED_K)
        .select("blk")
    )
    cc = cells.join(F.broadcast(complete), "blk")
    tot = cc.groupBy("t").agg(
        F.sum("c").alias("tot_t"), F.count(F.lit(1)).alias("n_blocks")
    )
    x = cc.join(F.broadcast(tot), "t").select(
        "blk",
        "t",
        (F.col("c") * F.col("n_blocks") >= F.col("tot_t"))
        .cast("int")
        .alias("x"),
    )
    cols = x.groupBy("t").agg(F.sum("x").cast("long").alias("cj"))
    rows_ = x.groupBy("blk").agg(F.sum("x").cast("long").alias("ri"))
    m = (
        cols.agg(
            F.sum("cj").cast("long").alias("n_success"),
            F.sum(F.col("cj") * F.col("cj")).cast("long").alias("sum_c2"),
        )
        .crossJoin(
            rows_.agg(
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.sum(F.col("ri") * F.col("ri")).cast("long").alias("sum_r2"),
            )
        )
    )
    return m.selectExpr(
        "n_blocks",
        f"CAST({_FRIED_K} AS BIGINT) AS k",
        "n_success",
        "sum_c2",
        "sum_r2",
        f"round({_COCH_Q}, 6) AS q_stat",
    )


# --- wave 46 (round 9) ---

# Grubbs' G = max|x - mean| / sd as ONE shared double expression over four
# exact integers (n, sum, sumsq, scaled max deviation). The max deviation
# is kept n-SCALED (max|n*x - sum|) so it stays an exact BIGINT — the
# doubled-midrank trick applied to a mean: n*x - sum = n*(x - mean).
_GRUBBS_G = (
    "(CAST(maxdev_scaled AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(ssq AS DOUBLE)"
    "         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))"
    "        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))"
)


@query(
    "stat_grubbs_outlier",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s,
               sum(cents * cents) AS ssq
        FROM c GROUP BY o_orderpriority
    ),
    dev AS (
        SELECT c.o_orderpriority,
               CAST(max(abs(g.n * c.cents - g.s)) AS BIGINT) AS maxdev_scaled
        FROM c JOIN g ON g.o_orderpriority = c.o_orderpriority
        GROUP BY c.o_orderpriority
    )
    SELECT g.o_orderpriority, g.n, g.s AS sum_cents, d.maxdev_scaled,
           round({_GRUBBS_G}, 6) AS g_stat,
           round({_GRUBBS_G}, 6) > 3.0 AS is_outlier
    FROM g JOIN dev d ON d.o_orderpriority = g.o_orderpriority
    ORDER BY g.o_orderpriority
    """,
)
def stat_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-deviation outlier test (Grubbs 1950) per order
    priority: G = max|x − mean| / sd over order totals in cents, with the
    literal critical value 3.0 as the flag (the z-score-of-the-extreme
    test an anomaly gate runs per partition before trusting its stats).
    Completes the outlier family: IQR fences (rank-based, per row) and
    MAD (robust, per row) flag MANY rows; Grubbs asks whether the single
    most extreme value is an outlier AT ALL.

    Exactness: mean and sd never materialize — G is one shared double
    expression over n, sum(cents), sum(cents²) (HUGEINT/DECIMAL(38,0)
    internally, consumed only inside the expression), and the n-scaled
    max deviation max|n·x − sum|, all exact integers.

    Scale shape: two combinable aggregates over the fact table (moments,
    then the deviation max against the broadcast 5-row moment table).
    Output is one row per group.
    """
    c = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    g = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "ssq"
        ),
    )
    dev = (
        c.join(F.broadcast(g), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.max(F.abs(F.col("n") * F.col("cents") - F.col("s")))
            .cast("long")
            .alias("maxdev_scaled")
        )
    )
    return (
        g.join(dev, "o_orderpriority")
        .selectExpr(
            "o_orderpriority",
            "n",
            "s AS sum_cents",
            "maxdev_scaled",
            f"round({_GRUBBS_G}, 6) AS g_stat",
            f"round({_GRUBBS_G}, 6) > 3.0 AS is_outlier",
        )
        .orderBy("o_orderpriority")
    )


# Entropy rate of the first-order event-type chain: H = -sum_ij (n_ij/N)
# ln(n_ij / n_i). 25 transition cells pivot into fixed integer columns
# (the events_type_entropy discipline at matrix scale) so H is ONE
# generated, textually shared expression — never a cross-row float sum.
def _erate_expr() -> str:
    k = len(_ETYPES)
    terms = []
    for i in range(1, k + 1):
        for j in range(1, k + 1):
            c = f"CAST(c{i}{j} AS DOUBLE)"
            r = f"CAST(r{i} AS DOUBLE)"
            terms.append(
                f"coalesce(({c} / CAST(n_total AS DOUBLE))"
                f" * ln(nullif({c}, 0) / nullif({r}, 0)), 0)"
            )
    return "(-(" + " + ".join(terms) + "))"


_ERATE_H = _erate_expr()


@query(
    "events_entropy_rate_markov",
    oracle=f"""
    WITH ordered AS (
        SELECT event_type AS prev,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS cur
        FROM events
    ),
    t AS (SELECT prev, cur FROM ordered WHERE cur IS NOT NULL),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               {", ".join(
                   f"CAST(sum(CASE WHEN prev = '{a}' AND cur = '{b}' "
                   f"THEN 1 ELSE 0 END) AS BIGINT) AS c{i}{j}"
                   for i, a in enumerate(_ETYPES, 1)
                   for j, b in enumerate(_ETYPES, 1)
               )},
               {", ".join(
                   f"CAST(sum(CASE WHEN prev = '{a}' THEN 1 ELSE 0 END) "
                   f"AS BIGINT) AS r{i}"
                   for i, a in enumerate(_ETYPES, 1)
               )}
        FROM t
    )
    SELECT n_total, {", ".join(f"r{i}" for i in range(1, 6))},
           {_ERATE_H} AS h_rate_nats,
           exp({_ERATE_H}) AS perplexity_rate,
           {_ERATE_H} / ln({len(_ETYPES)}) AS h_rate_normalized
    FROM m
    """,
)
def events_entropy_rate_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of the user behavior chain (Shannon 1948 §7): the
    per-step uncertainty −Σ_ij (n_ij/N)·ln(n_ij/n_i) of the empirical
    first-order transition matrix — the sequence-predictability summary
    that separates 'users wander uniformly' (rate ≈ ln k) from 'behavior
    is nearly deterministic' (rate ≈ 0), which marginal entropy
    (events_type_entropy) cannot see because it ignores order.
    perplexity_rate = exp(H) is the effective branching factor per step.

    Exactness: the 5x5 transition matrix pivots into 25 fixed integer
    columns + 5 row sums in ONE combinable aggregate; H is one generated,
    textually shared expression with per-cell nullif/coalesce so empty
    cells contribute exactly 0 in both engines.

    Scale shape: one per-user window (the sessionization shuffle) + one
    global aggregate carrying 31 integers. Output is 1 row.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        ev.select(
            F.col("event_type").alias("prev"),
            F.lead("event_type").over(w).alias("cur"),
        )
        .filter(F.col("cur").isNotNull())
    )
    m = t.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        *[
            F.sum(
                ((F.col("prev") == a) & (F.col("cur") == b)).cast("int")
            )
            .cast("long")
            .alias(f"c{i}{j}")
            for i, a in enumerate(_ETYPES, 1)
            for j, b in enumerate(_ETYPES, 1)
        ],
        *[
            F.sum((F.col("prev") == a).cast("int"))
            .cast("long")
            .alias(f"r{i}")
            for i, a in enumerate(_ETYPES, 1)
        ],
    )
    return m.selectExpr(
        "n_total",
        *[f"r{i}" for i in range(1, 6)],
        f"{_ERATE_H} AS h_rate_nats",
        f"exp({_ERATE_H}) AS perplexity_rate",
        f"{_ERATE_H} / ln({len(_ETYPES)}) AS h_rate_normalized",
    )


# Kendall's tau-b over the (daily revenue, daily order count) pairs, with
# the standard tie corrections: tau_b = (C - D) / sqrt((n0 - tx)(n0 - ty)),
# n0 = n(n-1)/2, tx/ty = sum t(t-1)/2 over the value-tie groups — one
# shared sqrt-division over five exact BIGINTs.
_TAUB = (
    "(CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))"
    " / sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE))"
    "        * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE)))"
)


@query(
    "stat_kendall_tau_b",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CAST(sum(CASE WHEN (b.x > a.x AND b.y > a.y)
                               OR (b.x < a.x AND b.y < a.y)
                             THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN (b.x > a.x AND b.y < a.y)
                               OR (b.x < a.x AND b.y > a.y)
                             THEN 1 ELSE 0 END) AS BIGINT) AS nd
        FROM daily a JOIN daily b ON b.d > a.d
    ),
    nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n0
        FROM daily
    ),
    tx_ AS (
        SELECT coalesce(CAST(sum(t * (t - 1) / 2) AS BIGINT), 0) AS tx
        FROM (SELECT count(*) AS t FROM daily GROUP BY x HAVING count(*) > 1)
    ),
    ty_ AS (
        SELECT coalesce(CAST(sum(t * (t - 1) / 2) AS BIGINT), 0) AS ty
        FROM (SELECT count(*) AS t FROM daily GROUP BY y HAVING count(*) > 1)
    )
    SELECT nn.n, nn.n0, p.nc, p.nd, tx_.tx, ty_.ty,
           round({_TAUB}, 6) AS tau_b
    FROM pairs p, nn, tx_, ty_
    """,
)
def stat_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (Kendall 1945) between daily revenue and daily
    order count — the concordance rank correlation completing the
    monotone-association family (Spearman ranks VALUES; Kendall counts
    PAIR INVERSIONS, with the tie-corrected tau-b denominator). Runs on
    exactly the calendar-bounded daily reduction trend_mann_kendall uses
    — MK is tau against TIME; this is tau between two series.

    Exactness: concordant/discordant counts, n0 = n(n−1)/2, and both
    tie terms are exact BIGINTs from the pair join; tau_b is the one
    shared sqrt-division, rounded to 1e-6.

    Scale shape: facts reduce once to |days| rows; the pair join is over
    that reduction (metadata next to the fact table). One output row.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x"),
            F.count(F.lit(1)).cast("long").alias("y"),
        )
        .localCheckpoint(eager=True)  # pair join + tie groups + n consume it
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(b, F.col("db") > F.col("da")).agg(
        F.sum(
            (
                ((F.col("xb") > F.col("xa")) & (F.col("yb") > F.col("ya")))
                | ((F.col("xb") < F.col("xa")) & (F.col("yb") < F.col("ya")))
            ).cast("int")
        )
        .cast("long")
        .alias("nc"),
        F.sum(
            (
                ((F.col("xb") > F.col("xa")) & (F.col("yb") < F.col("ya")))
                | ((F.col("xb") < F.col("xa")) & (F.col("yb") > F.col("ya")))
            ).cast("int")
        )
        .cast("long")
        .alias("nd"),
    )
    nn = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2)
        .cast("long")
        .alias("n0"),
    )
    tie = lambda c: (  # noqa: E731
        daily.groupBy(c)
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long"),
                F.lit(0),
            ).alias("tie")
        )
    )
    tx = tie("x").select(F.col("tie").alias("tx"))
    ty = tie("y").select(F.col("tie").alias("ty"))
    return (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .selectExpr(
            "n", "n0", "nc", "nd", "tx", "ty",
            f"round({_TAUB}, 6) AS tau_b",
        )
    )


# Theil's uncertainty coefficient U(X|Y): X = event_type (5 classes),
# Y = day-of-week (7 blocks) — 35 cells + 7 column sums + 5 row sums pivot
# into one aggregate; H(X) and H(X|Y) are generated shared expressions.
_DOW = tuple(range(1, 8))  # dayofweek() 1..7, identical in both engines


def _theil_exprs() -> tuple[str, str]:
    k = len(_ETYPES)
    hx_terms = []
    for i in range(1, k + 1):
        p = f"(CAST(x{i} AS DOUBLE) / CAST(n_total AS DOUBLE))"
        hx_terms.append(f"coalesce({p} * ln(nullif({p}, 0)), 0)")
    hx = "(-(" + " + ".join(hx_terms) + "))"
    hxy_terms = []
    for j in _DOW:
        for i in range(1, k + 1):
            c = f"CAST(c{i}_{j} AS DOUBLE)"
            y = f"CAST(y{j} AS DOUBLE)"
            hxy_terms.append(
                f"coalesce(({c} / CAST(n_total AS DOUBLE))"
                f" * ln(nullif({c}, 0) / nullif({y}, 0)), 0)"
            )
    hxy = "(-(" + " + ".join(hxy_terms) + "))"
    return hx, hxy


_THEIL_HX, _THEIL_HXY = _theil_exprs()


@query(
    "stat_theil_u",
    oracle=f"""
    WITH t AS (
        -- DuckDB dayofweek is 0-based (Sunday=0); Spark's is 1-based
        -- (Sunday=1) — +1 aligns the block labels
        SELECT event_type AS x, CAST(dayofweek(ts) + 1 AS INT) AS y
        FROM events
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               {", ".join(
                   f"CAST(sum(CASE WHEN x = '{a}' AND y = {j} "
                   f"THEN 1 ELSE 0 END) AS BIGINT) AS c{i}_{j}"
                   for i, a in enumerate(_ETYPES, 1) for j in _DOW
               )},
               {", ".join(
                   f"CAST(sum(CASE WHEN x = '{a}' THEN 1 ELSE 0 END) "
                   f"AS BIGINT) AS x{i}"
                   for i, a in enumerate(_ETYPES, 1)
               )},
               {", ".join(
                   f"CAST(sum(CASE WHEN y = {j} THEN 1 ELSE 0 END) "
                   f"AS BIGINT) AS y{j}"
                   for j in _DOW
               )}
        FROM t
    )
    SELECT n_total, {", ".join(f"x{i}" for i in range(1, 6))},
           {_THEIL_HX} AS h_x,
           {_THEIL_HXY} AS h_x_given_y,
           ({_THEIL_HX} - {_THEIL_HXY}) / nullif({_THEIL_HX}, 0) AS theil_u
    FROM m
    """,
)
def stat_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U(event_type | day-of-week) — the
    NORMALIZED, asymmetric categorical-association measure (Theil 1970):
    what fraction of event-type uncertainty does knowing the weekday
    remove? Chi-square (events_chi2_independence) answers IS there
    association; U answers HOW MUCH, on a [0,1] scale comparable across
    tables — the feature-selection ranking metric for categorical
    features against a categorical target.

    Exactness: the 5x7 contingency table + both margins pivot into ONE
    combinable aggregate (47 exact integers); H(X) and H(X|Y) are
    generated, textually shared expressions with per-cell nullif/coalesce
    (the events_type_entropy discipline at contingency-matrix scale).

    Scale shape: one aggregate over facts, one row out. Nothing else
    moves.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        F.dayofweek("ts").cast("int").alias("y"),
    )
    m = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        *[
            F.sum(((F.col("x") == a) & (F.col("y") == j)).cast("int"))
            .cast("long")
            .alias(f"c{i}_{j}")
            for i, a in enumerate(_ETYPES, 1)
            for j in _DOW
        ],
        *[
            F.sum((F.col("x") == a).cast("int")).cast("long").alias(f"x{i}")
            for i, a in enumerate(_ETYPES, 1)
        ],
        *[
            F.sum((F.col("y") == j).cast("int")).cast("long").alias(f"y{j}")
            for j in _DOW
        ],
    )
    return m.selectExpr(
        "n_total",
        *[f"x{i}" for i in range(1, 6)],
        f"{_THEIL_HX} AS h_x",
        f"{_THEIL_HXY} AS h_x_given_y",
        f"({_THEIL_HX} - {_THEIL_HXY}) / nullif({_THEIL_HX}, 0) AS theil_u",
    )


# --- wave 50 (round 9) ---

# McNemar's chi-square with continuity correction over the discordant
# pair counts b, c — one shared expression over two exact integers.
_MCNEMAR = (
    "(abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)"
    " * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)"
    " / nullif(CAST(b AS DOUBLE) + CAST(c AS DOUBLE), 0)"
)
_MC_SPLIT = "DATE '2024-01-16'"  # mid-fixture, the drift_jsd_events split
_MC_BIG = 280  # big-ticket threshold: rare enough that the 2x2 table has
# discordant mass at both test scales (any-purchase saturates every cell)


@query(
    "stat_mcnemar_test",
    oracle=f"""
    WITH per AS (
        SELECT user_id,
               max(CASE WHEN ts < {_MC_SPLIT} AND event_type = 'purchase'
                        AND value > {_MC_BIG} THEN 1 ELSE 0 END) AS p1,
               max(CASE WHEN ts >= {_MC_SPLIT} AND event_type = 'purchase'
                        AND value > {_MC_BIG} THEN 1 ELSE 0 END) AS p2
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN p1 = 0 AND p2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM per
    )
    SELECT n_users, a, b, c, d,
           round({_MCNEMAR}, 6) AS chi2_cc
    FROM m
    """,
)
def stat_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (1947) on paired binary outcomes: did each user
    make a big-ticket purchase (value > {_MC_BIG}) in the first vs the
    second half of the window? (Any-purchase saturates every cell on
    this fixture; the rare outcome keeps discordant mass in play.) Only the
    DISCORDANT pairs (b = yes→no, c = no→yes) carry information —
    the within-subject change test behind before/after feature launches,
    where a two-sample test would ignore the pairing entirely. Completes
    the blocked-binary family: Cochran's Q generalizes this to k
    periods; McNemar is the k=2 workhorse with the Edwards continuity
    correction.

    Exactness: the full 2x2 concordance table is exact BIGINTs from one
    per-user reduction; chi² = (|b−c|−1)²/(b+c) is one shared nullif'd
    expression.

    Scale shape: one per-user combinable aggregate (the sessionization
    shuffle), one 1-row readout.
    """
    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("date")
    big = (F.col("event_type") == "purchase") & (F.col("value") > _MC_BIG)
    per = ev.groupBy("user_id").agg(
        F.max(((F.col("ts") < split) & big).cast("int")).alias("p1"),
        F.max(((F.col("ts") >= split) & big).cast("int")).alias("p2"),
    )
    m = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(((F.col("p1") == 1) & (F.col("p2") == 1)).cast("int"))
        .cast("long")
        .alias("a"),
        F.sum(((F.col("p1") == 1) & (F.col("p2") == 0)).cast("int"))
        .cast("long")
        .alias("b"),
        F.sum(((F.col("p1") == 0) & (F.col("p2") == 1)).cast("int"))
        .cast("long")
        .alias("c"),
        F.sum(((F.col("p1") == 0) & (F.col("p2") == 0)).cast("int"))
        .cast("long")
        .alias("d"),
    )
    return m.selectExpr(
        "n_users", "a", "b", "c", "d",
        f"round({_MCNEMAR}, 6) AS chi2_cc",
    )


# Wald-Wolfowitz runs z with continuity correction folded out (the plain
# large-sample form): z = (R - mu) / sigma, mu = 2 n1 n2 / n + 1,
# sigma^2 = 2 n1 n2 (2 n1 n2 - n) / (n^2 (n-1)) — one shared expression
# over three exact integers.
_RUNS_Z = (
    "(CAST(r_runs AS DOUBLE)"
    " - (2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2) + 1.0))"
    " / sqrt(2.0 * n1 * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)"
    "        / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)"
    "           * (CAST(n1 AS DOUBLE) + n2 - 1)))"
)


@query(
    "stat_runs_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM orders GROUP BY 1
    ),
    med AS (
        SELECT CAST(x AS BIGINT) AS m FROM daily
        ORDER BY x LIMIT 1 OFFSET (SELECT (count(*) - 1) // 2 FROM daily)
    ),
    signs AS (
        SELECT d, CASE WHEN x > (SELECT m FROM med) THEN 1 ELSE 0 END AS s
        FROM daily WHERE x <> (SELECT m FROM med)
    ),
    seq AS (
        SELECT s, lag(s) OVER (ORDER BY d) AS prev FROM signs
    ),
    m2 AS (
        SELECT CAST(sum(CASE WHEN prev IS NULL OR s <> prev
                             THEN 1 ELSE 0 END) AS BIGINT) AS r_runs,
               CAST(sum(s) AS BIGINT) AS n1,
               CAST(sum(1 - s) AS BIGINT) AS n2
        FROM seq
    )
    SELECT r_runs, n1, n2, round({_RUNS_Z}, 6) AS z_runs
    FROM m2
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (1940) for the RANDOMNESS of the daily
    revenue series around its median: too few runs of above/below-median
    days means positive serial dependence (trend or regime persistence),
    too many means oscillation — the model-free check a forecaster runs
    before trusting an i.i.d. residual assumption. Days exactly AT the
    exact-order-statistic median are dropped (the standard treatment).

    Exactness: the median is an exact order statistic of the daily
    integer sums (LIMIT/OFFSET on the sorted reduction); runs, n1, n2
    are exact BIGINTs from one lag window; z is one shared expression.

    Scale shape: facts reduce to the calendar-bounded daily table; the
    single-partition lag window runs over |days| rows (metadata). One
    output row.
    """
    from pyspark.sql import Window as W

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
        .localCheckpoint(eager=True)  # median + signs consume it
    )
    n_days = daily.count()
    med = (
        daily.orderBy("x")
        .limit((n_days - 1) // 2 + 1)
        .agg(F.max("x").alias("m"))
        .collect()[0]["m"]
    )
    signs = daily.filter(F.col("x") != med).select(
        "d", (F.col("x") > med).cast("int").alias("s")
    )
    seq = signs.select(
        "s", F.lag("s").over(W.orderBy("d")).alias("prev")
    )
    m2 = seq.agg(
        F.sum(
            (F.col("prev").isNull() | (F.col("s") != F.col("prev"))).cast(
                "int"
            )
        )
        .cast("long")
        .alias("r_runs"),
        F.sum("s").cast("long").alias("n1"),
        F.sum(1 - F.col("s")).cast("long").alias("n2"),
    )
    return m2.selectExpr(
        "r_runs", "n1", "n2", f"round({_RUNS_Z}, 6) AS z_runs"
    )


# Cohen's kappa over two deterministic lexical raters: kappa =
# (po - pe) / (1 - pe), both probabilities expanded over the four exact
# 2x2 cells in ONE shared expression (n = a+b+c+d).
_KAPPA = (
    "((CAST(a AS DOUBLE) + d) / n"
    " - ((CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c)"
    "    + (CAST(c AS DOUBLE) + d) * (CAST(b AS DOUBLE) + d))"
    "   / (CAST(n AS DOUBLE) * n))"
    " / (1.0"
    " - ((CAST(a AS DOUBLE) + b) * (CAST(a AS DOUBLE) + c)"
    "    + (CAST(c AS DOUBLE) + d) * (CAST(b AS DOUBLE) + d))"
    "   / (CAST(n AS DOUBLE) * n))"
)


@query(
    "stat_cohens_kappa",
    oracle=f"""
    WITH rated AS (
        -- char-diff thresholds: ' the ' removes 5 chars per occurrence
        -- (>= 25 means >= 5 hits), ' a ' removes 3 (>= 12 means >= 4)
        SELECT CASE WHEN (length(text) - length(replace(text, ' the ', '')))
                    >= 25 THEN 1 ELSE 0 END AS ra,
               CASE WHEN (length(text) - length(replace(text, ' a ', '')))
                    >= 12 THEN 1 ELSE 0 END AS rb
        FROM documents
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM rated
    )
    SELECT n, a, b, c, d, round({_KAPPA}, 6) AS kappa
    FROM m
    """,
)
def stat_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (1960) between two deterministic lexical
    English-ness raters (rater A: >= 5 occurrences of ' the '; rater B:
    >= 4 of ' a ', both as exact char-diff integer compares) — chance-corrected inter-annotator agreement, THE
    metric a labeling pipeline reports before trusting weak labels or
    LLM-judge ensembles (raw agreement is inflated by class imbalance;
    kappa subtracts the agreement two raters would reach by chance).
    Completes the agreement family beside McNemar (which tests marginal
    CHANGE on the same 2x2).

    Exactness: the 2x2 table is one combinable aggregate of exact
    substring-occurrence integers (both raters are deterministic
    functions of the text, replayed identically by the oracle); kappa is
    one shared expression over the four cells.

    Scale shape: one map-side projection + one aggregate; 1 row out.
    """
    d = load_table(spark, sf_dir, "documents")
    chardiff = lambda token: F.length("text") - F.length(  # noqa: E731
        F.replace(F.col("text"), F.lit(token))
    )
    rated = d.select(
        (chardiff(" the ") >= 25).cast("int").alias("ra"),
        (chardiff(" a ") >= 12).cast("int").alias("rb"),
    )
    m = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 1)).cast("int"))
        .cast("long")
        .alias("a"),
        F.sum(((F.col("ra") == 1) & (F.col("rb") == 0)).cast("int"))
        .cast("long")
        .alias("b"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 1)).cast("int"))
        .cast("long")
        .alias("c"),
        F.sum(((F.col("ra") == 0) & (F.col("rb") == 0)).cast("int"))
        .cast("long")
        .alias("d"),
    )
    return m.selectExpr(
        "n", "a", "b", "c", "d", f"round({_KAPPA}, 6) AS kappa"
    )


# --- wave 52 (round 10) ---

# Cramér's V: the scaled-integer chi-square. Each cell contributes
# floor(o² · n · 10⁶ / (r·c)) — an EXACT integer in both engines (DuckDB
# hugeint //; Spark via rounded decimal division + a one-step integer
# fix-up, because Spark's `div` operator casts DECIMAL operands to LONG
# and wraps), summed exactly; chi² = Σterm/10⁶ − n follows from
# chi² = n(Σ o²/(r·c) − 1). The quotient is ≤ n·10⁶ (o² ≤ r·c always);
# the 10⁻⁶ truncation per cell is applied identically by both engines
# (it defines the statistic, not an error term).
_CRAMER_SCALE = 1_000_000


@query(
    "stat_cramers_v",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS e, user_id % 4 AS b,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rc AS (
        SELECT e, b, o,
               sum(o) OVER (PARTITION BY e) AS r,
               sum(o) OVER (PARTITION BY b) AS c,
               sum(o) OVER () AS n
        FROM cells
    ),
    t AS (
        SELECT max(n) AS n,
               CAST(count(DISTINCT e) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT b) AS BIGINT) AS n_cols,
               CAST(sum(CAST((CAST(o AS HUGEINT) * o * n * {_CRAMER_SCALE})
                             // (r * c) AS BIGINT)) AS BIGINT) AS term_sum
        FROM rc
    )
    SELECT CAST(n AS BIGINT) AS n, n_rows, n_cols,
           CAST(term_sum - n * {_CRAMER_SCALE} AS BIGINT) AS chi2_e6,
           round(sqrt((CAST(term_sum - n * {_CRAMER_SCALE} AS DOUBLE)
                       / {_CRAMER_SCALE})
                      / (CAST(n AS DOUBLE)
                         * (CAST(least(n_rows, n_cols) AS DOUBLE) - 1))), 6)
               AS cramers_v
    FROM t
    """,
)
def stat_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V (1946) for the event_type × user-bucket contingency —
    the normalized effect size a pipeline reports NEXT TO a chi-square
    p-value (significance without magnitude is noise at 100 TB row
    counts, where everything is "significant"). V = sqrt(chi²/(n·(min(R,C)−1))).

    Exactness: the chi-square is carried as the scaled integer
    chi2_e6 = Σ floor(o²·n·10⁶/(r·c)) − n·10⁶ — every term an exact
    integer division both engines replay bit-for-bit (no cross-row float
    sum anywhere); V is one per-row scalar over that integer.

    Scale shape: one combinable cell count, two tiny window sums over the
    R×C cell table (20 rows here — the contingency table is a REDUCTION),
    one final row. The corpus is scanned once.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("e"), (F.col("user_id") % 4).alias("b")
    )
    cells = e.groupBy("e", "b").agg(F.count(F.lit(1)).cast("long").alias("o"))
    rc = cells.select(
        "e",
        "b",
        "o",
        F.sum("o").over(W.partitionBy("e")).alias("r"),
        F.sum("o").over(W.partitionBy("b")).alias("c"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    t = rc.agg(
        F.max("n").alias("n"),
        F.countDistinct("e").cast("long").alias("n_rows"),
        F.countDistinct("b").cast("long").alias("n_cols"),
        # Spark's `div` operator silently casts DECIMAL operands to LONG
        # (observed wrap-around); exact floor division is done as a rounded
        # decimal division plus a one-step integer fix-up, all in exact
        # decimal compares.
        F.sum(
            F.expr(
                f"CAST((CAST((CAST(o AS DECIMAL(38,0)) * o * n"
                f" * {_CRAMER_SCALE}) / (r * c) AS DECIMAL(38,0)))"
                f" - (CASE WHEN (CAST((CAST(o AS DECIMAL(38,0)) * o * n"
                f" * {_CRAMER_SCALE}) / (r * c) AS DECIMAL(38,0)))"
                f" * (r * c) > CAST(o AS DECIMAL(38,0)) * o * n"
                f" * {_CRAMER_SCALE} THEN 1 ELSE 0 END) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("term_sum"),
    )
    return t.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "n_rows",
        "n_cols",
        f"CAST(term_sum - n * {_CRAMER_SCALE} AS BIGINT) AS chi2_e6",
        f"round(sqrt((CAST(term_sum - n * {_CRAMER_SCALE} AS DOUBLE)"
        f" / {_CRAMER_SCALE})"
        " / (CAST(n AS DOUBLE)"
        " * (CAST(least(n_rows, n_cols) AS DOUBLE) - 1))), 6)"
        " AS cramers_v",
    )


# Jarque-Bera from raw power sums. mean/m2/m3/m4 are the standard central-
# moment expansions over EXACT integer power sums (cents; s3/s4 in
# DECIMAL(38,0)/HUGEINT — cents⁴ ≈ 10³¹ per row); skew and kurtosis avoid
# pow() entirely (m2·sqrt(m2), m2·m2) so the only float ops are IEEE
# +,-,*,/,sqrt — bit-identical across engines from identical inputs.
_JB_MEAN = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
_JB_M2 = f"(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - {_JB_MEAN} * {_JB_MEAN})"
_JB_M3 = (
    f"(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 3 * {_JB_MEAN} * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 2 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_M4 = (
    f"(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    f" - 4 * {_JB_MEAN} * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" + 6 * {_JB_MEAN} * {_JB_MEAN}"
    f" * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    f" - 3 * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN} * {_JB_MEAN})"
)
_JB_SKEW = f"({_JB_M3} / ({_JB_M2} * sqrt({_JB_M2})))"
_JB_KURT = f"({_JB_M4} / ({_JB_M2} * {_JB_M2}))"
_JB_STAT = (
    f"(CAST(n AS DOUBLE) / 6.0 * ({_JB_SKEW} * {_JB_SKEW}"
    f" + ({_JB_KURT} - 3.0) * ({_JB_KURT} - 3.0) / 4.0))"
)


@query(
    "stat_jarque_bera",
    oracle=f"""
    WITH m AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS s1,
               sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)) AS s2,
               sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)) AS s3,
               sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)) AS s4
        FROM orders GROUP BY 1
    )
    SELECT o_orderpriority, n,
           round({_JB_SKEW}, 6) AS skew,
           round({_JB_KURT}, 6) AS kurtosis,
           round({_JB_STAT}, 4) AS jb_stat
    FROM m ORDER BY o_orderpriority
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic (1980) per order priority over
    order totals in cents — JB = n/6·(skew² + (kurt−3)²/4), the
    moment-based normality screen a feature pipeline runs before choosing
    between mean/std scaling and robust/rank scaling (heavy tails break
    the former silently).

    Exactness: the four power sums are exact integers (cents; s3/s4 in
    DECIMAL(38,0) — cents⁴ ≈ 10³¹/row); skew/kurt/JB are per-GROUP
    scalars over those integers built from +,-,*,/,sqrt only (no pow,
    whose libm rounding differs across engines).

    Scale shape: one map-side-combinable aggregate, 5 rows out; the same
    single-pass moment discipline as agg_stat_moments one power higher.
    """
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    cd = cents.cast("decimal(38,0)")
    m = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", cents.alias("x"), cd.alias("xd"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("xd") * F.col("xd")).alias("s2"),
            F.sum(F.col("xd") * F.col("xd") * F.col("xd")).alias("s3"),
            F.sum(F.col("xd") * F.col("xd") * F.col("xd") * F.col("xd")).alias(
                "s4"
            ),
        )
    )
    return m.selectExpr(
        "o_orderpriority",
        "n",
        f"round({_JB_SKEW}, 6) AS skew",
        f"round({_JB_KURT}, 6) AS kurtosis",
        f"round({_JB_STAT}, 4) AS jb_stat",
    ).orderBy("o_orderpriority")


# Durbin-Watson. The OLS line is fitted from five exact integer moments;
# the coefficient expressions cast each moment to DOUBLE BEFORE
# multiplying (n·sty overflows BIGINT at fixture scale) — identical
# expression text in both engines ⇒ identical IEEE doubles. Residuals are
# then FLOORED to integer cents, so both quadratic sums are exact
# integers and DW is one final double division.
_DW_B = (
    "((CAST(n AS DOUBLE) * CAST(sty AS DOUBLE)"
    " - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE)"
    " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)))"
)
_DW_A = f"((CAST(sy AS DOUBLE) - {_DW_B} * CAST(st AS DOUBLE)) / CAST(n AS DOUBLE))"
_DW_ES = (
    f"CAST(floor(CAST(y AS DOUBLE) - {_DW_A}"
    f" - {_DW_B} * CAST(day_x AS DOUBLE)) AS BIGINT)"
)


@query(
    "stat_durbin_watson",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day_x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(day_x) AS BIGINT) AS st,
               CAST(sum(day_x * day_x) AS BIGINT) AS st2,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(day_x * y) AS BIGINT) AS sty
        FROM daily
    ),
    res AS (
        SELECT day_x, {_DW_ES} AS es
        FROM daily CROSS JOIN m
    ),
    lagged AS (
        SELECT es,
               es - lag(es) OVER (ORDER BY day_x) AS d
        FROM res
    )
    SELECT (SELECT n FROM m) AS n_days,
           round(CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                 / CAST(sum(CAST(es AS HUGEINT) * es) AS DOUBLE), 6) AS dw,
           round(1.0 - CAST(sum(CAST(d AS HUGEINT) * d) AS DOUBLE)
                 / CAST(sum(CAST(es AS HUGEINT) * es) AS DOUBLE) / 2.0, 6)
               AS rho_lag1
    FROM lagged
    """,
)
def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic (1950) of the daily-revenue OLS residuals —
    THE autocorrelation screen for a fitted trend: DW ≈ 2 means white
    residuals, DW → 0 positive serial correlation (the trend is missing
    structure and the forecast's error bars lie), DW → 4 negative.
    rho_lag1 = 1 − DW/2 is the implied lag-1 residual correlation.

    Exactness: the trend comes from five exact integer moments; slope and
    intercept are shared-text IEEE doubles; residuals are FLOORED to
    integer cents so Σd² and Σe² are exact DECIMAL(38,0)/HUGEINT sums and
    DW is one final double division rounded once.

    Scale shape: one combinable daily rollup, one 5-integer moment row
    (broadcast back), one lag window over n_days rows — the corpus is
    scanned once and the window input is calendar-bounded.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).alias("day_x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day_x")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("day_x").cast("long").alias("st"),
        F.sum(F.col("day_x") * F.col("day_x")).cast("long").alias("st2"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("day_x") * F.col("y")).cast("long").alias("sty"),
    )
    res = daily.crossJoin(F.broadcast(m)).selectExpr(
        "day_x", "n", f"{_DW_ES} AS es"
    )
    lagged = res.select(
        "n",
        "es",
        (F.col("es") - F.lag("es").over(W.orderBy("day_x"))).alias("d"),
    )
    dd = "CAST(es AS DECIMAL(38,0))"
    return lagged.groupBy("n").agg(
        F.expr(
            "round(CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DOUBLE)"
            f" / CAST(sum({dd} * es) AS DOUBLE), 6)"
        ).alias("dw"),
        F.expr(
            "round(1.0 - CAST(sum(CAST(d AS DECIMAL(38,0)) * d) AS DOUBLE)"
            f" / CAST(sum({dd} * es) AS DOUBLE) / 2.0, 6)"
        ).alias("rho_lag1"),
    ).selectExpr("CAST(n AS BIGINT) AS n_days", "dw", "rho_lag1")


@query(
    "stat_cox_stuart",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', o_orderdate) AS day_x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT y, row_number() OVER (ORDER BY day_x) AS rn,
               count(*) OVER () AS n
        FROM daily
    ),
    pairs AS (
        SELECT b.y - a.y AS diff
        FROM seq a JOIN seq b
          ON b.rn = a.rn + (a.n - a.n // 2) AND a.rn <= a.n // 2
    )
    SELECT (SELECT CAST(max(n) AS BIGINT) FROM seq) AS n_days,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_plus,
           CAST(sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS s_minus,
           round((2.0 * CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                             AS DOUBLE)
                  - CAST(sum(CASE WHEN diff <> 0 THEN 1 ELSE 0 END)
                         AS DOUBLE))
                 / sqrt(CAST(sum(CASE WHEN diff <> 0 THEN 1 ELSE 0 END)
                             AS DOUBLE)), 6) AS z_cs
    FROM pairs
    """,
)
def stat_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test (1955) on the daily-revenue series: pair day
    i with day i + ceil(n/2) (the middle day drops out for odd n), count
    sign(later − earlier), and read the binomial z — the distribution-free
    trend screen that needs no rank variance machinery (the quick cousin
    of Mann-Kendall: O(n) pairs instead of O(n²) concordances).

    Exactness: daily cents are exact integers; the pairing is a
    row_number self-join on integer offsets; z is one per-row scalar over
    three exact counts (ties excluded from n_eff, the standard
    treatment).

    Scale shape: the pair join is an equi-join on rn (days, not orders) —
    calendar-bounded; everything else is one combinable rollup.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).alias("day_x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day_x")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    seq = daily.select(
        "y",
        F.row_number().over(W.orderBy("day_x")).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    a = seq.select("y", "rn", "n").alias("a")
    b = seq.select(F.col("y").alias("yb"), F.col("rn").alias("rnb")).alias("b")
    pairs = a.join(
        b,
        (F.col("rnb") == F.col("rn") + (F.col("n") - F.floor(F.col("n") / 2)))
        & (F.col("rn") <= F.floor(F.col("n") / 2)),
    ).select("n", (F.col("yb") - F.col("y")).alias("diff"))
    return pairs.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("diff") > 0).cast("int")).cast("long").alias("s_plus"),
        F.sum((F.col("diff") < 0).cast("int")).cast("long").alias("s_minus"),
        F.expr(
            "round((2.0 * CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)"
            " AS DOUBLE)"
            " - CAST(sum(CASE WHEN diff <> 0 THEN 1 ELSE 0 END) AS DOUBLE))"
            " / sqrt(CAST(sum(CASE WHEN diff <> 0 THEN 1 ELSE 0 END)"
            " AS DOUBLE)), 6)"
        ).alias("z_cs"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n_days", "n_pairs", "s_plus", "s_minus", "z_cs"
    )


@query(
    "stat_cliffs_delta",
    oracle="""
    WITH v AS (
        SELECT event_type AS g, CAST(floor(value * 100) AS BIGINT) AS x
        FROM events WHERE event_type IN ('click', 'error')
    ),
    ranked AS (
        SELECT g, x,
               2 * rank() OVER (ORDER BY x)
                 + count(*) OVER (PARTITION BY x) - 1 AS mr2
        FROM v
    ),
    agg AS (
        SELECT CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN g = 'error' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2,
               CAST(sum(CASE WHEN g = 'click' THEN mr2 ELSE 0 END)
                    AS BIGINT) AS r1_x2
        FROM ranked
    )
    SELECT n1, n2, r1_x2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           round(CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                 / CAST(n1 * n2 AS DOUBLE), 6) AS cliffs_delta,
           CASE WHEN abs(CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                         / CAST(n1 * n2 AS DOUBLE)) < 0.147
                    THEN 'negligible'
                WHEN abs(CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                         / CAST(n1 * n2 AS DOUBLE)) < 0.33 THEN 'small'
                WHEN abs(CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                         / CAST(n1 * n2 AS DOUBLE)) < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM agg
    """,
)
def stat_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta (1993) between click and error event values — the
    ordinal effect size P(X>Y) − P(X<Y) that reports HOW SEPARATED two
    groups are where Mann-Whitney only reports whether they differ;
    Romano (2006) magnitude bands attached.

    Exactness: delta is derived WITHOUT comparing pairs — via the midrank
    identity #(>) − #(<) = 2U₁ − n₁n₂ with 2U₁ = 2R₁ − n₁(n₁+1), and the
    DOUBLED midrank 2·mr = 2·rank + tie_count − 1 is an exact integer, so
    every aggregate is integer and delta is one final rational rounded
    once.

    Scale shape: one global rank window over the two groups' values (the
    Mann-Whitney shape — sort-based, no pair join), one combinable
    aggregate, 1 row out.
    """
    v = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "error"))
        .select(
            F.col("event_type").alias("g"),
            F.floor(F.col("value") * 100).cast("long").alias("x"),
        )
    )
    ranked = v.select(
        "g",
        (
            2 * F.rank().over(W.orderBy("x"))
            + F.count(F.lit(1)).over(W.partitionBy("x"))
            - 1
        )
        .cast("long")
        .alias("mr2"),
    )
    agg = ranked.agg(
        F.sum((F.col("g") == "click").cast("int")).cast("long").alias("n1"),
        F.sum((F.col("g") == "error").cast("int")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == "click", F.col("mr2")).otherwise(0))
        .cast("long")
        .alias("r1_x2"),
    )
    delta = (
        "CAST(r1_x2 - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)"
        " / CAST(n1 * n2 AS DOUBLE)"
    )
    return agg.selectExpr(
        "n1",
        "n2",
        "r1_x2",
        "CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2",
        f"round({delta}, 6) AS cliffs_delta",
        f"CASE WHEN abs({delta}) < 0.147 THEN 'negligible'"
        f" WHEN abs({delta}) < 0.33 THEN 'small'"
        f" WHEN abs({delta}) < 0.474 THEN 'medium'"
        " ELSE 'large' END AS magnitude",
    )


# --- wave 53 (round 10) ---

# Mutual information / G-test: each cell's pointwise log-ratio
# ln(o·n/(r·c)) is micro-quantized to an integer (1e9 units) BEFORE the
# o-weighted sum, so the corpus MI is an exact BIGINT sum both engines
# replay (the text_zipf_fit / orders_hill_tail_index discipline). The
# G statistic is 2·Σ o·ln(o·n/(r·c)) = 2·mi_e9_sum/1e9 — the
# likelihood-ratio twin of events_chi2_independence, and MI itself is the
# feature-relevance readout (how many nats event_type carries about the
# user bucket).
_MI_Q = 1_000_000_000


@query(
    "stat_mutual_information",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS e, user_id % 8 AS b,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rc AS (
        SELECT o,
               sum(o) OVER (PARTITION BY e) AS r,
               sum(o) OVER (PARTITION BY b) AS c,
               sum(o) OVER () AS n
        FROM cells
    ),
    q AS (
        SELECT max(n) AS n,
               CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(o * CAST(floor(ln((CAST(o AS DOUBLE) * n)
                                          / (CAST(r AS DOUBLE) * c))
                                        * {_MI_Q}) AS BIGINT))
                    AS BIGINT) AS mi_e9_sum
        FROM rc
    )
    SELECT CAST(n AS BIGINT) AS n, n_cells, mi_e9_sum,
           round(CAST(mi_e9_sum AS DOUBLE) / (CAST(n AS DOUBLE) * {_MI_Q}),
                 9) AS mi_nats,
           round(2.0 * CAST(mi_e9_sum AS DOUBLE) / {_MI_Q}, 4) AS g_stat
    FROM q
    """,
)
def stat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and the G-test (likelihood-ratio
    chi-square, Sokal & Rohlf) for the event_type × user-bucket
    contingency — MI is THE model-free feature-relevance measure a
    training pipeline ranks candidate features by, and G = 2n·MI is its
    significance twin (the likelihood-ratio counterpart of
    events_chi2_independence's Pearson form).

    Exactness: each cell's pointwise ratio ln(o·n/(r·c)) is
    micro-quantized to 1e-9 BEFORE the o-weighted sum, so the corpus MI is
    an exact BIGINT both engines replay — no cross-row float sum. o·n and
    r·c are < 2^53, exact in doubles.

    Scale shape: one combinable cell count, window sums over the R×C cell
    table (40 cells — the contingency is a REDUCTION, metadata next to
    the fact table), one output row.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("e"), (F.col("user_id") % 8).alias("b")
    )
    cells = e.groupBy("e", "b").agg(F.count(F.lit(1)).cast("long").alias("o"))
    rc = cells.select(
        "o",
        F.sum("o").over(W.partitionBy("e")).alias("r"),
        F.sum("o").over(W.partitionBy("b")).alias("c"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    q = rc.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(
            F.col("o")
            * F.floor(
                F.log(
                    (F.col("o").cast("double") * F.col("n"))
                    / (F.col("r").cast("double") * F.col("c"))
                )
                * _MI_Q
            ).cast("long")
        )
        .cast("long")
        .alias("mi_e9_sum"),
    )
    return q.selectExpr(
        "CAST(n AS BIGINT) AS n",
        "n_cells",
        "mi_e9_sum",
        f"round(CAST(mi_e9_sum AS DOUBLE) / (CAST(n AS DOUBLE) * {_MI_Q}),"
        " 9) AS mi_nats",
        f"round(2.0 * CAST(mi_e9_sum AS DOUBLE) / {_MI_Q}, 4) AS g_stat",
    )


# Jonckheere-Terpstra: the k-sample trend test against the ORDERED
# alternative (priority 1-URGENT < 2-HIGH < ... < 5-LOW), i.e. "does order
# value drift monotonically across priority classes?" — strictly more
# powerful than Kruskal-Wallis when the alternative is ordered. The
# statistic is the sum of pairwise Mann-Whitney counts; we compute it
# WITHOUT any pair join via per-bin cumulative counts: for groups i<j,
# 2·U_ij = Σ_bin cnt_j·(2·cum_lt_i + cnt_i). Values are binned to
# hundred-dollar buckets (floor(price/100)) so the value domain — and the
# single-partition prefix window — is bounded metadata (the drift_ks_exact
# shape), not corpus-sized. Ties use the standard Hollander-Wolfe
# tie-corrected null variance, every moment an exact integer.
def _jt_pairs_expr() -> str:
    """Σ_{i<j} cnt_j·(2·cum_lt_i + cnt_i) as one shared textual expression
    over the pivoted per-bin columns c1..c5 / lt1..lt5."""
    terms = []
    for i in range(1, 6):
        for j in range(i + 1, 6):
            terms.append(f"c{j} * (2 * lt{i} + c{i})")
    return " + ".join(terms)


@query(
    "stat_jonckheere_terpstra",
    oracle=f"""
    WITH b AS (
        SELECT CAST(floor(o_totalprice / 100) AS BIGINT) AS bin,
               {" ".join(f"CAST(sum(CASE WHEN substr(o_orderpriority, 1, 1) = '{i}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i}," for i in range(1, 5))}
               CAST(sum(CASE WHEN substr(o_orderpriority, 1, 1) = '5' THEN 1 ELSE 0 END) AS BIGINT) AS c5
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT bin, c1, c2, c3, c4, c5,
               {", ".join(f"sum(c{i}) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c{i} AS lt{i}" for i in range(1, 6))}
        FROM b
    ),
    t AS (
        SELECT CAST(sum({_jt_pairs_expr()}) AS BIGINT) AS jt_x2,
               {" ".join(f"sum(c{i}) AS n{i}," for i in range(1, 6))}
               sum(c1 + c2 + c3 + c4 + c5) AS n,
               sum(CAST(c1 + c2 + c3 + c4 + c5 AS HUGEINT)
                   * (c1 + c2 + c3 + c4 + c5 - 1)) AS t2,
               sum(CAST(c1 + c2 + c3 + c4 + c5 AS HUGEINT)
                   * (c1 + c2 + c3 + c4 + c5 - 1)
                   * (c1 + c2 + c3 + c4 + c5 - 2)) AS t3,
               sum(CAST(c1 + c2 + c3 + c4 + c5 AS HUGEINT)
                   * (c1 + c2 + c3 + c4 + c5 - 1)
                   * (2 * (c1 + c2 + c3 + c4 + c5) + 5)) AS t25
        FROM cum
    ),
    m AS (
        SELECT jt_x2, CAST(n AS BIGINT) AS n,
               CAST(n * n - ({" + ".join(f"n{i} * n{i}" for i in range(1, 6))}) AS BIGINT) AS e_jt_x4,
               CAST(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)
                    - ({" + ".join(f"CAST(n{i} AS HUGEINT) * (n{i} - 1) * (2 * n{i} + 5)" for i in range(1, 6))})
                    - t25 AS DOUBLE) AS a_term,
               CAST(({" + ".join(f"CAST(n{i} AS HUGEINT) * (n{i} - 1) * (n{i} - 2)" for i in range(1, 6))}) * t3 AS DOUBLE) AS b_term,
               CAST(({" + ".join(f"CAST(n{i} AS HUGEINT) * (n{i} - 1)" for i in range(1, 6))}) * t2 AS DOUBLE) AS c_term
        FROM t
    )
    SELECT jt_x2, n, e_jt_x4,
           round((CAST(jt_x2 AS DOUBLE) / 2 - CAST(e_jt_x4 AS DOUBLE) / 4)
                 / sqrt(a_term / 72
                        + b_term / (36.0 * n * (n - 1) * (n - 2))
                        + c_term / (8.0 * n * (n - 1))), 6) AS z_jt
    FROM m
    """,
)
def stat_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test (1954) for a monotone trend in order value
    across the ORDERED priority classes — the k-sample trend test that
    beats Kruskal-Wallis when the alternative is ordered (does urgency buy
    bigger orders?). JT = Σ_{i<j} U_ij over the priority order.

    Exactness: values are binned to hundred-dollar buckets; the doubled
    statistic 2·JT = Σ_bin Σ_{i<j} cnt_j·(2·cum_lt_i + cnt_i) is an exact
    BIGINT (ties contribute the standard half via the doubling), the null
    mean 2·E = n² − Σn_i² is exact, and the Hollander-Wolfe tie-corrected
    variance is assembled from three exact integer moments (HUGEINT /
    DECIMAL(38,0) — Σn_i³·Σt_b³ overflows 64 bits at sf0.1); z is one
    shared float expression.

    Scale shape: one combinable (bin × 5) conditional count, a prefix
    window over the ~5k-bin value domain (bounded metadata, the
    drift_ks_exact shape — never corpus-sized), one output row.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / 100).cast("long").alias("bin"),
        F.substring("o_orderpriority", 1, 1).alias("g"),
    )
    b = o.groupBy("bin").agg(
        *[
            F.sum(F.when(F.col("g") == str(i), 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i in range(1, 6)
        ]
    )
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = b.select(
        "bin",
        *[F.col(f"c{i}") for i in range(1, 6)],
        *[
            (F.sum(f"c{i}").over(w) - F.col(f"c{i}")).alias(f"lt{i}")
            for i in range(1, 6)
        ],
    )
    tb = F.col("c1") + F.col("c2") + F.col("c3") + F.col("c4") + F.col("c5")
    tbd = tb.cast("decimal(38,0)")
    t = cum.agg(
        F.sum(F.expr(_jt_pairs_expr())).cast("long").alias("jt_x2"),
        *[F.sum(f"c{i}").alias(f"n{i}") for i in range(1, 6)],
        F.sum(tb).alias("n"),
        F.sum(tbd * (tb - 1)).alias("t2"),
        F.sum(tbd * (tb - 1) * (tb - 2)).alias("t3"),
        F.sum(tbd * (tb - 1) * (2 * tb + 5)).alias("t25"),
    )
    ni_sq = " + ".join(f"n{i} * n{i}" for i in range(1, 6))
    ni_25 = " + ".join(
        f"CAST(n{i} AS DECIMAL(38,0)) * (n{i} - 1) * (2 * n{i} + 5)"
        for i in range(1, 6)
    )
    ni_3 = " + ".join(
        f"CAST(n{i} AS DECIMAL(38,0)) * (n{i} - 1) * (n{i} - 2)"
        for i in range(1, 6)
    )
    ni_2 = " + ".join(
        f"CAST(n{i} AS DECIMAL(38,0)) * (n{i} - 1)" for i in range(1, 6)
    )
    m = t.selectExpr(
        "jt_x2",
        "CAST(n AS BIGINT) AS n",
        f"CAST(n * n - ({ni_sq}) AS BIGINT) AS e_jt_x4",
        "CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)"
        f" - ({ni_25}) - t25 AS DOUBLE) AS a_term",
        f"CAST(({ni_3}) * t3 AS DOUBLE) AS b_term",
        f"CAST(({ni_2}) * t2 AS DOUBLE) AS c_term",
    )
    return m.selectExpr(
        "jt_x2",
        "n",
        "e_jt_x4",
        "round((CAST(jt_x2 AS DOUBLE) / 2 - CAST(e_jt_x4 AS DOUBLE) / 4)"
        " / sqrt(a_term / 72"
        " + b_term / (36.0 * n * (n - 1) * (n - 2))"
        " + c_term / (8.0 * n * (n - 1))), 6) AS z_jt",
    )


# Bartlett's test: the parametric twin of stat_levene_bf. Per-group sum of
# squares is pinned as the exact scaled integer ss_e6 = floor(1e6·SS)
# (the stat_cramers_v integer-division discipline: the 1e-6 truncation
# DEFINES the statistic), each ln of a variance ratio of those integers is
# micro-quantized to 1e-9 before the (n_i−1)-weighted integer sum, and the
# Σ1/(n_i−1) correction term is carried as exact floor(1e18/(n_i−1))
# integers — so NO cross-group float sum exists anywhere.
_BART_Q = 1_000_000_000
_BART_INV = 10**18


@query(
    "stat_bartlett",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS ni,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS HUGEINT) AS s1,
               sum(CAST(floor(o_totalprice * 100) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS HUGEINT)) AS s2
        FROM orders GROUP BY 1
    ),
    pg AS (
        SELECT ni,
               CAST((ni * s2 - s1 * s1) * {10**6} // ni AS HUGEINT)
                   AS ss_e6
        FROM g
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(ni) AS BIGINT) AS n,
               CAST(sum(ss_e6) AS HUGEINT) AS ssp_e6,
               CAST(sum((ni - 1) * CAST(floor(ln(CAST(ss_e6 AS DOUBLE)
                                               / (1e6 * (ni - 1)))
                                            * {_BART_Q}) AS BIGINT))
                    AS BIGINT) AS wsum_ln_e9,
               CAST(sum({_BART_INV} // (ni - 1)) AS BIGINT) AS inv_e18
        FROM pg
    )
    SELECT k, n,
           CAST(wsum_ln_e9 AS BIGINT) AS wsum_ln_e9,
           CAST((n - k) * CAST(floor(ln(CAST(ssp_e6 AS DOUBLE)
                                        / (1e6 * (n - k))) * {_BART_Q})
                               AS BIGINT) - wsum_ln_e9
                AS BIGINT) AS num_e9,
           round(CAST((n - k) * CAST(floor(ln(CAST(ssp_e6 AS DOUBLE)
                                              / (1e6 * (n - k)))
                                           * {_BART_Q}) AS BIGINT)
                      - wsum_ln_e9 AS DOUBLE) / {_BART_Q}
                 / (1 + (CAST(inv_e18 - {_BART_INV} // (n - k) AS DOUBLE)
                         / {_BART_INV}) / (3.0 * (k - 1))), 4)
               AS chi2_bartlett
    FROM t
    """,
)
def stat_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test (1937) for homogeneity of order-value variance
    across the five priority classes — the parametric (normal-theory)
    twin of stat_levene_bf, sharper when Jarque-Bera says the tails are
    tame, and the classic gate before pooling variances in a stratified
    estimator. χ² = [(N−k)·ln s_p² − Σ(n_i−1)·ln s_i²] / C.

    Exactness: per-group SS is the exact scaled integer
    floor(1e6·(n_i·S2 − S1²)/n_i); each ln is micro-quantized to 1e-9
    BEFORE the (n_i−1)-weighted BIGINT sum; the Σ1/(n_i−1) correction is
    exact floor(1e18/(n_i−1)) integers. The only float ops are per-row
    ln/division on identical inputs — no cross-group float accumulation.

    Scale shape: one combinable (count, sum, sum-of-squares) aggregate —
    the agg_stat_moments shape — then arithmetic over k=5 group rows.
    """
    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    g = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", cents.alias("x"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ni"),
            F.sum("x").cast("decimal(38,0)").alias("s1"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
        )
    )
    # Exact floor((n_i*S2 - S1^2)*1e6 / n_i): Spark `div` casts decimals
    # to LONG (wraps), so use rounded decimal division + integer fix-up.
    pg = g.selectExpr(
        "ni",
        f"(ni * s2 - s1 * s1) * {10**6} AS big",
    ).selectExpr(
        "ni",
        "CAST(big / ni AS DECIMAL(38,0)) AS q0",
        "big",
    ).selectExpr(
        "ni",
        "CAST(q0 - (CASE WHEN q0 * ni > big THEN 1 ELSE 0 END)"
        " AS DECIMAL(38,0)) AS ss_e6",
    )
    t = pg.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ni").cast("long").alias("n"),
        F.sum("ss_e6").alias("ssp_e6"),
        F.sum(
            F.expr(
                "(ni - 1) * CAST(floor(ln(CAST(ss_e6 AS DOUBLE)"
                f" / (1e6 * (ni - 1))) * {_BART_Q}) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("wsum_ln_e9"),
        F.sum(F.expr(f"{_BART_INV} div (ni - 1)")).cast("long").alias(
            "inv_e18"
        ),
    )
    lp = (
        f"CAST(floor(ln(CAST(ssp_e6 AS DOUBLE) / (1e6 * (n - k)))"
        f" * {_BART_Q}) AS BIGINT)"
    )
    return t.selectExpr(
        "k",
        "n",
        "wsum_ln_e9",
        f"CAST((n - k) * {lp} - wsum_ln_e9 AS BIGINT) AS num_e9",
        f"round(CAST((n - k) * {lp} - wsum_ln_e9 AS DOUBLE) / {_BART_Q}"
        f" / (1 + (CAST(inv_e18 - {_BART_INV} div (n - k) AS DOUBLE)"
        f" / {_BART_INV}) / (3.0 * (k - 1))), 4)"
        " AS chi2_bartlett",
    )


# Fisher's exact test via the hypergeometric RECURRENCE, not factorials:
# pmf(k)/pmf(k-1) = (r-k+1)(c-k+1) / (k(n-r-c+k)) is an exact integer
# ratio; its ln is micro-quantized (1e-12) per step and prefix-summed to
# an exact integer log-profile lrel(k). The two-sided inclusion rule
# {k : pmf(k) <= pmf(a)} becomes an INTEGER comparison on lrel, and the
# probability masses are sums of integer-quantized exp weights — so the
# whole decision path is deterministic cross-engine (the
# stat_benjamini_hochberg exp discipline, one step stricter).
_FISHER_LQ = 10**12
_FISHER_WQ = 10**15
_FISHER_CENTS = 45_000  # "big-ticket": value >= $450.00


@query(
    "stat_fisher_exact",
    oracle=f"""
    WITH t AS (
        SELECT CAST(sum(CASE WHEN event_type = 'purchase'
                             AND floor(value * 100) >= {_FISHER_CENTS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS r,
               CAST(sum(CASE WHEN floor(value * 100) >= {_FISHER_CENTS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM events
    ),
    support AS (
        SELECT t.*, greatest(0, r + c - n) AS kmin, least(r, c) AS kmax
        FROM t
    ),
    ks AS (
        SELECT s.*, unnest(generate_series(s.kmin, s.kmax)) AS k
        FROM support s
    ),
    steps AS (
        SELECT *, CASE WHEN k = kmin THEN 0
                       ELSE CAST(floor(ln((CAST(r - k + 1 AS DOUBLE))
                                          * (c - k + 1)
                                          / ((CAST(k AS DOUBLE))
                                             * (n - r - c + k)))
                                       * {_FISHER_LQ}) AS BIGINT) END AS st
        FROM ks
    ),
    prof AS (
        SELECT *, sum(st) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS lrel
        FROM steps
    ),
    anch AS (
        SELECT *, max(lrel) OVER () AS lmax,
               max(CASE WHEN k = a THEN lrel END) OVER () AS la
        FROM prof
    ),
    w AS (
        SELECT *, CAST(floor(exp(CAST(lrel - lmax AS DOUBLE)
                                 / {_FISHER_LQ}) * {_FISHER_WQ})
                       AS HUGEINT) AS wk
        FROM anch
    )
    SELECT max(a) AS a, max(r) AS r_margin, max(c) AS c_margin,
           max(n) AS n,
           CAST(max(kmax) - max(kmin) + 1 AS BIGINT) AS k_support,
           round(CAST(sum(CASE WHEN lrel <= la THEN wk ELSE 0 END)
                      AS DOUBLE) / CAST(sum(wk) AS DOUBLE), 6) AS p_two,
           round(CAST(sum(CASE WHEN k <= a THEN wk ELSE 0 END)
                      AS DOUBLE) / CAST(sum(wk) AS DOUBLE), 6) AS p_left,
           round(CAST(sum(CASE WHEN k >= a THEN wk ELSE 0 END)
                      AS DOUBLE) / CAST(sum(wk) AS DOUBLE), 6) AS p_right
    FROM w
    """,
)
def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test (1935) for the 2×2 contingency
    (is-purchase × is-big-ticket) — the small-cell significance test a
    chi-square cannot be trusted for, and the standard rare-event screen
    (label leakage, contamination, A/B guardrails on sparse segments).

    Exactness: no factorials — the hypergeometric pmf is built from its
    exact integer RECURRENCE ratio; each step's ln is micro-quantized to
    1e-12 and prefix-summed into an exact integer log-profile, so the
    two-sided inclusion set {k : pmf(k) ≤ pmf(a)} is an integer
    comparison, and p-values are ratios of sums of integer-quantized
    weights (HUGEINT/DECIMAL — the support can reach min(r,c) terms).

    Scale shape: ONE pass over the corpus for the four cells; the support
    explode is bounded by the smaller margin (metadata, not corpus); the
    prefix window runs over that bounded support. At 100 TB the corpus
    cost is the single conditional aggregate.
    """
    t = load_table(spark, sf_dir, "events").agg(
        F.sum(
            (
                (F.col("event_type") == "purchase")
                & (F.floor(F.col("value") * 100) >= _FISHER_CENTS)
            ).cast("int")
        )
        .cast("long")
        .alias("a"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("r"),
        F.sum((F.floor(F.col("value") * 100) >= _FISHER_CENTS).cast("int"))
        .cast("long")
        .alias("c"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    support = t.selectExpr(
        "*", "greatest(0, r + c - n) AS kmin", "least(r, c) AS kmax"
    )
    ks = support.select(
        "*", F.explode(F.sequence("kmin", "kmax")).alias("k")
    )
    steps = ks.selectExpr(
        "*",
        "CASE WHEN k = kmin THEN 0"
        " ELSE CAST(floor(ln((CAST(r - k + 1 AS DOUBLE)) * (c - k + 1)"
        " / ((CAST(k AS DOUBLE)) * (n - r - c + k)))"
        f" * {_FISHER_LQ}) AS BIGINT) END AS st",
    )
    prof = steps.select(
        "*",
        F.sum("st")
        .over(W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("lrel"),
    )
    anch = prof.select(
        "*",
        F.max("lrel").over(W.partitionBy()).alias("lmax"),
        F.max(F.when(F.col("k") == F.col("a"), F.col("lrel")))
        .over(W.partitionBy())
        .alias("la"),
    )
    w = anch.selectExpr(
        "*",
        f"CAST(floor(exp(CAST(lrel - lmax AS DOUBLE) / {_FISHER_LQ})"
        f" * {_FISHER_WQ}) AS DECIMAL(38,0)) AS wk",
    )
    return w.agg(
        F.max("a").alias("a"),
        F.max("r").alias("r_margin"),
        F.max("c").alias("c_margin"),
        F.max("n").alias("n"),
        (F.max("kmax") - F.max("kmin") + 1).cast("long").alias("k_support"),
        F.expr(
            "round(CAST(sum(CASE WHEN lrel <= la THEN wk ELSE 0 END)"
            " AS DOUBLE) / CAST(sum(wk) AS DOUBLE), 6)"
        ).alias("p_two"),
        F.expr(
            "round(CAST(sum(CASE WHEN k <= a THEN wk ELSE 0 END)"
            " AS DOUBLE) / CAST(sum(wk) AS DOUBLE), 6)"
        ).alias("p_left"),
        F.expr(
            "round(CAST(sum(CASE WHEN k >= a THEN wk ELSE 0 END)"
            " AS DOUBLE) / CAST(sum(wk) AS DOUBLE), 6)"
        ).alias("p_right"),
    )


# Page's trend test: blocks = Monday-aligned weeks, treatments =
# weekday 1..7, value = that day's revenue cents. Week/weekday come from
# pure integer arithmetic on epoch days (1970-01-01 is a Thursday, so
# day_x + 3 is Monday-aligned) — no engine date-function divergence.
# Weeks with missing days are ZERO-FILLED (no sales that day) so every
# observed week is a complete block; L is computed with DOUBLED
# within-block midranks so ties (including the zero-fill ties) never
# produce .5, and the null moments are the exact closed forms.
_PAGE_K = 7


@query(
    "stat_page_trend",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS day_x,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    keyed AS (
        SELECT (day_x + 3) // 7 AS wk,
               ((day_x + 3) % 7 + 7) % 7 + 1 AS dow, y
        FROM daily
    ),
    grid AS (
        SELECT w.wk, d.dow, coalesce(k.y, 0) AS y
        FROM (SELECT DISTINCT wk FROM keyed) w
        CROSS JOIN (SELECT unnest(generate_series(1, {_PAGE_K})) AS dow) d
        LEFT JOIN keyed k ON k.wk = w.wk AND k.dow = d.dow
    ),
    ranked AS (
        SELECT wk, dow,
               CAST(2 * rank() OVER (PARTITION BY wk ORDER BY y)
                    + count(*) OVER (PARTITION BY wk, y) - 1
                    AS BIGINT) AS r2
        FROM grid
    ),
    t AS (
        SELECT CAST(count(DISTINCT wk) AS BIGINT) AS b,
               CAST(sum(dow * r2) AS BIGINT) AS l2
        FROM ranked
    )
    SELECT b, l2,
           CAST(b * {_PAGE_K} * {(_PAGE_K + 1) ** 2} AS BIGINT) AS e_l2_x2,
           round((CAST(l2 AS DOUBLE) / 2
                  - CAST(b AS DOUBLE) * {_PAGE_K} * {(_PAGE_K + 1) ** 2}
                    / 4)
                 / sqrt(CAST(b AS DOUBLE) * {_PAGE_K * _PAGE_K}
                        * {_PAGE_K + 1} * {_PAGE_K**2 - 1} / 144.0), 6)
               AS z_page
    FROM t
    """,
)
def stat_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test (1963) for an ordered alternative in repeated
    measures: are weekday revenues monotonically ordered Monday → Sunday
    within each observed week (missing days zero-filled — no sales that
    day)? The within-block twin of
    stat_jonckheere_terpstra (Jonckheere: independent ordered groups;
    Page: ordered treatments inside blocks), and strictly more powerful
    than stat_friedman_test when the alternative is ordered.
    L = Σ_j j·R_j over weekday rank sums.

    Exactness: week and weekday come from pure integer arithmetic on
    epoch days (Monday-aligned via day_x + 3 — no engine date-function
    divergence); within-block DOUBLED midranks keep ties exact; L2 and
    the null mean E[2L] = b·k(k+1)² are exact BIGINTs; z is one shared
    expression with the closed-form variance b·k²(k+1)(k²−1)/144.

    Scale shape: one combinable daily rollup; ranking windows are
    partitioned per week over ≤7 rows each (calendar-bounded); one
    output row.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).alias("day_x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day_x")
        .agg(F.sum("cents").cast("long").alias("y"))
    )
    keyed = daily.selectExpr(
        "(day_x + 3) div 7 AS wk",
        "pmod(day_x + 3, 7) + 1 AS dow",
        "y",
    )
    weeks = keyed.select("wk").distinct()
    dows = spark.range(1, _PAGE_K + 1).select(F.col("id").alias("dow"))
    grid = (
        weeks.crossJoin(F.broadcast(dows))
        .join(keyed, ["wk", "dow"], "left")
        .select("wk", "dow", F.coalesce("y", F.lit(0)).alias("y"))
    )
    ranked = grid.select(
        "wk",
        "dow",
        (
            2 * F.rank().over(W.partitionBy("wk").orderBy("y"))
            + F.count(F.lit(1)).over(W.partitionBy("wk", "y"))
            - 1
        )
        .cast("long")
        .alias("r2"),
    )
    t = ranked.agg(
        F.countDistinct("wk").cast("long").alias("b"),
        F.sum(F.col("dow") * F.col("r2")).cast("long").alias("l2"),
    )
    return t.selectExpr(
        "b",
        "l2",
        f"CAST(b * {_PAGE_K} * {(_PAGE_K + 1) ** 2} AS BIGINT) AS e_l2_x2",
        "round((CAST(l2 AS DOUBLE) / 2"
        f" - CAST(b AS DOUBLE) * {_PAGE_K} * {(_PAGE_K + 1) ** 2} / 4)"
        f" / sqrt(CAST(b AS DOUBLE) * {_PAGE_K * _PAGE_K}"
        f" * {_PAGE_K + 1} * {_PAGE_K**2 - 1} / 144.0), 6)"
        " AS z_page",
    )
