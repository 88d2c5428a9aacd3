"""Spark 4 engine-surface operators [EXT — new-in-Spark-4 features
exercised as first-class, oracle-checked queries]: the VARIANT
semi-structured type, SQL-defined functions (CREATE FUNCTION ... RETURN),
and string collations. graph_bfs_hops covers the fourth new surface
(native WITH RECURSIVE).

All three were probed working on this runtime before being registered.
The point of each query is that the NEW surface computes values
bit-identical to the classic path a DuckDB oracle can express — the
feature is exercised, the results stay hash-verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..io import load_table
from ..registry import query


@query(
    "variant_json_extract",
    # The VARIANT twin of json_events_extract: parse_json() into Spark 4's
    # semi-structured VARIANT type, typed extraction via variant_get, plus
    # the inferred variant schema (schema_of_variant_agg) pinned as a
    # column — DuckDB has no VARIANT, so the oracle computes the identical
    # VALUES through its JSON path and carries Spark's schema string as
    # the expected literal. A value divergence or an inference change both
    # flip the hash.
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k,
           'OBJECT<k: BIGINT>' AS variant_schema
    FROM events
    GROUP BY event_type
    """,
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    parse_json once, typed variant_get extraction, and the aggregated
    inferred schema. VARIANT's shredded binary encoding is the 100 TB
    answer to JSON-string columns — parse once at ingest, extract many
    times without re-parsing — and this pins that the VARIANT path
    produces exactly the values of the string-path twin
    (json_events_extract).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    k = F.expr("variant_get(v, '$.k', 'long')")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("long").alias("sum_k"),
        F.max(k).cast("long").alias("max_k"),
        F.expr("schema_of_variant_agg(v)").alias("variant_schema"),
    )


@query(
    "sql_udf_money_pipeline",
    # SQL-defined functions (Spark 4 CREATE FUNCTION ... RETURN): the
    # declarative UDF surface — the body is an EXPRESSION the optimizer
    # inlines into codegen, so unlike Python UDFs these cost nothing at
    # scale. The oracle inlines the same arithmetic by hand; matching
    # hashes prove the function definitions compute what they claim.
    oracle="""
    WITH o AS (
        SELECT o_orderpriority,
               least(greatest(CAST(floor(o_totalprice * 100) AS BIGINT),
                              500000), 40000000) AS clamped
        FROM orders
    ),
    tot AS (SELECT CAST(sum(clamped) AS BIGINT) AS t FROM o)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(clamped) AS BIGINT) AS clamped_cents,
           CAST(1000000 * sum(clamped) // tot.t AS BIGINT) AS share_ppm
    FROM o, tot
    GROUP BY o_orderpriority, tot.t
    """,
)
def sql_udf_money_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDFs in a money pipeline: clamp_cents (winsorize a
    cents amount into [5e5, 4e7]) and share_ppm (integer ppm of a total)
    defined with CREATE FUNCTION ... RETURN and used in an aggregate over
    orders. The functions are catalog objects a SQL-only user can define
    and reuse — and because the bodies are expressions, Catalyst inlines
    them (no serialization boundary, unlike Python UDFs).

    Scale shape: after inlining this is one combinable aggregate plus a
    broadcast single-row total — identical to writing the expressions by
    hand, which is the point."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp_cents(c BIGINT) "
        "RETURNS BIGINT RETURN least(greatest(c, 500000), 40000000)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION share_ppm(part BIGINT, whole BIGINT) "
        "RETURNS BIGINT RETURN 1000000 * part div whole"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__udf_orders")
    return spark.sql(
        """
        WITH o AS (
            SELECT o_orderpriority,
                   clamp_cents(CAST(floor(o_totalprice * 100) AS BIGINT))
                       AS clamped
            FROM __udf_orders
        ),
        tot AS (SELECT sum(clamped) AS t FROM o)
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(clamped) AS BIGINT) AS clamped_cents,
               share_ppm(CAST(sum(clamped) AS BIGINT), CAST(tot.t AS BIGINT))
                   AS share_ppm
        FROM o, tot
        GROUP BY o_orderpriority, tot.t
        """
    )


@query(
    "collation_case_insensitive",
    # Spark 4 string collations: group a deliberately mixed-case name set
    # under UTF8_LCASE and the counts fold case variants together while
    # the output key keeps ONE canonical (deterministic min) spelling.
    # DuckDB expresses the same contract with lower() grouping — equal
    # hashes pin that the collation's equality relation is exactly
    # case-folding on this ASCII domain.
    oracle="""
    WITH mixed AS (
        SELECT p_name AS name FROM part
        UNION ALL
        SELECT upper(p_name) FROM part
        UNION ALL
        SELECT concat(upper(substr(p_name, 1, 1)), substr(p_name, 2))
        FROM part
    )
    SELECT min(name) AS canonical_name,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM mixed
    GROUP BY lower(name)
    """,
)
def collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping through Spark 4's collation surface:
    the same part names in three casings (raw / UPPER / Initcap-first-
    letter) collapse under a UTF8_LCASE-collated GROUP BY key; the
    canonical spelling is the deterministic binary MIN. Collations move
    case rules into the type system — comparisons, joins, and aggregates
    pick them up without sprinkling lower() at every use site.

    Scale: the collated aggregate is one combinable shuffle, exactly like
    its lower()-keyed twin."""
    p = load_table(spark, sf_dir, "part").select(F.col("p_name").alias("name"))
    mixed = (
        p.union(p.select(F.upper("name")))
        .union(
            p.select(
                F.concat(
                    F.upper(F.substring("name", 1, 1)), F.expr("substr(name, 2)")
                ).alias("name")
            )
        )
    )
    return (
        mixed.groupBy(
            F.expr("collate(name, 'UTF8_LCASE')").alias("__key")
        )
        .agg(
            F.min(F.col("name").cast("string")).alias("canonical_name"),
            F.count(F.lit(1)).alias("n_variants"),
        )
        .select("canonical_name", "n_variants")
    )


@query(
    "agg_grouping_id_levels",
    # GROUPING() / GROUPING_ID() over a ROLLUP: the bitmask that tells a
    # consumer WHICH level each output row aggregates (0 = real value,
    # 1 = rolled up) — without it, a NULL group key is ambiguous between
    # "the NULL member" and "the subtotal row". Both engines implement
    # the SQL-standard bit order (first listed column = most significant
    # bit), which this hash match pins.
    oracle="""
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)') AS status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) * 2
                + GROUPING(o_orderstatus) AS INT) AS level_id,
           count(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def agg_grouping_id_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with the GROUPING bitmask surface: (priority, status) plus
    per-priority subtotals plus the grand total in one pass, each row
    tagged with grouping() flags and the composed grouping_id so
    subtotal rows are machine-distinguishable from NULL members. DuckDB
    has no grouping_id() builtin, so the oracle composes it from
    GROUPING() bits — which is also the cross-engine proof that Spark's
    grouping_id() bit order (first column = MSB) matches the standard."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping_id().cast("int").alias("level_id"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "g_priority",
            "g_status",
            "level_id",
            "n_orders",
        )
    )


@query(
    "ps_api_groupby_twin",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def ps_api_groupby_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas API on Spark (``pyspark.pandas``) driven end to end and
    hash-matched to the SQL twin — the third user-facing API layer beside
    DataFrame and SQL (probed working on this runtime; the ps frame
    compiles to the same Catalyst plans, which is exactly what the hash
    match demonstrates). The distributed-sequence default index is
    avoided by aggregating immediately and resetting the index into
    ordinary columns, so no nondeterministic index value ever reaches
    the output."""
    import pyspark.pandas as pps

    psdf = pps.read_parquet(f"{sf_dir}/orders.parquet")
    import numpy as np

    # floor via numpy ufunc — ps Series support numpy universal functions
    # (dispatched to the JVM FLOOR expression, not a Python UDF)
    psdf["cents"] = np.floor(psdf["o_totalprice"] * 100).astype("int64")
    out = (
        psdf.groupby("o_orderpriority")
        .agg(
            n_orders=("o_orderkey", "count"),
            sum_cents=("cents", "sum"),
            max_price=("o_totalprice", "max"),
        )
        .reset_index()
    )
    return out.to_spark().select(
        "o_orderpriority",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.round("max_price", 2).alias("max_price"),
    )


@query(
    "sql_scripting_topk_bisect",
    oracle="""
    WITH per AS (
        SELECT o_custkey AS c,
               CAST(sum(CAST(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))
                             * 100 AS BIGINT)) AS BIGINT) AS v
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT c, v,
               row_number() OVER (ORDER BY v DESC, c) AS rn,
               CAST(sum(v) OVER (ORDER BY v DESC, c
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM per
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(v) AS BIGINT) AS total_cents
        FROM per
    )
    SELECT t.n_cust,
           t.total_cents,
           CAST(min(r.rn) AS BIGINT) AS k_half,
           CAST(min(r.cum) AS BIGINT) AS topk_cents
    FROM ranked r, tot t
    WHERE 2 * r.cum >= t.total_cents
    GROUP BY t.n_cust, t.total_cents
    """,
)
def sql_scripting_topk_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE) exercised with
    DATA-DEPENDENT control flow: a scripted binary search for the
    smallest customer cohort k whose top-k revenue covers half the
    total. Each probe is a real query against the ranked per-customer
    view; the loop condition reads the probe's result into a scripting
    variable — the procedural surface driving the declarative one.

    The DuckDB oracle is the closed form (min rank where 2*cum >= total
    over the ranked cumulative sum), so the hash match proves the
    scripted bisection CONVERGES to the declarative answer. All money
    is exact cents; ranking ties break on custkey.

    Shape at 100 TB: the ranked view is customer-grain — its global
    row_number would use the two-pass numbering of
    global_row_number_two_pass (analytics.py:24), not a single-reducer
    Window; the script then runs log2(n) probes, each a pushdown filter
    rn <= mid over the numbered table. Scripting cost is driver-side
    control flow; the data never moves for it.
    """
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.sum(
                (F.round(F.col("o_totalprice"), 2).cast("decimal(18,2)") * 100)
                .cast("long")
            )
            .cast("long")
            .alias("v")
        )
    )
    from pyspark.sql import Window

    ranked = per.select(
        "c",
        "v",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), F.col("c")))
        .alias("rn"),
    )
    ranked.createOrReplaceTempView("_scripting_ranked")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE n_cust BIGINT DEFAULT 0;
          DECLARE total_cents BIGINT DEFAULT 0;
          DECLARE lo BIGINT DEFAULT 1;
          DECLARE hi BIGINT DEFAULT 1;
          DECLARE mid BIGINT DEFAULT 0;
          DECLARE probe BIGINT DEFAULT 0;
          DECLARE topk_cents BIGINT DEFAULT 0;
          SET n_cust = (SELECT count(*) FROM _scripting_ranked);
          SET total_cents = (SELECT sum(v) FROM _scripting_ranked);
          SET hi = n_cust;
          WHILE lo < hi DO
            SET mid = (lo + hi) DIV 2;
            SET probe = (SELECT sum(v) FROM _scripting_ranked
                         WHERE rn <= mid);
            IF 2 * probe >= total_cents THEN
              SET hi = mid;
            ELSE
              SET lo = mid + 1;
            END IF;
          END WHILE;
          SET topk_cents = (SELECT sum(v) FROM _scripting_ranked
                            WHERE rn <= lo);
          SELECT n_cust, total_cents, lo AS k_half, topk_cents;
        END
        """
    )


@query(
    "reshape_pivot_unpivot",
    # The oracle is the DIRECT group-by: the round trip (wide pivot →
    # UNPIVOT back to long) must be lossless, so its re-aggregation
    # equals the computation that never left long form.
    oracle="""
    WITH weekly AS (
        SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) // 7
                   AS week,
               event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_weeks_active,
           CAST(sum(n) AS BIGINT) AS total_events,
           CAST(max(n) AS BIGINT) AS peak_week_events
    FROM weekly GROUP BY event_type
    """,
)
def reshape_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT → UNPIVOT round trip (Spark's native relational reshape
    surface): weekly event counts pivot to one wide column per event
    type, then `unpivot` (Spark 3.4+/4 native, not a stack() string
    hack) melts the wide table back to long, and the re-aggregation must
    equal the direct group-by that never reshaped — losslessness of the
    reshape pair is the verified property.

    The pivot uses EXPLICIT values (the five fixture event types): at
    100 TB an implicit pivot is a two-pass plan (distinct scan to
    discover columns, then the pivot scan); explicit values make it one
    pass, which is why production pivots always declare their columns.
    Nulls from absent (week, type) cells are dropped by unpivot
    (includeNulls=False), which is exactly what makes the round trip
    exact: absent cells were never rows in the long form either.
    """
    weekly = (
        load_table(spark, sf_dir, "events")
        .selectExpr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)"
            " DIV 7 AS week",
            "event_type",
        )
        .groupBy("week", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        weekly.groupBy("week")
        .pivot("event_type", types)
        .agg(F.first("n"))
    )
    long_again = wide.unpivot(
        ids=["week"],
        values=types,
        variableColumnName="event_type",
        valueColumnName="n",
    ).filter(F.col("n").isNotNull())
    return long_again.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks_active"),
        F.sum("n").cast("long").alias("total_events"),
        F.max("n").cast("long").alias("peak_week_events"),
    )


@query(
    "sql_identifier_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderpriority
    """,
)
def sql_identifier_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL + the IDENTIFIER clause (Spark 4 surface): one
    query TEMPLATE executed twice with different named-parameter
    bindings — the table name bound through ``IDENTIFIER(:tbl)`` (the
    injection-safe way to parameterize an identifier, where a string
    substitution would be the classic SQL-injection hole) and the
    filter value through an ordinary ``:prio`` marker.

    Why it matters at scale: production query services template one
    audited statement over thousands of (tenant table, parameter)
    pairs; parameter markers keep the plan cache keyed on the template
    while IDENTIFIER keeps catalog references out of string-concat
    territory. The oracle is the equivalent static SQL, so the hash
    proves binding semantics change nothing about the result.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sg_param_orders"
    )
    template = """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS sum_cents
        FROM IDENTIFIER(:tbl)
        WHERE o_orderpriority = :prio
        GROUP BY o_orderpriority
    """
    out = None
    for prio in ("1-URGENT", "2-HIGH"):
        part = spark.sql(template, args={"tbl": "sg_param_orders", "prio": prio})
        out = part if out is None else out.unionAll(part)
    return out


@query(
    "agg_listagg_ordered",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
               AS priorities,
           CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (ORDER BY ...) — the SQL:2016 ordered
    string aggregation added in Spark 4.0 (and the #1 reason analysts
    reached for collect_list + array_join before): the distinct ship
    order priorities per order status as one deterministic comma-joined
    string. DETERMINISTIC ordering is the entire point —
    an unordered listagg is a flaky-test generator, so the WITHIN GROUP
    clause is pinned here against DuckDB's ordered string_agg. Expressed
    through spark.sql with the DISTINCT lifted into a subquery: listagg
    (DISTINCT ...) WITHIN GROUP trips a planner ClassCastException
    (AttributeReference vs SortOrder) on the Arrow collect path in Spark
    4.1 (measured here: plain .collect() works, .toPandas() throws), so
    the dedup happens before the ordered aggregation — same result, and
    the workaround is itself documentation of the sharp edge.

    Scale shape: map-side partial collect of DISTINCT priorities per
    group (bounded: the priority domain is 5), one shuffle on the group
    key; the string materializes only at output. The cardinality honesty
    column (n_priorities) guards against silent duplicate inclusion.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "listagg_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               listagg(p, ',') WITHIN GROUP (ORDER BY p) AS priorities,
               CAST(count(*) AS BIGINT) AS n_priorities
        FROM (SELECT DISTINCT o_orderstatus, o_orderpriority AS p
              FROM listagg_orders)
        GROUP BY o_orderstatus
        """
    )
