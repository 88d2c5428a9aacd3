"""Connected components over near-duplicate pairs [EXT beyond task.ts —
LLM-data-pipeline surface].

Pairwise near-dup detection (MinHash/SimHash/Jaccard) emits EDGES; the
thing a dedup pipeline actually keeps is one canonical document per
CLUSTER, which is exactly connected components on the pair graph
(transitive closure: A~B, B~C ⇒ {A,B,C} dedup to one survivor).

Implementation: one connected-components loop, ``connected_components``,
for every caller. Each round is min-label propagation (one union +
groupBy-min over edges ⋈ labels, checkpointed with ``localCheckpoint`` so
the plan does not grow with iterations) followed by one pointer jump
(component ← component(component), a window over the checkpointed round,
itself checkpointed).
The jump halves id-ordered label chains, so a long path converges in
O(log n) rounds instead of one round per hop; rounds never exceed
diameter + 1. The loop exits when a round changes no label (the driver-loop
pattern; no persist() — see operators/dedup.py).

At 100 TB: the label table is (node, label) — two longs per document —
and the edge table is only the near-dup pairs (orders of magnitude smaller
than the corpus). Both shuffle on node id, an unskewed high-cardinality
key. The convergence count per round is a cheap job over the checkpointed
label table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.xxh64_sql import XXH64_MACROS, chain_seed
from ..io import load_table
from ..registry import query
from .dedup import NGRAM_PAIRS_ORACLE, dedup_ngram_jaccard


# Round cap shared by every connected-components caller. Min-label rounds
# with one pointer jump each converge in at most diameter + 1 rounds, and
# far fewer on long id-ordered chains (a 64-node path takes 7).
CC_MAX_ROUNDS = 64


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: int | None = None,
) -> DataFrame:
    """Min-label propagation with pointer jumping: returns (node, component)
    where component is the smallest node id reachable from the node
    (undirected).

    ``nodes`` may include isolated vertices (they keep their own id). Every
    edge endpoint must be in ``nodes``; a missing one raises ``ValueError``.
    Raises ``RuntimeError`` if the labels have not converged after
    ``CC_MAX_ROUNDS`` rounds.

    ``num_partitions`` sizes the per-round shuffles. The label/edge tables
    are usually orders of magnitude smaller than the corpus, so inheriting
    the session's shuffle.partitions burns a fixed per-partition cost per
    round on near-empty tasks; callers that know the edge count should
    pass ~edges/500k (min 1) and let it grow with the data.
    """
    sym = edges.select(
        F.col(src_col).alias("s"), F.col(dst_col).alias("d")
    ).union(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
    labels_init = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("component")
    )
    if num_partitions is not None:
        sym = sym.repartition(num_partitions, "s")
        labels_init = labels_init.repartition(num_partitions, "node")
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = labels_init.localCheckpoint(eager=True)
    for _ in range(CC_MAX_ROUNDS):
        # One aggregate per round: min over {own label} ∪ {neighbors'
        # labels}. The self row is tagged so the same aggregate carries the
        # previous label out (one own=1 row per node). The left join gives
        # every endpoint d a row even when s has no label, so an endpoint
        # missing from `nodes` shows up as a NULL prev_component.
        self_rows = labels.select("node", "component", F.lit(1).alias("own"))
        propagated = sym.join(labels, sym.s == labels.node, "left").select(
            F.col("d").alias("node"), F.col("component"), F.lit(0).alias("own")
        )
        proposed = (
            propagated.unionAll(self_rows)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max(
                    F.when(F.col("own") == 1, F.col("component"))
                ).alias("prev_component"),
            )
            .localCheckpoint(eager=True)
        )
        counts = proposed.agg(
            F.count(
                F.when(F.col("component") != F.col("prev_component"), 1)
            ).alias("changed"),
            F.count(F.when(F.col("prev_component").isNull(), 1)).alias("missing"),
        ).first()
        if counts["missing"]:
            raise ValueError(
                "connected_components requires every edge endpoint to be in "
                f"nodes; {counts['missing']} endpoint(s) are missing"
            )
        if counts["changed"] == 0:
            return proposed.select("node", "component")
        # Pointer jump, component <- component(component). Each node is
        # listed under its label as a pointer and under its own id as a
        # target carrying its label; a max over each key hands the target's
        # label to every pointer. Every label is a node id, so every pointer
        # finds its target. This is a self-join written as a window because
        # Spark estimates a join's size as the product of its inputs and a
        # checkpoint keeps that estimate: a self-join would square it every
        # round, and planning time would double per round after ~15 rounds.
        pointers = proposed.select(
            F.col("component").alias("key"), "node", F.lit(False).alias("target")
        ).unionAll(
            proposed.select(
                F.col("node").alias("key"),
                F.col("component").alias("node"),
                F.lit(True).alias("target"),
            )
        )
        jumped = F.max(F.when(F.col("target"), F.col("node"))).over(
            Window.partitionBy("key")
        )
        labels = (
            pointers.select("node", "target", jumped.alias("component"))
            .filter(~F.col("target"))
            .drop("target")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
    )


@query(
    "dedup_components_ngram",
    # The recursive closure enumerates every (node, reachable-label) pair of
    # the SAME pair set the dedup_ngram_jaccard oracle emits, then keeps the
    # minimum — fine at oracle scale (components are small), while the Spark
    # side propagates labels in O(diameter) shuffles.
    oracle=f"""
    WITH RECURSIVE pairs AS ({NGRAM_PAIRS_ORACLE}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    )
    SELECT node AS doc_id, min(label) AS component
    FROM reach GROUP BY node
    """,
)
def dedup_components_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: 3-gram Jaccard pairs (the
    oracle-checked candidate+verify join in operators/dedup.py) → connected
    components → (doc_id, component). Documents with no near-dup form
    singleton components; a downstream keep-one-per-component anti-join
    (dedup_keep_first_per_group pattern) completes the dedup."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # Checkpoint the pair list ITSELF: sym(edges) and the label init both
    # descend from it, and without this the expensive jaccard join runs
    # once per lineage (measured ~2x the whole query's cost).
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    # Iterate ONLY over nodes that have an edge: per-round shuffle size is
    # O(near-dup docs), not O(corpus). Singletons (the overwhelming
    # majority at 100 TB) join in once at the end with their own id.
    edge_nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Size the CC rounds to the edge table (tiny vs the corpus): one
    # partition per ~500k pairs, so each round is a handful of real tasks
    # instead of 32 near-empty ones. The count is free — pairs is already
    # checkpoint-materialized by this action or the first round.
    n_pairs = pairs.count()
    labels = connected_components(
        edge_nodes,
        pairs,
        node_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
        num_partitions=max(1, n_pairs // 500_000),
    )
    return docs.join(labels, docs.doc_id == labels.node, "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


@query(
    "dedup_survivors_quality",
    oracle=f"""
    WITH RECURSIVE pairs AS ({NGRAM_PAIRS_ORACLE}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    comp AS (
        SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    ),
    ranked AS (
        SELECT c.component, c.doc_id, d.n_chars,
               row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC, c.doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY c.component) AS n_members
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component, doc_id AS survivor_doc_id, n_members,
           CAST(n_chars AS BIGINT) AS survivor_chars
    FROM ranked WHERE rn = 1
    """,
)
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last step: ONE canonical document per near-dup
    cluster, chosen by quality (longest text, doc_id tie-break) rather
    than arbitrary-first. Composition: jaccard pairs → connected
    components → per-component argmax via a window — the keep-policy is
    a one-window change (swap the ORDER BY for any quality score)."""
    comp = dedup_components_ngram(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    from pyspark.sql import Window as W

    joined = comp.join(docs, "doc_id")
    w = W.partitionBy("component").orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = joined.select(
        "component",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("component")).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("survivor_doc_id"),
        "n_members",
        F.col("n_chars").cast("long").alias("survivor_chars"),
    )


@query(
    "graph_triangle_count",
    oracle="""
    WITH edges AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.label = b.label
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 5) >= 0.2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e1.d = e2.s
    JOIN edges e3 ON e3.s = e1.s AND e3.d = e2.d
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the similarity graph (embedding threshold
    pairs): the classic two-join pattern on ORIENTED edges (s < d), so
    every triangle is produced exactly once — no /6 correction, no
    symmetric blowup.

    At 100 TB the refinement is degree-based re-orientation (point edges
    from lower- to higher-degree endpoints), which bounds the e1⋈e2
    fan-out by sqrt(|E|) per vertex; the fixture graph is small enough
    that id-orientation is the honest baseline. Triangle density is the
    standard cluster-cohesion diagnostic over a near-dup graph: near-dup
    clusters should be near-cliques — a triangle-poor pair graph means the
    threshold is admitting chains of weak links (bridge pairs), exactly
    the failure mode that merges unrelated documents into one dedup
    cluster."""
    from .similarity import similarity_threshold_pairs

    edges = (
        similarity_threshold_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("s"), F.col("vec_b").alias("d"))
        .localCheckpoint(eager=True)  # three self-join consumers
    )
    e1 = edges.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = edges.select(F.col("s").alias("b"), F.col("d").alias("c"))
    e3 = edges.select(F.col("s").alias("a"), F.col("d").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
    )


@query(
    "graph_triangle_count_degree",
    # Triangle COUNT is orientation-invariant, so the id-oriented oracle
    # is the degree-oriented operator's oracle verbatim.
    oracle="""
    WITH edges AS (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.label = b.label
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 5) >= 0.2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges
    FROM edges e1
    JOIN edges e2 ON e1.d = e2.s
    JOIN edges e3 ON e3.s = e1.s AND e3.d = e2.d
    """,
)
def graph_triangle_count_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle counting — the scale path next to the
    id-oriented baseline (graph_triangle_count).

    Each undirected edge is re-pointed from its lower- to its
    higher-(degree, id) endpoint. (degree, id) is a total order, so every
    triangle still has exactly one oriented wedge and is counted once —
    the count is identical to id-orientation, which is why the SAME SQL
    oracle verifies both. What changes is the worst case: the e1⋈e2 wedge
    join fans out per-vertex as out-degree², and under degree orientation
    out-degree is bounded by O(sqrt |E|) (a vertex of degree d > sqrt E
    has all its edges pointed AT it unless the neighbor's degree is
    higher, and fewer than sqrt E vertices can beat sqrt E) — id
    orientation has no such bound and a single hub vertex goes quadratic.
    The degree table is two longs per vertex, joined on the (unskewed
    post-orientation) node key."""
    from .similarity import similarity_threshold_pairs

    pairs = (
        similarity_threshold_pairs(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint(eager=True)  # feeds degree agg + reorientation
    )
    deg = (
        pairs.select(F.col("vec_a").alias("node"))
        .union(pairs.select(F.col("vec_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        pairs.join(deg.select(F.col("node").alias("vec_a"), F.col("deg").alias("deg_a")), "vec_a")
        .join(deg.select(F.col("node").alias("vec_b"), F.col("deg").alias("deg_b")), "vec_b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    edges = ranked.select(
        F.when(a_first, F.col("vec_a")).otherwise(F.col("vec_b")).alias("s"),
        F.when(a_first, F.col("vec_b")).otherwise(F.col("vec_a")).alias("d"),
    ).localCheckpoint(eager=True)  # three wedge-join consumers
    e1 = edges.select(F.col("s").alias("a"), F.col("d").alias("b"))
    e2 = edges.select(F.col("s").alias("b"), F.col("d").alias("c"))
    e3 = edges.select(F.col("s").alias("a"), F.col("d").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"], "left_semi")
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        edges.agg(F.count(F.lit(1)).alias("n_edges"))
    )


@query(
    "split_group_preserving",
    # Components from the SAME pair set as dedup_components_ngram, then an
    # md5-bucket split keyed on the COMPONENT id (not the doc id): all
    # members of a near-dup cluster land in the same split.
    oracle=f"""
    WITH RECURSIVE pairs AS ({NGRAM_PAIRS_ORACLE}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(node, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, r.label FROM reach r JOIN edges e ON r.node = e.s
    ),
    comp AS (
        SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
    ),
    split AS (
        SELECT doc_id, component,
               CASE WHEN CAST(('0x' || substr(md5(CAST(component AS VARCHAR) || ':grp'), 1, 8)) AS BIGINT)
                         % 100 < 90
                    THEN 'train' ELSE 'eval' END AS split
        FROM comp
    )
    SELECT split,
           count(*)                              AS n_docs,
           CAST(count(DISTINCT component) AS BIGINT) AS n_groups
    FROM split GROUP BY split
    """,
)
def split_group_preserving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/eval split: hash-bucket on the near-dup CLUSTER
    id, not the document id — a plain per-doc split puts near-duplicate
    pairs on both sides of the train/eval boundary, which is test-set
    contamination by construction (the eval doc has a ~paraphrase in
    train). Composition: jaccard pairs → connected components →
    md5(component)-bucket 90/10.

    At 100 TB this is the same cost profile as dedup_components_ngram
    (the CC dominates); the split itself is stateless hashing, and the
    component key keeps the split deterministic under any partitioning —
    re-running with different cluster sizes cannot move a document across
    the boundary."""
    comp = dedup_components_ngram(spark, sf_dir)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("component").cast("string"), F.lit(":grp"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = comp.withColumn(
        "split", F.when(bucket < 90, "train").otherwise("eval")
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component").alias("n_groups"),
    )


@query("graph_pagerank")  # rows-only: iterative FP refinement, no SQL oracle;
# pytest pins mass conservation + determinism
def graph_pagerank(
    spark: SparkSession, sf_dir: str, n_iter: int = 5, damping: float = 0.85
) -> DataFrame:
    """PageRank over the similarity graph (undirected → both edge
    directions), the third graph primitive next to CC and triangles —
    in a dedup pipeline, rank concentration identifies template/boilerplate
    hubs (documents similar to MANY others) that deserve manual review
    before mass deletion.

    Spark shape: the standard power iteration — contributions =
    ranks ⋈ out-degree edges (one shuffle per round), new rank =
    (1-d)/N + d·(received + dangling share). The rank table is two longs
    per node; the driver loop is O(n_iter) rounds, each cutting lineage
    with localCheckpoint — same discipline as connected_components.
    Top-20 by rounded rank with id tie-break keeps the output
    deterministic and driver-safe."""
    from .similarity import similarity_threshold_pairs

    pairs = similarity_threshold_pairs(spark, sf_dir).select("vec_a", "vec_b")
    ranks = pagerank_ranks(pairs, n_iter=n_iter, damping=damping)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


def pagerank_ranks(
    pairs: DataFrame, n_iter: int = 5, damping: float = 0.85
) -> DataFrame:
    """Full (node, rank) table for an undirected pair list — the power
    iteration itself, separated from the top-k query so tests can assert
    rank-mass conservation over ALL nodes."""
    # checkpoint the pair list BEFORE symmetrizing: both union branches
    # descend from it, and without the cut the (possibly expensive)
    # upstream pair join runs once per branch — same lesson as
    # dedup_components_ngram's checkpointed jaccard pairs.
    p = pairs.toDF("a", "b").localCheckpoint(eager=True)
    edges = (
        p.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(p.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    for _ in range(n_iter):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(out_deg, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("received"))
        )
        # undirected graph => no dangling nodes (every node has out-edges)
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + damping * F.coalesce("received", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def kcore_nodes(
    edges: DataFrame, k: int, src_col: str = "doc_a", dst_col: str = "doc_b"
) -> DataFrame:
    """Iterative k-core peeling: repeatedly drop nodes with degree < k
    (and their edges) until a fixpoint. Returns the surviving nodes with
    their within-core degree.

    Scale shape mirrors connected_components: every round is one degree
    aggregation (map-side combined) + one broadcast-able anti join of the
    edge list against the just-peeled nodes; the working set only ever
    SHRINKS, and each round's result is eagerly checkpointed so the plan
    stays O(1) deep instead of O(rounds). Rounds are bounded by the
    peeling depth (tiny in practice: most nodes fall in round one).
    """
    sym = (
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .union(edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    core = _kcore_peel_sym(sym, k)
    return core.groupBy("s").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("s").alias("node"), F.col("deg").alias("core_degree")
    )


def _kcore_peel_sym(sym: DataFrame, k: int) -> DataFrame:
    """Peel an already-symmetric, already-checkpointed edge list to its
    k-core fixpoint; returns the surviving symmetric edge list. Split out
    (r10) so ladder callers can exploit core NESTING: the k-core is a
    subgraph of every j-core with j < k, so peeling for k inside the
    (k-2)-core reaches the identical fixpoint without re-shedding the
    low-degree mass the previous rung already removed."""
    while True:
        deg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        weak = deg.filter(F.col("deg") < k).select("s").localCheckpoint(eager=True)
        if weak.isEmpty():
            return sym
        sym = (
            sym.join(F.broadcast(weak), ["s"], "left_anti")
            .join(
                F.broadcast(weak.select(F.col("s").alias("d"))), ["d"], "left_anti"
            )
            .localCheckpoint(eager=True)
        )


@query(
    "graph_kcore",
    # Peeling as a DuckDB recursive CTE (r5 graduation from rows-only; same
    # pattern as hierarchy_closure_doubling's oracle). The recursive term
    # sees only the previous iteration's rows — exactly the shrinking edge
    # working set — and, because the edge list is symmetric, both endpoint
    # degrees are single-reference window counts (count per s / count per d).
    # QUALIFY stops the recursion at a fixpoint (no row removed); the verify
    # CTE re-applies one peel pass to the max-iter rows to distinguish a true
    # fixpoint (kept == prev → those rows ARE the k-core) from the
    # emitted-nothing-because-empty case (kept < prev → core is empty).
    oracle="""
    WITH RECURSIVE
    names(n) AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.n AS s, b.n AS d FROM names a JOIN names b ON a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    sym AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs),
    -- profile ladder k = 2,4,... ; first empty core is at k <= maxdeg+2,
    -- mirroring the Spark loop (incl. its k > 256 runaway guard)
    grid(k) AS (
        SELECT unnest(generate_series(2, LEAST(258, COALESCE(
            (SELECT max(cnt) + 2 FROM
                (SELECT count(*) AS cnt FROM sym GROUP BY s)), 2)), 2))
    ),
    peel(k, s, d, iter) AS (
        SELECT g.k, s, d, 0 FROM sym CROSS JOIN grid g
        UNION ALL
        SELECT k, s, d, iter + 1
        FROM (
            SELECT k, s, d, iter,
                   count(*) OVER (PARTITION BY k, s) AS ds,
                   count(*) OVER (PARTITION BY k, d) AS dd,
                   count(*) OVER (PARTITION BY k)    AS n_prev
            FROM peel
        )
        WHERE ds >= k AND dd >= k
        QUALIFY count(*) OVER (PARTITION BY k) < n_prev
    ),
    last_iter AS (
        SELECT k, s, d FROM (
            SELECT k, s, d, iter, max(iter) OVER (PARTITION BY k) AS mx
            FROM peel
        ) WHERE iter = mx
    ),
    verify AS (
        SELECT k, s, ds, n_prev, count(*) OVER (PARTITION BY k) AS n_kept
        FROM (
            SELECT k, s, d,
                   count(*) OVER (PARTITION BY k, s) AS ds,
                   count(*) OVER (PARTITION BY k, d) AS dd,
                   count(*) OVER (PARTITION BY k)    AS n_prev
            FROM last_iter
        ) WHERE ds >= k AND dd >= k
    ),
    profile AS (
        SELECT g.k,
               COALESCE(v.n_nodes, 0) AS n_nodes,
               COALESCE(v.max_deg, 0) AS max_deg
        FROM grid g LEFT JOIN (
            SELECT k, count(DISTINCT s) AS n_nodes, max(ds) AS max_deg
            FROM verify WHERE n_kept = n_prev GROUP BY k
        ) v USING (k)
    )
    SELECT CAST(k AS INT) AS k, CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(max_deg AS INT) AS max_core_degree
    FROM profile
    WHERE k <= COALESCE((SELECT min(k) FROM profile WHERE n_nodes = 0), 258)
    ORDER BY k
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition PROFILE of the edit-distance-1 name graph
    (fuzzy_join_del1's oracle-checked pair set): for k = 2, 4, 6, ... run
    the peeling loop and report how many names survive each core, until
    the core empties. The profile is the standard robustness fingerprint
    of a similarity graph — where it collapses tells you the natural
    cluster density (for entity resolution: how aggressive a blocking key
    can get before real clusters fragment).

    The ngram near-dup graph was the first candidate source, but on this
    fixture it is a perfect matching (max degree 1, every k>=2 core
    honestly empty); the name graph has degree ~14-27 and a profile that
    actually collapses in-range. Survivor COUNTS (not per-node rows) keep
    the output driver-flat and sf-stable in shape.

    Scale: each k reuses the same eagerly-checkpointed symmetric edge
    list; per-k cost is the peeling loop (shrinking anti joins). Profile
    ks are a geometric-ish ladder, bounded by max degree, so the total
    round count stays small regardless of graph size."""
    from .text import fuzzy_join_del1

    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .localCheckpoint(eager=True)  # every k's peeling descends from it
    )
    # r10: the profile ladder exploits core NESTING — each rung peels the
    # PREVIOUS rung's surviving edge list instead of the full graph (the
    # (k+2)-core of G equals the (k+2)-core of G's k-core, because cores
    # are the maximal min-degree subgraphs and nest by definition). The
    # old ladder re-shed the same low-degree mass at every k.
    sym = (
        pairs.select(F.col("name_a").alias("s"), F.col("name_b").alias("d"))
        .union(
            pairs.select(F.col("name_b").alias("s"), F.col("name_a").alias("d"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    out: list[tuple[int, int, int]] = []
    k = 2
    while True:
        sym = _kcore_peel_sym(sym, k)
        stats = (
            sym.groupBy("s")
            .agg(F.count(F.lit(1)).alias("core_degree"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.max("core_degree"), F.lit(0)).alias("max_deg"),
            )
            .first()
        )
        n = int(stats["n"])
        out.append((k, n, int(stats["max_deg"])))
        if n == 0 or k > 256:  # max-degree bound; 256 = runaway guard
            break
        k += 2
    return spark.createDataFrame(
        out, "k int, n_nodes long, max_core_degree int"
    )


@query(
    "graph_link_prediction_ra",
    # Resource-Allocation index — the link-prediction score with pure
    # rational arithmetic (Zhou/Lü/Zhang 2009): RA(a,b) = Σ_{z ∈ N(a)∩N(b)}
    # 1/deg(z), scored here as Σ floor(1e6/deg(z)) so both engines stay in
    # exact integers (Spark `div` truncates, DuckDB `//` floors — identical
    # on positive operands). Adamic-Adar's 1/log(deg) was rejected for the
    # oracle: ln() is float and correct rounding is not guaranteed libm-wide.
    oracle="""
    WITH names(n) AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.n AS s, b.n AS d FROM names a JOIN names b ON a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    sym AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs),
    deg AS (SELECT s AS z, count(*) AS dz FROM sym GROUP BY s),
    wedges AS (
        SELECT e1.d AS a, e2.d AS b, e1.s AS z
        FROM sym e1 JOIN sym e2 ON e1.s = e2.s AND e1.d < e2.d
    ),
    scored AS (
        SELECT w.a AS name_a, w.b AS name_b,
               count(*) AS n_common,
               sum(1000000 // dg.dz) AS ra_ppm
        FROM wedges w JOIN deg dg ON dg.z = w.z
        GROUP BY w.a, w.b
    )
    SELECT s.name_a, s.name_b, s.n_common,
           CAST(s.ra_ppm AS BIGINT) AS ra_ppm
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM pairs p
                      WHERE p.s = s.name_a AND p.d = s.name_b)
    """,
)
def graph_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the edit-distance-1 name graph: for every
    NON-adjacent pair sharing ≥1 common neighbor, the Resource-Allocation
    score Σ_z floor(1e6 / deg(z)) — "how much bandwidth do our mutual
    friends have left for an introduction".

    Shape: one wedge self-join (z→a ⋈ z→b on the common neighbor, the same
    candidate-generation shape as triangle counting at graph.py:218) + a
    broadcast-able degree table + an anti join against existing edges. At
    100 TB-scale graphs the wedge join is bounded by Σ deg(z)² — the
    degree-capped variant (graph_triangle_count_degree) shows the
    orientation trick if degrees are heavy-tailed."""
    from .text import fuzzy_join_del1

    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .select("name_a", "name_b")
        .localCheckpoint(eager=True)  # wedges, degrees, and the anti join
        # all descend from it — one fuzzy-join execution, three consumers
    )
    sym = pairs.select(
        F.col("name_a").alias("s"), F.col("name_b").alias("d")
    ).union(pairs.select(F.col("name_b").alias("s"), F.col("name_a").alias("d")))
    deg = sym.groupBy(F.col("s").alias("z")).agg(F.count(F.lit(1)).alias("dz"))
    e1 = sym.select(F.col("s").alias("z"), F.col("d").alias("a"))
    e2 = sym.select(F.col("s").alias("z"), F.col("d").alias("b"))
    wedges = e1.join(e2, "z").filter(F.col("a") < F.col("b"))
    scored = (
        wedges.join(F.broadcast(deg), "z")
        .groupBy(F.col("a").alias("name_a"), F.col("b").alias("name_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.expr("1000000 div dz")).alias("ra_ppm"),
        )
    )
    return scored.join(pairs, ["name_a", "name_b"], "left_anti").select(
        "name_a", "name_b", "n_common", F.col("ra_ppm").cast("long").alias("ra_ppm")
    )


_PR_SCALE = 1_000_000_000_000  # rank mass in pico-units; BIGINT-safe: 85*1e12 = 8.5e13
_PR_ROUNDS = 5


def _pr_round_sql(r: int) -> str:
    prev = f"r{r - 1}"
    return f"""
    r{r} AS (
        SELECT n.node,
               (15 * ({_PR_SCALE} // (SELECT cnt FROM nn))
                + 85 * coalesce(rc.recv, 0)) // 100 AS rank
        FROM nodes n LEFT JOIN (
            SELECT e.d AS node,
                   CAST(sum(p.rank // dg.deg) AS BIGINT) AS recv
            FROM sym e
            JOIN {prev} p ON p.node = e.s
            JOIN deg dg ON dg.node = e.s
            GROUP BY e.d
        ) rc ON rc.node = n.node
    )"""


@query(
    "graph_pagerank_exact",
    # Exact-integer PageRank (r5): rank mass in integer pico-units, every
    # step truncating integer arithmetic (contrib = rank // deg, damping as
    # (15*base + 85*recv) // 100) — the float power iteration's IEEE
    # accumulation order made graph_pagerank honestly rows-only; this twin
    # is a pure integer function of the graph, so 5 unrolled DuckDB rounds
    # replay it bit-for-bit. Undirected name graph => no dangling mass.
    oracle="""
    WITH names(n) AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.n AS s, b.n AS d FROM names a JOIN names b ON a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    sym AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs),
    nodes AS (SELECT DISTINCT s AS node FROM sym),
    nn AS (SELECT count(*) AS cnt FROM nodes),
    deg AS (SELECT s AS node, count(*) AS deg FROM sym GROUP BY s),
    r0 AS (SELECT node, 1000000000000 // (SELECT cnt FROM nn) AS rank
           FROM nodes),"""
    + ",".join(_pr_round_sql(r) for r in range(1, _PR_ROUNDS + 1))
    + f"""
    SELECT node, rank AS rank_pico FROM r{_PR_ROUNDS}
    ORDER BY rank DESC, node LIMIT 20
    """,
)
def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank over the edit-distance-1 name graph: top-20
    boilerplate/template hubs by rank, in deterministic pico-units.

    Scale shape identical to the float pagerank_ranks loop: per round one
    contributions shuffle (edges ⋈ ranks ⋈ degrees, map-side combinable
    sum) and a rank-table rewrite behind an eager checkpoint; rank state
    is two longs per node. The integer arithmetic adds nothing to the
    plan — it swaps doubles for longs."""
    from .text import fuzzy_join_del1

    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .select("name_a", "name_b")
        .localCheckpoint(eager=True)
    )
    sym = pairs.select(
        F.col("name_a").alias("s"), F.col("name_b").alias("d")
    ).union(
        pairs.select(F.col("name_b").alias("s"), F.col("name_a").alias("d"))
    ).localCheckpoint(eager=True)
    nodes = sym.select(F.col("s").alias("node")).distinct()
    n_nodes = nodes.count()
    deg = sym.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    base = _PR_SCALE // n_nodes
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank"))
    edges_deg = (
        sym.join(deg, sym.s == deg.node)
        .select(F.col("s"), F.col("d"), F.col("deg"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_PR_ROUNDS):
        recv = (
            edges_deg.join(ranks, edges_deg.s == ranks.node)
            .select(F.col("d").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("recv"))
        )
        ranks = (
            nodes.join(recv, "node", "left")
            .select(
                "node",
                F.expr(
                    f"(15 * {base}L + 85 * coalesce(recv, 0L)) div 100"
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        ranks.select("node", F.col("rank").alias("rank_pico"))
        .orderBy(F.col("rank_pico").desc(), "node")
        .limit(20)
    )


_LPA_ROUNDS = 3
# The del1 name-graph pair set, shared with graph_link_prediction_ra's
# oracle (graph.py:637) and the kcore profile's source.
_LPA_PAIRS = """
    names(n) AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.n AS s, b.n AS d FROM names a JOIN names b ON a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    sym AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs)
"""


def _lpa_round(prev: str, cur: str) -> str:
    """One synchronous LPA round as SQL: each node adopts the most frequent
    label among its neighbors, ties broken by MIN label — the fixed total
    order that makes synchronous LPA a pure function of the previous state."""
    return f"""
    {cur} AS (
        SELECT node, label FROM (
            SELECT e.s AS node, l.label, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY e.s ORDER BY count(*) DESC, l.label
                   ) AS rn
            FROM sym e JOIN {prev} l ON l.node = e.d
            GROUP BY e.s, l.label
        ) WHERE rn = 1
    )"""


@query(
    "graph_lpa_communities",
    # Synchronous label propagation (Raghavan et al. 2007) made exactly
    # reproducible: argmax-frequency with a min-label tie-break is a pure
    # function of the previous labeling, so a FIXED 3 rounds unroll into
    # CTE stages the same way kmeans_lloyd_exact and graph_pagerank_exact
    # do — community detection hash-matched across engines.
    oracle=f"""
    WITH {_LPA_PAIRS},
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM sym),
    {','.join(_lpa_round(f'l{i}', f'l{i + 1}') for i in range(_LPA_ROUNDS))},
    sizes AS (
        SELECT label, count(*) AS community_size
        FROM l{_LPA_ROUNDS} GROUP BY label
    )
    SELECT l.node AS name, l.label AS community,
           CAST(s.community_size AS BIGINT) AS community_size
    FROM l{_LPA_ROUNDS} l JOIN sizes s USING (label)
    """,
)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the edit-distance-1 name graph via
    synchronous label propagation: every node starts as its own label,
    then 3 rounds of "adopt the most frequent neighbor label, ties to the
    MIN label". The deterministic tie-break turns LPA — usually presented
    as a randomized heuristic — into a pure function of the edge list, so
    the DuckDB oracle replays the identical 3 unrolled rounds and the
    communities hash-match.

    Scale shape: one (edges join labels) shuffle + a (node, label) count
    + one per-node top-1 window per round — the same per-round cost as
    connected_components' min-label propagation, with bounded rounds by
    construction. Labels are node ids (strings here): state is node-sized,
    never pair-sized."""
    from .text import fuzzy_join_del1
    from pyspark.sql import Window as W

    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .select("name_a", "name_b")
        .localCheckpoint(eager=True)  # 1 sym + 3 rounds descend from it
    )
    sym = (
        pairs.select(F.col("name_a").alias("s"), F.col("name_b").alias("d"))
        .union(pairs.select(F.col("name_b").alias("s"), F.col("name_a").alias("d")))
        .localCheckpoint(eager=True)
    )
    lab = sym.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = W.partitionBy("s").orderBy(F.col("c").desc(), F.col("label"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            sym.join(lab, sym["d"] == lab["node"])
            .groupBy("s", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        lab = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("s").alias("node"), "label")
            .localCheckpoint(eager=True)  # keep lineage flat across rounds
        )
    sizes = lab.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return lab.join(F.broadcast(sizes), "label").select(
        F.col("node").alias("name"),
        F.col("label").alias("community"),
        "community_size",
    )


_BFS_CAP = 4  # ego-network radius; path enumeration is degree^cap bounded


@query(
    "graph_bfs_hops",
    # BFS shortest hop-counts from a fixed source on the del1 name graph,
    # depth-capped at 4 — and the FIRST operator exercising Spark 4's
    # native WITH RECURSIVE support: the Spark side and the DuckDB oracle
    # run the textually-identical recursive query (modulo the edge CTE),
    # min(hops) over depth-bounded path enumeration. The cap is what makes
    # UNION ALL path enumeration safe on a cyclic graph (degree^4 paths,
    # bounded); uncapped BFS at scale is the iterative-frontier pattern
    # connected_components/graph_pagerank_exact already implement.
    oracle=f"""
    WITH RECURSIVE {_LPA_PAIRS},
    src AS (SELECT min(n) AS v FROM names),
    reach(node, hops) AS (
        SELECT v AS node, 0 AS hops FROM src
        UNION ALL
        SELECT e.d, r.hops + 1
        FROM reach r JOIN sym e ON e.s = r.node
        WHERE r.hops < {_BFS_CAP}
    )
    SELECT node, CAST(min(hops) AS INT) AS hops
    FROM reach GROUP BY node
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from the lexicographically-first customer name to
    everything within 4 hops of the edit-distance-1 name graph — the
    ego-network / blast-radius query, run through Spark 4's NATIVE
    `WITH RECURSIVE` (new engine surface in Spark 4.x; the same recursion
    the DuckDB oracle executes, so the two recursive-CTE implementations
    hash-check each other).

    Scale shape: each recursive step is one (frontier join edges) shuffle;
    the depth cap bounds path enumeration at degree^4 — the honest form
    for radius-limited queries. For unbounded reachability the engine's
    iterative operators (connected_components' pointer-jumping rounds,
    hierarchy_closure_doubling's pointer doubling) are the scale path:
    they carry O(nodes) state instead of path multisets."""
    from .text import fuzzy_join_del1

    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .select("name_a", "name_b")
        .localCheckpoint(eager=True)
    )
    sym = pairs.select(F.col("name_a").alias("s"), F.col("name_b").alias("d")).union(
        pairs.select(F.col("name_b").alias("s"), F.col("name_a").alias("d"))
    )
    sym.createOrReplaceTempView("__bfs_edges")
    src = (
        load_table(spark, sf_dir, "customer")
        .agg(F.min("c_name"))
        .first()[0]
    )  # same source rule as the oracle: min over ALL names
    return spark.sql(
        f"""
        WITH RECURSIVE reach(node, hops) AS (
            SELECT '{src}' AS node, 0 AS hops
            UNION ALL
            SELECT e.d, r.hops + 1
            FROM reach r JOIN __bfs_edges e ON e.s = r.node
            WHERE r.hops < {_BFS_CAP}
        )
        SELECT node, CAST(min(hops) AS INT) AS hops
        FROM reach GROUP BY node
        """
    )


@query(
    "graph_link_prediction_jaccard",
    # Same wedge candidates as the RA index, different normalization:
    # J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| as the exact integer
    # 1e6·common div (deg(a) + deg(b) − common) — the classic
    # link-prediction baseline (Liben-Nowell & Kleinberg 2003).
    oracle="""
    WITH names(n) AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.n AS s, b.n AS d FROM names a JOIN names b ON a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    sym AS (SELECT s, d FROM pairs UNION SELECT d AS s, s AS d FROM pairs),
    deg AS (SELECT s AS z, count(*) AS dz FROM sym GROUP BY s),
    wedges AS (
        SELECT e1.d AS a, e2.d AS b
        FROM sym e1 JOIN sym e2 ON e1.s = e2.s AND e1.d < e2.d
    ),
    common AS (
        SELECT a AS name_a, b AS name_b, count(*) AS n_common
        FROM wedges GROUP BY a, b
    ),
    scored AS (
        SELECT c.name_a, c.name_b, c.n_common,
               1000000 * c.n_common
                   // (da.dz + db.dz - c.n_common) AS jaccard_ppm
        FROM common c
        JOIN deg da ON da.z = c.name_a
        JOIN deg db ON db.z = c.name_b
    )
    SELECT s.name_a, s.name_b, CAST(s.n_common AS BIGINT) AS n_common,
           CAST(s.jaccard_ppm AS BIGINT) AS jaccard_ppm
    FROM scored s
    WHERE NOT EXISTS (SELECT 1 FROM pairs p
                      WHERE p.s = s.name_a AND p.d = s.name_b)
    """,
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the edit-distance-1 name
    graph — the RA index's classic baseline twin: for every NON-adjacent
    pair with >= 1 common neighbor, 1e6·|N(a)∩N(b)| div |N(a)∪N(b)| with
    the union expanded as deg(a) + deg(b) − common (exact integers; Spark
    `div` = DuckDB `//` on positives).

    Shape is graph_link_prediction_ra's: one wedge self-join + TWO
    broadcast degree lookups (one per endpoint — RA needed the common
    neighbor's degree instead) + the anti join against existing edges."""
    from .text import fuzzy_join_del1

    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .select("name_a", "name_b")
        .localCheckpoint(eager=True)  # wedges, degrees, anti join all share it
    )
    sym = pairs.select(
        F.col("name_a").alias("s"), F.col("name_b").alias("d")
    ).union(pairs.select(F.col("name_b").alias("s"), F.col("name_a").alias("d")))
    deg = sym.groupBy(F.col("s").alias("z")).agg(F.count(F.lit(1)).alias("dz"))
    e1 = sym.select(F.col("s").alias("z"), F.col("d").alias("a"))
    e2 = sym.select(F.col("s").alias("z"), F.col("d").alias("b"))
    common = (
        e1.join(e2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("name_a"), F.col("b").alias("name_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("z").alias("name_a"), F.col("dz").alias("da"))
    db = deg.select(F.col("z").alias("name_b"), F.col("dz").alias("db"))
    scored = (
        common.join(F.broadcast(da), "name_a")
        .join(F.broadcast(db), "name_b")
        .select(
            "name_a",
            "name_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.expr("1000000 * n_common div (da + db - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )
    return scored.join(pairs, ["name_a", "name_b"], "left_anti").select(
        "name_a", "name_b", "n_common", "jaccard_ppm"
    )


@query(
    "graph_components_hashmin_jump",
    # Same unique fixpoint as any CC algorithm — every node labeled with
    # its component's MIN name — so the oracle is the recursive-CTE
    # closure over the shared del1 pair CTE, independent of how many
    # rounds the Spark side needed.
    oracle=f"""
    WITH RECURSIVE {_LPA_PAIRS},
    reach(node, label) AS (
        SELECT n, n FROM names
        UNION
        SELECT e.d, r.label FROM reach r JOIN sym e ON r.node = e.s
    )
    SELECT node AS name, min(label) AS component
    FROM reach GROUP BY node
    """,
)
def graph_components_hashmin_jump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the edit-distance-1 name graph: every
    customer name labeled with its component's MIN name.

    The del1 name graph is the high-diameter case for ``connected_components``:
    the fixture's digit-serial names chain transitively into ONE component
    of every name (the over-merge entity_resolution's blocking exists to
    prevent). Min-label propagation alone needs one round per hop here;
    its pointer jump (lbl(v) <- lbl(lbl(v)), the O(log n)-round MapReduce
    CC family of Rastogi et al. 2012 / Kiveris et al. 2014) halves label
    chains per round. The fixpoint (component = min name) is unique, so
    the result does not depend on the round count and both engines agree
    regardless of convergence path."""
    from .text import fuzzy_join_del1

    names = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("node"))
        .distinct()
    )
    pairs = (
        fuzzy_join_del1(spark, sf_dir)
        .select("name_a", "name_b")
        .localCheckpoint(eager=True)
    )
    labels = connected_components(names, pairs, src_col="name_a", dst_col="name_b")
    return labels.select(F.col("node").alias("name"), "component")


# Spanning-forest probe graph: a deterministic 1/23 subset of the geo point
# cloud under a wider radius than geo_distance_join, so components are rich
# enough to force real Borůvka merge rounds while the Kruskal oracle's
# label-list recursion stays fixture-tractable (edges x nodes list cells).
_MSF_RADIUS_MILLI = 5000
_MSF_POINTS_SQL = """
points AS (
    SELECT o_orderkey AS id,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                AS BIGINT) % 100000 AS xm,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 9, 8))
                AS BIGINT) % 100000 AS ym
    FROM orders WHERE o_orderkey % 23 = 0
)
"""


@query(
    "graph_minimum_spanning_forest",
    # The oracle is KRUSKAL under the strict total edge order (w, u, v):
    # a recursive CTE walks the sorted edge list carrying the component
    # labels as a LIST column (the pack_sequences_greedy discipline), and
    # an edge is in the forest iff its endpoints' labels differ at its
    # step. With a total order the MSF is unique, so Borůvka (Spark) and
    # Kruskal (oracle) MUST emit the identical edge set. The label-list
    # recursion is fixture-scale-only, like geo_distance_join's quadratic
    # oracle — the Spark side is the scale path.
    oracle=f"""
    WITH RECURSIVE {_MSF_POINTS_SQL},
    edges AS (
        SELECT a.id AS u, b.id AS v,
               (a.xm - b.xm) * (a.xm - b.xm)
                 + (a.ym - b.ym) * (a.ym - b.ym) AS w
        FROM points a JOIN points b ON a.id < b.id
        WHERE (a.xm - b.xm) * (a.xm - b.xm)
                + (a.ym - b.ym) * (a.ym - b.ym)
              <= {_MSF_RADIUS_MILLI * _MSF_RADIUS_MILLI}
    ),
    se AS (
        SELECT u, v, w, row_number() OVER (ORDER BY w, u, v) AS i FROM edges
    ),
    nl AS (SELECT list(id ORDER BY id) AS ns FROM points),
    kr(i, labels) AS (
        SELECT CAST(0 AS BIGINT), (SELECT ns FROM nl)
        UNION ALL
        -- n.ns rides in via the 1-row cross join: DuckDB forbids
        -- SUBQUERIES inside lambda bodies, plain columns are fine
        SELECT k.i + 1,
               CASE WHEN k.labels[list_position(n.ns, s.u)]
                         = k.labels[list_position(n.ns, s.v)]
                    THEN k.labels
                    ELSE list_transform(k.labels, x -> CASE
                        WHEN x = greatest(
                            k.labels[list_position(n.ns, s.u)],
                            k.labels[list_position(n.ns, s.v)])
                        THEN least(
                            k.labels[list_position(n.ns, s.u)],
                            k.labels[list_position(n.ns, s.v)])
                        ELSE x END)
               END
        FROM kr k JOIN se s ON s.i = k.i + 1, nl n
    )
    SELECT s.u AS id_a, s.v AS id_b, CAST(s.w AS BIGINT) AS d2_milli
    FROM se s JOIN kr k ON k.i = s.i - 1, nl n
    WHERE k.labels[list_position(n.ns, s.u)]
       != k.labels[list_position(n.ns, s.v)]
    """,
)
def graph_minimum_spanning_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest via BORŮVKA (1926/Sollin — the parallel MST
    algorithm: every component claims its minimum outgoing edge under the
    strict total order (weight, u, v), claimed edges join the forest, and
    components contract; components at least halve per round, so O(log n)
    rounds regardless of diameter). Contraction runs
    ``connected_components`` over the component graph of the claimed
    edges.

    Graph: the deterministic md5 point cloud (1/23 orderkey subset),
    edges = pairs within radius 5000 milli-units with exact integer
    squared distances, built with the geo_distance_join cell-bucket shape
    (cell = radius, 3x3 neighbor probes — shuffle is 9x|points|, never
    pairs). Under a total edge order the MSF is unique, so the hash must
    equal Kruskal's — two classical algorithms, two engines, one edge set.

    Scale: per round, the min-outgoing-edge pick is one combinable
    min-struct aggregate over the live edge list; the edge list shrinks
    as components merge (intra-component edges drop out); contraction is
    ``connected_components``. Everything is eagerly checkpointed per
    round."""
    edges = _msf_weighted_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        _msf_points(spark, sf_dir)
        .select(F.col("id").alias("node"))
        .localCheckpoint(eager=True)
    )
    mst = spark.createDataFrame([], "u bigint, v bigint, w bigint")
    comp = nodes.select("node", F.col("node").alias("lbl")).localCheckpoint(
        eager=True
    )
    for _outer in range(20):
        cu = comp.select(F.col("node").alias("u"), F.col("lbl").alias("cu"))
        cv = comp.select(F.col("node").alias("v"), F.col("lbl").alias("cv"))
        live = (
            edges.join(cu, "u")
            .join(cv, "v")
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint(eager=True)
        )
        if live.count() == 0:
            break
        # Min outgoing edge per component under (w, u, v); the endpoint
        # labels ride along so contraction can run on the COMPONENT graph
        # (size = #components, at least halving per round) instead of
        # re-deriving components over all nodes from scratch.
        e_struct = F.struct("w", "u", "v", "cu", "cv").alias("e")
        both = live.select(F.col("cu").alias("c"), e_struct).union(
            live.select(F.col("cv").alias("c"), e_struct)
        )
        chosen = (
            both.groupBy("c")
            .agg(F.min("e").alias("e"))
            .select(
                F.col("e.u").alias("u"),
                F.col("e.v").alias("v"),
                F.col("e.w").alias("w"),
                F.col("e.cu").alias("cu"),
                F.col("e.cv").alias("cv"),
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        mst = mst.unionByName(chosen.select("u", "v", "w")).localCheckpoint(
            eager=True
        )
        lbl_nodes = comp.select(F.col("lbl").alias("node")).distinct()
        relab = connected_components(
            lbl_nodes, chosen, src_col="cu", dst_col="cv"
        ).withColumnsRenamed({"node": "old_lbl", "component": "new_lbl"})
        comp = (
            comp.join(relab, comp.lbl == relab.old_lbl)
            .select("node", F.col("new_lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
    else:  # pragma: no cover - stall guard
        raise RuntimeError("Borůvka failed to converge in 20 rounds")
    return mst.select(
        F.col("u").alias("id_a"),
        F.col("v").alias("id_b"),
        F.col("w").cast("long").alias("d2_milli"),
    )


_SSSP_STAGES = 64


def _sssp_stage_sql(k: int) -> str:
    # AS MATERIALIZED is load-bearing: each stage references d{k-1} twice
    # and DuckDB INLINES plain CTEs, so 64 unrolled stages would expand
    # 2^64 scan subtrees ("Too many open files" — probed).
    return f"""
    d{k} AS MATERIALIZED (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{k - 1}
            UNION ALL
            SELECT e.d AS node, p.dist + e.w AS dist
            FROM d{k - 1} p JOIN sym e ON e.s = p.node
        ) GROUP BY node
    )"""


_SSSP_ORACLE = f"""
    WITH {_MSF_POINTS_SQL},
    edges AS (
        SELECT a.id AS u, b.id AS v,
               (a.xm - b.xm) * (a.xm - b.xm)
                 + (a.ym - b.ym) * (a.ym - b.ym) AS w
        FROM points a JOIN points b ON a.id < b.id
        WHERE (a.xm - b.xm) * (a.xm - b.xm)
                + (a.ym - b.ym) * (a.ym - b.ym)
              <= {_MSF_RADIUS_MILLI * _MSF_RADIUS_MILLI}
    ),
    sym AS MATERIALIZED (
        SELECT u AS s, v AS d, w FROM edges
        UNION ALL SELECT v AS s, u AS d, w FROM edges
    ),
    d0 AS MATERIALIZED (
        SELECT (SELECT min(u) FROM edges) AS node, CAST(0 AS BIGINT) AS dist
    ),
    {",".join(_sssp_stage_sql(k) for k in range(1, _SSSP_STAGES + 1))}
    SELECT node AS id, CAST(dist AS BIGINT) AS dist_d2
    FROM d{_SSSP_STAGES}
    """


@query(
    "graph_sssp_weighted",
    # Bellman-Ford relaxation unrolled to 64 stages (the kmeans/pagerank
    # discipline): each stage min-merges the previous distances with all
    # one-edge extensions. 64 >> the measured need (BFS hop diameter from
    # this source is 22 at sf0.01, 2 at sf0.001; weighted shortest paths
    # can use more hops than BFS but converged distances are a fixpoint,
    # so extra stages are no-ops); an independent python Dijkstra pins
    # both engines in tests/test_graph.py. Weights are the exact integer
    # squared milli-distances (path cost = sum of d2 — deterministic;
    # sqrt would be float).
    oracle=_SSSP_ORACLE,
)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths (weighted) over the MSF probe graph,
    source = the minimum edge-incident point id: distributed BELLMAN-FORD
    — per round, every known distance relaxes across every edge and the
    min per node wins; the loop early-exits at the fixpoint (no distance
    appeared or decreased). Unreachable nodes are omitted (cleaner than a
    cross-engine NULL/infinity convention).

    Scale shape: each round is one edges-join-frontier shuffle + a
    combinable min — the textbook Pregel iteration expressed as
    DataFrames; rounds are bounded by the weighted hop diameter, and
    every round is eagerly checkpointed with a metadata-scale change
    count. At 100 TB the same loop runs with the frontier-only
    optimization (relax only nodes whose distance changed last round);
    here the full-relax keeps the code identical to the oracle's stages."""
    edges = _msf_weighted_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = edges.select(F.col("u").alias("s"), F.col("v").alias("d"), "w").union(
        edges.select(F.col("v").alias("s"), F.col("u").alias("d"), "w")
    ).localCheckpoint(eager=True)
    dist = (
        edges.agg(F.min("u").alias("node"))
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    # Convergence detector (r10): distances are monotone — a node's dist
    # never increases (min over a union that includes the old value) and
    # nodes are only ever added — so the table is unchanged iff its
    # (row count, total dist) pair is unchanged: any strict relaxation
    # lowers the sum, any newly reached node raises the count. Tracking
    # that pair costs ONE combinable aggregate over the just-checkpointed
    # table per round, replacing the old per-round self-JOIN change count
    # (two shuffles + a join per round, ~25 rounds at sf0.01 — the
    # dominant fixed overhead of the loop, guide §1.2 step 1).
    sig_prev = None
    for _round in range(128):
        relax = dist.join(sym, dist.node == sym.s).select(
            F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        new_dist = (
            dist.select("node", "dist")
            .union(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        sig_row = new_dist.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) so the monotone-sum detector can never wrap at
            # scale (a wrap that lands exactly on the previous sum would
            # false-converge)
            F.sum(F.col("dist").cast("decimal(38,0)")).alias("total"),
        ).first()
        sig = (sig_row["n"], sig_row["total"])
        dist = new_dist
        if sig == sig_prev:
            break
        sig_prev = sig
    else:  # pragma: no cover - stall guard
        raise RuntimeError("Bellman-Ford failed to converge in 128 rounds")
    return dist.select(F.col("node").alias("id"), F.col("dist").cast("long").alias("dist_d2"))


@query("graph_sssp_frontier", oracle=_SSSP_ORACLE)
def graph_sssp_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRONTIER-optimized Bellman-Ford — the 100 TB variant the full-relax
    docstring promises: each round relaxes ONLY the nodes whose distance
    improved last round (the frontier), so per-round work is
    O(edges touching the frontier) instead of O(all settled edges). On a
    radius graph the frontier is an expanding ring — the round-r work is
    the ring's edge count, and total work equals Dijkstra's up to round
    granularity. Same graph, same source, SAME oracle as
    graph_sssp_weighted: two relaxation disciplines in Spark plus the
    unrolled oracle in DuckDB, all three hash-equal (the skyline
    pattern, applied to the algorithm's own optimization)."""
    edges = _msf_weighted_edges(spark, sf_dir).localCheckpoint(eager=True)
    sym = edges.select(F.col("u").alias("s"), F.col("v").alias("d"), "w").union(
        edges.select(F.col("v").alias("s"), F.col("u").alias("d"), "w")
    ).localCheckpoint(eager=True)
    dist = (
        edges.agg(F.min("u").alias("node"))
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _round in range(128):
        relax = frontier.join(sym, frontier.node == sym.s).select(
            F.col("d").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        best_relax = relax.groupBy("node").agg(F.min("dist").alias("dist"))
        merged = (
            dist.select("node", F.col("dist").alias("old_dist"))
            .join(best_relax.withColumnRenamed("dist", "cand"), "node", "full")
            .select(
                "node",
                F.least(
                    F.coalesce("old_dist", F.lit(None)),
                    F.coalesce("cand", F.lit(None)),
                ).alias("dist"),
                (
                    F.col("old_dist").isNull()
                    | (F.col("cand") < F.col("old_dist"))
                ).alias("improved"),
            )
            .localCheckpoint(eager=True)
        )
        new_frontier = merged.filter(
            F.col("improved") & F.col("dist").isNotNull()
        ).select("node", "dist").localCheckpoint(eager=True)
        dist = merged.select("node", "dist")
        if new_frontier.count() == 0:
            break
        frontier = new_frontier
    else:  # pragma: no cover - stall guard
        raise RuntimeError("frontier Bellman-Ford failed to converge")
    return dist.select(
        F.col("node").alias("id"),
        F.col("dist").cast("long").alias("dist_d2"),
    )


# --- HITS hubs & authorities, exact-integer twin ---------------------------

_HITS_ROUNDS = 2


def _hits_oracle() -> str:
    """Unrolled HITS over the order->part purchase bipartite graph.

    Sum-normalization in integer ppm after every half-step keeps every
    score in [0, 1e6]; the FIRST authority step still sees the
    un-normalized uniform hub mass (1e6 per order, totalling 1e6*|orders|),
    so its products are computed in HUGEINT (DuckDB's sum() widens
    automatically; Spark mirrors with DECIMAL(38,0) — the pinned
    truncating-div equivalence makes `//` and `div` agree)."""
    stages = []
    prev_hub = "hub0"
    prev_auth = None
    for r in range(1, _HITS_ROUNDS + 1):
        stages.append(
            f"""a{r}r AS (
        SELECT p, sum(h) AS raw FROM edges JOIN {prev_hub} USING (o) GROUP BY p
    ),
    a{r} AS (
        SELECT p, CAST((1000000 * raw) // (SELECT sum(raw) FROM a{r}r)
                  AS BIGINT) AS a
        FROM a{r}r
    ),
    h{r}r AS (
        SELECT o, sum(a) AS raw FROM edges JOIN a{r} USING (p) GROUP BY o
    ),
    h{r} AS (
        SELECT o, CAST((1000000 * raw) // (SELECT sum(raw) FROM h{r}r)
                  AS BIGINT) AS h
        FROM h{r}r
    )"""
        )
        prev_hub = f"h{r}"
        prev_auth = f"a{r}"
    joined = ",\n    ".join(stages)
    return f"""
    WITH edges AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    hub0 AS (
        SELECT DISTINCT o, CAST(1000000 AS BIGINT) AS h FROM edges
    ),
    {joined}
    SELECT p AS l_partkey, a AS auth_ppm FROM {prev_auth}
    """


@query("graph_hits_exact", oracle=_hits_oracle())
def graph_hits_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the order->part purchase graph, in
    exact integer ppm — the bipartite centrality beside
    graph_pagerank_exact's directed one. Orders are hubs ("broad baskets
    confer authority"), parts are authorities ("appearing in strong
    baskets matters"); two mutual-reinforcement rounds with
    sum-normalization to ppm after every half-step, every operation a
    pure integer function, so the unrolled DuckDB CTE chain hash-matches
    the iterative Spark loop (float HITS would diverge in the low bits
    exactly like float PageRank, which stays rows-only for that reason).

    Scale shape: each half-step is one equi-join of the edge list with a
    node-score table + one combinable sum — the PageRank shuffle pattern;
    normalization totals are 1-row broadcast merges. Edge list is
    checkpointed eagerly once and reused by all four half-steps (the
    round-3 recompute-blowup lesson). Scores stay bounded by construction
    after the first normalization; the first half-step's 1e6*|orders|
    mass is DECIMAL(38,0)-widened (HUGEINT in the oracle) so the math is
    exact at ANY scale factor.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    d38 = "decimal(38,0)"
    hub = edges.select("o").distinct().select(
        "o", F.lit(1000000).cast("long").alias("h")
    )

    def _normalize(raw_df: DataFrame, key: str, out: str) -> DataFrame:
        tot = raw_df.agg(F.sum("raw").alias("tot"))
        return raw_df.crossJoin(F.broadcast(tot)).select(
            key,
            F.expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * raw) div tot AS BIGINT)")
            .alias(out),
        )

    auth = None
    for _ in range(_HITS_ROUNDS):
        araw = (
            edges.join(hub, "o")
            .groupBy("p")
            .agg(F.sum(F.col("h").cast(d38)).alias("raw"))
        )
        auth = _normalize(araw, "p", "a")
        hraw = (
            edges.join(auth, "p")
            .groupBy("o")
            .agg(F.sum(F.col("a").cast(d38)).alias("raw"))
        )
        hub = _normalize(hraw, "o", "h")
    return auth.select(F.col("p").alias("l_partkey"), F.col("a").alias("auth_ppm"))


_WALK_SEED = chain_seed("walk")
_WALK_STEPS = 4


def _msf_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MSF probe point cloud (1/23 orderkey subset, md5 milli coords)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("id"))
        .filter(F.col("id") % 23 == 0)
        .select(
            "id",
            F.expr(
                "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 8), 16, 10)"
                " AS BIGINT) % 100000"
            ).alias("xm"),
            F.expr(
                "CAST(conv(substr(md5(CAST(id AS STRING)), 9, 8), 16, 10)"
                " AS BIGINT) % 100000"
            ).alias("ym"),
        )
    )


def _msf_weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u<v weighted radius-5000 edges (w = exact squared milli distance)
    over the probe cloud, built with the cell-bucket shape (cell = radius,
    3x3 neighbor probes — shuffle is 9x|points|, never the quadratic pair
    space). FIVE registered queries re-derive this identical table (MSF,
    both SSSPs, the walk, the clustering coefficient), so it is staged
    once per (sf_dir) under the sweep's opt-in stage-cache discipline
    (session.staged_intermediate; OFF by default so plan pins and the
    driver's correctness run see the genuine lineage)."""
    from ..session import staged_intermediate

    def build() -> DataFrame:
        pts = _msf_points(spark, sf_dir)
        r = _MSF_RADIUS_MILLI
        offsets = F.array(
            *[
                F.struct(F.lit(i).alias("di"), F.lit(j).alias("dj"))
                for i in (-1, 0, 1)
                for j in (-1, 0, 1)
            ]
        )
        a = pts.select(
            F.col("id").alias("u"),
            F.col("xm").alias("xa"),
            F.col("ym").alias("ya"),
            (F.expr(f"xm DIV {r}") * 100000 + F.expr(f"ym DIV {r}")).alias(
                "cell"
            ),
        )
        b = pts.select("id", "xm", "ym", F.explode(offsets).alias("o")).select(
            F.col("id").alias("v"),
            F.col("xm").alias("xb"),
            F.col("ym").alias("yb"),
            (
                (F.expr(f"xm DIV {r}") + F.col("o.di")) * 100000
                + (F.expr(f"ym DIV {r}") + F.col("o.dj"))
            ).alias("cell"),
        )
        d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
            F.col("ya") - F.col("yb")
        ) * (F.col("ya") - F.col("yb"))
        return (
            a.join(b, "cell")
            .filter(F.col("u") < F.col("v"))
            .withColumn("w", d2)
            .filter(F.col("w") <= r * r)
            .select("u", "v", "w")
        )

    return staged_intermediate(spark, build, "msf_edges_uvw_v1", sf_dir)


def _msf_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (both-direction) radius edges, derived by mirroring the
    staged u<v weighted table — shared by the walk and clustering
    queries."""
    e = _msf_weighted_edges(spark, sf_dir).select("u", "v")
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


@query(
    "graph_random_walk_xxh",
    oracle=XXH64_MACROS
    + f"""
    WITH {_MSF_POINTS_SQL},
    e AS (
        SELECT a.id AS u, b.id AS v
        FROM points a JOIN points b ON a.id <> b.id
        WHERE (a.xm - b.xm) * (a.xm - b.xm)
                + (a.ym - b.ym) * (a.ym - b.ym)
              <= {_MSF_RADIUS_MILLI * _MSF_RADIUS_MILLI}
    ),
    adj AS (
        SELECT u, v,
               row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx,
               count(*) OVER (PARTITION BY u) AS deg
        FROM e
    ),
    w0 AS (SELECT id AS walker, id AS cur FROM points),
    """
    + ",\n    ".join(
        f"""w{t} AS (
        SELECT w.walker, a.v AS cur
        FROM w{t - 1} w JOIN adj a ON a.u = w.cur
         AND a.idx = ((xxh64_long(w.cur,
                        xxh64_long_u(w.walker,
                                     {chain_seed(f'walk:{t}')}::UBIGINT))
                       % a.deg) + a.deg) % a.deg
    )"""
        for t in range(1, _WALK_STEPS + 1)
    )
    + f""",
    visits AS (
        {" UNION ALL ".join(f"SELECT cur FROM w{t}" for t in range(1, _WALK_STEPS + 1))}
    )
    SELECT cur AS node, CAST(count(*) AS BIGINT) AS n_visits
    FROM visits GROUP BY cur
    """,
)
def graph_random_walk_xxh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks over the MSF probe graph — the
    sampling primitive under DeepWalk/node2vec embeddings, made
    hash-oracle-checkable: every walker's step-t neighbor choice is
    xxhash64('walk:t', walker, cur) mod degree over the id-ordered
    adjacency index, so both engines traverse the SAME walks (the
    signflip-permutation determinism rule applied to graph sampling).
    One walker starts at every node; 4 steps; walkers at isolated nodes
    terminate (inner join on deg >= 1).

    The step key hashes walker and cur as TWO chained long arguments
    (step folded into the literal seed string) — collision-free for any
    64-bit id, replacing the r5 single-long packing whose 2^24 cur field
    silently overlapped walker bits once ids exceeded 16M (r5 ADVICE
    item). The oracle replays the chain via xxh64_long_u (the unsigned
    intermediate IS Spark's running multi-arg hash seed).

    Shape at 100 TB: each step is one equi-join of the walker state
    (|walkers| rows) with the indexed adjacency on (node, idx) — the
    state never grows, no path multisets are carried, and steps
    pipeline as ordinary shuffles. Building the adjacency index is one
    window over edges; at web scale walks batch thousands of walkers
    per node with the same join shape.
    """
    sym = _msf_sym_edges(spark, sf_dir)
    pts = _msf_points(spark, sf_dir)
    adj = sym.select(
        "u",
        "v",
        (
            F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1
        ).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("u")).alias("deg"),
    ).localCheckpoint(eager=True)  # every step joins it
    # r10 NOTE (tried and reverted, kept for the record): resolving deg via
    # a per-node lookup first and equi-joining the adjacency on (u, idx) —
    # so each step emits one row per walker instead of deg rows — measured
    # SLOWER solo at sf0.1 (normalized median 2.46 vs 1.77 over 5 fresh
    # A/B sessions): the extra join per step (x4 steps, each a separate
    # eager-checkpoint job) costs more than the fan-out it saves on this
    # graph's small average degree. The fan-out-then-filter shape stays; at
    # a degree regime where it loses, the two-join form is the documented
    # alternative.
    # r11 (guide §2.4 / VERDICT r10 item 4): the four per-step eager
    # checkpoints existed because step t's state fed TWO consumers (step
    # t+1 and the visit union) — without them the union's four branches
    # would recompute 1+2+3+4 = 10 step joins. Carrying the visit history
    # as one column per step turns the walk into a single LINEAR plan:
    # four chained (join + filter) steps over the one checkpointed
    # adjacency, then one explode + count. 4 checkpoint jobs + a 4-branch
    # union job collapse into ONE job; each step's join+filter pipelines
    # inside the same stage (the |walkers|·deg fan-out is never
    # materialized). Only step 1 can drop walkers (isolated start nodes);
    # every later cur is an edge endpoint of the symmetric graph, so deg
    # >= 1 and the inner joins after step 1 are row-preserving — the
    # exploded (c1..cT) multiset is exactly the old per-step visit union.
    # Size-gated broadcast of the indexed adjacency (the dedup
    # _maybe_broadcast gate pattern): the checkpointed LogicalRDD carries no
    # statistics, so without a hint all four step joins plan as shuffle
    # joins of BOTH sides. Under the measured row cap (fixed-width 4-long
    # rows; 2M rows ≈ 64 MB broadcast) ship the adjacency once per executor
    # and never shuffle the walker state; above it (the 100 TB regime) the
    # hint is withheld and AQE plans the exchanges as before. The count is
    # a cached-metadata read — adj is checkpointed above.
    adj_bcast = adj.count() <= 2_000_000
    state = pts.select(F.col("id").alias("walker"), F.col("id").alias("cur"))
    for t in range(1, _WALK_STEPS + 1):
        a = adj.select(
            F.col("u").alias(f"_u{t}"),
            F.col("v").alias(f"_v{t}"),
            F.col("idx").alias(f"_idx{t}"),
            F.col("deg").alias(f"_deg{t}"),
        )
        if adj_bcast:
            a = F.broadcast(a)
        h = F.xxhash64(F.lit(f"walk:{t}"), F.col("walker"), F.col("cur"))
        state = (
            state.withColumn("h", h)
            .join(a, F.col("cur") == F.col(f"_u{t}"))
            .filter(F.pmod(F.col("h"), F.col(f"_deg{t}")) == F.col(f"_idx{t}"))
            .select(
                "walker",
                *[F.col(f"c{s}") for s in range(1, t)],
                F.col(f"_v{t}").alias(f"c{t}"),
            )
            .withColumn("cur", F.col(f"c{t}"))
        )
    return (
        state.select(
            F.explode(
                F.array(*[F.col(f"c{t}") for t in range(1, _WALK_STEPS + 1)])
            ).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_visits"))
    )


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_MSF_POINTS_SQL},
    e AS (
        SELECT a.id AS u, b.id AS v
        FROM points a JOIN points b ON a.id <> b.id
        WHERE (a.xm - b.xm) * (a.xm - b.xm)
                + (a.ym - b.ym) * (a.ym - b.ym)
              <= {_MSF_RADIUS_MILLI * _MSF_RADIUS_MILLI}
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY u),
    tri AS (
        SELECT w1.u, CAST(count(*) AS BIGINT) AS n_closed
        FROM e w1 JOIN e w2 ON w2.u = w1.u AND w1.v < w2.v
        JOIN e c ON c.u = w1.v AND c.v = w2.v
        GROUP BY w1.u
    )
    SELECT d.u AS node, d.deg,
           coalesce(t.n_closed, 0) AS n_triangles,
           coalesce(t.n_closed, 0) * 2000000 // (d.deg * (d.deg - 1))
               AS cc_ppm
    FROM deg d LEFT JOIN tri t ON t.u = d.u
    WHERE d.deg >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — how tightly each node's
    neighborhood closes into triangles (Watts-Strogatz 1998), the
    node-level refinement of graph_triangle_count's global total.

    cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) never materializes as a
    float: the output is the scaled-integer floor cc_ppm (the
    recsys_item_item_cosine rule), so ordering and hashing are exact.
    Wedges enumerate as (v, n1 < n2 neighbors) pairs and close against
    the edge list — per-node work is C(deg, 2), the honest cost of
    local triangle counting.

    Shape at 100 TB: wedge enumeration is the degree-skew hotspot —
    the degree-oriented orientation trick (count each triangle at its
    lowest-degree vertex, graph_triangle_count_degree) bounds it to
    O(m^1.5) total; here per-node attribution needs the plain wedge
    form, so production caps or samples wedges at celebrity nodes. The
    closing join keys on the (n1, n2) edge — an ordinary equi join of
    wedge table vs edge list.
    """
    sym = _msf_sym_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    w1 = sym.select(F.col("u"), F.col("v").alias("n1"))
    w2 = sym.select(F.col("u"), F.col("v").alias("n2"))
    wedges = w1.join(w2, "u").filter(F.col("n1") < F.col("n2"))
    closing = sym.select(
        F.col("u").alias("n1"), F.col("v").alias("n2")
    )
    tri = (
        wedges.join(closing, ["n1", "n2"])
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("n_closed"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, "u", "left")
        .selectExpr(
            "u AS node",
            "deg",
            "coalesce(n_closed, CAST(0 AS BIGINT)) AS n_triangles",
            "coalesce(n_closed, CAST(0 AS BIGINT)) * 2000000"
            " DIV (deg * (deg - 1)) AS cc_ppm",
        )
    )


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH names(n) AS (SELECT DISTINCT c_name FROM customer),
    pairs AS (
        SELECT a.n AS u, b.n AS v FROM names a JOIN names b ON a.n < b.n
        WHERE levenshtein(a.n, b.n) <= 1
    ),
    sym AS (
        SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym
            GROUP BY u),
    ends AS (
        SELECT du.d AS dx, dv.d AS dy
        FROM sym JOIN deg du ON du.node = sym.u
        JOIN deg dv ON dv.node = sym.v
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dx) AS BIGINT) AS sx,
               CAST(sum(dx * dx) AS BIGINT) AS sxx,
               CAST(sum(dx * dy) AS BIGINT) AS sxy
        FROM ends
    )
    SELECT n AS n_directed_edges, sx, sxx, sxy,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)
           / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)
               AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the edit-distance-1 name
    graph: the Pearson correlation of endpoint degrees over all DIRECTED
    edges — do high-degree nodes attach to high-degree nodes (social
    networks, r > 0) or to leaves (technological/similarity graphs,
    r < 0)? For a dedup/blocking graph the sign is operationally
    meaningful: disassortative hubs mean a few super-connector names
    chain many small clusters (the over-merge hazard
    entity_resolution_names blocks against).

    Exactness: over the symmetric edge list both marginals coincide
    (sum dx = sum dy, sum dx² = sum dy²), so r reduces to
    (n·Sxy − Sx²) / (n·Sxx − Sx²) over FOUR exact integer moments and
    ONE shared double expression (nullif-guarded for the regular-graph
    degenerate case) — the stat_corr_moments discipline applied to
    graph structure.

    Shape at 100 TB: degrees are one groupBy over edges; the moment
    reduction is one combinable aggregate over the degree-joined edge
    list. No iteration, no windows.
    """
    from .text import fuzzy_join_del1

    pairs = fuzzy_join_del1(spark, sf_dir)
    sym = pairs.select(
        F.col("name_a").alias("u"), F.col("name_b").alias("v")
    ).unionAll(
        pairs.select(F.col("name_b").alias("u"), F.col("name_a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ends = (
        sym.join(deg.select(F.col("node").alias("u"), F.col("d").alias("dx")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dy")), "v")
    )
    m = ends.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    return m.selectExpr(
        "n AS n_directed_edges",
        "sx",
        "sxx",
        "sxy",
        "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)"
        " / nullif(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx, 0)"
        " AS assortativity",
    )


# --- wave 44 (round 8) ---

_TRUSS_K = 4  # support >= k-2 = 2 triangles per surviving edge
_TRUSS_ORACLE_ROUNDS = 5  # measured fixpoint: 3 rounds at sf0.001/sf0.01


def _truss_round_sql(prev: str, out: str) -> str:
    """One peel round: recompute per-edge triangle support on the current
    edge set (x<y<z oriented chain join), keep support >= k-2."""
    return f"""
    tri_{out} AS MATERIALIZED (
        SELECT e1.s AS x, e1.d AS y, e2.d AS z
        FROM {prev} e1 JOIN {prev} e2 ON e2.s = e1.d
        JOIN {prev} e3 ON e3.s = e1.s AND e3.d = e2.d
    ),
    sup_{out} AS MATERIALIZED (
        SELECT s, d, count(*) AS sup FROM (
            SELECT x AS s, y AS d FROM tri_{out}
            UNION ALL SELECT y, z FROM tri_{out}
            UNION ALL SELECT x, z FROM tri_{out}
        ) GROUP BY s, d
    ),
    {out} AS MATERIALIZED (
        SELECT e.s, e.d FROM {prev} e
        JOIN sup_{out} ON sup_{out}.s = e.s AND sup_{out}.d = e.d
        WHERE sup_{out}.sup >= {_TRUSS_K - 2}
    )"""


_TRUSS_ROUNDS_SQL = ",".join(
    _truss_round_sql(f"e{r}", f"e{r + 1}")
    for r in range(_TRUSS_ORACLE_ROUNDS)
)
_TRUSS_LAST = f"e{_TRUSS_ORACLE_ROUNDS}"


@query(
    "graph_k_truss",
    # Unrolled-iteration oracle (the Kruskal/k-core precedent): the peel
    # is unrolled R=5 rounds — measured fixpoint is 3 rounds at both test
    # scales, and a peel pass is idempotent at the fixpoint, so rounds 4-5
    # re-prove convergence rather than change the result. (A recursive CTE
    # cannot express this peel: the recursive term may reference the
    # working set once, and triangle support needs three self-references.)
    # The `converged` column pins the budget ITSELF: the oracle computes
    # |e4| = |e5| while Spark (which iterates to a true fixpoint with a
    # generous runaway guard — denser graphs need more rounds, measured on
    # the x10 replica fixture) emits literal true — so an under-unrolled
    # oracle hash-FAILS loudly instead of silently comparing a non-fixpoint.
    oracle=f"""
    WITH e0 AS MATERIALIZED (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.label = b.label
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 5)
              >= 0.2
    ),{_TRUSS_ROUNDS_SQL},
    tri_final AS MATERIALIZED (
        SELECT e1.s AS x, e1.d AS y, e2.d AS z
        FROM {_TRUSS_LAST} e1 JOIN {_TRUSS_LAST} e2 ON e2.s = e1.d
        JOIN {_TRUSS_LAST} e3 ON e3.s = e1.s AND e3.d = e2.d
    ),
    final_sup AS (
        SELECT s, d, count(*) AS sup FROM (
            SELECT x AS s, y AS d FROM tri_final
            UNION ALL SELECT y, z FROM tri_final
            UNION ALL SELECT x, z FROM tri_final
        ) GROUP BY s, d
    ),
    conv AS (
        SELECT (SELECT count(*) FROM e{_TRUSS_ORACLE_ROUNDS - 1})
               = (SELECT count(*) FROM {_TRUSS_LAST}) AS converged
    )
    SELECT e.s, e.d, CAST(f.sup AS BIGINT) AS support,
           (SELECT converged FROM conv) AS converged
    FROM {_TRUSS_LAST} e JOIN final_sup f ON f.s = e.s AND f.d = e.d
    """,
)
def graph_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {_TRUSS_K}-truss of the embedding similarity graph (Cohen
    2008): the maximal subgraph where EVERY edge closes at least k-2 = 2
    triangles — the edge-grained cohesive-subgraph detector between
    triangle counting (one global number) and k-core (vertex-grained,
    which keeps hub-and-spoke noise a truss rejects). Community-detection
    pipelines run exactly this peel to extract seed communities.

    Algorithm: iterate [orient x<y<z, chain-join for triangles, count
    per-edge support, drop edges under k-2] to a fixpoint — each round is
    two equi-joins plus one aggregate over the SHRINKING edge set, all
    shuffles on edge keys; intermediate sets are localCheckpointed so no
    round recomputes its predecessor (and the checkpoint breaks the
    exponentially deepening lineage). Converges in 3 rounds on the
    fixture; the runaway guard and the oracle's unroll budget are
    asserted together.

    At 100 TB: support counting is the triangle-count join (degree
    orientation bounds the wedge fan-out); the peel touches only
    surviving edges, which after round 1 is typically a tiny fraction —
    the working set collapses 657 → 23 → 6 on the fixture.
    """
    from .similarity import similarity_threshold_pairs

    edges = (
        similarity_threshold_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("s"), F.col("vec_b").alias("d"))
        .localCheckpoint(eager=True)
    )
    n_prev = edges.count()
    for rounds in range(1, 65):  # runaway guard only; fixpoint is the exit
        e1 = edges.select(F.col("s").alias("x"), F.col("d").alias("y"))
        e2 = edges.select(F.col("s").alias("y"), F.col("d").alias("z"))
        e3 = edges.select(F.col("s").alias("x"), F.col("d").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"]).localCheckpoint(
            eager=True
        )  # three support projections consume it
        sup = (
            tri.select(F.col("x").alias("s"), F.col("y").alias("d"))
            .unionAll(tri.select(F.col("y").alias("s"), F.col("z").alias("d")))
            .unionAll(tri.select(F.col("x").alias("s"), F.col("z").alias("d")))
            .groupBy("s", "d")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        edges = (
            edges.join(sup, ["s", "d"])
            .filter(F.col("sup") >= _TRUSS_K - 2)
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
        n_cur = edges.count()
        if n_cur == n_prev or n_cur == 0:
            break
        n_prev = n_cur
    else:
        raise AssertionError(
            "k-truss runaway: no fixpoint within 64 peel rounds"
        )
    e1 = edges.select(F.col("s").alias("x"), F.col("d").alias("y"))
    e2 = edges.select(F.col("s").alias("y"), F.col("d").alias("z"))
    e3 = edges.select(F.col("s").alias("x"), F.col("d").alias("z"))
    tri = e1.join(e2, "y").join(e3, ["x", "z"]).localCheckpoint(eager=True)
    sup = (
        tri.select(F.col("x").alias("s"), F.col("y").alias("d"))
        .unionAll(tri.select(F.col("y").alias("s"), F.col("z").alias("d")))
        .unionAll(tri.select(F.col("x").alias("s"), F.col("z").alias("d")))
        .groupBy("s", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return edges.join(sup, ["s", "d"]).select(
        "s", "d", "support", F.lit(True).alias("converged")
    )


# --- wave 48 (round 9) ---

# Parallel densest-subgraph peel (Charikar 2000 greedy, parallelized as
# Bahmani-Kumar-Vassilvitskii 2012): each round removes EVERY vertex with
# deg <= (1 + eps) * (2E/V), eps = 1/2 -> keep iff deg * V > 3E (exact
# integer compare); the best round's density is a 2(1+eps) = 3-approx of
# the true maximum density. Rounds are O(log_{1+eps} V) by the counting
# argument (the kept set is < V/(1+eps)); the fixture peels to empty in 3
# rounds at both test scales, so the oracle unrolls R=5 — rounds 4-5
# re-prove emptiness and the `converged` column pins the budget itself
# (the graph_k_truss self-pinning discipline).
_DSG_ORACLE_ROUNDS = 5


def _dsg_round_sql(r: int) -> str:
    return f"""
    d{r} AS (
        SELECT v, CAST(count(*) AS BIGINT) AS deg
        FROM (SELECT s AS v FROM e{r} UNION ALL SELECT d FROM e{r})
        GROUP BY v
    ),
    st{r} AS (
        SELECT CAST((SELECT count(*) FROM d{r}) AS BIGINT) AS nv,
               CAST((SELECT count(*) FROM e{r}) AS BIGINT) AS ne
    ),
    keep{r} AS (
        SELECT v FROM d{r}, st{r} WHERE deg * st{r}.nv > 3 * st{r}.ne
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.s, e.d
        FROM e{r} e JOIN keep{r} a ON a.v = e.s
        JOIN keep{r} b ON b.v = e.d
    )"""


_DSG_ROUNDS_SQL = ",".join(
    _dsg_round_sql(r) for r in range(_DSG_ORACLE_ROUNDS)
)


@query(
    "graph_densest_subgraph_peel",
    oracle=f"""
    WITH e0 AS MATERIALIZED (
        SELECT a.vec_id AS s, b.vec_id AS d
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.label = b.label
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(b.embedding AS DOUBLE[])), 5)
              >= 0.2
    ),{_DSG_ROUNDS_SQL},
    rounds AS (
        {" UNION ALL ".join(
            f"SELECT {r} AS round, nv AS n_vertices, ne AS n_edges,"
            f" ne * 1000000 // nv AS density_ppm FROM st{r} WHERE nv > 0"
            for r in range(_DSG_ORACLE_ROUNDS)
        )}
    ),
    conv AS (
        SELECT (SELECT count(*) FROM e{_DSG_ORACLE_ROUNDS}) = 0 AS converged
    )
    SELECT round AS best_round, n_vertices, n_edges,
           CAST(density_ppm AS BIGINT) AS density_ppm,
           (SELECT CAST(count(*) AS BIGINT) FROM rounds) AS rounds_total,
           (SELECT converged FROM conv) AS converged
    FROM rounds
    ORDER BY density_ppm DESC, round ASC
    LIMIT 1
    """,
)
def graph_densest_subgraph_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest-subgraph extraction by parallel peeling (Charikar 2000;
    Bahmani et al. 2012, eps = 1/2) over the embedding similarity graph:
    every round removes ALL vertices with degree <= 3E/V at once, and the
    best round start is a 3-approximation of the maximum-density
    subgraph — the dense-community extractor a dedup/curation pipeline
    runs to find pathological near-duplicate blobs that pairwise
    thresholds under-report (k-truss finds edge-cohesive cores; density
    peel finds the globally heaviest cluster).

    Exactness: the keep rule deg·V > 3E and the density ranking
    E·10⁶ DIV V are pure integer arithmetic, so the per-round decisions
    and the winning round are all inside the hash; `converged` pins the
    oracle's unroll budget against Spark's true fixpoint loop.

    Scale shape: each round = one degree aggregate + one semi-join over
    the SHRINKING edge set (the k-truss loop without the triangle join);
    the counting argument bounds rounds at O(log V) regardless of data
    size. Per-round frames are localCheckpointed so no round recomputes
    its predecessor.
    """
    from .similarity import similarity_threshold_pairs

    edges = (
        similarity_threshold_pairs(spark, sf_dir)
        .select(F.col("vec_a").alias("s"), F.col("vec_b").alias("d"))
        .localCheckpoint(eager=True)
    )
    stats: list[tuple[int, int, int, int]] = []
    converged = False
    for r in range(64):  # runaway guard only; empty set is the exit
        deg = (
            edges.select(F.col("s").alias("v"))
            .unionAll(edges.select(F.col("d").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=True)
        )
        # One aggregate job yields BOTH loop scalars (r10): every edge
        # contributes exactly two degree units, so ne == sum(deg) / 2 — the
        # separate edges.count() job per round (plus the deg.count() job)
        # collapses into a single combinable pass over the checkpointed
        # degree table. Same integers, one job fewer per round.
        sig = deg.agg(
            F.count(F.lit(1)).alias("nv"), F.sum("deg").alias("sum_deg")
        ).first()
        nv = int(sig["nv"])
        ne = int(sig["sum_deg"]) // 2 if sig["sum_deg"] is not None else 0
        if nv == 0:
            converged = True
            break
        stats.append((r, nv, ne, ne * 1_000_000 // nv))
        keep = deg.filter(F.col("deg") * nv > 3 * ne).select("v")
        edges = (
            edges.join(keep.select(F.col("v").alias("s")), "s")
            .join(keep.select(F.col("v").alias("d")), "d")
            .select("s", "d")
            .localCheckpoint(eager=True)
        )
    else:  # pragma: no cover
        raise AssertionError("densest-subgraph runaway: 64 rounds")
    best = max(stats, key=lambda t: (t[3], -t[0]))
    return spark.createDataFrame(
        [(best[0], best[1], best[2], best[3], len(stats), converged)],
        "best_round int, n_vertices long, n_edges long, density_ppm long, "
        "rounds_total long, converged boolean",
    )


# Newman modularity in EXACT integers: Q = (1/4m^2) * sum_c (4m*e_c - d_c^2)
# — the scaled sum is a BIGINT, so the partition-quality DECISION is inside
# the hash and Q itself is one shared division.
_MOD_Q = (
    "CAST(q_scaled AS DOUBLE)"
    " / (4.0 * CAST(m_edges AS DOUBLE) * CAST(m_edges AS DOUBLE))"
)


@query(
    "graph_modularity_score",
    oracle=f"""
    WITH {_LPA_PAIRS},
    l0 AS (SELECT DISTINCT s AS node, s AS label FROM sym),
    {','.join(_lpa_round(f'l{i}', f'l{i + 1}') for i in range(_LPA_ROUNDS))},
    lab AS (SELECT node, label FROM l{_LPA_ROUNDS}),
    e AS (SELECT s, d FROM pairs),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM e),
    ec AS (
        SELECT la.label, CAST(count(*) AS BIGINT) AS e_c
        FROM e JOIN lab la ON la.node = e.s
        JOIN lab lb ON lb.node = e.d
        WHERE la.label = lb.label GROUP BY la.label
    ),
    deg AS (SELECT s AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY s),
    dc AS (
        SELECT la.label, CAST(sum(deg.deg) AS BIGINT) AS d_c
        FROM deg JOIN lab la ON la.node = deg.node GROUP BY la.label
    ),
    terms AS (
        SELECT dc.label,
               4 * m.m_edges * coalesce(ec.e_c, 0) - dc.d_c * dc.d_c AS t
        FROM dc LEFT JOIN ec ON ec.label = dc.label CROSS JOIN m
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM dc) AS n_communities,
           m.m_edges,
           CAST(sum(t.t) AS BIGINT) AS q_scaled,
           round({_MOD_Q}, 6) AS modularity
    FROM terms t CROSS JOIN m
    GROUP BY m.m_edges
    """,
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (2004) of the LPA community partition over the
    edit-distance-1 name graph — the partition-quality number every
    community-detection run is judged by (Q > 0.3 is the folk threshold
    for 'real structure'). Completes the community stack: LPA finds the
    partition (hash-green), modularity SCORES it.

    Exactness: Q = (1/4m²)·Σ_c (4m·e_c − d_c²), so the scaled sum is an
    exact BIGINT over within-community edge counts and degree sums — the
    quality DECISION hash-matches; Q is one shared division. The oracle
    replays the same 3 unrolled LPA rounds, so label assignment and
    score are checked together.

    Scale shape: two label joins onto the edge list + two combinable
    aggregates — the LPA round cost, once more. Output is 1 row.
    """
    from .text import fuzzy_join_del1

    labels = graph_lpa_communities(spark, sf_dir).select(
        F.col("name").alias("node"), F.col("community").alias("label")
    ).localCheckpoint(eager=True)  # two label joins + community rollups
    edges = (
        fuzzy_join_del1(spark, sf_dir)
        .select(F.col("name_a").alias("s"), F.col("name_b").alias("d"))
        .localCheckpoint(eager=True)
    )
    m = edges.count()
    ec = (
        edges.join(labels.select(F.col("node").alias("s"), F.col("label").alias("la")), "s")
        .join(labels.select(F.col("node").alias("d"), F.col("label").alias("lb")), "d")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    deg = (
        edges.select(F.col("s").alias("node"))
        .unionAll(edges.select(F.col("d").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    dc = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(F.sum("deg").cast("long").alias("d_c"))
    )
    terms = dc.join(ec, "label", "left").select(
        (
            4 * F.lit(m) * F.coalesce(F.col("e_c"), F.lit(0))
            - F.col("d_c") * F.col("d_c")
        ).alias("t")
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.lit(m).cast("long").alias("m_edges"),
        F.sum("t").cast("long").alias("q_scaled"),
    ).selectExpr(
        "n_communities", "m_edges", "q_scaled",
        f"round({_MOD_Q}, 6) AS modularity",
    )
