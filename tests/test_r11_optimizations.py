"""Focused pins for the round-11 optimization rework.

Each test pins an operator-internal equivalence or plan property a round-11
change relies on:

- literal-array helpers: one-parse array literals must round-trip doubles
  and longs bit-exactly (join_bloom_pruned's bitmap and every k-means/PQ
  codebook now build through them);
- ppjoin prefix self-join: the r11 prefix materialization is only safe
  because the size-gated broadcast hint preserves the join strategy the
  r10 bare-checkpoint experiment lost (broadcast -> shuffle, 0.80 -> 3.63
  on the 10x density probe) — pinned scoped to the candidate join;
- random-walk fused chain: the single linear plan's exploded visit
  multiset must equal the per-step definition (one independent replay at
  sf0.001);
- connected-components one-aggregate round: covered by the union-find
  reference tests in test_graph.py (same helper).
"""

from __future__ import annotations

import re
import sys

import pytest

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from etl_cotrip_signs_spark import registry
from etl_cotrip_signs_spark.plans.explain import formatted_plan

registry.load_all()

SF_SMALL = "/root/testdata/sf0.001"


def test_literal_array_helpers_round_trip_exactly(spark):
    from pyspark.sql import functions as F

    from etl_cotrip_signs_spark.functions.vectors import (
        lit_double_array,
        lit_long_array,
    )

    doubles = [0.1, -2.5, 1e-07, 3.141592653589793, 5e300, -0.0, 2.0**-52]
    longs = [0, 1, -1, (1 << 63) - 1, -(1 << 63), 42]
    row = spark.range(1).select(
        lit_double_array(doubles).alias("d"), lit_long_array(longs).alias("l")
    ).first()
    assert list(row["l"]) == longs
    import struct

    for got, want in zip(row["d"], doubles):
        # bit-exact, including -0.0 (== compares equal to 0.0)
        assert struct.pack("<d", got) == struct.pack("<d", want)
    # No literal for these: `array()` is array<void>, `nanD` does not parse.
    for bad in ([], [1.0, float("nan")], [float("inf")], [-float("inf"), 2.0]):
        with pytest.raises(ValueError, match="non-empty, finite"):
            lit_double_array(bad)
    with pytest.raises(ValueError, match="non-empty, finite"):
        lit_long_array([])


def _join_blocks(plan: str, key_marker: str) -> list[str]:
    return [
        b
        for b in re.split(r"\n\(\d+\) ", plan)
        if "Join" in b.split("\n", 1)[0] and key_marker in b
    ]


def test_ppjoin_candidate_join_stays_broadcast(spark):
    """The ppjoin candidate self-join must stay a broadcast join. Both
    materialization attempts (r10 bare checkpoint, r11 checkpoint +
    size-gated hint) were probe-condemned and the INLINE form kept — its
    broadcast planning rides the inline plan's statistics, so any future
    materialization that loses them (or a stats regression) trips here
    before it reaches a bench. Scoped to the join carrying the prefix
    na/nb size columns."""
    df = registry.QUERIES["dedup_ppjoin_prefix"](spark, SF_SMALL)
    plan = formatted_plan(df)
    blocks = [
        b
        for b in re.split(r"\n\(\d+\) ", plan)
        if "Join" in b.split("\n", 1)[0] and "na" in b and "nb" in b
    ]
    assert blocks, plan  # the candidate join must exist
    for b in blocks:
        assert b.split("\n", 1)[0].startswith("BroadcastHashJoin"), b


def test_random_walk_fused_chain_matches_stepwise_replay(spark):
    """The fused 4-join walk plan must visit exactly the nodes the
    per-step (checkpoint-per-step) definition visits — replayed here
    independently with the same hash rule."""
    from pyspark.sql import functions as F

    from etl_cotrip_signs_spark.operators import graph as G

    got = {
        (r["node"], r["n_visits"])
        for r in registry.QUERIES["graph_random_walk_xxh"](
            spark, SF_SMALL
        ).collect()
    }

    sym = G._msf_sym_edges(spark, SF_SMALL)
    from pyspark.sql import Window

    adj = sym.select(
        "u",
        "v",
        (F.row_number().over(Window.partitionBy("u").orderBy("v")) - 1).alias(
            "idx"
        ),
        F.count(F.lit(1)).over(Window.partitionBy("u")).alias("deg"),
    ).localCheckpoint(eager=True)
    pts = G._msf_points(spark, SF_SMALL)
    state = pts.select(F.col("id").alias("walker"), F.col("id").alias("cur"))
    visits = []
    for t in range(1, G._WALK_STEPS + 1):
        nxt = (
            state.withColumn(
                "h",
                F.xxhash64(F.lit(f"walk:{t}"), F.col("walker"), F.col("cur")),
            )
            .join(adj, F.col("cur") == F.col("u"))
            .filter(F.pmod(F.col("h"), F.col("deg")) == F.col("idx"))
            .select("walker", F.col("v").alias("cur"))
        )
        state = nxt.localCheckpoint(eager=True)
        visits.append(state.select("cur"))
    out = visits[0]
    for vdf in visits[1:]:
        out = out.unionAll(vdf)
    want = {
        (r["node"], r["n_visits"])
        for r in out.groupBy(F.col("cur").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_visits"))
        .collect()
    }
    assert got == want and got
