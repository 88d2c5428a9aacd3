"""Regression guards for the eager-materialization policy.

Round 3 shipped a recompute blowup: a ``localCheckpoint(eager=False)``
plan fanning out to several consumers inside ONE job gives no
single-materialization guarantee — tasks race and each branch recomputes
the (expensive) upstream derivation. ``dedup_ngram_jaccard`` went 3.4s →
12.7-30s from exactly this. Two guards:

1. a mechanism test pinning the Spark behavior the fix relies on — an
   eagerly checkpointed plan is computed exactly once even when the
   downstream job reads it through multiple branches;
2. a source lint forbidding lazy checkpoints anywhere in the engine
   (every call site in this repo fans out or iterates; eager is always
   the correct default here).

A third lint keeps tuning knobs out of the operators: no environment
reads under ``operators/`` or ``functions/``. A fourth keeps session policy
at one boundary: only ``session.py`` (the definition) and ``registry.py``
(the one call, in every registered query) mention ``ensure_confs``.
"""

from __future__ import annotations

import pathlib
import re

import pandas as pd
from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parents[1] / "etl_cotrip_signs_spark"


def test_no_lazy_local_checkpoints_in_engine():
    """Policy lint: `.localCheckpoint(eager=False)` must not appear in the
    engine source (docstrings may mention it; call sites may not)."""
    pat = re.compile(r"localCheckpoint\(\s*eager\s*=\s*False")
    offenders = [
        str(p)
        for p in PKG.rglob("*.py")
        if pat.search(p.read_text(encoding="utf-8"))
    ]
    assert offenders == [], f"lazy localCheckpoint at: {offenders}"


def test_no_environment_knobs_in_operators_or_functions():
    """Policy lint: no module under ``operators/`` or ``functions/`` reads
    ``os.environ`` or ``os.getenv``. Tuning constants live in
    ``session.py`` (e.g. ``BROADCAST_MAX_BYTES``), not in per-operator
    environment variables."""
    pat = re.compile(r"\benviron\b|\bgetenv\b")
    offenders = [
        str(p)
        for sub in ("operators", "functions")
        for p in (PKG / sub).rglob("*.py")
        if pat.search(p.read_text(encoding="utf-8"))
    ]
    assert offenders == [], f"environment reads at: {offenders}"


def test_session_confs_applied_only_at_the_registry():
    """Policy lint: ``ensure_confs`` is defined in ``session.py`` and called
    only by ``registry.query``'s wrapper; no loader or operator re-applies
    session confs (which would override a caller's own settings)."""
    mentions = sorted(
        str(p.relative_to(PKG))
        for p in PKG.rglob("*.py")
        if "ensure_confs" in p.read_text(encoding="utf-8")
    )
    assert mentions == ["registry.py", "session.py"], mentions


def test_eager_checkpoint_single_materialization(spark):
    """An eager localCheckpoint computes its input exactly once, even when
    the first consuming job fans out into multiple branches over it.

    The expensive derivation is simulated by a pandas UDF that bumps an
    accumulator per input row; the fan-out is a two-branch union consumed
    by a single count job. n rows in, exactly n accumulator ticks —
    a lazy checkpoint here races and ticks ~2n (the round-3 bug class).
    """
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def tick(s: pd.Series) -> pd.Series:
        acc.add(len(s))
        return s

    n = 1000
    base = (
        spark.range(n)
        .repartition(8)
        .select(F.col("id"), tick(F.col("id")).alias("t"))
        .localCheckpoint(eager=True)
    )
    # two branches over the checkpointed plan, consumed in ONE job
    fanout = base.select((F.col("t") * 2).alias("v")).union(
        base.select((F.col("t") + 1).alias("v"))
    )
    assert fanout.count() == 2 * n
    assert acc.value == n, (
        f"expected single materialization ({n} ticks), got {acc.value}"
    )
