"""Independent pins for the stats3 batch: Mann-Whitney U against
scipy-free direct rank computation, Spearman against numpy Pearson on
midranks, the sign-flip permutation against a plain python replay of the
xxhash64 flips (via the pure-python reference), and cross-correlation
against numpy corrcoef — the third-implementation discipline (DuckDB
oracle = second engine, these = third formulation)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from etl_cotrip_signs_spark import registry
from etl_cotrip_signs_spark.functions.xxh64_ref import xxh64
from etl_cotrip_signs_spark.functions.xxh64_sql import chain_seed
from etl_cotrip_signs_spark.operators.stats3 import (
    events_cross_correlation,
    stat_mann_whitney_u,
    stat_signflip_permutation,
    stat_spearman_rank,
)

from .conftest import SF_SMALL
from .oracle_compare import compare, run_oracle


@pytest.fixture(scope="module")
def events_pdf():
    return pd.read_parquet(f"{SF_SMALL}/events.parquet")


def _midranks(x: np.ndarray) -> np.ndarray:
    """Classic average-rank computation (1-based), independent of the
    doubled-midrank window formulation under test."""
    order = np.argsort(x, kind="stable")
    ranks = np.empty(len(x), dtype=float)
    sx = x[order]
    i = 0
    while i < len(sx):
        j = i
        while j < len(sx) and sx[j] == sx[i]:
            j += 1
        ranks[order[i:j]] = (i + 1 + j) / 2  # mean of ranks i+1..j
        i = j
    return ranks


def test_mann_whitney_matches_direct_ranks(spark, events_pdf):
    row = stat_mann_whitney_u(spark, SF_SMALL).toPandas().iloc[0]
    ev = events_pdf[events_pdf.event_type.isin(["purchase", "click"])]
    x = np.floor(ev.value.to_numpy() * 1000).astype(np.int64)
    is_a = (ev.event_type == "purchase").to_numpy()
    ranks = _midranks(x)
    na, nb = int(is_a.sum()), int((~is_a).sum())
    r_a = ranks[is_a].sum()
    u_a = r_a - na * (na + 1) / 2
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["u2_a"] == pytest.approx(2 * u_a)
    assert row["u2_a"] + row["u2_b"] == 2 * na * nb
    # z against the direct tie-corrected formula
    _, counts = np.unique(x, return_counts=True)
    tt = int((counts.astype(object) ** 3 - counts).sum())
    assert row["tt"] == tt
    n = na + nb
    sigma2 = na * nb / 12 * ((n + 1) - tt / (n * (n - 1)))
    z = (u_a - na * nb / 2) / np.sqrt(sigma2)
    assert abs(row["z_stat"] - z) < 1e-9


def test_spearman_matches_numpy_on_midranks(spark):
    out = stat_spearman_rank(spark, SF_SMALL).toPandas()
    li = pd.read_parquet(f"{SF_SMALL}/lineitem.parquet")
    assert len(out) == 3
    for _, r in out.iterrows():
        g = li[li.l_returnflag == r["l_returnflag"]]
        rx = _midranks(g.l_quantity.to_numpy().astype(np.int64))
        ry = _midranks(np.floor(g.l_extendedprice.to_numpy() * 100).astype(np.int64))
        rho = np.corrcoef(rx, ry)[0, 1]
        assert abs(r["rho"] - rho) < 1e-9
        assert r["n"] == len(g)


def test_signflip_matches_python_replay(spark, events_pdf):
    row = stat_signflip_permutation(spark, SF_SMALL).toPandas().iloc[0]
    ev = events_pdf[events_pdf.event_type.isin(["purchase", "click"])]
    x = np.floor(ev.value.to_numpy() * 1000).astype(np.int64)
    sd = np.where((ev.event_type == "purchase").to_numpy(), x, -x)
    diffs = pd.DataFrame({"u": ev.user_id.to_numpy(), "d": sd}).groupby("u")["d"].sum()
    t_obs = int(diffs.sum())
    assert row["t_obs_milli"] == t_obs
    assert row["n_users"] == len(diffs)
    seed = chain_seed("sf")
    reps = []
    for b in range(64):
        t = 0
        for u, d in diffs.items():
            key = int(u) * 64 + b
            h = xxh64(int(key).to_bytes(8, "little", signed=False), seed)
            sign = 1 if h < 1 << 63 else -1  # unsigned MSB == signed >= 0
            t += sign * int(d)
        reps.append(t)
    assert row["t_rep_min"] == min(reps)
    assert row["t_rep_max"] == max(reps)
    assert row["n_as_extreme"] == sum(abs(t) >= abs(t_obs) for t in reps)
    assert row["n_replicates"] == 64


def test_cross_correlation_matches_numpy(spark, events_pdf):
    out = events_cross_correlation(spark, SF_SMALL).toPandas()
    ev = events_pdf.copy()
    ev["day"] = (ev.ts.dt.floor("D") - pd.Timestamp("1970-01-01")).dt.days
    x = np.floor(ev.value.to_numpy() * 1000).astype(np.int64)
    a = (
        pd.Series(np.where(ev.event_type == "purchase", x, 0), index=ev.day)
        .groupby(level=0)
        .sum()
    )
    b = (
        pd.Series(np.where(ev.event_type == "click", 1, 0), index=ev.day)
        .groupby(level=0)
        .sum()
    )
    days = set(a.index)
    assert len(out) == 15
    for _, r in out.iterrows():
        lag = int(r["lag_days"])
        pairs = [(a[d], b[d + lag]) for d in days if d + lag in days]
        av = np.array([p[0] for p in pairs], dtype=float)
        bv = np.array([p[1] for p in pairs], dtype=float)
        assert r["n_pairs"] == len(pairs)
        assert abs(r["corr_ab"] - np.corrcoef(av, bv)[0, 1]) < 1e-9
    # lag 0 pairs every day with itself: maximal support
    assert out.loc[out.lag_days == 0, "n_pairs"].iloc[0] == len(days)


def test_wilcoxon_matches_direct_ranks(spark, events_pdf):
    from etl_cotrip_signs_spark.operators.stats3 import stat_wilcoxon_signed_rank

    row = stat_wilcoxon_signed_rank(spark, SF_SMALL).toPandas().iloc[0]
    ev = events_pdf[events_pdf.event_type.isin(["purchase", "click"])]
    x = np.floor(ev.value.to_numpy() * 1000).astype(np.int64)
    sd = np.where((ev.event_type == "purchase").to_numpy(), x, -x)
    d = (
        pd.DataFrame({"u": ev.user_id.to_numpy(), "d": sd})
        .groupby("u")["d"]
        .sum()
        .to_numpy()
    )
    d = d[d != 0]
    ranks = _midranks(np.abs(d))
    n = len(d)
    w_plus = ranks[d > 0].sum()
    _, counts = np.unique(np.abs(d), return_counts=True)
    tt = int((counts.astype(object) ** 3 - counts).sum())
    assert row["n"] == n
    assert row["n_pos"] == int((d > 0).sum())
    assert row["w2p"] == pytest.approx(2 * w_plus)
    assert row["tt"] == tt
    z = (w_plus - n * (n + 1) / 4) / np.sqrt(
        n * (n + 1) * (2 * n + 1) / 24 - tt / 48
    )
    assert abs(row["z_stat"] - z) < 1e-9


def test_kruskal_wallis_matches_direct_ranks(spark, events_pdf):
    from etl_cotrip_signs_spark.operators.stats3 import (
        _ETYPES,
        stat_kruskal_wallis,
    )

    row = stat_kruskal_wallis(spark, SF_SMALL).toPandas().iloc[0]
    x = np.floor(events_pdf.value.to_numpy() * 1000).astype(np.int64)
    groups = events_pdf.event_type.to_numpy()
    ranks = _midranks(x)
    n = len(x)
    _, counts = np.unique(x, return_counts=True)
    tt = int((counts.astype(object) ** 3 - counts).sum())
    assert row["n"] == n and row["tt"] == tt
    h = 0.0
    for j, t in enumerate(_ETYPES, 1):
        sel = groups == t
        nj = int(sel.sum())
        rj = ranks[sel].sum()
        assert row[f"n{j}"] == nj
        assert row[f"r{j}"] == pytest.approx(2 * rj)
        h += rj * rj / nj
    h = 12 / (n * (n + 1)) * h - 3 * (n + 1)
    assert abs(row["h_stat"] - h) < 1e-9
    assert abs(row["h_tie_corrected"] - h / (1 - tt / (n**3 - n))) < 1e-9


def test_anova_oneway_matches_direct_moments(spark, events_pdf):
    from etl_cotrip_signs_spark.operators.stats3 import (
        _ETYPES,
        stat_anova_oneway,
    )

    row = stat_anova_oneway(spark, SF_SMALL).toPandas().iloc[0]
    x = np.floor(events_pdf.value.to_numpy() * 1000).astype(np.int64)
    groups = events_pdf.event_type.to_numpy()
    n = len(x)
    k = len(_ETYPES)
    assert row["n"] == n
    assert row["st"] == int(x.sum())
    assert row["qt"] == int((x.astype(object) ** 2).sum())
    grand_mean = x.mean()
    ssb = ssw = 0.0
    for j, t in enumerate(_ETYPES, 1):
        g = x[groups == t]
        assert row[f"n{j}"] == len(g)
        assert row[f"s{j}"] == int(g.sum())
        ssb += len(g) * (g.mean() - grand_mean) ** 2
        ssw += ((g - g.mean()) ** 2).sum()
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(row["f_stat"] - f) < 1e-6 * max(1.0, abs(f))
    assert abs(row["eta_squared"] - ssb / (ssb + ssw)) < 1e-9


def test_bootstrap_ci_without_purchases_matches_oracle(spark, tmp_path):
    """An events table with no purchase rows: n_users is 0 and the means
    NULL on both engines, and ANSI DIV by n_users = 0 does not raise."""
    for t in os.listdir(SF_SMALL):
        if t != "events.parquet":
            os.symlink(f"{SF_SMALL}/{t}", tmp_path / t)
    events = pq.read_table(f"{SF_SMALL}/events.parquet")
    pq.write_table(events.slice(0, 0), tmp_path / "events.parquet")
    sf_dir = str(tmp_path)
    df = registry.QUERIES["stat_bootstrap_ci"](spark, sf_dir)
    oracle = run_oracle(registry.oracle_for("stat_bootstrap_ci", sf_dir), sf_dir)
    assert oracle["n_users"].tolist() == [0]
    assert compare(df, oracle) == []
