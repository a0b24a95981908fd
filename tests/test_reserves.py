"""Milestone-0 acceptance (SURVEY §5.2-2): analytic tolerance, seed
reproducibility, partition invariance, and the CSV contract."""

from __future__ import annotations

import math

import numpy as np
import pytest

from actuarial_reserve_modelling_spark.catalog import read_policies_csv
from actuarial_reserve_modelling_spark.functions.reserves import (
    CLAIM_INTERVAL,
    analytic_moments,
    simulate_reserves,
    total_reserves,
)

from .conftest import write_policy_csvs

N_TRIALS = 2_000  # enough for a tight CI at test speed; bench uses 10_000


@pytest.fixture(scope="module")
def policies_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("policies")
    return write_policy_csvs(d)


def test_total_matches_analytic_mean(spark, policies_dir):
    path, terms = policies_dir
    df = read_policies_csv(spark, path)
    total = total_reserves(df, n_trials=N_TRIALS).collect()[0]["total_reserves"]
    mean, var = analytic_moments(terms)
    # estimator sigma = sqrt(Var(per-trial portfolio sum) / N)
    sigma = math.sqrt(var / N_TRIALS)
    assert abs(total - mean) < 5 * sigma, (total, mean, sigma)


def test_seed_reproducibility(spark, policies_dir):
    path, _ = policies_dir
    df = read_policies_csv(spark, path)
    a = total_reserves(df, n_trials=200, seed=7).collect()[0][0]
    b = total_reserves(df, n_trials=200, seed=7).collect()[0][0]
    c = total_reserves(df, n_trials=200, seed=8).collect()[0][0]
    assert a == b
    assert a != c


def test_partition_invariance(spark, policies_dir):
    """The reference's 2/5/10-worker invariant (test-*-workers.json),
    which thread_rng() (main.rs:67) silently violates — ours holds."""
    path, _ = policies_dir
    df = read_policies_csv(spark, path)
    a = total_reserves(df.repartition(2), n_trials=200).collect()[0][0]
    b = total_reserves(df.repartition(10), n_trials=200).collect()[0][0]
    assert a == b


def test_per_policy_schema_and_determinism(spark, policies_dir):
    path, _ = policies_dir
    df = read_policies_csv(spark, path)
    res = simulate_reserves(df, n_trials=100)
    assert [f.name for f in res.schema.fields] == ["id", "mean_reserve"]
    rows = {r["id"]: r["mean_reserve"] for r in res.collect()}
    rows2 = {r["id"]: r["mean_reserve"] for r in simulate_reserves(df, n_trials=100).collect()}
    assert rows == rows2
    assert len(rows) == 200


def test_csv_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(
        "id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium\n"
        "P1,notanumber,M,s,o,t,2020-01-01,alsobad,x\n"
    )
    df = read_policies_csv(spark, str(p))
    with pytest.raises(Exception):
        df.collect()


def test_sql_mc_matches_analytic_and_invariant(spark, policies_dir):
    """The pure-JVM Monte Carlo (simulate_reserves_sql) passes the same
    gates as the Arrow kernel: analytic tolerance, seed determinism,
    partition invariance."""
    from pyspark.sql import functions as F

    from actuarial_reserve_modelling_spark.functions.reserves import (
        simulate_reserves_sql,
    )

    path, terms = policies_dir
    df = read_policies_csv(spark, path)
    total = (
        simulate_reserves_sql(df, n_trials=N_TRIALS)
        .agg(F.sum(F.col("mean_reserve").cast("decimal(38,12)")).cast("double"))
        .collect()[0][0]
    )
    mean, var = analytic_moments(terms)
    sigma = math.sqrt(var / N_TRIALS)
    assert abs(total - mean) < 5 * sigma, (total, mean, sigma)

    a = sorted(simulate_reserves_sql(df.repartition(2), n_trials=100, seed=7).collect())
    b = sorted(simulate_reserves_sql(df.repartition(10), n_trials=100, seed=7).collect())
    c = sorted(simulate_reserves_sql(df.repartition(2), n_trials=100, seed=8).collect())
    assert a == b
    assert a != c


def test_risk_measures_clt_tolerance_and_ordering(spark, policies_dir):
    """VaR/TVaR from the trial distribution: p95/p99 within CLT
    tolerance of the analytic normal approximation, and the ordering
    invariants (TVaR >= VaR, p99 >= p95) hold."""
    import math as m

    from actuarial_reserve_modelling_spark.functions.reserves import (
        reserve_risk_measures,
    )

    path, terms = policies_dir
    df = read_policies_csv(spark, path)
    rows = {
        r["q"]: r
        for r in reserve_risk_measures(df, n_trials=N_TRIALS, seed=42).collect()
    }
    mean, var = analytic_moments(terms)
    sigma = m.sqrt(var)
    for q, z in ((0.95, 1.6449), (0.99, 2.3263)):
        got = rows[q]["var_value"]
        approx = mean + z * sigma
        assert abs(got - approx) < 0.8 * sigma, (q, got, approx, sigma)
        assert rows[q]["tvar_value"] >= rows[q]["var_value"]
    assert rows[0.99]["var_value"] >= rows[0.95]["var_value"]


@pytest.mark.parametrize("term", [120.0, 365.0, 5 * 365.0, 30 * 365.0])
def test_claim_count_negative_binomial_identity(term):
    """The law the kernel relies on, checked in plain numpy: the sum of
    n floor(Exp(mean=β)) claim counts and one NegativeBinomial(n, p)
    draw, p = 1 - exp(-1/β), have the same mean n·q/(1-q) and variance
    n·q/(1-q)² (q = 1 - p). Every comparison holds within 5 standard
    errors of the statistic being compared."""
    n, reps = 250, 4000
    beta = term / CLAIM_INTERVAL
    p = -np.expm1(-1.0 / beta)
    q = 1.0 - p
    rng = np.random.default_rng(2024)
    nb = rng.negative_binomial(n, p, reps).astype("float64")
    geo = np.floor(rng.exponential(beta, (reps, n))).sum(axis=1)

    mean, var = n * q / p, n * q / p**2
    # sampling sd of a mean and of a variance over `reps` draws; the
    # variance one uses NegativeBinomial's excess kurtosis 6/n + p²/(n·q)
    se_mean = math.sqrt(var / reps)
    kurt = 6.0 / n + p**2 / (n * q)
    se_var = var * math.sqrt(2.0 / (reps - 1) + kurt / reps)
    for sample in (nb, geo):
        assert abs(sample.mean() - mean) < 5 * se_mean, (term, sample.mean(), mean)
        assert abs(sample.var(ddof=1) - var) < 5 * se_var, (term, sample.var(ddof=1), var)
    assert abs(nb.mean() - geo.mean()) < 5 * math.sqrt(2) * se_mean
    assert abs(nb.var(ddof=1) - geo.var(ddof=1)) < 5 * math.sqrt(2) * se_var


def test_edge_terms(spark):
    """term = 0 has no claims, so a zero reserve; a negative or null
    term is an invalid claim law and fails the task loudly."""
    zero = spark.createDataFrame([("z", 0.0)], "id string, term double")
    assert simulate_reserves(zero, n_trials=100).collect()[0]["mean_reserve"] == 0.0
    for bad in (-365.0, None):
        df = spark.createDataFrame([("b", bad)], "id string, term double")
        with pytest.raises(Exception, match="p <= 0"):
            simulate_reserves(df, n_trials=100).collect()
