"""U1 — the stochastic reserve kernel (SURVEY.md §2.4).

Reference semantics (docker_files/src/main.rs:62-80): for each of
NUM_SIMULATIONS=10_000 trials (main.rs:10,63) and each policy (main.rs:65)
draw ``x ~ Exponential(mean = term/365)`` (main.rs:11,67), take
``n = floor(x)`` claims (main.rs:70), add ``n`` i.i.d. ``Normal(100,10)``
amounts (main.rs:71-72); the per-file output is the mean over trials of
the portfolio sum (main.rs:75,80); the Lambda then sums the per-file
means (lambda_code/calculate_average_reserves.py:27-33).

Spark-first differences (deliberate, SURVEY §4.3-1):

* **Deterministic, repartition-invariant RNG.** The reference uses
  ``thread_rng()`` (main.rs:67,71) — nondeterministic run to run. We seed
  per *row* as ``sha256(seed, policy_id)`` so results are identical under
  any partitioning or task retry — never ``seed(partition_id)``.
* **Arrow-vectorized kernel.** ``mapInPandas`` over columnar batches
  instead of a per-row struct loop. Column pruning to (id, term) happens
  before the kernel so the scan reads 2 of 9 columns (the reference
  reads all 9, main.rs:51).
* **Two exact distributional identities replace the trial loop.**
  ``floor(Exp(mean=β))`` is Geometric on {0,1,…} with success
  probability ``p = 1 − e^{−1/β}``, so the claim count summed over all
  trials is one ``NegativeBinomial(n_trials, p)`` draw; and a sum of
  ``n`` i.i.d. ``Normal(μ,σ²)`` claims is one ``Normal(nμ, nσ²)`` draw.
  By default each policy costs two RNG calls instead of the reference's
  ~n_trials·(1 + E[n]) (E[n] = claims per trial), with an output
  identical in distribution to main.rs:62-80.
* **Partial+final aggregation is Spark's own.** The worker-mean /
  Lambda-sum split (SURVEY §2.5 A3) is exactly
  ``HashAggregate(partial) → Exchange → HashAggregate(final)``.

At 100 TB: the kernel is a narrow map — no shuffle until the final
single-row aggregate, whose exchange moves one double per task. Scales
linearly with input splits; skew-free (cost is ~uniform per row).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUM_SIMULATIONS = 10_000  # main.rs:10
CLAIM_INTERVAL = 365.0  # main.rs:11
MEAN_CLAIM = 100.0  # main.rs:71
STD_CLAIM = 10.0  # main.rs:71

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("mean_reserve", T.DoubleType(), True),
    ]
)


def row_seed(seed: int, policy_id: str) -> int:
    """Stable 64-bit per-row seed: depends only on (global seed, id).

    Survives repartitioning, task retry, and worker-count changes — the
    invariance the reference never had (its 2/5/10-worker runs disagree).
    """
    digest = hashlib.sha256(f"{seed}|{policy_id}".encode()).digest()
    return int.from_bytes(digest[:8], "little")


def simulate_reserves(
    policies: DataFrame,
    n_trials: int = NUM_SIMULATIONS,
    seed: int = 42,
    mean_claim: float = MEAN_CLAIM,
    std_claim: float = STD_CLAIM,
    claim_interval: float = CLAIM_INTERVAL,
    exact_claims: bool = False,
) -> DataFrame:
    """Per-policy expected reserve over ``n_trials`` Monte Carlo trials.

    Input needs columns ``id: string`` and ``term: double`` (days).
    Returns ``(id, mean_reserve)``. Mean over trials of the per-trial
    claim total — the same estimator as main.rs:75,80 restated per policy
    (sum over policies is taken by the caller, so partial aggregation
    stays map-side).

    Two exact distributional identities stand in for the reference's
    loops, so the output is *identical in distribution* to main.rs:62-80:

    * claim counts: ``floor(Exp(mean=β))`` with ``β = term/claim_interval``
      is Geometric with ``p = 1 − e^{−1/β}``, and a sum of ``n_trials``
      i.i.d. Geometrics is ``NegativeBinomial(n_trials, p)`` — one draw
      replaces the n_trials exponentials (main.rs:67,70);
    * claim amounts: ``Σ_{j=1..n} N(μ,σ²) ≡ N(n·μ, n·σ²)`` — one Normal
      draw replaces the n individual claim draws (main.rs:71-73).

    That is 2 RNG calls per policy instead of the reference's
    ~n_trials·(1 + E[n]) (E[n] = claims per trial). ``exact_claims=True``
    keeps the claim-by-claim Normal draws for procedural parity of the
    amounts.

    ``term = 0`` gives a zero reserve; a negative or null term raises.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].astype(str).to_numpy()
            terms = pdf["term"].to_numpy(dtype="float64")
            # floor(Exp(mean=term/interval)) (main.rs:67,70) is Geometric
            # with success probability p = 1 - exp(-interval/term); term = 0
            # gives p = 1 (no claims) without a divide warning, and a
            # negative or null term gives an invalid p that numpy rejects
            with np.errstate(divide="ignore"):
                ps = -np.expm1(-claim_interval / terms)
            out = np.empty(len(ids), dtype="float64")
            for i in range(len(ids)):
                rng = np.random.default_rng(row_seed(seed, ids[i]))
                # total claims across all trials: a sum of n_trials
                # Geometrics is NegativeBinomial(n_trials, p)
                n_claims = int(rng.negative_binomial(n_trials, ps[i]))
                if exact_claims:
                    total = rng.normal(mean_claim, std_claim, n_claims).sum()
                else:
                    total = rng.normal(
                        n_claims * mean_claim, math.sqrt(n_claims) * std_claim
                    ) if n_claims > 0 else 0.0
                out[i] = total / n_trials  # mean over trials (main.rs:80)
            yield pd.DataFrame({"id": ids, "mean_reserve": out})

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    # Monte Carlo cost is ~n_trials draws per row — thousands of
    # CPU-seconds per MB of input — so spread even tiny portfolios
    src = spread_for_kernel(policies.select("id", "term"), bytes_per_task=4096)
    return src.mapInPandas(kernel, schema=_RESULT_SCHEMA)


def total_reserves(policies: DataFrame, n_trials: int = NUM_SIMULATIONS, seed: int = 42) -> DataFrame:
    """The reference's one end-to-end answer: total portfolio reserves.

    ``scan → project(id, term) → mapInPandas(kernel) → sum`` — the whole
    of entrypoint.sh + main.rs + the Lambda as one declarative plan
    (SURVEY §3.1-3.3).

    The final sum goes through decimal(38,12): float addition is not
    associative, so a double sum differs at the last ULP across
    partitionings; exact decimal accumulation makes the total
    bit-identical for any worker count (the invariant the reference's
    2/5/10-worker runs can't keep).
    """
    return simulate_reserves(policies, n_trials=n_trials, seed=seed).agg(
        F.sum(F.col("mean_reserve").cast("decimal(38,12)"))
        .cast("double")
        .alias("total_reserves")
    )


def expected_reserve_column(term_col):
    """Closed-form E[reserve] = 100 / (exp(365/term) - 1) (SURVEY §2.4).

    Built-in-function column expression (JVM-side, codegen'd): the
    deterministic U2 companion of the stochastic kernel, and the analytic
    oracle the tests check the simulation against.
    """
    return MEAN_CLAIM / (F.exp(F.lit(CLAIM_INTERVAL) / term_col) - F.lit(1.0))


def analytic_moments(terms: np.ndarray) -> tuple[float, float]:
    """(mean, variance) of the per-trial portfolio reserve, closed form.

    n = floor(Exp(mean=β)) is geometric with q = exp(-1/β):
    E[n] = q/(1-q), Var(n) = q/(1-q)^2. Compound with Normal(μ,σ):
    E[R] = μ·E[n]; Var(R) = E[n]·σ² + Var(n)·μ².
    """
    beta = np.asarray(terms, dtype="float64") / CLAIM_INTERVAL
    q = np.exp(-1.0 / beta)
    e_n = q / (1.0 - q)
    var_n = q / (1.0 - q) ** 2
    mean = float((MEAN_CLAIM * e_n).sum())
    var = float((e_n * STD_CLAIM**2 + var_n * MEAN_CLAIM**2).sum())
    return mean, var

def simulate_reserves_sql(
    policies: DataFrame,
    n_trials: int = NUM_SIMULATIONS,
    seed: int = 42,
    mean_claim: float = MEAN_CLAIM,
    std_claim: float = STD_CLAIM,
    claim_interval: float = CLAIM_INTERVAL,
) -> DataFrame:
    """The Monte Carlo kernel with zero Python: hash-derived uniforms +
    inverse-transform / Box-Muller sampling as built-in column
    expressions, whole-stage-codegen end to end.

    Per (policy, trial), three independent U(0,1) draws come from
    ``xxhash64(id, trial, salt)`` → top 53 bits → (0,1). Exponential via
    ``-mean·ln(u)``, claim count ``n = floor(x)`` (main.rs:70), per-trial
    claim total via the same distributional identity as the Arrow kernel
    (Σ N(μ,σ²) ≡ N(nμ, nσ²)) with a Box-Muller normal. Deterministic and
    partition-invariant for the same reason the kernel is: the random
    stream depends only on (id, trial, seed), never on physical layout.

    Trade-off vs ``simulate_reserves``: this materializes one row per
    (policy, trial) — n_trials× row inflation through the exchange-free
    narrow pipeline — where the Arrow kernel loops trials inside one
    batch. The kernel wins at high trial counts; this form wins when
    Python workers are unavailable or per-trial rows are wanted anyway
    (e.g. percentile-of-trials analyses, which plain SQL can then do).
    Statistically both match the reference (main.rs:62-80); bitwise they
    differ (different RNG streams), so tests check analytic tolerance.
    """
    t = trial_reserves_sql(
        policies,
        n_trials=n_trials,
        seed=seed,
        mean_claim=mean_claim,
        std_claim=std_claim,
        claim_interval=claim_interval,
    )
    # decimal accumulation: mean over trials independent of reduction order
    return (
        t.groupBy("id")
        .agg(
            (F.sum(F.col("r").cast("decimal(30,8)")) / F.lit(n_trials))
            .cast("double")
            .alias("mean_reserve")
        )
    )

def trial_reserves_sql(
    policies: DataFrame,
    n_trials: int = NUM_SIMULATIONS,
    seed: int = 42,
    mean_claim: float = MEAN_CLAIM,
    std_claim: float = STD_CLAIM,
    claim_interval: float = CLAIM_INTERVAL,
) -> DataFrame:
    """One row per (policy, trial): ``(id, trial, r)`` — the raw trial
    matrix behind ``simulate_reserves_sql``, exposed for distributional
    analytics (VaR/TVaR, trial percentiles) that need more than the
    per-policy mean. Same hash-derived random stream: deterministic,
    partition-invariant."""

    def unif(salt: int):
        h = F.xxhash64(F.col("id"), F.col("trial"), F.lit(salt), F.lit(seed))
        return (F.shiftrightunsigned(h, 11).cast("double") + F.lit(0.5)) / F.lit(
            float(1 << 53)
        )

    from actuarial_reserve_modelling_spark.operators import spread_for_kernel

    # same per-row cost model as the Arrow kernel: n_trials rows
    # explode out of every input row, so spread tiny inputs wide
    t = spread_for_kernel(policies.select("id", "term"), bytes_per_task=4096).withColumn(
        "trial", F.explode(F.sequence(F.lit(0), F.lit(n_trials - 1)))
    )
    x = -(F.col("term") / F.lit(claim_interval)) * F.log(unif(1))
    n = F.floor(x)
    z = F.sqrt(F.lit(-2.0) * F.log(unif(2))) * F.cos(F.lit(2.0 * math.pi) * unif(3))
    reserve = F.when(
        n > 0,
        n.cast("double") * F.lit(mean_claim)
        + F.sqrt(n.cast("double")) * F.lit(std_claim) * z,
    ).otherwise(F.lit(0.0))
    return t.select("id", "trial", reserve.alias("r"))


def reserve_risk_measures(
    policies: DataFrame,
    n_trials: int = NUM_SIMULATIONS,
    seed: int = 42,
    quantiles: tuple[float, ...] = (0.95, 0.99),
) -> DataFrame:
    """Portfolio risk measures from the simulated trial distribution:
    for each requested level q, the VaR (exact q-quantile of per-trial
    portfolio totals) and TVaR/CTE (mean of the tail at or above it) —
    the reserve adequacy numbers actuaries actually publish, which the
    reference's mean-only output (main.rs:80) cannot express.

    Shape at scale: (policies × trials) rows collapse to n_trials
    portfolio totals (decimal sums, order-invariant) — the distribution
    is trials-sized no matter how big the portfolio, so the quantile
    step is trivially small. Returns (q, var_value, tvar_value)."""
    t = trial_reserves_sql(policies, n_trials=n_trials, seed=seed)
    totals = t.groupBy("trial").agg(
        F.sum(F.col("r").cast("decimal(30,8)")).cast("double").alias("total")
    )
    # Single-pass quantiles: ONE percentile(total, array(...)) scan
    # computes every VaR level, posexplode turns the array into
    # (level_index, var) rows, and ONE more totals scan (broadcast
    # crossJoin against the len(quantiles)-row level table) computes
    # every tail mean — 2 scans total regardless of how many levels
    # are requested, vs 2 scans PER level in the per-quantile-loop
    # form this replaces.
    qs = [float(q) for q in quantiles]
    q_list = ", ".join(repr(q) for q in qs)
    var_levels = totals.agg(
        F.expr(f"percentile(total, array({q_list}))").alias("vs")
    ).select(F.posexplode("vs").alias("i", "v"))
    q_arr = F.array(*[F.lit(q) for q in qs])
    return (
        totals.crossJoin(F.broadcast(var_levels))
        .filter(F.col("total") >= F.col("v"))
        .groupBy("i", "v")
        .agg(F.avg("total").alias("tvar"))
        .select(
            F.element_at(q_arr, F.col("i") + 1).alias("q"),
            F.round("v", 2).alias("var_value"),
            F.round("tvar", 2).alias("tvar_value"),
        )
        .orderBy("q")
    )
