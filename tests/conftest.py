"""Shared test fixtures: one SparkSession per test run, policy CSVs."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pytest

from actuarial_reserve_modelling_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="arm-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def registry_run(spark):
    """Every registry query built and counted once at sf0.001, shared by
    the tests that need the whole registry. Per query name:
    ``schema`` and ``build_error`` from building the plan, then
    ``count`` and ``count_error`` from running it (skipped when the
    build failed)."""
    from actuarial_reserve_modelling_spark.plans.registry import load_all

    runs = {}
    for name, q in load_all().items():
        r = runs[name] = SimpleNamespace(
            schema=None, build_error=None, count=None, count_error=None
        )
        try:
            df = q.spark_fn(spark, SF_SMOKE)
            r.schema = df.schema
        except Exception as e:
            r.build_error = repr(e)
            continue
        try:
            r.count = df.count()
        except Exception as e:
            r.count_error = repr(e)
    return runs


def write_policy_csvs(tmpdir, n_files: int = 10, rows_per_file: int = 20, seed: int = 42):
    """Group-A ``policies`` fixture (FIXTURES.md): 10 CSVs mirroring the
    reference layout (.MISSING_LARGE_BLOBS policy_1..10.csv)."""
    rng = np.random.default_rng(seed)
    header = "id,age,gender,smoking_status,occupation,policy_type,effective_date,term,premium"
    paths, all_terms = [], []
    k = 0
    for f in range(1, n_files + 1):
        lines = [header]
        for _ in range(rows_per_file):
            k += 1
            term = float(rng.integers(365, 10951))
            all_terms.append(term)
            lines.append(
                f"P{k:06d},{rng.integers(18, 81)},M,non-smoker,eng,term_life,"
                f"2020-01-01,{term},{1000.0}"
            )
        p = tmpdir / f"policy_{f}.csv"
        p.write_text("\n".join(lines) + "\n", encoding="utf-8")
        paths.append(str(p))
    return str(tmpdir), np.array(all_terms)
