"""Tests of the benchmark's own pieces: generator determinism, the answers
the input constructions promise (checked by brute force at tiny size), and
the metric and attribution arithmetic. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import os
import pickle
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path[:0] = [str(HERE), str(HERE.parent)]

import gen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
from probe import Span  # noqa: E402

# ------------------------------------------------------------ determinism


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.policies(s, 50),
        lambda s: gen.documents(s, 40),
        lambda s: gen.vectors(s, 40),
        lambda s: gen.text_stream(s, 3, 30),
    ],
    ids=["policies", "documents", "vectors", "text_stream"],
)
def test_same_seed_same_inputs(make):
    a, b, c = (pickle.dumps(make(s)) for s in (7, 7, 8))
    assert a == b
    assert a != c


def test_written_files_are_identical_for_a_seed(tmp_path):
    for name in ("a", "b"):
        gen.write_policies_csv(gen.policies(3, 30), str(tmp_path / name / "csv"), 2)
        gen.write_docs_parquet(gen.documents(3, 20), str(tmp_path / name / "d.parquet"))
        gen.write_vectors_parquet(gen.vectors(3, 20), str(tmp_path / name / "v.parquet"))
    for rel in ("csv/policies_000.csv", "csv/policies_001.csv", "d.parquet", "v.parquet"):
        assert (tmp_path / "a" / rel).read_bytes() == (tmp_path / "b" / rel).read_bytes()


# ------------------------------------------------- constructions, tiny size


def test_policy_csv_follows_the_reference_contract(tmp_path):
    p = gen.policies(1, 25)
    gen.write_policies_csv(p, str(tmp_path), 3)
    rows = []
    for f in sorted(os.listdir(tmp_path)):
        with open(tmp_path / f) as fh:
            r = list(csv.reader(fh))
        assert len(r[0]) == 9  # header row
        rows += r[1:]
    assert [row[0] for row in rows] == p.ids
    assert all(len(row) == 9 for row in rows)
    assert [float(row[7]) for row in rows] == p.terms.tolist()


def test_reserve_interval_holds_a_direct_simulation():
    """The reference procedure (main.rs: n = floor(Exp(term/365)) claims of
    Normal(100, 10) per trial, mean over trials of the portfolio total),
    simulated directly, lands inside the interval built from the closed-form
    moments."""
    from actuarial_reserve_modelling_spark.functions.reserves import analytic_moments

    p = gen.policies(5, 20)
    trials = 4000
    mean, var = analytic_moments(p.terms)
    lo, hi = gen.reserve_interval(mean, var, trials, k=6.0)
    rng = np.random.default_rng(0)
    n = np.floor(rng.exponential(p.terms / 365.0, size=(trials, len(p.terms)))).astype(int)
    totals = np.array([rng.normal(100.0, 10.0, k).sum() for k in n.sum(axis=1)])
    assert lo <= totals.mean() <= hi
    assert hi - lo == pytest.approx(12.0 * (var / trials) ** 0.5)


def test_planted_documents_are_exactly_the_near_duplicate_pairs():
    d = gen.documents(2, 60)
    found = {
        (int(d.ids[i]), int(d.ids[j]))
        for i in range(len(d.texts))
        for j in range(i + 1, len(d.texts))
        if gen.jaccard(d.texts[i], d.texts[j]) >= 0.95
    }
    assert found == d.planted and len(found) == 6
    for a, b in d.planted:
        assert gen.jaccard(d.texts[a], d.texts[b]) == pytest.approx(59 / 61)


def test_planted_vectors_are_exactly_the_near_duplicate_pairs():
    v = gen.vectors(2, 120)
    found = {
        (i, j)
        for i in range(len(v.ids))
        for j in range(i + 1, len(v.ids))
        if gen.cosine(v.vecs[i], v.vecs[j]) >= 0.9
    }
    assert found == v.planted and len(found) == 12


def _reference_gate(stream: gen.TextStream, threshold: float = 0.95) -> set[tuple[int, int]]:
    """First-wins near-dup ingest, the contract of the package's gate:
    exact duplicates (within the batch or of an admitted doc) lose to the
    smallest id, then within-batch near-dup clusters keep their smallest
    id, then survivors near an admitted doc are rejected."""
    admitted: dict[int, str] = {}
    out = set()
    for b, docs in enumerate(stream.batches):
        by_text: dict[str, int] = {}
        for i, t in sorted(zip(docs.ids.tolist(), docs.texts)):
            by_text.setdefault(t, i)
        seen = set(admitted.values())
        surv = {i: t for t, i in by_text.items() if t not in seen}
        ids = sorted(surv)
        rep = {i: i for i in ids}

        def find(x):
            while rep[x] != x:
                x = rep[x]
            return x

        for x in ids:
            for y in ids:
                if x < y and gen.jaccard(surv[x], surv[y]) >= threshold:
                    rx, ry = find(x), find(y)
                    rep[max(rx, ry)] = min(rx, ry)
        keep = [i for i in ids if find(i) == i]
        for i in keep:
            if not any(gen.jaccard(surv[i], t) >= threshold for t in admitted.values()):
                out.add((i, b))
        for i, bb in out:
            if bb == b:
                admitted[i] = surv[i]
    return out


def test_text_stream_admits_exactly_the_originals():
    s = gen.text_stream(4, 3, 30)
    assert len(s.admitted) == 3 * 27
    assert _reference_gate(s) == s.admitted
    kinds = [len(d.planted) for d in s.batches]
    assert kinds == [3, 3, 3]


# ------------------------------------------------------------- arithmetic


def test_union_length_merges_and_clips():
    assert probe.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert probe.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert probe.union_length([], 0, 1) == 0
    assert probe.union_length([(2, 1)], 0, 5) == 0


def test_driver_gap_is_the_time_no_job_ran():
    jobs = [{"submit": 1.0, "end": 2.0}, {"submit": 1.5, "end": 4.0}]
    assert probe.driver_gap(jobs, 0.0, 5.0) == pytest.approx(2.0)


def test_spans_nest_and_self_time_subtracts_children():
    spans = [Span("outer", "a", 0, 10), Span("inner1", "b", 1, 3), Span("inner2", "b", 5, 9),
             Span("leaf", "c", 6, 7)]
    probe.nest(spans)
    assert [s.parent for s in spans] == [None, 0, 0, 2]
    assert probe.self_times(spans) == pytest.approx([4.0, 2.0, 3.0, 1.0])
    assert probe.innermost(spans, 6.5).name == "leaf"
    assert probe.innermost(spans, 4.0).name == "outer"
    assert probe.innermost(spans, 11.0) is None


def _stage(sid, run_s, **kw):
    base = dict(stage=sid, attempt=0, tasks=4, run_s=run_s, cpu_s=run_s / 2, input_bytes=0,
                output_bytes=0, shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
    return {**base, **kw}


def test_jobs_go_to_the_innermost_layer_once():
    spans = [Span("pass", "harness", 0, 10), Span("dedup.x", "operators.dedup", 2, 6),
             Span("sim.y", "operators.similarity", 3, 4)]
    jobs = [
        {"job": 0, "submit": 1.0, "end": 1.5, "stages": [0], "tasks": 4},
        {"job": 1, "submit": 2.5, "end": 3.0, "stages": [1, 9], "tasks": 4},
        {"job": 2, "submit": 3.5, "end": 3.8, "stages": [2], "tasks": 4},
    ]
    stages = {0: _stage(0, 1.0), 1: _stage(1, 2.0, input_bytes=probe.MB), 2: _stage(2, 4.0)}
    layers = probe.by_layer(spans, jobs, stages)
    assert layers["harness"]["jobs"] == 1
    assert layers["operators.dedup"]["jobs"] == 1
    assert layers["operators.dedup"]["stages"] == 1  # stage 9 was skipped
    assert layers["operators.dedup"]["input_mb"] == pytest.approx(1.0)
    assert layers["operators.similarity"]["exec_run_s"] == pytest.approx(4.0)
    assert sum(v["jobs"] for v in layers.values()) == len(jobs)
    # window reports count nested work too
    assert probe.window_report(jobs, stages, 2, 6)["jobs"] == 2


def test_sql_metric_totals_parse_sizes_and_times():
    two_line = "total (min, med, max (stageId: taskId))\n31.9 KiB (8.0 KiB, 8.0 KiB, 8.0 KiB (stage 2.0: task 4))"
    assert probe.parse_metric_total(two_line) == pytest.approx(31.9 * 1024)
    assert probe.parse_metric_total("total (min, med, max)\n7.1 s (1.6 s, 1.9 s)") == pytest.approx(7.1)
    assert probe.parse_metric_total("total (min, med, max)\n345 ms (1 ms)") == pytest.approx(0.345)
    assert probe.parse_metric_total("2.0 MiB") == pytest.approx(2 * probe.MB)
    with pytest.raises(ValueError):
        probe.parse_metric_total("n/a")


def test_batch_latencies_skip_bootstrap_and_take_later_half():
    from workloads import PassResult

    stream = PassResult(batches=[(0, 9.0), (1, 2.0), (2, 3.0), (3, 4.0)])
    batch = PassResult()
    b, late = run.batch_latencies([(0, 0, 20.0, stream)])
    assert b == [2.0, 3.0, 4.0] and late == [3.0, 4.0]
    b, late = run.batch_latencies([(0, 0, 5.0, batch), (0, 0, 6.0, batch)])
    assert b == late == [5.0, 6.0]


def test_batch_log_keeps_each_query_to_its_own_records():
    from workloads import BatchLog

    log = BatchLog()
    log.started("r1")
    log.progress("r1", 0, 10.0, 1.0)
    n_before = len(log.run_ids)
    log.started("r2")
    log.progress("r2", 1, 21.0, 2.0)
    log.progress("r1", 1, 11.0, 9.0)  # a late event of the earlier query
    log.progress("r2", 0, 20.0, 3.0)
    log.terminated("r2")
    assert log.batches_of(n_before) == [(0, 20.0, 3.0), (1, 21.0, 2.0)]


def test_tracer_counts_only_timed_passes():
    t = probe.Tracer(True)
    t.count("k", 5)  # warm-up: no pass id
    t.pass_id = 0
    t.count("k", 3)
    t.pass_id = 1
    t.count("k", 4)
    t.count("other", 100)
    assert t.counted("k") == 7
    off = probe.Tracer(False)
    off.pass_id = 0
    off.count("k", 3)
    assert off.counted("k") == 0


def test_proc_tree_splits_by_kind():
    assert probe.process_kind(10, 10, "python3") == "driver"
    assert probe.process_kind(11, 10, "java") == "jvm"
    assert probe.process_kind(12, 10, "python3") == "pyworkers"
    s = probe.proc_tree()
    assert set(s.cpu_s) == set(probe.KINDS)
    assert s.rss_mb["driver"] > 0 and s.cpu_s["driver"] > 0
