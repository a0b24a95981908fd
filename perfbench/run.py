#!/usr/bin/env python3
"""The repository benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload reserve_mc --seed 1 --seconds 10 --trace 0

Run from a checkout of the repository. One process generates the inputs
from ``--seed``, starts Spark at local[4] and acts as a single closed-loop
caller: it runs one pass of the workload at a time, checks each pass's
output against the answer known from the input construction, and repeats
until ``--seconds`` have passed (at least one pass).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds the run's context (load average, bench.py's epoch marker, per-pass
walls, error rate, recall). A traced run also writes its spans and per-call
Spark work to ``.perfbench_work/traces/``. Without the package beside this
directory it exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4
SETUP_REPS = 3
PACKAGE = "actuarial_reserve_modelling_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: Path, trace: bool) -> dict[str, str]:
    tmp = work / "tmp"
    conf = {
        # below the package's 8g default: the machine's memory is shared,
        # and a 4-core local run works in well under 2g of heap
        "spark.driver.memory": "2g",
        "spark.ui.enabled": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed young generation: G1 otherwise sizes eden from its pause
        # times, and the JVM's resident memory swung from 0.7 to 1.3 GB
        # between runs of the same work; with it, the JVM's share of
        # peak_rss_mb follows the live data
        "spark.driver.extraJavaOptions": f"-Xmn256m -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        # keep every job, stage and SQL execution of a run in the status
        # stores, so the traced run can attribute all of them
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedTasks": "1000000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return conf


def start_spark(session, work: Path, trace: bool):
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf=spark_conf(work, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, probe) -> None:
    """Stop the session, the JVM and every process below it, and wait
    until each has exited."""
    from pyspark import SparkContext

    kids = probe.proc_tree().pids - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, work: Path) -> tuple[dict, dict]:
    import bench  # the repo's headline bench, for its epoch marker
    import probe
    import workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    tracer = probe.Tracer(args.trace == 1)
    pkg = W._pkg()
    if tracer.enabled:
        for layer, names in W.TRACED.items():
            tracer.wrap(pkg[layer], names, layer)
        for layer, names in W.OBSERVED.items():
            tracer.observe(pkg[layer], names, layer)
    wl = W.WORKLOADS[args.workload](args.seed, str(work))
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "loadavg_before": os.getloadavg(), "epoch_marker_s_before": bench._epoch_marker_sec()}

    # set-up: session, package shipping and input generation, repeated;
    # then one warm-up pass that pays the JVM's and workers' first-use cost.
    # Only the first set-up starts the JVM (a stopped session keeps it),
    # so the median leaves JVM start-up out; the context reports the first.
    reps, spark = [], None
    try:
        setup_t0 = time.time()
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            # a fresh temp dir per set-up, so that every set-up zips the
            # package again instead of reusing the first one's archive
            tempfile.tempdir = str(work / "tmp" / f"setup{i}")
            os.makedirs(tempfile.tempdir)
            t0 = time.perf_counter()
            spark = start_spark(pkg["session"], work, tracer.enabled)
            wl.generate()
            reps.append(time.perf_counter() - t0)
        tempfile.tempdir = None
        if hasattr(wl, "attach"):
            wl.attach(spark)
        t0 = time.perf_counter()
        ops = []
        for _ in range(wl.warm_passes):
            ops += wl.run_pass(spark, tracer, warm=True).ops
        warm_s = time.perf_counter() - t0
        setup_t1 = time.time()

        # timed passes
        passes: list[tuple[float, float, float, W.PassResult]] = []
        trees = [probe.proc_tree()]
        with probe.RssSampler() as rss:
            w0, t_begin = time.time(), time.perf_counter()
            while not passes or time.perf_counter() - t_begin < args.seconds:
                tracer.pass_id = len(passes)
                start, t0 = time.time(), time.perf_counter()
                try:
                    res = wl.run_pass(spark, tracer)
                except Exception as e:  # a failed operation is counted, not fatal
                    traceback.print_exc()
                    res = W.PassResult(ops=[W.Op("pass", False, f"{type(e).__name__}: {e}")])
                passes.append((start, time.time(), time.perf_counter() - t0, res))
                trees.append(probe.proc_tree())
                ops += res.ops
            w1 = time.time()
            tracer.pass_id = None
        tree0, tree1 = trees[0], trees[-1]
        cpu = [sum(t.cpu_s.values()) for t in trees]

        n = len(passes)
        walls = [p[2] for p in passes]
        batch, late = batch_latencies(passes)
        failed = sum(1 for o in ops if not o.ok)
        found = sum(p[3].found for p in passes)
        planted = sum(p[3].planted for p in passes)
        admitted = sum(p[3].admitted for p in passes)
        tier_bytes = sum(p[3].tier_bytes for p in passes)
        also = {
            "error_rate": {"value": failed / len(ops), "unit": "ratio"},
            "recall": {"value": found / planted if planted else 1.0, "unit": "ratio"},
            "tier_bytes_per_doc": {"value": tier_bytes / admitted if admitted else 0.0, "unit": "B/doc"},
        }
        metrics = {
            "setup_s": {"value": probe.median(reps) + warm_s, "unit": "s"},
            "wall_s": {"value": probe.median(walls), "unit": "s"},
            "cpu_s": {"value": probe.median(b - a for a, b in zip(cpu, cpu[1:])), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_total, "unit": "MB"},
            "batch_p50_s": {"value": probe.median(batch), "unit": "s"},
            "batch_late_p50_s": {"value": probe.median(late), "unit": "s"},
        }
        if tracer.enabled:
            # the listener's per-batch records become spans of their pass
            for i, (_s, _e, _w, res) in enumerate(passes):
                for bid, lo, hi in res.batch_spans:
                    tracer.add(probe.Span("streaming.batch", "streaming.pipeline", lo, hi, i, bid))
            stores = probe.SparkStores(spark)
            metrics = layer_metrics(tracer, stores, passes, (setup_t0, setup_t1), (w0, w1),
                                    tree0, tree1, rss, also, walls, n)
            trace_path = ROOT / ".perfbench_work" / "traces" / f"{args.workload}-s{args.seed}.json"
            tracer.dump(str(trace_path), {"calls": call_reports(tracer, stores), "metrics": metrics})
            ctx["trace_file"] = str(trace_path.relative_to(ROOT))
            tracer.unwrap()
    finally:
        if spark is not None:
            stop_spark(spark, probe)

    ctx.update(
        passes=n, pass_walls_s=walls, pass_cpu_s=[b - a for a, b in zip(cpu, cpu[1:])], setup_reps_s=reps, setup_cold_s=reps[0], warmup_s=warm_s,
        cpu_s_by_kind={k: (tree1.cpu_s[k] - tree0.cpu_s[k]) / n for k in probe.KINDS},
        max_rss_mb=rss.max_total, max_rss_mb_by_kind=rss.peak,
        batch_latencies_s=[p[3].batches for p in passes],
        loadavg_after=os.getloadavg(),
        also=also, failures=[f"{o.name}: {o.detail}" for o in ops if not o.ok][:10],
    )
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}
    return ctx, result


def batch_latencies(passes) -> tuple[list[float], list[float]]:
    """Per-batch gate latencies, without the bootstrap batch (0), and those
    of the later half of each pass's batches, when the tier is largest. A
    batch workload's pass is a single batch: its wall."""
    batch, late = [], []
    for _s, _e, wall, res in passes:
        if not res.batches:
            batch.append(wall)
            late.append(wall)
            continue
        nb = len(res.batches)
        for bid, secs in res.batches:
            if bid >= 1:
                batch.append(secs)
            if bid >= nb / 2:
                late.append(secs)
    return batch, late


def call_reports(tracer, stores) -> list[dict]:
    """Spark work inside each span's window, for the trace file."""
    import probe

    jobs, stages = stores.jobs(), stores.stages()
    return [
        {"span": i, **probe.window_report(jobs, stages, s.start, s.end)}
        for i, s in enumerate(tracer.spans)
    ]


def layer_metrics(tracer, stores, passes, setup_win, timed_win, tree0, tree1, rss, also, walls, n) -> dict:
    import probe
    import workloads as W

    jobs, stages, py = stores.jobs(), stores.stages(), stores.sql_python()
    timed_jobs = probe.in_window(jobs, *timed_win)
    spans = [s for s in tracer.spans if s.pass_id is not None]
    for start, end, _wall, _res in passes:
        spans.append(probe.Span("pass", "harness", start, end, pass_id=-1))
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    # generic per-layer work, per pass; session from the set-up window
    layers = probe.by_layer(spans, timed_jobs, stages)
    setup_spans = [s for s in tracer.spans if setup_win[0] <= s.start <= setup_win[1] and s.layer == "session"]
    layers["session"] = probe.by_layer(setup_spans, probe.in_window(jobs, *setup_win), stages).get("session", {})
    units = {"self_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
             "exec_run_s": "s", "exec_cpu_s": "s", "shuffle_read_mb": "MB",
             "shuffle_write_mb": "MB", "spill_mb": "MB", "driver_gap_s": "s"}
    for layer in W.TRACED:
        per = SETUP_REPS if layer == "session" else n
        rec = layers.get(layer, {})
        for k, unit in units.items():
            put(f"{layer}.{k}", rec.get(k, 0.0) / per, unit)

    # session: spin-up and package shipping, median over set-up reps
    gets = [s for s in setup_spans if s.name == "session.get_spark"]
    ships = [s for s in setup_spans if s.name == "session.ship_package"]
    put("session.spinup_s", probe.median(g.dur - sum(x.dur for x in ships if g.start <= x.start <= g.end) for g in gets), "s")
    put("session.ship_package_s", probe.median(s.dur for s in ships), "s")

    # catalog: executor time and bytes of the stages that read files
    scan = [stages[sid] for j in timed_jobs for sid in j["stages"] if sid in stages and stages[sid]["input_bytes"] > 0]
    put("catalog.scan_s", sum(s["run_s"] for s in scan) / n, "s")
    put("catalog.input_mb", sum(s["input_bytes"] for s in scan) / probe.MB / n, "MB")

    # functions.reserves: the kernel stage and the Python boundary
    rs = [s for s in spans if s.name == "pass.total_reserves"]
    tasks = skew = 0.0
    for s in rs:
        mine = probe.in_window(jobs, s.start, s.end)
        cand = [stages[sid] for j in mine for sid in j["stages"] if sid in stages]
        if cand:
            k = max(cand, key=lambda st: st["run_s"])
            d = stores.task_durations(k["stage"], k["attempt"])
            tasks += k["tasks"]
            skew += max(d) / probe.median(d) if d and probe.median(d) > 0 else 0.0
    put("functions.reserves.kernel_tasks", tasks / n, "count")
    put("functions.reserves.task_skew", skew / len(rs) if rs else 0.0, "ratio")
    in_rs = [e for e in py if any(s.start <= e["submit"] <= s.end for s in rs)]
    in_timed = [e for e in py if timed_win[0] <= e["submit"] <= timed_win[1]]
    for prefix, recs in (("functions.reserves", in_rs), ("python", in_timed)):
        put(f"{prefix}.py_boot_s", sum(e["py_boot_s"] for e in recs) / n, "s")
        put(f"{prefix}.py_exec_s", sum(e["py_exec_s"] for e in recs) / n, "s")
        put(f"{prefix}.arrow_in_mb", sum(e["arrow_in_bytes"] for e in recs) / probe.MB / n, "MB")
        put(f"{prefix}.arrow_out_mb", sum(e["arrow_out_bytes"] for e in recs) / probe.MB / n, "MB")
    put("python.py_init_s", sum(e["py_init_s"] for e in in_timed) / n, "s")

    # operators.dedup: LSH candidates, verified pairs, clustering jobs
    cands = tracer.counted("operators.dedup.lsh_candidate_pairs")
    pairs = (tracer.counted("operators.dedup.minhash_near_dup_pairs")
             + tracer.counted("operators.dedup.minhash_near_dup_pairs_with_index"))
    cc = [s for s in spans if s.name == "operators.dedup.dedup_clusters"]
    put("operators.dedup.candidates", cands / n, "count")
    put("operators.dedup.pairs", pairs / n, "count")
    put("operators.dedup.verify_yield", pairs / cands if cands else 0.0, "ratio")
    put("operators.dedup.cc_jobs", sum(len(probe.in_window(jobs, s.start, s.end)) for s in cc) / n, "count")

    # operators.similarity: each pair path's jobs, driver gap and shuffle
    for path, span_name in (("lsh", "pass.lsh_cosine_pairs"), ("ivf", "pass.ivf_cosine_pairs")):
        wins = [probe.window_report(jobs, stages, s.start, s.end) for s in spans if s.name == span_name]
        put(f"operators.similarity.{path}.jobs", sum(r["jobs"] for r in wins) / n, "count")
        put(f"operators.similarity.{path}.driver_gap_s", sum(r["driver_gap_s"] for r in wins) / n, "s")
        put(f"operators.similarity.{path}.shuffle_mb",
            sum(r["shuffle_read_mb"] + r["shuffle_write_mb"] for r in wins) / n, "MB")

    # streaming.pipeline and sources.sinks: per non-bootstrap batch
    bw = [(lo, hi) for _s, _e, _w, res in passes for bid, lo, hi in res.batch_spans if bid >= 1]
    breps = [probe.window_report(jobs, stages, lo, hi) for lo, hi in bw]
    nb = max(1, len(breps))
    put("streaming.pipeline.jobs_per_batch", sum(r["jobs"] for r in breps) / nb, "count")
    put("streaming.pipeline.driver_gap_s_per_batch", sum(r["driver_gap_s"] for r in breps) / nb, "s")
    put("streaming.pipeline.exec_run_s_per_batch", sum(r["exec_run_s"] for r in breps) / nb, "s")
    put("streaming.pipeline.input_mb_per_batch", sum(r["input_mb"] for r in breps) / nb, "MB")
    put("sources.sinks.output_mb_per_batch", sum(r["output_mb"] for r in breps) / nb, "MB")
    put("sources.sinks.tier_files", sum(p[3].tier_files for p in passes) / n, "count")
    put("sources.sinks.tier_mb", sum(p[3].tier_bytes for p in passes) / probe.MB / n, "MB")
    put("tier_bytes_per_doc", also["tier_bytes_per_doc"]["value"], "B/doc")

    # process tree by kind
    for kind in probe.KINDS:
        put(f"cpu.{kind}_s", (tree1.cpu_s[kind] - tree0.cpu_s[kind]) / n, "s")
        put(f"rss.{kind}_mb", rss.peak[kind], "MB")
    put("recall", also["recall"]["value"], "ratio")
    put("error_rate", also["error_rate"]["value"], "ratio")
    put("trace.wall_s", probe.median(walls), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}



def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: {PACKAGE}/ and bench.py must sit beside {HERE.name}/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # everything Spark and the package write goes under the run's work dir
    os.environ.update(
        TMPDIR=str(work / "tmp"), SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_CPUS=str(CPUS), PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = None
    sys.path[:0] = [str(HERE), str(ROOT)]
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        ctx, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": ctx}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
