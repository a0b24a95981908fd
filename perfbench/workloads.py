"""The benchmark's workloads: inputs, one timed pass, and its output check.

Every pass calls the package's public functions the way a user would and
materializes each result inside a span named after the call, so that the
traced run can attribute Spark work to the layer that asked for it.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field

import gen
from probe import Tracer

# Sizes were chosen on a 4-vCPU Xeon VM so that a whole run, set-up
# included, takes 30-90 s; the ingest gate's per-batch cost is mostly fixed
# (about 80 Spark jobs), so batch size barely moves it. Four ingest batches,
# not three, so that batch_late_p50_s is taken over two batches: over one,
# its spread across ten seeds was 0.22.
RESERVE = {"policies": 25_000, "files": 4, "trials": 10_000, "k_sigma": 6.0, "warm_policies": 25_000}
CURATION = {"docs": 3_000, "vectors": 2_000, "warm_docs": 300, "warm_vectors": 200}
INGEST = {"batches": 4, "per_batch": 500, "warm_batches": 2, "warm_per_batch": 40}

# The warm-up pass runs the same calls on inputs drawn under this salt, so
# no cache keyed on the inputs can carry over into the timed passes. The
# curation and ingest warm-ups are small: their first-use cost (JIT,
# codegen, worker start) barely depends on input size.
WARM = "-warm"

MC_SEED = 42  # the reserve kernel's own RNG seed (the reference's default)


@dataclass
class Op:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class PassResult:
    ops: list[Op] = field(default_factory=list)
    batches: list[tuple[int, float]] = field(default_factory=list)  # (batch id, seconds)
    batch_spans: list[tuple[int, float, float]] = field(default_factory=list)  # (id, start, end)
    found: int = 0  # planted duplicates found
    planted: int = 0
    tier_files: int = 0
    tier_bytes: int = 0
    admitted: int = 0


def _pkg():
    """The package's layer modules, imported only once a run has checked
    that the package is present."""
    from actuarial_reserve_modelling_spark import catalog, session
    from actuarial_reserve_modelling_spark.functions import reserves
    from actuarial_reserve_modelling_spark.operators import dedup, similarity
    from actuarial_reserve_modelling_spark.streaming import pipeline

    return {
        "session": session,
        "catalog": catalog,
        "functions.reserves": reserves,
        "operators.dedup": dedup,
        "operators.similarity": similarity,
        "streaming.pipeline": pipeline,
    }


def _pair_set(rows, a: str, b: str) -> set[tuple[int, int]]:
    return {(int(r[a]), int(r[b])) for r in rows}


def _check_set(name: str, got: set, want: set) -> Op:
    if got == want:
        return Op(name, True)
    return Op(name, False, f"missing {len(want - got)} e.g. {sorted(want - got)[:3]}, "
                           f"extra {len(got - want)} e.g. {sorted(got - want)[:3]}")


class Workload:
    name = ""
    warm_passes = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "inputs")
        self.warm = os.path.join(work, "warm")
        self.pkg = _pkg()

    def generate(self) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tracer: Tracer, warm: bool = False) -> PassResult:
        raise NotImplementedError


class ReserveMC(Workload):
    """The paper's own job: scan policy CSVs, run the seeded Monte Carlo
    kernel per policy, sum. Bypasses every dedup, similarity and tier
    path, so a change there should leave it unmoved."""

    name = "reserve_mc"
    # pass times kept falling over the first few passes after a single
    # warm-up pass, which made a run's median depend on its pass count
    warm_passes = 3

    def generate(self) -> None:
        from actuarial_reserve_modelling_spark.functions.reserves import analytic_moments

        self.expect = {}
        for d, salt, n in ((self.inputs, "", RESERVE["policies"]),
                           (self.warm, WARM, RESERVE["warm_policies"])):
            p = gen.policies(self.seed, n, salt=salt)
            gen.write_policies_csv(p, d, RESERVE["files"])
            mean, var = analytic_moments(p.terms)
            self.expect[d] = gen.reserve_interval(mean, var, RESERVE["trials"], RESERVE["k_sigma"])
        self.first_total: dict[str, float] = {}

    def run_pass(self, spark, tracer, warm=False):
        catalog, reserves = self.pkg["catalog"], self.pkg["functions.reserves"]
        d = self.warm if warm else self.inputs
        res = PassResult()
        with tracer.span("pass.read_policies_csv", "catalog"):
            pf = catalog.read_policies_csv(spark, d)
        with tracer.span("pass.total_reserves", "functions.reserves"):
            total = reserves.total_reserves(pf, n_trials=RESERVE["trials"], seed=MC_SEED).collect()[0][0]
        lo, hi = self.expect[d]
        ok = lo <= total <= hi
        first = self.first_total.setdefault(d, total)
        res.ops.append(Op("total_reserves", ok and total == first,
                          f"total {total!r} vs interval [{lo:.2f}, {hi:.2f}], first pass {first!r}"))
        return res


class CurationBatch(Workload):
    """Batch LLM-data curation: MinHash near-dup pairs and their clusters,
    hyperplane-LSH pairs feeding SemDeDup, and IVF pairs. Exercises the
    dedup and similarity layers with no persisted writes."""

    def generate(self) -> None:
        self.expect = {}
        for d, salt, nd, nv in ((self.inputs, "", CURATION["docs"], CURATION["vectors"]),
                                (self.warm, WARM, CURATION["warm_docs"], CURATION["warm_vectors"])):
            docs = gen.documents(self.seed, nd, salt=salt)
            vecs = gen.vectors(self.seed, nv, salt=salt)
            gen.write_docs_parquet(docs, os.path.join(d, "documents.parquet"))
            gen.write_vectors_parquet(vecs, os.path.join(d, "embeddings.parquet"))
            self.expect[d] = (docs.planted, vecs.planted)

    def run_pass(self, spark, tracer, warm=False):
        catalog = self.pkg["catalog"]
        dedup, sim = self.pkg["operators.dedup"], self.pkg["operators.similarity"]
        from pyspark.sql import functions as F

        d = self.warm if warm else self.inputs
        doc_pairs, vec_pairs = self.expect[d]
        res = PassResult()
        docs = catalog.load_table(spark, d, "documents")
        with tracer.span("pass.minhash_near_dup_pairs", "operators.dedup"):
            mp = dedup.minhash_near_dup_pairs(docs, threshold=0.95).select("d1", "d2").localCheckpoint(eager=True)
            got = _pair_set(mp.collect(), "d1", "d2")
        tracer.count("operators.dedup.minhash_near_dup_pairs", len(got))
        res.ops.append(_check_set("minhash_near_dup_pairs", got, doc_pairs))
        res.found += len(got & doc_pairs)
        with tracer.span("pass.dedup_clusters", "operators.dedup"):
            cl = _pair_set(dedup.dedup_clusters(mp).collect(), "doc_id", "rep_id")
        want = {(s, s) for s, _ in doc_pairs} | {(p, s) for s, p in doc_pairs}
        res.ops.append(_check_set("dedup_clusters", cl, want))

        emb = catalog.load_table(spark, d, "embeddings")
        with tracer.span("pass.lsh_cosine_pairs", "operators.similarity"):
            lp = sim.lsh_cosine_pairs(emb, threshold=0.9).select("v1", "v2").localCheckpoint(eager=True)
            got = _pair_set(lp.collect(), "v1", "v2")
        res.ops.append(_check_set("lsh_cosine_pairs", got, vec_pairs))
        res.found += len(got & vec_pairs)
        with tracer.span("pass.semantic_dedup", "operators.similarity"):
            dropped = _pair_set(
                sim.semantic_dedup(emb, threshold=0.9, pairs=lp)
                .filter(F.col("keep") == 0).select("vec_id", "rep_id").collect(),
                "vec_id", "rep_id",
            )
        res.ops.append(_check_set("semantic_dedup", dropped, {(t, s) for s, t in vec_pairs}))
        with tracer.span("pass.ivf_cosine_pairs", "operators.similarity"):
            got = _pair_set(sim.ivf_cosine_pairs(emb, threshold=0.9).select("v1", "v2").collect(), "v1", "v2")
        res.ops.append(_check_set("ivf_cosine_pairs", got, vec_pairs))
        res.found += len(got & vec_pairs)
        res.planted = len(doc_pairs) + 2 * len(vec_pairs)
        return res


def _dir_stats(paths: list[str]) -> tuple[int, int]:
    files = size = 0
    for root in paths:
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# how long to wait for the listener's events of a query that has ended
LISTENER_WAIT_S = 30.0


class BatchLog:
    """Per-batch records from a StreamingQueryListener registered by the
    benchmark: the gates run their micro-batches on the stream thread, so
    the listener is the only outside view of each batch's start and
    duration. Records are kept per query run id, so events of one query
    that arrive late never count for another."""

    def __init__(self):
        self.run_ids: list[str] = []  # in start order
        self.records: dict[str, list[tuple[int, float, float]]] = {}  # (batch id, start, seconds)
        self.ended: set[str] = set()
        self._cond = threading.Condition()

    def started(self, run_id: str) -> None:
        with self._cond:
            self.run_ids.append(run_id)
            self._cond.notify_all()

    def progress(self, run_id: str, batch_id: int, start: float, secs: float) -> None:
        with self._cond:
            self.records.setdefault(run_id, []).append((batch_id, start, secs))

    def terminated(self, run_id: str) -> None:
        with self._cond:
            self.ended.add(run_id)
            self._cond.notify_all()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                log.started(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                log.progress(str(p.runId), p.batchId, _iso_epoch(p.timestamp), p.batchDuration / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated(str(event.runId))

        return _Listener()

    def batches_of(self, n_before: int) -> list[tuple[int, float, float]]:
        """The batch records of the one query started after ``n_before``
        queries had started, once that query's termination event has
        arrived (listener events are delivered asynchronously)."""
        deadline = time.monotonic() + LISTENER_WAIT_S
        with self._cond:
            while len(self.run_ids) <= n_before or self.run_ids[n_before] not in self.ended:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"streaming listener saw no end of query {n_before}")
                self._cond.wait(left)
            if len(self.run_ids) != n_before + 1:
                raise RuntimeError(f"{len(self.run_ids) - n_before} queries started in one pass")
            return sorted(self.records.get(self.run_ids[n_before], []))


class IngestText(Workload):
    """Continuous near-dup ingest (the t11 gate) over a fresh tier per
    pass: exact, within-batch and cross-batch tiers, appends, compaction
    and the writer lease. Batch 0 bootstraps the tier."""

    tiers = ("fp_index", "dedup_index")

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.log = BatchLog()
        self.n_pass = 0

    def generate(self) -> None:
        self.expect = {}
        # the warm-up stream needs only the bootstrap and one append batch
        for d, salt, nb, per in ((self.inputs, "", INGEST["batches"], INGEST["per_batch"]),
                                 (self.warm, WARM, INGEST["warm_batches"], INGEST["warm_per_batch"])):
            stream = gen.text_stream(self.seed, nb, per, salt=salt)
            for b, docs in enumerate(stream.batches):
                gen.write_docs_parquet(docs, os.path.join(d, f"b{b}", "documents.parquet"))
            plants = {(i, b) for b, docs in enumerate(stream.batches) for i in docs.ids.tolist()}
            self.expect[d] = (nb, stream.admitted, plants - stream.admitted)

    def attach(self, spark) -> None:
        spark.streams.addListener(self.log.listener())

    def run_pass(self, spark, tracer, warm=False):
        catalog, pipeline = self.pkg["catalog"], self.pkg["streaming.pipeline"]
        d = self.warm if warm else self.inputs
        nb, admitted, plants = self.expect[d]
        res = PassResult()
        self.n_pass += 1
        # a fresh tier and stream source per pass, so no pass reads another's state
        tier = os.path.join(self.work, "passes", f"p{self.n_pass}")
        key = f"perfbench_{self.seed}_{self.n_pass}_{uuid.uuid4().hex[:8]}"
        batches = [catalog.load_table(spark, os.path.join(d, f"b{b}"), "documents") for b in range(nb)]
        n_before = len(self.log.run_ids)
        with tracer.span("pass.incremental_neardup_ingest", "streaming.pipeline"):
            rows = pipeline.incremental_neardup_ingest(
                spark, batches, cache_key=key, threshold=0.95, work_dir=tier
            ).collect()
        recs = self.log.batches_of(n_before)
        res.ops.append(Op("listener_batches", len(recs) == nb, f"{len(recs)} batch records for {nb} batches"))
        res.batches = [(bid, secs) for bid, _start, secs in recs]
        res.batch_spans = [(bid, start, start + secs) for bid, start, secs in recs]
        got = {(int(r["doc_id"]), int(r["batch"])) for r in rows}
        for b in range(nb):
            res.ops.append(_check_set(
                f"batch{b}", {x for x in got if x[1] == b}, {x for x in admitted if x[1] == b}))
        res.found = len(plants - got)  # planted duplicates the gate rejected
        res.planted = len(plants)
        res.admitted = len(got)
        res.tier_files, res.tier_bytes = _dir_stats([os.path.join(tier, t) for t in self.tiers])
        shutil.rmtree(tier, ignore_errors=True)
        return res


class CurationIngest(Workload):
    """The engine's LLM-data side in one pass: batch curation, then a
    continuous ingest stream. One workload rather than two because each
    run pays a JVM start and a cold warm-up of ~20 s per part, and a
    comparison of two commits (about 22 runs per workload) stays under an
    hour with two workloads, not with three."""

    name = "curation_ingest"

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.parts = [CurationBatch(seed, os.path.join(work, "curation")),
                      IngestText(seed, os.path.join(work, "ingest"))]

    def generate(self) -> None:
        for part in self.parts:
            part.generate()

    def attach(self, spark) -> None:
        self.parts[1].attach(spark)

    def run_pass(self, spark, tracer, warm=False):
        cur, ing = (p.run_pass(spark, tracer, warm) for p in self.parts)
        ing.ops[:0] = cur.ops
        ing.found += cur.found
        ing.planted += cur.planted
        return ing


WORKLOADS = {w.name: w for w in (ReserveMC, CurationIngest)}

# the functions the traced run wraps, per layer
TRACED = {
    "session": ["get_spark", "ship_package"],
    "catalog": ["read_policies_csv", "load_table"],
    "functions.reserves": ["total_reserves", "simulate_reserves"],
    "operators.dedup": [
        "minhash_near_dup_pairs", "minhash_near_dup_pairs_with_index", "lsh_candidate_pairs",
        "dedup_clusters", "persist_dedup_index", "add_to_dedup_index", "compact_dedup_index",
        "minhash_dedup_against_index_persisted",
    ],
    "operators.similarity": [
        "lsh_cosine_pairs", "ivf_cosine_pairs", "semantic_dedup", "compact_partitioned_index",
    ],
    "streaming.pipeline": ["incremental_neardup_ingest", "staged_ordered_source"],
}

# the lazily returned frames whose rows the traced run counts, by Spark
# observation rather than an extra job: LSH candidates and the ingest
# gate's within-batch pairs (the batch path counts its collected pairs)
OBSERVED = {"operators.dedup": ["lsh_candidate_pairs", "minhash_near_dup_pairs_with_index"]}
