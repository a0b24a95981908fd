"""Property tests (SURVEY §5.2-3): partial/final aggregation invariance,
as-of join equivalence with pandas merge_asof, kernel mode equivalence."""

from __future__ import annotations

import pytest

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from actuarial_reserve_modelling_spark.operators.joins import asof_join

_slow = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@_slow
@given(
    values=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=80),
    k=st.integers(min_value=1, max_value=12),
)
def test_a3_aggregation_partition_invariance(spark, values, k):
    """sum/count/min/max/avg (as exact ints) are invariant to physical
    partitioning — the reference's worker-count invariant (A3)."""
    df = spark.createDataFrame([(v,) for v in values], "v long")
    base = df.agg(
        F.sum("v").alias("s"), F.count("v").alias("c"), F.min("v").alias("lo"), F.max("v").alias("hi")
    ).collect()[0]
    rep = (
        df.repartition(k)
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()[0]
    )
    assert tuple(base) == tuple(rep)


@_slow
@given(
    left_ts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=15),
    right_ts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=15),
    exact=st.booleans(),
)
def test_asof_join_matches_pandas_merge_asof(spark, left_ts, right_ts, exact):
    """Our union+window as-of join must agree with pandas merge_asof for
    a single key group and unique right timestamps."""
    right_ts = sorted(set(right_ts))
    lpdf = pd.DataFrame({"k": "a", "t": sorted(left_ts)})
    rpdf = pd.DataFrame({"k": "a", "t": right_ts, "rv": [float(t * 10) for t in right_ts]})
    expected = pd.merge_asof(
        lpdf, rpdf, on="t", by="k", allow_exact_matches=exact
    )

    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    out = asof_join(
        left, right, on="t", by=["k"], value_cols=["rv"], allow_exact_matches=exact
    ).toPandas()

    got = sorted(
        (int(t), None if pd.isna(v) else float(v)) for t, v in zip(out["t"], out["rv_right"])
    )
    want = sorted(
        (int(t), None if pd.isna(v) else float(v)) for t, v in zip(expected["t"], expected["rv"])
    )
    assert got == want


def test_asof_join_tolerance(spark):
    """tolerance nulls matches older than left.on - tolerance, like
    pandas merge_asof(tolerance=...)."""
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [("a", dt(2024, 1, 1, 12, 0))], "k string, t timestamp"
    )
    right = spark.createDataFrame(
        [("a", dt(2024, 1, 1, 11, 0), 1.0), ("a", dt(2024, 1, 1, 11, 50), 2.0)],
        "k string, t timestamp, rv double",
    )
    near = asof_join(
        left, right, on="t", by=["k"], value_cols=["rv"], tolerance="30 minutes"
    ).collect()[0]
    assert near["rv_right"] == 2.0  # 11:50 within 30 min of 12:00
    far = asof_join(
        left,
        right.filter("rv = 1.0"),
        on="t",
        by=["k"],
        value_cols=["rv"],
        tolerance="30 minutes",
    ).collect()[0]
    assert far["rv_right"] is None  # 11:00 is outside tolerance


def test_exact_claims_mode_statistically_equivalent(spark):
    """The Normal-sum fast path and the claim-by-claim path are the same
    distribution: totals across a portfolio must agree within Monte
    Carlo error."""
    import math

    from actuarial_reserve_modelling_spark.functions.reserves import (
        analytic_moments,
        total_reserves,
    )
    from actuarial_reserve_modelling_spark.functions.reserves import simulate_reserves

    pf = spark.createDataFrame(
        [(str(i), float(365 * (i % 10 + 1))) for i in range(60)], "id string, term double"
    )
    n = 1500
    fast = total_reserves(pf, n_trials=n).collect()[0][0]
    exact = (
        simulate_reserves(pf, n_trials=n, exact_claims=True)
        .agg(F.sum("mean_reserve"))
        .collect()[0][0]
    )
    terms = [365.0 * (i % 10 + 1) for i in range(60)]
    _, var = analytic_moments(terms)
    sigma = math.sqrt(var / n)
    assert abs(fast - exact) < 8 * sigma, (fast, exact, sigma)


@_slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
                 min_size=0, max_size=6),
        min_size=2, max_size=12,
    ),
    threshold=st.sampled_from([0.5, 0.75, 1.0]),
)
@pytest.mark.slow
def test_minhash_collapse_equals_bruteforce(spark, docs, threshold):
    """minhash_near_dup_pairs (exact-collapse → LSH → verify → expand)
    must equal brute-force all-pairs Jaccard: duplicates, singleton
    groups, and token-less docs all round-trip through the collapse.
    b=32,r=2 keeps the LSH miss probability < 1e-6 at every threshold
    used, so any discrepancy is a real bug, not sampling."""
    from actuarial_reserve_modelling_spark.operators.dedup import minhash_near_dup_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["d1"], r["d2"])
        for r in minhash_near_dup_pairs(
            sdf, threshold=threshold, bands=32, rows_per_band=2
        ).collect()
    }
    expected = set()
    sets = [frozenset(t) for t in docs]
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            union = sets[i] | sets[j]
            if not union:
                continue
            jac = len(sets[i] & sets[j]) / len(union)
            if jac >= threshold:
                expected.add((i, j))
    assert got == expected


@_slow
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_dedup_clusters_equals_union_find(spark, edges):
    """Large-star/small-star connected components must agree with a plain
    union-find on arbitrary graphs: paths, cycles, self-loops, parallel
    edges, multiple components."""
    from actuarial_reserve_modelling_spark.operators.dedup import dedup_clusters

    clean = [(a, b) for a, b in edges if a != b]
    if not clean:
        return
    sdf = spark.createDataFrame(clean, "d1 long, d2 long")
    got = {r["doc_id"]: r["rep_id"] for r in dedup_clusters(sdf).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in clean:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: find(v) for v in parent}
    assert got == expected


@_slow
@given(
    toks=st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=60),
    cap=st.integers(min_value=8, max_value=600),
)
def test_pack_sequences_matches_python_reference(spark, toks, cap):
    """pack_sequences equals the sequential concatenate-and-chunk
    reference for arbitrary token counts and capacities."""
    from actuarial_reserve_modelling_spark.operators.traindata import pack_sequences

    rows = [(i, "s", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "tok_cnt"])
    got = {
        r["doc_id"]: (r["seq_id"], r["seq_off"], r["straddles"])
        for r in pack_sequences(df, tok_col="tok_cnt", capacity=cap).collect()
    }
    start = 0
    for i, t in enumerate(toks):
        seq_id, seq_off = start // cap, start % cap
        straddles = (start + max(t, 1) - 1) // cap != seq_id
        assert got[i] == (seq_id, seq_off, straddles), (i, t, got[i])
        start += t


@_slow
@given(
    langs=st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=40),
    frac=st.floats(min_value=0.05, max_value=0.95),
)
@pytest.mark.slow
def test_stratified_sample_quota_property(spark, langs, frac):
    """Every stratum contributes exactly ceil(frac·n) rows, regardless
    of strata sizes and fraction."""
    import math

    from pyspark.sql import functions as SF

    from actuarial_reserve_modelling_spark.operators.traindata import stratified_sample

    rows = [(i, lang) for i, lang in enumerate(langs)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    sizes = {r["lang"]: r["n"] for r in df.groupBy("lang").agg(SF.count("*").alias("n")).collect()}
    got = {
        r["lang"]: r["n"]
        for r in stratified_sample(df, "lang", frac)
        .groupBy("lang")
        .agg(SF.count("*").alias("n"))
        .collect()
    }
    for lang, n in sizes.items():
        assert got.get(lang, 0) == math.ceil(frac * n), (lang, n, frac)


@_slow
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["red", "green", "blue", "cyan", "teal", "plum"]),
                 min_size=1, max_size=8),
        min_size=2, max_size=10,
    ),
    max_hamming=st.sampled_from([0, 1, 3]),
)
@pytest.mark.slow
def test_simhash_banded_equals_bruteforce_hamming(spark, docs, max_hamming):
    """The banded pigeonhole join (with the round-5 in-expansion verify)
    must equal brute-force Hamming over the same fingerprints — the
    blocking is exact, not probabilistic."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dup_pairs,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["d1"], r["d2"], r["hamming"])
        for r in simhash_near_dup_pairs(sdf, max_hamming=max_hamming).collect()
    }
    fps = {r["doc_id"]: r["fp"] for r in simhash_fingerprints(sdf).collect()}
    expected = set()
    ids = sorted(fps)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            h = bin(fps[ids[a]] ^ fps[ids[b]]).count("1")
            if h <= max_hamming:
                expected.add((ids[a], ids[b], h))
    assert got == expected


@_slow
@given(
    texts=st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=12),
        min_size=2, max_size=10,
    ),
    threshold=st.sampled_from([0.5, 0.8, 1.0]),
)
@pytest.mark.slow
def test_ngram_prefix_filter_equals_bruteforce(spark, texts, threshold):
    """Prefix-filter blocked n-gram Jaccard (with the round-5 size
    prune) must equal brute-force all-pairs over distinct char 3-gram
    sets; sub-3-char docs are excluded by contract."""
    from actuarial_reserve_modelling_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["d1"], r["d2"])
        for r in ngram_jaccard_pairs(sdf, n=3, threshold=threshold).collect()
    }
    grams = {
        i: frozenset(t[j : j + 3] for j in range(len(t) - 2))
        for i, t in rows
        if len(t) >= 3
    }
    expected = set()
    ids = sorted(grams)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = grams[ids[x]], grams[ids[y]]
            if a | b and len(a & b) / len(a | b) >= threshold:
                expected.add((ids[x], ids[y]))
    assert got == expected


@_slow
@given(
    texts=st.lists(
        st.text(alphabet="ab", min_size=0, max_size=10),
        min_size=2, max_size=8,
    ),
    max_dist=st.sampled_from([1, 2]),
)
@pytest.mark.slow
def test_levenshtein_qgram_equals_bruteforce(spark, texts, max_dist):
    """ED-Join q-gram blocking must equal brute-force edit distance over
    all pairs of strings meeting the length contract (n >= q*(d+1));
    shorter strings are excluded by contract."""
    from actuarial_reserve_modelling_spark.operators.dedup import levenshtein_pairs

    q = 2
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, head string")
    got = {
        (r["d1"], r["d2"], r["dist"])
        for r in levenshtein_pairs(sdf, max_dist=max_dist, q=q).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    min_len = q * (max_dist + 1)
    elig = [(i, t) for i, t in rows if len(t) >= min_len]
    expected = set()
    for x in range(len(elig)):
        for y in range(x + 1, len(elig)):
            (i, a), (j, b) = elig[x], elig[y]
            d = lev(a, b)
            if d <= max_dist:
                expected.add((min(i, j), max(i, j), d))
    assert got == expected


@_slow
@given(
    texts=st.lists(
        st.text(alphabet="abc", min_size=0, max_size=20),
        min_size=1, max_size=6,
    ),
)
@pytest.mark.slow
def test_winnowing_equals_reference(spark, texts):
    """winnowing_fingerprints must equal a pure-Python reference of the
    same spec: md5-60-bit k-gram hashes, min over each sliding window
    of `window` hashes, distinct per doc; docs shorter than k emit
    nothing; docs with fewer than `window` grams emit one global min."""
    import hashlib

    from actuarial_reserve_modelling_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    k, window = 4, 3
    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["fp_hash"])
        for r in winnowing_fingerprints(sdf, k=k, window=window).collect()
    }
    expected = set()
    for i, t in rows:
        if len(t) < k:
            continue
        hs = [
            int(hashlib.md5(t[j : j + k].encode()).hexdigest()[:15], 16)
            for j in range(len(t) - k + 1)
        ]
        if len(hs) <= window:
            expected.add((i, min(hs)))
        else:
            for s in range(len(hs) - window + 1):
                expected.add((i, min(hs[s : s + window])))
    assert got == expected


@_slow
@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5),  # tiny vocab -> dense repeats
            min_size=0,
            max_size=18,
        ),
        min_size=1,
        max_size=14,
    ),
    w=st.integers(min_value=2, max_value=4),
)
@pytest.mark.slow
def test_repeated_span_removal_matches_python_reference(spark, docs, w):
    """repeated_span_removal agrees with a direct pure-Python
    implementation of the contract (overlapping w-token windows with
    corpus occurrence count ≥ 2 mark ranges; overlapping marks merge;
    kept tokens reassemble in order) on randomized tiny-vocab corpora
    where repeats and overlaps are dense."""
    from actuarial_reserve_modelling_spark.operators.dedup import (
        repeated_span_removal,
    )

    texts = [" ".join(f"w{t}" for t in toks) for toks in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_spans"], r["n_masked"], r["cleaned"])
        for r in repeated_span_removal(df, span_words=w, min_count=2).collect()
    }

    # reference
    from collections import Counter

    toks = {i: [x for x in t.split(" ") if x] for i, t in rows}
    counts = Counter()
    for i, ts in toks.items():
        for s in range(len(ts) - w + 1):
            counts[tuple(ts[s : s + w])] += 1
    expect = {}
    for i, ts in toks.items():
        marks = [
            (s + 1, s + 1 + w)  # 1-based [s, e)
            for s in range(len(ts) - w + 1)
            if counts[tuple(ts[s : s + w])] >= 2
        ]
        spans = []
        for s, e in sorted(marks):
            if spans and s <= spans[-1][1]:
                spans[-1] = (spans[-1][0], max(spans[-1][1], e))
            else:
                spans.append((s, e))
        masked = set()
        for s, e in spans:
            masked.update(range(s, e))
        kept = [t for j, t in enumerate(ts, start=1) if j not in masked]
        expect[i] = (
            len(ts),
            len(spans),
            sum(e - s for s, e in spans),
            " ".join(kept),
        )
    assert got == expect


@_slow
@given(
    docs=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=4),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=12,
    ),
    seg=st.integers(min_value=2, max_value=4),
    max_df=st.integers(min_value=1, max_value=3),
)
@pytest.mark.slow
def test_segment_dedup_matches_python_reference(spark, docs, seg, max_df):
    """segment_dedup agrees with a direct pure-Python implementation
    (disjoint seg-word windows; drop segments whose DISTINCT-document
    frequency exceeds max_df; reassemble in order; token-less docs
    return (0, 0, ''))."""
    from actuarial_reserve_modelling_spark.operators.dedup import segment_dedup

    texts = [" ".join(f"w{t}" for t in toks) for toks in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["n_segments"], r["n_dropped"], r["cleaned"])
        for r in segment_dedup(df, seg_words=seg, max_df=max_df).collect()
    }

    toks = {i: [x for x in t.split(" ") if x] for i, t in rows}
    seg_docs: dict[tuple, set] = {}
    segs_of = {}
    for i, ts in toks.items():
        segs = [tuple(ts[s : s + seg]) for s in range(0, len(ts), seg)]
        segs_of[i] = segs
        for sg in segs:
            seg_docs.setdefault(sg, set()).add(i)
    expect = {}
    for i, ts in toks.items():
        segs = segs_of[i]
        kept = [sg for sg in segs if len(seg_docs[sg]) <= max_df]
        expect[i] = (
            len(segs),
            len(segs) - len(kept),
            " ".join(" ".join(sg) for sg in kept),
        )
    assert got == expect


@pytest.mark.slow
def test_registry_outputs_are_driver_canonicalizable(registry_run):
    """Driver-harness compat gate (VERDICT r7 #6): the driver
    canonicalizes every checked query's output in pandas — sort_values
    over ALL columns, then an order-insensitive value hash — which
    CRASHES on non-scalar cells (r7's one red row: l30's
    ``dims array<int>`` hit ``TypeError: unhashable type: 'list'``).
    Non-scalar cells are exactly the Array/Map/Struct columns, so the
    schema is a complete static witness: build every registry query's
    plan at sf0.001 and assert each output field is atomic. Catches
    the whole bug class pre-driver. The plans come from the shared
    ``registry_run`` fixture, which also runs them for
    ``test_all_queries_run_at_smoke_sf``."""
    from pyspark.sql import types as T

    bad: dict[str, list[str]] = {}
    failed: dict[str, str] = {}
    for name, r in registry_run.items():
        if r.build_error is not None:  # building the plan must not crash either
            failed[name] = r.build_error
            continue
        nonscalar = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in r.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if nonscalar:
            bad[name] = nonscalar
    assert not failed, f"query builders crashed at sf0.001: {failed}"
    assert not bad, f"non-scalar (driver-uncanonicalizable) output columns: {bad}"


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    words=st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=6), min_size=3, max_size=30
    ),
    k=st.integers(min_value=1, max_value=6),
)
def test_bpe_batched_equals_pure_python_sequential(spark, words, k):
    """The r10 batched BPE trainer must equal a pure-Python
    one-merge-at-a-time reference on ARBITRARY corpora — the tiny
    alphabet forces dense pair collisions, self-pairs ('aa'), and
    created-pair races, exactly the cases the batching guard must
    refuse to batch."""
    from collections import Counter

    from actuarial_reserve_modelling_spark.operators.traindata import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], ["doc_id", "text"]
    )
    got = bpe_train_merges(docs, k=k, batch_m=8)

    freqs = Counter(w for w in words if w)
    vocab = {tuple(w): n for w, n in freqs.items()}
    expected = []
    for _ in range(k):
        pairs = Counter()
        for sym, n in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += n
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((a, b, n))
        nv = {}
        for sym, cnt in vocab.items():
            out, i = [], 0
            while i < len(sym):
                if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            key = tuple(out)
            nv[key] = nv.get(key, 0) + cnt
        vocab = nv
    assert got == expected, (words, k, got, expected)


def test_spread_for_kernel_is_size_adaptive(spark):
    """r14 optimization contract: the pre-kernel repartition is sized
    from Catalyst's plan-size stat — a tiny scan is NOT exchanged (the
    32-way Arrow stage would cost more in Python-worker round-trips
    than the kernel computes), a CPU-dense kernel (small
    bytes_per_task) still spreads wide, and an unknown-size input
    (checkpointed RDD scan) keeps the conservative full spread."""
    from actuarial_reserve_modelling_spark.catalog import load_table
    from actuarial_reserve_modelling_spark.operators import (
        _plan_size_bytes,
        spread_for_kernel,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    size = _plan_size_bytes(docs)
    assert size is not None and 0 < size < (1 << 30)  # a real, small stat

    cores = spark.sparkContext.defaultParallelism
    # tiny input + vectorized-kernel default budget: no exchange at all
    assert (
        spread_for_kernel(docs).rdd.getNumPartitions()
        == docs.rdd.getNumPartitions()
    )
    # CPU-dense kernel: the small budget forces the full spread
    assert spread_for_kernel(docs, bytes_per_task=1).rdd.getNumPartitions() == cores
    # mid-density: the target scales with ceil(size / budget)
    budget = max(1, size // 3)
    expected = min(cores, -(-size // budget))
    assert (
        spread_for_kernel(docs, bytes_per_task=budget).rdd.getNumPartitions()
        == expected
    )
    # checkpointed inputs keep a real (propagated) stat — they adapt too
    ck = docs.localCheckpoint(eager=False)
    ck_size = _plan_size_bytes(ck)
    assert ck_size is not None and 0 < ck_size < (1 << 30)
    # unknown size (raw RDD-backed input, no stat): conservative full spread
    rdd_df = spark.createDataFrame(
        spark.sparkContext.parallelize([(1, "a"), (2, "b")], 2),
        "doc_id long, text string",
    )
    if _plan_size_bytes(rdd_df) is None:
        assert spread_for_kernel(rdd_df).rdd.getNumPartitions() == cores
