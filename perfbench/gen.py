"""Seeded input generators with answers known by construction.

Everything here is numpy/pyarrow only: the program under test never sees
the seed, only the files written from it. Each generator plants its
duplicates so that the expected output follows from the construction
alone, without running the program:

* policies: the total reserve has closed-form moments
  (``functions.reserves.analytic_moments``), so a correct total lies within
  k standard errors of the analytic mean;
* documents: every planted near-duplicate is its source with one token
  replaced by a token no other document holds, so its Jaccard similarity is
  exactly (n-1)/(n+1) (59/61 = 0.967 at 60 tokens) and no unplanted pair
  comes near the threshold;
* vectors: every planted twin is its source plus small Gaussian noise, so
  its cosine is far above the threshold while independent 64-d Gaussian
  vectors stay far below it;
* text stream: originals, plus within-batch and cross-batch near and exact
  duplicates whose source arrives no later and has a smaller id, so the
  admitted set of a first-wins ingest gate is exactly the originals.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# token ids >= this are reserved for the one replacement token of each
# planted near-duplicate, so a replacement never occurs in any other doc
_FRESH_BASE = 10_000_000

# the planted constructions: 60-token documents over a 1M-token vocabulary
# (so unplanted pairs share almost no tokens), 64-d vectors with twins at
# noise 0.1, and one planted duplicate per ten inputs
N_TOKENS = 60
VOCAB = 1_000_000
DIM = 64
NOISE = 0.1
DUP_FRAC = 0.1


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so that resizing one input
    never shifts the draws of another."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, tag])


# --------------------------------------------------------------- policies


@dataclass
class Policies:
    ids: list[str]
    terms: np.ndarray  # days, as the reference's `term` column


def policies(seed: int, n: int, salt: str = "") -> Policies:
    """``n`` policies with terms of 1..30 whole years, in days. A ``salt``
    gives an independent input of the same shape (the warm-up's)."""
    rng = _rng(seed, "policies" + salt)
    years = rng.integers(1, 31, size=n)
    return Policies(
        ids=[f"P{salt}{seed:04d}{i:08d}" for i in range(n)],
        terms=years.astype("float64") * 365.0,
    )


def write_policies_csv(p: Policies, out_dir: str, n_files: int) -> None:
    """The reference's 9-column policy CSV contract, header row included,
    split into ``n_files`` files the way its batch jobs receive them."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(p.ids)
    genders = ("M", "F")
    smoking = ("smoker", "non-smoker")
    jobs = ("clerk", "engineer", "teacher", "driver")
    kinds = ("term", "whole")
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lines = ["id,age,gender,smoking_status,occupation,policy_type,"
                 "effective_date,term,premium"]
        for i in range(bounds[f], bounds[f + 1]):
            lines.append(
                f"{p.ids[i]},{30 + i % 40}.0,{genders[i % 2]},{smoking[i % 2]},"
                f"{jobs[i % 4]},{kinds[i % 2]},2020-01-01,{p.terms[i]:.1f},"
                f"{100 + i % 900}.0"
            )
        with open(os.path.join(out_dir, f"policies_{f:03d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def reserve_interval(
    mean: float, var: float, n_trials: int, k: float
) -> tuple[float, float]:
    """Interval a correct Monte Carlo total falls in: the estimator is the
    mean of ``n_trials`` i.i.d. per-trial portfolio totals with the given
    mean and variance, so its standard error is sqrt(var / n_trials)."""
    half = k * (var / n_trials) ** 0.5
    return mean - half, mean + half


# --------------------------------------------------------------- documents


@dataclass
class Docs:
    ids: np.ndarray
    texts: list[str]
    planted: set[tuple[int, int]] = field(default_factory=set)  # (src, dup)


def _text(tokens: np.ndarray) -> str:
    return " ".join(f"w{t}" for t in tokens)


def _distinct_rows(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` rows of ``N_TOKENS`` distinct token ids drawn from ``VOCAB``."""
    out = rng.integers(0, VOCAB, size=(n, N_TOKENS))
    for i in range(n):
        row = out[i]
        while len(np.unique(row)) < N_TOKENS:  # rare at VOCAB >> N_TOKENS
            row = rng.integers(0, VOCAB, size=N_TOKENS)
        out[i] = row
    return out


def _near_dup(rng: np.random.Generator, tokens: np.ndarray, fresh: int) -> np.ndarray:
    """``tokens`` with one position replaced by the unique token ``fresh``."""
    dup = tokens.copy()
    dup[rng.integers(0, len(dup))] = fresh
    return dup


def documents(seed: int, n_base: int, salt: str = "") -> Docs:
    """``n_base`` random documents plus one planted near-duplicate for each
    of ``DUP_FRAC * n_base`` distinct sources; plants take ids after the
    base documents."""
    rng = _rng(seed, "documents" + salt)
    toks = _distinct_rows(rng, n_base)
    n_dup = int(round(DUP_FRAC * n_base))
    src = np.sort(rng.choice(n_base, n_dup, replace=False))
    texts = [_text(t) for t in toks]
    planted = set()
    for k, s in enumerate(src):
        texts.append(_text(_near_dup(rng, toks[s], _FRESH_BASE + k)))
        planted.add((int(s), n_base + k))
    return Docs(ids=np.arange(n_base + n_dup, dtype="int64"), texts=texts, planted=planted)


def jaccard(a: str, b: str) -> float:
    """Token-set Jaccard, the definition the near-dup operators verify."""
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


# ----------------------------------------------------------------- vectors


@dataclass
class Vectors:
    ids: np.ndarray
    vecs: np.ndarray
    planted: set[tuple[int, int]] = field(default_factory=set)  # (src, twin)


def vectors(seed: int, n_base: int, salt: str = "") -> Vectors:
    """``n_base`` standard Gaussian vectors plus a noisy twin for each of
    ``DUP_FRAC * n_base`` distinct sources. At noise 0.1 in 64-d a twin's
    cosine to its source is about 0.995; two independent vectors have
    cosine about N(0, 1/64), far below any near-duplicate threshold."""
    rng = _rng(seed, "vectors" + salt)
    base = rng.standard_normal((n_base, DIM))
    n_twin = int(round(DUP_FRAC * n_base))
    src = np.sort(rng.choice(n_base, n_twin, replace=False))
    twins = base[src] + NOISE * rng.standard_normal((n_twin, DIM))
    planted = {(int(s), n_base + k) for k, s in enumerate(src)}
    return Vectors(
        ids=np.arange(n_base + n_twin, dtype="int64"),
        vecs=np.vstack([base, twins]),
        planted=planted,
    )


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


# ------------------------------------------------------------- text stream


@dataclass
class TextStream:
    batches: list[Docs]
    admitted: set[tuple[int, int]]  # (doc_id, batch) a correct gate admits


def text_stream(seed: int, n_batches: int, per_batch: int, salt: str = "") -> TextStream:
    """``n_batches`` batches of ``per_batch`` documents, ``DUP_FRAC`` of each
    planted. Plants cycle through three kinds: a near-duplicate of an
    original in the same batch, a near-duplicate of an original from an
    earlier batch, and an exact copy of an original from an earlier batch
    (batch 0 has no earlier batch, so it plants within-batch only). Every
    source is used once, arrives no later than its plant and has a smaller
    id, so the first-wins admitted set is exactly the originals."""
    rng = _rng(seed, "text_stream" + salt)
    n_dup = int(round(DUP_FRAC * per_batch))
    n_orig = per_batch - n_dup
    toks = _distinct_rows(rng, n_batches * n_orig)
    unused: list[int] = []  # original rows not yet used as a source
    batches, admitted = [], set()
    next_id, fresh = 0, _FRESH_BASE
    row_id: dict[int, int] = {}
    for b in range(n_batches):
        rows = list(range(b * n_orig, (b + 1) * n_orig))
        ids = list(range(next_id, next_id + n_orig))
        next_id += n_orig
        row_id.update(zip(rows, ids))
        texts = [_text(toks[r]) for r in rows]
        admitted |= {(i, b) for i in ids}
        earlier = np.array(unused, dtype=int)
        here = np.array(rows, dtype=int)
        kinds = [k % 3 if b > 0 else 0 for k in range(n_dup)]
        n_here = sum(1 for k in kinds if k == 0)
        src_here = list(rng.choice(here, n_here, replace=False))
        src_earlier = list(rng.choice(earlier, n_dup - n_here, replace=False)) if b else []
        planted = set()
        for kind in kinds:
            s = src_here.pop() if kind == 0 else src_earlier.pop()
            if kind == 2:
                texts.append(_text(toks[s]))
            else:
                texts.append(_text(_near_dup(rng, toks[s], fresh)))
                fresh += 1
            ids.append(next_id)
            planted.add((row_id[s], next_id))
            next_id += 1
        used = {s for s, _ in planted}
        unused = [r for r in unused + rows if row_id[r] not in used]
        batches.append(Docs(ids=np.array(ids, dtype="int64"), texts=texts, planted=planted))
    return TextStream(batches=batches, admitted=admitted)


# ------------------------------------------------------------------ writers


def write_docs_parquet(d: Docs, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(d.ids, pa.int64()), "text": pa.array(d.texts, pa.string())}),
        path,
    )


def write_vectors_parquet(v: Vectors, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    flat = pa.array(v.vecs.reshape(-1), pa.float64())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, v.vecs.size + 1, v.vecs.shape[1]), pa.int32()), flat
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(v.ids, pa.int64()), "embedding": emb}), path
    )
