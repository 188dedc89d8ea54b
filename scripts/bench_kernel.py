#!/usr/bin/env python
"""Kernel micro-bench: the block path (``align_block``, the kernel's
only alignment entry point) against the per-seed sequential reference
(tests/kernel_reference.py), over exact-word, neighborhood
(-threshold), two-hit, blastn and gapped configs on deterministic
synthetic protein and DNA corpora (no Spark session — pure kernel
throughput, single thread).

    python scripts/bench_kernel.py

Prints one JSON line, per config:
  {"block_s": best of 3 over the whole query list in one call,
   "sequential_s": one pass of the reference, query by query,
   "block_speedup": sequential_s / block_s, "hits": n}

Both sides must report the same hit count (parity itself is pinned
by tests/test_batched_parity.py). The reference is timed once: it is
a readable oracle, not a contender, and its gapped blastn pass alone
takes minutes. At word_size=3/T=11 the neighborhood yields ~500x more
seed hits than exact w4 on the same corpus (every query word seeds on
~65 neighbor words), so wall-clock is not comparable across configs —
per-hit cost is.
"""

import json
import os
import sys
import time

import numpy as np

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_ROOT, os.path.join(_ROOT, "tests")]

from kernel_reference import _align_query_sequential  # noqa: E402
from mr_mpi_blast_spark.config import BlastConfig  # noqa: E402
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex,  # noqa: E402
                                               align_block)

RES20 = "ARNDCQEGHILKMFPSTWYV"


def _corpus(seed=7, n_subjects=60, sub_len=400, n_queries=30, q_len=150):
    rng = np.random.default_rng(seed)

    def rp(n):
        return "".join(rng.choice(list(RES20), size=n))

    def mut(s, r):
        out = list(s)
        for i in range(len(out)):
            if rng.random() < r:
                out[i] = RES20[rng.integers(20)]
        return "".join(out)

    subjects = [(f"s{i}", rp(sub_len)) for i in range(n_subjects)]
    queries = []
    for qn in range(n_queries):
        src = subjects[rng.integers(n_subjects)][1]
        a = int(rng.integers(0, sub_len - q_len))
        queries.append((qn, mut(src[a:a + q_len], 0.1)))
    return subjects, queries


def _corpus_dna(seed=7, n_subjects=60, sub_len=2000, n_queries=30,
                q_len=300):
    from mr_mpi_blast_spark.kernel.builtin import revcomp
    rng = np.random.default_rng(seed)
    nucs = "ACGT"
    subjects = [(f"s{i}", "".join(rng.choice(list(nucs), size=sub_len)))
                for i in range(n_subjects)]
    queries = []
    for qn in range(n_queries):
        src = subjects[rng.integers(n_subjects)][1]
        a = int(rng.integers(0, sub_len - q_len))
        frag = "".join(c if rng.random() > 0.05 else nucs[rng.integers(4)]
                       for c in src[a:a + q_len])
        queries.append((qn, revcomp(frag) if qn % 2 else frag))
    return subjects, queries


def main():
    prot_subjects, prot_queries = _corpus()
    dna_subjects, dna_queries = _corpus_dna()
    out = {}
    for label, cfg in [
        ("exact_w4", BlastConfig(task="blastp", word_size=4)),
        ("nb_w3_t11", BlastConfig(task="blastp", word_size=3,
                                  threshold=11)),
        ("blastn_w8", BlastConfig(task="blastn", word_size=8,
                                  min_score=12)),
        ("blastn_w11", BlastConfig(task="blastn", word_size=11,
                                   min_score=16)),
        ("nb_w3_t11_win40", BlastConfig(task="blastp", word_size=3,
                                        threshold=11, window_size=40)),
        ("exact_w4_gapped", BlastConfig(task="blastp", word_size=4,
                                        gapped=True)),
        ("blastn_w8_gapped", BlastConfig(task="blastn", word_size=8,
                                         min_score=12, reward=2, penalty=-3,
                                         gapped=True)),
    ]:
        if cfg.task == "blastn":
            subjects, queries = dna_subjects, dna_queries
        else:
            subjects, queries = prot_subjects, prot_queries
        idx = SubjectIndex(subjects, cfg.word_size, 4096,
                           protein=cfg.task == "blastp")
        # warm the per-volume caches each side reads (the pipeline
        # reuses them across blocks the same way): the block path's
        # concatenated encodings and neighborhood arrays, the
        # reference's string-keyed index view
        align_block(queries, idx, cfg)
        idx.index
        tblk = float("inf")
        nblk = 0
        for _ in range(3):
            t0 = time.perf_counter()
            nblk = len(align_block(queries, idx, cfg))
            tblk = min(tblk, time.perf_counter() - t0)
        t0 = time.perf_counter()
        ns = sum(len(_align_query_sequential(q, s, idx, cfg))
                 for q, s in queries)
        ts = time.perf_counter() - t0
        assert nblk == ns, (label, nblk, ns)
        out[label] = {"block_s": round(tblk, 3),
                      "sequential_s": round(ts, 3),
                      "block_speedup": round(ts / tblk, 2), "hits": nblk}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
