"""Gapped (affine) extension: exact-arithmetic checks of the Gotoh DP
and the stage-2 hookup in align_block. No Spark session needed."""
import dataclasses

import pytest

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, _B62, _B62_IDX,
                                               align_block, gotoh_local_batch)

# 20 distinct residues inside the BLOSUM62 alphabet
RES = "ARNDCQEGHILKMFPSTWYV"


def _self_score(s: str) -> int:
    return int(sum(_B62[_B62_IDX[ord(c)], _B62_IDX[ord(c)]] for c in s))


def _gotoh_one(a, b, *scoring):
    """The production DP on a single window."""
    return gotoh_local_batch([(a, b)], *scoring)[0]


def _hits(q, idx, cfg):
    return list(align_block([(1, q)], idx, cfg).itertuples(index=False,
                                                          name=None))


def test_gotoh_exact_match_is_ungapped():
    score, a0, a1, b0, b1, ident, gaps, aln = _gotoh_one(
        RES, RES, True, 1, -2, 11, 1)
    assert (score, ident, gaps, aln) == (_self_score(RES), 20, 0, 20)
    assert (a0, a1, b0, b1) == (0, 19, 0, 19)


def test_gotoh_single_insertion_exact_arithmetic():
    """b carries one extra residue mid-sequence: the optimal local
    alignment bridges it with a length-1 gap costing open+extend."""
    a = RES
    b = RES[:10] + "W" + RES[10:]
    score, a0, a1, b0, b1, ident, gaps, aln = _gotoh_one(
        a, b, True, 1, -2, 11, 1)
    assert score == _self_score(RES) - (11 + 1)
    assert (ident, gaps, aln) == (20, 1, 21)
    assert (a0, a1) == (0, 19)
    assert (b0, b1) == (0, 20)


def test_gotoh_gap_extension_linear_in_length():
    a = RES
    for glen in (1, 2, 3):
        b = RES[:10] + "W" * glen + RES[10:]
        score, *_rest, gaps, aln = _gotoh_one(a, b, True, 1, -2, 11, 1)
        assert score == _self_score(RES) - (11 + glen)
        assert gaps == glen and aln == 20 + glen


def test_gotoh_blastn_scoring():
    a = "ACGTACGTACGTACGTACGT"
    b = a[:10] + "T" + a[10:]
    score, *_rest, ident, gaps, aln = _gotoh_one(a, b, False, 1, -2, 5, 2)
    assert score == 20 - (5 + 2)
    assert (ident, gaps, aln) == (20, 1, 21)


def test_gotoh_prefers_mismatch_over_expensive_gap():
    """With a cheap substitution available, the DP must not open a
    gap: one mismatch (-2 vs ~-7 for open+ext) wins."""
    a = "ACGTACGTACGTACGTACGT"
    b = a[:10] + "T" + a[11:]      # substitution, same length
    score, *_rest, ident, gaps, aln = _gotoh_one(a, b, False, 1, -2, 5, 2)
    assert gaps == 0 and aln == 20
    assert score == 19 - 2 and ident == 19


def test_align_query_gapped_bridges_insertion():
    """End-to-end stage-2: ungapped seeds on either side of an
    insertion merge into ONE gapped HSP spanning the whole homology."""
    q = RES * 2                                   # 40 residues
    s = RES + "W" + RES                           # insertion at 20
    cfg = BlastConfig(task="blastp", word_size=8, gapped=True,
                      min_score=10, max_kmer_hits=64)
    idx = SubjectIndex([("s1", s)], 8, 64, protein=True)
    hits = _hits(q, idx, cfg)
    best = max(hits, key=lambda h: h[2])
    score, align_len, ident, gaps = best[2], best[3], best[4], best[5]
    assert gaps == 1 and align_len == 41 and ident == 40
    assert score == _self_score(RES) * 2 - (11 + 1)
    # full span on both sides (0-based inclusive)
    assert (best[6], best[7]) == (0, 39)          # qstart0, qend0
    assert (best[8], best[9]) == (0, 40)          # sstart0, send0


def test_align_query_default_stays_ungapped():
    q = RES * 2
    s = RES + "W" + RES
    cfg = BlastConfig(task="blastp", word_size=8, min_score=10)
    idx = SubjectIndex([("s1", s)], 8, 64, protein=True)
    hits = _hits(q, idx, cfg)
    assert hits and all(h[5] == 0 for h in hits)   # gaps column all 0


def test_scoring_params_keyed_on_gap_costs():
    """blast_stat.c semantics: gapped (lambda, K, H) is a function of
    the actual gap costs. Pin the published blosum62_values rows for
    the default (11,1) and the common alternative (10,2)."""
    import math
    from mr_mpi_blast_spark.kernel.builtin import scoring_params

    p11_1 = scoring_params(BlastConfig(task="blastp", gapped=True))
    assert p11_1 == (0.267, 0.041, 0.14)
    p10_2 = scoring_params(BlastConfig(task="blastp", gapped=True,
                                       gap_open=10, gap_extend=2))
    assert p10_2 == (0.291, 0.075, 0.23)
    # bitscore = (lambda*S - ln K) / ln 2 with the row's constants:
    # raw 100 under (11,1) vs (10,2) differ by the published params
    lam, k, _ = p11_1
    assert round((lam * 100 - math.log(k)) / math.log(2), 2) == 43.13
    lam, k, _ = p10_2
    assert round((lam * 100 - math.log(k)) / math.log(2), 2) == 45.72


def test_scoring_params_rejects_unknown_gap_costs():
    import pytest
    from mr_mpi_blast_spark.kernel.builtin import scoring_params

    with pytest.raises(ValueError, match="gap"):
        scoring_params(BlastConfig(task="blastp", gapped=True,
                                   gap_open=7, gap_extend=1))
    with pytest.raises(ValueError, match="gap"):
        scoring_params(BlastConfig(task="blastn", gapped=True,
                                   gap_open=4, gap_extend=4))
    # ungapped never consults the gapped table
    assert scoring_params(BlastConfig(task="blastp", gap_open=7,
                                      gap_extend=1))


def test_run_search_gapped_pipeline(spark):
    """Full pipeline with gapped=True: gaps column carries real gap
    counts, e-values use the gapped K-A row, schema unchanged."""
    from pyspark.sql import Row
    from mr_mpi_blast_spark.plans.pipeline import run_search

    q = RES * 3
    s_ins = RES + "W" + RES + RES          # one insertion
    queries = spark.createDataFrame([Row(
        qid=1, defline="q1", defline_part="q1", seq=q, length=len(q))])
    subjects = spark.createDataFrame([
        Row(sid="s1", defline="s1", db_part="p0", seq=s_ins,
            length=len(s_ins))])
    cfg = BlastConfig(task="blastp", word_size=8, gapped=True,
                      min_score=10, evalue=10.0)
    hits = run_search(queries, subjects, cfg).collect()
    assert hits
    best = max(hits, key=lambda h: h.bitscore)
    assert best.gaps == 1
    assert best.align_len == len(q) + 1


def test_ka_gapped_explicit_override():
    """Cost pairs absent from the builtin tables run when the user
    supplies the (lambda, K, H) row explicitly; the override also wins
    over a table row when both exist."""
    import pytest as _pytest
    from mr_mpi_blast_spark.kernel.builtin import (KA_GAPPED_BLOSUM62,
                                                   scoring_params)
    # blastn at (2,1): no builtin row -> loud failure without override
    cfg = BlastConfig(task="blastn", gapped=True, gap_open=2, gap_extend=1)
    with _pytest.raises(ValueError, match="ka_gapped"):
        scoring_params(cfg)
    row = (1.28, 0.46, 0.85)
    cfg2 = dataclasses.replace(cfg, ka_gapped=row)
    assert scoring_params(cfg2) == row
    # override precedence over an existing table row
    cfgp = BlastConfig(task="blastp", gapped=True, ka_gapped=row)
    assert scoring_params(cfgp) == row
    assert scoring_params(dataclasses.replace(cfgp, ka_gapped=None)) \
        == KA_GAPPED_BLOSUM62[(11, 1)]


def test_gotoh_vectorized_equals_scalar_reference():
    """The anti-diagonal sweep must reproduce the per-cell reference
    exactly — score, coordinates, identity/gap counts — on random
    protein and DNA pairs with planted homologies, across gap costs."""
    import numpy as np

    from kernel_reference import _gotoh_local_scalar
    rng = np.random.default_rng(11)
    RES = "ARNDCQEGHILKMFPSTWYV"
    by_scheme: dict = {}
    for t in range(150):
        protein = t % 2 == 0
        alpha = RES if protein else "ACGT"
        la = int(rng.integers(0, 70))
        a = "".join(rng.choice(list(alpha), size=la))
        b = "".join(rng.choice(list(alpha), size=int(rng.integers(0, 70))))
        if rng.random() < 0.5 and la > 10:
            b = a[2:min(la, 40)] + b[:20]      # shared block -> gaps
        go = int(rng.integers(1, 12))
        ge = int(rng.integers(1, 4))
        by_scheme.setdefault((protein, go, ge), []).append((a, b))
    for (protein, go, ge), pairs in by_scheme.items():
        got = gotoh_local_batch(pairs, protein, 1, -2, go, ge)
        for (a, b), g in zip(pairs, got):
            assert g == _gotoh_local_scalar(a, b, protein, 1, -2, go, ge), \
                (a, b)


@pytest.mark.slow
def test_gotoh_batch_equals_per_window():
    """The cross-window batched forward sweep (gotoh_local_batch) must
    be bit-identical to the per-cell reference on every window —
    scores, coordinates, identity/gap counts, and the row-major
    first-maximal tie-break — for mixed-size batches, empty strings,
    protein and DNA alphabets, and both gap-cost regimes. Also pins
    the tile split (batches larger than one tile) and
    gapped_extend_batch's pad ladder against the per-HSP one."""
    import numpy as np

    from kernel_reference import _gotoh_local_scalar, gapped_extend
    from mr_mpi_blast_spark.kernel.builtin import gapped_extend_batch
    rng = np.random.default_rng(23)
    RES = "ARNDCQEGHILKMFPSTWYV"
    for protein, (go, ge) in [(True, (11, 1)), (False, (5, 2))]:
        alpha = list(RES if protein else "ACGT")
        rew, pen = (1, -2) if protein else (2, -3)
        pairs = [("", "A"), ("A", ""), ("A", "A")]
        for _ in range(200):
            a = "".join(rng.choice(alpha, size=int(rng.integers(0, 150))))
            if rng.random() < 0.5 and len(a) > 20:
                seg = a[5:5 + int(rng.integers(10, min(60, len(a))))]
                b = ("".join(rng.choice(alpha, size=int(rng.integers(0, 30))))
                     + seg
                     + "".join(rng.choice(alpha, size=int(rng.integers(0, 30)))))
            else:
                b = "".join(rng.choice(alpha, size=int(rng.integers(0, 150))))
            pairs.append((a, b))
        got = gotoh_local_batch(pairs, protein, rew, pen, go, ge)
        want = [_gotoh_local_scalar(a, b, protein, rew, pen, go, ge)
                for a, b in pairs]
        assert got == want

    from mr_mpi_blast_spark.config import BlastConfig
    cfg = BlastConfig(task="blastp", gapped=True)
    items = []
    for _ in range(60):
        q = "".join(rng.choice(list(RES), size=int(rng.integers(40, 300))))
        s = "".join(rng.choice(list(RES), size=int(rng.integers(40, 300))))
        if len(q) > 70 and len(s) > 70:
            s = s[:5] + q[10:60] + s[55:]      # forces pad growth
        qs = int(rng.integers(0, len(q) - 10))
        ss = int(rng.integers(0, len(s) - 10))
        items.append((q, s, qs, min(len(q) - 1, qs + 8),
                      ss, min(len(s) - 1, ss + 8)))
    assert gapped_extend_batch(items, cfg) == \
        [gapped_extend(*it, cfg) for it in items]
