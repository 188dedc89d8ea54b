"""blastp scoring fidelity: BLOSUM62 values and the published ungapped
Karlin-Altschul parameters, pinned so a drift in the embedded tables
fails loudly; when NCBI BLAST+ is on PATH, bitscores are compared to
``blastp -outfmt 6`` directly (gated, like the NCBI kernel itself).
"""

import math

import pytest
from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel import ncbi
from mr_mpi_blast_spark.kernel.builtin import (KA_BLOSUM62, KA_NUCL_1_2,
                                               blosum62_score,
                                               karlin_altschul_bitscore,
                                               scoring_params)

# spot values straight from the published BLOSUM62 table
#   (Henikoff & Henikoff 1992; NCBI data/BLOSUM62)
B62_SPOTS = [("A", "A", 4), ("W", "W", 11), ("C", "C", 9), ("P", "P", 7),
             ("A", "R", -1), ("W", "C", -2), ("N", "D", 1), ("E", "Q", 2),
             ("I", "L", 2), ("K", "R", 2), ("F", "Y", 3), ("D", "E", 2),
             ("G", "P", -2), ("H", "Y", 2), ("*", "*", 1), ("A", "*", -4),
             ("B", "N", 3), ("Z", "E", 4), ("X", "X", -1)]


@pytest.mark.parametrize("a,b,want", B62_SPOTS)
def test_blosum62_spot_values(a, b, want):
    assert blosum62_score(a, b) == want
    assert blosum62_score(b, a) == want          # symmetric
    assert blosum62_score(a.lower(), b.lower()) == want


def test_blosum62_unknown_chars_score_as_x():
    assert blosum62_score(" ", "A") == blosum62_score("X", "A")
    assert blosum62_score("7", "!") == blosum62_score("X", "X")
    assert blosum62_score("J", "J") == blosum62_score("X", "X")


def test_ka_params_pinned():
    """The published ungapped constants: blastn +1/-2 and BLOSUM62."""
    assert KA_NUCL_1_2 == (1.33, 0.621, 1.12)
    assert KA_BLOSUM62 == (0.3176, 0.134, 0.4012)
    assert scoring_params(BlastConfig(task="blastp")) == KA_BLOSUM62
    assert scoring_params(BlastConfig(task="blastn")) == KA_NUCL_1_2


def test_bitscore_formula_blastp():
    """bit = (lambda*S - ln K)/ln 2 with BLOSUM62 constants: a raw
    score of 100 is 48.72 bits (hand-computed from the published
    lambda=0.3176, K=0.134)."""
    bit = karlin_altschul_bitscore(100, KA_BLOSUM62)
    want = (0.3176 * 100 - math.log(0.134)) / math.log(2.0)
    assert bit == pytest.approx(want, rel=1e-12)
    assert bit == pytest.approx(48.7197, abs=5e-4)


def test_blastp_self_alignment_scores_diagonal(spark):
    """An exact protein self-match scores the sum of diagonal BLOSUM62
    entries — the seed/extension path must use the matrix, not +1/-2."""
    from mr_mpi_blast_spark.plans.pipeline import run_search
    pep = "MKVLAAGITWYHRDENPQCS" * 10                 # 200 residues
    queries = spark.createDataFrame(
        [(1, "q", "q", pep, len(pep))],
        "qid long, defline string, defline_part string, seq string, length int")
    subjects = spark.createDataFrame(
        [("s_self", "s_self", "p0", pep, len(pep)),
         ("s_other", "s_other", "p0", "G" * 200, 200)],
        "sid string, defline string, db_part string, seq string, length int")
    cfg = BlastConfig(task="blastp", word_size=8, evalue=10.0,
                      max_kmer_hits=512)
    hits = run_search(queries, subjects, cfg)
    top = hits.filter(F.col("sid") == "s_self") \
              .orderBy(F.col("bitscore").desc()).first()
    diag = sum(blosum62_score(c, c) for c in pep)
    lam, k, _ = KA_BLOSUM62
    assert top.ident == 100.0
    assert top.bitscore == pytest.approx(
        (lam * diag - math.log(k)) / math.log(2.0), rel=1e-9)


@pytest.mark.skipif(not ncbi.available("blastp"),
                    reason="NCBI BLAST+ not installed")
def test_blastp_bitscore_matches_ncbi(spark):      # pragma: no cover
    """Golden vs the real engine when present: ungapped blastp on an
    exact match reports the same bitscore within BLAST's rounding."""
    pep = "MKVLAAGITWYHRDENPQCS" * 10
    queries = spark.createDataFrame(
        [(1, "q", "q", pep, len(pep))],
        "qid long, defline string, defline_part string, seq string, length int")
    subjects = spark.createDataFrame(
        [("s_self", "s_self", "p0", pep, len(pep))],
        "sid string, defline string, db_part string, seq string, length int")
    cfg = BlastConfig(task="blastp", word_size=8, evalue=10.0)
    ours = run_search(queries, subjects, cfg).orderBy(
        F.col("bitscore").desc()).first()
    theirs = ncbi.run_search_ncbi(queries, subjects, cfg).orderBy(
        F.col("bitscore").desc()).first()
    assert ours.bitscore == pytest.approx(theirs.bitscore, rel=0.02)


def test_vectorized_extension_equals_sequential():
    """The batched numpy X-drop extension (_extend_batch) is
    semantics-identical to the reference sequential walk (first-maximum
    ties, strict improvement, drop break) on odd alphabets (lowercase,
    punctuation, chars outside BLOSUM62) — including across chunk
    boundaries. Every random (query, subject, seed) trial joins one
    batch, each side sentinel-separated the way align_block lays out
    a query block and a volume."""
    import random

    import numpy as np

    from kernel_reference import _extend_rows
    from mr_mpi_blast_spark.kernel.builtin import (_B62_SENT, _b62_row,
                                                   _extend_batch,
                                                   encode_protein)
    rng = random.Random(7)
    alpha = "ARNDCQEGHILKMFPSTWYVBZX abcdefg!?"
    trials, want = [], []
    for _ in range(800):
        n = rng.randint(20, 300)
        q = "".join(rng.choice(alpha) for _ in range(n))
        s = list("".join(rng.choice(alpha)
                         for _ in range(rng.randint(20, 300))))
        k = rng.randint(3, 8)
        qpos = rng.randint(0, n - k)
        spos = rng.randint(0, len(s) - k)
        s[spos:spos + k] = q[qpos:qpos + k]
        s = "".join(s)
        xdrop = rng.choice([5, 20, 100, 2000])
        qrows = [_b62_row(c) for c in q]
        seed = sum(qrows[qpos + i][q[qpos + i]] for i in range(k))
        trials.append((q, s, qpos, spos, k, seed, xdrop))
        want.append(_extend_rows(q, s, qpos, spos, k, qrows, seed, xdrop))

    def cat(seqs):
        ords, rows, offs, cursor = [], [], [], 0
        for x in seqs:
            o, r = encode_protein(x)
            ords += [o, np.array([-1], dtype=np.int32)]
            rows += [r, np.array([_B62_SENT])]
            offs.append(cursor)
            cursor += len(x) + 1
        return np.concatenate(ords), np.concatenate(rows), np.array(offs)

    qo, qi, qoff = cat([t[0] for t in trials])
    so, si, soff = cat([t[1] for t in trials])
    qpos, spos, k, seed, xdrops = (np.array([t[j] for t in trials])
                                   for j in range(2, 7))
    for chunks in ({}, {"chunk": 3, "chunk_max": 3}):
        # tiny chunks stress the cross-chunk best/drop carry
        got = []
        for xd in np.unique(xdrops):
            sel = np.flatnonzero(xdrops == xd)
            q0, g0 = qoff[sel] + qpos[sel], soff[sel] + spos[sel]
            gr, er, mr = _extend_batch(qi, qo, si, so, q0 + k[sel],
                                       g0 + k[sel], +1, int(xd), **chunks)
            gl, el, ml = _extend_batch(qi, qo, si, so, q0 - 1, g0 - 1, -1,
                                       int(xd), **chunks)
            qs = qpos[sel] - el
            qe = qpos[sel] + k[sel] - 1 + er
            ss = spos[sel] - el
            got += list(zip(sel.tolist(), zip(
                (seed[sel] + gr + gl).tolist(), qs.tolist(), qe.tolist(),
                ss.tolist(), (ss + qe - qs).tolist(),
                (k[sel] + mr + ml).tolist())))
        assert [g for _, g in sorted(got)] == want, chunks
