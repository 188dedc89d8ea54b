"""Readable reference forms of the builtin alignment kernel.

``kernel.builtin.align_block`` is the kernel's only alignment entry
point: it seeds, extends and (optionally) gap-extends a whole query
block in vectorized batches. This module holds the per-seed and
per-cell forms it is pinned against — one Python iteration per seed,
per extension step or per DP cell — so each semantic rule reads in
one place:

- ``_align_query_sequential``: the seed-and-extend loop for one query,
  walking only the index's string-keyed ``index`` view (no hashing);
- ``_extend_rows`` / ``_extend_rp``: ungapped X-drop extension under
  BLOSUM62 and reward/penalty scoring;
- ``gapped_extend``: the stage-2 pad ladder for one HSP;
- ``_gotoh_local_scalar`` / ``_gotoh_traceback``: the per-cell
  affine-gap Smith-Waterman and its traceback.

Used by the parity tests and ``scripts/bench_kernel.py``; no
production code imports it.
"""

from __future__ import annotations

import numpy as np

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (_GAP_PAD, _GAP_PAD_MAX,
                                               SubjectIndex, _b62_row,
                                               _pair_score_matrix,
                                               fold_case_str,
                                               gotoh_local_batch,
                                               neighborhood_words, revcomp)


def word_is_lowercase_masked(word: str) -> bool:
    """True when the word overlaps a soft-masked (lowercase) region —
    the FASTA convention dustmasker/segmasker emit and
    -soft_masking/-lcase_masking consume (doc/USERGUIDE:47-50)."""
    return any(c.islower() for c in word)


def _extend_rp(q: str, s: str, qpos: int, spos: int, k: int,
               reward: int, penalty: int, xdrop: int):
    """Ungapped X-drop extension, reward/penalty scoring (blastn).
    Returns (score, qs, qe, ss, se, ident) with 0-based inclusive
    ends."""
    qlen, slen = len(q), len(s)
    # seed scores k matches
    score = k * reward
    ident = k
    # extend right from end of word
    best_score, best_qe, best_ident = score, qpos + k - 1, ident
    i, j, cur, cur_ident = qpos + k, spos + k, score, ident
    while i < qlen and j < slen:
        if q[i] == s[j]:
            cur += reward
            cur_ident += 1
        else:
            cur += penalty
        if cur > best_score:
            best_score, best_qe, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i += 1
        j += 1
    score, qe, ident = best_score, best_qe, best_ident
    # extend left from start of word
    best_score, best_qs, best_ident = score, qpos, ident
    i, j, cur, cur_ident = qpos - 1, spos - 1, score, ident
    while i >= 0 and j >= 0:
        if q[i] == s[j]:
            cur += reward
            cur_ident += 1
        else:
            cur += penalty
        if cur > best_score:
            best_score, best_qs, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i -= 1
        j -= 1
    qs = best_qs
    ss = spos - (qpos - qs)
    se = ss + (qe - qs)
    return best_score, qs, qe, ss, se, best_ident


def _extend_rows(q: str, s: str, qpos: int, spos: int, k: int,
                 qrows: list, seed_score: int, xdrop: int,
                 seed_ident: int | None = None):
    """Ungapped X-drop extension, matrix scoring (blastp): ``qrows``
    holds one {subject char: score} dict per query position (row maps
    cover all byte chars; rarer subject chars fall back to the X
    column). The seed's score arrives precomputed, and so does its
    identity count for neighborhood seeds (``seed_ident``; an exact
    word match has k). First-maximum tie-breaking, strict improvement,
    stop when best - cur > xdrop."""
    qlen, slen = len(q), len(s)
    score = seed_score
    ident = k if seed_ident is None else seed_ident
    best_score, best_qe, best_ident = score, qpos + k - 1, ident
    i, j, cur, cur_ident = qpos + k, spos + k, score, ident
    while i < qlen and j < slen:
        ch = s[j]
        if q[i] == ch:
            cur_ident += 1
        v = qrows[i].get(ch)
        cur += v if v is not None else qrows[i]["X"]
        if cur > best_score:
            best_score, best_qe, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i += 1
        j += 1
    score, qe, ident = best_score, best_qe, best_ident
    best_score, best_qs, best_ident = score, qpos, ident
    i, j, cur, cur_ident = qpos - 1, spos - 1, score, ident
    while i >= 0 and j >= 0:
        ch = s[j]
        if q[i] == ch:
            cur_ident += 1
        v = qrows[i].get(ch)
        cur += v if v is not None else qrows[i]["X"]
        if cur > best_score:
            best_score, best_qs, best_ident = cur, i, cur_ident
        elif best_score - cur > xdrop:
            break
        i -= 1
        j -= 1
    qs = best_qs
    ss = spos - (qpos - qs)
    se = ss + (qe - qs)
    return best_score, qs, qe, ss, se, best_ident


def _gotoh_traceback(a, b, H, PH, PE, PF, m, n):
    """Scalar traceback over filled pointer matrices, from the FIRST
    maximal cell in row-major order."""
    score = int(H.max())
    if score <= 0:
        return (0, 0, 0, 0, 0, 0, 0, 0)
    flat = int(np.argmax(H))          # first maximal cell, row-major
    i, j = divmod(flat, n + 1)
    a1, b1 = i - 1, j - 1
    ident = gaps = align_len = 0
    state = "H"
    while i > 0 and j > 0:
        if state == "H":
            p = PH[i, j]
            if p == 0:
                break
            if p == 1:
                align_len += 1
                if a[i - 1] == b[j - 1]:
                    ident += 1
                i -= 1
                j -= 1
            elif p == 2:
                state = "E"
            else:
                state = "F"
        elif state == "E":
            align_len += 1
            gaps += 1
            opened = PE[i, j]
            j -= 1
            state = "H" if opened else "E"
        else:
            align_len += 1
            gaps += 1
            opened = PF[i, j]
            i -= 1
            state = "H" if opened else "F"
    return (score, i, a1, j, b1, ident, gaps, align_len)


def _gotoh_local_scalar(a: str, b: str, protein: bool, reward: int,
                        penalty: int, gap_open: int, gap_extend: int,
                        ) -> tuple[int, int, int, int, int, int, int, int]:
    """Affine-gap Smith-Waterman (Gotoh), one cell at a time. A gap of
    length L costs gap_open + L*gap_extend (NCBI's convention). Returns
    (score, a0, a1, b0, b1, ident, gaps, align_len) with 0-based
    inclusive coordinates; a non-positive best returns all zeros.
    Ties break diagonal > gap-in-a > gap-in-b at equal score."""
    m, n = len(a), len(b)
    if m == 0 or n == 0:
        return (0, 0, 0, 0, 0, 0, 0, 0)
    sub = _pair_score_matrix(a, b, protein, reward, penalty)
    NEG = -(10 ** 6)
    H = np.zeros((m + 1, n + 1), dtype=np.int32)
    E = np.full((m + 1, n + 1), NEG, dtype=np.int32)  # gap in a (left)
    Fv = np.full((m + 1, n + 1), NEG, dtype=np.int32)  # gap in b (up)
    # pointers: H: 0 stop, 1 diag, 2 from E, 3 from F; E/F: 1 = opened
    PH = np.zeros((m + 1, n + 1), dtype=np.int8)
    PE = np.zeros((m + 1, n + 1), dtype=np.int8)
    PF = np.zeros((m + 1, n + 1), dtype=np.int8)
    go = gap_open + gap_extend   # cost of a length-1 gap
    for i in range(1, m + 1):
        Hi, Hp = H[i], H[i - 1]
        Ei, Fi, Fp = E[i], Fv[i], Fv[i - 1]
        # F column-independent across j: vectorized for the whole row
        open_f = Hp - go
        ext_f = Fp - gap_extend
        np.maximum(open_f, ext_f, out=Fi[0:])
        PF[i] = np.where(open_f >= ext_f, 1, 0)
        subrow = sub[i - 1]
        for j in range(1, n + 1):
            e_open = Hi[j - 1] - go
            e_ext = Ei[j - 1] - gap_extend
            if e_open >= e_ext:
                Ei[j] = e_open
                PE[i, j] = 1
            else:
                Ei[j] = e_ext
            diag = Hp[j - 1] + subrow[j - 1]
            best, ptr = 0, 0
            if diag >= best:
                best, ptr = diag, 1
            if Ei[j] > best:
                best, ptr = Ei[j], 2
            if Fi[j] > best:
                best, ptr = Fi[j], 3
            Hi[j] = best
            PH[i, j] = ptr
    return _gotoh_traceback(a, b, H, PH, PE, PF, m, n)


def gapped_extend(q: str, s: str, qs: int, qe: int, ss: int, se: int,
                  cfg: BlastConfig) -> tuple[int, int, int, int, int,
                                             int, int, int]:
    """BLAST's stage-2 for one ungapped HSP: affine-gap local DP on a
    window around it (the HSP extent padded by _GAP_PAD per side).
    Whenever the optimal alignment touches a window edge with more
    sequence beyond it, the pad doubles (up to _GAP_PAD_MAX) and the DP
    reruns. Returns absolute coordinates in (q, s). The DP itself is
    ``gotoh_local_batch`` on one pair, which the tests pin to
    ``_gotoh_local_scalar``."""
    pad = _GAP_PAD
    while True:
        q0, q1 = max(0, qs - pad), min(len(q), qe + 1 + pad)
        s0, s1 = max(0, ss - pad), min(len(s), se + 1 + pad)
        (score, a0, a1, b0, b1, ident, gaps, align_len) = gotoh_local_batch(
            [(q[q0:q1], s[s0:s1])], cfg.task == "blastp", cfg.reward,
            cfg.penalty, cfg.gap_open_eff, cfg.gap_extend_eff)[0]
        touches = ((a0 == 0 and q0 > 0) or (a1 == q1 - q0 - 1 and q1 < len(q))
                   or (b0 == 0 and s0 > 0) or (b1 == s1 - s0 - 1 and s1 < len(s)))
        if not touches or pad >= _GAP_PAD_MAX:
            return (score, q0 + a0, q0 + a1, s0 + b0, s0 + b1,
                    ident, gaps, align_len)
        pad *= 2


def _neighborhood_hits(words: dict, word: str, threshold: int) -> list:
    """[(occurrences, seed_score, seed_ident)] for every -threshold
    neighbor of ``word`` that the string-keyed index holds, in
    neighbor enumeration order."""
    out = []
    for w2, sc in neighborhood_words(word, threshold):
        hits = words.get(w2)
        if hits:
            out.append((hits, sc, sum(a == b for a, b in zip(word, w2))))
    return out


def _align_query_sequential(qid: int, seq: str, index: SubjectIndex,
                            cfg: BlastConfig) -> list[tuple]:
    """All HSPs of one query against one indexed partition, one Python
    iteration per seed: the semantic oracle ``align_block`` is pinned
    to (rows identical, in identical order, per query).

    Per strand (blastn searches the reverse complement second, coords
    mapped back to the forward query): every query word position in
    order, its seeds in the index's (subject, position) order; a seed
    inside the previous extension's query extent on its (subject,
    diagonal) is skipped, and that coverage updates even when the
    extension then falls below min_raw_score. Two-hit seeding extends
    only on a second seed within the window on the same diagonal.
    Gapped runs re-align each HSP that clears gap_trigger and emit
    each distinct gapped alignment once per strand."""
    out = []
    k = cfg.word_size
    qlen = len(seq)
    is_protein = cfg.task == "blastp"
    strands = [(seq, 1)]
    if not is_protein:
        strands.append((revcomp(seq), -1))
    words = index.index
    # neighborhood seeding (-threshold) is a blastp concept: nucleotide
    # seeding is exact-match by definition in BLAST
    nb_threshold = cfg.threshold if is_protein else None
    two_hit = int(cfg.window_size or 0)
    for q, qstrand in strands:
        q_ext = fold_case_str(q) if index.fold_case else q
        if is_protein:
            qrows = [_b62_row(c) for c in q_ext]
        seen: dict[tuple[int, int], int] = {}   # (si, diag) -> covered qend
        pending: dict[tuple[int, int], int] = {}  # (si, diag) -> last seed qpos
        emitted: set[tuple] = set()   # gapped-alignment dedupe per strand
        for qpos in range(0, len(q) - k + 1):
            if cfg.lcase_masking and word_is_lowercase_masked(
                    q[qpos:qpos + k]):
                continue
            word = q_ext[qpos:qpos + k]
            if nb_threshold is not None:
                cand = _neighborhood_hits(words, word, nb_threshold)
            else:
                hits = words.get(word)
                if not hits:
                    continue
                # an exact seed scores the query word against itself
                seed_sc = (sum(qrows[i].get(q_ext[i], qrows[i]["X"])
                               for i in range(qpos, qpos + k))
                           if is_protein else None)
                cand = [(hits, seed_sc, None)]
            for hits, seed_sc, seed_id in cand:
                for si, spos in hits:
                    diag = spos - qpos
                    if seen.get((si, diag), -1) >= qpos:
                        continue
                    if two_hit:
                        prev = pending.get((si, diag))
                        pending[(si, diag)] = qpos
                        if prev is None or qpos - prev > two_hit:
                            continue
                    s = index.ext_seqs[si]
                    if is_protein:
                        score, qs, qe, ss, se, ident = _extend_rows(
                            q_ext, s, qpos, spos, k, qrows, seed_sc,
                            cfg.xdrop, seed_ident=seed_id)
                    else:
                        score, qs, qe, ss, se, ident = _extend_rp(
                            q_ext, s, qpos, spos, k, cfg.reward,
                            cfg.penalty, cfg.xdrop)
                    seen[(si, diag)] = qe
                    if score < cfg.min_raw_score:
                        continue
                    gaps_n, align_len = 0, qe - qs + 1
                    if cfg.gapped and score >= cfg.gap_trigger_eff:
                        (gscore, gqs, gqe, gss, gse, gident, gg, galn
                         ) = gapped_extend(q_ext, s, qs, qe, ss, se, cfg)
                        if gscore < cfg.min_raw_score:
                            continue
                        score, qs, qe, ss, se = gscore, gqs, gqe, gss, gse
                        ident, gaps_n, align_len = gident, gg, galn
                        key = (si, qs, qe, ss, se)
                        if key in emitted:
                            continue
                        emitted.add(key)
                    if qstrand == -1:
                        qs, qe = qlen - qe - 1, qlen - qs - 1
                    out.append((qid, index.subjects[si][0], score,
                                align_len, ident, gaps_n,
                                qs, qe, ss, se, qstrand, 1, qlen))
    return out
