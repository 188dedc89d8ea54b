"""Independent oracle for one generated workload.

Two steps, neither of which touches Spark:

1. ``kernel.builtin.align_block`` on the whole query set against each
   volume's ``SubjectIndex`` (no blocking, no seed prune), one call per
   volume, four volumes at a time in separate processes;
2. a DuckDB replay of the relational tail — projections, the e-value
   filter, ``max_target_seqs`` and the per-query top-k — in the shape
   of the catalog's ``blast_pipeline`` oracle SQL.

``digest`` reduces any hit table to a hash of its rounded rows, so a
sink's output and the oracle compare by one string.
"""

from __future__ import annotations

import hashlib
import math
import multiprocessing
import time
from concurrent.futures import ProcessPoolExecutor

import duckdb
import numpy as np
import pandas as pd

from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, align_block,
                                               scoring_params)

def _dbl(x: float) -> str:
    # DuckDB reads short numeric literals as DECIMAL; keep every
    # constant IEEE binary64, like Spark's double literals
    return f"CAST({float(x)!r} AS DOUBLE)"


def tail_sql(cfg, dbsize: int, n_seqs: int) -> str:
    """The production tail (plans.pipeline.search_from_raw) over a
    ``raw`` relation in RAW_HITS shape, as DuckDB SQL: project_hits'
    expressions, F1, the F2 subject cap, then top_hits' six-key
    order."""
    lam, kappa, ka_h = scoring_params(cfg)
    lnk, ln2 = _dbl(math.log(kappa)), _dbl(math.log(2.0))
    kk, hh, db, ns = _dbl(kappa), _dbl(ka_h), _dbl(dbsize), _dbl(n_seqs)
    cap = ""
    if cfg.max_target_seqs > 0:
        cap = f"""
, best AS (
  SELECT qid, sid, evalue, bit, row_number() OVER (
    PARTITION BY qid, sid ORDER BY evalue ASC, bit DESC) AS b FROM filt),
subj AS (
  SELECT qid, sid FROM (
    SELECT qid, sid, row_number() OVER (
      PARTITION BY qid ORDER BY evalue ASC, bit DESC, sid ASC) AS tr
    FROM best WHERE b = 1) WHERE tr <= {int(cfg.max_target_seqs)}),
capped AS (SELECT f.* FROM filt f SEMI JOIN subj USING (qid, sid))"""
    src = "capped" if cap else "filt"
    keep = (f"WHERE r <= {int(cfg.num_hit_cutoff)}"
            if cfg.num_hit_cutoff > 0 else "")
    return f"""
WITH proj AS (
  SELECT qid, sid, align_len, gaps, ident_count,
         CASE WHEN align_len > 0
              THEN CAST(ident_count AS DOUBLE) / CAST(align_len AS DOUBLE) * 100.0
              ELSE 0.0 END AS identr,
         qstart0 + 1 AS qstart, qend0 + 1 AS qend,
         CASE WHEN qstrand != sstrand THEN send0 + 1 ELSE sstart0 + 1 END AS sstart,
         CASE WHEN qstrand != sstrand THEN sstart0 + 1 ELSE send0 + 1 END AS send,
         ({_dbl(lam)} * score - {lnk}) / {ln2} AS bit,
         CAST(qlen AS DOUBLE) AS qlen_d
  FROM raw),
adj AS (
  SELECT *,
         greatest(qlen_d - floor(ln({kk} * qlen_d * {db}) / {hh}), 1.0) AS m_eff,
         greatest({db} - {ns} * floor(ln({kk} * qlen_d * {db}) / {hh}), 1.0) AS n_eff
  FROM proj),
scored AS (SELECT *, m_eff * n_eff * pow(2.0, -bit) AS evalue FROM adj),
filt AS (SELECT * FROM scored WHERE evalue <= {_dbl(cfg.evalue)}){cap},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY qid
    ORDER BY evalue ASC, bit DESC, identr DESC, sid ASC, qstart ASC, sstart ASC) AS r
  FROM {src})
SELECT qid, sid, identr AS ident, align_len,
       align_len - ident_count - gaps AS mismatches, gaps,
       qstart, qend, sstart, send, evalue, bit AS bitscore
FROM ranked {keep}
"""


def _one_volume(subjects, queries, cfg):
    """(raw hits, index build seconds, align seconds) of one volume."""
    t0 = time.perf_counter()
    index = SubjectIndex(subjects, cfg.word_size, cfg.max_kmer_hits,
                         soft_mask=cfg.subject_soft_mask,
                         complexity=cfg.complexity_filter,
                         protein=cfg.task == "blastp",
                         fold_case=cfg.mask_fold_case)
    t1 = time.perf_counter()
    raw = align_block(queries, index, cfg)
    return raw, t1 - t0, time.perf_counter() - t1


def direct_raw(queries: list[tuple[int, str]],
               volumes: dict[str, list[tuple[str, str]]], cfg,
               workers: int = 4):
    """Step 1: every query against every volume through align_block,
    one single-threaded call per volume, ``workers`` volumes at a time
    in separate processes. Returns (raw hits, index build seconds,
    align seconds), both summed over volumes."""
    parts = sorted(volumes)
    # fork: no interpreter start-up per worker, and no resource-tracker
    # process left running (spawn starts one that outlives the pool)
    with ProcessPoolExecutor(
            workers, mp_context=multiprocessing.get_context("fork")) as ex:
        out = list(ex.map(_one_volume, [volumes[p] for p in parts],
                          [queries] * len(parts), [cfg] * len(parts)))
    raw = pd.concat([r for r, _, _ in out], ignore_index=True)
    return raw, sum(b for _, b, _ in out), sum(a for _, _, a in out)


def replay_tail(raw: pd.DataFrame, cfg, dbsize: int,
                n_seqs: int) -> pd.DataFrame:
    """Step 2: the tail in DuckDB over the direct raw hits."""
    con = duckdb.connect()
    try:
        con.register("raw", raw)
        return con.execute(tail_sql(cfg, dbsize, n_seqs)).df()
    finally:
        con.close()


def _r4(x: np.ndarray) -> np.ndarray:
    return np.floor(x * 1e4 + 0.5) / 1e4


def digest(hits: pd.DataFrame) -> str:
    """sha256 over the sorted, rounded rows: ident and bitscore at
    1e-4, the e-value as log10 at 1e-4 (clamped at -280 like the
    catalog oracle), everything else exact."""
    if len(hits) == 0:
        return hashlib.sha256(b"").hexdigest()
    ev = hits["evalue"].to_numpy(dtype=float)
    lg = np.where(ev > 1e-280, _r4(np.log10(np.maximum(ev, 1e-300))),
                  -280.0)
    cols = [hits["qid"].astype("int64").to_numpy(),
            hits["sid"].astype(str).to_numpy(),
            _r4(hits["ident"].to_numpy(dtype=float))]
    cols += [hits[c].astype("int64").to_numpy()
             for c in ("align_len", "mismatches", "gaps", "qstart",
                       "qend", "sstart", "send")]
    cols += [lg, _r4(hits["bitscore"].to_numpy(dtype=float))]
    rows = sorted("|".join(map(repr, r)) for r in
                  zip(*[c.tolist() for c in cols]))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def recall(hits: pd.DataFrame, planted: list[tuple[int, str]]) -> float:
    """Share of planted (qid, sid) pairs present in ``hits``."""
    found = set(zip(hits["qid"].astype("int64").tolist(),
                    hits["sid"].astype(str).tolist()))
    return sum((q, s) in found for q, s in planted) / len(planted)
