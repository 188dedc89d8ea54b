"""Alignment kernel + end-to-end pipeline (K1, P1-P9, F1/F2, O2/O3).

Golden-style checks in the spirit of the reference's example suites
(examples/test/generic-test/README:29-158): construct subjects that
contain exact / mutated / reverse-complement copies of query substrings
and assert the hit table facts (coords 1-based inclusive, strand swap,
identity, e-value normalization against WHOLE dbsize)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.kernel.builtin import (SubjectIndex, align_block,
                                               karlin_altschul_evalue, revcomp)
from mr_mpi_blast_spark.plans.pipeline import attach_deflines, run_search

# deterministic pseudo-random ACGT string (no stdlib random in tests);
# LCG low bits are periodic, so sample the high bits
def _seq(n, salt=0):
    out = []
    x = 123456789 + salt
    for _ in range(n):
        x = (1103515245 * x + 12345) % (2 ** 31)
        out.append("ACGT"[(x >> 16) % 4])
    return "".join(out)


Q1 = _seq(300, salt=1)
Q2 = _seq(250, salt=2)
BG = _seq(800, salt=9)


def _diff(c):
    return {"A": "C", "C": "G", "G": "T", "T": "A"}[c]


def _barrier(ref):
    """12 guaranteed mismatches vs ref: kills X-drop extension (score
    -24 < xdrop 20) so planted-copy boundaries are exact."""
    return "".join(_diff(c) for c in ref)


def _queries(spark):
    rows = [(1, "query_one", "query_one", Q1, len(Q1)),
            (2, "query_two", "query_two", Q2, len(Q2))]
    return spark.createDataFrame(
        rows, "qid long, defline string, defline_part string, seq string, length int")


def _subjects(spark):
    # s_exact: contains Q1[50:200] verbatim at position 100, fenced by
    # mismatch barriers so the maximal HSP is exactly the planted copy
    s_exact = (BG[:88] + _barrier(Q1[38:50]) + Q1[50:200]
               + _barrier(Q1[200:212]) + BG[100:288])
    # s_rc: contains revcomp of Q2[20:170]) at position 40, same fencing
    # (in revcomp(Q2) coords the copy spans rc[80:230])
    rc = revcomp(Q2)
    s_rc = (BG[300:328] + _barrier(rc[68:80]) + rc[80:230]
            + _barrier(rc[230:242]) + BG[340:460])
    # s_noise: unrelated
    s_noise = _seq(600, salt=7)
    rows = [("s_exact", "s_exact exact copy", "db.00", s_exact, len(s_exact)),
            ("s_rc", "s_rc revcomp copy", "db.00", s_rc, len(s_rc)),
            ("12345", "gi|12345| numeric id", "db.01", s_noise, len(s_noise))]
    return spark.createDataFrame(
        rows, "sid string, defline string, db_part string, seq string, length int")


@pytest.fixture(scope="module")
def hits(spark):
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    return run_search(_queries(spark), _subjects(spark), cfg).cache()


def test_exact_hit_coords_and_identity(hits):
    h = hits.filter((F.col("qid") == 1) & (F.col("sid") == "s_exact")) \
            .orderBy(F.col("bitscore").desc()).first()
    assert h is not None
    # 1-based inclusive coords (P3): Q1[50:200] sits at q 51..200, s 101..250
    assert (h.qstart, h.qend) == (51, 200)
    assert (h.sstart, h.send) == (101, 250)
    assert h.ident == 100.0
    assert h.align_len == 150
    assert h.mismatches == 0 and h.gaps == 0
    assert h.qstart < h.qend and h.sstart < h.send     # plus strand


def test_revcomp_hit_strand_swap(hits):
    h = hits.filter((F.col("qid") == 2) & (F.col("sid") == "s_rc")) \
            .orderBy(F.col("bitscore").desc()).first()
    assert h is not None
    # P4: strands differ -> subject coords swapped (sstart > send)
    assert h.sstart > h.send
    # query coords always forward
    assert (h.qstart, h.qend) == (21, 170)
    assert h.ident == 100.0
    assert (h.sstart, h.send) == (190, 41)


def test_evalue_uses_whole_dbsize(spark):
    """S8: same hit, same e-value, regardless of how the DB is
    partitioned (the silent-wrongness trap, SURVEY §7.3)."""
    cfg = BlastConfig(evalue=1e-6, word_size=11)
    one_part = _subjects(spark).withColumn("db_part", F.lit("db.all"))
    h_multi = run_search(_queries(spark), _subjects(spark), cfg) \
        .filter((F.col("qid") == 1) & (F.col("sid") == "s_exact")) \
        .orderBy(F.col("bitscore").desc()).first()
    h_one = run_search(_queries(spark), one_part, cfg) \
        .filter((F.col("qid") == 1) & (F.col("sid") == "s_exact")) \
        .orderBy(F.col("bitscore").desc()).first()
    # abs=0: the default abs tolerance (1e-12) dwarfs e-values this
    # small and would make the comparison vacuous
    assert h_multi.evalue == pytest.approx(h_one.evalue, rel=1e-12, abs=0)
    # and the e-value formula itself: m' * n' * 2^-bitscore with the
    # K-A length adjustment over the WHOLE database (dbsize, n_seqs)
    dbsize = sum(r.length for r in _subjects(spark).collect())
    n_seqs = _subjects(spark).count()
    expect = karlin_altschul_evalue(150, 300, dbsize, n_seqs=n_seqs)
    assert h_multi.evalue == pytest.approx(expect, rel=1e-9, abs=0)
    # sanity: the adjustment actually moved the number
    assert expect != karlin_altschul_evalue(150, 300, dbsize,
                                            length_adjust=False)


def test_kernel_mutation_identity():
    """Mutated copy -> identity < 100, mismatches counted (P6/P7)."""
    q = _seq(200, salt=3)
    mutated = list(q)
    for pos in (60, 90, 120):
        mutated[pos] = {"A": "C", "C": "G", "G": "T", "T": "A"}[mutated[pos]]
    subj = _seq(100, salt=4) + "".join(mutated) + _seq(100, salt=5)
    idx = SubjectIndex([("m", subj)], word_size=11, max_kmer_hits=64)
    cfg = BlastConfig(word_size=11, xdrop=50)
    out = align_block([(7, q)], idx, cfg).itertuples(index=False, name=None)
    best = max(out, key=lambda t: t[2])
    qid, sid, score, alen, ident, gaps, qs, qe, ss, se, qstr, sstr, qlen = best
    assert alen > 150
    assert alen - ident == 3            # the three point mutations
    assert gaps == 0


def test_topk_cutoff_and_order(spark):
    cfg = BlastConfig(evalue=10.0, num_hit_cutoff=1, word_size=11)
    out = run_search(_queries(spark), _subjects(spark), cfg)
    per_q = out.groupBy("qid").count().collect()
    assert all(r["count"] == 1 for r in per_q)     # O3: k=1
    # O2: the kept hit is the best-evalue one
    h1 = out.filter(F.col("qid") == 1).first()
    assert h1.sid == "s_exact"


def test_defline_join(spark, hits):
    deflines = spark.createDataFrame(
        [(1, "query_one"), (2, "query_two")], "qid long, defline string")
    joined = attach_deflines(hits, deflines)
    assert joined.filter(F.col("qdef").isNull()).count() == 0
    assert set(r.qdef for r in joined.select("qdef").distinct().collect()) \
        == {"query_one", "query_two"}


@pytest.mark.slow
def test_max_target_seqs_cap(spark):
    """F2: -max_target_seqs bounds distinct subjects per query."""
    # subject set where q1 matches two subjects
    q = _seq(300, salt=11)
    rows = [("sA", "sA", "db.00", q[:150] + _seq(200, salt=12), 350),
            ("sB", "sB", "db.00", _seq(50, salt=13) + q[100:250], 200)]
    subjects = spark.createDataFrame(
        rows, "sid string, defline string, db_part string, seq string, length int")
    queries = spark.createDataFrame(
        [(1, "q", "q", q, len(q))],
        "qid long, defline string, defline_part string, seq string, length int")
    all_hits = run_search(queries, subjects, BlastConfig(evalue=10.0))
    assert all_hits.select("sid").distinct().count() == 2
    capped = run_search(queries, subjects,
                        BlastConfig(evalue=10.0, max_target_seqs=1))
    assert capped.select("sid").distinct().count() == 1


def _stage_volume_files(root, rows):
    """Write one staged volume (the layout stage_volumes leaves) without
    Spark; returns its dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mr_mpi_blast_spark.kernel.builtin import staged_volume
    vol = staged_volume(str(root), "v0")
    os.makedirs(vol)
    pq.write_table(pa.table({"sid": [r[0] for r in rows],
                             "seq": [r[1] for r in rows]}),
                   os.path.join(vol, "part-00000.parquet"))
    return vol


def test_disk_index_cache_roundtrip(tmp_path, monkeypatch):
    """makeblastdb analog: a persisted index loads into a fresh
    resident cache WITHOUT reading the staged volume; a corrupt pickle
    rebuilds silently; the non-persisting path writes nothing; the
    format pass builds a missing pickle once and skips a present one."""
    from mr_mpi_blast_spark.kernel import builtin as B

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    subjects = [("s1", "ACGTACGTACGTACGTAC"), ("s2", "TTTTACGTACGTACGTAAAA")]
    vol = _stage_volume_files(tmp_path / "db1", subjects)
    reads = []
    real_read = B.read_staged_volume

    def counting_read(volume):
        reads.append(volume)
        return real_read(volume)

    monkeypatch.setattr(B, "read_staged_volume", counting_read)
    cfg = B.BlastConfig(word_size=8, max_kmer_hits=64)

    B._DB_CACHE.clear()
    idx1 = B.load_index(vol, cfg, persist=True)
    assert reads == [vol]
    cache_dir = tmp_path / f"spark_graft_idx_cache_{os.getuid()}"
    pkls = list(cache_dir.glob("*.pkl"))
    assert len(pkls) == 1
    assert B.load_index(vol, cfg, persist=True) is idx1   # resident hit

    # fresh process simulation: empty in-memory cache -> disk hit,
    # volume NOT read, identical search results
    B._DB_CACHE.clear()
    idx2 = B.load_index(vol, cfg, persist=True)
    assert idx2 is not idx1 and len(reads) == 1
    q = ("ACGTACGTACGTACGT")
    h1 = B.align_block([(1, q)], idx1, cfg)
    h2 = B.align_block([(1, q)], idx2, cfg)
    assert h1.equals(h2)
    assert len(h1)  # the query does hit
    assert not B.format_index(vol, cfg) and len(reads) == 1

    # corrupt pickle -> silent rebuild (cache is never a failure mode)
    pkls[0].write_bytes(b"not a pickle")
    B._DB_CACHE.clear()
    idx3 = B.load_index(vol, cfg, persist=True)
    assert len(reads) == 2
    assert B.align_block([(1, q)], idx3, cfg).equals(h1)

    # anonymous volumes never touch disk; same db_part name, other
    # content -> other index
    other = _stage_volume_files(tmp_path / "db2", [("s9", "GGGGCCCCGGGGCCCC")])
    idx4 = B.load_index(other, cfg, persist=False)
    assert reads[-1] == other and idx4.sids_np.tolist() == ["s9"]
    assert sorted(cache_dir.glob("*.pkl")) == pkls

    # the format pass publishes a missing pickle exactly once
    third = _stage_volume_files(tmp_path / "db3", subjects)
    assert B.format_index(third, cfg)
    assert len(list(cache_dir.glob("*.pkl"))) == 2
    assert not B.format_index(third, cfg)
    B._DB_CACHE.clear()


def _one_volume_db(spark, sid, seq):
    return spark.createDataFrame(
        [(sid, sid, "db.00", seq, len(seq))],
        "sid string, defline string, db_part string, seq string, "
        "length int")


def _two_dbs_one_volume_name(spark):
    """One query and two single-volume databases that share the
    volume name db.00 but hold different planted copies of it."""
    q = _seq(300, salt=51)
    queries = spark.createDataFrame(
        [(1, "q1", "q1", q, len(q))],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    db_a = _one_volume_db(spark, "s_a",
                          _seq(40, salt=52) + q[20:200] + _seq(40, salt=53))
    db_b = _one_volume_db(spark, "s_b",
                          _seq(70, salt=54) + q[100:280] + _seq(30, salt=55))
    return queries, db_a, db_b


def _hit_rows(df):
    return sorted(map(tuple, df.select("sid", "qstart", "qend", "sstart",
                                       "send").collect()))


def test_unkeyed_searches_with_same_volume_names_never_share_an_index(spark):
    """Two uncached searches in one session stage different subjects
    under the same db_part name. Each stages to its own uuid dir, the
    index's identity, so the second search may not be served the
    first one's resident index."""
    queries, db_a, db_b = _two_dbs_one_volume_name(spark)
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)
    a = _hit_rows(run_search(queries, db_a, cfg))
    b = _hit_rows(run_search(queries, db_b, cfg))
    assert a and {r[0] for r in a} == {"s_a"}
    assert b and {r[0] for r in b} == {"s_b"}
    assert a[0][1:] == (21, 200, 41, 220)
    assert b[0][1:] == (101, 280, 71, 250)


def test_keyed_searches_with_same_volume_names_never_share_an_index(spark):
    """Same as the unkeyed case for two content keys: each key stages,
    formats and persists its own volumes, and searching the first key
    again after the second still returns the first database's hits."""
    import glob
    import shutil
    import uuid

    from mr_mpi_blast_spark.kernel.builtin import (index_cache_key,
                                                   index_cache_path,
                                                   staged_volume)
    from mr_mpi_blast_spark.plans.pipeline import staged_volume_dir

    queries, db_a, db_b = _two_dbs_one_volume_name(spark)
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)
    tag = uuid.uuid4().hex
    key_a, key_b = f"test-db-a-{tag}", f"test-db-b-{tag}"
    try:
        a = _hit_rows(run_search(queries, db_a, cfg, cache_key=key_a))
        b = _hit_rows(run_search(queries, db_b, cfg, cache_key=key_b))
        a_again = _hit_rows(run_search(queries, db_a, cfg, cache_key=key_a))
        assert a and {r[0] for r in a} == {"s_a"}
        assert b and {r[0] for r in b} == {"s_b"}
        assert a_again == a
    finally:
        for key in (key_a, key_b):
            d = staged_volume_dir(key)
            ip = index_cache_path(index_cache_key(staged_volume(d, "db.00"),
                                                  cfg))
            if ip is not None and os.path.exists(ip):
                os.remove(ip)
            for p in [d] + glob.glob(f"{d}_seedbloom*"):
                shutil.rmtree(p, ignore_errors=True)


def test_raw_cache_keys_distinct_per_config_and_subset():
    """The persisted-raw cache must key on the FULL config and the
    query-subset modulus: the flagship, the gapped variant, and a
    different qmod may never share a cache dir (a collision would
    serve one config's hits as another's)."""
    from mr_mpi_blast_spark.entry_queries import (_blast_cfg,
                                                  _blast_gapped_cfg,
                                                  _blast_raw_cache_dir,
                                                  _blast_raw_key)
    sf = "/root/testdata/sf0.001"
    keys = {
        "flagship": _blast_raw_key(sf),
        "explicit-default": _blast_raw_key(sf, _blast_cfg(), 25),
        "gapped": _blast_raw_key(sf, _blast_gapped_cfg(), 100),
        "gapped-q25": _blast_raw_key(sf, _blast_gapped_cfg(), 25),
        "flagship-q100": _blast_raw_key(sf, _blast_cfg(), 100),
    }
    assert keys["flagship"] == keys["explicit-default"]
    distinct = {k: v for k, v in keys.items() if k != "explicit-default"}
    assert len(set(distinct.values())) == len(distinct)
    dirs = {_blast_raw_cache_dir(v) for v in distinct.values()}
    assert len(dirs) == len(distinct)


def test_gapped_nucl_tail_exercises_strand_swap_and_gaps(spark):
    """The gapped-blastn tail must actually produce the evidence it
    exists for: rows from the GAPPED nucleotide kernel (nonzero gaps)
    and MINUS-strand hits flowing through the P4 coordinate swap
    (sstart > send after the swap). Also: the dna variant may never
    share a raw-hits cache key with the text variant."""
    import __spark_entry__ as e
    from mr_mpi_blast_spark.entry_queries import (_blast_nucl_cfg,
                                                  _blast_raw_key)
    sf = "/root/testdata/sf0.001"
    p = e.queries()["blast_gapped_nucl_tail"](spark, sf).toPandas()
    assert len(p) > 0
    assert (p["gaps"] > 0).any(), "gapped DP produced no gapped rows"
    minus = p[p["sstart"] > p["send"]]
    plus = p[p["sstart"] <= p["send"]]
    assert len(minus) > 0, "no minus-strand hits — P4 swap unexercised"
    assert len(plus) > 0
    # revcomp'd queries (odd doc_id/qmod) are where minus hits live
    assert set((minus["qid"] // 100) % 2) == {1}
    assert _blast_raw_key(sf, _blast_nucl_cfg(), 100, "dna") \
        != _blast_raw_key(sf, _blast_nucl_cfg(), 100)


def test_apply_max_target_seqs_matches_reference(spark):
    """Property check of the single shared F2 implementation: for a
    randomized hit table, the kept rows equal the brute-force
    reference (rank subjects per query by best (evalue asc, bitscore
    desc), sid tiebreak; keep every HSP of the top cap subjects)."""
    import random

    from mr_mpi_blast_spark.plans.pipeline import apply_max_target_seqs
    rng = random.Random(13)
    rows = []
    for qid in range(6):
        for s in range(rng.randint(0, 7)):
            sid = f"s{rng.randint(0, 9)}"
            for _ in range(rng.randint(1, 3)):
                ev = rng.choice([1e-30, 1e-20, 1e-10, 1e-5, 1e-3])
                rows.append((qid, sid, ev, round(rng.uniform(20, 300), 1),
                             rng.randint(1, 500)))
    df = spark.createDataFrame(
        rows, "qid long, sid string, evalue double, bitscore double, qstart int")
    cap = 2
    got = {(r.qid, r.sid, r.evalue, r.bitscore, r.qstart)
           for r in apply_max_target_seqs(df, cap).collect()}

    # reference: pure-python replay
    from collections import defaultdict
    by_q = defaultdict(dict)
    for (qid, sid, ev, bs, qs) in rows:
        best = by_q[qid].get(sid)
        key = (ev, -bs, qs)
        if best is None or key < best:
            by_q[qid][sid] = key
    keep = set()
    for qid, subs in by_q.items():
        ranked = sorted(subs, key=lambda s: (subs[s][0], subs[s][1], s))
        keep.update((qid, s) for s in ranked[:cap])
    want = {(qid, sid, ev, bs, qs) for (qid, sid, ev, bs, qs) in rows
            if (qid, sid) in keep}
    assert got == want


def test_flagship_golden_hash(spark):
    """e2e value pin for the flagship's UNROUNDED production frame
    (the registered blast_pipeline query projects this into the
    rounded oracle basis; the raw floats live here). The golden hash
    covers every alignment-bearing column in deterministic order,
    produced by KERNEL_SPEC k6 at sf0.001 — a kernel change that
    alters ANY hit coordinate, score, e-value, gap count, or identity
    fails here. Bump the hash together with KERNEL_SPEC, never
    alone."""
    import hashlib

    from mr_mpi_blast_spark.entry_queries import _blast_pipeline_full
    from mr_mpi_blast_spark.kernel.builtin import KERNEL_SPEC

    assert KERNEL_SPEC == "k6", "kernel changed: re-golden this test"
    df = _blast_pipeline_full(spark, "/root/testdata/sf0.001")
    rows = sorted((r.qid, r.sid, r.qstart, r.qend, r.sstart, r.send,
                   round(r.bitscore, 6), "%.6g" % r.evalue, r.gaps,
                   round(r.ident, 6)) for r in df.collect())
    assert len(rows) == 177
    got = hashlib.md5(repr(rows).encode()).hexdigest()
    assert got == "43d94bb1ecea459b670aaa8632eaafd0"


def test_flagship_tail_plan_single_exchange(spark):
    """Pin the flagship's scale shape: the warm relational tail
    (persisted raw -> projections -> F1 -> F2-off -> top-k) must plan
    as ONE qid exchange with a map-side WindowGroupLimit below it (the
    partial top-k that neutralized the 6.9x hot-qid straggler in the
    r7 skew probe), and the oracle-basis rounding projection must ride
    the final Project — not add an exchange. Two WindowGroupLimits
    (partial + final), exactly one Exchange."""
    from mr_mpi_blast_spark.entry_queries import QUERIES

    df = QUERIES["blast_pipeline"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") == 2, plan
    assert plan.count("Exchange") == 1, (
        "flagship tail should shuffle exactly once (on qid)")
    # the map-side limit must sit below the exchange: partial prune
    # before any rows ship
    assert plan.index("WindowGroupLimit",
                      plan.index("Exchange")) > plan.index("Exchange")
    assert plan.index("WindowGroupLimit") < plan.index("Exchange")


def _full_work_item_run(monkeypatch, *args):
    """run_search with the seed filter's saturation gate forced shut:
    every (block, volume) work item runs — the unpruned reference."""
    import mr_mpi_blast_spark.plans.pipeline as pl
    with monkeypatch.context() as m:
        m.setattr(pl, "SEED_PRUNE_MAX_FILL", 0.0)
        return pl.run_search(*args)


def test_seed_prune_value_identical_on_fixtures(spark, hits, monkeypatch):
    """r11 runtime filter: pruning must never change the hit table
    (one-sided pruning — a pair with any exact shared word always
    survives). Same fixtures, same cfg: the default (pruned) run vs the
    full work-item run."""
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    full = _full_work_item_run(monkeypatch, _queries(spark),
                               _subjects(spark), cfg)
    cols = ["qid", "sid", "qstart", "qend", "sstart", "send",
            "bitscore", "evalue"]
    got = sorted(tuple(r) for r in hits.select(*cols).collect())
    want = sorted(tuple(r) for r in full.select(*cols).collect())
    assert got == want and len(got) > 0


def test_seed_prune_skips_disjoint_volume(spark, tmp_path, monkeypatch):
    """A volume whose alphabet shares no k-mer with the queries is
    skipped entirely (measured skipped-volume count), and the hit
    table still equals the full work-item run — the fixture the
    verdict asked for."""
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    # a random query (low-complexity words would never seed — the
    # {A,T}-alternation alphabet trick fails on the dust filter); the
    # hit volume plants an exact copy; the homopolymer volume shares
    # no 11-mer with it (a random 300-mer contains no 11-run — fixed
    # by the deterministic _seq, and the kept-set assert would fail
    # loudly if it ever did)
    q = _seq(300, salt=21)
    rows = [(1, "q1", "q1", q, len(q))]
    queries = spark.createDataFrame(
        rows, "qid long, defline string, defline_part string, "
              "seq string, length int")
    s_hit = _seq(40, salt=22) + q[40:260] + _seq(40, salt=23)
    s_gc = "G" * 300 + "C" * 300
    subs = spark.createDataFrame(
        [("s_hit", "s_hit planted", "vol.at", s_hit, len(s_hit)),
         ("s_gc", "s_gc disjoint", "vol.gc", s_gc, len(s_gc))],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    assert not any(q[i:i + 11] in s_gc for i in range(len(q) - 10))
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    db_dir, _, _ = stage_volumes(subs)
    blocked = queries.selectExpr("0L AS block_id", "qid", "seq")
    blooms = volume_seed_blooms(spark, db_dir, cfg.word_size)
    kept = {(r.db_part, r.block_id)
            for r in prune_work_items(blocked, blooms,
                                      cfg.word_size).collect()}
    assert ("vol.at", 0) in kept
    assert all(p != "vol.gc" for p, _ in kept), kept  # volume skipped

    pruned = run_search(queries, subs, cfg)
    full = _full_work_item_run(monkeypatch, queries, subs, cfg)
    cols = ["qid", "sid", "qstart", "qend", "bitscore"]
    assert sorted(map(tuple, pruned.select(*cols).collect())) \
        == sorted(map(tuple, full.select(*cols).collect()))
    assert pruned.count() > 0


def test_seed_prune_keeps_minus_strand_only_block(spark, monkeypatch):
    """r11 review regression: blastn seeds the query on BOTH strands,
    so a (block, volume) pair whose ONLY homology is a reverse-
    complement copy must survive pruning. The query sits alone in its
    block (no forward-hit sibling to mask a forward-only probe — the
    hole the original parity test left)."""
    q = _seq(300, salt=31)
    queries = spark.createDataFrame(
        [(1, "q1", "q1", q, len(q))],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    rc = revcomp(q)
    s_rc_only = _seq(40, salt=32) + rc[40:260] + _seq(40, salt=33)
    subs = spark.createDataFrame(
        [("s_rc", "s_rc minus-strand copy", "vol.rc", s_rc_only,
          len(s_rc_only))],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    cfg = BlastConfig(evalue=1e-3, block_size=400, word_size=11)
    pruned = run_search(queries, subs, cfg)
    full = _full_work_item_run(monkeypatch, queries, subs, cfg)
    cols = ["qid", "sid", "qstart", "qend", "sstart", "send",
            "bitscore"]
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert len(want) > 0, "fixture must produce a minus-strand hit"
    assert sorted(map(tuple, pruned.select(*cols).collect())) == want


def test_seed_prune_probe_plan_broadcasts_only_the_filter(spark, tmp_path,
                                                          monkeypatch):
    """The prune probe's plan shape: the volume position table rides a
    BroadcastExchange (bounded at bits rows/volume by construction);
    the query k-mer stream is never shuffled for the membership test
    (the groupBy that follows is kmer-keyed and map-side-combinable)."""
    from mr_mpi_blast_spark.plans.pipeline import (prune_work_items,
                                                   stage_volumes,
                                                   volume_seed_blooms)
    q = _seq(200, salt=41)
    subs = spark.createDataFrame(
        [("s1", "s1", "v.a", q[20:180], 160),
         ("s2", "s2", "v.b", _seq(200, salt=42), 200)],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    db_dir, _, _ = stage_volumes(subs)
    blooms = volume_seed_blooms(spark, db_dir, 11)
    blocked = spark.createDataFrame([(0, 1, q)],
                                    "block_id long, qid long, seq string")
    keep = prune_work_items(blocked, blooms, 11)
    plan = keep._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    join_lines = [ln for ln in plan.splitlines()
                  if "Join" in ln and "pos" in ln]
    assert join_lines and all("Broadcast" in ln for ln in join_lines), \
        join_lines


def test_seed_prune_saturation_gate_skips_probe(spark, monkeypatch):
    """When every volume's filter fill exceeds the gate, the probe is
    skipped entirely (saturated filters cannot prune — probing is
    pure cost) and the result is the plain full-work-item run."""
    import mr_mpi_blast_spark.plans.pipeline as pl

    monkeypatch.setattr(pl, "SEED_PRUNE_MAX_FILL", 0.0)

    def boom(*a, **k):
        raise AssertionError("probe ran despite the saturation gate")

    monkeypatch.setattr(pl, "prune_work_items", boom)
    cfg = BlastConfig(evalue=1e-6, block_size=400, word_size=11)
    out = pl.run_search(_queries(spark), _subjects(spark), cfg)
    assert out.count() > 0


def test_seed_prune_noop_under_neighborhood_seeding(spark, monkeypatch):
    """blastp -threshold seeds on NON-exact word matches, so exact
    k-mer pruning is unsound there — the filter must not even be
    consulted (documented conservative no-op)."""
    import mr_mpi_blast_spark.plans.pipeline as pl

    def boom(*a, **k):
        raise AssertionError("seed filter consulted under -threshold")

    monkeypatch.setattr(pl, "volume_seed_blooms", boom)
    prot_q = spark.createDataFrame(
        [(1, "p1", "p1", "MKVLAAGGVLSRT" * 5, 65)],
        "qid long, defline string, defline_part string, seq string, "
        "length int")
    prot_s = spark.createDataFrame(
        [("sp1", "sp1", "db.00", "MKVLAAGGVLSRT" * 5 + "AAAA", 69)],
        "sid string, defline string, db_part string, seq string, "
        "length int")
    cfg = BlastConfig(task="blastp", threshold=11, word_size=3,
                      evalue=10.0, block_size=400)
    out = pl.run_search(prot_q, prot_s, cfg)
    assert out.count() > 0  # ran the FULL work-item set, filter unused
