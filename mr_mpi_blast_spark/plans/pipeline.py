"""The end-to-end search pipeline (SURVEY §3.1 translated to Spark).

Reference lifecycle per iteration (mrblast.cpp:513-628):
  map(run_blast over block x db-partition work items)
  -> histogram hits/query (MPI_Allreduce) -> aggregate(balanced hash)
  -> sort_keys(qid) -> convert() -> reduce(sort by evalue, top-k, save)

Spark translation implemented here:
  assign_blocks(queries)                       # S5 bp bin-packing
  subjects.write.partitionBy(db_part)          # stage volumes ONCE,
     (distributed write to shared storage — the reference's volume
      files, doc/USERGUIDE:224-264; the driver never holds a subject
      row)
  blocks x db_parts                             # J1 work items
  .groupBy(block_id, db_part).applyInPandas(lazy kernel)   # K1/K2
     (each group lazily reads its staged volume executor-side,
      with per-worker index reuse — S7, mrblast.cpp:838-845)
  -> project_hits (P2-P9, e-values vs WHOLE dbsize)     # S8
  -> filter evalue                              # F1
  -> [optional max_target_seqs cap]             # F2
  -> top_hits window                            # O2+O3 (replaces
     histogram+aggregate+sort+convert+reduce: Catalyst plans a
     WindowGroupLimit = map-side partial top-k, and AQE handles the
     per-qid skew the reference balanced by hand, mrblast.cpp:556-575)

Scale notes (100 TB): the queries side is horizontally partitioned by
block and shuffled once per (block, partition) work item — exactly the
reference's work-item model (mrblast.cpp:199-222). The database moves
driver-free: one distributed partitionBy write, then each executor
reads only the volumes its groups touch (page-cache/local-disk warm on
re-reads, bounded to one resident index per worker). On a cluster,
``SPARK_GRAFT_SCRATCH`` must point at shared storage (HDFS/S3/NFS);
the default is the driver-local temp dir, correct for local[*].
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mr_mpi_blast_spark.config import BlastConfig
from mr_mpi_blast_spark.functions.projections import project_hits, subject_display_id
from mr_mpi_blast_spark.kernel.builtin import RAW_HITS, make_lazy_block_kernel
from mr_mpi_blast_spark.operators.blocks import assign_blocks
from mr_mpi_blast_spark.operators.topk import top_hits, topk_per_key


def effective_dbsize(subjects: DataFrame, cfg: BlastConfig) -> int:
    """S8 (mrblast.cpp:404-433): total residue length of the WHOLE
    database, so per-partition e-values are comparable. -dbsize
    override wins when set."""
    if cfg.dbsize is not None:
        return cfg.dbsize
    return int(subjects.agg(F.sum(F.length("seq"))).first()[0])


_STAGE_META = "_stage_meta.json"


def staged_volume_dir(cache_key: str) -> str:
    """Deterministic staging location for a content key (under the
    scratch root). Formatted volumes are immutable once written —
    exactly the reference's makeblastdb model, where volumes are
    formatted once and every search reuses them
    (doc/USERGUIDE:224-264)."""
    digest = hashlib.md5(cache_key.encode()).hexdigest()[:16]
    return os.path.join(
        os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
        "spark_graft_volumes", digest)


def stage_volumes(subjects: DataFrame,
                  cache_key: str | None = None) -> tuple[str, int, int]:
    """Distributed write of the database as one directory per db_part
    (the reference's makeblastdb volume staging, doc/USERGUIDE:224-264).
    Returns (staged root, total residue count, sequence count). No
    subject row touches the driver; the residue total — S8's
    whole-database length, mrblast.cpp:404-433 — rides the write job
    as an observed metric (A6/E16) instead of a second scan.

    ``cache_key``: content key (caller includes the source's identity
    AND freshness, e.g. path+mtime+size) enabling makeblastdb-style
    reuse — if the key's volume dir is already fully staged (_SUCCESS
    + meta sidecar present), the write is skipped entirely. The
    reference never re-formats volumes per search; neither do we.
    Without a key the volumes go to a fresh uuid-named dir, so either
    way the staged dir names one content for good — the identity the
    subject-index caches key on (kernel/builtin.py index_cache_key)."""
    from pyspark.sql import Observation

    if cache_key is not None:
        db_dir = staged_volume_dir(cache_key)
        meta_p = os.path.join(db_dir, _STAGE_META)
        if (os.path.exists(os.path.join(db_dir, "_SUCCESS"))
                and os.path.exists(meta_p)):
            with open(meta_p) as fh:
                meta = json.load(fh)
            return db_dir, int(meta["residues"]), int(meta["n_seqs"])
    else:
        db_dir = os.path.join(
            os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir()),
            f"blast_db_{uuid.uuid4().hex[:12]}")

    obs = Observation("dbsize")
    # one writer task per volume: volumes are sized ~1 GB by the caller
    # (the reference's volume-size contract, doc/USERGUIDE:224-264), so
    # a single file per volume reads back fastest and avoids 32 tasks
    # each emitting a sliver into every partition dir.
    (subjects.select("sid", "seq", "db_part")
     .observe(obs, F.sum(F.length("seq")).alias("residues"),
              F.count(F.lit(1)).alias("n_seqs"))
     .repartition(F.col("db_part"))
     .write.mode("overwrite").partitionBy("db_part").parquet(db_dir))
    residues, n_seqs = int(obs.get["residues"]), int(obs.get["n_seqs"])
    if cache_key is not None:
        # meta written AFTER _SUCCESS: reuse requires both, so a
        # concurrent reader never sees a half-staged dir as complete.
        with open(os.path.join(db_dir, _STAGE_META), "w") as fh:
            json.dump({"residues": residues, "n_seqs": n_seqs,
                       "key": cache_key}, fh)
    return db_dir, residues, n_seqs


def staged_parts(spark, db_dir: str) -> DataFrame:
    """The tiny (db_part) dimension recovered from the staged layout —
    a partition-column-only scan is a directory listing, no data read."""
    return spark.read.parquet(db_dir).select("db_part").distinct()


# ---------------------------------------------------------------------------
# Seed-overlap runtime filter (r11): skip (block, volume) work items
# that CANNOT produce a hit. Every hit the builtin kernel emits grows
# from an exact shared word of length word_size (kernel/builtin.py
# seed-and-extend; masking/complexity options only DROP seeds), so a
# block sharing zero k-mers with a volume contributes zero hits — the
# pair can be skipped before the kernel ever runs. This is the
# reference's locality/affinity work-item optimization family
# (mrmpi/mapreduce.cpp:1303-1528) re-expressed as data pruning, and
# the kernel-path twin of orders_bloom_prune (operators/profile.py).
#
# Soundness boundary: blastp NEIGHBORHOOD seeding (-threshold) seeds
# on non-exact word matches, so exact-k-mer pruning would drop real
# hits — run_kernel_raw disables the filter (no-op, full work-item
# set) whenever cfg.threshold is set. Case is folded to upper on both
# sides (soft-mask lowercase still extends), and the Bloom is
# one-sided by construction: a volume with a real shared word always
# survives; a disjoint volume survives only on a K-fold collision.
# ---------------------------------------------------------------------------


SEED_PRUNE_BITS = 1 << 20
# above this per-volume fill the probe can no longer prune any
# realistically-sized block (see the saturation-gate comment in
# run_kernel_raw): at f=0.25 a share-nothing volume still passes a
# 300-k-mer block with ~99% probability, so probing is pure cost
SEED_PRUNE_MAX_FILL = 0.25


def _kmer_explode(seq_col: str, k: int):
    """Distinct uppercased k-mers of a sequence column (empty for
    sequences shorter than k — sequence(1, 0) would count DOWN)."""
    return F.explode(F.array_distinct(F.expr(
        f"CASE WHEN length({seq_col}) < {k} THEN array() "
        f"ELSE transform(sequence(1, length({seq_col}) - {k} + 1), "
        f"i -> upper(substring({seq_col}, i, {k}))) END")))


def volume_seed_blooms(spark, db_dir: str, word_size: int,
                       bits: int = SEED_PRUNE_BITS) -> DataFrame:
    """(db_part, bloom_pos) — the set-bit positions of a Bloom filter
    over each volume's distinct k-mers, staged ONCE as a sidecar
    beside the volumes (content-addressed dirs make the sidecar
    immutable too, the makeblastdb model). One scan of the staged
    database, map-side-combinable distinct, output bounded at
    ``bits`` positions per volume regardless of residue count.

    Sizing (r11 review): a SATURATED filter is a conservative no-op —
    every work item survives, nothing breaks, nothing is saved. The
    2^20 default stays useful to ~300k distinct k-mers per volume
    (fill ~0.6); for nucleotide word_size=11 the whole universe is
    4^11 ≈ 4.2M words, so volumes near-saturating 2^20 are within a
    factor of a few of containing EVERY word — at which point no
    exact filter could prune and the honest answer is "this database
    is not k-mer-sparse; the filter pays off for topically-partitioned
    volumes (the reference's nt/wgs split) and small alphabets, not
    for a uniform soup". Position-table rendering costs 8 B/position
    (worst ~8 MB/volume broadcast when saturated); callers with many
    dense volumes should lower ``bits`` to cap the broadcast — the
    filter degrades gracefully toward no-op, never toward wrong."""
    from mr_mpi_blast_spark.operators.profile import \
        _bloom_positions_spark
    path = f"{db_dir}_seedbloom_k{word_size}_b{bits}_v2"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        subs = spark.read.parquet(db_dir)
        pos = F.array(*[F.expr(p) for p in
                        _bloom_positions_spark("kmer", bits)])
        # stored as DISTINCT (db_part, pos) ROWS, not per-volume
        # arrays: the probe is a position JOIN (see prune_work_items),
        # and Spark's array_except against a near-saturated filter
        # array rebuilds a ~500k-element hash set PER PROBE ROW — the
        # r11 review-pass pathology that turned a 3 s cold kernel run
        # into 10+ minutes at sf0.1.
        (subs.select("db_part", _kmer_explode("seq", word_size)
                     .alias("kmer"))
         .select("db_part", F.explode(pos).alias("pos")).distinct()
         .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def prune_work_items(blocked: DataFrame, volume_blooms: DataFrame,
                     word_size: int, bits: int = SEED_PRUNE_BITS,
                     both_strands: bool = True) -> DataFrame:
    """The surviving (db_part, block_id) pairs: a pair survives iff
    at least one of the block's query k-mers has ALL K of its Bloom
    positions set in the volume's filter. The probe stream is the
    block's DISTINCT k-mers (query-sized); the volume filters are a
    broadcast of DISTINCT (db_part, pos) rows (<= bits per volume —
    8 MB/volume worst case at the 2^20 default, KB when sparse); the
    output is work-item-sized. No subject row is read — the filters
    were staged with the volumes.
    ``bits`` MUST match the value the volume filters were built with
    (volume_seed_blooms bakes it into the sidecar path for exactly
    this reason).

    ``both_strands`` (r11 review): the blastn kernel seeds the query
    on BOTH strands (kernel/builtin.py strands loop runs revcomp(seq)
    too), so the probe set must include the reverse complement's
    k-mers — forward-only probing would prune a pair whose only
    homology is a minus-strand copy, silently losing real hits
    (pinned by test_seed_prune_keeps_minus_strand_only_block). Pass
    False only for protein (no strands; run_kernel_raw does)."""
    from mr_mpi_blast_spark.operators.profile import (
        BLOOM_K, _bloom_positions_spark)
    pos = F.array(*[F.expr(p)
                    for p in _bloom_positions_spark("kmer", bits)])
    probe_seqs = blocked.select("block_id", "seq")
    if both_strands:
        rc = probe_seqs.select(
            "block_id",
            F.expr("translate(reverse(upper(seq)), 'ACGT', 'TGCA')")
            .alias("seq"))
        probe_seqs = probe_seqs.unionByName(rc)
    bk = (probe_seqs.select("block_id",
                            _kmer_explode("seq", word_size).alias("kmer"))
          .distinct())
    # membership as a POSITION JOIN (the bloom_probe shape), not an
    # array_except over the filter array: near-saturated volume
    # filters are ~500k positions, and ArrayExcept rebuilds its hash
    # set per row — measured 3 s -> 10+ min on the sf0.1 cold kernel
    # (r11 review pass). The join probes (block, kmer, pos) rows
    # against broadcast DISTINCT (db_part, pos) rows; a kmer whose K
    # (possibly colliding) position rows ALL match a volume passes.
    kpos = bk.select("block_id", "kmer", F.explode(pos).alias("pos"))
    hits = (kpos.join(F.broadcast(volume_blooms), "pos")
            .groupBy("block_id", "kmer", "db_part")
            .agg(F.count(F.lit(1)).alias("nhit")))
    return (hits.filter(F.col("nhit") == BLOOM_K)
            .select("db_part", "block_id").distinct())


def _format_volumes(parts_df: DataFrame, db_dir: str,
                    cfg: BlastConfig) -> None:
    """The makeblastdb pass over content-keyed volumes: ONE task per
    volume whose index pickle is missing builds it and publishes to
    scratch disk, BEFORE the kernel stage — so search tasks only ever
    unpickle (~1 s) instead of racing O(volume)-cost builds. The
    reference formats the database once (doc/USERGUIDE:224-264) and
    every rank opens the preformatted volume; without this separation
    a cold run had every worker that first touched a volume build it
    concurrently — workers x volumes x O(volume) wall, measured 277 s
    -> ~30 s at the synthesized sf1.0 (10x documents). Driver traffic
    is the volume NAME list (metadata-sized). Warm-run skip: on a
    local[*] master the driver and the executors share one filesystem,
    so a driver-side pickle-presence sweep can skip the job entirely;
    on any OTHER master that check is wrong in both directions (driver
    has the pickle -> formatting skipped and workers race concurrent
    builds again; driver lacks it -> only the executor that ran the
    format task is warmed), so the job is ALWAYS submitted over all
    volumes and each task no-ops executor-locally on a present pickle
    (``format_index`` checks before building) — one metadata-cost task
    per volume on a warm cluster."""
    import pandas as pd

    from mr_mpi_blast_spark.kernel.builtin import (format_index,
                                                   index_cache_key,
                                                   index_cache_path,
                                                   staged_volume)
    parts = [str(r["db_part"]) for r in parts_df.collect()]
    missing = parts
    if parts_df.sparkSession.sparkContext.master.startswith("local"):
        missing = []
        for p in parts:
            ip = index_cache_path(index_cache_key(staged_volume(db_dir, p),
                                                  cfg))
            if ip is None:
                return          # no usable cache dir: nothing to format
            if not os.path.exists(ip):
                missing.append(p)
    if not missing:
        return

    def _fmt(pdf: pd.DataFrame) -> pd.DataFrame:
        part = str(pdf["db_part"].iat[0])
        built = format_index(staged_volume(db_dir, part), cfg)
        return pd.DataFrame({"db_part": [part], "built": [built]})

    (parts_df.filter(F.col("db_part").isin(missing))
     .groupBy("db_part")
     .applyInPandas(_fmt, schema="db_part string, built boolean")
     .collect())


def run_kernel_raw(queries: DataFrame, subjects: DataFrame,
                   cfg: BlastConfig | None = None,
                   log_dir: str | None = None,
                   cache_key: str | None = None,
                   ) -> tuple[DataFrame, int, int]:
    """The kernel stage alone: (raw RAW_HITS DataFrame, whole-db residue
    count, sequence count). Split from run_search so the relational
    tail (P3-P9 + F1 + O2/O3) can be re-derived — and oracle-checked —
    from persisted raw output. RAW_HITS is all integers/strings, so
    persisting it is lossless across engines.

    ``cache_key`` flows to stage_volumes (makeblastdb-style volume
    reuse), and its content-keyed volumes get a format pass and
    indexes persisted on scratch disk — so a session running several
    searches against the same database builds each volume's index
    once, the reference's resident-DB-handle model
    (mrblast.cpp:838-845) held across whole runs, not just map calls.
    Work items with no possible exact-seed overlap are skipped (the
    runtime filter above) unless cfg.threshold is set or the
    saturation gate finds the volume filters too full to prune."""
    cfg = cfg or BlastConfig()

    # P2 once on the dimension side, before the kernel sees subjects
    if "sid" not in subjects.columns:
        subjects = subjects.withColumn("sid", subject_display_id(F.col("defline")))

    blocked = assign_blocks(queries, cfg.block_size).select("block_id", "qid", "seq")

    db_dir, residues, count = stage_volumes(subjects, cache_key=cache_key)
    dbsize = cfg.dbsize if cfg.dbsize is not None else residues
    n_seqs = cfg.n_seqs if cfg.n_seqs is not None else count
    # J1 work items: every block against every partition. Only the
    # partition NAMES cross the driver (metadata, via directory
    # listing); broadcast keeps the blocked side's partitioning.
    parts_df = staged_parts(blocked.sparkSession, db_dir)
    work = blocked.crossJoin(F.broadcast(parts_df))
    if cfg.threshold is None:
        # the runtime filter (see module section above): keep only
        # (block, volume) pairs with possible exact-seed overlap.
        # Silently a no-op under blastp -threshold (neighborhood
        # seeding makes exact-k-mer pruning unsound — documented
        # boundary, full work-item set is the conservative answer).
        blooms = volume_seed_blooms(blocked.sparkSession, db_dir,
                                    cfg.word_size)
        # saturation gate (r11): at per-volume fill f a single k-mer
        # false-passes with ~f^K, so a block of n k-mers passes a
        # share-nothing volume with 1-(1-f^K)^n — ~1 for any
        # realistically-sized block once f >= SEED_PRUNE_MAX_FILL.
        # Probing then costs (k-mer hash + join per block) without
        # ever pruning; skip it on the SPARSEST volume's fill, read
        # from the sidecar's row count (metadata-sized, one tiny agg).
        min_fill = (blooms.groupBy("db_part").count()
                    .agg(F.min("count")).first()[0]
                    or 0) / float(SEED_PRUNE_BITS)
        if min_fill < SEED_PRUNE_MAX_FILL:
            keep = prune_work_items(blocked, blooms, cfg.word_size,
                                    both_strands=cfg.task != "blastp")
            work = work.join(F.broadcast(keep),
                             ["db_part", "block_id"], "left_semi")
    # The explicit repartition (not the groupBy's own exchange) matters:
    # the shuffle carries only query rows — a few MB even when the
    # kernel stage is hours of compute — so AQE's size-based coalescing
    # would shrink it to one task and serialize the kernel. A
    # user-specified repartition is exempt from AQE coalescing, and its
    # hash partitioning on the grouping keys satisfies applyInPandas's
    # required distribution, so no second exchange is planned.
    target = blocked.sparkSession.sparkContext.defaultParallelism
    work = work.repartition(target, F.col("db_part"), F.col("block_id"))
    # content-keyed volumes are searched again, so their indexes are
    # formatted up front and persisted; an anonymous staging is not
    persist = cache_key is not None
    if persist:
        _format_volumes(parts_df, db_dir, cfg)
    kernel = make_lazy_block_kernel(db_dir, cfg, persist)
    if log_dir:
        # W7: per-rank timing log (TIMING=1 analog, mrblast.cpp:900-935)
        from mr_mpi_blast_spark.runlog import timed_kernel
        kernel = timed_kernel(kernel, log_dir)
    # db_part FIRST in the grouping key: applyInPandas sorts each task's
    # rows by the grouping columns in order, so any task holding several
    # volumes runs each volume's groups consecutively and the per-worker
    # index cache (capacity 1, like the reference's single resident DB
    # handle, mrblast.cpp:838-845) rebuilds once per volume per task —
    # the Spark analog of the reference sorting work items by DB file
    # (mrblast.cpp:462-476) for handle reuse.
    raw = work.groupBy("db_part", "block_id").applyInPandas(
        kernel, schema=RAW_HITS)
    return raw, dbsize, n_seqs


def search_from_raw(raw: DataFrame, dbsize: int, n_seqs: int,
                    cfg: BlastConfig | None = None) -> DataFrame:
    """The pipeline's relational tail: RAW_HITS -> canonical HITS.
    Projections (P3-P9), e-value filter (F1), optional
    max_target_seqs cap (F2), per-query top-k (O2+O3). Pure DataFrame
    composition over the kernel's integer output — callers may hand it
    a live kernel DataFrame or raw hits re-read from storage (the
    reference's converter runs over persisted hit files the same way,
    load_csv.py:93-152)."""
    cfg = cfg or BlastConfig()
    from mr_mpi_blast_spark.kernel.builtin import scoring_params
    hits = project_hits(raw, dbsize=dbsize, classifier=cfg.is_classifier,
                        ka=scoring_params(cfg), n_seqs=n_seqs,
                        length_adjust=cfg.length_adjust)
    hits = hits.filter(F.col("evalue") <= cfg.evalue)        # F1

    if cfg.max_target_seqs > 0:                              # F2
        hits = apply_max_target_seqs(hits, cfg.max_target_seqs)

    return top_hits(hits, cfg.num_hit_cutoff)                # O2+O3


def apply_max_target_seqs(hits: DataFrame, cap: int,
                          evalue_col: str = "evalue") -> DataFrame:
    """F2 (-max_target_seqs, doc/USERGUIDE:48-50,357-371): rank
    subjects per query by their best HSP (evalue asc, bitscore desc,
    sid tiebreak) and keep EVERY HSP of the top ``cap`` subjects.

    THE single implementation of the cap — search_from_raw (production
    tail) and the oracle-checked blast_capped_tail both call it, so
    the value oracle exercises the shipped code path, not a twin that
    could drift. ``evalue_col`` lets callers rank on any
    monotone-equivalent column (the tail twin passes its floor-rounded
    log10_evalue; within a query both orderings equal score desc,
    since the length adjustment is constant per qid)."""
    # best HSP per subject by HASH AGGREGATE, not a rank window: only
    # (evalue, bitscore) of the best HSP matter for the subject
    # ranking, and min(struct(evalue, -bitscore)) == ORDER BY evalue
    # ASC, bitscore DESC — partial aggregation combines map-side, so
    # the full hit table is never sort-shuffled (bitscore is floor-
    # rounded and never -0.0, so its negation stays order-exact)
    best_per_subject = (
        hits.groupBy("qid", "sid")
        .agg(F.min(F.struct(F.col(evalue_col).alias("be"),
                            (-F.col("bitscore")).alias("nb"))).alias("b"))
        .select("qid", "sid", F.col("b.be").alias(evalue_col),
                (-F.col("b.nb")).alias("bitscore")))
    subj_rank = topk_per_key(
        best_per_subject,
        ["qid"],
        [F.col(evalue_col).asc(), F.col("bitscore").desc(),
         F.col("sid").asc()],
        cap, rank_col="_tr").select("qid", "sid")
    return hits.join(subj_rank, ["qid", "sid"], "left_semi")


def run_search(queries: DataFrame, subjects: DataFrame,
               cfg: BlastConfig | None = None,
               log_dir: str | None = None,
               cache_key: str | None = None) -> DataFrame:
    """queries(qid, seq, ...) x subjects(sid|defline, db_part, seq)
    -> canonical HITS DataFrame. log_dir enables the reference's
    TIMING per-rank log files (runlog.py); cache_key is
    run_kernel_raw's content key. The seed-overlap work-item filter
    (run_kernel_raw) is value-identical by construction (one-sided
    Bloom, both strands probed)."""
    cfg = cfg or BlastConfig()
    raw, dbsize, n_seqs = run_kernel_raw(queries, subjects, cfg,
                                         log_dir=log_dir, cache_key=cache_key)
    return search_from_raw(raw, dbsize, n_seqs, cfg)


def attach_deflines(hits: DataFrame, deflines: DataFrame) -> DataFrame:
    """J3 (load_csv.py:104-142): re-attach query deflines — the
    reference's sorted sequential merge-join becomes a hash join;
    qids missing from the sidecar yield null qdef (the reference
    raises; we keep the row, SURVEY FIXTURES §4).

    No forced broadcast (r10, the triangle_counts lesson): the query
    sidecar is small in the common search mode, and Catalyst/AQE
    broadcasts it automatically under the threshold — but in the
    reference's all-vs-all mode (examples/refseq-all-vs-all) the
    query set IS the corpus, and a hard-coded F.broadcast would ship
    a corpus-sized table to every executor. Letting the optimizer
    choose gives broadcast when it fits and sort-merge when it
    doesn't, with zero change at the bounded sizes."""
    d = deflines.select(F.col("qid"), F.col("defline").alias("_qdef"))
    return (hits.join(d, "qid", "left")
                .withColumn("qdef", F.col("_qdef"))
                .drop("_qdef"))
