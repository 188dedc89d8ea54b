"""The BLAST-path benchmark behind perfbench/run.py.

One process drives one long-lived ``local[4]`` session in a closed
loop: one search at a time, no extra threads. Every search is checked against an independent oracle
(perfbench/oracle.py). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes the span file ``perfbench/_work/trace-<workload>-<seed>.json``.
See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import glob
import json
import os
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CPUS = 4
SETUP_PASSES = 2
MIN_SEARCHES = 3

# cfg: BlastConfig fields. keyed: the DB is staged once under a content
# key (the makeblastdb model) during set-up; unkeyed workloads format
# their DB in every search, the way the CLI does.
SPECS = {
    "blastp_families": {
        "cfg": {"task": "blastp", "word_size": 4, "evalue": 1e-3,
                "min_score": 40, "block_size": 8000, "num_hit_cutoff": 5,
                "max_kmer_hits": 64},
        "keyed": True, "sinks": ("parquet",)},
    "fresh_db_sparse": {
        "cfg": {"task": "blastn", "word_size": 16, "evalue": 1e-10,
                "block_size": 1200, "num_hit_cutoff": 10},
        "keyed": False, "sinks": ("parquet", "csv")},
}
ALL_SINKS = ("parquet", "csv")


def _args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate() -> None:
    """Keep every file the run writes inside WORK, and start from an
    empty WORK so nothing staged, indexed or cached by an earlier run
    is found by this one."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("scratch", "tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))
    tmp = os.path.join(WORK, "tmp")
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": os.path.join(WORK, "scratch"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--driver-java-options",
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}", "pyspark-shell"]),
    })


def _clear_scratch() -> None:
    scratch = os.environ["SPARK_GRAFT_SCRATCH"]
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(d, f))
    return total


def _cpus_of(master: str) -> int | None:
    """Core count a local master honours; None when it does not say."""
    m = re.fullmatch(r"local\[(\d+)(?:,\s*\d+)?\]", master.strip())
    return int(m.group(1)) if m else (1 if master.strip() == "local"
                                      else None)


@dataclasses.dataclass
class Workload:
    name: str
    seed: int
    cfg: object
    keyed: bool
    sinks: tuple
    query_fa: str
    db_fa: str
    warm_fa: str
    key: str | None
    n_queries: int
    query_residues: int
    db_residues: int
    n_seqs: int
    n_volumes: int
    planted: list
    oracle: object
    oracle_digest: str
    qdef: dict
    direct: dict
    subjects: object = None


def prepare(name: str, seed: int) -> Workload:
    """Generate inputs and compute the oracle (untimed)."""
    from gen import generate, read_fasta_records
    from oracle import digest, direct_raw, replay_tail

    from mr_mpi_blast_spark.config import BlastConfig
    from mr_mpi_blast_spark.kernel.builtin import KERNEL_SPEC

    spec = SPECS[name]
    cfg = BlastConfig(**spec["cfg"])
    paths = generate(name, seed, os.path.join(WORK, "inputs"))
    qrec = read_fasta_records(paths["query.fa"])
    drec = read_fasta_records(paths["db.fa"])
    # the program's FASTA source numbers queries 1.. in file order and
    # names subjects by the first defline token
    qid_of = {d.split(" ")[0]: i + 1 for i, (d, _) in enumerate(qrec)}
    volumes: dict[str, list] = {}
    for d, s in drec:
        vol = re.search(r"vol=(\S+)", d).group(1)
        volumes.setdefault(vol, []).append((d.split(" ")[0], s))
    with open(paths["planted.tsv"]) as fh:
        planted = [(qid_of[q], s) for q, s in
                   (line.rstrip("\n").split("\t") for line in fh)]
    warm_fa = os.path.join(WORK, "inputs", "warm.fa")
    with open(warm_fa, "w") as fh:
        for d, s in qrec[:2]:
            fh.write(f">{d}\n{s}\n")
    queries = [(i + 1, s) for i, (_, s) in enumerate(qrec)]
    dbsize = sum(len(s) for _, s in drec)
    raw, build_s, align_s = direct_raw(queries, volumes, cfg)
    table = replay_tail(raw, cfg, dbsize, len(drec))
    qres = sum(len(s) for _, s in qrec)
    st = os.stat(paths["db.fa"])
    key = (f"perfbench:{name}:{seed}:{st.st_size}:{KERNEL_SPEC}"
           if spec["keyed"] else None)
    return Workload(
        name=name, seed=seed, cfg=cfg, keyed=spec["keyed"],
        sinks=spec["sinks"], query_fa=paths["query.fa"],
        db_fa=paths["db.fa"], warm_fa=warm_fa, key=key,
        n_queries=len(qrec), query_residues=qres, db_residues=dbsize,
        n_seqs=len(drec), n_volumes=len(volumes), planted=planted,
        oracle=table, oracle_digest=digest(table),
        qdef={i + 1: d for i, (d, _) in enumerate(qrec)},
        direct={"index_build_s": build_s, "align_s": align_s,
                "qres_per_s_1t": qres / align_s if align_s else 0.0})


# -- the search, through the package's public calls ------------------------

def _queries(spark, path):
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.sources.fasta import read_fasta
    return read_fasta(spark, path).select(
        "qid", "defline", "defline_part", "seq",
        F.length("seq").cast("int").alias("length"))


def _subjects(spark, path):
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.sources.fasta import read_fasta
    return read_fasta(spark, path).select(
        F.col("defline_part").alias("sid"), "defline",
        F.regexp_extract("defline", r"vol=(\S+)", 1).alias("db_part"),
        "seq", F.length("seq").cast("int").alias("length"))


def _write_sink(fmt, hits, queries, out):
    """The CLI's default sinks: parquet, and CSV with the defline join."""
    from mr_mpi_blast_spark.sinks import write_csv, write_parquet
    if fmt == "parquet":
        write_parquet(hits, os.path.join(out, _SINK_PATH[fmt]))
    else:
        write_csv(hits, os.path.join(out, _SINK_PATH[fmt]),
                  deflines=queries.select("qid", "defline"))


_SINK_PATH = {"parquet": "hits.parquet", "csv": "hits.csv"}


def search(spark, w: Workload, query_fa: str, out: str, tracer,
           log_dir: str | None = None) -> int:
    """One search: query FASTA on disk -> finished sink files."""
    from mr_mpi_blast_spark.plans.pipeline import run_search
    span = tracer.span if tracer else _nospan
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with span("sources.read_fasta"):
        queries = _queries(spark, query_fa)
    if w.keyed:
        subjects = w.subjects
    else:
        with span("sources.read_fasta"):
            subjects = _subjects(spark, w.db_fa)
    with span("plans.pipeline.run_search"):
        hits = run_search(queries, subjects, w.cfg, log_dir=log_dir,
                          cache_key=w.key).cache()
    with span("search.execute"):
        n = hits.count()
    for fmt in w.sinks:
        with span(f"sinks.{fmt}"):
            _write_sink(fmt, hits, queries, out)
    hits.unpersist()
    return n


@contextlib.contextmanager
def _nospan(name):
    yield None


# -- output checks (untimed) ------------------------------------------------

def _read_sink(fmt: str, out: str):
    import pandas as pd
    import pyarrow.parquet as pq
    path = os.path.join(out, _SINK_PATH[fmt])
    if fmt == "parquet":
        return pq.read_table(path).to_pandas()
    frames = [pd.read_csv(f, dtype={"qdef": str, "sid": str})
              for f in sorted(glob.glob(os.path.join(path, "*.csv")))]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


_EXACT = ["qid", "sid", "align_len", "mismatches", "gaps", "qstart", "qend",
          "sstart", "send"]
_FLOATS = ["ident", "evalue", "bitscore"]


def _csv_matches(w: Workload, df) -> bool:
    """The CSV sink renders floats with %.3g: its qid, defline, sid
    and integer columns must equal the oracle's exactly, and each float
    must lie within half a unit of its third significant digit of the
    oracle's value."""
    import numpy as np
    if len(df) != len(w.oracle):
        return False
    if len(df) == 0:
        return True
    got = df.sort_values(_EXACT + _FLOATS, ignore_index=True)
    want = w.oracle.sort_values(_EXACT + _FLOATS, ignore_index=True)
    for c in _EXACT:
        if not (got[c].astype(str).to_numpy()
                == want[c].astype(str).to_numpy()).all():
            return False
    if not (got["qdef"].to_numpy()
            == got["qid"].map(w.qdef).to_numpy()).all():
        return False
    for c in _FLOATS:
        x = want[c].to_numpy(dtype=float)
        mag = np.floor(np.log10(np.abs(np.where(x == 0, 1.0, x))))
        tol = np.where(x == 0, 0.0, 0.5 * 10.0 ** (mag - 2)) * (1 + 1e-6)
        if not (np.abs(got[c].to_numpy(dtype=float) - x) <= tol).all():
            return False
    return True


def check(w: Workload, out: str) -> tuple[bool, float]:
    """(every sink matches the oracle, planted recall)."""
    from oracle import digest, recall
    ok, rec = True, None
    for fmt in w.sinks:
        df = _read_sink(fmt, out)
        if fmt == "csv":
            good = _csv_matches(w, df)
        else:
            good = digest(df) == w.oracle_digest
            if rec is None:
                rec = recall(df, w.planted)
        if not good:
            print(f"perfbench: {fmt} sink does not match the oracle",
                  file=sys.stderr)
        ok &= good
    return ok, rec if rec is not None else 0.0


# -- session, set-up and the closed loop -----------------------------------

def _stop(spark) -> None:
    if spark is not None:
        spark.stop()


def _end_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_session(extra_conf=None):
    """(session, seconds to start it)."""
    from mr_mpi_blast_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false", **(extra_conf or {})})
    return spark, time.perf_counter() - t0


def set_up(w: Workload, spark) -> float:
    """One DB set-up pass of a keyed workload, from an empty scratch
    dir; returns its seconds. It reads the DB FASTA (the DataFrame
    every timed search reuses) and runs the eager part of
    ``run_kernel_raw`` on two queries: volume staging, the seed-filter
    sidecar and the index format pass (the makeblastdb analog). The
    kernel is lazy and does not run."""
    from mr_mpi_blast_spark.plans.pipeline import run_kernel_raw
    _clear_scratch()
    t0 = time.perf_counter()
    w.subjects = _subjects(spark, w.db_fa)
    run_kernel_raw(_queries(spark, w.warm_fa), w.subjects, w.cfg,
                   cache_key=w.key)
    return time.perf_counter() - t0


def warm_up(w: Workload, spark) -> float:
    """The session's first work for an unkeyed workload: one search of
    two queries, so the JIT has compiled every plan's code path before
    the loop; returns its seconds. A keyed workload's set-up passes
    have already run every stage but the tail and the sink."""
    t0 = time.perf_counter()
    search(spark, w, w.warm_fa, os.path.join(WORK, "warm"), None)
    return time.perf_counter() - t0


@dataclasses.dataclass
class Loop:
    """The searches of one closed loop. A search that raises, or whose
    sinks do not match the oracle, counts as failed and gives no wall
    time."""
    walls: list = dataclasses.field(default_factory=list)
    recalls: list = dataclasses.field(default_factory=list)
    scratch_left: list = dataclasses.field(default_factory=list)
    log_dirs: list = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    measured: float = 0.0

    def search(self, spark, w: Workload, tracer=None,
               log_root: str | None = None) -> None:
        """One timed search, checked against the oracle afterwards."""
        self.attempted += 1
        span = tracer.span if tracer else _nospan
        log_dir = (os.path.join(log_root, f"s{self.attempted}")
                   if log_root else None)
        if tracer:
            tracer.run_id = f"search{self.attempted}"
        scratch = os.environ["SPARK_GRAFT_SCRATCH"]
        out = os.path.join(WORK, "out")
        before = _du(scratch)
        t0 = time.perf_counter()
        try:
            with span("search"):
                search(spark, w, w.query_fa, out, tracer, log_dir)
            wall = time.perf_counter() - t0
            self.scratch_left.append(_du(scratch) - before)
            ok, rec = check(w, out)
        except Exception:
            traceback.print_exc()
            wall, ok = time.perf_counter() - t0, False
        self.measured += wall
        if not ok:
            self.failed += 1
            return
        self.walls.append(wall)
        self.recalls.append(rec)
        if log_dir:
            self.log_dirs.append(log_dir)

    def done(self, seconds: float) -> bool:
        return self.measured >= seconds and self.attempted >= MIN_SEARCHES


def closed_loop(spark, w: Workload, seconds: float) -> Loop:
    """Searches back to back until ``seconds`` have been measured (and
    at least MIN_SEARCHES ran)."""
    loop = Loop()
    while not loop.done(seconds):
        loop.search(spark, w)
    return loop


class RssSampler:
    def __init__(self) -> None:
        self.path = os.path.join(WORK, "rss_peak_mb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rss.py"),
             str(os.getpid()), self.path])

    def stop(self) -> float:
        self.proc.terminate()
        self.proc.wait(timeout=30)
        with open(self.path) as fh:
            return float(fh.read())


def _attribution(w: Workload, spark) -> dict:
    from mr_mpi_blast_spark.kernel.builtin import KERNEL_SPEC
    sc = spark.sparkContext
    return {"workload": w.name, "seed": w.seed,
            "spec": SPECS[w.name],
            "kernel_spec": KERNEL_SPEC,
            "master": sc.master, "cpus": _cpus_of(sc.master),
            "default_parallelism": sc.defaultParallelism,
            "query_residues": w.query_residues,
            "db_residues": w.db_residues, "db_volumes": w.n_volumes}


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(w, loop, setup_s, rss_mb) -> dict:
    med = statistics.median
    walls = loop.walls
    return {
        "wall_s": _metric(med(walls), "s"),
        "qres_per_s": _metric(med(w.query_residues / x for x in walls),
                              "1/s"),
        "setup_s": _metric(setup_s, "s"),
        "peak_rss_mb": _metric(rss_mb, "MiB"),
        "recall_planted": _metric(med(loop.recalls), "ratio"),
        "pass_ratio": _metric(1.0 - loop.failed / loop.attempted,
                              "ratio"),
    }


def main(argv) -> int:
    args = _args(argv)
    _isolate()
    w = prepare(args.workload, args.seed)
    spark = sampler = None
    try:
        if args.trace:
            from traced import event_log_conf, traced_run
        # --trace 1 runs its one session with Spark's event log on
        spark, start_s = start_session(event_log_conf(WORK) if args.trace
                                       else None)
        # only a keyed DB has set-up work to repeat; session start and
        # the cold JIT warm-up happen once per process by nature.
        # --trace 1 reports no setup_s, so one pass does there.
        if w.keyed:
            passes = [set_up(w, spark)
                      for _ in range(1 if args.trace else SETUP_PASSES)]
            setup_s = start_s + statistics.median(passes)
        else:
            passes = []
            setup_s = start_s + warm_up(w, spark)
        attribution = _attribution(w, spark)
        if args.trace:
            metrics, loops = traced_run(w, spark, args.seconds, start_s,
                                        WORK)
        else:
            sampler = RssSampler()
            loops = [closed_loop(spark, w, args.seconds)]
            rss_mb = sampler.stop()
            sampler = None
            metrics = (end_to_end(w, loops[0], setup_s, rss_mb)
                       if loops[0].walls else None)
        attempted = sum(x.attempted for x in loops)
        failed = sum(x.failed for x in loops)
    finally:
        if sampler is not None:
            sampler.stop()
        _stop(spark)
        _end_jvm()
    print(json.dumps({"attribution": attribution,
                      "session_start_s": start_s, "set_up_passes_s": passes,
                      "setup_s": setup_s,
                      "wall_s": [x for lp in loops for x in lp.walls]}))
    print(json.dumps({"correct": failed == 0 and metrics is not None,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics or {}}))
    return 0
