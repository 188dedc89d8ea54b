"""The searches of a ``--trace 1`` run and its per-layer metrics.

A ``--trace 1`` run starts its session with Spark's event log on (the
only session that has it). Untraced and traced searches alternate, so
both see the same JIT and host state; the untraced ones give the
overhead ratio. In a traced search the pipeline module's stage
functions are wrapped in spans, and the search passes ``log_dir`` so
the kernel writes its per-rank timing logs. After the searches, one
more kernel run is persisted and the relational tail alone is timed
over it into a noop sink.
"""

from __future__ import annotations

import os
import statistics

import harness
from spans import (Tracer, merge_groups, patched, read_event_log,
                   read_rank_logs)

# pipeline-module functions wrapped in spans: attribute -> span name
_PIPELINE_SPANS = {
    "assign_blocks": "operators.blocks.assign_blocks",
    "stage_volumes": "plans.pipeline.stage_volumes",
    "volume_seed_blooms": "plans.pipeline.volume_seed_blooms",
    "prune_work_items": "plans.pipeline.prune_work_items",
    "_format_volumes": "plans.pipeline.format_volumes",
}

# span name -> phase, for the Spark event-log roll-up
_PHASE_OF = {"sources.read_fasta": "sources",
             "plans.pipeline.run_search": "plan",
             "search.execute": "execute",
             "tail.search_from_raw": "tail"}
_PHASE_OF.update({v: "plan" for v in _PIPELINE_SPANS.values()})
_PHASE_OF.update({f"sinks.{f}": "sinks" for f in harness.ALL_SINKS})
PHASES = ("sources", "plan", "execute", "sinks", "tail")


def _tail_probe(spark, w, tracer, work):
    """Persist one kernel run's raw hits, then time search_from_raw
    over them into a noop sink. Returns the persisted qid column."""
    import pyarrow.parquet as pq

    from mr_mpi_blast_spark.plans.pipeline import (run_kernel_raw,
                                                   search_from_raw)
    raw_dir = os.path.join(work, "tail_raw")
    tracer.run_id = "tail"
    with tracer.span("tail.persist_raw"):
        queries = harness._queries(spark, w.query_fa)
        subjects = (w.subjects if w.keyed
                    else harness._subjects(spark, w.db_fa))
        raw, dbsize, n_seqs = run_kernel_raw(queries, subjects, w.cfg,
                                             cache_key=w.key)
        raw.write.mode("overwrite").parquet(raw_dir)
    with tracer.span("tail.search_from_raw"):
        (search_from_raw(spark.read.parquet(raw_dir), dbsize, n_seqs, w.cfg)
         .write.format("noop").mode("overwrite").save())
    return pq.read_table(raw_dir, columns=["qid"])


def _block_stats(spark, w):
    from pyspark.sql import functions as F

    from mr_mpi_blast_spark.operators.blocks import assign_blocks
    bp = [r[0] for r in assign_blocks(harness._queries(spark, w.query_fa),
                                      w.cfg.block_size)
          .groupBy("block_id").agg(F.sum("length")).collect()]
    return len(bp), max(bp) / (sum(bp) / len(bp))


def event_log_conf(work):
    """Session conf that writes Spark's JSON event log under ``work``."""
    ev_dir = os.path.join(work, "eventlog")
    os.makedirs(ev_dir)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + ev_dir}


def traced_run(w, spark, seconds, start_s, work):
    """Alternates untraced and traced searches until each kind has
    measured half of ``seconds``. Returns (per-layer metrics, [untraced
    loop, traced loop]); stops ``spark``, which closes its event log."""
    med = statistics.median
    ev_dir = os.path.join(work, "eventlog")
    tracer = Tracer()
    tracer.spark = spark
    import mr_mpi_blast_spark.plans.pipeline as pipeline
    base, loop = harness.Loop(), harness.Loop()
    log_root = os.path.join(work, "ranklogs")
    while not (base.done(seconds / 2) and loop.done(seconds / 2)):
        base.search(spark, w)
        with patched(pipeline, _PIPELINE_SPANS, tracer):
            loop.search(spark, w, tracer, log_root)
    with patched(pipeline, _PIPELINE_SPANS, tracer):
        raw_q = _tail_probe(spark, w, tracer, work)
    tracer.run_id = "extras"
    n_blocks, bp_skew = _block_stats(spark, w)
    attribution = harness._attribution(w, spark)
    sink_bytes = {f: harness._du(os.path.join(work, "out",
                                              harness._SINK_PATH[f]))
                  for f in w.sinks}
    spark.stop()                       # closes the event log
    if not (loop.walls and base.walls):
        return None, [base, loop]
    events = read_event_log(ev_dir)

    runs = [f"search{i + 1}" for i in range(loop.attempted)]
    per_run = [tracer.totals(r) for r in runs]
    ranks = [read_rank_logs(d) for d in loop.log_dirs]

    def span_med(name):
        return med(t.get(name, 0.0) for t in per_run)

    def rank_med(fn):
        return med(fn(r) for r in ranks)

    def skew(r):
        b = list(r["rank_busy"].values())
        return max(b) / (sum(b) / len(b)) if b else 0.0

    n_raw = raw_q.num_rows
    qcounts = raw_q.column("qid").to_pandas().value_counts()
    m = {
        "session.start_s": (start_s, "s"),
        "sources.read_fasta_s": (span_med("sources.read_fasta"), "s"),
        "sources.records": (w.n_queries + (0 if w.keyed else w.n_seqs),
                            "count"),
        "blocks.n": (n_blocks, "count"),
        "blocks.bp_max_over_mean": (bp_skew, "ratio"),
        "blocks.assign_s": (span_med("operators.blocks.assign_blocks"), "s"),
        "pipeline.kernel_plan_s": (span_med("plans.pipeline.run_search"),
                                   "s"),
        "pipeline.stage_s": (span_med("plans.pipeline.stage_volumes"), "s"),
        "pipeline.bloom_s": (span_med("plans.pipeline.volume_seed_blooms"),
                             "s"),
        "pipeline.prune_s": (span_med("plans.pipeline.prune_work_items"),
                             "s"),
        "pipeline.work_items_total": (n_blocks * w.n_volumes, "count"),
        "pipeline.work_items_run": (rank_med(lambda r: r["calls"]),
                                    "count"),
        "pipeline.work_item_yield": (
            rank_med(lambda r: r["calls_with_hits"] / max(r["calls"], 1)),
            "ratio"),
        "pipeline.scratch_bytes_left": (med(loop.scratch_left), "bytes"),
        "kernel.index_build_1t_s": (w.direct["index_build_s"], "s"),
        "kernel.align_busy_s": (rank_med(lambda r: r["busy_s"]), "s"),
        "kernel.align_call_max_s": (rank_med(lambda r: r["call_max_s"]),
                                    "s"),
        "kernel.task_skew": (rank_med(skew), "ratio"),
        "kernel.core_util": (rank_med(
            lambda r: r["busy_s"] / (r["window_s"] * harness.CPUS)
            if r["window_s"] else 0.0), "ratio"),
        "kernel.raw_hits": (rank_med(lambda r: r["raw_hits"]), "count"),
        "kernel.qres_per_s_1t": (w.direct["qres_per_s_1t"], "1/s"),
        "tail.s": (tracer.totals("tail")["tail.search_from_raw"], "s"),
        "tail.hit_yield": (len(w.oracle) / n_raw if n_raw else 0.0,
                           "ratio"),
        "tail.hot_qid_share": (int(qcounts.max()) / n_raw if n_raw else 0.0,
                               "ratio"),
    }
    for f in harness.ALL_SINKS:
        m[f"sinks.{f}_s"] = (span_med(f"sinks.{f}"), "s")
        m[f"sinks.{f}_bytes"] = (sink_bytes.get(f, 0), "bytes")

    # Spark, per phase: jobs/tasks/bytes per search (the tail phase
    # runs once), task-time skew over all of the phase's tasks
    by_phase = {p: [] for p in PHASES}
    for group, rec in events.items():
        run, _, name = group.partition("/")
        if run.startswith("search") or name == "tail.search_from_raw":
            if name in _PHASE_OF:
                by_phase[_PHASE_OF[name]].append(rec)
    for p in PHASES:
        agg = merge_groups(by_phase[p])
        per = 1 if p == "tail" else max(len(ranks), 1)
        m[f"spark.{p}.jobs"] = (agg["jobs"] / per, "count")
        m[f"spark.{p}.tasks"] = (agg["tasks"] / per, "count")
        m[f"spark.{p}.shuffle_write_bytes"] = (
            agg["shuffle_write_bytes"] / per, "bytes")
        m[f"spark.{p}.spill_bytes"] = (agg["spill_bytes"] / per, "bytes")
        m[f"spark.{p}.task_s_max_over_p50"] = (agg["task_s_max_over_p50"],
                                               "ratio")
    m["tail.shuffle_bytes"] = (m["spark.tail.shuffle_write_bytes"][0],
                               "bytes")

    # the paper's phase log: stage/index, map, collate+reduce, gather
    window = rank_med(lambda r: r["window_s"])
    m["phase.stage_s"] = (span_med("sources.read_fasta")
                          + span_med("plans.pipeline.run_search"), "s")
    m["phase.map_s"] = (window, "s")
    m["phase.collate_reduce_s"] = (
        max(span_med("search.execute") - window, 0.0), "s")
    m["phase.gather_s"] = (sum(span_med(f"sinks.{f}") for f in w.sinks),
                           "s")
    m["trace.overhead_ratio"] = (med(loop.walls) / med(base.walls),
                                 "ratio")

    metrics = {k: harness._metric(v, u) for k, (v, u) in m.items()}
    tracer.dump(os.path.join(work, f"trace-{w.name}-{w.seed}.json"),
                extra={"attribution": attribution, "metrics": metrics,
                       "searches_traced": len(loop.walls),
                       "searches_untraced": len(base.walls),
                       "wall_s_traced": loop.walls,
                       "wall_s_untraced": base.walls,
                       "event_log_groups": {
                           g: {k: v for k, v in r.items() if k != "task_s"}
                           for g, r in events.items()}})
    return metrics, [base, loop]
