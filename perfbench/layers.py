"""The traced run: per-layer metrics from spans and Spark job totals.

``interleaved_ops`` runs warm operations alternately without and with
the span wrappers (spans.Tracer) installed; ``per_layer`` reduces each
traced operation's spans to per-layer metrics and reports their
medians. A layer a workload never calls reads 0. Job-derived figures
count every job started inside the layer's spans, nested calls
included.
"""

from __future__ import annotations

import statistics
import time

MB = 1024.0 * 1024.0

STAGES = ("scan_slim", "unique_agg", "violations_agg", "summary_agg", "distribution", "drift")


def interleaved_ops(wl, ctx, seconds: float, run_op) -> tuple[list, list]:
    """Alternate untraced and traced warm operations, in the order
    ABBA ABBA ... so that the JVM's warm-up favours neither side,
    until the untraced ones have spent ``seconds`` and there are at
    least ``ctx.min_warm`` of each. Each traced op carries its
    per-layer metrics in ``op.layers``."""
    plain, traced = [], []
    while len(plain) < ctx.min_warm or sum(o.wall for o in plain) < seconds:
        if plain and time.time() > ctx.deadline:
            break
        if len(plain) % 2 == 0:
            plain.append(run_op(wl, ctx, "warm"))
            traced.append(_traced_op(wl, ctx, run_op))
        else:
            traced.append(_traced_op(wl, ctx, run_op))
            plain.append(run_op(wl, ctx, "warm"))
    return plain, traced


def _traced_op(wl, ctx, run_op):
    tr = ctx.tracer
    tr.install()
    try:
        tr.reset()
        op = run_op(wl, ctx, "traced")
    finally:
        tr.uninstall()
    ctx.jobstats.settle()
    op.layers = op_metrics(tr.spans, ctx.jobstats, ctx.cores)
    op.layers["jvm.gc_s"] = op.gc_s
    return op


def _outer(spans: list) -> list:
    """Drop spans nested inside another span of the same list."""
    ids = {id(s) for s in spans}
    out = []
    for s in spans:
        p = s.parent
        while p is not None and id(p) not in ids:
            p = p.parent
        if p is None:
            out.append(s)
    return out


def op_metrics(spans: list, js, cores: int) -> dict:
    def pick(*names):
        return _outer([s for s in spans if s.name in names])

    def dur(ss):
        return sum(s.dur for s in ss)

    def jobs(ss):
        return js.total(j for s in ss for j in s.jobs)

    def util(task_s, wall):
        return task_s / (wall * cores) if wall > 0 else 0.0

    m = {}
    vt = pick("pipeline.validate_tokens")
    for k in STAGES:
        m[f"pipeline.{k}_s"] = sum(s.attrs.get(k, 0.0) for s in vt)
    pf = pick("pipeline.force")
    m["pipeline.force_s"] = dur(pf)
    t = jobs(vt + pf)
    m.update({
        "pipeline.task_s": t["task_s"], "pipeline.core_util": util(t["task_s"], dur(vt + pf)),
        "pipeline.input_mb": sum(s.read_b for s in vt + pf) / MB,
        "pipeline.shuffle_mb": t["shuffle_b"] / MB,
        "pipeline.spill_mb": t["spill_b"] / MB, "pipeline.jobs": t["jobs"],
        "pipeline.tasks": t["tasks"],
    })

    call, agg = pick("summarize.summarize"), pick("summarize.agg")
    t = jobs(call + agg)
    m.update({
        "summarize.call_s": dur(call), "summarize.call_jobs": jobs(call)["jobs"],
        "summarize.agg_s": dur(agg), "summarize.jobs": t["jobs"],
        "summarize.task_s": t["task_s"], "summarize.core_util": util(t["task_s"], dur(call + agg)),
        "summarize.shuffle_mb": t["shuffle_b"] / MB,
    })

    ce = pick("constraints.evaluate_constraints", "constraints.force")
    t = jobs(ce)
    m.update({"constraints.eval_s": dur(ce), "constraints.jobs": t["jobs"],
              "constraints.shuffle_mb": t["shuffle_b"] / MB})
    dd = pick("distribution.distribution_drift", "distribution.force")
    m.update({"distribution.psi_ks_s": dur(dd), "distribution.jobs": jobs(dd)["jobs"]})
    det = pick("drift.detect_drift")
    sc = pick("drift.drift_scores", "drift.drift_scores_driver", "drift.force")
    m.update({"drift.detect_s": dur(det), "drift.scores_s": dur(sc),
              "drift.jobs": jobs(det + sc)["jobs"],
              "clustering.compute_s": dur(pick("clustering.compute_clusters"))})

    m["iceberg.read_s"] = dur(pick("iceberg.read_table"))
    m["iceberg.stamp_s"] = dur(pick("iceberg.partition_snapshot_stamps", "iceberg.current_snapshot_id"))
    m["checkpoint.pending_s"] = dur(pick("checkpoint.pending_by_stamps", "checkpoint.pending_partitions"))
    m["checkpoint.sketch_state_s"] = dur(pick("checkpoint.sketch_state"))
    m["checkpoint.commit_s"] = dur(pick("checkpoint.mark_completed"))
    build = pick("sketches.column_sketches", "sketches.sketches_to_json")
    load = pick("sketches.sketches_from_json")
    m.update({"sketches.build_s": dur(build), "sketches.load_s": dur(load),
              "sketches.jobs": jobs(build + load)["jobs"]})

    main = pick("cli.main")
    t = js.total(j for s in main for j in s.self_jobs())
    m.update({"cli.self_s": sum(s.self_time() for s in main), "cli.jobs": t["jobs"],
              "cli.output_mb": t["output_b"] / MB})
    return m


def per_layer(traced: list, untraced: list) -> dict:
    """Medians over the traced operations, plus the tracing overhead:
    median traced minus median untraced warm time."""
    out = {k: statistics.median(o.layers[k] for o in traced) for k in traced[0].layers}
    out["trace.overhead_s"] = (
        statistics.median(o.wall for o in traced) - statistics.median(o.wall for o in untraced)
    )
    return out
