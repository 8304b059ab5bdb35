"""Traced window and the per-layer metrics derived from its spans.

After warming every kind, the traced run times one untraced cycle, then
installs the wrappers (:mod:`tracing`) and runs whole cycles for the window.
The relative gap between the first traced cycle and the untraced one is
``trace.overhead_pct``.  Exact counts (jobs, tasks, iterations, persisted
RDDs) are taken over the first traced cycle, so they repeat for a seed no
matter how many cycles fit in the window; times are medians over every
traced op.  A metric whose layer does no work on a workload reads 0.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import workloads as W
from tracing import Tracer

_PASS_EXCLUDE = ("from_problem", "new_weights", "init_state", "rollback")


@dataclass
class LayerResult:
    loop: W.LoopResult
    metrics: dict
    dump_path: str


def traced_window(runner: W.Runner, seed: int, seconds: float, deadline: float,
                  session_s: float, out_dir: str) -> LayerResult:
    ref = W.run_cycles(runner, 0.0, deadline)
    tracer = Tracer(runner.sc)
    runner.tracer = tracer
    untagged: dict[int, int] = {}

    def after_op(rec: W.OpRecord) -> None:
        untagged[tracer.op] = tracer.collect_counts(tracer.op)
        tracer.op += 1

    tracer.op = 0
    tracer.instrument()
    try:
        loop = W.run_cycles(runner, seconds, deadline, on_op=after_op)
    finally:
        tracer.uninstrument()
        runner.tracer = None
    numpy_ref = W.numpy_reference_s(seed)
    metrics = layer_metrics(runner, tracer, loop, ref, untagged, session_s, numpy_ref)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"spans-{runner.wd.name}-{seed}-{int(time.time())}.jsonl"
    )
    tracer.dump(path)
    return LayerResult(loop=loop, metrics=metrics, dump_path=path)


def layer_metrics(runner, tracer: Tracer, loop: W.LoopResult, ref: W.LoopResult,
                  untagged: dict[int, int], session_s: float, numpy_ref: float) -> dict:
    recs = loop.records
    first = [i for i, r in enumerate(recs) if r.cycle == recs[0].cycle]
    spans_of = {i: tracer.op_spans(i) for i in range(len(recs))}
    self_of = {i: tracer.self_times(i) for i in range(len(recs))}
    idx_of = {id(s): j for j, s in enumerate(tracer.spans)}

    def layer_spans(i, layer):
        return [s for s in spans_of[i] if s.layer == layer]

    def is_pass(s):
        return s.layer == "kernels" and s.jobs > 0 and s.name != "kernels.render" \
            and not s.name.endswith(_PASS_EXCLUDE)

    def is_render(s):
        return s.name == "kernels.render" or s.name.endswith(".new_weights")

    local_ops = {i for i in range(len(recs)) if any(s.name == "api._collect_dense" for s in spans_of[i])}
    dist_first = [i for i in first if i not in local_ops]

    build = [s.wall for i in spans_of for s in layer_spans(i, "plans")]
    passes = [s for i in spans_of for s in spans_of[i] if is_pass(s)]
    pass_s = W.median(s.wall for s in passes)
    kernel_job_spans = [s for i in spans_of for s in layer_spans(i, "kernels") if s.jobs > 0]
    kjobs = sum(s.jobs for s in kernel_job_spans)
    iters_dist = sum(recs[i].iterations for i in dist_first)
    stats_calls = sum(1 for i in spans_of for s in spans_of[i] if s.name == "SparkKernel.stats")
    spec_hits = sum(getattr(k, "spec_hits", 0) for k in tracer.kernels)
    partitions = max((r.blob_partitions for r in recs), default=0)
    inputs = runner.inputs
    payload = 8 * (inputs.sum_kb2 + 4 * inputs.k) * partitions

    def per_kind(kind):
        return W.median(r.solve_s for r in recs if r.kind == kind and r.ok)

    ref_wall = sum(r.op_s for r in ref.records)
    traced_wall = sum(recs[i].op_s for i in first)
    values = {
        "session.start_s": session_s,
        "plans.build_s": W.median(build),
        "plans.jobs": sum(s.jobs for i in first for s in layer_spans(i, "plans")),
        "plans.persisted_rdds": recs[first[-1]].persisted_plans,
        "solvers.dispatch_local": len(local_ops) / len(recs),
        "solvers.self_s": W.median(
            sum(self_of[i][idx_of[id(s)]] for s in layer_spans(i, "solvers")) for i in spans_of
        ),
        "solvers.linalg_s": W.median(
            sum(s.wall for s in layer_spans(i, "linalg")) for i in spans_of
        ),
        "solvers.iterations": sum(recs[i].iterations for i in first),
        "solvers.numpy_ref_s": numpy_ref,
        "solvers.newton_s_p50": per_kind("newton"),
        "solvers.elastic_s_p50": per_kind("elastic"),
        "solvers.penalty_s_p50": per_kind("penalty"),
        "kernels.jobs_per_iter": (
            sum(s.jobs for i in dist_first for s in layer_spans(i, "kernels")) / iters_dist
            if iters_dist else 0.0
        ),
        "kernels.s_per_job": (
            sum(s.wall for s in kernel_job_spans) / kjobs if kjobs else 0.0
        ),
        "kernels.tasks": sum(s.tasks for i in first for s in layer_spans(i, "kernels")),
        "kernels.failed_tasks": sum(
            s.failed_tasks for i in first for s in layer_spans(i, "kernels")
        ),
        "kernels.pass_s": pass_s,
        "kernels.scan_rows_per_s": inputs.n / pass_s if pass_s else 0.0,
        "kernels.payload_bytes_per_pass": payload,
        "kernels.spec_hit_ratio": spec_hits / stats_calls if stats_calls else 0.0,
        "kernels.render_s": W.median(
            sum(s.wall for s in layer_spans(i, "kernels")
                if is_render(s) and not (s.parent is not None and is_render(tracer.spans[s.parent])))
            for i in spans_of
        ),
        "kernels.persisted_rdds": recs[first[-1]].persisted_kernels,
        "operators.check_s": W.median(
            s.wall for i in spans_of for s in layer_spans(i, "operators")
        ),
        "bench.jobs_per_cycle": sum(
            s.jobs for i in first for s in spans_of[i] if s.layer != "operators"
        ) + sum(untagged.get(i, 0) for i in first),
        "trace.untagged_jobs": sum(untagged.get(i, 0) for i in first),
        "trace.op_self_s": W.median(
            self_of[i][idx_of[id(s)]] for i in spans_of for s in layer_spans(i, "bench")
        ),
        "trace.overhead_pct": 100.0 * (traced_wall / ref_wall - 1.0) if ref_wall else 0.0,
    }
    return {name: {"value": v, "unit": UNITS[name]} for name, v in values.items()}


UNITS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.jobs": "count",
    "plans.persisted_rdds": "count",
    "solvers.dispatch_local": "ratio",
    "solvers.self_s": "s",
    "solvers.linalg_s": "s",
    "solvers.iterations": "count",
    "solvers.numpy_ref_s": "s",
    "solvers.newton_s_p50": "s",
    "solvers.elastic_s_p50": "s",
    "solvers.penalty_s_p50": "s",
    "kernels.jobs_per_iter": "count",
    "kernels.s_per_job": "s",
    "kernels.tasks": "count",
    "kernels.failed_tasks": "count",
    "kernels.pass_s": "s",
    "kernels.scan_rows_per_s": "1/s",
    "kernels.payload_bytes_per_pass": "bytes",
    "kernels.spec_hit_ratio": "ratio",
    "kernels.render_s": "s",
    "kernels.persisted_rdds": "count",
    "operators.check_s": "s",
    "bench.jobs_per_cycle": "count",
    "trace.untagged_jobs": "count",
    "trace.op_self_s": "s",
    "trace.overhead_pct": "%",
}
