"""Span recorder for the traced benchmark run.

Spans are recorded from outside the engine: the benchmark opens spans around
its own calls into the public API (build, solve, render, check), and
:meth:`Tracer.instrument` wraps the engine functions that the solvers call
internally (kernel protocol methods, the ``solvers.linalg`` entry points, the
driver loops and the local-path collect).  Nothing in the engine changes; the
wrappers are removed by :meth:`Tracer.uninstrument`.

Every span tags the Spark jobs it starts with its own ``sc.setJobGroup`` id.
After each op, :meth:`Tracer.collect_counts` reads job, stage and task counts
per span from ``sc.statusTracker()``.  Jobs started from threads that do not
inherit the group (the two helper threads of the local-path collect) are
counted as untagged, not dropped.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    op: int
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


# (module path, attribute, layer): engine functions wrapped in the traced run.
# The newton driver binds the linalg helpers at import, so they are wrapped
# where that module looks them up; the elastic driver imports them per call.
_FUNCTIONS = [
    ("entropy_balance_weighting_spark.solvers.api", "_collect_dense", "solvers"),
    ("entropy_balance_weighting_spark.solvers.newton", "solve_unbounded", "solvers"),
    ("entropy_balance_weighting_spark.solvers.elastic", "solve_elastic", "solvers"),
    ("entropy_balance_weighting_spark.solvers.penalty", "solve_penalty", "solvers"),
    ("entropy_balance_weighting_spark.solvers.penalty", "solve_penalty_bounded", "solvers"),
    ("entropy_balance_weighting_spark.solvers.newton", "solve_regularized", "linalg"),
    ("entropy_balance_weighting_spark.solvers.linalg", "solve_regularized", "linalg"),
]

# (module path, class, methods): kernel protocol surface (kernels/base.py)
# and the block-diagonal Gram algebra the drivers call.
_KERNEL_METHODS = (
    "from_problem", "init_state", "stats", "step_stats", "commit", "rollback",
    "elastic_g1", "elastic_stats", "elastic_step", "elastic_commit",
    "penalty_init", "penalty_stats", "penalty_commit", "pb_stats", "pb_step",
    "pb_commit", "moment_totals", "new_weights",
)
_CLASSES = [
    ("entropy_balance_weighting_spark.kernels.spark", "SparkKernel", _KERNEL_METHODS, "kernels"),
    ("entropy_balance_weighting_spark.kernels.elastic_spark", "ElasticSparkKernel", _KERNEL_METHODS, "kernels"),
    ("entropy_balance_weighting_spark.kernels.penalty_spark", "PenaltySparkKernel", _KERNEL_METHODS, "kernels"),
    ("entropy_balance_weighting_spark.kernels.local", "LocalKernel", _KERNEL_METHODS, "kernels"),
    ("entropy_balance_weighting_spark.kernels.elastic_local", "ElasticLocalKernel", _KERNEL_METHODS, "kernels"),
    ("entropy_balance_weighting_spark.kernels.penalty_local", "PenaltyLocalKernel", _KERNEL_METHODS, "kernels"),
    ("entropy_balance_weighting_spark.solvers.api", "_LocalKernelAsDataFrame", ("new_weights",), "kernels"),
    ("entropy_balance_weighting_spark.solvers.linalg", "BlockGram",
     ("matvec", "with_added_diag", "solve_i_plus_g_diag"), "linalg"),
]


class Tracer:
    """In-memory span store plus the wrappers that feed it."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.op = -1
        self.kernels: list = []  # kernel instances built by from_problem
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._untagged_seen = set(self._untagged_ids())

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        s = Span(name, layer, self.op, parent, f"perfbench.{idx}")
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)

    def _inside(self, layer: str) -> bool:
        return bool(self._stack) and self.spans[self._stack[-1]].layer == layer

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # block solves recurse into the dense solve: one span per call
            # from a solver, not one per block
            if layer == "linalg" and tracer._inside("linalg"):
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if name.endswith(".from_problem"):
                tracer.kernels.append(out)
            return out

        return wrapper

    def instrument(self) -> None:
        import importlib

        for mod_name, attr, layer in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            short = mod_name.rsplit(".", 1)[1]
            self._patch(mod, attr, fn, self._wrap(fn, f"{short}.{attr}", layer))
        for mod_name, cls_name, methods, layer in _CLASSES:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for m in methods:
                raw = cls.__dict__.get(m)
                if raw is None:
                    continue
                name = f"{cls_name}.{m}"
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, name, layer))
                else:
                    new = self._wrap(raw, name, layer)
                self._patch(cls, m, raw, new)

    def _patch(self, owner, attr, old, new) -> None:
        setattr(owner, attr, new)
        self._patches.append((owner, attr, old))

    def uninstrument(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- Spark counts -------------------------------------------------------
    def _untagged_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _drain_listener(self) -> None:
        """Status events arrive asynchronously; wait until the listener bus
        has delivered every event of the jobs that just finished."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 - private JVM API, degrade to a pause
            time.sleep(0.5)

    def collect_counts(self, op: int) -> int:
        """Fill job/stage/task counts of op ``op``'s spans; returns the
        number of untagged jobs that ran since the last call."""
        self._drain_listener()
        st = self.sc.statusTracker()
        for s in self.spans:
            if s.op != op:
                continue
            for jid in st.getJobIdsForGroup(s.group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                        continue  # skipped stage: its output was reused
                    s.stages += 1
                    s.tasks += si.numCompletedTasks
                    s.failed_tasks += si.numFailedTasks
        now = set(self._untagged_ids())
        new = now - self._untagged_seen
        self._untagged_seen = now
        return len(new)

    # -- derived ------------------------------------------------------------
    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def self_times(self, op: int) -> dict[int, float]:
        """Span index → wall minus the union of its direct children's
        intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.op == op and s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out = {}
        for i, s in enumerate(self.spans):
            if s.op != op:
                continue
            covered = 0.0
            cur_start = cur_end = None
            for a, b in sorted(children.get(i, [])):
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[i] = s.wall - covered
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
