"""The traced run: per-layer spans and counts, recorded from outside the
engine by wrapping its module-level functions while a traced operation
runs (nothing in the package is edited).

Layers and their boundaries:

- compiler: ``compiler.compile_suite``, ``compiler.build_suite_plan``,
  the fused action (``DataFrame.localCheckpoint`` inside ``run_suite``)
  and the baseline reads (``DataFrame.collect`` after the fused action);
  ``run_suite``'s self time is the verdict phase;
- operators: each scan-free ``DriverCheck.fn``, grouped by the operator
  module that compiled it;
- checkpoint: ``run_partitioned``'s planning (everything before
  ``checkpoint._concurrent_map``) and, per partition,
  ``checkpoint.run_suite`` and ``checkpoint.partition_fingerprint``, with
  the rest of each partition counted as commit;
- functions: each gated query, collect included.

Spark jobs are counted with the scheduler's job counter and stage
figures come from the status store, never from job groups: the engine's
partition loop resets the caller's job group.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

#: DriverCheck operator module -> per-layer metric
_OPERATOR_METRIC = {
    "interop": "operators.roundtrip_s",
    "storage": "operators.storage_s",
    "licensing": "operators.licensing_s",
    "conditional": "operators.licensing_s",
    "schema_check": "operators.schema_s",
    "column_rules": "operators.schema_s",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[tuple[str, float, float]] = []
        self.acc: dict[str, list[float]] = {}

    # -- primitives ------------------------------------------------------
    def jobs(self) -> int:
        """Jobs submitted so far in this application."""
        return int(self.jsc.dagScheduler().nextJobId())

    def add(self, name: str, value: float) -> None:
        self.acc.setdefault(name, []).append(value)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    @contextmanager
    def patched(self, obj, attr: str, wrapper):
        orig = getattr(obj, attr)
        setattr(obj, attr, wrapper(orig))
        try:
            yield orig
        finally:
            setattr(obj, attr, orig)

    def stage_figures(self, first_job: int, last_job: int) -> dict:
        """Busy time, task count and shuffle bytes of jobs
        [first_job, last_job), and the task skew of the last stage."""
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        busy_ms = tasks = shuffle = 0
        last_stage = None
        for job in range(first_job, last_job):
            it = store.job(job).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) != "COMPLETE":
                    continue  # skipped: its output was reused
                busy_ms += sd.executorRunTime()
                tasks += sd.numCompleteTasks()
                shuffle += sd.shuffleWriteBytes()
                if last_stage is None or sid > last_stage[0]:
                    last_stage = (sid, sd.attemptId())
        durations = []
        if last_stage is not None:
            it = store.taskList(last_stage[0], last_stage[1], 100000).iterator()
            while it.hasNext():
                d = it.next().duration()
                if d.isDefined():
                    durations.append(float(d.get()))
        med = statistics.median(durations) if durations else 0.0
        return {"busy_s": busy_ms / 1000.0, "tasks": tasks, "shuffle": shuffle,
                "skew": max(durations) / med if med else 0.0}

    # -- compiler + operators --------------------------------------------
    def traced_run_suite(self, run_suite):
        """A run_suite that records the compiler/operators breakdown."""
        from mlcast_sourcedata_validator_spark import compiler

        tracer = self

        def wrapped(ctx, *a, **kw):
            state = {"after_fused": False, "phase_s": 0.0}
            sums: dict[str, float] = {}  # per-run totals of per-call spans

            def time_phase(metric, count_jobs=None):
                def deco(fn):
                    def inner(*args, **kwargs):
                        j0, t0 = tracer.jobs(), time.perf_counter()
                        try:
                            return fn(*args, **kwargs)
                        finally:
                            dt = time.perf_counter() - t0
                            state["phase_s"] += dt
                            sums[metric] = sums.get(metric, 0.0) + dt
                            if count_jobs:
                                sums[count_jobs] = (sums.get(count_jobs, 0)
                                                    + tracer.jobs() - j0)
                    return inner
                return deco

            def compile_wrapper(orig):
                def inner(*args, **kwargs):
                    cs = time_phase("compiler.compile_s")(orig)(*args, **kwargs)
                    for _, dc in cs.driver_checks:
                        name = _OPERATOR_METRIC.get(dc.fn.__module__.rsplit(".", 1)[-1])
                        if name:
                            dc.fn = time_phase(name, "operators.driver_jobs")(dc.fn)
                    return cs
                return inner

            def fused_wrapper(orig):
                def inner(df, *args, **kwargs):
                    j0, t0 = tracer.jobs(), time.perf_counter()
                    out = orig(df, *args, **kwargs)
                    dt = time.perf_counter() - t0
                    state["phase_s"] += dt
                    state["after_fused"] = True
                    state["fused"] = (j0, tracer.jobs(), dt)
                    return out
                return inner

            def collect_wrapper(orig):
                def inner(df, *args, **kwargs):
                    if not state["after_fused"]:
                        return orig(df, *args, **kwargs)
                    return time_phase("compiler.baseline_reads_s",
                                      "compiler.baseline_jobs")(orig)(df, *args, **kwargs)
                return inner

            # the concrete class: pyspark.sql.DataFrame is only its base
            frame = type(ctx.df)
            j0, t0 = tracer.jobs(), time.perf_counter()
            with tracer.patched(compiler, "compile_suite", compile_wrapper), \
                    tracer.patched(compiler, "build_suite_plan",
                                   time_phase("compiler.plan_build_s")), \
                    tracer.patched(frame, "localCheckpoint", fused_wrapper), \
                    tracer.patched(frame, "collect", collect_wrapper), \
                    tracer.span("compiler.run_suite"):
                res = run_suite(ctx, *a, **kw)
            wall = time.perf_counter() - t0
            for name, total in sums.items():
                tracer.add(name, total)
            tracer.add("compiler.run_suite_jobs", tracer.jobs() - j0)
            tracer.add("compiler.verdict_s", wall - state["phase_s"])
            if "fused" in state:
                fj0, fj1, fdt = state["fused"]
                fig = tracer.stage_figures(fj0, fj1)
                tracer.add("compiler.fused_s", fdt)
                tracer.add("compiler.fused_busy_s", fig["busy_s"])
                tracer.add("compiler.fused_tasks", fig["tasks"])
                tracer.add("compiler.shuffle_write_bytes", fig["shuffle"])
                tracer.add("compiler.window_task_skew", fig["skew"])
            return res

        return wrapped

    def suite_op(self, wl):
        """One suite run, traced, plus the same fused plan without its
        Observations (compiler.observation_s is the difference)."""
        from mlcast_sourcedata_validator_spark import compiler

        traced = self.traced_run_suite(compiler.run_suite)
        with self.patched(compiler, "run_suite", lambda orig: traced):
            wall, res = wl.op()
        cs = compiler.compile_suite(wl.suite)
        fused = {}
        # each side twice, the second time counted: a plan's first action
        # runs slower whichever side goes first
        for observe in (False, True, False, True):
            plan = compiler.build_suite_plan(wl.context(), cs, observe=observe)
            t0 = time.perf_counter()
            plan.violations.localCheckpoint()
            fused[observe] = time.perf_counter() - t0
        self.add("compiler.observation_s", fused[True] - fused[False])
        return wall, res

    # -- checkpoint ------------------------------------------------------
    def nightly_round(self, wl):
        from mlcast_sourcedata_validator_spark import checkpoint

        tracer = self
        state: dict = {}

        def cmap_wrapper(orig):
            def inner(spark, todo, fn, *a, **kw):
                state["plan_s"] = time.perf_counter() - state["t0"]
                state["todo"] = len(todo)
                j0, t0 = tracer.jobs(), time.perf_counter()
                out = orig(spark, todo, fn, *a, **kw)
                state["process_s"] = time.perf_counter() - t0
                state["jobs"] = tracer.jobs() - j0
                return out
            return inner

        def timed(key):
            def deco(fn):
                def inner(*a, **kw):
                    t0 = time.perf_counter()
                    try:
                        return fn(*a, **kw)
                    finally:
                        state[key] = state.get(key, 0.0) + time.perf_counter() - t0
                return inner
            return deco

        def pass_wrapper(orig):
            def inner(*a, **kw):
                state.clear()
                state["t0"] = time.perf_counter()
                out = orig(*a, **kw)
                n = max(1, state["todo"])
                commit_s = (state["process_s"] - state.get("suite_s", 0.0)
                            - state.get("fp_in_process_s", 0.0))
                if passes[0] % 2 == 0:  # the full pass of the round
                    tracer.add("checkpoint.partition_s", state.get("suite_s", 0.0) / n)
                    tracer.add("checkpoint.commit_s", commit_s / n)
                    tracer.add("checkpoint.jobs_per_partition", state["jobs"] / n)
                else:  # the change-aware resume after the backfill
                    tracer.add("checkpoint.resume_s", time.perf_counter() - state["t0"])
                    tracer.add("checkpoint.resume_plan_s", state["plan_s"])
                    tracer.add("checkpoint.partitions_revalidated", state["todo"])
                passes[0] += 1
                tracer.add("checkpoint.fingerprint_s", state.get("fp_s", 0.0))
                return out
            return inner

        def fp_wrapper(orig):
            def inner(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    state["fp_s"] = state.get("fp_s", 0.0) + dt
                    if "plan_s" in state and "process_s" not in state:
                        state["fp_in_process_s"] = state.get("fp_in_process_s", 0.0) + dt
            return inner

        passes = [0]
        traced_suite = self.traced_run_suite(checkpoint.run_suite)
        with self.patched(checkpoint, "_concurrent_map", cmap_wrapper), \
                self.patched(checkpoint, "run_suite",
                             lambda orig: timed("suite_s")(traced_suite)), \
                self.patched(checkpoint, "partition_fingerprint", fp_wrapper), \
                self.patched(checkpoint, "run_partitioned", pass_wrapper), \
                self.span("checkpoint.round"):
            return wl.round_ops()

    # -- functions -------------------------------------------------------
    def query_op(self, wl, name: str):
        with self.span(f"query.{name}"):
            wall, out = wl.run_query(name)
        self.add(f"query.{name}_s", wall)
        return wall, out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": n, "start": a, "end": b} for n, a, b in self.spans], f)

    def metrics(self) -> dict:
        units = {"_s": "s", "_jobs": "count", "_tasks": "count",
                 "_bytes": "bytes", "_skew": "ratio", "_ratio": "ratio",
                 "_partition": "count", "_revalidated": "count"}
        out = {}
        for name, vals in sorted(self.acc.items()):
            unit = next((u for suf, u in units.items() if name.endswith(suf)), "count")
            out[name] = {"value": statistics.median(vals), "unit": unit}
        return out
