"""Reference figures for README.md, not gated and not run by run.py:

- plain versus conv_id-bucketed layout: suite wall on the same rows, and
  whether the two reports agree;
- Observation overhead: the fused plan with and without its metric
  Observations;
- local[1] -> local[nproc] scaling of suite throughput, against the
  north-star rule that N -> 4N keeps >= 0.8 of linear.

    python3 perfbench/reference.py [--seed 1] [--reps 3]

Each parallelism level runs in its own process. Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402

N_BUCKETS = 8


def _median_wall(fn, reps: int) -> float:
    fn()  # warm
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def one_level(seed: int, cores: int, reps: int, full: bool) -> dict:
    """Suite figures at local[cores]; with ``full`` also the bucketed
    layout and the Observation overhead."""
    import measure

    from mlcast_sourcedata_validator_spark import compiler
    from mlcast_sourcedata_validator_spark.checkpoint import write_bucketed_table

    spark = measure.spark_session(f"perfbench_reference_{cores}", cores)
    wl = measure.SuiteWorkload(spark, seed)
    out = {"cores": cores, "rows": wl.rows,
           "plain_s": _median_wall(wl.op, reps)}
    out["plain_turns_per_s"] = wl.rows / out["plain_s"]
    if full:
        plain_report = wl.op()[1].report
        df, reg = wl.inputs
        bdir = os.path.join(bench.DATA, "work", f"bucketed_{seed}")
        write_bucketed_table(df, "perfbench_t", "conv_id", N_BUCKETS,
                             ["conv_id", "turn_idx"], path=f"{bdir}/table")
        write_bucketed_table(reg, "perfbench_reg", "conv_id", N_BUCKETS,
                             ["conv_id"], path=f"{bdir}/registry")
        wl.inputs = (spark.table("perfbench_t"), spark.table("perfbench_reg"))
        out["bucketed_s"] = _median_wall(wl.op, reps)
        bucketed_report = wl.op()[1].report
        out["reports_agree"] = (
            [(r.requirement, r.status) for r in plain_report.results]
            == [(r.requirement, r.status) for r in bucketed_report.results])
        wl.inputs = (df, reg)
        cs = compiler.compile_suite(wl.suite)
        for observe in (True, False):
            plan = compiler.build_suite_plan(wl.context(), cs, observe=observe)
            out[f"fused_observe_{str(observe).lower()}_s"] = _median_wall(
                lambda: plan.violations.localCheckpoint(), reps)
        spark.sql("DROP TABLE IF EXISTS perfbench_t")
        spark.sql("DROP TABLE IF EXISTS perfbench_reg")
        shutil.rmtree(bdir, ignore_errors=True)
    spark.stop()
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.cores:  # one level, in this process
        print(json.dumps(one_level(args.seed, args.cores, args.reps,
                                   args.cores > 1)))
        return 0
    env = bench.child_env()
    bench.ensure_input("transcripts", args.seed, env)
    levels = []
    for cores in (1, os.cpu_count() or 4):
        proc = subprocess.run(
            [sys.executable, __file__, "--seed", str(args.seed), "--reps",
             str(args.reps), "--cores", str(cores)],
            env=env, stdout=subprocess.PIPE, text=True, check=True)
        levels.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    lo, hi = levels
    hi["scaling_efficiency"] = (hi["plain_turns_per_s"]
                                / (hi["cores"] * lo["plain_turns_per_s"]))
    print(json.dumps({"local_1": lo, f"local_{hi['cores']}": hi}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
