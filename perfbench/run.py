"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs the output checks' self-test, makes the workload's inputs for the
seed if .bench_data/ does not hold them yet (each generator runs in its
own process), then runs the measurement in a fresh process (measure.py)
and passes on its result: the last line of standard output is one JSON
object. Exits non-zero, printing no result, if the engine package is
absent or any step fails.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

import selftest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data")
PACKAGE = os.path.join(ROOT, "mlcast_sourcedata_validator_spark")

#: workload -> the input kind it reads
WORKLOADS = {
    "suite_plain": "transcripts",
    "oracle_queries": "queries",
}
#: a traced run also takes one traced round over each input kind
TRACED_KINDS = ["transcripts", "nightly", "queries"]
#: the Spark driver heap. Spark sizes unified memory from it, so it must
#: fit the machine: the session factory's own default is 24g.
DRIVER_MEMORY = "2g"
CHILD_TIMEOUT_S = 900


def child_env() -> dict[str, str]:
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    })
    return env


def ensure_input(kind: str, seed: int, env: dict[str, str]) -> None:
    out = os.path.join(DATA, f"{kind}_{seed}")
    if not os.path.isdir(out):
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), kind,
                        str(seed), out], env=env, check=True,
                       stdout=sys.stderr, timeout=CHILD_TIMEOUT_S)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if selftest.main() != 0:
        return 1
    env = child_env()
    kinds = TRACED_KINDS if args.trace else [WORKLOADS[args.workload]]
    for kind in kinds:
        ensure_input(kind, args.seed, env)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "measure.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(args.trace)],
        env=env, stdout=subprocess.PIPE, text=True, timeout=CHILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        return proc.returncode or 1
    # the JVM can write to stdout too: pass only the result line on
    sys.stderr.write("\n".join(lines[:-1]) + "\n" if len(lines) > 1 else "")
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
