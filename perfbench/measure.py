"""One measured run of one workload, in a fresh process (see run.py).

Prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
metrics, end-to-end ones untraced (``--trace 0``) or per-layer ones
(``--trace 1``). Set-up time is counted from this process's start.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time


def _process_age() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports are included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_data")
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import oracle  # noqa: E402

#: gated queries (``__spark_entry__.queries()``) swept by oracle_queries:
#: one of each functions/ and streaming/ family no suite reaches (sketch,
#: LSH, BPE, pandas UDF, Structured Streaming). A sweep of all 50 takes
#: minutes even on tiny tables, beyond one run's time.
QUERIES = [
    "cardinality_sketch_events",
    "lsh_verified_near_dups_documents",
    "bpe_vocab_documents",
    "pandas_udaf_median_value_events",
    "streaming_hourly_counts_events",
]


def spark_session(app: str, cores: int | None = None):
    """The benchmark's one session shape: local[nproc] (or ``cores``),
    the driver heap run.py sets, scratch space inside the checkout."""
    from mlcast_sourcedata_validator_spark.session import get_spark

    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name=app,
        cores=cores or os.cpu_count() or 4,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                "-Xlog:disable -Xlog:all=warning:stderr -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}",
        },
    )


class SuiteWorkload:
    """Whole-table ``compiler.run_suite`` of transcripts_v1; one
    operation is one suite run."""

    def __init__(self, spark, seed: int):
        from mlcast_sourcedata_validator_spark.operators.drift import (
            build_suite_baseline,
        )
        from mlcast_sourcedata_validator_spark.suite import get_suite

        self.spark = spark
        self.dir = os.path.join(DATA, f"transcripts_{seed}")
        self.suite = get_suite("transcripts_v1")
        self.baseline = build_suite_baseline(
            spark.read.parquet(f"{self.dir}/baseline_sample.parquet"),
            self.suite).localCheckpoint()
        self.inputs = (spark.read.parquet(f"{self.dir}/table").drop("date"),
                       spark.read.parquet(f"{self.dir}/registry.parquet"))
        self.req_to_check = {s.requirement: s.check_id for s in self.suite.checks}
        t0 = time.perf_counter()
        con = oracle.connect(f"{self.dir}/table/*/*.parquet",
                             f"{self.dir}/registry.parquet")
        self.facts = oracle.suite_facts(con)
        con.close()
        self.oracle_s = time.perf_counter() - t0
        self.rows = self.facts["n_rows"]

    def context(self):
        from mlcast_sourcedata_validator_spark.suite import RunContext

        df, reg = self.inputs
        return RunContext(spark=self.spark, df=df, suite=self.suite,
                          run_id="perfbench", registry_df=reg,
                          baseline_df=self.baseline,
                          table_path=f"{self.dir}/table")

    def op(self):
        from mlcast_sourcedata_validator_spark import compiler

        t = time.perf_counter()
        res = compiler.run_suite(self.context())
        return time.perf_counter() - t, res

    def observed(self, res) -> dict:
        """What the engine reported, in oracle.check_suite's terms."""
        from pyspark.sql import functions as F

        statuses: dict[str, str] = {}
        rank = {"PASS": 0, "WARNING": 1, "FAIL": 2}
        for r in res.report.results:
            cid = self.req_to_check.get(r.requirement)
            if cid and rank[r.status] >= rank.get(statuses.get(cid, "PASS"), 0):
                statuses[cid] = r.status
        v = res.violations
        table_counts = {r[0]: r[1] for r in
                        v.groupBy("check_id").count().collect()}
        keys = v.where(F.col("check_id").isin("unique_key", "conv_refint")) \
            .select("check_id", "conv_id", "turn_idx").collect()
        return {
            "n_rows": res.n_input_rows,
            "counts": {k[len("__viol_"):]: int(x) for k, x in res.metrics.items()
                       if k.startswith("__viol_")},
            "table_counts": table_counts,
            "statuses": statuses,
            "dup_keys": {(r[1], r[2]) for r in keys if r[0] == "unique_key"},
            "dangling": {r[1] for r in keys if r[0] == "conv_refint"},
        }

    def check(self, res) -> list[str]:
        return oracle.check_suite(self.facts, self.observed(res))


class NightlyWorkload:
    """``checkpoint.run_partitioned`` over a few small date partitions,
    run in traced runs only. One round is two operations: the full pass
    into a fresh results store, then (after a backfill rewrites some
    partitions) the change-aware resume pass that must revalidate
    exactly those."""

    def __init__(self, spark, seed: int):
        from mlcast_sourcedata_validator_spark.operators.drift import (
            build_suite_baseline,
        )
        from mlcast_sourcedata_validator_spark.suite import get_suite

        self.spark = spark
        self.dir = os.path.join(DATA, f"nightly_{seed}")
        self.work = os.path.join(DATA, "work", str(os.getpid()))
        shutil.rmtree(self.work, ignore_errors=True)
        self.suite = get_suite("transcripts_v1_partitioned")
        self.registry = spark.read.parquet(f"{self.dir}/registry.parquet")
        self.baseline = build_suite_baseline(
            spark.read.parquet(f"{self.dir}/baseline_sample.parquet"),
            self.suite).localCheckpoint()
        with open(f"{self.dir}/backfill.json") as f:
            self.backfilled = json.load(f)
        t0 = time.perf_counter()
        con = oracle.connect(f"{self.dir}/table/*/*.parquet",
                             f"{self.dir}/registry.parquet")
        self.rows_before = oracle.partition_counts(con, f"{self.dir}/table/*/*.parquet")
        after = dict(self.rows_before)
        after.update(oracle.partition_counts(con, f"{self.dir}/backfill/*/*.parquet"))
        self.rows_after = after
        con.close()
        self.oracle_s = time.perf_counter() - t0
        self.rows = sum(self.rows_before.values())
        self.round = 0

    def _pass(self, table: str, results: str):
        from mlcast_sourcedata_validator_spark.checkpoint import run_partitioned

        t = time.perf_counter()
        summary = run_partitioned(
            self.spark, self.suite, table, results,
            registry_df=self.registry, baseline_df=self.baseline,
            detect_changes=True)
        return time.perf_counter() - t, summary

    def _fresh_table(self) -> tuple[str, str]:
        self.round += 1
        table = os.path.join(self.work, f"table_{self.round}")
        results = os.path.join(self.work, f"results_{self.round}")
        shutil.copytree(f"{self.dir}/table", table)
        return table, results

    def _backfill(self, table: str) -> None:
        for day in self.backfilled:
            part = f"date={day}"
            shutil.rmtree(os.path.join(table, part))
            shutil.copytree(os.path.join(self.dir, "backfill", part),
                            os.path.join(table, part))

    def round_ops(self):
        """(full-pass wall, resume wall, mismatches) for one round."""
        from mlcast_sourcedata_validator_spark.checkpoint import read_lineage

        table, results = self._fresh_table()
        full_s, full = self._pass(table, results)
        lineage = [r.asDict() for r in read_lineage(self.spark, results)
                   .where("status = 'COMMITTED'").collect()]
        bad = oracle.check_nightly(lineage, self.rows_before, full.processed,
                                   sorted(self.rows_before))
        self._backfill(table)
        resume_s, resumed = self._pass(table, results)
        lineage = [r.asDict() for r in read_lineage(self.spark, results)
                   .where("status = 'COMMITTED'").collect()
                   if r["run_id"] == resumed.run_id]
        bad += oracle.check_nightly(
            lineage, {p: self.rows_after[p] for p in self.backfilled},
            resumed.processed, self.backfilled)
        shutil.rmtree(table)
        shutil.rmtree(results)
        return full_s, resume_s, bad

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class QueriesWorkload:
    """One operation is one gated query; one round sweeps QUERIES over
    the seeded tables, each checked against its DuckDB oracle."""

    def __init__(self, spark, seed: int):
        import duckdb

        import __spark_entry__ as entry

        self.spark = spark
        self.dir = os.path.join(DATA, f"queries_{seed}")
        qs, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {n: qs[n] for n in QUERIES}
        t0 = time.perf_counter()
        con = duckdb.connect()
        self.rows = 0
        for f in sorted(os.listdir(self.dir)):
            name = f[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.dir}/{f}')")
            self.rows += con.execute(f"SELECT count(*) FROM {name}").fetchone()[0]
        self.expected = {}
        for n in QUERIES:
            res = con.sql(oracles[n])
            self.expected[n] = (res.columns, res.fetchall())
        con.close()
        self.oracle_s = time.perf_counter() - t0

    def run_query(self, name: str):
        t = time.perf_counter()
        df = self.queries[name](self.spark, self.dir)
        rows = [tuple(r) for r in df.collect()]
        return time.perf_counter() - t, (df.columns, rows)

    def check(self, name: str, out) -> list[str]:
        ocols, orows = self.expected[name]
        return oracle.check_query(name, out[0], out[1], ocols, orows)


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the Spark JVM it launched."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Runner:
    """Rounds of a workload's operations; every output is checked
    outside the timed region."""

    def __init__(self, spark, seed: int, tracer=None):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.bad: list[str] = []
        self.attempted = 0

    def suite(self):
        wl = SuiteWorkload(self.spark, self.seed)
        return wl, self._suite_round

    def _suite_round(self, wl, traced: bool) -> float:
        wall, res = self.tracer.suite_op(wl) if traced else wl.op()
        self.attempted += 1
        self.bad += wl.check(res)
        return wall

    def nightly(self):
        return NightlyWorkload(self.spark, self.seed), self._nightly_round

    def _nightly_round(self, wl, traced: bool) -> float:
        # runs in traced runs only (LAYER_ROUNDS)
        full_s, _, errs = self.tracer.nightly_round(wl)
        self.attempted += 2
        self.bad += errs
        return full_s

    def queries(self):
        return QueriesWorkload(self.spark, self.seed), self._query_round

    def _query_round(self, wl, traced: bool) -> float:
        sweep = 0.0
        for name in QUERIES:
            wall, out = (self.tracer.query_op(wl, name) if traced
                         else wl.run_query(name))
            sweep += wall
            self.attempted += 1
            self.bad += wl.check(name, out)
        return sweep


#: workload -> (Runner factory, calibration table under .bench_data)
WORKLOADS = {
    "suite_plain": (Runner.suite, "transcripts_{seed}/table"),
    "oracle_queries": (Runner.queries, "queries_{seed}/events.parquet"),
}
#: every Runner factory: a traced run takes one traced round of each that
#: its workload is not, so each layer is measured in every traced run
#: (the checkpoint layer only there: see README.md)
LAYER_ROUNDS = [Runner.suite, Runner.nightly, Runner.queries]
#: untimed rounds after the cold call: JIT compilation keeps the next
#: few rounds 10-30% slow
WARMUP_ROUNDS = 2
#: measured rounds per run at least, however short --seconds is
MIN_ROUNDS = 3


def calibration_scan_s(spark, path: str) -> float:
    """An ideal single scan plus aggregate over the workload's input."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    text = "text" if "text" in df.columns else "props"
    t0 = time.perf_counter()
    df.agg(F.sum(F.length(text)), F.min("ts"), F.max("ts")).collect()
    return time.perf_counter() - t0


def run(args) -> dict:
    spark = spark_session(f"perfbench_{args.workload}")
    make, calib_table = WORKLOADS[args.workload]
    tracer = None
    if args.trace:
        import layers

        tracer = layers.Tracer(spark)
    runner = Runner(spark, args.seed, tracer)
    wl, round_fn = make(runner)
    round_fn(wl, False)  # the cold call
    # set-up is the engine's: the DuckDB oracle's time is not part of it
    setup_s = _process_age() - wl.oracle_s
    calib_s = calibration_scan_s(spark, os.path.join(DATA, calib_table.format(seed=args.seed)))
    for _ in range(WARMUP_ROUNDS):
        round_fn(wl, False)
    walls: list[float] = []
    traced: list[float] = []
    deadline = time.perf_counter() + args.seconds
    while len(walls) < MIN_ROUNDS or time.perf_counter() < deadline:
        if tracer and len(walls) % 2:  # alternate which side runs first
            traced.append(round_fn(wl, True))
        walls.append(round_fn(wl, False))
        if tracer and len(walls) % 2:
            traced.append(round_fn(wl, True))
    op_s = statistics.median(walls)
    print(f"{args.workload}: setup {setup_s:.2f}s, op walls "
          f"{[round(w, 3) for w in walls]}, traced {[round(w, 3) for w in traced]}, "
          f"calibration scan {calib_s:.3f}s", file=sys.stderr)
    if tracer:
        for make_other in LAYER_ROUNDS:
            if make_other is not make:
                owl, oround = make_other(runner)
                oround(owl, True)
                getattr(owl, "close", lambda: None)()
        tracer.write_spans(os.path.join(DATA, f"spans_{args.workload}_{args.seed}.json"))
        metrics = tracer.metrics()
        metrics["calibration_scan_s"] = metric(calib_s, "s")
        metrics["peak_rss_mb"] = metric(peak_rss_mb(spark), "MB")
        metrics["trace.overhead_ratio"] = metric(
            statistics.median(traced) / op_s, "ratio")
    else:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "op_s": metric(op_s, "s"),
            "turns_per_s": metric(wl.rows / op_s, "turns/s"),
        }
    for line in runner.bad:
        print(f"MISMATCH {line}", file=sys.stderr)
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the JVM exits on EOF; wait for it and its workers
    jvm.wait(timeout=60)
    return {"correct": not runner.bad, "attempted": runner.attempted,
            "failed": 0, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    out = run(ap.parse_args())
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
