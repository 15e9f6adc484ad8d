"""Proof that every output check can fail.

Builds a small seeded table with the benchmark's own generator, has the
oracle count it, and then feeds each checker a right result and results
that are off by one row, miss one violation, or carry one wrong query
row. Every wrong result must be rejected and the right one accepted.
Needs DuckDB only; run.py runs it before each measurement.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import copy
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

K = 3


def _engine_like(facts: dict) -> dict:
    """The result a correct engine reports for these facts."""
    return {
        "n_rows": facts["n_rows"],
        "counts": dict(facts["counts"]),
        "table_counts": dict(facts["counts"]),
        "statuses": oracle.expected_statuses(facts),
        "dup_keys": set(facts["dup_keys"]),
        "dangling": set(facts["dangling"]),
    }


def suite_cases(facts: dict) -> list[tuple[str, dict, bool]]:
    good = _engine_like(facts)
    off_by_one = copy.deepcopy(good)
    off_by_one["n_rows"] += 1
    missing = copy.deepcopy(good)
    missing["counts"]["ts_monotonic"] -= 1
    missing["table_counts"]["ts_monotonic"] -= 1
    lost_key = copy.deepcopy(good)
    lost_key["dup_keys"].pop()
    lost_key["counts"]["unique_key"] -= 1
    table_only = copy.deepcopy(good)
    table_only["table_counts"]["conv_refint"] -= 1
    wrong_status = copy.deepcopy(good)
    wrong_status["statuses"]["tool_domain"] = "PASS"
    return [("suite: right result", good, True),
            ("suite: one row too many", off_by_one, False),
            ("suite: one ts regression missing", missing, False),
            ("suite: one duplicate key missing", lost_key, False),
            ("suite: violation table short of its counter", table_only, False),
            ("suite: status not following the counts", wrong_status, False)]


def nightly_cases(rows: dict[str, int]) -> list[tuple[str, tuple, bool]]:
    parts = sorted(rows)
    good = [{"partition_id": p, "n_input_rows": n} for p, n in rows.items()]
    off = copy.deepcopy(good)
    off[0]["n_input_rows"] -= 1
    twice = good + good[:1]
    return [("nightly: right lineage", (good, rows, parts, parts), True),
            ("nightly: one row short", (off, rows, parts, parts), False),
            ("nightly: a partition committed twice", (twice, rows, parts, parts), False),
            ("nightly: a partition not revalidated",
             (good[1:], rows, parts[1:], parts), False)]


def query_cases() -> list[tuple[str, tuple, bool]]:
    cols = ["k", "v"]
    rows = [("a", 1.0), ("b", 2.5), ("c", float("nan"))]
    wrong = [("a", 1.0), ("b", 2.500002), ("c", float("nan"))]
    return [("query: same rows, other order", (cols, rows[::-1], cols, rows), True),
            ("query: one wrong value", (cols, wrong, cols, rows), False),
            ("query: one row missing", (cols, rows[:2], cols, rows), False),
            ("query: a column renamed", (["k", "w"], rows, cols, rows), False)]


def main() -> int:
    out = os.path.join(ROOT, ".bench_data", "selftest")
    shutil.rmtree(out, ignore_errors=True)
    con = inputs.duck(7)
    os.makedirs(out)
    try:
        inputs.clean_turns(con, 7, "clean", 300, 2, "")
        inputs.plant(con, "clean", "dirty", K, "")
        inputs.write_common(con, 7, "dirty", out, 300, 2)
        con.close()
        oc = oracle.connect(f"{out}/table/*/*.parquet", f"{out}/registry.parquet")
        facts = oracle.suite_facts(oc)
        rows = oracle.partition_counts(oc, f"{out}/table/*/*.parquet")
        oc.close()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    failures = []
    # the oracle must find exactly what the generator planted
    planted = {"unique_key": K, "turn_contiguity": K, "ts_monotonic": K,
               "tool_domain": K, "conv_refint": K}
    for cid, n in planted.items():
        if facts["counts"][cid] != n:
            failures.append(f"oracle counts {facts['counts'][cid]} {cid}, planted {n}")
    if facts["counts"]["role_domain"] + facts["counts"]["role_domain_canonical"] != K:
        failures.append("oracle role counts do not add up to the planted roles")
    if facts["n_null_text"] != K:
        failures.append(f"oracle counts {facts['n_null_text']} NULL texts, planted {K}")
    cases = [(n, oracle.check_suite(facts, got), ok) for n, got, ok in suite_cases(facts)]
    cases += [(n, oracle.check_nightly(*a), ok) for n, a, ok in nightly_cases(rows)]
    cases += [(n, oracle.check_query("q", *a), ok) for n, a, ok in query_cases()]
    for name, errors, should_pass in cases:
        if should_pass == bool(errors):
            failures.append(f"{name}: {'rejected' if errors else 'accepted'}")
    for f in failures:
        print(f"SELFTEST FAILED {f}", file=sys.stderr)
    print(f"selftest: {len(cases)} cases, {len(failures)} failures", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
