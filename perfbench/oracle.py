"""Output checks computed apart from the engine, with DuckDB.

Each ``*_facts`` function reads the benchmark's parquet inputs and counts
what the suite's checks should find; each ``check_*`` function compares an
engine result with those facts and returns a list of mismatch strings
(empty = correct). Nothing here imports the engine, so a fault in the
engine cannot make its own output look right.
"""

from __future__ import annotations

import math

import duckdb

ROLES = ("system", "user", "assistant", "tool")
TOOLS = ("search", "python", "browser", "sql")
#: text_null_rate's declared tolerance for NULL text (suites/transcripts_v1.json)
TEXT_NULL_TOLERANCE = 0.001

#: per-check violation counts the suite reports, keyed by engine check_id
_COUNTS_SQL = {
    "unique_key": """SELECT coalesce(sum(n - 1), 0) FROM (
        SELECT count(*) AS n FROM t GROUP BY conv_id, turn_idx HAVING n > 1)""",
    "turn_contiguity": """SELECT count(*) FROM (
        SELECT turn_idx, lag(turn_idx) OVER w AS prev,
               row_number() OVER w AS rn
        FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
        WHERE (rn = 1 AND turn_idx <> 0) OR (rn > 1 AND turn_idx > prev + 1)""",
    "ts_monotonic": """SELECT count(*) FROM (
        SELECT ts, lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
        FROM t) WHERE ts < prev""",
    "role_domain": f"""SELECT count(*) FROM t WHERE role IS NULL
        OR lower(trim(role)) NOT IN {ROLES}""",
    "role_domain_canonical": f"""SELECT count(*) FROM t WHERE role NOT IN {ROLES}
        AND lower(trim(role)) IN {ROLES}""",
    "tool_domain": f"""SELECT count(*) FROM t WHERE
        (role = 'tool' AND (tool IS NULL OR tool NOT IN {TOOLS}))
        OR (role IS DISTINCT FROM 'tool' AND tool IS NOT NULL)""",
    # one violation per conversation missing from the registry
    "conv_refint": """SELECT count(DISTINCT conv_id) FROM t
        WHERE conv_id NOT IN (SELECT conv_id FROM reg)""",
}


def connect(table_glob: str, registry: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"CREATE VIEW t AS SELECT * EXCLUDE (date) FROM "
                f"read_parquet('{table_glob}', hive_partitioning = true)")
    con.execute(f"CREATE VIEW reg AS SELECT * FROM read_parquet('{registry}')")
    return con


def suite_facts(con: duckdb.DuckDBPyConnection) -> dict:
    """Row count, per-check violation counts, NULL text, and the exact
    offending key sets of unique_key and conv_refint."""
    counts = {cid: con.execute(q).fetchone()[0] for cid, q in _COUNTS_SQL.items()}
    n_rows, n_null = con.execute(
        "SELECT count(*), count(*) FILTER (WHERE text IS NULL) FROM t").fetchone()
    dups = set(con.execute(
        "SELECT conv_id, turn_idx FROM t GROUP BY ALL HAVING count(*) > 1").fetchall())
    dangling = {r[0] for r in con.execute(
        "SELECT DISTINCT conv_id FROM t WHERE conv_id NOT IN (SELECT conv_id FROM reg)"
    ).fetchall()}
    return {"n_rows": n_rows, "n_null_text": n_null, "counts": counts,
            "dup_keys": dups, "dangling": dangling}


def expected_statuses(facts: dict) -> dict[str, str]:
    """The status each covered check must report, from the counts alone.
    (role_domain_canonical shares role_domain's report row, whose status
    is the worse of the two, so only its count is checked.)"""
    c = facts["counts"]
    null_share = facts["n_null_text"] / max(1, facts["n_rows"])
    return {
        "unique_key": "FAIL" if c["unique_key"] else "PASS",
        "turn_contiguity": "FAIL" if c["turn_contiguity"] else "PASS",
        "ts_monotonic": "FAIL" if c["ts_monotonic"] else "PASS",
        "role_domain": "FAIL" if c["role_domain"] else "PASS",
        "tool_domain": "FAIL" if c["tool_domain"] else "PASS",
        "conv_refint": "FAIL" if c["conv_refint"] else "PASS",
        "text_null_rate": "FAIL" if null_share > TEXT_NULL_TOLERANCE else "PASS",
        "min_rows": "PASS" if facts["n_rows"] >= 1 else "FAIL",
    }


def check_suite(facts: dict, got: dict) -> list[str]:
    """``got`` holds what the engine reported: ``n_rows``, ``counts``
    (Observation counters by check_id), ``table_counts`` (violation-table
    rows by check_id), ``statuses`` (check_id -> worst status),
    ``dup_keys`` and ``dangling`` (offender sets from the violation table)."""
    bad = []
    if got["n_rows"] != facts["n_rows"]:
        bad.append(f"n_rows {got['n_rows']} != {facts['n_rows']}")
    for cid, want in facts["counts"].items():
        for src in ("counts", "table_counts"):
            have = got[src].get(cid, 0)
            if have != want:
                bad.append(f"{src}[{cid}] {have} != {want}")
    for cid, want in expected_statuses(facts).items():
        if got["statuses"].get(cid) != want:
            bad.append(f"status[{cid}] {got['statuses'].get(cid)} != {want}")
    for key in ("dup_keys", "dangling"):
        if got[key] != facts[key]:
            bad.append(f"{key} differ: {sorted(got[key] ^ facts[key])[:3]}")
    return bad


def partition_counts(con: duckdb.DuckDBPyConnection, table_glob: str) -> dict[str, int]:
    return dict(con.execute(
        f"SELECT date::VARCHAR, count(*) FROM read_parquet('{table_glob}', "
        "hive_partitioning = true) GROUP BY 1").fetchall())


def check_nightly(lineage: list[dict], expected_rows: dict[str, int],
                  processed: list[str], expected_processed: list[str]) -> list[str]:
    """``lineage`` holds the COMMITTED markers written by one pass;
    ``expected_rows`` maps each partition it should have committed to its
    DuckDB row count."""
    bad = []
    per_part: dict[str, list[int]] = {}
    for m in lineage:
        per_part.setdefault(m["partition_id"], []).append(m["n_input_rows"])
    if sorted(processed) != sorted(expected_processed):
        bad.append(f"processed {sorted(processed)} != {sorted(expected_processed)}")
    if set(per_part) != set(expected_rows):
        bad.append(f"committed {sorted(per_part)} != {sorted(expected_rows)}")
    for p, ns in per_part.items():
        if len(ns) != 1:
            bad.append(f"partition {p}: {len(ns)} COMMITTED markers")
        elif ns[0] != expected_rows.get(p):
            bad.append(f"partition {p}: n_input_rows {ns[0]} != {expected_rows.get(p)}")
    total = sum(sum(ns) for ns in per_part.values())
    if total != sum(expected_rows.values()):
        bad.append(f"sum n_input_rows {total} != {sum(expected_rows.values())}")
    return bad


def norm_cell(v) -> str:
    """The gate's cell normalisation (floats to 6 places, NaN spelled)."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def norm_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def check_query(name: str, scols: list[str], srows: list[tuple],
                ocols: list[str], orows: list[tuple]) -> list[str]:
    if sorted(scols) != sorted(ocols):
        return [f"{name}: columns {sorted(scols)} != {sorted(ocols)}"]
    a, b = norm_rows(scols, srows), norm_rows(ocols, orows)
    if len(a) != len(b):
        return [f"{name}: {len(a)} rows != {len(b)}"]
    diff = [(x, y) for x, y in zip(a, b) if x != y]
    return [f"{name}: values differ, e.g. {diff[0]}"] if diff else []
