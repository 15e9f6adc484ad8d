"""Seeded benchmark inputs, written once per (kind, seed) under .bench_data/.

DuckDB writes every table, so the engine only ever reads them. Run as a
script in its own process, so that generation warms nothing in the
process that measures set-up time:

    python3 perfbench/inputs.py transcripts <seed> <out_dir>
    python3 perfbench/inputs.py nightly <seed> <out_dir>
    python3 perfbench/inputs.py queries <seed> <out_dir>

Each writer builds into ``<out_dir>.tmp`` and renames it into place last,
so a killed generation never leaves a half-written input that a later run
would attach to.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys

#: suite_plain: 8k conversations -> ~0.14M turns over 16 days
TRANSCRIPT_CONVS = 8_000
TRANSCRIPT_DAYS = 16
#: the traced run_partitioned round: 2-3 date partitions of ~10k turns,
#: one of which a backfill rewrites with newly planted violations
NIGHTLY_CONVS = 1_300
NIGHTLY_DAYS = 2
NIGHTLY_BACKFILL = 1
#: planted violations per class (synth.inject_violations' classes), in
#: the table and again in the backfilled partition
K_VIOLATIONS = 5
K_BACKFILL = 2
TABLE_PROPS = {"license": "CC-BY-4.0", "consistent_timestep_start": "true"}
#: where the engine reads a path table's properties from
#: (sources/properties.py SIDECAR)
PROPERTIES_SIDECAR = "_table_properties.json"
_WORDS = ("the a data spark table row column join key value sort merge scan "
          "hash filter group batch stream window part line order query agg "
          "fast slow big small vec dup customer").split()
_WORD_LIST = "'" + ",".join(_WORDS) + "'"


# Deterministic uniform [0, 1) from a hash of (seed, tag, a, b): unlike
# random(), independent of DuckDB's thread scheduling.
_MACROS = """
CREATE MACRO u(tag, a, b) AS (hash({seed}, tag, a, b) % 1000003) / 1000003.0;
CREATE MACRO pick(csv, tag, a, b) AS split_part(csv, ',',
  (hash({seed}, tag, a, b) % (length(csv) - length(replace(csv, ',', '')) + 1))::INTEGER + 1);
CREATE MACRO vbucket(tag, c) AS hash({seed}, tag, c) % 7;
"""


def duck(seed: int):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(_MACROS.format(seed=int(seed)))
    return con


def clean_turns(con, seed: int, name: str, n_convs: int, days: int,
                 salt: str) -> None:
    """Transcripts in the engine's schema, shaped like synth's: head-heavy
    conversation sizes, system/user opener then a user/assistant/tool
    cycle, tool set iff role = 'tool', 15-235 characters of word soup
    (a slice of one seeded ~10k-character string), strictly
    increasing ts (1-61 s apart) starting anywhere in ``days`` days."""
    rng = random.Random(f"{seed}/{salt}")
    soup = " ".join(rng.choice(_WORDS) for _ in range(2000))
    con.execute(f"""
    CREATE TABLE {name} AS
    WITH convs AS (
      SELECT i AS cid, printf('c%08d', i) AS conv_id,
             greatest(1, least(512,
               (exp(u('{salt}len', i, 0) * 2.2) * 4)::INTEGER
               + (512 / pow(i + 1, 0.85))::INTEGER)) AS n_turns,
             (u('{salt}start', i, 0) * {days} * 86400)::BIGINT AS start_s
      FROM range({n_convs}) t(i)),
    turns AS (
      SELECT cid, conv_id, start_s, unnest(range(n_turns)) AS t FROM convs),
    roled AS (
      SELECT *, CASE WHEN t = 0 AND u('{salt}sys', cid, 0) < 0.7
                     THEN 'system'
                     ELSE split_part('user,assistant,user,assistant,tool,assistant', ',', t % 6 + 1)
                END AS role
      FROM turns)
    SELECT conv_id, t::INTEGER AS turn_idx, role,
           substr('{soup}', 1 + (u('{salt}at', cid, t) * 9000)::INTEGER,
                  15 + (u('{salt}nc', cid, t) * 220)::INTEGER) AS text,
           CASE WHEN role = 'tool'
                THEN pick('search,python,browser,sql', '{salt}tool', cid, t)
           END AS tool,
           TIMESTAMPTZ '2024-01-01 00:00:00+00' + to_seconds(start_s + sum(
             1 + (u('{salt}dt', cid, t) * 60)::INTEGER)
             OVER (PARTITION BY cid ORDER BY t)) AS ts
    FROM roled""")


def plant(con, src: str, dst: str, k: int, salt: str) -> None:
    """Plant ``k`` violations of each of the seven classes that
    synth.inject_violations plants, on disjoint conversations (a hash
    bucket per class): duplicate keys, out-of-domain / non-canonical
    roles, a tool on a non-tool turn, NULL text, conv_ids dropped from
    the registry (table ``dangling``), a deleted turn 1 and a turn 2
    moved one hour back."""
    b = f"vbucket('{salt}vb', conv_id)"
    first = (f"SELECT conv_id, turn_idx FROM {src} WHERE {b} = %d %s "
             f"ORDER BY conv_id, turn_idx LIMIT {k}")
    long_convs = (f"SELECT conv_id FROM {src} WHERE {b} = %d GROUP BY conv_id "
                  f"HAVING max(turn_idx) >= 2 ORDER BY conv_id LIMIT {k}")
    not_tool = "AND role <> 'tool'"
    con.execute(f"CREATE TEMP TABLE dup_t AS {first % (0, '')}")
    con.execute(f"CREATE TEMP TABLE role_t AS {first % (1, not_tool)}")
    con.execute(f"CREATE TEMP TABLE tool_t AS {first % (2, not_tool)}")
    con.execute(f"CREATE TEMP TABLE null_t AS {first % (3, '')}")
    con.execute(f"CREATE OR REPLACE TABLE dangling AS SELECT DISTINCT conv_id FROM "
                f"{src} WHERE {b} = 4 ORDER BY conv_id LIMIT {k}")
    con.execute(f"CREATE TEMP TABLE gap_t AS {long_convs % 5}")
    con.execute(f"CREATE TEMP TABLE regress_t AS {long_convs % 6}")
    con.execute(f"""
    CREATE TABLE {dst} AS
    WITH d AS (
      SELECT * FROM {src}
      UNION ALL SELECT s.* FROM {src} s JOIN dup_t USING (conv_id, turn_idx))
    SELECT d.conv_id, d.turn_idx,
           CASE WHEN r.conv_id IS NOT NULL
                THEN split_part('operator,ASSISTANT ,', ',', d.turn_idx % 3 + 1)
                ELSE d.role END AS role,
           CASE WHEN n.conv_id IS NOT NULL THEN NULL ELSE d.text END AS text,
           CASE WHEN o.conv_id IS NOT NULL THEN 'hammer' ELSE d.tool END AS tool,
           CASE WHEN g.conv_id IS NOT NULL AND d.turn_idx = 2
                THEN d.ts - INTERVAL 1 HOUR ELSE d.ts END AS ts
    FROM d
    LEFT JOIN role_t r USING (conv_id, turn_idx)
    LEFT JOIN tool_t o USING (conv_id, turn_idx)
    LEFT JOIN null_t n USING (conv_id, turn_idx)
    LEFT JOIN regress_t g ON g.conv_id = d.conv_id
    WHERE NOT (d.turn_idx = 1 AND d.conv_id IN (SELECT conv_id FROM gap_t))""")
    for t in ("dup_t", "role_t", "tool_t", "null_t", "gap_t", "regress_t"):
        con.execute(f"DROP TABLE {t}")


def write_days(con, src: str, out: str, file_name: str) -> None:
    """Hive-partition ``src`` by date(ts), one zstd file per day. Like a
    Spark writer, the files hold no ``date`` column: the path carries it."""
    days = [r[0] for r in con.execute(
        f"SELECT DISTINCT ts::DATE::VARCHAR FROM {src}").fetchall()]
    for day in days:
        os.makedirs(f"{out}/date={day}")
        con.execute(f"COPY (SELECT * FROM {src} WHERE ts::DATE = DATE '{day}') "
                    f"TO '{out}/date={day}/{file_name}' "
                    "(FORMAT PARQUET, COMPRESSION ZSTD)")


def write_common(con, seed: int, src: str, out: str, n_convs: int,
                  days: int) -> None:
    """Date-partitioned zstd table with its properties sidecar, the
    registry (minus the dangling conv_ids) and a clean baseline sample."""
    write_days(con, src, f"{out}/table", "data_0.parquet")
    with open(f"{out}/table/{PROPERTIES_SIDECAR}", "w") as f:
        json.dump(TABLE_PROPS, f, indent=2, sort_keys=True)
    con.execute(f"""COPY (SELECT conv_id, min(ts) AS started_at FROM {src}
        WHERE conv_id NOT IN (SELECT conv_id FROM dangling) GROUP BY conv_id)
        TO '{out}/registry.parquet' (FORMAT PARQUET)""")
    clean_turns(con, seed, "base_turns", max(1000, n_convs // 10), days, "base")
    con.execute(f"COPY base_turns TO '{out}/baseline_sample.parquet' (FORMAT PARQUET)")


def gen_transcripts(seed: int, out: str) -> None:
    """suite_plain's table: ~0.12M turns over 16 days."""
    con = duck(seed)
    os.makedirs(out)
    clean_turns(con, seed, "clean", TRANSCRIPT_CONVS, TRANSCRIPT_DAYS, "")
    plant(con, "clean", "dirty", K_VIOLATIONS, "")
    write_common(con, seed, "dirty", out, TRANSCRIPT_CONVS, TRANSCRIPT_DAYS)
    con.close()


def gen_nightly(seed: int, out: str) -> None:
    """A few small date partitions, and a backfill: new files for some of
    those days with K_BACKFILL more violations of each class planted."""
    con = duck(seed)
    os.makedirs(out)
    clean_turns(con, seed, "clean", NIGHTLY_CONVS, NIGHTLY_DAYS, "")
    plant(con, "clean", "dirty", K_VIOLATIONS, "")
    write_common(con, seed, "dirty", out, NIGHTLY_CONVS, NIGHTLY_DAYS)
    days = [r[0] for r in con.execute(
        "SELECT DISTINCT ts::DATE::VARCHAR FROM dirty ORDER BY 1").fetchall()]
    picks = sorted(random.Random(seed).sample(days, NIGHTLY_BACKFILL))
    in_picks = "ts::DATE::VARCHAR IN (" + ", ".join(f"'{d}'" for d in picks) + ")"
    con.execute(f"CREATE TABLE chosen AS SELECT * FROM dirty WHERE {in_picks}")
    plant(con, "chosen", "again", K_BACKFILL, "backfill")
    # a regressed ts can cross midnight; keep every day's rows in its day.
    # New file names, as any rewrite by a Spark or Hadoop writer has: the
    # engine's partition fingerprint lists names and sizes only
    con.execute(f"CREATE TABLE backfilled AS SELECT * FROM again WHERE {in_picks}")
    write_days(con, "backfilled", f"{out}/backfill", "backfill_0.parquet")
    with open(f"{out}/backfill.json", "w") as f:
        json.dump(picks, f)
    con.close()


def gen_queries(seed: int, out: str) -> None:
    """The tables the gated queries read, in the testdata schemas, made
    by DuckDB from the seed (see README.md for their make-up)."""
    import duckdb

    con = duckdb.connect()
    # one thread: random() then draws in one order, fixed by the seed
    con.execute("SET threads = 1")
    con.execute(f"SELECT setseed({(seed % 1000) / 1000.0})")
    os.makedirs(out)
    for name, sql in QUERY_TABLES:
        con.execute(f"CREATE TABLE {name} AS {sql}")
        con.execute(f"COPY {name} TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


#: (table, DuckDB SELECT) in dependency order. random() draws from the
#: connection's setseed() stream and the statements run serially, so the
#: same seed gives the same tables.
QUERY_TABLES = [
    ("region", "SELECT i::INTEGER AS r_regionkey, "
     "(['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name "
     "FROM range(5) t(i)"),
    ("nation", "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
     "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)"),
    ("customer", "SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') "
     "AS c_name, floor(random() * 25)::INTEGER AS c_nationkey, "
     "round(random() * 10000 - 1000, 2) AS c_acctbal, "
     "(['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])"
     "[floor(random() * 5)::INTEGER + 1] AS c_mktsegment FROM range(150) t(i)"),
    ("supplier", "SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') "
     "AS s_name, floor(random() * 25)::INTEGER AS s_nationkey, "
     "round(random() * 10000 - 1000, 2) AS s_acctbal FROM range(10) t(i)"),
    ("part", "SELECT i AS p_partkey, "
     "(['cold','small','big','hot'])[floor(random() * 4)::INTEGER + 1] || ' widget' "
     "AS p_name, 'Brand#' || floor(random() * 25)::INTEGER AS p_brand, "
     "(['ECONOMY','STANDARD','PROMO'])[floor(random() * 3)::INTEGER + 1] AS p_type, "
     "(1 + floor(random() * 50))::INTEGER AS p_size, "
     "round(900 + i * 0.1, 2) AS p_retailprice FROM range(200) t(i)"),
    ("orders", "SELECT i AS o_orderkey, floor(random() * 150)::BIGINT AS o_custkey, "
     "(['F','O','P'])[floor(random() * 3)::INTEGER + 1] AS o_orderstatus, "
     "round(1000 + random() * 300000, 2) AS o_totalprice, "
     "TIMESTAMP '1995-01-01' + to_days(floor(random() * 2000)::INTEGER) AS o_orderdate, "
     "(['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])"
     "[floor(random() * 5)::INTEGER + 1] AS o_orderpriority FROM range(1500) t(i)"),
    ("lineitem", "SELECT o_orderkey AS l_orderkey, "
     "floor(random() * 200)::BIGINT AS l_partkey, floor(random() * 10)::BIGINT AS l_suppkey, "
     "n::INTEGER AS l_linenumber, (1 + floor(random() * 50))::DOUBLE AS l_quantity, "
     "round(1000 + random() * 100000, 2) AS l_extendedprice, "
     "round(floor(random() * 11) / 100, 2) AS l_discount, "
     "round(floor(random() * 9) / 100, 2) AS l_tax, "
     "(['A','N','R'])[floor(random() * 3)::INTEGER + 1] AS l_returnflag, "
     "(['O','F'])[floor(random() * 2)::INTEGER + 1] AS l_linestatus, "
     "o_orderdate + to_days(floor(random() * 120)::INTEGER) AS l_shipdate "
     "FROM orders, range(1, 5) t(n)"),
    ("events", "SELECT i AS event_id, TIMESTAMP '2024-01-01' + "
     "to_microseconds((i * 2592000000000 // 1000 + floor(random() * 1000000000)::BIGINT)) "
     "AS ts, floor(random() * 15)::BIGINT AS user_id, "
     "(['click','view','purchase','signup','error'])[floor(random() * 5)::INTEGER + 1] "
     "AS event_type, round(1 + random() * 500, 2) AS value, "
     "'{\"k\": ' || floor(random() * 100)::INTEGER || '}' AS props FROM range(1000) t(i)"),
    # every 5th document repeats its predecessor with one word appended
    # (a near-duplicate) and every 7th repeats it verbatim
    ("documents", "WITH base AS (SELECT i, "
     f"array_to_string(list_transform(range((8 + floor(random() * 40))::INTEGER), "
     f"x -> split_part({_WORD_LIST}, ',', floor(random() * {len(_WORDS)})::INTEGER + 1)), ' ') "
     "AS txt FROM range(500) t(i)), "
     "docs AS (SELECT i, CASE WHEN i % 7 = 6 THEN lag(txt) OVER (ORDER BY i) "
     "WHEN i % 5 = 4 THEN lag(txt) OVER (ORDER BY i) || ' tail' ELSE txt END AS txt FROM base) "
     "SELECT i AS doc_id, txt AS text, "
     "(['en','en','en','de','fr','es','zh'])[floor(random() * 7)::INTEGER + 1] AS lang, "
     "'src' || floor(random() * 20)::INTEGER AS source, length(txt)::BIGINT AS n_chars "
     "FROM docs ORDER BY i"),
    ("embeddings", "SELECT i AS vec_id, list_transform(range(64), "
     "x -> ((random() - 0.5) * 0.5)::FLOAT) AS embedding, "
     "floor(random() * 5)::INTEGER AS label FROM range(500) t(i)"),
]

GENERATORS = {"transcripts": gen_transcripts, "nightly": gen_nightly,
              "queries": gen_queries}


def main(argv: list[str]) -> int:
    kind, seed, out = argv[0], int(argv[1]), os.path.abspath(argv[2])
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    GENERATORS[kind](seed, tmp)
    os.replace(tmp, out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
