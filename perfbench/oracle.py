"""Independent correctness check for the replication benchmark.

DuckDB recomputes each table's expected replica state from the generated
parquet alone, applying the reference's soft-delete MERGE rules cycle by
cycle:

  * a cycle's delta is its change batch, collapsed to the latest version
    per key (change ts = GREATEST(COALESCE(updated_at, created_at),
    created_at));
  * matched keys take every staged value (a soft delete flips is_deleted);
  * unmatched staged keys are inserted only when is_deleted = 'N';
  * untouched replica rows stay as they are.

The bootstrap is the same rule applied to an empty replica.  The result is
compared with the program's own final readback of the replica: row count
plus an order-independent checksum that both engines compute the same way.
"""
import os

import duckdb


def _change_ts():
    return "greatest(coalesce(updated_at, created_at), created_at)"


def expected_state(con, table, pk, paths):
    """Create table `exp_<table>` holding the expected replica after
    applying `paths` (base first, then change batches) in order."""
    keys = ", ".join(pk)
    on = " AND ".join(f"t.{k} = s.{k}" for k in pk)
    con.execute(f"DROP TABLE IF EXISTS exp_{table}")
    first = True
    for p in paths:
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE stg AS
            SELECT * EXCLUDE (rn) FROM (
              SELECT *, row_number() OVER (PARTITION BY {keys}
                                           ORDER BY {_change_ts()} DESC) AS rn
              FROM read_parquet('{p}')) WHERE rn = 1""")
        if first:
            con.execute(f"CREATE TABLE exp_{table} AS "
                        f"SELECT * FROM stg WHERE is_deleted = 'N'")
            first = False
            continue
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE nxt AS
            SELECT t.* FROM exp_{table} t WHERE NOT EXISTS
              (SELECT 1 FROM stg s WHERE {on})
            UNION ALL
            SELECT s.* FROM stg s WHERE EXISTS
              (SELECT 1 FROM exp_{table} t WHERE {on})
            UNION ALL
            SELECT s.* FROM stg s WHERE s.is_deleted = 'N' AND NOT EXISTS
              (SELECT 1 FROM exp_{table} t WHERE {on})""")
        con.execute(f"DROP TABLE exp_{table}")
        con.execute(f"CREATE TABLE exp_{table} AS SELECT * FROM nxt")


def checksum_sql(con, rel):
    """Row count and checksum of relation `rel`, computed exactly as the
    harness's readback computes it in Spark (Main.rowHash)."""
    types = con.execute(f"DESCRIBE {rel}").fetchall()
    parts = []
    for name, typ, *_ in sorted(types):
        if typ.startswith("TIMESTAMP"):
            e = f"CAST(epoch_us({name}) AS VARCHAR)"
        elif typ in ("DOUBLE", "FLOAT"):
            e = f"CAST(CAST(round({name} * 100) AS BIGINT) AS VARCHAR)"
        else:
            e = f"CAST({name} AS VARCHAR)"
        parts.append(f"coalesce({e}, '\\N')")
    h = f"('0x' || substr(md5(concat_ws('|', {', '.join(parts)})), 1, 15))::BIGINT"
    n, s = con.execute(f"SELECT count(*), CAST(sum(CAST({h} AS HUGEINT)) AS VARCHAR) "
                       f"FROM {rel}").fetchone()
    return n, s or "0"


def check(run_dir, manifest, cycles, readback):
    """Compare the final readback {table: (rows, checksum)} with the expected
    state of every table.  Returns [{table, ok, rows_expected, rows_got,
    hash_expected, hash_got}]."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp', 'duckdb')}'")
    out = []
    for t in manifest["tables"]:
        name, pk = t["name"], t["pk"]
        paths = [os.path.join(run_dir, f["path"]) for f in manifest["files"][name]
                 if f["batch"] <= cycles]
        n_g, h_g = readback.get(name, (-1, None))
        try:
            expected_state(con, name, pk, paths)
            n_e, h_e = checksum_sql(con, f"exp_{name}")
        except Exception as e:  # a failing oracle is a failed check, not a crash
            n_e, h_e = -1, f"error: {e}"[:300]
        out.append({"table": name, "ok": n_e == n_g and h_e == h_g,
                    "rows_expected": n_e, "rows_got": n_g,
                    "hash_expected": h_e, "hash_got": h_g})
    con.close()
    return out


def staged_rows(run_dir, manifest, k):
    """Rows `latestPerKey` must output in cycle k: distinct keys of batch k."""
    con = duckdb.connect()
    n = 0
    for t in manifest["tables"]:
        for f in manifest["files"][t["name"]]:
            if f["batch"] == k:
                n += con.execute(
                    f"SELECT count(*) FROM (SELECT DISTINCT {', '.join(t['pk'])} "
                    f"FROM read_parquet('{os.path.join(run_dir, f['path'])}'))").fetchone()[0]
    con.close()
    return n


def key_counts(run_dir, manifest):
    """(table, rows, distinct primary keys) of every table's base rows."""
    con = duckdb.connect()
    out = []
    for t in manifest["tables"]:
        base = next(f for f in manifest["files"][t["name"]] if f["batch"] == 0)
        n, d = con.execute(
            f"SELECT count(*), count(DISTINCT ({', '.join(t['pk'])})) "
            f"FROM read_parquet('{os.path.join(run_dir, base['path'])}')").fetchone()
        out.append((t["name"], n, d))
    con.close()
    return out
