#!/usr/bin/env python3
"""Self-tests for the replication benchmark (no JVM needed).

  * the same seed gives byte-identical change batches (file hashes);
  * a different seed gives different ones;
  * the oracle's checksum SQL runs and is order-independent;
  * in every recorded trace (.bench_build/runs/*/spans.json, or the files
    given as arguments) each span lies inside its parent and its children
    never add up to more than it.

Usage (from the root of a checkout):  python3 perfbench/selftest.py [spans.json ...]
Exits non-zero on the first failed check.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402


def batch_hashes(out, seed):
    shutil.rmtree(out, ignore_errors=True)
    m = gen.generate(out, seed, sf=0.002, frac=0.05, batches=2, trickle=False)
    hashes = {}
    for fs in m["files"].values():
        for f in fs:
            with open(os.path.join(out, f["path"]), "rb") as fh:
                hashes[f["path"]] = hashlib.sha256(fh.read()).hexdigest()
    return hashes


def test_seeded_generator(tmp):
    a = batch_hashes(os.path.join(tmp, "a"), 7)
    b = batch_hashes(os.path.join(tmp, "b"), 7)
    c = batch_hashes(os.path.join(tmp, "c"), 8)
    assert a == b, "same seed gave different batch files"
    changed = [p for p in a if "b0000" not in p and a[p] != c.get(p)]
    assert changed and len(changed) == sum("b0000" not in p for p in a), \
        "a different seed left some change batches identical"
    print(f"ok  seeded generator: {len(a)} files identical for one seed, "
          f"{len(changed)} batches differ for another")


def test_keys_unique(tmp):
    out = os.path.join(tmp, "a")
    m = json.load(open(os.path.join(out, "manifest.json")))
    for t, n, d in oracle.key_counts(out, m):
        assert n == d, f"{t}: {n} rows over {d} keys"
    print("ok  primary keys unique in the base rows (lineitem: 4-column key)")


def test_checksum_order_independent():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT i AS k, i * 0.25 AS v, 'x' || i AS s "
                "FROM range(100) r(i)")
    con.execute("CREATE TABLE u AS SELECT * FROM t ORDER BY random()")
    assert oracle.checksum_sql(con, "t") == oracle.checksum_sql(con, "u")
    con.execute("UPDATE u SET v = v + 0.01 WHERE k = 3")
    assert oracle.checksum_sql(con, "t") != oracle.checksum_sql(con, "u")
    print("ok  checksum is order-independent and sees a one-cent change")


def check_spans(path):
    spans = json.load(open(path))
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            assert p["start_ms"] <= s["start_ms"] and s["end_ms"] <= p["end_ms"], \
                f"{path}: span {s['name']} escapes its parent {p['name']}"
        total = sum(k["seconds"] for k in kids.get(s["id"], []))
        assert total <= s["seconds"] + 1e-6, \
            f"{path}: children of {s['name']} add up to {total:.3f} s > {s['seconds']:.3f} s"
        assert s["self_s"] >= -1e-6, f"{path}: negative self time in {s['name']}"
    print(f"ok  {len(spans)} spans nest inside their parents: {os.path.relpath(path, ROOT)}")


def main():
    tmp = os.path.join(ROOT, ".bench_build", "selftest")
    try:
        test_seeded_generator(tmp)
        test_keys_unique(tmp)
        test_checksum_order_independent()
        traces = sys.argv[1:] or sorted(glob.glob(
            os.path.join(ROOT, ".bench_build", "runs", "*", "spans.json")))
        for p in traces:
            check_spans(p)
        if not traces:
            print("--  no spans.json yet: run a workload with --trace 1 to check spans")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
