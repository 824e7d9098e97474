#!/usr/bin/env python3
"""Replication-cycle benchmark for graft.

Times the reference's CDC job -- `Pipeline.replicateDelta` /
`Pipeline.replicateIceberg` over an 8-table FK schema -- as one unit, and
(with --trace 1) breaks a cycle down layer by layer.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload repl_trickle_delta --seed 1 \
        --seconds 10 --trace 0

The first run in a checkout compiles the engine and the harness with sbt
into .bench_build/.  The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything else (build log, JVM log, spans, box stamp) goes to stderr and
to .bench_build/runs/<workload>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# Every run applies a fixed number of change batches, one per timed cycle,
# so parent and child do the same work however fast the program is.
WORKLOADS = {
    # steady state of the reference: tiny batches, fixed per-table cost,
    # copy-on-write rewrites, a checkpoint on every commit
    "repl_trickle_delta": dict(format="delta", sf=0.01, frac=0.005, cycles=1,
                               trickle=True, checkpoint_every=1, gates="graph"),
    # 10% of every table's keys per cycle; merge-on-read deletes pile up
    "repl_bulk_iceberg": dict(format="iceberg", sf=0.01, frac=0.10, cycles=1,
                              trickle=False, checkpoint_every=0, gates="dedup"),
}
# Traced runs also make one pass over a gate tier (`graft.Bench.graphHeavy`
# or `dedupHeavy`) on generated inputs of this scale, checked against the
# DuckDB oracle.
GATE_SF = 0.002

END_TO_END = {
    "setup_s": "s", "bootstrap_s": "s", "cycle_p50_s": "s",
    "changed_rows_per_s": "rows/s", "readback_p50_s": "s", "write_amp": "ratio",
    "space_amp": "ratio", "peak_rss_mb": "MB",
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 170


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("ERROR:", msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness")):
        for d, dirs, fs in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(fs):
                if f.endswith((".scala", ".sbt")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData"]
        repo_cfg = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repo_cfg):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repo_cfg}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source hash; returns the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip(), want
    os.makedirs(BUILD, exist_ok=True)
    log("building engine + harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime / fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=sbt_env(),
                           stdout=subprocess.PIPE, stderr=lf, text=True, timeout=840)
        lf.write(r.stdout)
    if r.returncode != 0:
        fail(f"sbt build failed (see {BUILD}/build.log)")
    cp = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if not cp:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(want)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp[-1].strip(), want


# ---------------------------------------------------------------- box stamp

def cpu_probe():
    """Fixed CPU-bound probe: median of 5 timings of the same integer loop."""
    ts = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- run

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the command-line contract; a run's work is fixed by its
    # workload (WORKLOADS[...]["cycles"]), not by a time window
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala: run from a full checkout")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")

    classpath, src_hash = build()
    t0 = time.time()  # set-up starts here; the one-off build is not set-up
    w = WORKLOADS[a.workload]
    run_dir = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))

    # the JVM starts its Spark session while the inputs are generated
    cfg_path = os.path.join(run_dir, "config.json")
    tmp = os.path.join(run_dir, "tmp")
    # The engine's own build runs with the default collector (G1) and a heap
    # limit from SPARK_DRIVER_MEM; so does the harness. The heap and young
    # generation are also pinned: left to G1, heap growth follows timing,
    # and peak RSS of one run came out at 1.8 or 2.5 GB by chance.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m", "-XX:-UsePerfData"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}",
            "-cp", classpath, "graft.perfbench.Main", str(os.cpu_count()), cfg_path])
    jvm_log = os.path.join(run_dir, "jvm.log")
    lf = open(jvm_log, "w")
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT)
    try:
        h, manifest, cfg, t_gen = prepare_and_wait(a, w, run_dir, cfg_path, proc, jvm_log)
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        lf.close()
    t_jvm = time.time()
    report(a, run_dir, h, manifest, cfg, t0, t_gen, t_jvm, src_hash)


def prepare_and_wait(a, w, run_dir, cfg_path, proc, jvm_log):
    """Generate the inputs, hand the config to the waiting JVM, and wait for
    its measurements."""
    # imported only now, so numpy/pyarrow/duckdb load while the JVM starts
    import gen
    import oracle
    manifest = gen.generate(run_dir, a.seed, w["sf"], w["frac"], w["cycles"], w["trickle"])
    for t, n, d in oracle.key_counts(run_dir, manifest):
        if n != d:
            fail(f"primary key of {t} is not unique in the base rows: {n} rows, {d} keys")
    t_gen = time.time()
    cfg = {
        "format": w["format"], "cores": os.cpu_count(),
        "trace": bool(a.trace), "checkpoint_every": w["checkpoint_every"],
        "replica": os.path.join(run_dir, "replica"),
        "out": os.path.join(run_dir, "harness.json"),
        "tables": manifest["tables"], "fk": manifest["fk"],
        "cycles": w["cycles"],
        "files": {t: [dict(f, path=os.path.join(run_dir, f["path"])) for f in fs]
                  for t, fs in manifest["files"].items()},
    }
    if a.trace:
        cfg["gates"] = w["gates"]
        cfg["gate_dir"] = os.path.join(run_dir, "gates")
        cfg["gate_out"] = os.path.join(run_dir, "gate_results")
        gen.generate_gate_inputs(cfg["gate_dir"], a.seed, GATE_SF)
    with open(cfg_path + ".tmp", "w") as f:
        json.dump(cfg, f)
    os.rename(cfg_path + ".tmp", cfg_path)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"harness JVM exceeded {JVM_TIMEOUT_S} s (log: {jvm_log})")
    if rc != 0 or not os.path.exists(cfg["out"]):
        subprocess.run(["tail", "-n", "30", jvm_log], stdout=sys.stderr)
        fail(f"harness JVM failed with exit code {rc} (log: {jvm_log})")
    with open(cfg["out"]) as f:
        return json.load(f), manifest, cfg, t_gen


def report(a, run_dir, h, manifest, cfg, t0, t_gen, t_jvm, src_hash):
    """Check correctness, then print the result line."""
    import oracle

    cycles = h["cycles_applied"]
    checks = oracle.check(run_dir, manifest, cycles,
                          {r["table"]: (r["rows"], r["hash"]) for r in h["readback"]})
    failed_results = [r for r in h["results"] if r["status"] == "failed"]
    bad_checks = [c for c in checks if not c["ok"]]
    attempted = len(h["results"]) + len(h["readback"]) * max(1, cycles) + len(checks)
    failed = len(failed_results) + len(bad_checks)
    if a.trace:
        gates = h["gates_run"]
        bad_gates = check_gates(cfg["gate_dir"], cfg["gate_out"], gates, h["gate_errors"])
        attempted += len(gates)
        failed += len(bad_gates)
    for r in failed_results:
        log(f"FAILED table result: {r['table']}: {r['error']}")
    for c in bad_checks:
        log(f"MISMATCH {c['table']}: expected {c['rows_expected']} rows / "
            f"{c['hash_expected']}, replica read back {c['rows_got']} rows / {c['hash_got']}")

    setup_s = h["bootstrap_start_ms"] / 1e3 - t0
    e2e = {
        "setup_s": setup_s,
        "bootstrap_s": h["bootstrap_s"],
        "cycle_p50_s": h["cycle_p50_s"],
        "changed_rows_per_s": h["changed_rows_per_s"],
        "readback_p50_s": h["readback_p50_s"],
        "write_amp": h["write_amp"],
        "space_amp": h["space_amp"],
        "peak_rss_mb": h["peak_rss_mb"],
    }
    box = {"nproc": os.cpu_count(), "cpu_probe_s": cpu_probe(),
           "java": h["java_version"], "spark": h["spark_version"],
           "git_commit": git_commit(), "source_hash": src_hash}
    log(f"box {json.dumps(box)}")
    log(f"phases: gen+keys {t_gen - t0:.1f} s, jvm {t_jvm - t_gen:.1f} s "
        f"(session ready {h['session_ms'] / 1e3 - t0:.1f} s after set-up start), "
        f"oracle {time.time() - t_jvm:.1f} s")
    log(f"{a.workload} seed={a.seed}: bootstrap {h['bootstrap_s']:.2f} s, "
        f"{len(h['cycles'])} cycles {[round(c['seconds'], 2) for c in h['cycles']]}, "
        f"readbacks {[round(c['readback_s'], 2) for c in h['cycles']]}, "
        f"staging {h['stage_s']:.2f} s")
    log(f"memory: rss peak {h['peak_rss_mb']:.0f} MB, heap peak {h['jvm_heap_peak_mb']:.0f} MB")

    if a.trace:
        layer = dict(h["layer"])
        tc = next(c for c in h["cycles"] if c["traced"])
        staged = oracle.staged_rows(run_dir, manifest, tc["k"])
        layer["cdc.staged_rows"] = staged
        layer["cdc.stage_collapse_ratio"] = (staged / layer["cdc.delta_rows"]
                                             if layer["cdc.delta_rows"] else 0.0)
        layer["jvm.heap_peak_mb"] = h["jvm_heap_peak_mb"]
        layer.update(h["gate_layer"])
        spans = h["spans"]
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(spans, f)
        report_self_time(spans)
        log(f"traced cycle {layer['trace.cycle_s']:.2f} s (compare with cycle_p50_s of "
            f"untraced runs for the tracing overhead), span coverage "
            f"{100 * layer['trace.span_coverage']:.1f}%")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace, "box": box,
                   "end_to_end": e2e, "checks": checks, "cycles": h["cycles"],
                   "cycles_applied": h["cycles_applied"], "metrics": metrics}, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def check_gates(gate_dir, result_dir, gates, errors):
    """Compare every gate result with its DuckDB oracle through the repo's
    own checker (scripts/check.py).  Returns the names that failed."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                        gate_dir, result_dir], capture_output=True, text=True, timeout=120)
    ok = {ln.split()[1] for ln in r.stdout.splitlines() if ln.startswith("ok ")}
    bad = [q for q in gates if q not in ok]
    for q in bad:
        why = errors.get(q) or next((ln for ln in r.stdout.splitlines()
                                     if ln.startswith("FAIL") and f" {q}:" in ln), "no result")
        log(f"GATE FAILED {q}: {why}")
    return bad


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_frac", "_coverage")):
        return "ratio"
    return "count"


def report_self_time(spans):
    """Self time per span name: duration minus the time its children cover."""
    agg = {}
    for s in spans:
        name = s["name"].split(".")[0] + ".*" if s["name"].startswith(
            ("table.", "cycle.", "readback.")) else s["name"]
        a = agg.setdefault(name, [0, 0.0, 0.0])
        a[0] += 1
        a[1] += s["seconds"]
        a[2] += s["self_s"]
    log(f"{'span':<22}{'count':>6}{'total_s':>10}{'self_s':>10}")
    for name, (n, tot, self_s) in sorted(agg.items(), key=lambda x: -x[1][2]):
        log(f"{name:<22}{n:>6}{tot:>10.3f}{self_s:>10.3f}")


if __name__ == "__main__":
    main()
