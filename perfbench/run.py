#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload osm_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/harness); later runs reuse the
build while the sources are unchanged. Workloads, metrics and the trace
are described in perfbench/README.md. Everything a run writes goes under
perfbench/.work.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
EXPECTED = os.path.join(HERE, "expected_hashes.json")

WORKLOADS = ("osm_ingest", "pipeline_mix")
TABLE_SF = 0.01      # the entry tables, as a TPC-H scale factor
TABLE_SEED = 42      # the tables are fixed data; --seed orders the ops
OSM_NODES = 2_400_000
JVM_HEAP = "2g"
JVM_YOUNG = "768m"
JVM_TIMEOUT_S = 165  # the whole run must end within 180 s
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, timeout, out_path, env=None):
    """Run cmd in its own process group, output to out_path; kill the
    whole group on timeout and always wait for it to end."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_hash():
    """Identity of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    for top in roots:
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", ".bsp"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the
    runtime classpath."""
    stamp = os.path.join(WORK, "build.json")
    want = source_hash()
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["source"] == want:
            return s["classpath"], want
    except (OSError, ValueError, KeyError):
        pass
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = os.path.join(WORK, "build.log")
    t0 = time.time()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server: it would leave its socket outside the checkout
    rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                      "compile", "export Runtime/fullClasspath"],
                     HARNESS, BUILD_TIMEOUT_S, out, env)
    lines = [ln.strip() for ln in open(out, errors="replace")]
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cp:
        sys.exit(f"build failed (exit {rc}):\n{tail(out)}")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        json.dump({"source": want, "classpath": cp[-1]}, f)
    return cp[-1], want


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


# ---- output checks for the entry workloads ----

def frame_hash(con, sql):
    """Hash of an answer in the canonical form of tools/selfcheck.py:
    columns sorted by name, rows sorted by every column, cells rendered
    by exact repr."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from selfcheck import canon, frame_repr
    df = canon(con.execute(sql).fetchdf())
    rows = frame_repr(df)
    blob = json.dumps([list(df.columns), rows], separators=(",", ":")).encode()
    return {"rows": len(rows), "sha256": hashlib.sha256(blob).hexdigest()}


def check_entries(names, check_dir):
    """Hash each entry's checked output against the pinned oracle hash;
    returns {name: error or None}."""
    import duckdb
    with open(EXPECTED) as f:
        expected = json.load(f)
    con = duckdb.connect()
    out = {}
    for name in names:
        want = expected.get(name)
        try:
            got = frame_hash(con, f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')")
            out[name] = None if got == want else f"hash {got} != pinned {want}"
        except Exception as e:  # unreadable output is a wrong answer
            out[name] = f"{type(e).__name__}: {e}"
    return out


def tables_dir():
    sys.path.insert(0, HERE)
    import gen_tables
    d = os.path.join(WORK, "tables")
    shutil.rmtree(d, ignore_errors=True)
    gen_tables.write(d, TABLE_SF, TABLE_SEED)
    return d


def java_cmd(classpath, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: adaptive sizing made the number
    # of collections per pass, and with it CPU per pass, differ by run
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, main] + args)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources (src/main/scala/graft) not found: "
                 "run from a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    classpath, source = build()

    t_setup0 = time.time()
    data = tables_dir() if a.workload != "osm_ingest" else os.path.join(WORK, "tables")
    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    cores = len(os.sched_getaffinity(0))
    jvm_log = os.path.join(run_dir, "jvm.log")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--data", data, "--cores", str(cores),
            "--osm-nodes", str(OSM_NODES), "--result", result_path]
    rc = run_bounded(java_cmd(classpath, "perfbench.Main", args), ROOT,
                     JVM_TIMEOUT_S, jvm_log)
    if rc != 0 or not os.path.exists(result_path):
        sys.exit(f"harness failed (exit {rc}):\n{tail(jvm_log)}")
    with open(result_path) as f:
        r = json.load(f)

    failed, attempted = r["failed"], r["attempted"]
    hashed = [c for c in r["checks"] if c["oracle"]]
    if hashed:
        hashes = check_entries([c["op"] for c in hashed], os.path.join(run_dir, "check"))
        for c in hashed:
            if c["error"] is None and hashes[c["op"]] is not None:
                c["error"] = hashes[c["op"]]
                failed += 1
    for c in r["checks"]:
        if c["error"]:
            log(f"check failed: {c['op']}: {c['error']}")

    e2e = dict(r["end_to_end"])
    e2e["setup_s"] = r["first_timed_op_ms"] / 1000.0 - t_setup0
    e2e["fail_frac"] = failed / attempted
    r.update(commit=commit(), source_sha256=source, failed=failed,
             end_to_end=e2e, cores=cores)
    with open(result_path, "w") as f:
        json.dump(r, f, indent=1)

    warm = r["warm_up_passes"]
    n_timed = sum(1 for p in r["passes"][warm:] if not p["traced"])
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  "
          f"timed passes {n_timed} (after {warm} warm-up)  "
          f"full result {os.path.relpath(result_path, ROOT)}")
    for k, v in e2e.items():
        print(f"  {k:<20} {fmt(v)}")
    if a.trace:
        print(f"  trace overhead (traced / untraced pass_s): "
              f"{fmt(r['per_layer'].get('trace.overhead', 0.0))}")
        print("  self time by span (s, summed over traced passes):")
        for row in r["self_time"]:
            print(f"    {row['span']:<14} {row['self_s']:10.4f}  x{row['count']}")
        wanted, values = spec["per_layer"], r["per_layer"]
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
