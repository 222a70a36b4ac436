#!/usr/bin/env python3
"""Benchmark entry point: build, generate seeded inputs, run one workload.

    python3 bench/run.py --workload catalog_read --seed 1 --seconds 10 --trace 0
    python3 bench/run.py --list-keys      # regenerate bench/catalog_keys.txt
    python3 bench/run.py --selftest       # the harness's own checks
    python3 bench/run.py --compare A B    # medians of two sets of result records

Run from the repository root. The first run builds the program and the
harness from source with sbt (bench/build.sbt); later runs reuse the build
while the sources are unchanged. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. The full record
(environment, input sizes, every op latency) is written to
bench/.work/results/<workload>-s<seed>-t<trace>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zlib

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
KEYS = os.path.join(BENCH, "catalog_keys.txt")
FUZZ = os.path.join(ROOT, "tools", "fuzz_data.py")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")

WORKLOADS = ("catalog_read", "curation_ingest", "ice_specimen")
# catalog_read's tables: tools/fuzz_data.py <dir> <seed> CATALOG_ROWS
CATALOG_ROWS = 20000
# Fixed heap, recorded with every result; peak_rss_mb is read against it.
HEAP = ["-Xms2g", "-Xmx2g"]
# What spark-submit adds for Spark 4 on JDK 17 (as the root build.sbt does).
OPENS = [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                     "java.net", "java.nio", "java.util", "java.util.concurrent",
                     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                     "sun.security.action", "sun.util.calendar")
         for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
JVM_TIMEOUT_S = 170


def fail(msg):
    print("bench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt once per source stamp; return the runtime classpath."""
    out = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "sbt.log")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as fh:
        # sbt's temp files and sockets stay in the checkout
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, stdout=subprocess.PIPE, stderr=fh, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    # the last line sbt prints is the exported classpath
    if r.returncode != 0 or not lines or not os.path.isabs(lines[-1].split(":")[0]):
        fail("build failed (see %s):\n%s" % (log, r.stdout[-3000:]))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def gen_tables(out, seed, rows=CATALOG_ROWS):
    """The catalog_read inputs: tools/fuzz_data.py, called as is."""
    r = subprocess.run([sys.executable, FUZZ, out, str(seed), str(rows)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        fail("input generation failed: " + r.stderr[-2000:])


def table_sizes(data):
    import pyarrow.parquet as pq
    sizes = {}
    for f in sorted(os.listdir(data)):
        p = os.path.join(data, f)
        files = [p] if os.path.isfile(p) else [
            os.path.join(d, x) for d, _, xs in os.walk(p) for x in xs if x.endswith(".parquet")]
        sizes[f.replace(".parquet", "")] = {
            "rows": sum(pq.read_metadata(x).num_rows for x in files),
            "bytes": sum(os.path.getsize(x) for x in files)}
    return sizes


def jvm(cp, run_dir, args, log):
    """Run the harness JVM; returns its exit code (killed after the timeout)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + OPENS + HEAP + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                       "graftbench.Main", "--work", os.path.join(run_dir, "work")]
           + args)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def fresh_run_dir(name):
    d = os.path.join(WORK, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def measured(key):
    """A fixed fifth of the non-writing keys, chosen by name alone: the same
    keys on every seed and commit, and adding a key moves no other key."""
    return zlib.crc32(key.encode()) % 5 == 0


def list_keys(seed=1):
    cp = build()
    run_dir = fresh_run_dir("list-keys")
    data = os.path.join(run_dir, "data")
    gen_tables(data, seed)
    log = os.path.join(run_dir, "jvm.log")
    if jvm(cp, run_dir, ["--mode", "list-keys", "--data", data], log) != 0:
        fail("list-keys failed, see " + log)
    lines = [l.split() for l in open(log).read().splitlines() if l.startswith(("read ", "write "))]
    lines = [("spare" if kind == "read" and not measured(k) else kind, k) for kind, k in lines]
    with open(KEYS, "w") as fh:
        fh.write("# catalog_read key list. 'write' keys create files and are left out;\n"
                 "# of the keys that write nothing, 'read' keys are the workload and\n"
                 "# 'spare' keys are left out to fit the run's time (see README.md).\n"
                 "# Every SparkEntry.queries key is listed exactly once.\n"
                 "# Regenerate: python3 bench/run.py --list-keys\n")
        fh.write("".join("%s %s\n" % l for l in lines))
    counts = {kind: sum(1 for l in lines if l[0] == kind) for kind in ("read", "spare", "write")}
    print("wrote %s: %s" % (KEYS, counts))


def selftest(seed=1):
    """The harness's own checks (bench/test_bench.py runs this)."""
    cp = build()
    run_dir = fresh_run_dir("selftest")
    data = os.path.join(run_dir, "data")
    gen_tables(data, seed)
    log = os.path.join(run_dir, "jvm.log")
    code = jvm(cp, run_dir, ["--mode", "selftest", "--data", data, "--keys", KEYS], log)
    out = open(log).read()
    print("\n".join(l for l in out.splitlines() if l.startswith("selftest ")))
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("selftest failed")


def measure(a):
    cp = build()
    run_dir = fresh_run_dir("run")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", os.path.join(run_dir, "result.json")]
    inputs = {}
    if a.workload == "catalog_read":
        data = os.path.join(run_dir, "data")
        gen_tables(data, a.seed)
        inputs = {"generator": "tools/fuzz_data.py <dir> %d %d" % (a.seed, CATALOG_ROWS),
                  "tables": table_sizes(data)}
        args += ["--data", data, "--keys", KEYS]
    log = os.path.join(run_dir, "jvm.log")
    code = jvm(cp, run_dir, args, log)
    res_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_file):
        sys.stderr.write(open(log).read()[-4000:])
        fail("workload %s exited with %s" % (a.workload, code))
    rec = json.load(open(res_file))
    rec["env"].update({"workload": a.workload, "git_head": git_head(), "source_stamp": source_stamp(),
                       "seed": a.seed, "seconds": a.seconds, "trace": a.trace})
    rec["inputs"].update(inputs)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace)),
              "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


def compare(dirs):
    """Median of each metric per workload in two sets of result records
    (files as written to bench/.work/results). Refuses sets measured with
    different task-slot counts."""
    import statistics
    sets = []
    for d in dirs:
        recs = [json.load(open(os.path.join(d, f))) for f in sorted(os.listdir(d))
                if f.endswith(".json")]
        if not recs:
            fail("no result records in " + d)
        sets.append(recs)
    slots = {r["env"]["slots"] for recs in sets for r in recs}
    if len(slots) != 1:
        fail("refusing to compare runs with different task-slot counts: %s" % sorted(slots))
    med = [{} for _ in sets]
    for m, recs in zip(med, sets):
        for r in recs:
            for k, v in r["metrics"].items():
                m.setdefault((r["env"]["workload"], k), []).append(v["value"])
    for key in sorted(set(med[0]) & set(med[1])):
        a, b = statistics.median(med[0][key]), statistics.median(med[1][key])
        print("%-16s %-40s %12.6g %12.6g %8s" % (key + (a, b, "%.3f" % (b / a) if a else "-")))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--list-keys", action="store_true")
    p.add_argument("--selftest", action="store_true")
    p.add_argument("--compare", nargs=2, metavar="DIR")
    a = p.parse_args()
    if not (os.path.isdir(PROGRAM_SRC) and os.path.isfile(FUZZ)):
        fail("run from a checkout of the repository: %s or %s is missing" % (PROGRAM_SRC, FUZZ))
    if a.list_keys:
        list_keys()
    elif a.selftest:
        selftest()
    elif a.compare:
        compare(a.compare)
    elif a.workload:
        measure(a)
    else:
        fail("give --workload or --list-keys")


if __name__ == "__main__":
    main()
