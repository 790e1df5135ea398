#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_many_files --seed 1 \
        --seconds 10 --trace 0

Builds the program and the harness from source with sbt (once per
source state; the classpath is cached under .bench_build/), then runs
one JVM on local[nproc] that sets up, runs the first batch and warm
batches for --seconds, and checks every batch's output. --trace 1
alternates untraced and traced warm batches and reports the per-layer
metrics instead of the end-to-end ones. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. The full
record (samples, spans file, run hygiene) lands in
.bench_build/results/. See perfbench/README.md.
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

WORKLOADS = ("etl_many_files", "etl_large_batch", "query_mix")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 170          # a run must end within 180 s
BUILD_LIMIT_S = 840        # the first run in a checkout may take 900 s
JVM_MARKERS = ("sbt-launch", "xsbt.boot", "org.apache.spark", "perfbench.Main",
               "ForkMain")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the base of every ratio the run prints
RATIO_BASES = {
    "trace_overhead": "median traced batch wall / median untraced batch wall",
    "spark.core_busy_frac": "spark.task_run_s / (traced batch wall x nproc)",
    "ingest.jobs_per_file": "ingest.triage_jobs / candidate input files",
    "share.triage_union":
        "(ingest.triage_s + ingest.union_plan_s) / traced batch wall",
    "share.io_marts": "(io.* + marts.* span time) / traced batch wall",
    "core_busy_frac": "task run time / (query span wall x nproc)",
}


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def foreign_jvms():
    """sbt or Spark JVMs of other runs (this process has no children yet)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java":
            line = b" ".join(argv).decode(errors="replace")
            if any(m in line for m in JVM_MARKERS):
                found.append(int(pid))
    return found


def wait_for_quiet_box(limit_s=60):
    """Refuse to measure while another sbt/Spark JVM shares the cores."""
    t0 = time.time()
    while True:
        others = foreign_jvms()
        if not others:
            return time.time() - t0
        if time.time() - t0 > limit_s:
            fail(3, f"another sbt/Spark JVM is alive (pids {others}); refusing to run")
        time.sleep(2)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build once per source state; return the harness's runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, BUILD_LIMIT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or os.path.join("perfbench", "target") not in cp:
        fail(2, f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def wait_or_kill(proc, limit_s):
    """Wait for `proc` (its own process group); kill the group at the limit."""
    try:
        return proc.wait(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def heap_gb():
    """Driver heap from MemTotal: a quarter of the box, 2 to 8 GB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def oracle_check(manifest):
    """Compare the first pass's results with the DuckDB oracle SQL over
    the same tables: columns sorted by name, dtypes and values equal row
    by row (the comparison tools/compare.py makes). Returns
    {query: None if equal else reason}.
    """
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tdir = manifest["tables_dir"]
    for t in sorted(os.listdir(tdir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{tdir}/{t}/*.parquet')")
    verdicts = {}
    for name, q in sorted(manifest["queries"].items()):
        try:
            odf = con.execute(q["sql"]).fetchdf()
            sdf = con.execute(f"SELECT * FROM read_parquet('{q['spark_dir']}/*.parquet')").fetchdf()
        except Exception as e:  # an oracle or read error is a failed check
            verdicts[name] = f"error {e}"
            continue
        odf, sdf = odf[sorted(odf.columns)], sdf[sorted(sdf.columns)]
        if list(odf.columns) != list(sdf.columns):
            verdicts[name] = f"columns {list(sdf.columns)} vs {list(odf.columns)}"
        elif len(odf) != len(sdf):
            verdicts[name] = f"rows {len(sdf)} vs {len(odf)}"
        elif [str(t) for t in sdf.dtypes] != [str(t) for t in odf.dtypes]:
            verdicts[name] = "dtypes differ"
        else:
            def eq(x, y):
                if isinstance(x, float) and isinstance(y, float):
                    return x == y or (x != x and y != y)
                return x == y
            bad = next((c for c in odf.columns
                        if not all(eq(a, b) for a, b in
                                   zip(sdf[c].tolist(), odf[c].tolist()))), None)
            verdicts[name] = None if bad is None else f"column {bad} differs"
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(2, "no program sources next to perfbench/ (build.sbt, src/main/scala)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    waited = wait_for_quiet_box()
    t_build = time.time()
    cp = classpath()
    # the build is allowed its own time; the run keeps to RUN_LIMIT_S
    deadline = started + RUN_LIMIT_S + (time.time() - t_build)

    nproc = len(os.sched_getaffinity(0))
    heap = heap_gb()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    scratch = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "spark-local", "artifacts"):
        os.makedirs(os.path.join(scratch, d))
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, f"{tag}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    load_pre = loadavg()
    ticks_pre = cpu_ticks()

    env = dict(os.environ)
    env["GRAFT_ARTIFACT_DIR"] = os.path.join(scratch, "artifacts")
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    cmd = (["java", f"-Xmx{heap}g", "-XX:-UsePerfData"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scratch", scratch, "--nproc", str(nproc),
            "--result", result_file])
    log = os.path.join(results, f"{tag}.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        rc = wait_or_kill(proc, deadline - time.time())
    if rc != 0 or not os.path.isfile(result_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        shutil.rmtree(scratch, ignore_errors=True)
        fail(4, f"run failed (exit {rc}); log {log}")
    with open(result_file) as fh:
        res = json.load(fh)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if "verify" in res:
        verdicts = oracle_check(res["verify"])
        passes = attempted // len(verdicts)
        for name, why in verdicts.items():
            if why is not None:
                failed += passes
                failures.append(f"oracle: {name}: {why}")
        res["oracle"] = verdicts
    failed = min(failed, attempted)
    shutil.rmtree(scratch, ignore_errors=True)

    ticks_post = cpu_ticks()
    res["hygiene"] = {
        "nproc": nproc, "heap_gb": heap, "loadavg_pre": load_pre,
        "loadavg_post": loadavg(),
        # CPU time the hypervisor gave to other guests during the run
        "steal_frac": round((ticks_post[0] - ticks_pre[0]) /
                            max(1, ticks_post[1] - ticks_pre[1]), 4),
        "git_commit": git_commit(),
        "seed": args.seed, "waited_for_other_jvms_s": round(waited, 1),
        "wall_s": round(time.time() - started, 1),
    }
    res["failed"] = failed
    res["failures"] = failures
    with open(result_file, "w") as fh:
        json.dump(res, fh, indent=1)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value = res["metrics"].get(m["name"])
        if value is None and not args.trace:
            fail(4, f"metric {m['name']} missing from {result_file}")
        # per-layer metrics of a layer this workload does not run read 0
        metrics[m["name"]] = {"value": 0.0 if value is None else value,
                              "unit": m["unit"]}

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"nproc {nproc}  heap {heap}g  load {load_pre} -> {res['hygiene']['loadavg_post']}  "
          f"steal {res['hygiene']['steal_frac']}")
    for name, m in metrics.items():
        base = RATIO_BASES.get(name) or RATIO_BASES.get(name.rsplit(".", 1)[-1])
        print(f"  {name:44s} {m['value']:14.6g} {m['unit']}"
              + (f"   [{base}]" if base else ""))
    print(f"  failed_frac {failed}/{attempted} operations"
          + "".join(f"\n    {f}" for f in failures[:10]))
    print(f"  record: {result_file}")
    print(json.dumps({"correct": failed == 0 and attempted >= 1,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
