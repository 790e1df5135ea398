#!/usr/bin/env python3
"""Alternated A/B of the repository benchmark: a base commit against
the working tree.

Usage (from anywhere inside the repository):

    python3 tools/ab.py --workload etl_many_files --pairs 10
    python3 tools/ab.py --workload etl_large_batch,query_mix --pairs 5 --base HEAD~1
    python3 tools/ab.py --workload etl_many_files --pairs 1 --trace 1

Unpacks the base commit (`git archive`, default HEAD) and the working
tree (tracked and untracked, not ignored files) into two checkouts in a
fresh directory under $TMPDIR, outside the repository. It then runs
`perfbench/run.py` in the two checkouts, one pair per seed (1..N, run
length from BENCHMARK.json), and alternates which side goes first. Each checkout builds itself on its
first run; a comma-separated --workload list shares those builds.

For every metric it prints each side's median and quartiles, the
relative change of the medians, and the pairs the change won. A claim
holds when at least 10 pairs ran, the change won at least nine tenths
of them and the gap between the medians exceeds the base's
interquartile range. With --out, every
run's JSON line is saved.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def git(repo, *args, **kw):
    return subprocess.run(["git", "-C", repo, *args], check=True,
                          capture_output=True, **kw).stdout


def unpack_base(repo, rev, dest):
    os.makedirs(dest)
    tar = git(repo, "archive", "--format=tar", rev)
    subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def unpack_tree(repo, dest):
    os.makedirs(dest)
    names = git(repo, "ls-files", "-z", "-co", "--exclude-standard").split(b"\0")
    for rel in (n.decode() for n in names if n):
        src = os.path.join(repo, rel)
        if os.path.isfile(src):  # a tracked file deleted in the tree is skipped
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise SystemExit(f"ab: run failed in {checkout} (seed {seed}, exit {out.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(runs, spec):
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}
    names = list(runs[0]["base"]["metrics"])
    print(f"{'metric':40s} {'base median [q1, q3]':>30s} "
          f"{'change median [q1, q3]':>30s} {'delta':>8s} {'won':>6s}  claim")
    for name in names:
        b = [r["base"]["metrics"][name]["value"] for r in runs]
        c = [r["change"]["metrics"][name]["value"] for r in runs]
        lower = better.get(name, "lower") == "lower"
        won = sum((cv < bv) if lower else (cv > bv) for bv, cv in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        gap = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        claim = len(runs) >= 10 and won >= 0.9 * len(runs) and gap > bq[2] - bq[0]
        print(f"{name:40s} {bq[1]:10.4g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(71)
              + f" {cq[1]:10.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(31)
              + f" {delta:+8.1%} {won:3d}/{len(runs):<2d}  {'yes' if claim else 'no'}")
    for side in ("base", "change"):
        att = sum(r[side]["attempted"] for r in runs)
        fail = sum(r[side]["failed"] for r in runs)
        print(f"{side}: failed {fail}/{att} operations")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="HEAD", help="git revision to compare against")
    ap.add_argument("--out", help="write every run's JSON line here")
    ap.add_argument("--keep", action="store_true", help="keep the two checkouts")
    args = ap.parse_args()

    repo = git(os.getcwd(), "rev-parse", "--show-toplevel", text=True).strip()
    work = tempfile.mkdtemp(prefix="ab-")
    if os.path.commonpath([work, repo]) == repo:
        raise SystemExit(f"ab: {work} is inside the repository; set TMPDIR elsewhere")
    sides = {"base": os.path.join(work, "base"), "change": os.path.join(work, "change")}
    try:
        unpack_base(repo, args.base, sides["base"])
        unpack_tree(repo, sides["change"])
        with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        record = {"base": args.base, "trace": args.trace, "workloads": {}}
        for workload in args.workload.split(","):
            runs = record["workloads"][workload] = []
            for i in range(args.pairs):
                seed = i + 1
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    pair[side] = run_once(sides[side], workload, seed,
                                          spec["run_seconds"], args.trace)
                    print(f"{workload} pair {i + 1}/{args.pairs} seed {seed} {side}: "
                          + " ".join(f"{k}={v['value']:.4g}"
                                     for k, v in pair[side]["metrics"].items()
                                     if k in ("batch_s", "first_batch_s", "spark.jobs",
                                              "share.triage_union")),
                          flush=True)
                runs.append(pair)
                if args.out:
                    with open(args.out, "w") as fh:
                        json.dump(record, fh, indent=1)
            print(f"== {workload}: {args.pairs} pairs, base {args.base} vs working tree")
            report(runs, spec)
    finally:
        if args.keep:
            print(f"checkouts kept under {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
