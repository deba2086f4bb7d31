#!/usr/bin/env python3
"""Paired A/B of the working tree against a base git revision on perfbench.

    python3 tools/ab.py --base <rev> --dir <base-checkout-dir> \\
        [--workload csv_jobs] [--pairs 10] [--first-seed 1] [--seconds 10] [--ops]

Run from the repository root. The base revision's tree is extracted into
``--dir`` (``git archive``; reused while it holds the same commit) and builds
there on its first perfbench run. Then, for seeds S..S+N-1 (``--first-seed``
S, default 1, so a claim can be re-checked on seeds held out during
development), ``perfbench/run.py --trace 0`` runs once in each tree, the base
first on odd seeds and the change first on even ones, so that drift of the
host hits both sides alike. Each tree runs its own
``perfbench``. For every metric the report gives each side's median and
quartiles, the ratio of the medians, how many pairs the change lost (the
better direction taken from ``BENCHMARK.json``), for each end-to-end metric a
verdict (``gain``: the change won at least 9 in 10 pairs and the median gap
exceeds the base's interquartile range; ``regressed``: worse than the
metric's ``BENCHMARK.json`` bound; ``flat`` otherwise) and the ratio
change/base of every pair. With ``--ops`` it also reports every operation on
its own: per run, the median wall time of the operation over the timed passes
(from perfbench's ``p<pass>/<op> <wall>s`` stderr lines, the warm-up passes
named in perfbench/README.md skipped), then the same paired summary over the
runs, so a gain can be located in the operations that carry it. Files are
written only under ``--dir`` and the two trees' ``.bench_build/``. Exits 1 when
any run fails or is incorrect.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tarfile

ROOT = os.getcwd()

# untimed warm-up passes per JVM, as perfbench/README.md names them
WARMUP_PASSES = {"csv_jobs": 4, "queries": 2}
OP_LINE = re.compile(r"^perfbench: p(\d+)/(\S+) ([0-9.]+)s untraced\b")


def checkout(rev, dest):
    """Extract `rev` into `dest` unless it already holds that commit."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         check=True, capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dest, ".ab-rev")
    if os.path.exists(stamp):
        if open(stamp).read() == sha:
            return sha
    elif os.path.isdir(dest) and os.listdir(dest):
        sys.exit(f"ab: {dest} is not empty and holds no earlier base checkout")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = os.path.join(dest, ".ab-archive.tar")
    with open(archive, "wb") as f:
        subprocess.run(["git", "archive", sha], cwd=ROOT, check=True, stdout=f)
    with tarfile.open(archive) as t:
        t.extractall(dest, filter="data")
    os.remove(archive)
    with open(stamp, "w") as f:
        f.write(sha)
    return sha


def op_medians(stderr, workload):
    """{operation: median wall seconds over the run's timed passes}."""
    walls = {}
    for line in stderr.splitlines():
        m = OP_LINE.match(line)
        if m and int(m.group(1)) >= WARMUP_PASSES[workload]:
            walls.setdefault(m.group(2), []).append(float(m.group(3)))
    return {op: statistics.median(ws) for op, ws in walls.items()}


def bench(tree, workload, seed, seconds):
    """One perfbench run in `tree`: its result line with the per-operation
    medians under "ops", or None on failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    r = json.loads(lines[-1])
    r["ops"] = op_medians(p.stderr, workload)
    return r


def quartiles(xs):
    """[q1, median, q3] of xs; the quartiles need at least two values."""
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


def spread(xs):
    """median [q1 q3] of xs."""
    q = quartiles(xs)
    return f"{q[1]:.4g} [{q[0]:.4g} {q[2]:.4g}]"


def metric_specs():
    """(metric -> True when higher is better, end-to-end metric -> bound), from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    higher = {m["name"]: m["better"] == "higher"
              for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    return higher, {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}


def verdict(vals, up, bound):
    """`gain` when the change won at least 9 in 10 pairs and the median gap exceeds the
    base's q3 - q1; `regressed` when the median is worse than the base's by more than
    `bound` (relative); `flat` otherwise."""
    base, change = (list(side) for side in zip(*vals))
    mb, mc = statistics.median(base), statistics.median(change)
    better = mc - mb if up else mb - mc
    if mb and -better / abs(mb) > bound:
        return "regressed"
    won = sum((c > b) if up else (c < b) for b, c in vals)
    q1, _, q3 = quartiles(base)
    return "gain" if 10 * won >= 9 * len(vals) and better > q3 - q1 else "flat"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--dir", required=True, help="directory for the base checkout")
    ap.add_argument("--workload", default="csv_jobs")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--ops", action="store_true",
                    help="also report each operation's paired median wall time")
    a = ap.parse_args()
    base_dir = os.path.abspath(a.dir)
    if os.path.commonpath([base_dir, ROOT]) == ROOT:
        sys.exit("ab: --dir must lie outside the working tree")
    sha = checkout(a.base, base_dir)
    seeds = range(a.first_seed, a.first_seed + a.pairs)
    print(f"ab: base {sha[:12]} in {base_dir}; {a.pairs} pairs of {a.workload}, "
          f"seeds {seeds.start}..{seeds.stop - 1}", file=sys.stderr)
    runs = {"base": [], "change": []}
    bad = 0
    for seed in seeds:
        order = [("base", base_dir), ("change", ROOT)]
        for side, tree in order if seed % 2 else reversed(order):
            r = bench(tree, a.workload, seed, a.seconds)
            ok = r is not None and r["correct"] and r["failed"] == 0
            bad += not ok
            runs[side].append(r if ok else None)
            got = {k: round(v["value"], 4) for k, v in r["metrics"].items()} if r else "failed"
            print(f"ab: seed {seed} {side}: {got}", file=sys.stderr)
    higher, bounds = metric_specs()
    pairs = [(b, c) for b, c in zip(runs["base"], runs["change"]) if b and c]
    names = sorted({k for b, c in pairs for k in b["metrics"]})
    print("metric: median [q1 q3] base -> change, median ratio, pairs the change lost, "
          "verdict (end-to-end metrics), per-pair change/base")
    for name in names:
        vals = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in pairs
                if name in b["metrics"] and name in c["metrics"]]
        if not vals:
            continue
        mb, mc = (statistics.median(side) for side in zip(*vals))
        up = higher.get(name, False)
        slower = sum((c < b) if up else (c > b) for b, c in vals)
        judged = f"{verdict(vals, up, bounds[name])}, " if name in bounds else ""
        print(f"{name}: {spread([b for b, _ in vals])} -> {spread([c for _, c in vals])}, "
              f"{mc / mb if mb else float('nan'):.3f}, lost {slower}/{len(vals)}, {judged}"
              + " ".join(f"{c / b:.3f}" if b else "nan" for b, c in vals))
    if a.ops:
        print("operation: median [q1 q3] of per-run timed-pass medians (s) base -> change, "
              "median ratio, pairs the change lost, per-pair change/base")
        for op in sorted({op for b, c in pairs for op in b["ops"]}):
            vals = [(b["ops"][op], c["ops"][op]) for b, c in pairs
                    if op in b["ops"] and op in c["ops"]]
            if not vals:
                continue
            mb, mc = (statistics.median(side) for side in zip(*vals))
            print(f"{op}: {spread([b for b, _ in vals])} -> {spread([c for _, c in vals])}, "
                  f"{mc / mb if mb else float('nan'):.3f}, lost {sum(c > b for b, c in vals)}/"
                  f"{len(vals)}, " + " ".join(f"{c / b:.3f}" if b else "nan" for b, c in vals))
    if bad:
        print(f"ab: {bad} run(s) failed or were incorrect", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
