#!/usr/bin/env python3
"""Alternating parent/change perfbench pairs.

    python3 tools/bench_pairs.py --parent HEAD --workload nrt --seeds 31-40

Exports the parent ref into a temporary directory (`git archive`, under
--workdir if given; removed at the end) and, for each seed, runs
perfbench/run.py there and in this working tree, alternating which side
goes first. Prints, per end-to-end metric of BENCHMARK.json, the parent
and change medians, the parent's interquartile range, in how many pairs
the change was better, and a no-regression verdict against the metric's
`bound`, a fraction of the parent median:

  ok          the change median is no worse than the parent's by more
              than the bound;
  worse       it is worse by more than the bound;
  unresolved  the parent's IQR exceeds the bound times its median, so the
              runs spread too widely to tell, unless every change run
              beats every parent run (then ok).

Exits non-zero when any run fails or is not `correct`; the verdicts do
not change the exit status.
"""

import argparse, json, os, shutil, statistics, subprocess, sys, tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds)],
                       cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    ok = p.returncode == 0 and bool(result) and result["correct"] and result["failed"] == 0
    if not ok:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
    return ok, {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}


def verdict(ps, cs, better, bound):
    """ok, worse or unresolved: the change's median against the parent's,
    within `bound` times the parent median (see the module doc)."""
    sign = 1 if better == "lower" else -1  # sign * (c - p) > 0: c is worse
    mp, mc = statistics.median(ps), statistics.median(cs)
    q = statistics.quantiles(ps, n=4)
    if q[2] - q[0] > bound * abs(mp):
        beats_all = all(sign * (c - p) < 0 for p in ps for c in cs)
        return "ok" if beats_all else "unresolved"
    return "worse" if sign * (mc - mp) > bound * abs(mp) else "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git ref of the parent commit")
    ap.add_argument("--workload", required=True, choices=("build_serve", "nrt"))
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 11-20")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workdir", default=None, help="where the parent is exported")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    parent = tempfile.mkdtemp(prefix="bench-parent-", dir=a.workdir)
    subprocess.run(f"git archive {a.parent} | tar -x -C {parent}", shell=True, cwd=ROOT,
                   check=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: (m["better"], m["bound"]) for m in json.load(fh)["end_to_end"]}
    runs, bad = {"parent": [], "change": []}, 0
    try:
        for i, seed in enumerate(range(lo, hi + 1)):
            order = [("parent", parent), ("change", ROOT)]
            for side, tree in (order if i % 2 == 0 else order[::-1]):
                ok, metrics = run(tree, a.workload, seed, a.seconds)
                bad += not ok
                runs[side].append(metrics)
                print(f"seed {seed} {side}: {'ok' if ok else 'FAILED'} " + " ".join(
                    f"{k}={v:g}" for k, v in sorted(metrics.items())), flush=True)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    pairs = [(p, c) for p, c in zip(runs["parent"], runs["change"]) if p and c]
    print(f"{'metric':28} {'parent':>12} {'change':>12} {'delta':>8} {'parent IQR':>11} "
          f"{'wins':>5} verdict")
    for name, (better, bound) in spec.items():
        ps = [p[name] for p, _ in pairs if name in p]
        cs = [c[name] for _, c in pairs if name in c]
        if len(ps) < 2 or len(cs) < 2:
            continue
        q = statistics.quantiles(ps, n=4)
        wins = sum((c < p) if better == "lower" else (c > p) for p, c in zip(ps, cs))
        mp, mc = statistics.median(ps), statistics.median(cs)
        delta = f"{100 * (mc - mp) / mp:+.1f}%" if mp else "-"
        print(f"{name:28} {mp:12.4f} {mc:12.4f} {delta:>8} {q[2] - q[0]:11.4f} "
              f"{wins:>2}/{len(ps):<2} {verdict(ps, cs, better, bound)}")
    if bad:
        print(f"{bad} run(s) failed or were not correct", file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
