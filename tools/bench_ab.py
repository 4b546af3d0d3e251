"""Same-box A/B of the benchmark: a base revision against this checkout.

    python3 tools/bench_ab.py --base HEAD~1 --workload store_serve --pairs 10
    python3 tools/bench_ab.py --base main --workload ops_mix --pairs 10 --seconds 15

Exports REV with `git archive` to a temporary directory and runs
`perfbench/run.py` once in each tree per seed (seeds first-seed,
first-seed + 1, ...), with the run order flipped on every other seed: the
base runs first on odd pair numbers, the checkout on even ones. Each tree
builds its own benchmark classes. For each end-to-end metric of this
checkout's BENCHMARK.json it prints the base and change medians, the base's
quartiles and their distance (IQR), and in how many pairs the change was
better (ties count for neither side). Exits 1 when any run fails, is not
`correct`, or reports `failed` > 0. The temporary directory is removed on
exit. Standard library only.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class RunFailed(Exception):
    pass


def export(rev, dest):
    """Writes the tree of `rev` into `dest` with git archive."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev],
                               stdout=subprocess.PIPE)
    untar = subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0 or untar.returncode != 0:
        raise RunFailed(f"git archive {rev} failed")


def run_once(tree, workload, seed, seconds):
    """One benchmark run in `tree`; returns its metric values by name."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate()
    finally:
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(err.strip().splitlines()[-20:])
        raise RunFailed(f"{tree} seed {seed}: exit {proc.returncode}\n{tail}")
    result = json.loads(lines[-1])
    if not result["correct"] or result["failed"] > 0:
        raise RunFailed(f"{tree} seed {seed}: correct={result['correct']} "
                        f"failed={result['failed']} of {result['attempted']}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="git revision to compare with")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    # a terminated comparison still removes its directory (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    tmp = tempfile.mkdtemp(prefix="bench_ab-")
    runs = {"base": [], "change": []}
    try:
        base = os.path.join(tmp, "base")
        os.makedirs(base)
        export(args.base, base)
        trees = {"base": base, "change": ROOT}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                runs[side].append(run_once(trees[side], args.workload, seed,
                                           args.seconds))
            print(f"seed {seed} ({' then '.join(order)}): " + ", ".join(
                f"{m['name']} {runs['base'][-1][m['name']]:.4g} -> "
                f"{runs['change'][-1][m['name']]:.4g}" for m in metrics),
                flush=True)
    except RunFailed as e:
        print(f"bench_ab: {e}", file=sys.stderr)
        sys.exit(1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    n = args.pairs
    print(f"\n{args.workload}: {n} pairs, base {args.base}, "
          f"{args.seconds} s per run")
    print(f"{'metric':<12} {'base':>10} {'change':>10} {'delta':>8} "
          f"{'base q1':>10} {'base q3':>10} {'base IQR':>10} {'better':>7}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = [r[name] for r in runs["base"]]
        c = [r[name] for r in runs["change"]]
        mb, mc = statistics.median(b), statistics.median(c)
        q1, q3 = quartiles(b)
        better = sum(1 for x, y in zip(b, c) if (y < x if lower else y > x))
        delta = f"{(mc - mb) / mb * 100:+.1f}%" if mb else "n/a"
        print(f"{name:<12} {mb:>10.4g} {mc:>10.4g} {delta:>8} {q1:>10.4g} "
              f"{q3:>10.4g} {q3 - q1:>10.4g} {better:>4}/{n} ({m['unit']}, "
              f"{m['better']} is better)")


if __name__ == "__main__":
    main()
