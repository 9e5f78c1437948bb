#!/usr/bin/env python3
"""Alternating A/B benchmark pairs: a parent revision against the working tree.

    python3 scripts/ab_pairs.py <parent-rev> <workload|all> <pairs> <first-seed>

Run from the repository root. Exports <parent-rev> with `git archive` into a
temporary directory (under $TMPDIR, /tmp by default), builds the benchmark in
both trees once, then runs

    python3 perfbench/run.py --workload W --seed S --seconds T --trace 0

once per side for each seed S = first-seed .. first-seed + pairs - 1, with
the parent first in even pairs and the change first in odd ones. T is
BENCHMARK.json's `run_seconds`; `all` runs the pairs for every workload
BENCHMARK.json lists, one workload after the other. Prints one line per run,
then, per workload and for each end-to-end metric of BENCHMARK.json, each
side's median and quartiles, the change's wins out of the pairs, and the
ratio of the medians; finally each side's failed and attempted operation
counts.
"""
import json
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile


def export(rev: str) -> pathlib.Path:
    tree = pathlib.Path(tempfile.mkdtemp(prefix="ab-parent-"))
    archive = subprocess.run(["git", "archive", rev], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(tree)], input=archive, check=True)
    return tree


def run(tree: pathlib.Path, workload: str, seed: int, seconds: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"], cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"  run failed in {tree} (exit {p.returncode}): {p.stderr[-400:]}", file=sys.stderr)
        return {}


def value(result: dict, metric: str) -> float:
    return result.get("metrics", {}).get(metric, {}).get("value", float("nan"))


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def compare(parent: pathlib.Path, change: pathlib.Path, rev: str, workload: str, pairs: int, first: int,
            seconds: int, metrics: list) -> None:
    results = {"parent": [], "change": []}
    for i in range(pairs):
        seed = first + i
        order = [("parent", parent), ("change", change)]
        for side, tree in (order if i % 2 == 0 else order[::-1]):
            r = run(tree, workload, seed, seconds)
            results[side].append(r)
            shown = " ".join(f"{m['name']}={value(r, m['name']):.4g}" for m in metrics)
            print(f"{workload} pair {i + 1} seed {seed} {side:6s} failed={r.get('failed', '-')} {shown}", flush=True)
    print(f"\n{workload}, {pairs} alternating pairs, seeds {first}..{first + pairs - 1} vs {rev}")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs_ok = [(value(p, name), value(c, name)) for p, c in
                    zip(results["parent"], results["change"]) if p and c]
        if not pairs_ok:
            print(f"{name:12s} no complete pair")
            continue
        ps, cs = [p for p, _ in pairs_ok], [c for _, c in pairs_ok]
        wins = sum((c > p) if higher else (c < p) for p, c in pairs_ok)
        (p1, p2, p3), (c1, c2, c3) = quartiles(ps), quartiles(cs)
        ratio = c2 / p2 if p2 else float("nan")
        print(f"{name:12s} parent {p2:.4g} [{p1:.4g}, {p3:.4g}]  change {c2:.4g} [{c1:.4g}, {c3:.4g}]  "
              f"change wins {wins}/{len(pairs_ok)}  change/parent {ratio:.3f}  parent IQR {p3 - p1:.4g}")
    for side in ("parent", "change"):
        rs = results[side]
        print(f"{side:6s} failed {sum(r.get('failed', 0) for r in rs)} of "
              f"{sum(r.get('attempted', 0) for r in rs)} operations, {sum(not r for r in rs)} runs without a result")
    print(flush=True)


def main() -> int:
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    rev, workload, pairs, first = sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4])
    change = pathlib.Path.cwd()
    bench = json.loads((change / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in bench["workloads"]] if workload == "all" else [workload]
    parent = export(rev)
    try:
        for tree in (parent, change):
            subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree, check=True, capture_output=True)
        for w in workloads:
            compare(parent, change, rev, w, pairs, first, bench["run_seconds"], bench["end_to_end"])
    finally:
        shutil.rmtree(parent, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
