#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a base revision against a change.

    python3 tools/ab.py --workload serving [--base HEAD~1] [--change HEAD]
        [--pairs 10] [--seed 1] [--trace 0] [--dir DIR]

Each revision is exported with ``git archive`` into its own directory under
``--dir`` (a fresh temporary directory by default), so both sides run from
their committed files only and the repository itself is left untouched. To
measure uncommitted work, pass ``--change "$(git stash create)"`` after
``git add -A``.

The runs alternate: pair i runs the benchmark's command from
``BENCHMARK.json`` with ``--workload W --seed S+i --seconds T --trace X``,
where T is the file's ``run_seconds``, in the base checkout and then in the
change's, or the other way round for odd i, each in a fresh process and with
the same seed on both sides. Per metric it prints each side's median and
quartiles, how many pairs the change won (ties and pairs where a side
produced no value count for neither side), and the verdict of the paired
rule: a gain holds only when the change wins at least nine tenths of the
pairs run, the medians differ, in the metric's better direction, by more
than the distance between the base's quartiles, and the change side has no
more failed or incorrect runs and no more failed operations than the base.
For the end-to-end metrics it also prints how far the change's median moved
against the base's, next to the bound ``BENCHMARK.json`` fixes. The
checkouts are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--base", default="HEAD~1", help="git revision of the base side")
    p.add_argument("--change", default="HEAD", help="git revision of the change side")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair; pair i uses seed + i")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--dir", help="where the checkouts go (default: a new temporary directory)")
    args = p.parse_args(argv)
    if args.pairs < 10:
        p.error("--pairs must be at least 10: the paired rule needs nine wins in ten")
    return args


def export(rev: str, dest: str) -> str:
    """Write the files of ``rev`` into ``dest``; returns the full commit id."""
    sha = subprocess.run(
        ["git", "-C", REPO, "rev-parse", "--verify", f"{rev}^{{commit}}"],
        check=True, capture_output=True, text=True,
    ).stdout.strip()
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", REPO, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"ab: git archive {rev} failed")
    return sha


def run_once(checkout: str, bench: dict, args, seed: int) -> dict | None:
    """One benchmark run; its result object, or None when it failed."""
    cmd = [
        *bench["command"], "--workload", args.workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
    ]
    try:
        proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"ab: run timed out after {RUN_TIMEOUT_S} s: {' '.join(cmd)}", file=sys.stderr)
        return None
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = None
    if result is None or proc.returncode != 0:
        print(f"ab: run failed (exit {proc.returncode}) in {checkout}:", file=sys.stderr)
        print("\n".join(proc.stderr.strip().splitlines()[-15:]), file=sys.stderr)
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def health(runs: list[dict | None]) -> tuple[int, int]:
    """``(runs failed or incorrect, operations failed)`` over one side's runs."""
    bad = sum(1 for r in runs if r is None or not r.get("correct"))
    failed = sum(r.get("failed", 0) for r in runs if r)
    return bad, failed


def verdict(results: list[tuple[dict | None, dict | None]], name: str, lower_better: bool) -> dict | None:
    """The paired rule for metric ``name`` over every pair run; None when no
    pair has the metric on both sides. Wins are counted over the pairs
    where both sides produced it, but the nine tenths are of all pairs, so
    a failed run counts against the change."""
    both = [
        (b["metrics"][name]["value"], c["metrics"][name]["value"])
        for b, c in results
        if b and c and name in b.get("metrics", {}) and name in c.get("metrics", {})
    ]
    if not both:
        return None
    base, change = [b for b, _ in both], [c for _, c in both]
    wins = sum((c < b) if lower_better else (c > b) for b, c in both)
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    gain = (bmed - cmed) if lower_better else (cmed - bmed)
    base_health = health([b for b, _ in results])
    change_health = health([c for _, c in results])
    holds = (
        len(results) >= 10
        and wins >= 0.9 * len(results)
        and gain > (bq3 - bq1)
        and all(c <= b for b, c in zip(base_health, change_health))
    )
    return {
        "pairs": len(results), "wins": wins, "holds": holds,
        "base": (bmed, bq1, bq3), "change": (cmed, cq1, cq3),
    }


def report(results: list[tuple[dict | None, dict | None]], directions: dict, bounds: dict) -> None:
    names = []
    for pair in results:
        for side in pair:
            for name in (side or {}).get("metrics", {}):
                if name not in names:
                    names.append(name)
    print(f"{'metric':34} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} {'wins':>7}  verdict")
    for name in names:
        lower_better = directions.get(name, "lower") == "lower"
        v = verdict(results, name, lower_better)
        if v is None:
            continue
        fmt = "{:.4g} [{:.4g}, {:.4g}]"
        line = (
            f"{name:34} {fmt.format(*v['base']):>30} {fmt.format(*v['change']):>30} "
            f"{v['wins']:>3}/{v['pairs']:<3}  {'gain holds' if v['holds'] else 'no gain'}"
        )
        if name in bounds and v["base"][0]:
            worse = (v["change"][0] - v["base"][0]) / abs(v["base"][0])
            worse = worse if lower_better else -worse
            line += f"; median {'worse' if worse > 0 else 'better'} by {abs(worse):.1%} (bound {bounds[name]:.0%})"
        print(line)
    for label, k in (("base", 0), ("change", 1)):
        runs = [p[k] for p in results]
        bad, failed = health(runs)
        attempted = sum(r.get("attempted", 0) for r in runs if r)
        print(f"{label}: {len(runs) - bad}/{len(runs)} runs correct; {failed} of {attempted} operations failed")


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exception, so the running benchmark is
    # stopped and the checkouts removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    directions = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    if args.dir:
        os.makedirs(args.dir, exist_ok=True)
    root = tempfile.mkdtemp(prefix="ab-", dir=args.dir)
    try:
        sides = {}
        for label, rev in (("base", args.base), ("change", args.change)):
            path = os.path.join(root, label)
            sides[label] = path
            print(f"ab: {label} = {rev} ({export(rev, path)[:12]}) in {path}", flush=True)
        results = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            got = {}
            for label in order:
                t0 = time.perf_counter()
                got[label] = run_once(sides[label], bench, args, seed)
                metrics = (got[label] or {}).get("metrics", {})
                shown = ", ".join(
                    f"{n}={metrics[n]['value']:.4g}" for n in ("setup_s", "work_s", "ok_ratio") if n in metrics
                )
                print(f"ab: pair {i + 1}/{args.pairs} seed {seed} {label:6} "
                      f"{time.perf_counter() - t0:5.1f} s  {shown or 'FAILED'}", flush=True)
            results.append((got["base"], got["change"]))
        print(f"ab: workload {args.workload}, {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}, "
              f"--seconds {bench['run_seconds']} --trace {args.trace}")
        report(results, directions, bounds)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
