"""Same-box A/B of the repository benchmark: a base revision against a change.

Exports both sides with ``git archive`` into a temporary directory (the
change defaults to the working tree: tracked and untracked, non-ignored
files, written as a tree from a temporary index), then runs
``perfbench/run.py`` once per side and seed, one pair per seed,
alternating which side runs first so that drift in the host's CPU share
falls on both sides alike. Prints, per end-to-end metric of
``BENCHMARK.json`` (per-layer metric with ``--trace 1``), each side's
median with its quartiles, how many pairs the change won (ties count
for neither) and a verdict, plus failed/attempted operations per side:

* ``gain``: the change wins at least 9 of 10 complete pairs and its
  median beats the base's by more than the base's interquartile range;
* ``worse``: the change's median is worse than the base's by more than
  the metric's relative ``bound`` in ``BENCHMARK.json`` (end-to-end
  metrics only; per-layer ones have no bound);
* ``flat``: neither.

Usage::

    python tools/ab.py --workload api_analyze --seeds 11-20 [--base HEAD]
        [--change REV] [--seconds 1] [--trace 0] [--out runs.jsonl]

Every run's JSON result is appended to ``--out`` as one line
(``{"side", "seed", "result"}``). Nothing is written inside the
repository: the runs work in their exported copies, which are deleted
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev: str | None, dest: str) -> None:
    """``rev`` via git archive, or the working tree when ``rev`` is None.

    The working tree goes through ``git archive`` as well: its tracked
    and untracked, non-ignored files are written as a tree from a
    temporary index, so both sides are extracted alike.
    """
    os.makedirs(dest)
    if rev is None:
        index = dest + ".index"
        env = {**os.environ, "GIT_INDEX_FILE": index}
        try:
            subprocess.run(["git", "add", "-A"], cwd=ROOT, env=env, check=True)
            rev = subprocess.run(
                ["git", "write-tree"], cwd=ROOT, env=env, check=True,
                capture_output=True, text=True,
            ).stdout.strip()
        finally:
            if os.path.exists(index):
                os.remove(index)
    archive = subprocess.run(
        ["git", "archive", rev], cwd=ROOT, check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout: str, args, seed: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": proc.returncode, "stderr": proc.stderr[-2000:]}
    return json.loads(lines[-1])


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return (values[0],) * 3
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(base: list[float], change: list[float], wins: int, metric: dict) -> str:
    """``gain``, ``worse`` or ``flat`` (module docstring)."""
    q1, mb, q3 = quartiles(base)
    mc = quartiles(change)[1]
    lower = metric["better"] == "lower"
    ahead = mb - mc if lower else mc - mb
    if wins >= 0.9 * len(base) and ahead > q3 - q1:
        return "gain"
    bound = metric.get("bound")
    if bound is not None and -ahead > bound * abs(mb):
        return "worse"
    return "flat"


def summarize(pairs: list[dict], metrics: list[dict]) -> None:
    shares = {}
    for side in ("base", "change"):
        attempted = sum(p[side].get("attempted", 0) for p in pairs)
        failed = sum(p[side].get("failed", 0) for p in pairs)
        errors = sum(1 for p in pairs if "error" in p[side])
        shares[side] = failed / attempted if attempted else 0.0
        print(f"{side}: failed {failed} of {attempted} attempted, {errors} runs errored")
    print("failed share: " + ("worse" if shares["change"] > shares["base"] else "flat"))
    ok = [p for p in pairs if "error" not in p["base"] and "error" not in p["change"]]
    print(f"{len(ok)} complete pairs")
    if not ok:
        return
    print(f"{'metric':40s} {'base median [q1-q3]':>30s} "
          f"{'change median [q1-q3]':>30s}  change wins  verdict")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        if name not in ok[0]["base"]["metrics"]:
            continue
        base = [p["base"]["metrics"][name]["value"] for p in ok]
        change = [p["change"]["metrics"][name]["value"] for p in ok]
        wins = sum(1 for b, c in zip(base, change) if (c < b if lower else c > b))
        qb, qc = quartiles(base), quartiles(change)
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}-{q[2]:.4g}]"
        print(f"{name:40s} {fmt(qb):>30s} {fmt(qc):>30s}  {wins:>5d}/{len(ok):<5d}"
              f"  {verdict(base, change, wins, m)}")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seeds", required=True, help="e.g. 11-20 or 3,5,8")
    parser.add_argument("--base", default="HEAD", help="git revision (default HEAD)")
    parser.add_argument("--change", default=None, help="git revision (default: working tree)")
    parser.add_argument("--seconds", type=float, default=1)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--out", default=None, help="append each run's JSON here")
    args = parser.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["per_layer" if args.trace else "end_to_end"]
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        sides = {"base": os.path.join(tmp, "base"), "change": os.path.join(tmp, "change")}
        export(args.base, sides["base"])
        export(args.change, sides["change"])
        pairs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {}
            for side in order:
                pair[side] = run_once(sides[side], args, seed)
                if args.out:
                    with open(args.out, "a") as f:
                        row = {"side": side, "seed": seed, "result": pair[side]}
                        f.write(json.dumps(row) + "\n")
                failed = pair[side].get("failed", "error")
                print(f"seed {seed} {side}: {failed} failed", file=sys.stderr)
            pairs.append(pair)
        summarize(pairs, metrics)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
