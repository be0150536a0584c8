"""Interleaved A/B of two git refs on one command.

Usage:
    python tools/ab.py PARENT_REF CHANGE_REF -- CMD...

Checks each ref out into its own detached worktree and runs ``CMD`` in
each one, with ``PYTHONPATH`` unset so every arm imports its own copy
of the package. It runs ``PAIRS`` parent/change pairs, alternating
which arm goes first, and parses the last stdout line of every run as
JSON. Numeric leaves become metrics named by their dotted path
(``metrics.job_cpu_s.value``, ``queries.tpch_q1.min``); boolean and
string leaves are outputs, which must match across all runs.

Prints one JSON line: the two SHAs, the cpus, the run order, and per
metric each arm's min/median/q1/q3 plus the number of pairs where the
change ran lower and where it ran higher. A run that exits non-zero or
whose last stdout line is not JSON stops the A/B. Both worktrees are
removed on every exit path.

Examples:
    python tools/ab.py main HEAD -- \\
        python3 perfbench/run.py --workload trickle --seed 7 --seconds 10
    python tools/ab.py main HEAD -- \\
        python3 tools/profile_query.py --runs 1 dedup_minhash_survivors
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

PAIRS = 10  # the minimum an interleaved claim may rest on
ARMS = ("parent", "change")


class RunFailed(Exception):
    pass


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def flatten(doc, prefix: str = ""):
    """(dotted name, leaf) for every leaf of a JSON document."""
    if isinstance(doc, dict):
        items = doc.items()
    elif isinstance(doc, list):
        items = enumerate(doc)
    else:
        yield prefix, doc
        return
    for key, value in items:
        yield from flatten(value, f"{prefix}.{key}" if prefix else str(key))


def is_number(value) -> bool:
    return isinstance(value, (int, float)) and not isinstance(value, bool)


def run_once(arm: str, ref: str, pair: int, cwd: str, cmd: list[str]) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    doc = None
    if proc.returncode == 0 and lines:
        try:
            doc = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if doc is None:
        why = (f"exit {proc.returncode}" if proc.returncode
               else "last stdout line is not JSON")
        raise RunFailed(
            f"{arm} run ({ref}) failed in pair {pair}: {why}\n"
            f"--- stderr tail ---\n{proc.stderr[-2000:]}"
        )
    return dict(flatten(doc))


def summary(values: list[float]) -> dict:
    q1, median, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"min": min(values), "median": median, "q1": q1, "q3": q3}


def report(shas: dict, order: list[str], runs: dict) -> dict:
    """The A/B record from ``runs[arm][pair]`` flattened documents."""
    every = runs["parent"] + runs["change"]
    names = sorted(set.intersection(*(
        {k for k, v in doc.items() if is_number(v)} for doc in every
    )))
    metrics = {}
    for name in names:
        parent = [doc[name] for doc in runs["parent"]]
        change = [doc[name] for doc in runs["change"]]
        metrics[name] = {
            "parent": summary(parent),
            "change": summary(change),
            "lower": sum(c < p for p, c in zip(parent, change)),
            "higher": sum(c > p for p, c in zip(parent, change)),
        }
    outputs = [
        {k: v for k, v in doc.items() if isinstance(v, (bool, str))}
        for doc in every
    ]
    return {
        **shas,
        "cpus": len(os.sched_getaffinity(0)),
        "pairs": len(order),
        "first_arm": order,
        "metrics": metrics,
        "outputs_equal": all(o == outputs[0] for o in outputs),
    }


def main(argv: list[str]) -> int:
    if len(argv) < 4 or argv[2] != "--":
        print(__doc__, file=sys.stderr)
        return 2
    refs = dict(zip(ARMS, argv[:2]))
    cmd = argv[3:]
    shas = {arm: git("rev-parse", "--verify", f"{ref}^{{commit}}")
            for arm, ref in refs.items()}
    base = tempfile.mkdtemp(prefix="s3f2-ab-")
    trees = {arm: os.path.join(base, arm) for arm in ARMS}
    try:
        for arm in ARMS:
            git("worktree", "add", "--detach", trees[arm], shas[arm])
        runs: dict[str, list[dict]] = {arm: [] for arm in ARMS}
        order = []
        for pair in range(PAIRS):
            arms = ARMS if pair % 2 == 0 else ARMS[::-1]
            order.append(arms[0])
            for arm in arms:
                runs[arm].append(run_once(arm, refs[arm], pair, trees[arm], cmd))
                print(f"# pair {pair} {arm} done", file=sys.stderr)
    except RunFailed as e:
        print(f"# A/B stopped: {e}", file=sys.stderr)
        return 1
    finally:
        for tree in trees.values():
            if os.path.isdir(tree):
                git("worktree", "remove", "--force", tree)
        shutil.rmtree(base, ignore_errors=True)
        git("worktree", "prune")
    print(json.dumps(report(shas, order, runs)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
