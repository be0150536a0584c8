"""tools/ab.py, the interleaved A/B instrument, on a throwaway git repo
whose commits each hold a script that prints a known JSON line."""

import json
import os
import subprocess
import sys

import pytest

AB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "ab.py"
)
GIT_ENV = {
    **os.environ,
    "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@example.com",
    "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@example.com",
}


def _git(repo, *args):
    return subprocess.run(
        ["git", *args], cwd=repo, env=GIT_ENV, check=True,
        capture_output=True, text=True,
    ).stdout.strip()


def _commit(repo, body):
    (repo / "m.py").write_text(body)
    _git(repo, "add", "m.py")
    _git(repo, "commit", "-q", "-m", "m")
    return _git(repo, "rev-parse", "HEAD")


def _ab(repo, parent, change):
    return subprocess.run(
        [sys.executable, AB, parent, change, "--", sys.executable, "m.py"],
        cwd=repo, env=GIT_ENV, capture_output=True, text=True, timeout=120,
    )


@pytest.fixture
def repo(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    _git(repo, "init", "-q")
    return repo


def test_ab_interleaves_ten_pairs_and_stops_on_a_failing_run(repo, tmp_path):
    # the parent's k-th run prints t = 2 + k, so its quartiles are known
    counter = tmp_path / "runs"
    counter.write_text("0")
    slow = _commit(repo, (
        "import json, pathlib\n"
        f"c = pathlib.Path({str(counter)!r})\n"
        "k = int(c.read_text())\n"
        "c.write_text(str(k + 1))\n"
        'print("# noise")\n'
        'print(json.dumps({"t": 2.0 + k, "ok": True}))\n'
    ))
    fast = _commit(repo, 'print(\'{"t": 1.0, "ok": true}\')\n')
    proc = _ab(repo, slow, fast)
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert (out["parent"], out["change"]) == (slow, fast)
    assert out["pairs"] == 10
    assert out["first_arm"] == ["parent", "change"] * 5
    assert out["cpus"] == len(os.sched_getaffinity(0))
    t = out["metrics"]["t"]
    assert (t["lower"], t["higher"]) == (10, 0)
    assert t["parent"] == {"min": 2.0, "median": 6.5, "q1": 4.25, "q3": 8.75}
    assert t["change"] == {"min": 1.0, "median": 1.0, "q1": 1.0, "q3": 1.0}
    assert out["outputs_equal"] is True
    # both worktrees are gone: only the main checkout is listed
    assert len(_git(repo, "worktree", "list").splitlines()) == 1

    # a run that fails stops the A/B and is named: arm, pair, exit code
    bad = _commit(repo, 'import sys\nsys.stderr.write("boom\\n")\nsys.exit(1)\n')
    proc = _ab(repo, fast, bad)
    assert proc.returncode != 0
    assert "change run" in proc.stderr and "pair 0" in proc.stderr
    assert "exit 1" in proc.stderr and "boom" in proc.stderr
    assert len(_git(repo, "worktree", "list").splitlines()) == 1


def test_ab_reports_unequal_outputs(repo):
    one = _commit(repo, 'print(\'{"t": 1.0, "ok": true}\')\n')
    other = _commit(repo, 'print(\'{"t": 1.0, "ok": false}\')\n')
    proc = _ab(repo, one, other)
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["outputs_equal"] is False
    assert out["metrics"]["t"]["lower"] == out["metrics"]["t"]["higher"] == 0
