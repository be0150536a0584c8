"""The bench's one-line-JSON stdout contract (r17 verdict ask #3).

The driver parses the bench's stdout for ONE JSON line. That contract
has been lost twice (BENCH_r13/r14 truncation; BENCH_r16's recorded
tail ended in an interleaved tripwire dump and the record never
parsed), so these tests pin it structurally: the emit path prints the
payload as the final stdout line and round-trips through json.loads,
and no other print in bench.py may write to stdout.
"""

import ast
import json
import os

from test_bench_tripwire import bench  # shared module loader


def test_emit_record_stdout_round_trips(tmp_path, capsys, monkeypatch):
    """json.loads of the LAST stdout line must reproduce the record —
    the exact operation the driver performs."""
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_JSON_OUT", str(tmp_path / "out.json")
    )
    out = {
        "metric": "headline suite wall-clock (min of 3 runs/query)",
        "value": 1.23,
        "unit": "sec",
        "queries": {"q1": 1.23},
        "sf": 0.1,
    }
    payload = bench.emit_record(out, argv=[])
    captured = capsys.readouterr()
    last_line = captured.out.strip().splitlines()[-1]
    assert json.loads(last_line) == out
    assert last_line == payload
    # the on-disk artifact of record carries the same payload
    assert json.loads((tmp_path / "out.json").read_text()) == out


def test_emit_record_json_out_flag_overrides_env(tmp_path, monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_JSON_OUT", str(tmp_path / "env.json")
    )
    flag_path = tmp_path / "flag.json"
    bench.emit_record({"value": 1}, argv=["bench.py", "--json-out",
                                          str(flag_path)])
    assert json.loads(flag_path.read_text()) == {"value": 1}
    assert not (tmp_path / "env.json").exists()


def test_emit_record_survives_readonly_json_out(tmp_path, capsys,
                                                monkeypatch):
    """A failing disk write must not cost the stdout line."""
    monkeypatch.setenv(
        "SPARK_GRAFT_BENCH_JSON_OUT",
        str(tmp_path / "no-such-dir" / "out.json"),
    )
    bench.emit_record({"value": 2}, argv=[])
    captured = capsys.readouterr()
    assert json.loads(captured.out.strip().splitlines()[-1]) == {"value": 2}


def test_only_emit_record_prints_to_stdout():
    """Source-level pin: every print() in bench.py outside emit_record
    must carry file=sys.stderr, so a merged stdout+stderr pipe can
    never interleave a diagnostic into the JSON line."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(root, "bench.py")).read()
    tree = ast.parse(src)
    stdout_prints = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "print"):
            continue
        to_stderr = any(
            kw.arg == "file"
            and isinstance(kw.value, ast.Attribute)
            and kw.value.attr == "stderr"
            for kw in node.keywords
        )
        if not to_stderr:
            stdout_prints.append(node.lineno)
    # exactly one stdout print: emit_record's payload line
    assert len(stdout_prints) == 1, (
        f"stdout prints at lines {stdout_prints}; all diagnostics must "
        f"go to stderr"
    )
    emit_fn = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "emit_record"
    )
    assert emit_fn.lineno <= stdout_prints[0] <= emit_fn.end_lineno
