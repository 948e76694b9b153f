"""Smoke test of the benchmark itself, on tiny corpora.

    python -m pytest perfbench/test_smoke.py -q
"""

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.02"

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# Runs a command as a child subreaper: every process the command leaves
# behind, alive or exited but unreaped, is re-parented to this wrapper,
# which names them on stderr, kills and reaps them.
_REAPER = r"""
import ctypes, glob, os, signal, subprocess, sys
ctypes.CDLL(None).prctl(36, 1)  # PR_SET_CHILD_SUBREAPER
rc = subprocess.call(sys.argv[1:])
left = []
for stat in glob.glob("/proc/[0-9]*/stat"):
    try:
        with open(stat) as f:
            if int(f.read().rsplit(")", 1)[1].split()[1]) == os.getpid():
                left.append(int(stat.split("/")[2]))
    except OSError:
        pass
for pid in left:
    os.kill(pid, signal.SIGKILL)
    os.waitpid(pid, 0)
print(f"left behind: {left}", file=sys.stderr)
sys.exit(rc)
"""


def _run(workload: str, trace: int):
    proc = subprocess.run(
        [sys.executable, "-c", _REAPER,
         sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the run stops and waits for every process it starts
    assert proc.stderr.splitlines()[-1] == "left behind: []", proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1]), proc.stderr.splitlines()


def _assert_metrics(result: dict, spec: list) -> None:
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_end_to_end_metrics_printed_with_units():
    text, result, _ = _run("interleaved_sf0.1", 0)
    _assert_metrics(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"] + [{"name": "error_rate", "unit": "ratio"}]:
        assert any(ln.split()[:1] == [m["name"]] and ln.split()[-1] == m["unit"]
                   for ln in text), m["name"]
    assert not glob.glob(os.path.join(ROOT, ".perfbench-*"))


def test_layer_table_produced():
    text, result, err = _run("tables_visual", 1)
    _assert_metrics(result, SPEC["per_layer"])
    assert any(ln.startswith("per-layer (") for ln in text)
    (spans,) = [json.loads(ln[len("spans "):]) for ln in err if ln.startswith("spans ")]
    names = {s["name"] for s in spans}
    assert {"run", "prefix.kernel_stage", "kernel.visual_forward_s"} <= names
    assert all(s["end"] >= s["start"] for s in spans)
    assert result["metrics"]["kernel.visual_forward_s"]["value"] > 0
    assert result["metrics"]["extract.kernel_tasks"]["value"] >= 1
    assert not glob.glob(os.path.join(ROOT, ".perfbench-*"))


def test_injected_span_mismatch_raises_error_rate():
    sys.path[:0] = [HERE, ROOT]
    import run

    b = run.Bench("interleaved_sf0.1", 5, float(SCALE))
    try:
        b.prepare()
        doc = next(d for d, spans in b.expected.items() if len(spans) > 1)
        kind, text, ref, offset = b.expected[doc][0]
        b.expected[doc][0] = (kind, text + " (injected)", ref, offset)
        metrics = run.end_to_end(b, 1)
    finally:
        b.close()
    assert metrics["error_rate"][0] > 0
    assert b.failed == 1  # only the span-for-span check sees a changed text
    assert not os.path.exists(b.tmp)
