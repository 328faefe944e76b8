"""Self-tests of the benchmark at a tiny size.

    python3 -m pytest perfbench/tests -q

Each run is a real ``run.py`` process (a Spark session of its own), so the
module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gate  # noqa: E402
import run  # noqa: E402

DOCS = 40
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _survivors(token: str) -> list[int]:
    """Live processes whose environment carries ``token``."""
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if token.encode() in f.read():
                    found.append(int(d))
        except OSError:
            continue
    return found


def bench_run(workload: str, seed: int, trace: int, cwd: str = ROOT) -> dict:
    token = f"PERFBENCH_TEST_{uuid.uuid4().hex}"
    env = dict(os.environ, PERFBENCH_TEST_TOKEN=token)
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--docs", str(DOCS)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    out = {"rc": p.returncode, "stdout": p.stdout, "stderr": p.stderr,
           "survivors": _survivors(token)}
    lines = p.stdout.strip().splitlines()
    if lines and lines[-1].startswith("{"):
        out["result"] = json.loads(lines[-1])
    rec = [ln.rsplit("record ", 1)[1] for ln in p.stderr.splitlines() if "; record " in ln]
    if rec:
        with open(rec[-1]) as f:
            out["record"] = json.load(f)
    return out


@pytest.fixture(scope="module")
def runs():
    return {
        ("batch", 0): bench_run("batch", 11, 0),
        ("batch", 1): bench_run("batch", 12, 1),
        ("resumable", 0): bench_run("resumable", 11, 0),
        ("resumable", 1): bench_run("resumable", 12, 1),
    }


def test_runs_pass_the_gate(runs):
    for key, r in runs.items():
        assert r["rc"] == 0, (key, r["stderr"][-3000:])
        assert r["result"]["correct"] and r["result"]["failed"] == 0
        assert r["result"]["attempted"] >= DOCS


def test_every_metric_is_emitted_with_its_unit(runs):
    want = {0: {m["name"]: m["unit"] for m in SPEC["end_to_end"]},
            1: {m["name"]: m["unit"] for m in SPEC["per_layer"]}}
    for (_, trace), r in runs.items():
        got = {k: v["unit"] for k, v in r["result"]["metrics"].items()}
        assert got == want[trace]
        assert all(isinstance(v["value"], (int, float)) for v in r["result"]["metrics"].values())
    for name in ("setup_s", "docs_per_s", "call_s_p50"):
        assert runs[("batch", 0)]["result"]["metrics"][name]["value"] > 0
    # every reported-only end-to-end metric is printed on stderr too
    for name, _ in run.END_TO_END + run.REPORTED:
        assert f"perfbench: {name} " in runs[("batch", 0)]["stderr"]


def test_warmup_count_is_fixed(runs):
    for (workload, _), r in runs.items():
        rec = r["record"]
        warm = [c for c in rec["calls"] if c["phase"] == "warmup"]
        if workload == "batch":
            assert len(warm) == run.WORKLOADS["batch"]["warmup"]
        else:
            units = [u for u in rec["units"] if u["phase"] == "warmup"]
            assert len(units) == run.WORKLOADS["resumable"]["warmup"]
            assert len(rec["warmup_walls_s"]) == run.WORKLOADS["resumable"]["n_parts"]


def _count_block(rec: dict) -> tuple[list, list]:
    calls = [(c.get("kind"), c["jobs"], c["stages"]) for c in rec["calls"]
             if c["phase"] == "measured"]
    return calls, [(u["persisted_at_start"], u["persisted_at_end"]) for u in rec["units"]]


def test_count_block_repeats(runs):
    for workload in ("batch", "resumable"):
        calls0, units0 = _count_block(runs[(workload, 0)]["record"])
        calls1, units1 = _count_block(runs[(workload, 1)]["record"])
        assert calls0 and calls1
        n = min(len(calls0), len(calls1))
        if workload == "batch":
            assert calls0[:n] == calls1[:n]
        else:
            # enter and check calls repeat exactly; a bucket's job count moves
            # by a job or two with AQE's asynchronous stage submission (see
            # README, "Count block")
            fixed = [c for c in calls0[:n] + calls1[:n] if c[0] != "bucket"]
            assert [c for c in calls0[:n] if c[0] != "bucket"] == \
                [c for c in calls1[:n] if c[0] != "bucket"] and fixed
            jobs = [c[1] for c in calls0 + calls1 if c[0] == "bucket"]
            assert max(jobs) - min(jobs) <= 2
        assert units0 == units1[:len(units0)]
    for r in (runs[("resumable", 0)], runs[("resumable", 1)]):
        units = r["record"]["units"]
        assert units and all(u["persisted_at_start"] == 0 for u in units)
        assert all(u["persisted_at_end"] == run.WORKLOADS["resumable"]["n_parts"]
                   for u in units)
    plans = {w: [c["plan"] for c in runs[(w, 1)]["record"]["calls"] if "plan" in c]
             for w in ("batch", "resumable")}
    assert plans["batch"] and all(p == plans["batch"][0] for p in plans["batch"])
    assert plans["batch"][0]["exchanges"] == 1 and plans["batch"][0]["scans"] == 1
    assert plans["batch"][0]["routing"] == 1
    assert plans["resumable"] and all(p == plans["resumable"][0] for p in plans["resumable"])
    assert plans["resumable"][0]["routing"] == 2


def test_no_process_survives(runs):
    for key, r in runs.items():
        assert r["survivors"] == [], key


def test_corrupted_expected_row_fails_the_gate():
    import pyarrow as pa
    import pyarrow.parquet as pq

    seed = 9901
    stage = gate.ensure_staged(run.WORK, ROOT, seed, DOCS, len(os.sched_getaffinity(0)))
    try:
        path = os.path.join(stage, "expected", "part-00000.parquet")
        t = pq.read_table(path)
        md = t.column("markdown").to_pylist()
        md[0] = md[0] + " (corrupted)"
        t = t.set_column(t.schema.get_field_index("markdown"), "markdown",
                         pa.array(md, t.schema.field("markdown").type))
        pq.write_table(t, path)
        r = bench_run("batch", seed, 0)
        assert r["rc"] != 0
        assert r["result"]["correct"] is False and r["result"]["failed"] >= 1
        assert r["survivors"] == []
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_fails_without_the_package():
    bare = os.path.join(run.WORK, "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        r = bench_run("batch", 1, 0, cwd=bare)
        assert r["rc"] != 0 and "result" not in r
    finally:
        shutil.rmtree(bare, ignore_errors=True)
