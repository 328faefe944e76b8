"""Extraction benchmark for docproc_spark: one workload per run, one Python
process, ``local[nproc // 2]``, one caller in a closed loop.

    python3 perfbench/run.py --workload batch --seed 7 --seconds 5 --trace 0

Run it from the repository root. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the gated
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every end-to-end metric, gated or only reported, is also
printed by name and unit on stderr, and the run record (every call's wall,
steal and counts) is written under ``.perfbench_work/records/``. See
README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Sizes and warm-up counts are fixed so that every run measures the same
# point of the JIT curve; README.md gives the sizing evidence.
WORKLOADS = {
    # one extract_table -> parquet write per call
    "batch": {"n_docs": 2000, "warmup": 3, "min_calls": 5},
    # one unit = crash after `fail_after` buckets, then resume; warm-up is
    # one full unit
    "resumable": {"n_docs": 500, "n_parts": 2, "fail_after": 1, "warmup": 1,
                  "min_units": 1},
}

END_TO_END = [("setup_s", "s"), ("docs_per_s", "docs/s"), ("call_s_p50", "s")]
REPORTED = [("call_s_tail", "s"), ("call_samples", "count"), ("failed_frac", "ratio"),
            ("peak_rss_mb", "MB"), ("steal_frac", "ratio"), ("busy_frac", "ratio")]
PER_LAYER = [
    ("extract.construct_s", "s"), ("extract.probe_s", "s"), ("extract.plan_s", "s"),
    ("driver.gap_s", "s"),
    ("plan.exchanges", "count"), ("plan.scans", "count"), ("plan.python_evals", "count"),
    ("plan.inmemory", "count"), ("plan.routing", "count"),
    ("jobs_per_call", "count"), ("stages_per_call", "count"),
    ("map.wall_s", "s"), ("map.cpu_s", "s"), ("map.gc_s", "s"), ("map.task_skew", "ratio"),
    ("python_udf.run_s", "s"), ("python_udf.sent_mb", "MB"),
    ("ablate.scan_explode_s", "s"), ("ablate.html_s", "s"), ("ablate.sanitize_s", "s"),
    ("ablate.boilerplate_s", "s"),
    ("reduce.wall_s", "s"), ("reduce.cpu_s", "s"), ("reduce.gc_s", "s"),
    ("reduce.task_skew", "ratio"),
    ("shuffle.write_mb", "MB"), ("shuffle.fetch_wait_s", "s"), ("spill_mb", "MB"),
    ("salted.stages", "count"), ("salted.wall_s", "s"), ("cache.persisted_rdds", "count"),
    ("lineage.completed_parts_s", "s"), ("lineage.check_s", "s"), ("lineage.append_s", "s"),
    ("write.wall_s", "s"), ("write.commit_s", "s"),
    ("proc.cpu_s", "s"), ("tasks.failed", "count"),
    ("trace.overhead_s", "s"), ("trace.coverage", "ratio"),
]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail_stat(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; with
    fewer than 11 samples no percentile qualifies and the maximum is given."""
    n = len(values)
    if n < 11:
        return max(values), f"max of n={n} (no percentile has 10 samples beyond it)"
    pct = int(100 * (1 - 10 / n))
    return statistics.quantiles(values, n=100)[pct - 1], f"p{pct} of n={n}"


def source_id() -> dict:
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "docproc_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(os.path.relpath(os.path.join(d, f), pkg).encode() + fh.read())
    return {"git_commit": commit, "package_sha256": h.hexdigest()}


class Bench:
    """One run: session, warm-up, measured window, optional trace."""

    def __init__(self, workload: str, cfg: dict, stage: str, seconds: float,
                 traced: bool, cores: int):
        self.workload, self.cfg, self.seconds, self.traced = workload, cfg, seconds, traced
        self.cores = cores
        self.corpus = os.path.join(stage, "corpus")
        self.out_root = os.path.join(WORK, "out", f"{workload}-{os.getpid()}")
        self.calls: list[dict] = []   # every call, warm-up included
        self.units: list[dict] = []   # resumable only
        self.peak_rss_mb = 0.0
        self.spark = None

    # -- session -----------------------------------------------------------
    def start(self) -> None:
        from layers import tree_usage

        local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ.update(PYTHONPATH=ROOT, SPARK_LOCAL_DIRS=local, TMPDIR=tmp)
        self.t_setup0 = time.perf_counter()
        from docproc_spark.facade import DocprocSpark
        from docproc_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                # keep every file the JVM writes inside the checkout
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            },
        )
        self.session_s = time.perf_counter() - self.t_setup0
        self.sc = self.spark.sparkContext
        self.eng = DocprocSpark(self.spark)
        self.java = self.sc._jvm.System.getProperty("java.version")
        self.peak_rss_mb = tree_usage(os.getpid())[1]

    def close(self) -> None:
        """Stop Spark and its JVM, then wait until every process the run
        started (JVM, Python workers) has exited; kill any that linger."""
        from pyspark import SparkContext

        from layers import descendants

        tree = [(p, _starttime(p)) for p in descendants(os.getpid())]
        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            # the gateway JVM exits when its stdin closes
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            _await_exit(tree)
            self.spark = None

    # -- one call ----------------------------------------------------------
    def _begin(self, name: str, phase: str) -> dict:
        from layers import cpu_sample, tree_usage

        self.sc.setJobGroup(name, name)
        call = {"name": name, "phase": phase, "traced": False}
        call["cpu0"], call["proc0"] = cpu_sample(), tree_usage(os.getpid())[0]
        return call

    def _end(self, call: dict) -> None:
        from layers import cpu_sample, steal_busy, tree_usage

        proc1, rss = tree_usage(os.getpid())
        call["steal"], call["busy"] = steal_busy(call.pop("cpu0"), cpu_sample())
        call["proc_cpu_s"] = proc1 - call.pop("proc0")
        self.peak_rss_mb = max(self.peak_rss_mb, rss)
        self.calls.append(call)

    def batch_call(self, k: int, phase: str, traced: bool) -> dict:
        from layers import plan_counts

        call = self._begin(f"perfbench-{k:03d}", phase)
        out = os.path.join(self.out_root, f"call-{k:03d}")
        p0, call["t0"] = time.perf_counter(), time.time()
        df = self.eng.extract_table(self.spark.read.parquet(self.corpus))
        call["t1"] = time.time()
        if traced:
            call["plan"] = plan_counts(df)
        call["t2"] = time.time()
        df.write.parquet(out)
        call["t3"] = time.time()
        call["wall_s"] = time.perf_counter() - p0
        call.update(traced=traced, out=out, docs=self.cfg["n_docs"])
        self._end(call)
        if phase == "measured" and not traced:
            call["plan"] = plan_counts(df)  # after the call, outside its timing
        return call

    def resumable_unit(self, u: int, phase: str, traced: bool) -> dict:
        """clearCache, fresh directories, crash after ``fail_after`` buckets,
        resume. Buckets are timed between the wrapped transform calls."""
        from layers import plan_counts
        from docproc_spark.sources.lineage import run_with_lineage

        self.spark.catalog.clearCache()
        unit = {"unit": u, "phase": phase, "traced": traced,
                "persisted_at_start": self.sc._jsc.getPersistentRDDs().size()}
        base = os.path.join(self.out_root, f"unit-{u:03d}")
        unit["out"], unit["lineage"] = os.path.join(base, "out"), os.path.join(base, "lineage")
        open_call: list[dict] = []

        def close_open() -> None:
            if open_call:
                call = open_call.pop()
                call["t3"] = time.time()
                call["wall_s"] = time.perf_counter() - call.pop("p0")
                self._end(call)

        def transform(df):
            close_open()
            # run_with_lineage's first transform call is its column check on
            # an empty frame; it ends the enter span (the lineage read)
            kind = "bucket" if enter_open[0] is None else "check"
            if kind == "check":
                enter = enter_open[0]
                enter["wall_s"] = time.perf_counter() - enter.pop("p0")
                self._end(enter)
                enter_open[0] = None
            call = self._begin(f"perfbench-u{u:03d}-{len(self.calls):04d}", phase)
            # a traced unit traces every other bucket; the rest give the
            # untraced median that trace.overhead_s is measured against
            n_buckets = sum(c.get("unit") == u and c.get("kind") == "bucket" for c in self.calls)
            call.update(kind=kind, unit=u,
                        traced=traced and kind == "bucket" and n_buckets % 2 == 0)
            call["p0"], call["t0"] = time.perf_counter(), time.time()
            open_call.append(call)
            result = self.eng.extract_table(df)
            call["t1"] = time.time()
            if call["traced"]:
                call["plan"] = plan_counts(result)
            call["t2"] = time.time()
            return result

        p_unit = time.perf_counter()
        for fail_after in (self.cfg["fail_after"], None):
            enter = self._begin(f"perfbench-u{u:03d}-{len(self.calls):04d}", phase)
            enter.update(kind="enter", unit=u, p0=time.perf_counter())
            enter_open = [enter]
            try:
                run_with_lineage(self.spark.read.parquet(self.corpus), unit["out"],
                                 unit["lineage"], transform, n_parts=self.cfg["n_parts"],
                                 fail_after=fail_after)
            except RuntimeError as e:
                if fail_after is None or "simulated failure" not in str(e):
                    raise
            close_open()
        unit["wall_s"] = time.perf_counter() - p_unit
        unit["persisted_at_end"] = self.sc._jsc.getPersistentRDDs().size()
        unit["docs"] = self.cfg["n_docs"]
        self.units.append(unit)
        return unit

    # -- the run -----------------------------------------------------------
    def run(self) -> None:
        if self.workload == "batch":
            for k in range(self.cfg["warmup"]):
                c = self.batch_call(k, "warmup", traced=False)
                log(f"warm-up call {k}: {c['wall_s']:.2f} s")
            self.setup_s = time.perf_counter() - self.t_setup0
            k, t_win, n = self.cfg["warmup"], time.perf_counter(), 0
            while n < self.cfg["min_calls"] or time.perf_counter() - t_win < self.seconds:
                # the traced run alternates traced and untraced calls
                c = self.batch_call(k, "measured", traced=self.traced and n % 2 == 0)
                log(f"measured call {k}: {c['wall_s']:.2f} s")
                k, n = k + 1, n + 1
            if self.traced:
                self.ablations = self.run_ablations()
        else:
            for u in range(self.cfg["warmup"]):
                unit = self.resumable_unit(u, "warmup", traced=False)
                log(f"warm-up unit {u}: {unit['wall_s']:.2f} s")
            self.setup_s = time.perf_counter() - self.t_setup0
            u, t_win, n = self.cfg["warmup"], time.perf_counter(), 0
            while n < self.cfg["min_units"] or time.perf_counter() - t_win < self.seconds:
                unit = self.resumable_unit(u, "measured", traced=self.traced)
                log(f"measured unit {u}: {unit['wall_s']:.2f} s")
                u, n = u + 1, n + 1
        self.collect_jobs()

    def collect_jobs(self) -> None:
        """Jobs and stages of every measured call, from the status store."""
        from layers import call_layers, group_jobs, python_udf_totals

        for call in self.calls:
            if call["phase"] != "measured":
                continue
            jobs = group_jobs(self.sc, call["name"])
            call["jobs"] = len(jobs)
            call["stages"] = sum(not s["skipped"] for j in jobs for s in j["stages"])
            if call.get("traced"):
                call["layers"] = call_layers(call, jobs, lineage_append=call.get("kind") == "bucket")
                ids = {j["id"] for j in jobs}
                call["layers"]["python_run_s"], call["layers"]["python_sent_mb"] = (
                    python_udf_totals(self.spark, ids))
                call["job_detail"] = jobs

    def run_ablations(self) -> dict:
        """Noop-sink prefixes of the map stage, each timed once."""
        from pyspark.sql import functions as F

        from docproc_spark.pipeline import (
            boilerplate_kind_col,
            explode_spans,
            sanitize_hybrid_col,
            with_derived_spans,
        )

        self.sc.setJobGroup("perfbench-ablate", "ablations")
        docs = self.spark.read.parquet(self.corpus)
        derived = explode_spans(with_derived_spans(docs))
        sanitized = derived.withColumn("san", sanitize_hybrid_col(F.col("text")))
        steps = [
            ("scan_explode", explode_spans(docs)),
            ("html", derived),
            ("sanitize", sanitized),
            ("boilerplate", sanitized.withColumn("bp", boilerplate_kind_col(F.col("san")))),
        ]
        walls, prev, out = {}, 0.0, {}
        for name, df in steps:
            self.sc.setJobGroup(f"perfbench-ablate-{name}", name)
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls[name] = time.perf_counter() - t
            out[name] = walls[name] - prev
            prev = walls[name]
        return {"walls": walls, "deltas": out}


def _starttime(pid: int) -> str:
    """Start time of a live process ('' once it has exited or is a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return ""
    return "" if rest[0] == "Z" else rest[19]


def _await_exit(tree: list[tuple[int, str]], timeout: float = 30.0) -> None:
    """Wait for processes (possibly reparented away from us) to exit."""
    deadline = time.monotonic() + timeout
    alive = [(p, st) for p, st in tree if st and _starttime(p) == st]
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [(p, st) for p, st in alive if _starttime(p) == st]
    for p, _ in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive and time.monotonic() < deadline:
        alive = [(p, st) for p, st in alive if _starttime(p) == st]
        time.sleep(0.1)
    if alive:
        log(f"processes still alive after SIGKILL: {[p for p, _ in alive]}")


def summarize(b: Bench, gate_result: dict) -> tuple[dict, dict, dict, str]:
    """(end-to-end metrics, reported-only metrics, per-layer metrics, the
    tail statistic's label)."""
    from layers import median

    if b.workload == "batch":
        samples = [c["wall_s"] for c in b.calls if c["phase"] == "measured" and not c["traced"]]
        measured = [c for c in b.calls if c["phase"] == "measured"]
        docs = sum(c["docs"] for c in measured)
        window = sum(c["wall_s"] for c in measured)
        traced = [c for c in measured if c["traced"]]
    else:
        units = [u for u in b.units if u["phase"] == "measured"]
        buckets = [c for c in b.calls if c["phase"] == "measured" and c.get("kind") == "bucket"]
        samples = [c["wall_s"] for c in buckets if not c["traced"]]
        measured = [c for c in b.calls if c["phase"] == "measured"]
        docs = sum(u["docs"] for u in units)
        window = sum(u["wall_s"] for u in units)
        traced = [c for c in buckets if c["traced"]]
    untraced_all = samples
    # a traced run's end-to-end figures come from its untraced calls
    samples = samples or [c["wall_s"] for c in traced]
    tail, tail_label = tail_stat(samples)
    e2e = {"setup_s": b.setup_s, "docs_per_s": docs / window,
           "call_s_p50": statistics.median(samples)}
    reported = {
        "call_s_tail": tail, "call_samples": len(samples),
        "failed_frac": gate_result["failed"] / gate_result["attempted"],
        "peak_rss_mb": b.peak_rss_mb,
        "steal_frac": median([c["steal"] for c in measured]),
        "busy_frac": median([c["busy"] for c in measured]),
    }

    lay = [c["layers"] for c in traced if "layers" in c]
    plans = [c["plan"] for c in traced if "plan" in c]

    def m(key, sub=None):
        return median([(x[key][sub] if sub else x[key]) for x in lay])

    layer = {
        "extract.construct_s": m("construct_s"), "extract.probe_s": m("probe_s"),
        "extract.plan_s": m("plan_s"), "driver.gap_s": m("gap_s"),
        "jobs_per_call": median([c["jobs"] for c in measured if c.get("kind", "bucket") == "bucket"]),
        "stages_per_call": median([c["stages"] for c in measured
                                   if c.get("kind", "bucket") == "bucket"]),
        "map.wall_s": m("map", "wall_s"), "map.cpu_s": m("map", "cpu_s"),
        "map.gc_s": m("map", "gc_s"), "map.task_skew": m("map", "task_skew"),
        "python_udf.run_s": m("python_run_s"), "python_udf.sent_mb": m("python_sent_mb"),
        "reduce.wall_s": m("reduce", "wall_s"), "reduce.cpu_s": m("reduce", "cpu_s"),
        "reduce.gc_s": m("reduce", "gc_s"), "reduce.task_skew": m("reduce", "task_skew"),
        "shuffle.write_mb": m("shuffle_write_mb"), "shuffle.fetch_wait_s": m("fetch_wait_s"),
        "spill_mb": m("spill_mb"), "salted.stages": m("salted_stages"),
        "salted.wall_s": m("salted_wall_s"),
        "cache.persisted_rdds": median([u["persisted_at_end"] for u in b.units
                                        if u["phase"] == "measured"]),
        "lineage.append_s": m("lineage_append_s"),
        "lineage.completed_parts_s": median([c["wall_s"] for c in measured
                                             if c.get("kind") == "enter"]),
        "lineage.check_s": median([c["wall_s"] for c in measured if c.get("kind") == "check"]),
        "write.wall_s": m("write_wall_s"), "write.commit_s": m("write_commit_s"),
        "proc.cpu_s": median([c["proc_cpu_s"] for c in traced]),
        "tasks.failed": sum(x["tasks_failed"] for x in lay),
        "trace.overhead_s": (median([c["wall_s"] for c in traced]) - median(untraced_all)
                             if traced and untraced_all else 0.0),
        "trace.coverage": m("coverage"),
    }
    for key in ("exchanges", "scans", "python_evals", "inmemory", "routing"):
        layer[f"plan.{key}"] = median([p[key] for p in plans])
    abl = getattr(b, "ablations", {"deltas": {}})["deltas"]
    for key in ("scan_explode", "html", "sanitize", "boilerplate"):
        layer[f"ablate.{key}_s"] = abl.get(key, 0.0)
    return e2e, reported, layer, tail_label


def check_outputs(b: Bench, want) -> dict:
    """The oracle gate over every measured call (batch) or unit (resumable)."""
    import gate
    import pyarrow.dataset as ds

    attempted = failed = 0
    bad: list[str] = []
    if b.workload == "batch":
        outs = [(c["out"], None) for c in b.calls if c["phase"] == "measured"]
    else:
        outs = [(u["out"], u["lineage"]) for u in b.units if u["phase"] == "measured"]
    for out, lineage in outs:
        attempted += want.num_rows
        wrong = gate.compare(gate.read_output(out), want)
        if lineage is not None:
            parts = ds.dataset(lineage).to_table(columns=["part"]).column("part").to_pylist()
            if sorted(parts) != list(range(b.cfg["n_parts"])):
                wrong = [r["doc_id"] for r in want.select(["doc_id"]).to_pylist()]
                bad.append(f"lineage parts {sorted(parts)}")
        failed += len(wrong)
        bad.extend(wrong[:5])
    return {"attempted": attempted, "failed": failed, "examples": bad[:10]}


def parse_args(argv):
    ap = argparse.ArgumentParser(description="docproc_spark extraction benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="override the workload's document count (self-tests only)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    a = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "docproc_spark", "__init__.py")):
        log(f"no docproc_spark package under {ROOT}; run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    import gate

    cfg = dict(WORKLOADS[a.workload])
    if a.docs:
        cfg["n_docs"] = a.docs
    nproc = len(os.sched_getaffinity(0))
    # Spark gets half the CPUs as task slots. With a slot per CPU, the Python
    # UDF workers and the JIT and GC threads oversubscribe the host, and one
    # busy or stolen CPU stalls every stage. The call wall is about the same
    # either way, since fixed per-call cost dominates it.
    cores = max(1, nproc // 2)
    load0 = os.getloadavg()
    t = time.perf_counter()
    stage = gate.ensure_staged(WORK, ROOT, a.seed, cfg["n_docs"], nproc)
    want = gate.load_expected(stage)
    stage_s = time.perf_counter() - t
    b = Bench(a.workload, cfg, stage, a.seconds, bool(a.trace), cores)
    try:
        b.start()
        b.run()
    finally:
        b.close()
    g = check_outputs(b, want)
    shutil.rmtree(b.out_root, ignore_errors=True)
    e2e, reported, layer, tail_label = summarize(b, g)
    correct = g["failed"] == 0
    units = dict(END_TO_END + REPORTED + PER_LAYER)
    metrics = e2e if not a.trace else layer
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "config": cfg, "nproc": nproc, "cores": cores,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        "versions": {"python": platform.python_version(),
                     "pyspark": __import__("pyspark").__version__, "java": b.java,
                     "pyarrow": __import__("pyarrow").__version__},
        "source": source_id(), "stage_s": stage_s, "session_s": b.session_s,
        "warmup_walls_s": [c["wall_s"] for c in b.calls if c["phase"] == "warmup"
                           and c.get("kind", "bucket") == "bucket"],
        "measured_walls_s": [c["wall_s"] for c in b.calls if c["phase"] == "measured"
                             and c.get("kind", "bucket") == "bucket"],
        "calls": [{k: v for k, v in c.items() if k != "out"} for c in b.calls],
        "units": b.units, "ablations": getattr(b, "ablations", None),
        "tail": tail_label, "gate": g,
        "end_to_end": e2e, "reported": reported, "per_layer": layer,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    rec_path = os.path.join(WORK, "records",
                            f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for name, value in {**e2e, **reported, **(layer if a.trace else {})}.items():
        log(f"{name:28s} {value:12.4f} {units[name]}")
    log(f"gate: {g['failed']}/{g['attempted']} documents failed; record {rec_path}")
    print(json.dumps({
        "correct": correct, "attempted": g["attempted"], "failed": g["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
