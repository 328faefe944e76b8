"""Measurements taken from outside the package: host counters, the
process tree, Spark's status stores and the executed plan.

Nothing here changes what a call does. Reading the status stores happens
after a call has returned; only ``plan_counts`` (forcing the executed plan)
runs inside a traced call, and the traced run reports its cost as
``trace.overhead_s``.
"""

from __future__ import annotations

import os
import re
import statistics

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# host and process tree
# ---------------------------------------------------------------------------
def cpu_sample() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[3] + v[4], v[7]


def steal_busy(a: tuple, b: tuple) -> tuple[float, float]:
    """Steal and busy fractions of all CPUs between two ``cpu_sample``s."""
    dt = b[0] - a[0]
    if dt <= 0:
        return 0.0, 0.0
    steal = (b[2] - a[2]) / dt
    return steal, (dt - (b[1] - a[1]) - (b[2] - a[2])) / dt


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        out[int(d)] = (int(rest[1]), ticks / _CLK, int(rest[21]))
    return out


def descendants(pid: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for p, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_usage(pid: int) -> tuple[float, float]:
    """(CPU seconds, resident MB) of ``pid`` and every descendant."""
    table = _proc_table()
    pids = [pid, *descendants(pid, table)]
    cpu = sum(table[p][1] for p in pids if p in table)
    rss = sum(table[p][2] for p in pids if p in table) * _PAGE / 1e6
    return cpu, rss


# ---------------------------------------------------------------------------
# executed plan
# ---------------------------------------------------------------------------
_PLAN_NODE = re.compile(r"^[\s+\-:|]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")


def plan_counts(df) -> dict[str, int]:
    """Node counts of ``df``'s executed plan (forces physical planning).

    Nodes of a cached relation's own plan are not counted. ``routing`` is
    1 for the probed single-branch plan and 2 for the two-branch union of
    the mega-document router (the single-branch plan has no Union).
    """
    text = df._jdf.queryExecution().executedPlan().toString()
    nodes, skip_below = [], None
    for m in map(_PLAN_NODE.match, text.splitlines()):
        if not m:
            continue
        depth = m.end(0) - len(m.group(1))
        if skip_below is not None and depth > skip_below:
            continue  # the plan that fills a cache, printed under its relation
        skip_below = depth if m.group(1) == "InMemoryRelation" else None
        nodes.append(m.group(1))
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in nodes),
        "scans": sum(n in ("FileScan", "Scan", "BatchScan") for n in nodes),
        "python_evals": sum("Python" in n or "InPandas" in n for n in nodes),
        "inmemory": sum(n == "InMemoryTableScan" for n in nodes),
        "routing": 2 if "Union" in nodes else 1,
    }


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------
def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def group_jobs(sc, group: str) -> list[dict]:
    """Jobs of one job group, in submission order, each with its stages.

    Times are epoch seconds; stage metrics come from the status store's
    last attempt of each stage. Skipped stages (shuffle output reused) are
    kept with ``skipped=True`` and no times.
    """
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        stages = []
        for sid in _seq(jd.stageIds()):
            sd = store.lastStageAttempt(sid)
            skipped = sd.status().toString() == "SKIPPED"
            skew = None
            if not skipped:
                ts = store.taskSummary(sid, sd.attemptId(), quant)
                if ts.isDefined():
                    run = ts.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    skew = mx / med if med > 0 else None
            stages.append({
                "id": sid, "skipped": skipped, "tasks": sd.numTasks(),
                "failed_tasks": sd.numFailedTasks(),
                "start": _opt_s(sd.submissionTime()), "end": _opt_s(sd.completionTime()),
                "run_s": sd.executorRunTime() / 1e3, "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 1e6,
                "shuffle_read_mb": sd.shuffleReadBytes() / 1e6,
                "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6,
                "output_mb": sd.outputBytes() / 1e6,
                "task_skew": skew,
            })
        jobs.append({
            "id": jid, "name": jd.name(), "status": jd.status().toString(),
            "start": _opt_s(jd.submissionTime()), "end": _opt_s(jd.completionTime()),
            "stages": stages,
        })
    return jobs


_SIZE = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6, "GiB": 1024**3 / 1e6}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric ('2.5 s', or 'total (…)\\n4.7 s (…)')."""
    num, unit = text.strip().splitlines()[-1].split()[:2]
    return float(num) * _SIZE.get(unit, _TIME.get(unit, 1.0))


def python_udf_totals(spark, job_ids: set[int]) -> tuple[float, float]:
    """(seconds running Python workers, MB sent to them) over the SQL
    executions that ran any of ``job_ids``. Values come from the SQL status
    store's formatted metrics, so they carry one decimal of precision."""
    store = spark._jsparkSession.sharedState().statusStore()
    run_s = sent_mb = 0.0
    for ex in _seq(store.executionsList()):
        jobs = ex.jobs()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        values = store.executionMetrics(ex.executionId())
        for m in _seq(ex.metrics()):
            if m.name() not in ("time to run Python workers", "data sent to Python workers"):
                continue
            v = values.get(m.accumulatorId())
            if not v.isDefined():
                continue
            if m.name().startswith("time"):
                run_s += _metric_total(v.get())
            else:
                sent_mb += _metric_total(v.get())
    return run_s, sent_mb


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def call_layers(call: dict, jobs: list[dict], lineage_append: bool) -> dict:
    """Per-layer breakdown of one traced call.

    ``call`` holds the benchmark's own clock marks (epoch seconds): ``t0``
    call start, ``t1`` construct done, ``t2`` executed plan forced, ``t3``
    call end. The stage spans are the call span's children; the write phase
    is [t2, t3]. With ``lineage_append`` the call's last job is the lineage
    row append, which closes the data write.
    """
    t0, t1, t2, t3 = call["t0"], call["t1"], call["t2"], call["t3"]
    probe = [j for j in jobs if "docproc_spark/pipeline.py" in j["name"]]
    write_jobs = [j for j in jobs if j["start"] is not None and j["start"] >= t2]
    append = write_jobs.pop() if lineage_append and write_jobs else None
    stages = [s for j in write_jobs for s in j["stages"] if not s["skipped"]]
    ran = [s for j in jobs for s in j["stages"] if not s["skipped"]]
    shuffling = sorted((s for s in stages if s["shuffle_write_mb"] > 0),
                       key=lambda s: s["run_s"])
    main_map = shuffling[-1:]
    reduce_ = [s for s in stages if s["shuffle_write_mb"] == 0 and s["shuffle_read_mb"] > 0]
    other = [s for s in stages if s not in main_map and s not in reduce_]
    data_end = max((s["end"] for s in stages if s["end"]), default=t2)
    write_end = append["start"] if append else t3
    intervals = [(s["start"], s["end"]) for s in stages + (append["stages"] if append else [])
                 if not s["skipped"] and s["start"] and s["end"]]

    def agg(group: list[dict]) -> dict:
        skews = [s["task_skew"] for s in group if s["task_skew"] is not None]
        return {
            "wall_s": sum(s["end"] - s["start"] for s in group if s["start"] and s["end"]),
            "cpu_s": sum(s["cpu_s"] for s in group),
            "gc_s": sum(s["gc_s"] for s in group),
            "task_skew": max(skews, default=0.0),
        }

    gap = (t3 - t2) - _union_s(intervals, t2, t3)
    stage_walls = sum(b - a for a, b in intervals)
    wall = t3 - t0
    return {
        "wall_s": wall,
        "construct_s": t1 - t0,
        "probe_s": sum(j["end"] - j["start"] for j in probe if j["start"] and j["end"]),
        "plan_s": t2 - t1,
        "gap_s": gap,
        "coverage": (stage_walls + (t1 - t0) + (t2 - t1) + gap) / wall if wall > 0 else 0.0,
        "map": agg(main_map),
        "reduce": agg(reduce_),
        "salted_stages": len(other),
        "salted_wall_s": agg(other)["wall_s"],
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in ran),
        "fetch_wait_s": sum(s["fetch_wait_s"] for s in ran),
        "spill_mb": sum(s["spill_mb"] for s in ran),
        "tasks_failed": sum(s["failed_tasks"] for s in ran),
        "write_wall_s": write_end - t2,
        "write_commit_s": max(write_end - data_end, 0.0),
        "lineage_append_s": (t3 - write_end) if append else 0.0,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
