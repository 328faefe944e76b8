"""Staged inputs and the oracle gate.

The corpus and the oracle's answers are made once per (seed, n_docs) by
``stage.py`` children, one per shard, and cached in the work directory.
Every output document of every measured call is then compared with the
oracle on (doc_id, markdown, n_pages, spans).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.dataset as ds

_HERE = os.path.dirname(os.path.abspath(__file__))
# Bump when stage.py changes what it writes.
STAGE_VERSION = 1
COLUMNS = ["doc_id", "markdown", "n_pages", "spans"]


def ensure_staged(work: str, root: str, seed: int, n_docs: int, shards: int) -> str:
    """Directory holding ``corpus/`` and ``expected/`` for this seed and size."""
    from docproc_spark.corpus import CORPUS_VERSION

    d = os.path.join(work, "stage",
                     f"c{CORPUS_VERSION}v{STAGE_VERSION}-s{seed}-n{n_docs}-p{shards}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    env = dict(os.environ, PYTHONPATH=root)
    procs = []
    try:
        for shard in range(shards):
            procs.append(subprocess.Popen(
                [sys.executable, os.path.join(_HERE, "stage.py"), "--seed", str(seed),
                 "--n-docs", str(n_docs), "--shard", str(shard), "--shards", str(shards),
                 "--out", d],
                env=env, stdout=subprocess.DEVNULL))
        codes = [p.wait() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    if any(codes):
        raise RuntimeError(f"staging failed with exit codes {codes}")
    open(os.path.join(d, "DONE"), "w").close()
    return d


def load_expected(stage: str) -> pa.Table:
    return ds.dataset(os.path.join(stage, "expected")).to_table().sort_by("doc_id")


def read_output(path: str) -> pa.Table:
    """The output rows of one call (hive ``part=`` directories included)."""
    return ds.dataset(path, partitioning="hive").to_table(columns=COLUMNS)


def compare(got: pa.Table, want: pa.Table) -> list[str]:
    """doc_ids that fail the gate: missing, repeated, unexpected, or with a
    (markdown, n_pages, spans) different from the oracle's."""
    got = got.select(COLUMNS).cast(want.schema).sort_by("doc_id")
    if got.num_rows == want.num_rows and got.equals(want):
        return []
    expected = {r["doc_id"]: r for r in want.to_pylist()}
    seen: dict[str, int] = {}
    bad = set()
    for r in got.to_pylist():
        seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
        if r != expected.get(r["doc_id"]):
            bad.add(r["doc_id"])
    bad.update(d for d, n in seen.items() if n != 1)
    bad.update(d for d in expected if d not in seen)
    return sorted(bad)
