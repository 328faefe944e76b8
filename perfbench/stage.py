"""Stage one shard of a benchmark corpus and its oracle answers.

Run as a child process of ``run.py``, one per shard:

    python3 perfbench/stage.py --seed 7 --n-docs 4000 --shard 0 --shards 4 --out DIR

It writes ``DIR/corpus/part-<shard>.parquet`` (the rows ``corpus.corpus_df``
generates for this shard's index range, in ``corpus_df``'s own split) and
``DIR/expected/part-<shard>.parquet`` (``oracle.extract_doc`` of each row).
Documents are generated once and feed both files.
"""

from __future__ import annotations

import argparse
import os
import sys


def shard_range(n_docs: int, shard: int, shards: int) -> tuple[int, int]:
    """The index range ``corpus_df`` gives task ``shard`` of ``shards``."""
    return shard * n_docs // shards, (shard + 1) * n_docs // shards


def corpus_schema():
    import pyarrow as pa

    span = pa.struct([
        ("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
        ("page", pa.int32()), ("offset", pa.int32()),
    ])
    return pa.schema([
        pa.field("doc_id", pa.string(), nullable=False),
        ("doc_type", pa.string()), ("raw_html", pa.string()),
        ("spans", pa.list_(span)), ("n_spans", pa.int64()),
    ])


def expected_schema():
    import pyarrow as pa

    return pa.schema([
        ("doc_id", pa.string()), ("markdown", pa.string()), ("n_pages", pa.int32()),
        ("spans", corpus_schema().field("spans").type),
    ])


def write_shard(seed: int, n_docs: int, shard: int, shards: int, out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docproc_spark.corpus import gen_doc
    from docproc_spark.oracle import extract_doc

    lo, hi = shard_range(n_docs, shard, shards)
    # the corpus default mega_spans (2,000) keeps every document far below
    # extract's 100k-span routing threshold
    docs = [gen_doc(i, seed=seed) for i in range(lo, hi)]
    for d in docs:
        d["n_spans"] = len(d["spans"] or [])
    expected = [extract_doc(d) for d in docs]
    for sub, rows, schema in (("corpus", docs, corpus_schema()),
                              ("expected", expected, expected_schema())):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
        path = os.path.join(out, sub, f"part-{shard:05d}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), path + ".tmp")
        os.replace(path + ".tmp", path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--n-docs", type=int, required=True)
    ap.add_argument("--shard", type=int, required=True)
    ap.add_argument("--shards", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    write_shard(a.seed, a.n_docs, a.shard, a.shards, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
