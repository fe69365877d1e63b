"""Per-partition lineage manifests → checkpoint-resumable builds.

Spark's lineage recovers *tasks*, not *jobs* (SURVEY.md §4): if the driver
dies mid-build, a bare rerun starts from zero. The contract (BASELINE.json
north_rule) requires job-level resume with per-partition lineage + metrics,
so every shard partition writes a manifest JSON *after* its data is fully
written (write-temp → atomic rename), and a rerun skips partitions whose
manifest is `done` with a matching input fingerprint.

Analog: Lucene's commit points / segments_N file — a segment exists only
once the commit metadata names it.

Also here: the index's doc list (``sorted_doc_ids``), the ordinal space
of the final postings, read by both the merge and the reader, and a
part's metrics (``part_metrics``), read from the files it just wrote.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np


def manifest_path(out_dir: str, part: int) -> str:
    return os.path.join(out_dir, "manifests", f"part-{part:05d}.json")


def write_manifest(out_dir: str, part: int, payload: dict) -> None:
    path = manifest_path(out_dir, part)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    payload = {"partition_id": part, "written_at": time.time(), **payload}
    with open(tmp, "w") as f:
        json.dump(payload, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)  # atomic on POSIX


def read_manifest(out_dir: str, part: int) -> dict | None:
    path = manifest_path(out_dir, part)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def partition_done(out_dir: str, part: int, fingerprint: str) -> bool:
    m = read_manifest(out_dir, part)
    return (
        m is not None
        and m.get("status") == "done"
        and m.get("input_fingerprint") == fingerprint
    )


def all_manifests(out_dir: str) -> list[dict]:
    d = os.path.join(out_dir, "manifests")
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                out.append(json.load(f))
    return out


def sorted_doc_ids(index_dir: str) -> np.ndarray:
    """The index's doc list: every doc_id under ``shards/docs``, sorted and
    unique (streamed parts may repeat a url). A final posting stores its
    doc's rank in this array. 8 B/doc: fine to ~100M docs per node."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    files = ds.dataset(os.path.join(index_dir, "shards", "docs")).files
    return np.unique(np.concatenate([
        pq.ParquetFile(f).read(columns=["doc_id"], use_threads=False)
        .column("doc_id").to_numpy()
        for f in files
    ] or [np.empty(0, dtype=np.int64)]))


def part_metrics(index_dir: str, part: int) -> dict:
    """A stage-A part's manifest metrics, read with pyarrow from its own
    ``shards/docs/part=i`` and ``shards/postings/part=i`` files:
    ``row_count`` and ``block_count`` from the footers, ``total_tokens``
    = the sum of the docs ``dl`` column, ``term_count`` = the exact
    number of distinct postings terms. A part written empty gives zeros.
    Cost at scale: the driver reads one ``dl`` per doc and one ``term``
    per stage-A block of the part, as ``sorted_doc_ids`` already reads
    every doc id on the driver for the merge."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    docs, posts = (
        ds.dataset(os.path.join(index_dir, "shards", table, f"part={part}"))
        for table in ("docs", "postings")
    )
    dl = docs.to_table(columns=["dl"])["dl"]
    terms = posts.to_table(columns=["term"])["term"]
    return {
        "row_count": docs.count_rows(),
        "total_tokens": pc.sum(dl).as_py() or 0,
        "block_count": posts.count_rows(),
        "term_count": pc.count_distinct(terms).as_py(),
    }
