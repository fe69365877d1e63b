"""Index build orchestration: one keyed stage-A pass + one keyed merge.

Layout under an index dir:
    shards/postings/part=i/   stage-A block rows (tf/dl, unscored)
    shards/docs/part=i/       (doc_id, url, lang, dl) per part
    manifests/part-i.json     per-part lineage + metrics (read from its files)
    postings/bucket=b/        final scored blocks (partitioned by term bucket)
    dictionary/               term → df/cf/max_score/n_blocks/bucket
    stats.json                corpus stats + build metrics + postings_format
    manifests/merge.json      stage-B lineage

Final postings store doc ORDINALS (postings format 3): a doc's rank in
the index's sorted, unique ``shards/docs`` doc_ids. Stage-A blocks stay
in doc_id space.

Every build runs the same two stages. Stage A (``_stage_a``) is ONE
Spark pass over the corpus: analyze each doc once, key it by
``pmod(doc_id, n_keys)`` (doc_id = xxhash64(url)), encode
partition-locally, write through a staging dir with ``partitionBy``,
move each key's dirs to its destination ``(index_dir, part)`` and commit
its manifest. Stage B (``_merge_all``) is ONE salted merge over a list
of index dirs, keyed by dir the same way: groups are (key, term, salt),
each key brings its own n_docs, avg_dl and doc list, and the lineage
gate, stats.json and merge manifest stay per dir. The callers differ
only in where the keys go:

- ``build_index``: key = part, every part goes to ``out_dir``;
- ``build_sharded_indexes`` (index/sharded_build.py): key = shard, each
  shard goes to its own dir as part 0, and one merge serves every dir;
- the streaming batch writer (streaming/incremental.py): one key.

Because a url maps to exactly one key, the as-of latest-crawl dedupe is
global, and each (term, doc) pair lands in exactly one part (df/cf from
block metadata is exact). Resume is per key: a rerun analyzes only the
keys whose manifest is missing or stale, filtering the corpus on the key
before the analyzer runs.

Scale note: on a real Iceberg corpus the key predicate would be the
table's own partitioning (crawl date / bucket(url)) so a resumed pass
scans only its slice of manifests instead of hash-filtering a full scan;
the orchestration, manifests, and merge are unchanged.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import shutil
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tesserae_ng_spark.index.build import (
    docs_table,
    prepare_docs,
    term_doc_table,
)
from tesserae_ng_spark.index.encode import SHARD_BLOCK_SCHEMA, encode_blocks_local
from tesserae_ng_spark.index.manifest import (
    all_manifests,
    part_metrics,
    partition_done,
    sorted_doc_ids,
    write_manifest,
)
from tesserae_ng_spark.index.merge import build_dictionary, merge_shard_blocks
from tesserae_ng_spark.schemas import (
    BLOCK_SIZE,
    DICTIONARY_SCHEMA,
    POSTINGS_FORMAT,
    POSTINGS_SCHEMA,
)
from tesserae_ng_spark.sources.corpus import load_corpus


@dataclass
class BuildResult:
    out_dir: str
    n_docs: int
    avg_dl: float
    total_tokens: int
    n_terms: int
    n_blocks: int
    built_parts: list[int]
    skipped_parts: list[int]
    wall_s: float
    # wall per build phase (parts = stage A incl. UDF analysis;
    # merge_postings = block merge + bucketed write; merge_dict =
    # dictionary build + stats), shared by every dir of one build
    phases: dict = None


def _fingerprint(
    source_desc: str, n_parts: int, part: int, lang: str | None,
    with_positions: bool, use_stored_text: bool, block_size: int,
) -> str:
    # every build-affecting parameter participates: resuming a dir whose
    # shards were built with different params must rebuild, not skip
    return (
        f"{source_desc}|P={n_parts}|part={part}|lang={lang}"
        f"|pos={with_positions}|stored={use_stored_text}|bs={block_size}"
    )


def _source_desc(source) -> str:
    if isinstance(source, str):
        return source
    # content-derived id for DataFrame sources: the canonicalized logical
    # plan's semantic hash — two builds from different plans never collide
    # into one resume lineage
    return f"df:{source._jdf.queryExecution().analyzed().semanticHash()}"


def _move_partition(staging_root: str, key: int, dst: str) -> bool:
    """Rename a partitionBy output dir into a part's layout; returns
    False when the key produced no rows (no partition dir exists)."""
    src = os.path.join(staging_root, f"key={key}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if not os.path.isdir(src):
        return False
    shutil.move(src, dst)
    return True


def _write_empty(schema, dst: str) -> None:
    """Empty-key edge (tiny corpora): a 0-row parquet dir with the given
    Spark schema, via pyarrow — a zero-row Spark write can emit no data
    files at all. Spark reads shards with explicit schemas (the merge
    uses ``SHARD_BLOCK_SCHEMA``); the one empty file keeps the dir a
    readable pyarrow dataset for ``part_metrics`` and ``sorted_doc_ids``."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(dst, exist_ok=True)
    pq.write_table(
        to_arrow_schema(schema).empty_table(),
        os.path.join(dst, "part-00000.parquet"),
    )


def _finalize_empty(out_dir: str) -> None:
    """0-row dictionary/postings for an index without postings, in the
    merge's layout (Searcher/global_shard_stats open it like any other)."""
    shutil.rmtree(os.path.join(out_dir, "dictionary"), ignore_errors=True)
    _write_empty(POSTINGS_SCHEMA, os.path.join(out_dir, "postings", "bucket=0"))
    _write_empty(DICTIONARY_SCHEMA, os.path.join(out_dir, "dictionary"))


def _stage_a(
    corpus: DataFrame,
    dests: dict[int, tuple[str, int]],
    fingerprints: dict[int, str],
    lang: str | None,
    use_stored_text: bool,
    with_positions: bool,
    block_size: int,
    resume: bool = True,
    fail_after_part: int | None = None,  # test hook: crash mid-build
) -> tuple[list[int], list[int]]:
    """The one stage-A pass: a doc with key k = ``pmod(doc_id,
    len(dests))`` goes to part ``dests[k][1]`` of index dir
    ``dests[k][0]`` (``dests`` is keyed 0..len(dests)-1).

    Keys whose manifest is done with ``fingerprints[k]`` are skipped
    (when ``resume``); the corpus is filtered to the remaining keys
    BEFORE the analyzer runs, so done keys cost no UDF time. Each built
    key's dirs are moved into place and its manifest committed in key
    order, with metrics read from the moved files (``part_metrics``); a
    key with no rows gets schema-only dirs. Returns
    ``(built, skipped)`` key lists."""
    t0 = time.time()
    n_keys = len(dests)
    built = [
        k for k in sorted(dests)
        if not (resume and partition_done(*dests[k], fingerprints[k]))
    ]
    skipped = [k for k in sorted(dests) if k not in built]
    if not built:
        return built, skipped
    if skipped:
        corpus = corpus.filter(
            F.pmod(F.xxhash64("url"), F.lit(n_keys)).isin(built)
        )
    root = dests[built[0]][0]
    os.makedirs(root, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_stage_a_", dir=root)
    try:
        prepared = prepare_docs(
            corpus, lang=lang, use_stored_text=use_stored_text
        ).persist()
        try:
            # doc_id IS xxhash64(url) (build.py), so the key is a plain
            # mod of the column we already carry
            key_of = F.pmod(F.col("doc_id"), F.lit(n_keys)).cast("int")
            # cluster by key before the partitionBy write (small files
            # hurt twice): without it every one of the
            # 2×cores analysis tasks writes a file into EVERY key dir,
            # and the part metrics and the merge scan each re-pay the
            # file-open cost. The extra exchange moves compact
            # rows (docs) / compressed blocks, not html.
            docs = docs_table(prepared).withColumn("key", key_of)
            td = term_doc_table(prepared).withColumn("key", key_of)
            if not with_positions:
                td = td.withColumn("positions", F.lit(None).cast("binary"))
            # exchange-free encode: partition-local (key, term, doc_id)
            # sort + fragment encode — the merges re-block
            # deterministically
            blocks = encode_blocks_local(td, block_size=block_size)
            # schemas captured from the DataFrames, not the files: an
            # ALL-empty corpus writes no data files at all
            docs_schema = docs_table(prepared).schema
            posts_schema = blocks.drop("key").schema

            # the two writes share the persisted `prepared` and are
            # independent — submit them concurrently: the cache's
            # per-block locks make whichever job arrives first
            # materialize each partition while the other waits, so the
            # analyzer chain runs exactly once and the smaller job
            # back-fills the bigger one's straggler tail.
            def _write(df, table):
                (
                    df.repartition(n_keys, "key")
                    .write.mode("overwrite")
                    .partitionBy("key")
                    .parquet(f"{staging}/{table}")
                )

            with ThreadPoolExecutor(max_workers=2) as pool:
                list(pool.map(_write, (docs, blocks), ("docs", "postings")))
        finally:
            prepared.unpersist()

        for k in built:
            out_dir, part = dests[k]
            for table, schema in (("docs", docs_schema), ("postings", posts_schema)):
                dst = f"{out_dir}/shards/{table}/part={part}"
                if not _move_partition(f"{staging}/{table}", k, dst):
                    _write_empty(schema, dst)
            write_manifest(
                out_dir,
                part,
                {
                    "status": "done",
                    "input_fingerprint": fingerprints[k],
                    **part_metrics(out_dir, part),
                    "wall_ms": int((time.time() - t0) * 1000),
                    "fused": n_keys,
                },
            )
            if fail_after_part is not None and k >= fail_after_part:
                raise RuntimeError(f"injected failure after partition {k}")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return built, skipped


def build_index(
    spark: SparkSession,
    source,
    out_dir: str,
    n_parts: int = 4,
    lang: str | None = None,
    use_stored_text: bool = False,
    with_positions: bool = True,
    target_postings_per_salt: int = 1 << 20,
    n_buckets: int = 8,
    block_size: int = BLOCK_SIZE,
    resume: bool = True,
    fail_after_part: int | None = None,  # test hook: crash mid-build
) -> BuildResult:
    """Build (or resume) the full index. ``source`` = str for load_corpus
    or a ready corpus DataFrame. Stage A keys docs by part
    (``pmod(xxhash64(url), n_parts)``) and sends every part to
    ``out_dir``; each part resumes on its own."""
    t_start = time.time()
    corpus = load_corpus(spark, source) if isinstance(source, str) else source
    source_desc = _source_desc(source)
    expected = {
        part: _fingerprint(
            source_desc, n_parts, part, lang,
            with_positions, use_stored_text, block_size,
        )
        for part in range(n_parts)
    }
    built, skipped = _stage_a(
        corpus, {part: (out_dir, part) for part in expected},
        expected, lang, use_stored_text, with_positions, block_size,
        resume=resume, fail_after_part=fail_after_part,
    )
    t_parts = time.time() - t_start
    (result,) = _merge_all(
        spark, [out_dir], target_postings_per_salt, n_buckets, block_size,
        expected=[expected],
    )
    result.built_parts = built
    result.skipped_parts = skipped
    result.wall_s = time.time() - t_start
    result.phases["parts_s"] = round(t_parts, 3)
    return result


def _merge_manifests(out_dir: str, expected: dict[int, str] | None) -> list[dict]:
    """The done stage-A manifests the merge consumes for ``out_dir``."""
    manifests = [
        m
        for m in all_manifests(out_dir)
        if m.get("status") == "done" and m.get("stage") != "merge"
    ]
    if expected is None:
        return manifests
    # lineage gate: the merge consumes EXACTLY the current build's
    # shards. Stale part dirs (different n_parts/params/source reusing
    # this out_dir) would silently duplicate postings or skew
    # n_docs/avg_dl — fail loudly instead.
    by_part = {m["partition_id"]: m for m in manifests}
    missing = sorted(p for p in expected if p not in by_part)
    mismatched = sorted(
        p for p, fp in expected.items()
        if p in by_part and by_part[p].get("input_fingerprint") != fp
    )
    extra = sorted(p for p in by_part if p not in expected)
    stray = sorted({
        int(m.group(1))
        for d in glob.glob(f"{out_dir}/shards/postings/part=*")
        if (m := re.search(r"part=(\d+)$", d))
    } - set(expected))
    if missing or mismatched or extra or stray:
        raise ValueError(
            f"merge lineage mismatch in {out_dir}: missing manifests "
            f"{missing}, fingerprint mismatches {mismatched}, manifests "
            f"outside this build {extra}, stray shard dirs {stray} — "
            "the out_dir holds shards from a different build "
            "(n_parts/params/source changed?); use a fresh out_dir or "
            "delete the stale parts"
        )
    return [by_part[p] for p in expected]


def _merge_all(
    spark, out_dirs: list[str], target_postings_per_salt: int,
    n_buckets: int, block_size: int,
    expected: list[dict[int, str]] | None = None,
) -> list[BuildResult]:
    """Stage B: ONE keyed merge of every index dir in ``out_dirs`` (key =
    the dir's position; ``expected[i]`` maps dir i's parts to their
    fingerprints for the lineage gate). Returns one BuildResult per dir;
    all carry the shared merge's walls."""
    manifests = [
        _merge_manifests(d, None if expected is None else expected[i])
        for i, d in enumerate(out_dirs)
    ]
    n_docs = [sum(m["row_count"] for m in ms) for ms in manifests]
    tokens = [sum(m["total_tokens"] for m in ms) for ms in manifests]
    # dirs with docs merge under keys 0..L-1 (keys[dir index]); 0-doc
    # dirs get the empty layout without a merge
    live = [i for i, n in enumerate(n_docs) if n]
    keys = {i: k for k, i in enumerate(live)}

    t_merge = t_dict = time.time()
    os.makedirs(out_dirs[0], exist_ok=True)
    staging = tempfile.mkdtemp(prefix="_merge_", dir=out_dirs[0])
    try:
        if live:
            # explicit schemas: reading N dirs starts no schema-inference
            # job per dir
            blocks = functools.reduce(DataFrame.union, [
                spark.read.schema(SHARD_BLOCK_SCHEMA)
                .parquet(f"{out_dirs[i]}/shards/postings")
                .select(*SHARD_BLOCK_SCHEMA.fieldNames(), F.lit(k).alias("key"))
                for k, i in enumerate(live)
            ])
            # the merge output is already in sink layout (merge.py)
            postings = merge_shard_blocks(
                blocks, [n_docs[i] for i in live],
                [tokens[i] / n_docs[i] for i in live],
                target_postings_per_salt, block_size=block_size,
                n_buckets=n_buckets,
                docs=[sorted_doc_ids(out_dirs[i]) for i in live],
            ).withColumn(
                "bucket",
                F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
            )
            # small row groups: parquet min/max stats prune `term IN
            # (...)` per row group, so a query reads ~its terms' bytes
            # instead of decompressing a whole 128 MB default row group
            # per bucket (measured: 86 s → sub-second cold fetch). Rows
            # arrive term-clustered from the merge, so row-group stats
            # stay tight without a sort here.
            (
                postings.write.mode("overwrite")
                .option("parquet.block.size", 4 << 20)
                .partitionBy("key", "bucket")
                .parquet(f"{staging}/postings")
            )

            t_dict = time.time()
            # dictionary = ONE scan of the final postings (cf decoded from
            # the tf payloads — see merge.build_dictionary); one
            # term-sorted file per key, which the reader's footer pruning
            # relies on
            final_posts = spark.read.schema(POSTINGS_SCHEMA).parquet(
                f"{staging}/postings"
            )
            (
                build_dictionary(final_posts, n_buckets)
                .repartition("key")
                .sortWithinPartitions("key", "term")
                .write.mode("overwrite")
                .partitionBy("key")
                .parquet(f"{staging}/dictionary")
            )
        results = []
        for i, d in enumerate(out_dirs):
            # _move_partition clears the old postings either way
            if _move_partition(f"{staging}/postings", keys.get(i), f"{d}/postings"):
                _move_partition(f"{staging}/dictionary", keys[i], f"{d}/dictionary")
            else:
                _finalize_empty(d)  # no docs, or docs without a term
            results.append(_commit_merge(d, n_docs[i], tokens[i], n_buckets))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    phases = {
        "merge_postings_s": round(t_dict - t_merge, 3),
        "merge_dict_s": round(time.time() - t_dict, 3),
    }
    for r in results:
        r.phases = dict(phases)
    return results


def _commit_merge(
    out_dir: str, n_docs: int, total_tokens: int, n_buckets: int,
) -> BuildResult:
    """``out_dir``'s stats.json and merge manifest; n_terms and n_blocks
    are the row counts in its final dictionary's and postings' footers.
    The docs stay in shards/docs/part=*, where the doc list is read."""
    import pyarrow.dataset as ds

    stats = {
        "n_docs": n_docs,
        "avg_dl": total_tokens / n_docs if n_docs else 0.0,
        "total_tokens": total_tokens,
        "n_terms": ds.dataset(f"{out_dir}/dictionary").count_rows(),
        "n_blocks": ds.dataset(f"{out_dir}/postings").count_rows(),
        "n_buckets": n_buckets,
        "postings_format": POSTINGS_FORMAT,
    }
    with open(f"{out_dir}/stats.json", "w") as f:
        json.dump(stats, f, sort_keys=True)
    write_manifest(out_dir, 99999, {"status": "done", "stage": "merge",
                                    "input_fingerprint": "merge", **stats})
    return BuildResult(
        out_dir=out_dir, n_docs=n_docs, avg_dl=stats["avg_dl"],
        total_tokens=total_tokens, n_terms=stats["n_terms"],
        n_blocks=stats["n_blocks"], built_parts=[], skipped_parts=[],
        wall_s=0.0,
    )
