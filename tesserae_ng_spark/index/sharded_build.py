"""N doc-sharded indexes from one corpus pass.

The sharded deployment (BASELINE.json north_star: per-shard builds,
distributed-IDF query) partitions docs by ``pmod(xxhash64(url), n_shards)``
into independent shard indexes. Building them as N separate
``build_index`` jobs is correct, but each job re-pays the expensive part
— the per-doc analyzer chain plus a full corpus scan to filter its slice
— and N small merges serialize per-job fixed costs.

``build_sharded_indexes`` runs the build's two keyed stages
(index/builder.py) once for all shards, key = shard: stage A
(``_stage_a``) analyzes the corpus ONCE and lands each shard's stage-A
dirs in its own index dir as part 0; stage B (``_merge_all``) is ONE
merge over every shard's blocks, grouped by (shard, term, salt) and
partitioned by (shard, bucket), each shard with its own n_docs, avg_dl
and doc list. Per-shard outputs are BYTE-IDENTICAL to independent
``build_index`` runs over the filtered corpus (pinned in
tests/test_sharded_build.py): every merge group is one shard's, merged
deterministically, invariant to stage-A fragmentation.

At 10^12 docs this is the natural build topology: shards are a STORAGE
layout (constant per cluster), so one corpus pass fans out to all of them
— no extra shuffle, no repeated scans, and a sharded build runs the same
Spark jobs as a union build. Resume is per shard: a rerun analyzes only
the shards whose manifest is missing or stale and then runs the one
merge for every shard.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from tesserae_ng_spark.index.builder import (
    BuildResult,
    _fingerprint,
    _merge_all,
    _source_desc,
    _stage_a,
)
from tesserae_ng_spark.schemas import BLOCK_SIZE
from tesserae_ng_spark.sources.corpus import load_corpus


def build_sharded_indexes(
    spark: SparkSession,
    source,
    out_dirs: list[str],
    lang: str | None = None,
    use_stored_text: bool = False,
    with_positions: bool = True,
    target_postings_per_salt: int = 1 << 20,
    n_buckets: int = 8,
    block_size: int = BLOCK_SIZE,
    resume: bool = True,
) -> list[BuildResult]:
    """Build ``len(out_dirs)`` doc-sharded indexes in one corpus pass.

    Shard assignment is ``pmod(xxhash64(url), n_shards)`` — the same key
    ``build_index`` uses for its internal partitions and ``search_sharded``
    assumes for doc-disjointness. Each ``out_dirs[i]`` ends up a standalone
    index dir (openable by ``Searcher``) byte-identical to
    ``build_index(corpus.filter(pmod(xxhash64(url), n) == i), out_dirs[i],
    n_parts=1, ...)``.
    """
    t_start = time.time()
    n_shards = len(out_dirs)
    if n_shards == 0:
        return []
    corpus = load_corpus(spark, source) if isinstance(source, str) else source
    source_desc = f"{_source_desc(source)}|fused={n_shards}"
    fps = {
        i: _fingerprint(
            f"{source_desc}|shard={i}", 1, 0, lang,
            with_positions, use_stored_text, block_size,
        )
        for i in range(n_shards)
    }
    built, _ = _stage_a(
        corpus, {i: (sd, 0) for i, sd in enumerate(out_dirs)}, fps,
        lang, use_stored_text, with_positions, block_size, resume=resume,
    )
    t_parts = time.time() - t_start

    results = _merge_all(
        spark, out_dirs, target_postings_per_salt, n_buckets, block_size,
        expected=[{0: fps[i]} for i in range(n_shards)],
    )
    wall = time.time() - t_start
    for i, r in enumerate(results):
        r.built_parts = [0] if i in built else []
        r.skipped_parts = [] if i in built else [0]
        r.wall_s = wall
        r.phases["parts_s"] = round(t_parts, 3)
    return results
