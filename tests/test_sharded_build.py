"""Fused one-pass sharded build ≡ N independent build_index runs.

build_sharded_indexes runs the analyzer chain once over the full corpus
and fans stage-A artifacts out to N standalone shard dirs through one
(shard, term)-keyed exchange; stage B is one merge keyed by shard.
The pin here is strong: per-shard FINAL POSTINGS AND DICTIONARY ROWS are
equal to an independent build_index over the filtered corpus, and
search_sharded over the fused dirs is rank+score-identical to a single
union index.
"""

import json
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tesserae_ng_spark.index.builder import build_index
from tesserae_ng_spark.index.manifest import all_manifests, manifest_path
from tesserae_ng_spark.index.sharded_build import build_sharded_indexes
from tesserae_ng_spark.query.search import Searcher
from tesserae_ng_spark.query.sharded import search_sharded

N_SHARDS = 3
KW = dict(block_size=16, n_buckets=2, target_postings_per_salt=64)


@pytest.fixture(scope="module")
def fused(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("fused")
    dirs = [str(base / f"shard{i}") for i in range(N_SHARDS)]
    results = build_sharded_indexes(spark, corpus, dirs, **KW)
    return dirs, results


@pytest.fixture(scope="module")
def independent(spark, corpus, tmp_path_factory):
    base = tmp_path_factory.mktemp("indep")
    dirs = []
    for i in range(N_SHARDS):
        part = corpus.filter(
            F.pmod(F.xxhash64("url"), F.lit(N_SHARDS)) == i
        )
        out = str(base / f"shard{i}")
        build_index(spark, part, out, n_parts=1, **KW)
        dirs.append(out)
    return dirs


def _assert_manifests_count_their_files(dirs):
    """Every stage-A manifest's metrics equal pyarrow counts over its
    part's own files, terms counted exactly; none carries a checksum."""
    for d in dirs:
        parts = [m for m in all_manifests(d) if m.get("stage") != "merge"]
        assert parts, d
        for m in parts:
            p = m["partition_id"]
            dl = pq.read_table(f"{d}/shards/docs/part={p}", columns=["dl"])["dl"]
            terms = pq.read_table(
                f"{d}/shards/postings/part={p}", columns=["term"]
            )["term"]
            assert "checksum" not in m, m
            assert (
                m["row_count"], m["total_tokens"],
                m["block_count"], m["term_count"],
            ) == (
                len(dl), pc.sum(dl).as_py() or 0,
                len(terms), len(set(terms.to_pylist())),
            ), (d, p)


def _rows(spark, path, cols, order):
    df = spark.read.parquet(path).select(*cols).orderBy(*order)
    return [tuple(r) for r in df.collect()]


def test_fused_postings_identical_to_independent(spark, fused, independent):
    fdirs, _ = fused
    for fd, idp in zip(fdirs, independent):
        cols = [
            "term", "salt", "block_id", "n_docs", "block_first_doc",
            "block_last_doc", "doc_ids", "tfs", "dls", "positions",
            "block_max_score", "block_max_tf", "block_min_dl",
        ]
        order = ["term", "salt", "block_id"]
        assert _rows(spark, f"{fd}/postings", cols, order) == _rows(
            spark, f"{idp}/postings", cols, order
        )
        dcols = ["term", "df", "cf", "max_score", "n_blocks", "bucket"]
        assert _rows(spark, f"{fd}/dictionary", dcols, ["term"]) == _rows(
            spark, f"{idp}/dictionary", dcols, ["term"]
        )
        with open(f"{fd}/stats.json") as f1, open(f"{idp}/stats.json") as f2:
            assert json.load(f1) == json.load(f2)


def test_fused_manifests_count_their_files(fused):
    fdirs, _ = fused
    _assert_manifests_count_their_files(fdirs)


def test_fused_search_identical_per_shard(fused, independent):
    fdirs, _ = fused
    for fd, idp in zip(fdirs, independent):
        a, b = Searcher(fd), Searcher(idp)
        for q, mode in [
            ("join", "bm25"), ("hash scan", "bm25"),
            ("hash join", "phrase"), ("sort merge", "proximity"),
        ]:
            assert a.search(q, k=10, mode=mode) == b.search(q, k=10, mode=mode)


def test_fused_sharded_search_matches_union(spark, corpus, fused, tmp_path_factory):
    fdirs, _ = fused
    union_dir = str(tmp_path_factory.mktemp("fusedu") / "union")
    build_index(spark, corpus, union_dir, n_parts=2, **KW)
    union = Searcher(union_dir)
    queries = [
        dict(query_id=i, query_text=qt, mode="bm25", k=10)
        for i, qt in enumerate(
            ["join", "hash scan", "sort merge join", "table hash"]
        )
    ]
    got = {}
    for r in search_sharded(spark, fdirs, queries, k=10).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for q in queries:
        want = [
            (h.rank, h.doc_id, pytest.approx(h.score, abs=1e-9))
            for h in union.search(q["query_text"], k=10)
        ]
        assert sorted(got.get(q["query_id"], [])) == want


def test_fused_resume_skips_stage_a(spark, corpus, fused):
    fdirs, first = fused
    stats_before = [json.load(open(f"{d}/stats.json")) for d in fdirs]
    results = build_sharded_indexes(spark, corpus, fdirs, **KW)
    assert all(r.skipped_parts == [0] for r in results)
    assert [json.load(open(f"{d}/stats.json")) for d in fdirs] == stats_before
    assert all(r.n_docs == f.n_docs for r, f in zip(results, first))


def test_fused_partial_resume_rebuilds_only_stale_shard(spark, corpus, fused):
    # resume is per shard: with one shard's manifest gone, only that
    # shard is analyzed again, and it comes out equal to its first build
    fdirs, _ = fused
    cols = [
        "term", "salt", "block_id", "doc_ids", "tfs", "dls", "positions",
        "block_max_score",
    ]
    dcols = ["term", "df", "cf", "max_score", "n_blocks", "bucket"]
    lost = 1
    before = (
        _rows(spark, f"{fdirs[lost]}/postings", cols, cols[:3]),
        _rows(spark, f"{fdirs[lost]}/dictionary", dcols, ["term"]),
        json.load(open(f"{fdirs[lost]}/stats.json")),
    )
    os.remove(manifest_path(fdirs[lost], 0))
    results = build_sharded_indexes(spark, corpus, fdirs, **KW)
    for i, r in enumerate(results):
        assert (r.built_parts, r.skipped_parts) == (
            ([0], []) if i == lost else ([], [0])
        )
    assert (
        _rows(spark, f"{fdirs[lost]}/postings", cols, cols[:3]),
        _rows(spark, f"{fdirs[lost]}/dictionary", dcols, ["term"]),
        json.load(open(f"{fdirs[lost]}/stats.json")),
    ) == before


def _build_layout(entry, spark, corpus, base, n):
    """Index dirs and per-part manifest row counts from either entry
    point: ``n`` fused shards, or one union index with ``n`` parts."""
    if entry == "sharded":
        dirs = [str(base / f"s{i}") for i in range(n)]
        build_sharded_indexes(spark, corpus, dirs, **KW)
    else:
        dirs = [str(base / "union")]
        build_index(spark, corpus, dirs[0], n_parts=n, **KW)
    rows = [
        m["row_count"]
        for d in dirs
        for m in all_manifests(d)
        if m.get("stage") != "merge"
    ]
    assert len(rows) == n
    _assert_manifests_count_their_files(dirs)
    return dirs, rows


@pytest.mark.parametrize("entry", ["sharded", "union"])
def test_fused_all_empty_corpus(spark, corpus, tmp_path_factory, entry):
    # ADVICE r5: a corpus where EVERY doc is filtered out writes zero
    # data files in the partitionBy staging step — the build must not
    # crash on schema inference and must emit valid 0-doc indexes
    empty = corpus.filter(F.lit(False))
    base = tmp_path_factory.mktemp("fusedallempty")
    dirs, rows = _build_layout(entry, spark, empty, base, 3)
    assert rows == [0, 0, 0]
    for d in dirs:
        assert json.load(open(f"{d}/stats.json"))["n_docs"] == 0
        s = Searcher(d)
        assert s.search("join hash", k=5, mode="bm25") == []
    queries = [dict(query_id=0, query_text="join hash", mode="bm25", k=5)]
    assert search_sharded(spark, dirs, queries, k=5).collect() == []


@pytest.mark.parametrize("entry", ["sharded", "union"])
def test_fused_empty_shard(spark, corpus, tmp_path_factory, entry):
    # more shards (or parts) than docs → some are empty; they must still
    # come out as valid indexes and not break the query paths
    small = corpus.orderBy("url").limit(3)
    # the corpus carries multiple crawl versions per url; the build's
    # as-of dedupe keeps one doc per distinct url
    expect = small.select("url").distinct().count()
    base = tmp_path_factory.mktemp("fusedempty")
    dirs, rows = _build_layout(entry, spark, small, base, 7)
    assert sum(rows) == expect
    assert any(r == 0 for r in rows)
    assert sum(
        json.load(open(f"{d}/stats.json"))["n_docs"] for d in dirs
    ) == expect
    for d in dirs:
        # the reader's footer pruning needs ONE term-sorted dictionary file
        files = [
            f for f in os.listdir(f"{d}/dictionary")
            if not f.startswith((".", "_"))
        ]
        assert len(files) == 1
        terms = pq.read_table(f"{d}/dictionary/{files[0]}").column("term")
        assert terms.to_pylist() == sorted(terms.to_pylist())
    if entry == "sharded":
        # empty, one-doc and multi-doc shards share the one keyed merge;
        # each must equal an independent build of its own docs
        cols = [
            "term", "salt", "block_id", "n_docs", "block_first_doc",
            "block_last_doc", "doc_ids", "tfs", "dls", "positions",
            "block_max_score", "block_max_tf", "block_min_dl",
        ]
        dcols = ["term", "df", "cf", "max_score", "n_blocks", "bucket"]
        for i, d in enumerate(dirs):
            indep = str(base / f"indep{i}")
            build_index(
                spark, small.filter(F.pmod(F.xxhash64("url"), F.lit(7)) == i),
                indep, n_parts=1, **KW,
            )
            for path, c, order in (
                ("postings", cols, cols[:3]), ("dictionary", dcols, ["term"]),
            ):
                assert _rows(spark, f"{d}/{path}", c, order) == _rows(
                    spark, f"{indep}/{path}", c, order
                )
            with open(f"{d}/stats.json") as f1, open(f"{indep}/stats.json") as f2:
                assert json.load(f1) == json.load(f2)
    queries = [dict(query_id=0, query_text="join hash", mode="bm25", k=5)]
    rows = search_sharded(spark, dirs, queries, k=5).collect()
    # global stats over the 3-doc corpus drive whatever matches exist
    assert all(r["rank"] >= 1 for r in rows)


def _marker_job_id(spark, tag):
    """Id of a one-task job run now. Spark numbers jobs from every thread
    in one sequence, so the gap between two markers counts every job in
    between, including those stage A submits from its thread pool."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    (jid,) = sc.statusTracker().getJobIdsForGroup(tag)
    return jid


def test_fused_build_job_count(spark, corpus, tmp_path_factory):
    # one keyed merge for every shard: a 3-shard build runs about the
    # Spark jobs of a 3-part union build, not one merge's worth per shard
    base = tmp_path_factory.mktemp("fusedjobs")

    def jobs(tag, build):
        before = _marker_job_id(spark, f"{tag}-before")
        build()
        return _marker_job_id(spark, f"{tag}-after") - before - 1

    union = jobs("union", lambda: build_index(
        spark, corpus, str(base / "union"), n_parts=N_SHARDS, **KW
    ))
    sharded = jobs("sharded", lambda: build_sharded_indexes(
        spark, corpus, [str(base / f"s{i}") for i in range(N_SHARDS)], **KW
    ))
    assert 0 < union and sharded <= union + 2, (union, sharded)


# Spark jobs of a 3-part union build of the tests' corpus, as measured
UNION_BUILD_JOBS = 14


def test_union_build_job_count(spark, corpus, tmp_path_factory):
    # stage A is its two writes: no metrics job, no read-back of the
    # staging output
    out = str(tmp_path_factory.mktemp("unionjobs") / "union")
    before = _marker_job_id(spark, "unionpin-before")
    build_index(spark, corpus, out, n_parts=N_SHARDS, **KW)
    jobs = _marker_job_id(spark, "unionpin-after") - before - 1
    assert 0 < jobs <= UNION_BUILD_JOBS, jobs
