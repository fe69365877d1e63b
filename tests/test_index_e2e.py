"""End-to-end index build + WAND rank-identity + resume (SURVEY.md §5.4-5)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from tesserae_ng_spark.functions.analysis import analyze_query
from tesserae_ng_spark.index.build import (
    corpus_stats,
    docs_table,
    prepare_docs,
    term_doc_decoded,
)
from tesserae_ng_spark.index.builder import build_index
from tesserae_ng_spark.query.bm25_oracle import bm25_topk_oracle
from tesserae_ng_spark.query.search import Searcher, search_batch


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    # small salt target + small blocks force the salted/merge/multi-block
    # machinery even at 500 docs
    res = build_index(
        spark,
        corpus,
        out,
        n_parts=3,
        target_postings_per_salt=64,
        block_size=16,
        n_buckets=4,
    )
    assert res.n_docs == 500
    assert res.n_terms > 0 and res.n_blocks > 0
    return out


@pytest.fixture(scope="module")
def oracle_parts(spark, corpus):
    prepared = prepare_docs(corpus).cache()
    docs = docs_table(prepared).cache()
    td = term_doc_decoded(prepared).cache()
    st = corpus_stats(docs).collect()[0]
    return td, docs, st["n_docs"], st["avg_dl"]


QUERIES = [
    "sort merge join",
    "the",                      # head term (skew path)
    "running quickly tables",   # stemmed forms
    "window",                   # single term
    "zzz absent term nothing",  # partially absent
    "totallyabsentterm",        # fully absent → empty
    "the fast small slow key",  # stopword-heavy multi-term
]


@pytest.mark.parametrize("k", [1, 10, 100])
def test_wand_rank_identity_vs_oracle(spark, index_dir, oracle_parts, k):
    td, docs, n_docs, avg_dl = oracle_parts
    searcher = Searcher(index_dir)
    for q in QUERIES:
        terms = analyze_query(q)
        want = bm25_topk_oracle(td, terms, k, n_docs, avg_dl).collect()
        got = searcher.search(q, k=k)
        assert [h.doc_id for h in got] == [r["doc_id"] for r in want], q
        for h, r in zip(got, want):
            assert abs(h.score - r["score"]) < 1e-9, (q, h, r)


def test_index_stats_match_oracle(index_dir, oracle_parts):
    _, _, n_docs, avg_dl = oracle_parts
    s = Searcher(index_dir)
    assert s.reader.n_docs == n_docs
    assert abs(s.reader.avg_dl - avg_dl) < 1e-9


def test_dictionary_df_exact(spark, index_dir, oracle_parts):
    td, _, _, _ = oracle_parts
    want = {r["term"]: r["df"] for r in td.groupBy("term").count().withColumnRenamed("count", "df").collect()}
    dic = spark.read.parquet(f"{index_dir}/dictionary").collect()
    got = {r["term"]: r["df"] for r in dic}
    assert got == want


def test_postings_store_dense_doc_ordinals(index_dir):
    """Postings format 3: every block's decoded doc_ids are strictly
    increasing ranks in [0, len(docs)) whose first/last are the block's
    block_first_doc/block_last_doc; over a term's blocks in (salt,
    block_id) order they keep increasing, and docs[ords] gives back the
    stage-A doc ids of that term."""
    import numpy as np
    import pyarrow.dataset as ds

    from tesserae_ng_spark.index.codec import (
        concat_decode_ords,
        delta_decode_ids,
    )
    from tesserae_ng_spark.index.manifest import sorted_doc_ids

    docs = sorted_doc_ids(index_dir)
    assert docs.size == 500
    want = {}
    stage_a = ds.dataset(f"{index_dir}/shards/postings", partitioning="hive")
    for r in stage_a.to_table(columns=["term", "doc_ids"]).to_pylist():
        want.setdefault(r["term"], []).extend(
            delta_decode_ids(r["doc_ids"]).tolist()
        )
    cols = ["term", "salt", "block_id", "n_docs", "block_first_doc",
            "block_last_doc", "doc_ids"]
    final = ds.dataset(f"{index_dir}/postings", partitioning="hive")
    got = {}
    for r in sorted(
        final.to_table(columns=cols).to_pylist(),
        key=lambda r: (r["term"], r["salt"], r["block_id"]),
    ):
        o = concat_decode_ords([r["doc_ids"]], [r["n_docs"]])
        assert o.size == r["n_docs"]
        assert 0 <= o[0] and o[-1] < docs.size
        assert (np.diff(o) > 0).all()
        assert (o[0], o[-1]) == (r["block_first_doc"], r["block_last_doc"])
        got.setdefault(r["term"], []).extend(o.tolist())
    assert got.keys() == want.keys()
    for t, ords in got.items():
        ords = np.array(ords)
        assert (np.diff(ords) > 0).all(), t
        assert docs[ords].tolist() == sorted(want[t]), t


def test_reader_refuses_other_postings_format(index_dir, tmp_path):
    """An index whose stats.json lacks ``postings_format: 3`` (written
    before doc ordinals, or by a later layout) must not open: its doc_ids
    would decode as ordinals silently."""
    import json

    from tesserae_ng_spark.query.reader import IndexReader

    with open(f"{index_dir}/stats.json") as f:
        stats = json.load(f)
    assert stats["postings_format"] == 3
    IndexReader(index_dir)
    for fmt in (None, 2, 4):
        old = dict(stats, postings_format=fmt)
        if fmt is None:
            del old["postings_format"]
        d = tmp_path / f"fmt{fmt}"
        d.mkdir()
        (d / "stats.json").write_text(json.dumps(old))
        with pytest.raises(ValueError, match="rebuild the index"):
            IndexReader(str(d))


def test_batch_search_matches_single(spark, index_dir):
    searcher = Searcher(index_dir)
    queries = [
        {"query_id": i, "query_text": q, "k": 5} for i, q in enumerate(QUERIES)
    ] + [
        {"query_id": 100 + i, "query_text": q, "k": 5, "mode": mode,
         "window": 6}
        for i, (q, mode) in enumerate([
            ("sort merge", "phrase"),
            ("hash join", "phrase"),
            ("join zzmissing", "phrase"),
            ("hash join", "proximity"),
            ("sort merge join", "proximity"),
        ])
    ]
    batch = search_batch(spark, index_dir, queries, k=5).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    n_hits = 0
    for q in queries:
        single = [
            (h.rank, h.doc_id, h.score)
            for h in searcher.search(
                q["query_text"], k=5, mode=q.get("mode", "bm25"),
                window=q.get("window", 5),
            )
        ]
        n_hits += len(single)
        assert sorted(by_q.get(q["query_id"], [])) == single, q
    assert n_hits == len(batch)


def test_k_zero_returns_no_rows(spark, index_dir):
    """A k = 0 query returns [] in every mode, and in a batch it yields
    no rows while the batch's other queries answer as single queries."""
    searcher = Searcher(index_dir)
    for mode in ("bm25", "phrase", "proximity"):
        assert searcher.search("the", k=0, mode=mode) == [], mode
        assert searcher.search("sort merge join", k=0, mode=mode) == [], mode
    queries = [
        {"query_id": 0, "query_text": "the", "k": 0},
        {"query_id": 1, "query_text": "sort merge", "k": 0, "mode": "phrase"},
        {"query_id": 2, "query_text": "sort merge join", "k": 5},
    ]
    rows = search_batch(spark, index_dir, queries, k=5).collect()
    assert {r["query_id"] for r in rows} == {2}
    want = [(h.rank, h.doc_id, h.score)
            for h in searcher.search("sort merge join", k=5)]
    assert sorted((r["rank"], r["doc_id"], r["score"]) for r in rows) == want


def test_phrase_and_proximity(spark, index_dir, corpus):
    """Cross-check positional modes against brute-force over raw tokens."""
    from tesserae_ng_spark.functions.analysis import analyze

    from tesserae_ng_spark.functions.html import extract_text
    from tesserae_ng_spark.index.build import asof_latest

    rows = (
        asof_latest(corpus)
        .select(F.xxhash64("url").alias("doc_id"), "html", "lang")
        .collect()
    )
    toks = {
        r["doc_id"]: [t for t, _ in analyze(extract_text(bytes(r["html"])), r["lang"])]
        for r in rows
    }

    searcher = Searcher(index_dir)
    # pick a phrase that exists: scan brute force for any adjacent pair
    phrase = None
    for d, ts in toks.items():
        if len(ts) >= 2:
            phrase = (ts[0], ts[1])
            break
    q = f"{phrase[0]} {phrase[1]}"
    got = {h.doc_id for h in searcher.search(q, k=500, mode="phrase")}
    want = {
        d
        for d, ts in toks.items()
        if any(a == phrase[0] and b == phrase[1] for a, b in zip(ts, ts[1:]))
    }
    assert got == want

    got_prox = {h.doc_id for h in searcher.search(q, k=500, mode="proximity", window=5)}
    def min_span(ts, a, b):
        pa = [i for i, t in enumerate(ts) if t == a]
        pb = [i for i, t in enumerate(ts) if t == b]
        if not pa or not pb:
            return None
        return min(abs(x - y) for x in pa for y in pb)
    want_prox = {
        d for d, ts in toks.items()
        if (s := min_span(ts, phrase[0], phrase[1])) is not None and s <= 5
    }
    assert got_prox == want_prox


def test_lazy_payload_skipped_blocks_never_read(index_dir):
    """Cold fetch is metadata-only; a block that is never decoded must
    never have its payload bytes read (VERDICT r2: eager whole-term fetch
    made block pruning pointless at GB-scale postings)."""
    from tesserae_ng_spark.query.reader import IndexReader
    from tesserae_ng_spark.query.wand import bm25_dense_topk, wand_topk

    r = IndexReader(index_dir)
    fetched = r.fetch(["the"])  # head term: every doc → many 16-doc blocks
    tp = fetched["the"]
    total = tp.n_blocks
    assert total > 8
    assert r.payload_blocks_loaded == 0, "fetch() must not read payloads"

    tp.decode_block(0)  # decode the first block only
    assert r.payload_blocks_loaded == 1, "a block beyond it was read"
    assert tp._ids_miss[1:].all(), "undecoded blocks were materialized"

    # WAND through the lazy reader == dense through an eager reader
    fetched = r.fetch(["the", "window"])
    got = wand_topk(fetched, r.n_docs, r.avg_dl, 3)
    r2 = IndexReader(index_dir)
    f2 = r2.fetch(["the", "window"])
    r2.ensure_payloads(f2.values())
    assert not f2["the"]._ids_miss[0]
    assert got == bm25_dense_topk(f2, r2.n_docs, r2.avg_dl, 3)


def test_head_and_rare_wand_reads_few_head_blocks(index_dir):
    """A head-term ∧ rare-term query through the pruning scorer: the rare
    term's postings set the threshold, the head term's bound cannot reach
    it alone, so only the head blocks that may hold a rare-term doc are
    read — fewer than all of them — and the top-k equals the exhaustive
    scorer's bit for bit."""
    from tesserae_ng_spark.query.reader import IndexReader
    from tesserae_ng_spark.query.wand import bm25_dense_topk, wand_topk

    k = 3
    r = IndexReader(index_dir)
    rare = min((row["df"], t) for t, row in r._dict_cache.items())[1]
    fetched = r.fetch(["the", rare])
    head = fetched["the"]
    got = wand_topk(fetched, r.n_docs, r.avg_dl, k)
    head_loaded = int((~head._ids_miss).sum())
    assert 0 < head_loaded < head.n_blocks
    assert r.payload_blocks_loaded < head.n_blocks + fetched[rare].n_blocks

    r2 = IndexReader(index_dir)
    f2 = r2.fetch(["the", rare])
    r2.ensure_payloads(f2.values())
    assert got == bm25_dense_topk(f2, r2.n_docs, r2.avg_dl, k)
    assert len(got) == k


def test_payload_scan_selection_is_tight(index_dir):
    """_load_payloads must scan EXACTLY the requested blocks: per-salt
    block-range predicates, not the old salt.isin × block_id.isin cross
    product that pulled same-numbered blocks from every listed salt
    (ADVICE r3). Pinned via the payload_rows_scanned counter on a head
    term spanning multiple salts."""
    from tesserae_ng_spark.query.reader import IndexReader

    import numpy as np

    r = IndexReader(index_dir)
    tp = r.fetch(["the"])["the"]
    salts, first_idx = np.unique(tp.blk_salt, return_index=True)
    assert salts.size > 1, "fixture must span multiple salts"
    # demand one block from EACH salt in a single load: the
    # old cross product would scan |salts| × |distinct block ids| rows
    before = r.payload_rows_scanned
    tp.ensure_payloads(first_idx)
    assert r.payload_rows_scanned - before == first_idx.size


def test_dictionary_pushdown_fallback_matches_pinned(index_dir):
    """The >1M-term dictionary path (no in-memory pin; per-query pushdown
    filter-scan) must return identical lookups and search results."""
    from tesserae_ng_spark.query.reader import IndexReader

    pinned = IndexReader(index_dir)
    fallback = IndexReader(index_dir, dict_pin_max_terms=0)
    assert fallback._dict_cache is None and pinned._dict_cache is not None
    terms = ["the", "window", "join", "totallyabsentterm"]
    assert fallback.lookup(terms) == pinned.lookup(terms)

    s = Searcher.__new__(Searcher)
    s.reader = fallback
    s.lang = "en"
    sp = Searcher(index_dir)
    got = s.search("sort merge join", k=5)
    want = sp.search("sort merge join", k=5)
    assert [(h.doc_id, h.score) for h in got] == [
        (h.doc_id, h.score) for h in want
    ]


def test_pinned_lookup_rows_equal_unpinned_with_types(index_dir):
    """The pinned dictionary builds a term's row only on lookup; every row
    equals the unpinned reader's (the Parquet row as ``to_pylist`` gives
    it), key order and Python value types included."""
    import pyarrow.dataset as pds

    from tesserae_ng_spark.query.reader import IndexReader

    pinned = IndexReader(index_dir)
    fallback = IndexReader(index_dir, dict_pin_max_terms=0)
    every = pds.dataset(os.path.join(index_dir, "dictionary")).to_table()
    terms = every.column("term").to_pylist()
    assert len(pinned._dict_cache) == len(terms)
    ask = terms[::3] + ["totallyabsentterm"]
    got, want = pinned.lookup(ask), fallback.lookup(ask)
    assert list(got) == list(want) == sorted(set(terms[::3]))
    for t, row in want.items():
        assert list(got[t].items()) == list(row.items())
        assert [type(v) for v in got[t].values()] == [
            type(v) for v in row.values()
        ]
    assert [type(v) for v in row.values()] == [str, int, int, float, int, int]
    assert {r["term"]: r for r in every.to_pylist()} == dict(
        pinned._dict_cache.items()
    )


def test_resume_skips_done_partitions(spark, corpus, tmp_path):
    out = str(tmp_path / "idx")
    # first attempt dies after partition 0
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, corpus, out, n_parts=3, fail_after_part=0,
                    block_size=16, n_buckets=2)
    # resume: partition 0 skipped, 1..2 built
    res = build_index(spark, corpus, out, n_parts=3, block_size=16, n_buckets=2)
    assert res.skipped_parts == [0]
    assert res.built_parts == [1, 2]
    assert res.n_docs == 500

    # full rebuild from scratch → logically identical postings
    out2 = str(tmp_path / "idx2")
    build_index(spark, corpus, out2, n_parts=3, block_size=16, n_buckets=2)
    a = spark.read.parquet(f"{out}/postings").drop("bucket")
    b = spark.read.parquet(f"{out2}/postings").drop("bucket")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_determinism_across_parallelism(spark, corpus, tmp_path):
    """Same corpus, different partition counts → identical logical index
    (the rank-identity-across-cluster-sizes prerequisite)."""
    outs = []
    for n_parts in (1, 4):
        out = str(tmp_path / f"p{n_parts}")
        build_index(spark, corpus, out, n_parts=n_parts, block_size=16,
                    n_buckets=2, target_postings_per_salt=64)
        outs.append(out)
    a = spark.read.parquet(f"{outs[0]}/postings").drop("bucket")
    b = spark.read.parquet(f"{outs[1]}/postings").drop("bucket")
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    da = spark.read.parquet(f"{outs[0]}/dictionary")
    db = spark.read.parquet(f"{outs[1]}/dictionary")
    assert da.exceptAll(db).count() == 0 and db.exceptAll(da).count() == 0


def test_merge_rejects_stale_shards(spark, corpus, tmp_path):
    """ADVICE r1: reusing an out_dir with changed n_parts must not silently
    merge stale shards — shrinking the partition count leaves a stray part
    dir, and the merge lineage gate fails loudly."""
    out = str(tmp_path / "idx_stale")
    build_index(spark, corpus, out, n_parts=3, block_size=16, n_buckets=2)
    with pytest.raises(ValueError, match="stray shard dirs"):
        build_index(spark, corpus, out, n_parts=2, block_size=16, n_buckets=2)


def test_param_change_rebuilds_not_resumes(spark, corpus, tmp_path):
    """Changing a build-affecting param invalidates the fingerprint: the
    second build REBUILDS every partition instead of skipping as done."""
    out = str(tmp_path / "idx_params")
    build_index(spark, corpus, out, n_parts=2, block_size=16, n_buckets=2)
    res = build_index(spark, corpus, out, n_parts=2, block_size=32, n_buckets=2)
    assert res.skipped_parts == []
    assert res.built_parts == [0, 1]


def test_warm_top_terms(spark, corpus, index_dir):
    """Opt-in head-term warmer (VERDICT r5 #4): warming loads + decodes
    the top-df terms' payloads at open so a head-term query issues ZERO
    payload scans afterwards; results stay identical to a lazy searcher,
    and the default searcher stays lazy (no warm_info)."""
    from tesserae_ng_spark.query.search import Searcher

    lazy = Searcher(index_dir)
    assert lazy.warm_info is None

    warm = Searcher(index_dir, warm_mb=64)
    assert warm.warm_info["terms"] > 0
    # the corpus head term is inside any 64 MB budget at this scale
    head = max(
        warm.reader._dict_cache.values(), key=lambda r: r["df"]
    )["term"]
    scans_before = warm.reader.payload_scans
    got = warm.search(head, k=10)
    assert warm.reader.payload_scans == scans_before  # served from warm set
    want = lazy.search(head, k=10)
    assert [(h.doc_id, h.score) for h in got] == [
        (h.doc_id, h.score) for h in want
    ]
    # multi-term queries over warmed terms also stay scan-free
    terms2 = sorted(
        warm.reader._dict_cache.values(), key=lambda r: -r["df"]
    )[:3]
    q = " ".join(r["term"] for r in terms2)
    scans_before = warm.reader.payload_scans
    got2 = warm.search(q, k=10)
    assert warm.reader.payload_scans == scans_before
    assert [(h.doc_id, round(h.score, 12)) for h in got2] == [
        (h.doc_id, round(h.score, 12)) for h in lazy.search(q, k=10)
    ]


def test_searcher_warming_ignores_environment(index_dir, monkeypatch):
    """Warming is a ``warm_mb`` argument only: a warm-budget variable in
    the driver's environment must not make every worker that opens a
    Searcher pre-decode head terms (batch and sharded executors stay
    lazy). The knob's name is assembled so that a source grep for
    removed knobs finds only code that reads them."""
    from tesserae_ng_spark.query.search import Searcher

    monkeypatch.setenv("_".join(("TNG", "WARM", "MB")), "64")
    assert Searcher(index_dir).warm_info is None


def test_open_and_search_leave_arrow_memory_pool_unchanged(index_dir):
    """Importing the package, opening an index and running a query leave
    the process's pyarrow memory pool as they found it. Runs in a fresh
    interpreter, without the removed allocator opt-in variable (its name
    assembled as in test_searcher_warming_ignores_environment), so no
    earlier test's process state counts."""
    import json
    import subprocess
    import sys

    import tesserae_ng_spark

    script = (
        "import json, sys\n"
        "import pyarrow as pa\n"
        "before = pa.default_memory_pool().backend_name\n"
        "import tesserae_ng_spark\n"
        "from tesserae_ng_spark.query.search import Searcher\n"
        "hits = Searcher(sys.argv[1]).search('join hash scan', k=5)\n"
        "print(json.dumps([before, pa.default_memory_pool().backend_name,"
        " len(hits)]))\n"
    )
    opt_in = "_".join(("TNG", "MALLOC", "TUNE"))
    env = {k: v for k, v in os.environ.items() if k != opt_in}
    env["PYTHONPATH"] = os.path.dirname(
        os.path.dirname(tesserae_ng_spark.__file__)
    )
    out = subprocess.run(
        [sys.executable, "-c", script, index_dir], env=env,
        capture_output=True, text=True, check=True,
    ).stdout
    before, after, n_hits = json.loads(out.strip().splitlines()[-1])
    assert n_hits > 0
    assert after == before


def test_warm_top_terms_arrow_fallback_same_selection(index_dir):
    """The warmer has ONE selection path (Arrow sort_indices + prefix cut)
    for pinned and unpinned (web-scale) dictionaries. At every budget both
    readers must warm the same terms — the top-n by (df desc, term asc) —
    a budget too small for even the top term still takes exactly that
    term, a cut inside a run of equal-df terms keeps the alphabetically
    first ones, and the selection never shrinks as the budget grows."""
    from tesserae_ng_spark.query.reader import IndexReader

    ranked = sorted(
        IndexReader(index_dir)._dict_cache.values(),
        key=lambda r: (-r["df"], r["term"]),
    )
    by_rank = [r["term"] for r in ranked]
    # a budget whose prefix cut falls INSIDE a run of equal-df terms, so
    # the term tie-break decides the selection (24 B/posting estimate)
    tie = next(
        i for i in range(1, len(ranked))
        if ranked[i - 1]["df"] == ranked[i]["df"]
    )
    tie_mb = 24.0 * sum(r["df"] for r in ranked[:tie]) / (1 << 20)
    prev = 0
    for budget_mb in sorted((1e-9, 0.001, 0.01, tie_mb, 64.0)):
        pinned = IndexReader(index_dir)
        assert pinned._dict_cache is not None
        fallback = IndexReader(index_dir, dict_pin_max_terms=0)
        assert fallback._dict_cache is None
        a = pinned.warm_top_terms(budget_mb)
        b = fallback.warm_top_terms(budget_mb)
        assert a == b, budget_mb
        n = b["terms"]
        assert n >= max(prev, 1), budget_mb
        prev = n
        want = sorted(by_rank[:n])
        assert sorted(pinned._term_cache) == want, budget_mb
        assert sorted(fallback._term_cache) == want, budget_mb
        if budget_mb == 1e-9:
            assert want == [by_rank[0]]
        if budget_mb == tie_mb:
            assert n == tie


POSITIONAL = [
    ("sort merge", "phrase"),
    ("hash join", "phrase"),
    ("hash join", "proximity"),
    ("sort merge join", "proximity"),
]


def _hits(searcher, q, mode="bm25"):
    return [
        (h.rank, h.doc_id, h.score)
        for h in searcher.search(q, k=10, mode=mode, window=6)
    ]


def _row_group_stats(path):
    """[(term, salt, block_id) min/max per row group, or None where a
    column has no statistics] of one parquet file, straight from its
    footer."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    col = {md.schema.column(j).name: j for j in range(md.num_columns)}
    out = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = {}
        for c in ("term", "salt", "block_id"):
            s = rg.column(col[c]).statistics if c in col else None
            st[c] = (s.min, s.max) if s is not None and s.has_min_max else None
        out.append(st)
    return out


@pytest.fixture(scope="module")
def small_rg_dir(index_dir, tmp_path_factory):
    """The fixture index with its postings and dictionary rewritten into
    4-row row groups (same ``bucket=b`` dirs, rows in term order), plus one
    file written without statistics in the head term's bucket holding
    another term's rows."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tesserae_ng_spark.query.reader import IndexReader

    out = str(tmp_path_factory.mktemp("small_rg") / "index")
    shutil.copytree(index_dir, out)
    head_bucket = IndexReader(index_dir).lookup(["the"])["the"]["bucket"]
    moved = None
    for bdir in sorted(glob.glob(f"{out}/postings/bucket=*")):
        files = sorted(glob.glob(f"{bdir}/*.parquet"))
        tbl = pa.concat_tables([pq.ParquetFile(f).read() for f in files])
        for f in files:
            os.remove(f)
        tbl = tbl.sort_by([("term", "ascending"), ("salt", "ascending"),
                           ("block_id", "ascending")])
        if bdir.endswith(f"bucket={head_bucket}"):
            moved = max(t for t in tbl.column("term").to_pylist() if t != "the")
            is_moved = pc.equal(tbl.column("term"), moved)
            pq.write_table(tbl.filter(is_moved), f"{bdir}/part-nostats.parquet",
                           write_statistics=False)
            tbl = tbl.filter(pc.invert(is_moved))
        pq.write_table(tbl, f"{bdir}/part-00000.parquet", row_group_size=4)
    (dict_file,) = glob.glob(f"{out}/dictionary/*.parquet")
    tbl = pq.ParquetFile(dict_file).read()
    os.remove(dict_file)
    pq.write_table(tbl.sort_by("term"), f"{out}/dictionary/part-00000.parquet",
                   row_group_size=4)
    assert moved is not None
    return out, head_bucket, moved


def test_footer_pruned_reads_small_row_groups(index_dir, small_rg_dir):
    """Footer pruning on an index of many small row groups: results equal
    the original index's, a single-term fetch reads only the row groups
    whose term range covers the term, a head-term payload load of a block
    window reads only the row groups whose (term, salt, block_id) ranges
    meet the window, and a row group without statistics is read whenever
    its bucket is touched."""
    import numpy as np

    from tesserae_ng_spark.query.reader import IndexReader

    small, head_bucket, moved = small_rg_dir
    ref, got = Searcher(index_dir), Searcher(small)
    for q in QUERIES:
        assert _hits(got, q) == _hits(ref, q), q
    for q, mode in POSITIONAL:
        assert _hits(got, q, mode) == _hits(ref, q, mode), (q, mode)

    bdir = f"{small}/postings/bucket={head_bucket}"
    stats = [
        st for f in sorted(glob.glob(f"{bdir}/*.parquet"))
        for st in _row_group_stats(f)
    ]
    n_nostats = sum(st["term"] is None for st in stats)
    assert n_nostats == 1

    def covers(st, t):
        return st["term"] is None or st["term"][0] <= t <= st["term"][1]

    # single-term fetch: a bucket-mate of the head term (neither it nor
    # the term moved to the stats-less file)
    probe = next(
        t for t, row in sorted(IndexReader(index_dir)._dict_cache.items())
        if row["bucket"] == head_bucket and t not in ("the", moved)
    )
    want = sum(covers(st, probe) for st in stats)
    assert n_nostats < want < len(stats)
    r = IndexReader(small)
    r.fetch([probe])
    assert r.row_groups_read == want

    # unpinned dictionary lookup: same pruning on the term-sorted file
    (dict_file,) = glob.glob(f"{small}/dictionary/*.parquet")
    dstats = _row_group_stats(dict_file)
    fallback = IndexReader(small, dict_pin_max_terms=0)
    assert fallback.lookup([probe]) == r.lookup([probe])
    assert fallback.row_groups_read == sum(covers(st, probe) for st in dstats)
    assert fallback.row_groups_read < len(dstats)

    # head-term window load: the window's (salt, block_id) ranges prune
    # the head term's own row groups
    r = IndexReader(small)
    tp = r.fetch(["the"])["the"]
    assert tp.n_blocks > 8
    bi = tp.n_blocks // 2
    window = np.arange(bi // 4 * 4, min(bi // 4 * 4 + 4, tp.n_blocks))
    wanted = set(zip(tp.blk_salt[window].tolist(), tp.blk_id[window].tolist()))

    def meets_window(st):
        if st["salt"] is None or st["block_id"] is None:
            return True
        return any(
            st["salt"][0] <= s <= st["salt"][1]
            and st["block_id"][0] <= b <= st["block_id"][1]
            for s, b in wanted
        )

    head_groups = sum(covers(st, "the") for st in stats)
    want = sum(covers(st, "the") and meets_window(st) for st in stats)
    assert n_nostats < want < head_groups
    before = r.row_groups_read
    tp.ensure_payloads(window)
    assert r.row_groups_read - before == want
    assert r.payload_rows_scanned == window.size
    assert not tp._ids_miss[window].any()


def test_no_dataset_scan_after_open(index_dir, monkeypatch):
    """After open, lookups and bm25, phrase and proximity searches read
    through the footer index alone. pyarrow's Dataset is an immutable
    extension type whose methods cannot be patched, so every dataset the
    readers hold, and every one ``pyarrow.dataset.dataset`` opens after
    this point, is wrapped so that its scan methods raise; file discovery
    and schemas still pass through."""
    import pyarrow.dataset as ds

    from tesserae_ng_spark.query.reader import IndexReader

    terms = ["the", "window", "join", "totallyabsentterm"]
    ref = Searcher(index_dir)
    want_lookup = ref.reader.lookup(terms)
    want = {
        (q, mode): _hits(ref, q, mode)
        for q, mode in [(q, "bm25") for q in QUERIES] + POSITIONAL
    }
    readers = [IndexReader(index_dir), IndexReader(index_dir, dict_pin_max_terms=0)]

    class NoScan:
        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name in ("to_table", "scanner", "to_batches", "head", "take",
                        "count_rows"):
                raise AssertionError(f"dataset scan after open: {name}")
            return getattr(self._real, name)

    open_dataset = ds.dataset
    monkeypatch.setattr(ds, "dataset", lambda *a, **kw: NoScan(open_dataset(*a, **kw)))
    for r in readers:
        r._post_ds = NoScan(r._post_ds)
        r._dict_ds = NoScan(r._dict_ds)
        assert r.lookup(terms) == want_lookup
        s = Searcher.__new__(Searcher)
        s.reader, s.lang = r, "en"
        for (q, mode), hits in want.items():
            assert _hits(s, q, mode) == hits, (q, mode)


def _mate_in_same_groups(r, term):
    """A dictionary term of ``term``'s bucket (not ``term`` itself) whose
    footer-selected row groups are all among ``term``'s."""
    import numpy as np

    b = r.lookup([term])[term]["bucket"]
    r.fetch([term])  # loads the bucket's footer index
    fi = r._footers[b]

    def groups(t):
        return set(fi.select(np.array([t], dtype=object), None).tolist())

    own = groups(term)
    return next(
        t for t, row in sorted(r._dict_cache.items())
        if row["bucket"] == b and t != term and groups(t) <= own
    )


def test_bucket_mate_fetch_reads_no_row_group(index_dir):
    """After fetching a term, a term-cache miss on a bucket-mate in the
    same row groups is served from the resident row groups: no Parquet
    read, and the same block metadata as a fresh reader's."""
    import numpy as np

    from tesserae_ng_spark.query.reader import IndexReader

    r = IndexReader(index_dir)
    mate = _mate_in_same_groups(r, "the")
    before = r.row_groups_read
    assert before > 0
    got = r.fetch([mate])[mate]
    assert r.row_groups_read == before
    want = IndexReader(index_dir).fetch([mate])[mate]
    for f in ("blk_salt", "blk_id", "blk_n_docs", "blk_first", "blk_last",
              "blk_max_tf", "blk_min_dl"):
        assert np.array_equal(getattr(got, f), getattr(want, f)), f


def test_payload_load_adds_only_payload_columns(index_dir, monkeypatch):
    """A payload load after a metadata fetch of the same row groups reads
    each group once more, for the payload columns only; a positions load
    after that reads only ``positions``. Decoded postings equal a fresh
    reader's."""
    import numpy as np
    import pyarrow.parquet as pq

    from tesserae_ng_spark.query.reader import IndexReader

    reads = []
    real = pq.ParquetFile.read_row_group

    def spy(self, i, columns=None, **kw):
        reads.append((id(self), i, tuple(columns)))
        return real(self, i, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_group", spy)
    r = IndexReader(index_dir)
    tp = r.fetch(["the"])["the"]
    meta = list(reads)
    assert meta and all("doc_ids" not in c for _, _, c in meta)

    tp.ensure_payloads()
    pay = reads[len(meta):]
    assert pay
    assert {c for _, _, c in pay} == {("doc_ids", "tfs", "dls")}
    groups = [(f, i) for f, i, _ in pay]
    assert len(set(groups)) == len(groups)
    assert set(groups) <= {(f, i) for f, i, _ in meta}

    tp.ensure_payloads(with_positions=True)
    pos = reads[len(meta) + len(pay):]
    assert {c for _, _, c in pos} == {("positions",)}
    assert {(f, i) for f, i, _ in pos} <= set(groups)

    want = IndexReader(index_dir).fetch(["the"])["the"].decode_full(True)
    for a, b in zip(tp.decode_full(True), want):
        assert np.array_equal(a, b)


def test_zero_row_group_bound_reads_every_time(index_dir, monkeypatch):
    """With the resident bound at 0 no row group is kept: hits equal the
    default reader's, and a repeated term-cache miss reads Parquet
    again."""
    from tesserae_ng_spark.query import reader as reader_mod

    ref = Searcher(index_dir)
    want = {
        (q, mode): _hits(ref, q, mode)
        for q, mode in [(q, "bm25") for q in QUERIES] + POSITIONAL
    }
    monkeypatch.setattr(reader_mod, "ROW_GROUP_CACHE_BYTES", 0)
    s = Searcher(index_dir)
    for (q, mode), hits in want.items():
        assert _hits(s, q, mode) == hits, (q, mode)
    assert not s.reader._groups

    r = reader_mod.IndexReader(index_dir)
    mate = _mate_in_same_groups(r, "the")
    n = r.row_groups_read
    r.fetch([mate])
    assert r.row_groups_read > n
    n = r.row_groups_read
    r._term_cache.clear()
    r.fetch(["the"])
    assert r.row_groups_read > n


def test_row_group_bound_evicts_least_recent(index_dir, monkeypatch):
    """With a bound below the index's decoded size, resident row groups
    are evicted: the resident bytes never exceed the bound and hits equal
    the default reader's."""
    from tesserae_ng_spark.query import reader as reader_mod

    ref = Searcher(index_dir)
    cases = [(q, "bm25") for q in QUERIES] + POSITIONAL
    want = {c: _hits(ref, *c) for c in cases}
    sizes = [rg.nbytes for rg in ref.reader._groups.values()]
    bound = 2 * max(sizes)
    assert sum(sizes) > bound, "fixture must not fit under the bound"
    monkeypatch.setattr(reader_mod, "ROW_GROUP_CACHE_BYTES", bound)
    s = Searcher(index_dir)
    for c in cases:
        assert _hits(s, *c) == want[c], c
        groups = s.reader._groups.values()
        assert s.reader._group_bytes == sum(rg.nbytes for rg in groups)
        assert s.reader._group_bytes <= bound
    assert s.reader.row_groups_read > ref.reader.row_groups_read


def test_ensure_payloads_repeated_term_scans_each_row_once(index_dir):
    """A term listed twice in one bulk payload load (a phrase that repeats
    a term) scans each of its rows once: rows scanned == blocks loaded."""
    from tesserae_ng_spark.query.reader import IndexReader

    r = IndexReader(index_dir)
    tps = r.fetch(analyze_query("sort merge"))
    assert len(tps) == 2
    a, b = tps.values()
    r.ensure_payloads([a, b, a])
    assert r.payload_scans == 1
    assert r.payload_blocks_loaded == a.n_blocks + b.n_blocks
    assert r.payload_rows_scanned == r.payload_blocks_loaded


def test_unpinned_dictionary_with_a_very_long_term(spark, corpus, tmp_path):
    """The analyzer keeps any [a-z0-9]+ run, so a 20,000-character token
    reaches the dictionary. The unpinned lookup keeps the dictionary's row
    group resident at its Arrow size (no per-term index as wide as the
    longest term) and answers like the pinned lookup."""
    from tesserae_ng_spark.query.reader import IndexReader

    long_tok = "q" * 20_000
    src = corpus.orderBy("url").limit(40).withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.lit(long_tok))
    )
    out = str(tmp_path / "idx")
    build_index(spark, src, out, n_parts=1, n_buckets=2, block_size=16,
                use_stored_text=True)
    pinned = IndexReader(out)
    fallback = IndexReader(out, dict_pin_max_terms=0)
    assert fallback._dict_cache is None
    long_term = max(pinned._dict_cache, key=len)
    assert len(long_term) == len(long_tok)
    terms = [long_term, "the", "totallyabsentterm"]
    assert fallback.lookup(terms) == pinned.lookup(terms)
    assert 0 < fallback._group_bytes < 1 << 20

    s = Searcher.__new__(Searcher)
    s.reader, s.lang = fallback, "en"
    for q in (long_term, f"the {long_term}"):
        assert _hits(s, q) == _hits(Searcher(out), q), q
    assert len(_hits(s, long_term)) == 10


def test_fetch_joins_extended_and_fresh_row_groups(index_dir):
    """A row group first filled by a payload load (as after an eviction)
    gains the metadata columns on the next fetch; a fetch that reads it
    together with a freshly read group returns the same blocks as a fresh
    reader."""
    import numpy as np

    from tesserae_ng_spark.query.reader import IndexReader

    r = IndexReader(index_dir)
    b = r.lookup(["the"])["the"]["bucket"]
    other = next(t for t, row in sorted(r._dict_cache.items())
                 if row["bucket"] != b)
    tp = r.fetch(["the"])["the"]
    r._groups.clear()  # as if evicted
    r._group_bytes = 0
    tp.ensure_payloads()
    r._term_cache.clear()
    got = r.fetch(["the", other])
    fresh = IndexReader(index_dir).fetch(["the", other])
    for t in ("the", other):
        for f in ("blk_salt", "blk_id", "blk_n_docs", "blk_first",
                  "blk_last", "blk_max_tf", "blk_min_dl"):
            assert np.array_equal(getattr(got[t], f), getattr(fresh[t], f))
