"""Correctness checks, run outside the timed windows.

- union ``search_batch`` and ``search_sharded`` agree per query on
  (rank, doc_id), with scores within ``SCORE_TOL`` (the sharded phrase score
  multiplies in idf after the merge, so it is only within 1e-9 of the
  union score);
- every interactive top-k equals the union batch rows for the same query;
- a sample of bm25 queries matches the exhaustive DataFrame oracle;
- ``bm25_exhaustive`` and ``ann_bruteforce_topk`` match their DuckDB oracle
  SQL on row count and an order-insensitive hash;
- ``dedup_minhash_lsh`` and ``lang_id`` have no oracle: on sf0.1 they must
  reproduce the row count and hash in ``PINNED``.

Row counts and hashes are ``tools/check_oracle.canon``'s.
"""

from __future__ import annotations

from tools.check_oracle import canon

SCORE_TOL = 1e-9

# (rows, hash) on sf0.1, recorded with the engine as first benchmarked
PINNED = {
    "dedup_minhash_lsh": (5256, "7e7cc8ef9b62c26a"),
    "lang_id": (5000, "60b5df92b944e48a"),
}


def by_query(rows) -> dict[int, list[tuple]]:
    """``(query_id, rank, doc_id, score)`` rows → query_id → ranked hits."""
    out: dict[int, list[tuple]] = {}
    for qid, rank, doc, score in rows:
        out.setdefault(qid, []).append((rank, doc, score))
    for hits in out.values():
        hits.sort()
    return out


def same_hits(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(
        ra == rb and da == db and abs(sa - sb) <= SCORE_TOL
        for (ra, da, sa), (rb, db, sb) in zip(a, b)
    )


def mismatched(want: dict, got: dict, qids) -> list[int]:
    """Query ids whose hits differ between two ``by_query`` results."""
    return [q for q in qids if not same_hits(want.get(q, []), got.get(q, []))]


def canon_hash(df) -> tuple[int, str]:
    """Row count and order-insensitive hash of a result table."""
    n, _, h = canon(df)
    return n, h


def duckdb_oracle(sql: str, tables_dir: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        return canon_hash(con.sql(sql).df())
    finally:
        con.close()
