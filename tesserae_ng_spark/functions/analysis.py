"""Tokenizer + analyzer chain (SURVEY.md §2.8).

Chain shape mirrors tesserae-ng's Solr ``text_la`` analyzer
(tokenizer → lowercase → custom lemma/stem filter; SURVEY.md §2.8):

    text --lowercase--> split on ``[^a-z0-9]+`` --> (term, pos) stream
         --stem (Porter, lang='en'; identity otherwise)--> final terms

Tokenizer spec (deterministic AND cross-engine replicable — the DuckDB
oracle re-expresses it as ``regexp_split_to_array(lower(text),
'[^a-z0-9]+')``, Spark as ``split(lower(text), '[^a-z0-9]+')``):
tokens are maximal runs of ASCII ``[a-z0-9]`` over the lowercased text;
every other character (incl. non-ASCII) is a separator. Positions are
0-based token ordinals (Lucene position semantics — phrase adjacency is
``pos2 == pos1 + 1``).

Both a pure-Python path (query analysis, in-process, no Spark) and an
Arrow-vectorized pandas UDF path (bulk indexing) are provided; they are
the SAME function, so index terms and query terms always agree. Every
caller stems through one bounded, process-wide memo (``_stem_memo``):
a token is stemmed once per process, not once per call or per batch.
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tesserae_ng_spark.functions.stemmer import porter_stem

_TOKEN_RE = re.compile(r"[a-z0-9]+")

TOKEN_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )
)


def tokenize(text: str | None) -> list[tuple[str, int]]:
    """Lowercase + split; returns [(term, position), ...]."""
    if not text:
        return []
    return [(m.group(0), i) for i, m in enumerate(_TOKEN_RE.finditer(text.lower()))]


# The stem memo: token → Porter stem, shared by query analysis and the
# build UDFs of one process. Terms are Zipf-distributed, so a bounded LRU
# keeps the head resident (hit rates near 1 on a query batch) while a
# web-scale vocabulary's tail evicts. Tokens longer than
# STEM_MEMO_MAX_TOKEN skip it: the memo lives as long as the process
# (a reused Python worker), and would otherwise pin long junk tokens
# (URLs, base64 runs) for that long.
STEM_MEMO_SIZE = 1 << 16
STEM_MEMO_MAX_TOKEN = 32


@functools.lru_cache(maxsize=STEM_MEMO_SIZE)
def _stem_memo(term: str) -> str:
    return porter_stem(term)


def analyze(text: str | None, lang: str | None = "en") -> list[tuple[str, int]]:
    """Full chain: tokenize then stem (Porter iff lang == 'en'), through
    the process-wide stem memo."""
    toks = tokenize(text)
    if lang != "en" or not toks:
        return toks
    return [
        (_stem_memo(t) if len(t) <= STEM_MEMO_MAX_TOKEN else porter_stem(t), p)
        for t, p in toks
    ]


def analyze_query(query_text: str, lang: str = "en") -> list[str]:
    """Query-side analysis: same chain, terms only (order preserved)."""
    return [t for t, _ in analyze(query_text, lang)]


# ---------------------------------------------------------------------------
# Arrow-vectorized UDFs (bulk indexing path). They stem through the same
# process-wide memo as queries, so a reused Python worker stems the Zipf
# head once for all its batches, not once per Arrow batch.
# ---------------------------------------------------------------------------


@F.pandas_udf(TOKEN_STRUCT)
def tokenize_udf(text: pd.Series) -> pd.Series:
    return text.map(tokenize)


def analyze_udf_factory():
    """Build the (text, lang) → tokens UDF. Factory so each Spark plan gets
    a fresh closure."""

    @F.pandas_udf(TOKEN_STRUCT)
    def _analyze(text: pd.Series, lang: pd.Series) -> pd.Series:
        return pd.Series([analyze(t, lg) for t, lg in zip(text, lang)])

    return _analyze


analyze_udf = analyze_udf_factory()


# ---------------------------------------------------------------------------
# Document-at-a-time term aggregation (the Lucene term-vector shape):
# tf + positions grouped per term INSIDE the UDF, so the index build needs
# no token-level shuffle at all — (doc, term, tf, positions) rows come out
# of the scan stage directly (SURVEY.md §3.1 stage 3-4 fused).
#
# Two output layouts:
# - DOC_TERMS_STRUCT: array<struct<term,tf,positions:array<int>>> — the
#   logical/oracle shape (readable positions).
# - DOC_VECTOR_STRUCT: flat primitive arrays + ONE varint position stream
#   per doc — the INDEX BUILD shape. Nested list-of-struct columns cost
#   ~10× more to cross the Arrow boundary than primitive arrays + a single
#   binary blob; downstream the JVM explodes arrays_zip and slices the
#   stream with substring(pos, off, len) — zero Python per posting.
# ---------------------------------------------------------------------------

DOC_TERMS_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("tf", T.IntegerType(), False),
            T.StructField("positions", T.ArrayType(T.IntegerType()), False),
        ]
    )
)


def doc_terms(text: str | None,
              lang: str | None = "en") -> list[tuple[str, int, list[int]]]:
    """Per-doc term vector: sorted [(term, tf, positions)], positions asc."""
    toks = analyze(text, lang)
    agg: dict[str, list[int]] = {}
    for term, pos in toks:
        agg.setdefault(term, []).append(pos)
    return [(t, len(ps), ps) for t, ps in sorted(agg.items())]


def doc_terms_udf_factory():
    @F.pandas_udf(DOC_TERMS_STRUCT)
    def _doc_terms(text: pd.Series, lang: pd.Series) -> pd.Series:
        return pd.Series([doc_terms(t, lg) for t, lg in zip(text, lang)])

    return _doc_terms


doc_terms_udf = doc_terms_udf_factory()


DOC_VECTOR_STRUCT = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType()), False),
        T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
        T.StructField("offs", T.ArrayType(T.IntegerType()), False),
        T.StructField("lens", T.ArrayType(T.IntegerType()), False),
        T.StructField("pos", T.BinaryType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)


def _varint_delta_into(ps: list[int], out: bytearray) -> None:
    """Append [abs(first), gaps...] as LEB128 to ``out`` — identical stream
    layout to index.codec.encode_positions (decode_positions reads both)."""
    prev = 0
    first = True
    for p in ps:
        v = p if first else p - prev
        first = False
        prev = p
        while v >= 0x80:
            out.append((v & 0x7F) | 0x80)
            v >>= 7
        out.append(v)


def doc_vector(text: str | None, lang: str | None = "en") -> tuple:
    """Flat per-doc term vector: (terms, tfs, offs, lens, pos_stream, dl),
    terms sorted; per-term positions occupy pos_stream[offs[i]:offs[i]+lens[i]]."""
    toks = analyze(text, lang)
    agg: dict[str, list[int]] = {}
    for term, pos in toks:
        agg.setdefault(term, []).append(pos)
    terms: list[str] = []
    tfs: list[int] = []
    offs: list[int] = []
    lens: list[int] = []
    buf = bytearray()
    for t in sorted(agg):
        ps = agg[t]
        off = len(buf)
        _varint_delta_into(ps, buf)
        terms.append(t)
        tfs.append(len(ps))
        offs.append(off)
        lens.append(len(buf) - off)
    return (terms, tfs, offs, lens, bytes(buf), len(toks))


def doc_vector_udf_factory():
    # NOTE (r6, VERDICT r5 #2 measured negative result): a fully
    # batch-vectorized variant (tokens factorized C-side, Porter on
    # distinct forms only, ONE lexsort for per-doc aggregation, ONE
    # whole-batch varint encode) produced byte-identical rows but ran
    # 0.91x the per-doc path at this corpus shape (~56 tokens/doc —
    # numpy/pandas per-doc overheads exceed the per-token Python they
    # remove; the Zipf stem memo already makes stemming ~free). Deleted
    # rather than kept as dead code; see SURVEY §perf notes.
    @F.pandas_udf(DOC_VECTOR_STRUCT)
    def _doc_vec(text: pd.Series, lang: pd.Series) -> pd.DataFrame:
        rows = [doc_vector(t, lg) for t, lg in zip(text, lang)]
        return pd.DataFrame(
            rows, columns=["terms", "tfs", "offs", "lens", "pos", "dl"]
        )

    return _doc_vec


doc_vector_udf = doc_vector_udf_factory()


def doc_vector_from_html_udf_factory():
    """FUSED html→text→term-vector UDF (the production build path).

    Chaining html_extract_udf and doc_vector_udf as separate pandas UDFs
    makes the extracted text cross the Arrow boundary twice (JVM→py html,
    py→JVM text, JVM→py text, py→JVM vectors). Fusing halves the bytes
    moved per doc — this pipeline is memory-bandwidth-bound at high thread
    counts (BENCH/BASELINE.md), so Arrow traffic is the scaling currency.
    Extraction semantics are IDENTICAL (same extract_text function that
    backs the byte-identity-checked html_extract key)."""
    from tesserae_ng_spark.functions.html import extract_text

    @F.pandas_udf(DOC_VECTOR_STRUCT)
    def _doc_vec_html(html: pd.Series, lang: pd.Series) -> pd.DataFrame:
        rows = [doc_vector(extract_text(h), lg) for h, lg in zip(html, lang)]
        return pd.DataFrame(
            rows, columns=["terms", "tfs", "offs", "lens", "pos", "dl"]
        )

    return _doc_vec_html


doc_vector_from_html_udf = doc_vector_from_html_udf_factory()
