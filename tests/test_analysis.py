"""Analyzer-chain unit + property tests (SURVEY.md §5.1, FIXTURES.md §4)."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tesserae_ng_spark.functions.analysis import analyze, analyze_query, tokenize
from tesserae_ng_spark.functions.html import extract_text, make_html
from tesserae_ng_spark.functions.stemmer import porter_stem


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------
def test_tokenize_basic():
    assert tokenize("The quick brown-fox, 42 times!") == [
        ("the", 0),
        ("quick", 1),
        ("brown", 2),
        ("fox", 3),
        ("42", 4),
        ("times", 5),
    ]


def test_tokenize_empty_and_nonascii():
    assert tokenize("") == []
    assert tokenize(None) == []
    assert tokenize("  \t\n ") == []
    # non-ASCII acts as a separator (spec: ASCII [a-z0-9] runs)
    assert tokenize("café bar") == [("caf", 0), ("bar", 1)]
    # non-BMP characters
    assert tokenize("a\U0001F600b") == [("a", 0), ("b", 1)]


# ---------------------------------------------------------------------------
# Porter stemmer — classic vectors from the published algorithm paper
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "word,stem",
    [
        ("caresses", "caress"),
        ("ponies", "poni"),
        ("ties", "ti"),
        ("caress", "caress"),
        ("cats", "cat"),
        ("feed", "feed"),
        ("agreed", "agre"),
        ("plastered", "plaster"),
        ("bled", "bled"),
        ("motoring", "motor"),
        ("sing", "sing"),
        ("conflated", "conflat"),
        ("troubled", "troubl"),
        ("sized", "size"),
        ("hopping", "hop"),
        ("tanned", "tan"),
        ("falling", "fall"),
        ("hissing", "hiss"),
        ("fizzed", "fizz"),
        ("failing", "fail"),
        ("filing", "file"),
        ("happy", "happi"),
        ("sky", "sky"),
        ("relational", "relat"),
        ("conditional", "condit"),
        ("rational", "ration"),
        ("valenci", "valenc"),
        ("digitizer", "digit"),
        ("conformabli", "conform"),
        ("radicalli", "radic"),
        ("differentli", "differ"),
        ("vileli", "vile"),
        ("analogousli", "analog"),
        ("vietnamization", "vietnam"),
        ("predication", "predic"),
        ("operator", "oper"),
        ("feudalism", "feudal"),
        ("decisiveness", "decis"),
        ("hopefulness", "hope"),
        ("callousness", "callous"),
        ("formaliti", "formal"),
        ("sensitiviti", "sensit"),
        ("sensibiliti", "sensibl"),
        ("triplicate", "triplic"),
        ("formative", "form"),
        ("formalize", "formal"),
        ("electriciti", "electr"),
        ("electrical", "electr"),
        ("hopeful", "hope"),
        ("goodness", "good"),
        ("revival", "reviv"),
        ("allowance", "allow"),
        ("inference", "infer"),
        ("airliner", "airlin"),
        ("gyroscopic", "gyroscop"),
        ("adjustable", "adjust"),
        ("defensible", "defens"),
        ("irritant", "irrit"),
        ("replacement", "replac"),
        ("adjustment", "adjust"),
        ("dependent", "depend"),
        ("adoption", "adopt"),
        ("homologou", "homolog"),
        ("communism", "commun"),
        ("activate", "activ"),
        ("angulariti", "angular"),
        ("homologous", "homolog"),
        ("effective", "effect"),
        ("bowdlerize", "bowdler"),
        ("probate", "probat"),
        ("rate", "rate"),
        ("cease", "ceas"),
        ("controll", "control"),
        ("roll", "roll"),
    ],
)
def test_porter_vectors(word, stem):
    assert porter_stem(word) == stem


def test_analyze_lang_gate():
    # stemming only for en; identity otherwise
    assert analyze("running quickly", "en") == [("run", 0), ("quickli", 1)]
    assert analyze("running quickly", "es") == [("running", 0), ("quickly", 1)]
    assert analyze_query("Running QUICKLY") == ["run", "quickli"]


# ---------------------------------------------------------------------------
# The process-wide stem memo
# ---------------------------------------------------------------------------
def _memo_free(text, lang="en"):
    """The chain without the memo: porter_stem on every token."""
    toks = tokenize(text)
    return [(porter_stem(t), p) for t, p in toks] if lang == "en" else toks


def test_memoized_analysis_equals_memo_free_chain():
    """Repeated, distinct, non-en and over-long tokens: the memoized chain
    returns exactly what stemming every token afresh does, on a cold and
    on a warm memo."""
    from tesserae_ng_spark.functions import analysis

    long_tok = "relational" * (analysis.STEM_MEMO_MAX_TOKEN // 10 + 1)
    text = (
        "Running runs RUNNING connections connection generalizations "
        f"caresses ponies 42 {long_tok} running {long_tok}s Running"
    )
    analysis._stem_memo.cache_clear()
    for lang in ("en", "en", "es", None):
        want = _memo_free(text, lang)
        assert analyze(text, lang) == want
        assert analyze_query(text, lang) == [t for t, _ in want]
    assert analyze(text, "es") == tokenize(text)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcdefgiklmnorstuyz0 -", max_size=200))
def test_memoized_analysis_property(text):
    assert analyze(text) == _memo_free(text)


def test_stem_memo_is_bounded_and_skips_long_tokens():
    """The memo's bound is a module constant, and a token longer than
    STEM_MEMO_MAX_TOKEN is stemmed without entering it (a 20,000-character
    token, as the long-term index tests write, must not stay pinned)."""
    from tesserae_ng_spark.functions import analysis

    assert analysis._stem_memo.cache_info().maxsize == analysis.STEM_MEMO_SIZE
    assert analysis.STEM_MEMO_SIZE == 1 << 16
    analysis._stem_memo.cache_clear()
    long_tok = "x" * 20_000
    at_bound = "generalizations" + "s" * (analysis.STEM_MEMO_MAX_TOKEN - 15)
    assert analyze_query(long_tok) == [porter_stem(long_tok)]
    info = analysis._stem_memo.cache_info()
    assert (info.hits, info.misses, info.currsize) == (0, 0, 0)
    assert analyze_query(f"{at_bound} {at_bound}") == [porter_stem(at_bound)] * 2
    info = analysis._stem_memo.cache_info()
    assert (info.hits, info.misses, info.currsize) == (1, 1, 1)


def test_analyze_udf_rows_equal_memo_free_chain(spark):
    """The ``stem`` key's UDF returns the memo-free chain's rows."""
    from tesserae_ng_spark.functions.analysis import analyze_udf

    texts = [
        ("Running runs RUNNING connections", "en"),
        ("Running runs", "es"),
        ("x" * 20_000 + " ponies", "en"),
        ("", "en"),
        (None, "en"),
    ]
    df = spark.createDataFrame(texts, "text string, lang string")
    got = [
        [(r["term"], r["pos"]) for r in row["toks"]]
        for row in df.select(analyze_udf("text", "lang").alias("toks")).collect()
    ]
    assert got == [_memo_free(t, lg) for t, lg in texts]


# ---------------------------------------------------------------------------
# HTML extractor — spec cases + generator round-trip property
# ---------------------------------------------------------------------------
def test_extract_basic():
    html = b"<html><head><title>T</title></head><body><p>Hello</p><p> world</p></body></html>"
    assert extract_text(html) == "Hello world"


def test_extract_skips_boilerplate():
    html = (
        b"<html><head><style>p{}</style></head><body>"
        b"<nav><a href='/'>Home</a></nav>"
        b"<p>keep me</p>"
        b"<script>var x = '<p>not text</p>';</script>"
        b"<footer>(c) nope</footer></body></html>"
    )
    assert extract_text(html) == "keep me"


def test_extract_entities_and_edge_cases():
    assert extract_text(b"<p>a &amp; b &lt;c&gt; &#65; &#x42;</p>") == "a & b <c> A B"
    assert extract_text(b"") == ""
    assert extract_text(None) == ""
    assert extract_text(b"no tags at all") == "no tags at all"
    assert extract_text(b"<p>1 < 2 ok</p>") == "1 < 2 ok"  # bare '<' literal
    assert extract_text(b"<!-- c --><p>x</p><!DOCTYPE html>") == "x"
    # unclosed skip-element drops the rest
    assert extract_text(b"<p>a</p><script>rest") == "a"
    # nested non-raw skip elements
    assert extract_text(b"<nav>a<nav>b</nav>c</nav><p>d</p>") == "d"


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        max_size=400,
    ),
    st.integers(min_value=0, max_value=10_000_000),
)
@settings(max_examples=300, deadline=None)
def test_generator_extractor_roundtrip(text, doc_id):
    """Byte-identity contract: extract_text(make_html(text)) == text."""
    assert extract_text(make_html(doc_id, "src7", text)) == text


def test_roundtrip_html_ish_text():
    # text that itself contains markup-looking bytes must survive escaping
    t = "x < y & z > w <script>alert(1)</script> &amp; done"
    assert extract_text(make_html(1, "s", t)) == t


def test_lang_id_rank_profiles():
    """Cavnar-Trenkle rank-profile classifier: correct on real sample
    sentences per supported language; 'und' on empty/degenerate input."""
    import pandas as pd

    from tesserae_ng_spark.operators.text import batch_lang_id

    samples = {
        "en": "the quick brown fox jumps over the lazy dog and runs into the forest",
        "es": "el rapido zorro marron salta sobre el perro perezoso y corre hacia el bosque",
        "fr": "le renard brun rapide saute par dessus le chien paresseux et court dans la foret",
        "de": "der schnelle braune fuchs springt uber den faulen hund und lauft in den wald",
    }
    got = batch_lang_id(pd.Series(list(samples.values())))
    assert got.tolist() == list(samples)
    assert batch_lang_id(pd.Series(["", None, "xq"])).tolist() == ["und"] * 3
