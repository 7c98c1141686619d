import ast
import os

import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import functions as F

import document_parsing_etl_pipeline_spark as pkg
from document_parsing_etl_pipeline_spark.operators import entities
from document_parsing_etl_pipeline_spark.operators import text_analysis as ta
from document_parsing_etl_pipeline_spark.operators.parse import (
    document_metadata, normalize_documents, normalized_text, tokens, words,
)

from conftest import SF_DIR


def _docs(spark, *texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t))
         for i, t in enumerate(texts)]
    )


def test_normalize(spark):
    df = normalize_documents(_docs(spark, "  Hello   World\t! "))
    assert df.collect()[0].norm_text == "hello world !"


def test_token_rule_is_java_whitespace(spark):
    # (text, words, tokens, normalized_text). Python str.split() splits
    # every case below; Spark splits only on [ \t\n\x0B\f\r], and
    # DuckDB's RE2 \S+ additionally keeps \x0B inside a token.
    cases = [
        ("A\xa0B c", ["A\xa0B", "c"], ["a\xa0b", "c"], "a\xa0b c"),
        ("A\x85B", ["A\x85B"], ["a\x85b"], "a\x85b"),
        ("A\x1cB", ["A\x1cB"], ["a\x1cb"], "a\x1cb"),
        ("A\u2003B", ["A\u2003B"], ["a\u2003b"], "a\u2003b"),
        ("A\u3000B", ["A\u3000B"], ["a\u3000b"], "a\u3000b"),
        ("A\x0bB", ["A", "B"], ["a", "b"], "a b"),
        (" \t\n\r\x0c\x0b", [], [], ""),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "text string")
    got = df.select(
        "text", words("text").alias("w"), tokens("text").alias("t"),
        normalized_text(F.col("text")).alias("n"),
    ).collect()
    assert [(r.text, r.w, r.t, r.n) for r in got] == cases


def test_testdata_text_has_only_shared_whitespace():
    # Spark and the DuckDB oracle split \x0B differently, and both keep
    # non-ASCII whitespace inside tokens where str.split() splits (see
    # parse.words): hash parity and str.split() parity of token-based
    # queries hold only while the corpora contain neither.
    shared = set(" \t\n\r\x0c")
    for sf in (SF_DIR, os.path.join(os.path.dirname(SF_DIR), "sf0.01")):
        texts = pq.read_table(
            f"{sf}/documents.parquet", columns=["text"]
        ).column("text").to_pylist()
        bad = [t for t in texts
               if any(c.isspace() and c not in shared for c in t)]
        assert len(texts) > 0 and bad == [], (sf, len(bad))


def _str_value(node):
    """The text of a string literal or f-string, else None."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(v.value for v in node.values
                       if isinstance(v, ast.Constant))
    return None


def _tokenize_sites(tree):
    """Lines of Spark-side tokenizations: regexp_extract_all with a
    \\S+ pattern literal (bare or in F.lit), or an F.expr string that
    calls regexp_extract_all with \\S+. Oracle SQL is never an F.expr
    argument, so the DuckDB reference strings are not counted."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
            fn, "id", "")
        if name == "regexp_extract_all":
            for a in node.args[1:2] + [k.value for k in node.keywords
                                       if k.arg == "regexp"]:
                if isinstance(a, ast.Call) and a.args:  # F.lit(...)
                    a = a.args[0]
                if _str_value(a) == r"\S+":
                    yield node.lineno
        elif name == "expr":
            text = "".join(_str_value(a) or "" for a in node.args)
            if "regexp_extract_all(" in text and r"\S+" in text:
                yield node.lineno


def test_token_rule_lives_only_in_parse():
    root = os.path.dirname(pkg.__file__)
    owner = os.path.join(root, "operators", "parse.py")
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            if not f.endswith(".py") or path == owner:
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            found += [f"{os.path.relpath(path, root)}:{n}"
                      for n in _tokenize_sites(tree)]
    assert found == [], "tokenize via operators/parse.py: " + str(found)


def test_metadata_counts(spark):
    r = document_metadata(_docs(spark, "a b c")).collect()[0]
    assert (r.char_count, r.word_count, r.size_bucket) == (5, 3, "small")


def test_entity_extraction(spark):
    df = _docs(spark, "Daniel Syahputra met customer on 2024-02-13 in jakarta")
    r = entities.extract_entities(df, text_col="text").collect()[0]
    assert r.persons == ["Daniel Syahputra"]
    assert r.organizations == ["customer"]
    assert r.dates == ["2024-02-13"]
    assert r.locations == ["jakarta"]
    assert r.n_misc > 0  # numbers from the date digits


def test_entity_rollup(spark):
    df = _docs(spark, "customer customer spark", "nation")
    rows = entities.entity_rollup(df, text_col="text").collect()
    freq = {(r.entity_type, r.term): r.occurrences for r in rows}
    assert freq[("organization", "customer")] == 2
    assert freq[("organization", "spark")] == 1
    assert freq[("location", "nation")] == 1


def test_language_id_prefers_matching_stopwords(spark):
    df = _docs(spark, "el la los de y hola", "the cat and the hat")
    rows = {r.doc_id: r.pred_lang for r in ta.language_id(df).collect()}
    assert rows[0] == "es"
    assert rows[1] == "en"


def test_quality_score_ranges(spark):
    r = ta.quality_score(_docs(spark, "the the the")).collect()[0]
    assert r.unique_ratio == round(1 / 3, 4)
    assert r.stopword_ratio == 1.0


def test_token_counts(spark):
    r = ta.token_counts(_docs(spark, "ab, cd 12")).collect()[0]
    assert r.ws_tokens == 3
    assert r.bpe_tokens == 4  # ab , cd 12


def test_fingerprint_stable_and_content_sensitive(spark):
    df = _docs(spark, "a b c d e f", "a b c d e f", "x y z w v u")
    rows = ta.fingerprint(df).collect()
    fps = {r.doc_id: r.fp for r in rows}
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def test_pii_redaction(spark):
    df = _docs(spark, "mail me at jane.doe@example.com or call +1 (555) 123-4567, ssn 123-45-6789")
    r = ta.pii_redact(df).collect()[0]
    assert (r.n_emails, r.n_phones, r.n_ssns) == (1, 1, 1)
    assert "[EMAIL]" in r.redacted_text and "[PHONE]" in r.redacted_text
    assert "example.com" not in r.redacted_text
    assert "123-45-6789" not in r.redacted_text


def test_top_bigrams(spark):
    df = _docs(spark, "big data big data small", "big data")
    rows = ta.top_bigrams(df, top_k=2).collect()
    assert rows[0].bigram == "big data" and rows[0].occurrences == 3


def test_top_ngrams_trigram(spark):
    df = _docs(spark, "a b c a b c", "a b c")
    rows = ta.top_ngrams(df, n=3, top_k=3).collect()
    assert rows[0].ngram == "a b c" and rows[0].occurrences == 3


def test_repetition_ratio_flags_dominant_token(spark):
    df = _docs(spark, "spam spam spam spam ok", "a b c d e")
    rows = {r.doc_id: r for r in ta.repetition_ratio(df).collect()}
    assert rows[0].max_tf == 4 and rows[0].n_tokens == 5
    assert rows[0].is_repetitive is True
    assert rows[1].top_token_ratio == 0.2 and rows[1].is_repetitive is False


def test_gopher_quality_keeps_clean_prose(spark):
    clean = " ".join(f"word{i}" for i in range(50))
    symbols = "# " * 50
    short = "too short"
    rows = {r.doc_id: r for r in
            ta.gopher_quality(_docs(spark, clean, symbols, short)).collect()}
    assert rows[0].keep is True
    assert rows[0].n_words == 50
    # '#' tokens: symbol_ratio 1.0 and no alphabetic words -> dropped
    assert rows[1].keep is False and rows[1].alpha_frac == 0.0
    # 2 words < 40 -> dropped despite clean text
    assert rows[2].keep is False and rows[2].n_words == 2


def test_gopher_bullet_and_ellipsis_lines(spark):
    t = "- one\n- two\n- three\nplain..."
    r = ta.gopher_quality(_docs(spark, t)).collect()[0]
    assert r.bullet_ratio == 0.75
    assert r.ellipsis_ratio == 0.25
