"""Tokenizer golden cases + Arrow/Catalyst parity (SURVEY.md §5 test plan).

Mirrors the reference's operator-level golden testing style
(``/root/reference/transform/transform_test.go:11-101``: full fixture → exact
expected output).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dp_search_data_importer_spark.functions.tokenize import (
    _code_tokens_py,
    _simple_tokens_py,
    simple_term_freqs,
    tokenize_code_expr,
    tokenize_expr,
)
from dp_search_data_importer_spark.operators.postings import term_freqs_sql

GOLDEN_SIMPLE = [
    ("Hello, World!", ["hello", "world"]),
    ("", []),
    ("  --  ", []),
    ("a1 b2  c3", ["a1", "b2", "c3"]),
    ("UPPER lower MiXeD", ["upper", "lower", "mixed"]),
]

GOLDEN_CODE = [
    ("getUserName", ["get", "user", "name"]),
    ("snake_case_name", ["snake", "case", "name"]),
    ("pkg.mod.Fn", ["pkg", "mod", "fn"]),
    ("HTTPServer2x", ["http", "server2x"]),
    ("def parseJSON(x): return x", ["def", "parse", "json", "x", "return", "x"]),
]


def _run_expr(spark, expr_fn, texts):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [r[0] for r in df.select(expr_fn("text")).collect()]


def test_simple_tokenizer_golden(spark):
    got = _run_expr(spark, tokenize_expr, [t for t, _ in GOLDEN_SIMPLE])
    assert got == [e for _, e in GOLDEN_SIMPLE]


def test_code_tokenizer_golden(spark):
    got = _run_expr(spark, tokenize_code_expr, [t for t, _ in GOLDEN_CODE])
    assert got == [e for _, e in GOLDEN_CODE]


def test_python_twin_matches_catalyst(spark):
    """The Arrow UDF's Python tokenizer must agree with the Catalyst exprs."""
    texts = [t for t, _ in GOLDEN_SIMPLE + GOLDEN_CODE] + [
        "embeddedCamel_and_snake.dotted Path99",
    ]
    assert _run_expr(spark, tokenize_expr, texts) == [
        _simple_tokens_py(t) for t in texts
    ]
    assert _run_expr(spark, tokenize_code_expr, texts) == [
        _code_tokens_py(t) for t in texts
    ]


def test_arrow_term_freqs_equals_sql_term_freqs(spark, sf_dir):
    """Map-side Arrow tf path ≡ pure-Catalyst explode/groupBy path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = simple_term_freqs(docs, id_col="doc_id", text_col="text")
    b = term_freqs_sql(docs, id_col="doc_id", text_col="text")
    sym_diff = a.exceptAll(b).union(b.exceptAll(a))
    assert sym_diff.count() == 0
    assert a.count() > 0


def test_tokenizer_no_rowwise_udf():
    """input_hint: no per-row Python UDFs on the data path — the module must
    never call pyspark.sql.functions.udf."""
    import inspect

    import dp_search_data_importer_spark.functions.tokenize as tok

    src = inspect.getsource(tok)
    assert "F.udf(" not in src and "functions.udf(" not in src


def test_code_aware_arrow_equals_sql(spark, corpus):
    """Code-aware variants too: Arrow Counter path ≡ Catalyst
    regexp_replace+explode path (the Catalyst twin is the oracle of the
    Arrow tokenizer that build_index and upsert_docs run)."""
    from dp_search_data_importer_spark.functions.tokenize import code_term_freqs
    from dp_search_data_importer_spark.operators.ingest import (
        normalize_repo_files,
    )

    docs = normalize_repo_files(corpus).select("doc_id", "content")
    a = code_term_freqs(docs, id_col="doc_id", text_col="content")
    b = term_freqs_sql(docs, id_col="doc_id", text_col="content",
                       code_aware=True)
    sym_diff = a.exceptAll(b).union(b.exceptAll(a))
    assert sym_diff.count() == 0


def test_token_count_expr_equals_size_of_tokenize(spark):
    """token_count_expr is the counting twin of the analyzers: equal to
    size(tokenize_expr/tokenize_code_expr) on adversarial inputs
    (unicode, punctuation runs, camelCase/acronyms, empties)."""
    from pyspark.sql import functions as F

    from dp_search_data_importer_spark.functions.tokenize import (
        token_count_expr,
        tokenize_code_expr,
        tokenize_expr,
    )

    rows = [(i, s) for i, s in enumerate([
        "", "   ", "a", "hash join merge", "x9y Z..Q!!", "ÄÖÜ émigré",
        "getUserName HTTPServer2 parse_JSONBlob", "a.b.c_d-e", "123 456",
        "tabs\tand\nnewlines  mix", "trailing space ", " leading",
        "ALLCAPS lower 0digits9", "__dunder__ __x__", "a" * 500,
        ("word " * 200).strip(),
    ])]
    df = spark.createDataFrame(rows, "id long, s string")
    for code_aware, tok in ((False, tokenize_expr),
                            (True, tokenize_code_expr)):
        got = df.select(
            (F.size(tok(F.col("s"))) ==
             token_count_expr("s", code_aware=code_aware)).alias("eq"))
        assert all(r["eq"] for r in got.collect()), code_aware


def test_doc_positions_projected_equals_posexplode(spark, monkeypatch):
    """The pruned-positions projected fast path (per-term index arrays, no
    posexplode/collect_list agg) returns exactly the posexplode path's
    rows — ascending positions included — for both analyzers; wide
    vocabularies fall back."""
    from dp_search_data_importer_spark.operators import phrase as ph

    rows = [(i, s) for i, s in enumerate([
        "hash join merge hash", "the the the", "theme anthem", "",
        "getUserName HTTPServer2 hash", "a.b.c hash-join join", None,
        "9 sort 9 sort the", "zzzunseen", "   ", "join " * 40,
    ])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = ["hash", "join", "the", "9", "sort", "user",
             "zzzunseen", "Nope!", ""]
    for code_aware in (False, True):
        fast = ph.doc_positions(docs, code_aware=code_aware,
                                text_col="text", terms=vocab)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan
        monkeypatch.setattr(ph, "_PRUNED_POS_PROJECTED_MAX", 0)
        slow = ph.doc_positions(docs, code_aware=code_aware,
                                text_col="text", terms=vocab)
        monkeypatch.setattr(ph, "_PRUNED_POS_PROJECTED_MAX", 48)
        assert "collect_list" in \
            slow._jdf.queryExecution().executedPlan().toString()
        sym = fast.exceptAll(slow).union(slow.exceptAll(fast))
        assert sym.count() == 0, code_aware
