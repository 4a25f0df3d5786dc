"""Text operators tokenize each document a fixed number of times.

Array lambdas are interpreted and re-evaluate every expression they
capture once per element, so a lambda body holding the tokenizer's
``split`` re-splits the whole document for every token. These tests
walk each operator's optimized plan (the JVM tree, through
``children()`` and ``expressions()``) and assert that no
``LambdaFunction`` body contains a ``StringSplit``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

DOCS = [
    (1, "the cat sat on the mat the cat sat"),
    (2, "a b"),
    (3, "solo"),
    (4, ""),
    (5, "   "),
]


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _contains(expr, cls: str) -> bool:
    return _name(expr) == cls or any(_contains(c, cls) for c in _seq(expr.children()))


def _lambda_bodies(expr):
    if _name(expr) == "LambdaFunction":
        yield expr.function()
    for c in _seq(expr.children()):
        yield from _lambda_bodies(c)


def _split_lambdas(df) -> list[str]:
    """Lambda bodies in ``df``'s optimized plan that contain a split."""
    found, stack = [], [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        stack.extend(_seq(node.children()))
        for expr in _seq(node.expressions()):
            found += [
                body.toString()
                for body in _lambda_bodies(expr)
                if _contains(body, "StringSplit")
            ]
    return found


def test_walker_sees_a_split_inside_a_lambda(spark):
    # the check is live: an index into tokens(text) inside a lambda is found
    from aeon_mecha_spark.functions.text import tokens

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    toks = tokens(F.col("text"))
    df = docs.select(
        F.transform(F.sequence(F.lit(1), F.size(toks)), lambda i: F.element_at(toks, i))
    )
    assert _split_lambdas(df)


def test_text_operator_plans_keep_split_out_of_lambdas(spark):
    from aeon_mecha_spark.datapipe import bpe, curation, dedup, textqc

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    words = spark.createDataFrame(
        [(" c  a  t ", 3), (" s  a  t ", 2), (" a ", 1)], "_syms string, _n long"
    )
    plans = {
        "bigram_logprob": textqc.bigram_logprob(docs),
        "repetition_signals": textqc.repetition_signals(docs),
        "chunk_documents": curation.chunk_documents(docs, chunk_tokens=3, overlap=1),
        "shingle_table": dedup.shingle_table(docs),
        "bpe_pair_counts": bpe._pair_counts(words),
    }
    found = {name: _split_lambdas(df) for name, df in plans.items()}
    assert found == {name: [] for name in plans}


def test_bpe_pair_counts_weight_adjacent_symbols(spark):
    from aeon_mecha_spark.datapipe import bpe

    words = spark.createDataFrame(
        [(" c  a  t ", 3), (" s  a  t ", 2), (" a ", 1)], "_syms string, _n long"
    )
    got = {(r["_p"]["l"], r["_p"]["r"]): r["_c"] for r in bpe._pair_counts(words).collect()}
    assert got == {("c", "a"): 3, ("a", "t"): 5, ("s", "a"): 2}
