"""One word rule (``functions/textquality.py``): the Column ``tokens``
and the Python ``words`` every gram UDF builds on split text into the
same words, and no other module carries its own copy of the rule."""

from __future__ import annotations

import ast
import os
import re

from pyspark.sql import functions as F

from validatelite_spark.functions.textquality import tokens, word_grams, words

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "validatelite_spark")
RULE_HOME = os.path.join("validatelite_spark", "functions", "textquality.py")

EDGE_TEXTS = ["\tx y", "x y\n", "\r\nx\ty \x0b", "  ", "", "A  b\fC", None]


def test_tokens_match_words(spark):
    df = spark.createDataFrame(list(enumerate(EDGE_TEXTS)),
                               "i int, text string")
    got = {r.i: r.t for r in
           df.select("i", tokens(F.col("text")).alias("t")).collect()}
    assert got == {i: None if t is None else words(t)
                   for i, t in enumerate(EDGE_TEXTS)}
    assert not any("" in t for t in got.values() if t is not None)


def test_word_grams():
    toks = words(" The cat\tthe CAT ")
    assert toks == ["the", "cat", "the", "cat"]
    assert word_grams(toks, 2) == ["the cat", "cat the", "the cat"]
    assert word_grams(toks, 5) == []


def _modules():
    for d, _, names in os.walk(PKG):
        for n in sorted(names):
            if n.endswith(".py"):
                path = os.path.join(d, n)
                with open(path, encoding="utf-8") as f:
                    yield os.path.relpath(path, REPO), ast.parse(f.read())


#: a bare whitespace-run pattern: \s, \s+, [\s]+, \S+ ...
_WS_PATTERN = re.compile(r"(?:\\[sS]|\[\\[sS]\])[+*]?")


def test_whitespace_regex_compiled_only_in_textquality():
    found = []
    for rel, tree in _modules():
        for n in ast.walk(tree):
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "compile" and n.args
                    and isinstance(n.args[0], ast.Constant)
                    and isinstance(n.args[0].value, str)
                    and _WS_PATTERN.fullmatch(n.args[0].value)
                    and rel != RULE_HOME):
                found.append(f"{rel}:{n.lineno}")
    assert found == []


def test_functions_never_import_operators():
    found = []
    for rel, tree in _modules():
        if not rel.startswith(os.path.join("validatelite_spark",
                                           "functions", "")):
            continue
        for n in ast.walk(tree):
            names = ([n.module or ""] if isinstance(n, ast.ImportFrom)
                     else [a.name for a in n.names]
                     if isinstance(n, ast.Import) else [])
            found += [f"{rel}:{n.lineno}" for m in names
                      if m.startswith("validatelite_spark.operators")]
    assert found == []
