"""One implementation per ``functions/`` operator, and its Python
tokenizer matches Spark's on whitespace beyond ASCII.

The in-row passes tokenize with ``text.split_tokens``, the Python twin of
Spark's ``split(trim(s), '\\s+')``.  Java's ``\\s`` is ASCII only, so
NBSP, U+2003, U+3000, \\x1c and \\x85 stay inside a token; Python's
``\\s`` would split on all five.  The planted docs below hold each of
them, and every executing form must still equal its relational
``tests/spec_forms.py`` form.
"""

import importlib
import inspect
import pkgutil

from pyspark.sql import functions as F

import pink_spider_spark.functions as FN
from pink_spider_spark.functions import text as X
from pink_spider_spark.functions import webtext as W
from tests import spec_forms as SF

_UNICODE_SPACES = ("\xa0", "\u2003", "\u3000", "\x1c", "\x85")


def _planted_docs(spark):
    rows = [(i, f"One two{c}three four one two{c}three Five one two three "
                f"four{c}{c}six two{c}three")
            for i, c in enumerate(_UNICODE_SPACES)]
    rows += [
        (10, "one two three four one two three five one two three four six"),
        (11, "\tone two\x0bthree\fone\r\ntwo three  one two three"),
        (12, f"{_UNICODE_SPACES[0]}one two three one two three"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_split_tokens_is_java_whitespace():
    assert X.split_tokens("  a\xa0b\u3000c \t d\x0be  ") == \
        ["a\xa0b\u3000c", "d", "e"]
    assert X.split_tokens("\tx") == ["", "x"]
    assert X.split_tokens("") == [""]


def test_round_half_up_uses_shortest_repr():
    # 2.675 is just below the half in binary (Python's round gives
    # 2.67); Spark's F.round rounds the shortest decimal repr, so up
    assert X.round_half_up(2.675, 2) == 2.68
    assert X.round_half_up(2 / 3, 4) == 0.6667


def test_unicode_whitespace_matches_spec_forms(spark):
    docs = _planted_docs(spark)

    rel = {r.doc_id: r.simhash for r in SF.simhash(docs).collect()}
    vec = {r.doc_id: r.simhash for r in X.simhash(docs).collect()}
    assert rel == vec and len(rel) == 8

    rel = {tuple(r) for r in SF.repetition_signals(docs).collect()}
    vec = {tuple(r) for r in W.repetition_signals(docs).collect()}
    assert rel == vec and len(rel) == 8

    bench = docs.filter(F.col("doc_id") == 10)
    rel = {tuple(r) for r in SF.contamination(docs, bench, n=3).collect()}
    vec = {tuple(r) for r in W.contamination(docs, bench, n=3).collect()}
    assert rel == vec and len(rel) == 8

    rel = {r.doc_id: (r.tk, r.whs) for r in docs.select(
        "doc_id", X.tokens(F.col("text")).alias("tk"),
        SF.window_hashes(F.col("text"), 3).alias("whs")).collect()}
    vec = {r.doc_id: (r.tk, r.whs) for r in
           W._token_window_hashes(docs, "text", "doc_id", 3).collect()}
    assert rel == vec and len(rel) == 8
    assert rel[0][0][1] == "two\xa0three"


def test_functions_take_no_implementation_flag():
    checked = 0
    for info in pkgutil.iter_modules(FN.__path__):
        mod = importlib.import_module(f"{FN.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if name.startswith("_"):
                continue
            assert not name.endswith("_vectorized"), f"{mod.__name__}.{name}"
            if callable(obj) and getattr(obj, "__module__", "") == \
                    mod.__name__:
                params = inspect.signature(obj).parameters
                assert "vectorized" not in params, f"{mod.__name__}.{name}"
                checked += 1
    assert checked > 100
