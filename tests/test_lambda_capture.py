"""Guard: no lambda body re-evaluates a row expression per element.

Catalyst does no common-subexpression elimination inside lambda bodies.
A row expression captured by a ``transform``/``filter``/``aggregate``
lambda — ``tokens(text)`` sliced per shingle, a split document indexed
per line — is re-evaluated for every array element, which turns an
O(n) pass into O(n²) (``word_shingles`` re-tokenized its document once
per shingle).  The fix is to bind the value as a lambda variable
(``functions.scalars.let``) or to project it as a real column first.

The check walks ANALYZED expression trees (serialized with
``TreeNode.toJSON``, so one py4j call per expression) and fails on any
lambda body holding a non-leaf subtree that reads a row column (an
``AttributeReference``) but no lambda variable (a
``NamedLambdaVariable``).  Leaves — a bare column or ``Literal`` — are
allowed: reading them per element costs nothing.

Walked: every public Column helper of ``dedup``, ``text``,
``tokenizer`` and ``selection``; the lambda-bearing private kernels and
frame operators those modules build on; the streaming fuzzy gate's
projection; and every golden-plan contract.
"""

from __future__ import annotations

import inspect
import json

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from basic_data_fusion_spark.operators import (dedup, selection, text,
                                               tokenizer)
from basic_data_fusion_spark.streaming.dedup import \
    streaming_fuzzy_decontaminate
from tests.conftest import SF0001
from tests.test_plan_golden import PINNED, PINNED_INTERNAL

HELPER_MODULES = [dedup, text, tokenizer, selection]

# required arguments of helpers whose first parameter is a Column; a
# Column parameter names the column it reads (default: text)
EXTRA_ARGS = {
    "bloom_might_contain": {"bitmap": [0, 1], "m_bits": 64},
    "hash_uniform": {"seed": "s"},
    "hashed_ngram_bucket": {"buckets": 16},
    "serve_shard": {"n_shards": 4},
    "hamming64": {"a": "h", "b": "h"},
}


def _tree(nodes: list[dict], i: int = 0):
    """Rebuild a ``toJSON`` pre-order node list into (class, kids)."""
    node = nodes[i]
    i += 1
    kids = []
    for _ in range(node["num-children"]):
        kid, i = _tree(nodes, i)
        kids.append(kid)
    return (node["class"].rsplit(".", 1)[-1], kids), i


def _render(node) -> str:
    cls, kids = node
    return cls if not kids else f"{cls}({', '.join(map(_render, kids))})"


def _offenders(node, in_lambda: bool) -> tuple[bool, bool, list[str]]:
    """(reads a row column, reads a lambda variable, the maximal
    offending subtrees of lambda bodies under ``node``)."""
    cls, kids = node
    if not kids:
        return (cls.endswith("AttributeReference"),
                cls == "NamedLambdaVariable", [])
    # a LambdaFunction's children are its body and its argument variables
    parts = [_offenders(k, in_lambda or cls == "LambdaFunction")
             for k in kids]
    found = [f for _, _, fs in parts for f in fs]
    if cls == "LambdaFunction":
        return False, True, found
    reads_attr = any(p[0] for p in parts)
    reads_var = any(p[1] for p in parts)
    if in_lambda and reads_attr and not reads_var:
        return True, False, [_render(node)]
    return reads_attr, reads_var, found


def _plan_captures(df) -> list[str]:
    found: list[str] = []
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        plan = stack.pop()
        exprs = plan.expressions()
        for i in range(exprs.size()):
            nodes = json.loads(exprs.apply(i).toJSON())
            found += _offenders(_tree(nodes)[0], False)[2]
        kids = plan.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "a b c\na b c\nd", 7), (2, None, 0)],
        "doc_id long, text string, h long")


def _column_helpers():
    for mod in HELPER_MODULES:
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("_") or fn.__module__ != mod.__name__:
                continue
            params = list(inspect.signature(fn).parameters.values())
            if params and params[0].annotation == "Column":
                yield f"{mod.__name__.rsplit('.', 1)[-1]}.{name}", fn, params


def _call_helper(fn, params) -> list:
    extra = EXTRA_ARGS.get(fn.__name__, {})
    args = {p.name: extra[p.name] for p in params
            if p.annotation != "Column" and p.name in extra}
    args.update({p.name: F.col(extra.get(p.name, "text")) for p in params
                 if p.annotation == "Column"})
    out = fn(**args)
    return out if isinstance(out, list) else [out]


@pytest.mark.parametrize("name,fn,params", list(_column_helpers()),
                         ids=[h[0] for h in _column_helpers()])
def test_column_helper_binds_captured_rows(docs, name, fn, params):
    got = _plan_captures(docs.select(*_call_helper(fn, params)))
    assert not got, f"{name}: lambda body re-evaluates {got}"


def test_kernels_and_frame_operators_bind_captured_rows(docs):
    frames = {
        "tokenizer._to_symbols": docs.select(
            tokenizer._to_symbols(F.col("text"))),
        "dedup.collapse_repeated_lines": dedup.collapse_repeated_lines(docs),
        "dedup.minhash_dedup_pairs": dedup.minhash_dedup_pairs(docs),
        "streaming_fuzzy_decontaminate": streaming_fuzzy_decontaminate(
            docs, docs.filter(F.col("doc_id") == 1)),
    }
    bad = {k: v for k, v in
           ((k, _plan_captures(df)) for k, df in frames.items()) if v}
    assert not bad, f"lambda bodies re-evaluate row expressions: {bad}"


@pytest.mark.parametrize("name", PINNED + PINNED_INTERNAL)
def test_golden_contract_binds_captured_rows(spark, name):
    if name in PINNED_INTERNAL:
        df = entrymod.internal_plan_frames()[name](spark, SF0001)
    else:
        df = entrymod.queries()[name](spark, SF0001)
    got = _plan_captures(df)
    spark.catalog.clearCache()
    assert not got, f"{name}: lambda body re-evaluates {got}"
