"""Scale decisions have one owner (``validatelite_spark/scale.py``).

Pins the plans that actually ran where a deleted eager size gate used
to decide the join, the ``dedup_groups`` checkpoint hygiene, the
spread rule, and a source guard that keeps per-operator gates from
coming back."""

from __future__ import annotations

import ast
import os
import re

import pytest
from pyspark.sql import functions as F

from validatelite_spark import scale
from validatelite_spark.operators import dedup
from validatelite_spark.operators.repetition import contaminated_docs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def sf001_docs(spark, sf_dir):
    path = os.path.join(os.path.dirname(sf_dir), "sf0.01", "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no sf0.01 testdata next to {sf_dir}")
    return spark.read.parquet(path)


def _hash_exchanges(plan: str) -> int:
    return plan.count("Exchange hashpartitioning")


class TestFinalPlans:
    def test_keep_representatives_does_not_shuffle_docs(
            self, sf001_docs, final_plan):
        # a checkpoint's inherited size estimate is huge; without the
        # known vertex count the planner picks a sort-merge join and
        # AQE converts it only after the docs side was shuffled
        groups = dedup.dedup_groups(dedup.minhash_lsh_pairs(sf001_docs))
        plan = final_plan(dedup.keep_representatives(sf001_docs, groups))
        assert "BroadcastHashJoin" in plan
        assert _hash_exchanges(plan) == 0, plan

    def test_contaminated_docs_broadcasts_small_benchmark(
            self, sf001_docs, final_plan):
        is_bench = F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
        plan = final_plan(contaminated_docs(
            sf001_docs.filter(~is_bench), sf001_docs.filter(is_bench), n=4))
        assert re.search(r"BroadcastHashJoin \[s#\d+\], \[s#\d+\], Inner",
                         plan), plan
        assert "SortMergeJoin" not in plan

    def test_jaccard_broadcasts_sizes_side(self, sf001_docs, final_plan):
        plan = final_plan(dedup.ngram_jaccard_pairs(sf001_docs))
        size_joins = re.findall(
            r"(\w+)Join \[(id[12])#\d+L?\], \[id[12]#\d+L?\], Inner", plan)
        assert sorted(size_joins) == [("BroadcastHash", "id1"),
                                      ("BroadcastHash", "id2")], plan
        # the pair table is shuffled once, by its packed pair key, and
        # never again to meet the sizes
        assert not re.search(r"Exchange hashpartitioning\(id[12]#", plan)


class TestDedupGroupsCheckpoints:
    def test_releases_superseded_rounds(self, spark):
        # a chain needs several label-propagation rounds, each one a
        # checkpoint; only the returned table's may stay
        jsc = spark.sparkContext._jsc
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 9)] + [(20, 21)],
            "id1 long, id2 long")
        before = len(jsc.getPersistentRDDs())
        groups = dedup.dedup_groups(pairs)
        assert len(jsc.getPersistentRDDs()) - before <= 1
        got = {r["doc_id"]: r["group_id"] for r in groups.collect()}
        assert got == {**{i: 1 for i in range(1, 10)}, 20: 20, 21: 20}


class TestSpread:
    def test_only_under_parallel(self, spark):
        par = spark.sparkContext.defaultParallelism
        one = spark.range(0, 100, 1, 1)
        assert scale.spread(one).rdd.getNumPartitions() == par
        wide = spark.range(0, 100, 1, par)
        assert scale.spread(wide) is wide


# ------------------------------------------------------------ guard
#: (file, function) pairs allowed to keep an eager size gate. The IVF
#: probe-collect gate chooses literal partition pruning over a
#: distributed probe, not a join strategy.
_GATE_EXEMPT = {("validatelite_spark/operators/similarity.py",
                 "ivf_index_probe")}


def _is_count_call(node) -> bool:
    return (isinstance(node, ast.Call) and not node.args
            and not node.keywords and isinstance(node.func, ast.Attribute)
            and node.func.attr == "count")


def _has_count(node, counted: set[str]) -> bool:
    return any(_is_count_call(n)
               or (isinstance(n, ast.Name) and n.id in counted)
               for n in ast.walk(node))


def eager_gates(root: str) -> list[str]:
    """``file:line`` of every partition-count spread check and every
    ``.count()`` result compared to a bound, outside ``scale.py``."""
    files = [os.path.join(root, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(root, "validatelite_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    found = []
    for path in sorted(files):
        rel = os.path.relpath(path, root)
        if rel == os.path.join("validatelite_spark", "scale.py"):
            continue
        src = open(path, encoding="utf-8").read()
        for i, line in enumerate(src.splitlines(), 1):
            if re.search(r"getNumPartitions\(\)\s*<", line):
                found.append(f"{rel}:{i}")
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if (rel, fn.name) in _GATE_EXEMPT:
                continue
            counted = {t.id for n in ast.walk(fn) if isinstance(n, ast.Assign)
                       and _has_count(n.value, set())
                       for t in n.targets if isinstance(t, ast.Name)}
            for n in ast.walk(fn):
                if (isinstance(n, ast.Compare)
                        and any(isinstance(op, (ast.Lt, ast.LtE, ast.Gt,
                                                ast.GtE)) for op in n.ops)
                        and any(_has_count(x, counted)
                                for x in [n.left, *n.comparators])):
                    found.append(f"{rel}:{n.lineno}")
    return sorted(set(found))


def test_no_eager_gates_outside_scale_module():
    assert eager_gates(REPO) == []
