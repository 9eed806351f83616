"""The benchmark workloads.

Each workload generates its seeded input once (``prepare``), then runs
``warmup_calls`` untimed calls and back-to-back timed ``call``s, each on a
freshly built DataFrame, and checks the output of every timed call
against the truth the generator planted (``check``, outside the timed
region). ``rows`` is the number of input rows one call processes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

import gen

from validatelite_spark import RuleEngine
from validatelite_spark.core.rule_parser import parse_rule
from validatelite_spark.core.rules import Rule, RuleType
from validatelite_spark.operators.dedup import (dedup_groups,
                                                keep_representatives,
                                                minhash_lsh_pairs)
from validatelite_spark.pipeline.curation import curate
from validatelite_spark.pipeline.quality import QualityPipeline


class ValidateTable:
    """Repeated ``RuleEngine.execute`` with failure sampling on: 16 rules
    over all 8 reference rule types, in two filter groups, on a typed
    table with planted defects."""

    name = "validate_table"
    size = 60_000
    #: calls before timing: a call here is ~4 s, and call times keep
    #: falling (JIT) over the first four or so
    warmup_calls = 4

    def prepare(self, seed: int, work: str) -> dict:
        self.truth = gen.make_table(seed, self.size, os.path.join(work, "table"))
        self.rows = self.truth.rows
        return self.truth.planted

    def input_paths(self) -> list[str]:
        return [self.truth.path]

    def _rules(self) -> list[Rule]:
        rules = []
        for expr, filt, thr in zip(self.truth.rules, self.truth.filters,
                                   self.truth.thresholds):
            r = parse_rule(expr)
            r.filter_condition, r.threshold = filt, thr
            rules.append(r)
        rules.append(Rule(RuleType.SCHEMA, None, {"columns": {
            "id": "integer", "email": "string", "signup_date": "string",
            "amount": "string"}}))
        return rules

    def call(self, spark: SparkSession, tr) -> list:
        df = spark.read.parquet(self.truth.path)
        with tr.span("engine.execute"):
            return RuleEngine(spark).execute(df, self._rules(),
                                             table_name="customers")

    def layer_counts(self, spark: SparkSession) -> dict:
        return {}

    def check(self, spark: SparkSession, results) -> list[str]:
        if len(results) != len(self.truth.expected):
            return [f"{len(results)} results != {len(self.truth.expected)} rules"]
        bad = []
        for res, (status, total, failed) in zip(results, self.truth.expected):
            m = res.dataset_metrics[0]
            got = (res.status.value, m.total_records, m.failed_records)
            if got != (status, total, failed):
                bad.append(f"{res.rule_name}: {got} != planted "
                           f"{(status, total, failed)}")
        return bad


class TextPipeline:
    """A training-data team's text job, in three phases per call.

    1. filter_pages: ``QualityPipeline.run`` over seeded Common-Crawl-style
       pages, parquet written, rule metrics collected through
       ``Observation`` (no shuffle).
    2. curate_corpus: ``curate`` (exact dedup, quality filter, eval-set
       decontamination, token budget) over a seeded corpus, written.
    3. near-dup removal on the curated survivors: ``minhash_lsh_pairs``
       -> ``dedup_groups`` -> ``keep_representatives``, written.
    """

    name = "text_pipeline"
    pages = 6_000
    #: one call is ~15 s; a second warm-up call would not fit the
    #: benchmark's time budget per run
    warmup_calls = 1
    corpus = 1_500          # distinct originals; copies and variants come on top

    def prepare(self, seed: int, work: str) -> dict:
        self.filter_out = os.path.join(work, "filter_out")
        self.sel_out = os.path.join(work, "curated")
        self.rep_out = os.path.join(work, "representatives")
        self.pg = gen.make_pages(seed, self.pages, os.path.join(work, "pages"))
        self.cp = gen.make_corpus(seed, self.corpus,
                                  os.path.join(work, "corpus"),
                                  os.path.join(work, "eval_set"))
        self.rows = self.pg.rows + self.cp.rows
        return {"pages": {"rows": self.pg.rows, "classes": self.pg.classes,
                          "failed": self.pg.failed, "kept": self.pg.kept},
                "corpus": self.cp.planted}

    def input_paths(self) -> list[str]:
        return [self.pg.path, self.cp.path]

    def call(self, spark: SparkSession, tr):
        pages = spark.read.parquet(self.pg.path)
        with tr.span("quality.run"):
            _, results = QualityPipeline(spark).run(pages,
                                                    output_path=self.filter_out)
        docs = spark.read.parquet(self.cp.path)
        bench = spark.read.parquet(self.cp.bench_path)
        with tr.span("curation.build"):
            selected = curate(spark, docs, self.cp.budget, benchmark_texts=bench)
        with tr.span("curation.exec"):
            selected.write.mode("overwrite").parquet(self.sel_out)
        leaked = persistent_rdds(spark)
        tr.count("curation.leaked_rdds", leaked)
        sel = spark.read.parquet(self.sel_out)
        with tr.span("dedup.pairs"):
            pairs = minhash_lsh_pairs(sel)
        with tr.span("dedup.groups"):
            groups = dedup_groups(pairs)
        with tr.span("dedup.keep"):
            reps = keep_representatives(sel, groups)
        with tr.span("dedup.exec"):
            reps.write.mode("overwrite").parquet(self.rep_out)
        tr.count("dedup.leaked_rdds", persistent_rdds(spark) - leaked)
        return results, groups

    def layer_counts(self, spark: SparkSession) -> dict:
        """Near-dup pairs ``minhash_lsh_pairs`` returns on the last call's
        curated output (counted once, after the timed calls)."""
        pairs = minhash_lsh_pairs(spark.read.parquet(self.sel_out))
        return {"dedup.pairs_out": pairs.count()}

    def check(self, spark: SparkSession, out) -> list[str]:
        results, groups = out
        bad = []
        got = {r.rule_name: r.dataset_metrics[0].failed_records for r in results}
        for rule, want in self.pg.failed.items():
            if got.get(rule) != want:
                bad.append(f"{rule}: failed {got.get(rule)} != planted {want}")
        kept = {int(r.execution_message.rsplit("kept=", 1)[1]) for r in results}
        if kept != {self.pg.kept}:
            bad.append(f"kept {sorted(kept)} != planted {self.pg.kept}")
        t = self.cp
        sel = {r[0] for r in spark.read.parquet(self.sel_out)
               .select("doc_id").collect()}
        if len(sel) != t.selected_n or gen.digest(sel) != t.selected_fp:
            bad.append(f"selected {len(sel)} docs (fp {gen.digest(sel)}) != "
                       f"planted {t.selected_n} (fp {t.selected_fp})")
        label = {r[0]: r[1] for r in groups.collect()}
        missed = [p for p in t.near_pairs
                  if p[0] not in label or label[p[0]] != label.get(p[1])]
        if missed:
            bad.append(f"{len(missed)} planted near-dup pairs not grouped")
        planted_members = {d for p in t.near_pairs for d in p}
        if set(label) != planted_members:
            bad.append(f"{len(set(label) - planted_members)} docs grouped "
                       "outside the planted clusters")
        reps = spark.read.parquet(self.rep_out).count()
        if reps != t.reps_n:
            bad.append(f"{reps} representatives != planted {t.reps_n}")
        return bad


def persistent_rdds(spark: SparkSession) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def release(spark: SparkSession) -> None:
    """Drop every cached table and persisted RDD so the next call starts
    cold in the same way."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


WORKLOADS = {w.name: w for w in (ValidateTable, TextPipeline)}

