"""Dynamic rule evaluation over a stream — Flink's *broadcast state*
pattern (BroadcastProcessFunction: a control stream of rules joined
against a data stream, rules changing mid-flight) re-expressed in
Spark's model: the rule set lives in a TABLE; every micro-batch
re-reads it and evaluates the CURRENT rules against that batch's
events. Rule updates between triggers take effect on the next batch —
the same freshness contract as the stream-static dim join
(`streaming/dim_refresh.py`), applied to executable predicates
instead of enrichment rows.

Rules are SQL boolean expressions over the event schema (evaluated
JVM-side via `F.expr` — codegen, not Python). Each batch emits one
row per (matched rule × event) plus a per-rule audit count, all
through replay-safe per-batch overwrite commits. A malformed rule
fails loudly at its first batch rather than silently matching
nothing.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_application_spark.streaming.sinks import (
    BatchStore,
    idempotent_batch_write,
    read_committed,
)


def write_rules(rules: dict[str, str], rules_path: str) -> None:
    """Publish the CURRENT rule set {rule_id: sql_predicate} atomically
    (tmp + rename — a concurrently-triggering batch sees either the
    old or the new set, never a torn file)."""
    tmp = rules_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rules, f, sort_keys=True)
    os.replace(tmp, rules_path)


def read_rules(rules_path: str) -> dict[str, str]:
    if not os.path.exists(rules_path):
        return {}
    with open(rules_path) as f:
        return json.load(f)


class DynamicRuleEngine(BatchStore):
    """Evaluates the current rule table against each micro-batch."""

    def __init__(self, rules_path: str, out_dir: str, id_col: str) -> None:
        self.rules_path = rules_path
        self.id_col = id_col
        self._matches = os.path.join(out_dir, "matches")
        self._audit = os.path.join(out_dir, "audit")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        rules = read_rules(self.rules_path)
        spark = batch_df.sparkSession
        if not rules:
            # derive the id column's type from the LIVE batch schema — a
            # hardcoded bigint would write empty-batch parquet with a
            # different schema than rule-matching batches under the same
            # store, breaking later matches() reads (round-2 advice)
            id_ddl = batch_df.schema[self.id_col].dataType.simpleString()
            empty = spark.createDataFrame(
                [], f"rule_id string, {self.id_col} {id_ddl}"
            )
            idempotent_batch_write(empty, self._matches, batch_id)
            idempotent_batch_write(
                spark.createDataFrame([], "rule_id string, n_matches bigint"),
                self._audit,
                batch_id,
            )
            return
        batch_df = batch_df.cache()
        try:
            # one scan evaluates EVERY rule as a codegen boolean column,
            # then a posexplode emits (rule, event) hits — rules × events
            # never materializes as a join
            flags = batch_df.select(
                F.col(self.id_col),
                *[
                    F.expr(pred).cast("boolean").alias(f"_r_{i}")
                    for i, pred in enumerate(rules.values())
                ],
            )
            ids = list(rules.keys())
            hits = flags.select(
                self.id_col,
                F.explode(
                    F.filter(
                        F.array(
                            *[
                                F.when(F.col(f"_r_{i}"), F.lit(rid))
                                for i, rid in enumerate(ids)
                            ]
                        ),
                        lambda x: x.isNotNull(),
                    )
                ).alias("rule_id"),
            ).select("rule_id", self.id_col)
            idempotent_batch_write(hits, self._matches, batch_id)
            audit = (
                hits.groupBy("rule_id")
                .agg(F.count(F.lit(1)).alias("n_matches"))
            )
            idempotent_batch_write(audit, self._audit, batch_id)
        finally:
            batch_df.unpersist()

    def matches(self, spark: SparkSession) -> DataFrame:
        return read_committed(spark, self._matches)
