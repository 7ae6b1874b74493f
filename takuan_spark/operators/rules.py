"""Rule predicates: ordered first-match-wins labeling (SURVEY.md §2 O9-O10).

The reference tests each rule's regex against one named token and stops at
the first match (ref: core/rule.go:23-31; loop + break at
core/sensor.go:88-105). The Spark-native expression of "ordered
disjunction with a label" is a chained ``CASE WHEN``: ``F.when(cond1,
'rule1').when(cond2, 'rule2')...`` — evaluation order is guaranteed, and
the whole chain compiles into one codegen'd expression, so N rules cost
one pass over the row, exactly like the reference's loop but vectorized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from takuan_spark.config import RuleSpec


def rule_condition(rule: RuleSpec) -> Column:
    """One rule = one regex predicate over one token column.

    Ref: core/rule.go:23-31. ``rlike`` is unanchored substring search,
    matching Go's ``regexp.FindStringSubmatch`` semantics.
    """
    return F.col(rule.token).rlike(rule.compiled_expression())


def label_first_match(rules: list[RuleSpec]) -> Column:
    """Ordered CASE WHEN over the rules; NULL when nothing matches.

    First-match-wins precedence is the reference's ``break`` at
    core/sensor.go:104.
    """
    if not rules:
        return F.lit(None).cast("string")
    col: Column | None = None
    for r in rules:
        cond = rule_condition(r)
        col = F.when(cond, F.lit(r.name)) if col is None else col.when(cond, F.lit(r.name))
    return col


def apply_rules(tokens: DataFrame, rules: list[RuleSpec]) -> DataFrame:
    """Label each row with the first matching rule (column ``rule``) and
    drop non-matches.

    The ``isNotNull`` filter is the analog of "no rule matched → no event"
    (ref: core/sensor.go:88-106).
    """
    labeled = tokens.withColumn("rule", label_first_match(rules))
    return labeled.where(F.col("rule").isNotNull())
