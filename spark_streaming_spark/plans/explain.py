"""Inspect physical plans for the properties that decide 100 TB viability.

The reference had no optimizer and tuned by hand (SURVEY.md §4.1); here
the *engine contract* is that Catalyst produces the right plan — these
helpers turn that contract into assertions (tests/test_plans.py):

* filters pushed into the parquet scan (``PushedFilters``)
* column pruning (``ReadSchema`` narrow)
* broadcast joins for small dims (no shuffle of the fact side)
* ``TakeOrderedAndProject`` for top-k (heap per partition, k rows to
  driver — not a global sort)
* partial (map-side) aggregation before the shuffle
* no accidental ``CartesianProduct``
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what ``df.explain(mode)`` prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans."""
    text = explain_text(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Per-scan sets of column names actually read from parquet."""
    text = explain_text(df)
    schemas: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        body = m.group(1)
        cols = {c.split(":")[0].strip() for c in body.split(",") if c.strip()}
        schemas.append(cols)
    return schemas


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_text(df)


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in explain_text(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """Map-side combine present: a partial HashAggregate below the
    shuffle (Spark marks agg modes in the formatted plan)."""
    text = explain_text(df)
    return bool(re.search(r"Functions \[\d+\]: \[partial_", text)) or (
        "partial_count" in text or "partial_sum" in text or "partial_min" in text
    )


def has_cartesian_product(df: DataFrame) -> bool:
    return "CartesianProduct" in explain_text(df)


def has_runtime_bloom_filter(df: DataFrame) -> bool:
    """Catalyst injected a runtime row-level bloom filter: the big
    (application) side of a shuffle join is pre-filtered by
    ``might_contain`` against a ``bloom_filter_agg`` built from the
    selective (creation) side. At 100 TB this is the difference between
    shuffling the whole fact table and shuffling only rows that can
    join — the declarative twin of the reference's hand-tuned 'filter
    before join' advice. Injection is governed by
    ``spark.sql.optimizer.runtime.bloomFilter.*`` thresholds (sized for
    cluster scans; tests lower them to exercise the rule locally)."""
    text = explain_text(df)
    return "might_contain" in text and "bloom_filter_agg" in text
