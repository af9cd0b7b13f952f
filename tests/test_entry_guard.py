"""The driver entry holds no partitioning policy: ``__spark_entry__.py``
names none of the calls that decide a width or read one, so every
fixture build and datapipe fan-out is sized by ``orama_spark.layout``.
(``coalesce(1)``, one file per streamed micro-batch, is not a width
policy.) AST only; no Spark."""

from __future__ import annotations

import ast
import os

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")

WIDTH_NAMES = {"defaultParallelism", "getNumPartitions", "repartition", "repartitionByRange"}


def width_names(source: str) -> list[str]:
    """``line name`` of every name or attribute in ``source`` that is one
    of WIDTH_NAMES."""
    found = []
    for node in ast.walk(ast.parse(source)):
        name = node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", None)
        if name in WIDTH_NAMES:
            found.append(f"{node.lineno} {name}")
    return sorted(found)


def test_entry_names_no_width_policy():
    with open(ENTRY, encoding="utf-8") as fh:
        assert width_names(fh.read()) == []


def test_checker_flags_a_width_call():
    src = (
        "def f(spark, df):\n"
        "    p = spark.sparkContext.defaultParallelism\n"
        "    return df.repartition(p, 'k').coalesce(1)\n"
    )
    assert width_names(src) == ["2 defaultParallelism", "3 repartition"]
