"""Construct-cost pins: the large memo-free builders are SQL text, so
turning one into a Column is a single parse — a handful of py4j
round-trips — however big the expression. A builder re-expanded into the
Column API costs one round-trip per node (hundreds to thousands) and
fails these pins."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.functions.urls import url_normalize
from youtube_api_data_etl_automation_spark.operators import profile
from youtube_api_data_etl_automation_spark.operators.robots import (
    _RULE_STRUCT,
    _rep_decision,
)
from youtube_api_data_etl_automation_spark.sources.tables import load_table

from .conftest import SF_DIR

MAX_CALLS = 5


@pytest.fixture
def py4j_calls(spark):
    """Count the commands the driver sends to the JVM while a callable
    runs (memory commands — proxy detaches at GC time — excluded)."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    lock = threading.Lock()
    n = [0]

    def counting(command, *args, **kwargs):
        if not command.startswith("m"):
            with lock:
                n[0] += 1
        return send(command, *args, **kwargs)

    def measure(build) -> int:
        before = n[0]
        build()
        return n[0] - before

    client.send_command = counting
    try:
        yield measure
    finally:
        client.send_command = send


def test_url_normalize_builds_in_one_parse(py4j_calls):
    assert py4j_calls(lambda: F.expr(url_normalize("u"))) <= MAX_CALLS


def test_robots_fragments_build_in_one_parse(py4j_calls):
    assert py4j_calls(lambda: F.expr(_RULE_STRUCT)) <= MAX_CALLS
    assert py4j_calls(lambda: F.expr(_rep_decision("url"))) <= MAX_CALLS


def test_profile_stats_block_builds_in_one_parse(spark, py4j_calls):
    orders = load_table(spark, SF_DIR, "orders")
    fields = {f.name: f.dataType for f in orders.schema.fields}
    aggs = profile._stats_aggs(fields, list(fields), True,
                               "yyyy-MM-dd HH:mm:ss")
    assert len(aggs) > 5 * len(fields)
    assert py4j_calls(
        lambda: F.expr(profile._named_struct(aggs))) <= MAX_CALLS
