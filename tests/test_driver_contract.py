"""Driver-contract invariants: the properties the grading driver
depends on, pinned so a refactor cannot silently break them."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_catalog_keys_and_size():
    """queries() and oracle_sql() expose the SAME keys, exactly 50
    entries — the driver scores ONLY the first 50 registered queries
    (CORRECTNESS_r08 proved a 51st registers but silently falls
    outside the gate, VERDICT r8 item 1), so 50 registered == every
    registered entry is driver-checked."""
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    assert set(q) == set(o)
    assert len(q) == 50
    assert "graph_rank_entities" in q
    assert "scalar_aggregates" not in q  # folded into nation_key_set_ops


def test_scalar_aggregate_arms_ride_in_nation_key_set_ops(spark):
    """The retired scalar_aggregates entry's arms (SURVEY A1/A12/T6 +
    the Q17 subquery) are driver-oracled as scalar_* branches of
    nation_key_set_ops, and their values equal the standalone
    constituent functions they fold in."""
    from travelpulse_spark_stream_tourism_analytics_spark.plans import (
        relational_queries as R,
    )

    rows = {
        r["set_op"]: r["nationkey"]
        for r in R.nation_key_set_ops(spark, SF_SMOKE)
        .filter(F.col("set_op").startswith("scalar_"))
        .collect()
    }
    assert set(rows) == {
        "scalar_n_lineitem",
        "scalar_n_orders",
        "scalar_n_parts",
        "scalar_avg_yearly_1e6",
        "scalar_n_unique_brand_type",
    }
    wide = R.scalar_aggregates(spark, SF_SMOKE).collect()[0]
    assert rows["scalar_n_lineitem"] == wide["n_lineitem"]
    assert rows["scalar_n_orders"] == wide["n_orders"]
    assert rows["scalar_n_parts"] == wide["n_parts"]
    assert rows["scalar_n_unique_brand_type"] == wide["n_unique_brand_type"]
    import math

    assert rows["scalar_avg_yearly_1e6"] == math.floor(
        wide["avg_yearly"] * 1e6
    )


def test_branch_tagged_entries_expose_expected_branches(spark):
    """Every branch/variant tag of the merged entries below (COVERAGE.md
    documents them) actually exists in the entry's output — renaming a
    branch would otherwise silently drop it from the documented
    surface."""
    import __spark_entry__ as E

    branches = {
        "embedding_knn_variants": (
            "variant",
            ["brute", "ivf_seeded", "int8_corpus", "semdedup", "pq_adc",
             "knn_graph", "knn_graph_2l", "semantic_contam",
             "filtered_pre", "filtered_post"],
        ),
        "latest_event_per_user": ("branch", ["latest", "tsmatch"]),
        "docs_exact_dedup": (
            "branch", ["doc", "substring", "despan", "despan_mask"]
        ),
    }
    q = E.queries()
    for name, (col, tags) in branches.items():
        got = {
            r[col]
            for r in q[name](spark, SF_SMOKE).select(col).distinct().collect()
        }
        assert set(tags) <= got, (name, got)


def test_build_concurrently_raises_after_every_builder_finishes(spark):
    """A failing builder surfaces as a RuntimeError naming the entry and
    the failed key — but only once every other builder has finished,
    so no arm is still running when the caller unwinds."""
    from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
        build_concurrently,
    )

    slow_done = threading.Event()

    def slow():
        time.sleep(0.5)
        slow_done.set()
        return "slow"

    def bad():
        raise ValueError("boom")

    with pytest.raises(RuntimeError) as info:
        build_concurrently("some_entry", {"slow": slow, "bad": bad})
    assert slow_done.is_set()
    msg = str(info.value)
    assert "some_entry" in msg and "bad" in msg and "slow" not in msg
    assert isinstance(info.value.__cause__, ValueError)

    assert build_concurrently("some_entry", {"a": lambda: 1, "b": slow}) == {
        "a": 1,
        "b": "slow",
    }
