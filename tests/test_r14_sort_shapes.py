"""Round-14 optimization pins: final-sort double-execution fixes.

A global orderBy plans as Exchange(rangepartitioning) whose bounds
sampling RE-EXECUTES the exchange's child (verified by accumulator
probe, OPTIMIZATION_r14.md; A/B in scripts/r14_sortexec_ab_out.json). These pins hold the adopted
shapes: either the expensive subtree sits BELOW a materialized barrier
exchange, or (j19/clusters) the range partitioning moved below a 1:1
broadcast join with one local sort above it.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from kompactor_spark.queries import all_queries
from kompactor_spark.session import ensure_conf

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = SparkSession.builder.master("local[4]").appName("r14-sort-pins").getOrCreate()
    ensure_conf(s)
    yield s


@pytest.fixture(scope="module")
def Q():
    return all_queries()


def plan(spark, df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_j19_sort_below_join(spark, Q):
    """j19: the range exchange partitions the FACT below the broadcast
    Voronoi join; the top Sort is LOCAL (global=false) and no exchange
    sits above the join — the join runs once per job."""
    p = plan(spark, Q["j19_nearest_value_join"](spark, SF))
    assert "rangepartitioning(l_orderkey" in p
    assert "BroadcastNestedLoopJoin" in p
    # Round 15 (ADVICE r14): the old disjunct here was vacuously true
    # (the top Sort always precedes the join in the top-down string).
    # The real invariant: NO exchange between the top local Sort and
    # the join — the join's output feeds the Sort directly, so the
    # range partitioning established BELOW the join is what the Sort
    # sees and the join runs once per job.
    join_pos = p.index("BroadcastNestedLoopJoin")
    sort_pos = p.index("Sort")
    assert sort_pos < join_pos
    assert "Exchange" not in p[sort_pos:join_pos]
    # and the one range exchange sits BELOW the join
    assert p.index("rangepartitioning(l_orderkey") > join_pos
    # top sort is a local sort, not a global one
    top_sort = p[sort_pos : sort_pos + 200]
    assert "false" in top_sort  # Sort [...], false, 0 — global=false


def test_clusters_collapsed_sort_below_label_join(spark, Q):
    """l2_dedup_clusters_collapsed: mapped frame range-partitioned by
    doc_id below the broadcast label join, local sort above.

    Round 15 (ADVICE r14): the global doc_id order DEPENDS on the label
    join planning as broadcast — an SMJ pick would insert a rep_id hash
    exchange between the range exchange and the top sort and silently
    unorder the output (undetectable by the order-insensitive oracle
    hash). The F.broadcast(labels) hint is now explicit in the query;
    this pin asserts the consequence for real: the join IS a broadcast
    hash join, no rep_id hash exchange exists anywhere, and no exchange
    of any kind sits between the top local Sort and the join."""
    p = plan(spark, Q["l2_dedup_clusters_collapsed"](spark, SF))
    assert "rangepartitioning(doc_id" in p
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(rep_id" not in p
    join_pos = p.index("BroadcastHashJoin")
    sort_pos = p.index("Sort")
    assert sort_pos < join_pos
    assert "Exchange" not in p[sort_pos:join_pos]
    top_sort = p[sort_pos : sort_pos + 200]
    assert "false" in top_sort


@pytest.mark.parametrize(
    "name,barrier_key",
    [
        ("j8_asof_join", "hashpartitioning(event_id"),
        ("l4_repeated_ngrams", "hashpartitioning(doc_id"),
        ("l2_semantic_dedup", "hashpartitioning(id_a"),
        ("v3_map_in_pandas_chunker", "hashpartitioning(doc_id"),
        # round-15 adoptions on the untimed doubled regions
        # (scripts/r15_untimed_ab_out.json)
        ("m1_upsert", "hashpartitioning(o_orderkey"),
        ("m6_snapshot_diff", "hashpartitioning(o_orderkey"),
        ("q11_important_parts", "hashpartitioning(part_value"),
    ],
)
def test_barrier_between_compute_and_sort(spark, Q, name, barrier_key):
    """Barrier rows: a hash exchange on the presentation key sits below
    the final range sort, so the sampling pass re-reads a shuffle
    instead of re-running the expensive subtree."""
    p = plan(spark, Q[name](spark, SF))
    assert barrier_key in p, f"{name}: barrier exchange missing"
    assert "rangepartitioning(" in p
    # the barrier must be BELOW the range exchange (appear later in the
    # top-down plan string)
    assert p.index("rangepartitioning(") < p.index(barrier_key)
