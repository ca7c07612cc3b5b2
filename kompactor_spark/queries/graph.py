"""Graph-construction operators over the events stream.

The user-user co-occurrence graph (who is active in the same place at
the same time) is the standard first step of community detection,
fraud-ring mining, and collaborative filtering. Building it at 100 TB
is a JOIN-SHAPE problem, not a graph-library problem: activity is first
deduplicated to one row per (user, bucket) — the only pass over raw
events — and the quadratic pair expansion runs per bucket, bounded by
the bucket's active-user count (pick the bucket grain so this is
bounded; hot buckets split with the same salting discipline as the
range join). The dedup clusters in operators/dedup.py already use the
same connected-components machinery downstream of edges like these.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kompactor_spark.queries import register
from kompactor_spark.tables import loader

NS_PER_HOUR = 3_600_000_000_000


# --------------------------------------------------------------------------
# G1 — co-occurrence edge list: weight(u, v) = number of distinct
# (hour, event_type) buckets where BOTH users were active, kept when
# >= 2 (a single shared bucket is noise).
#
# Shape (round 11, the measured g1 A/B — SCALE.md "Round-11: g1 settled",
# VERDICT r10 #1): ONE shuffle builds per-bucket distinct user sets
# (collect_set folds the dedup into the aggregation, partial sets merge
# map-side), then an Arrow kernel expands each bucket's pairs in numpy
# — packed into a single int64 — and PRE-AGGREGATES across the whole
# batch with np.unique before anything leaves the task, so the final
# exchange carries model-sized partial counts instead of the
# intra-bucket-quadratic expansion. Same-session sf10 A/B, identical
# 1,015,979-edge checksums: old join + two-bigint-key agg 13.99 s
# (3.17x DuckDB), packed-key join variant 13.15 s (2.98x), this kernel
# 4.71 s (**1.04x**). The join expansion was the cost: ~136M pair rows
# through SMJ + hash agg vs one numpy sort per Arrow batch.
# --------------------------------------------------------------------------
_G1_MIN_W = 2
#: Loud bound on the per-bucket quadratic expansion, in PAIRS (ADVICE
#: r11: the old 100k-USER bound allowed ~5e9 pairs = ~120 GB of packed
#: keys — the executor OOM'd long before the guard could fire, so it
#: was a comment, not a tripwire). 50M pairs is ~400 MB packed, an
#: allocation the task demonstrably survives; a hotter bucket means the
#: bucket grain is wrong for the data (pick a finer grain or salt the
#: hot bucket). Same fail-loud discipline as the dedup pair bounds.
_G1_MAX_BUCKET_PAIRS = 50_000_000
#: Per-task accumulation budget (ADVICE r11, second half): pending
#: packed pairs are collapsed with np.unique and emitted as a PARTIAL
#: frame whenever they exceed this, and oversized buckets expand in
#: row blocks of at most this many pairs — so peak task memory is
#: ~2 budgets of int64 keys regardless of batch composition, never the
#: whole batch's expansion. The downstream SUM over partials makes the
#: flush grain invisible to results.
_G1_FLUSH_PAIRS = 4_000_000
_PAIR_PACK_BITS = 32  # pair key = u << 32 | v; requires 0 <= id < 2^31


def _pair_count_kernel(buckets, out_min_w: int):
    """Arrow-task kernel: bucket user-sets -> packed-pair partial
    counts. Exact: np.unique is a sort-based count, the final agg sums
    partials (the flush grain only changes HOW MANY partials ride the
    exchange, never their sum); packing is int64-exact (ids bounded
    below 2^31, checked loudly per batch).

    The boundary is mapInPandas: int-list columns are cheap to cross,
    and mapInArrow measured a tie (g1 1.83 s vs 1.91 s, m11 3.82 s vs
    4.05 s at sf1, scripts/r15_g1_boundary_ab_out.json)."""

    # captured by VALUE into the task closure (module globals would be
    # re-imported fresh on the python workers, defeating test overrides)
    max_pairs = _G1_MAX_BUCKET_PAIRS
    flush_pairs = _G1_FLUSH_PAIRS
    pack_bits = _PAIR_PACK_BITS

    def expand(bucket_arrays):
        """Consumes an iterator of per-bucket int64-coercible arrays;
        yields (pk, w) numpy array pairs."""
        import numpy as np

        tri: dict[int, tuple] = {}  # cached upper-triangle index pairs per size
        tri_cached_pairs = 0  # evict-all budget so the cache itself is bounded
        pending: list = []  # packed-pair arrays awaiting a flush
        n_pending = 0

        def flush():
            nonlocal pending, n_pending
            pk, cnt = np.unique(np.concatenate(pending), return_counts=True)
            pending, n_pending = [], 0
            return pk, cnt

        for us in bucket_arrays:
            c = len(us)
            if c < 2:
                continue
            n_bucket_pairs = c * (c - 1) // 2
            if n_bucket_pairs > max_pairs:
                raise ValueError(
                    f"co-occurrence bucket has {c} active users = "
                    f"{n_bucket_pairs} pairs (> {max_pairs}): pair "
                    "expansion is quadratic — refine the bucket "
                    "grain or salt the hot bucket"
                )
            a = np.sort(np.asarray(us, dtype=np.int64))
            if a[0] < 0 or a[-1] >= (1 << (pack_bits - 1)):
                raise ValueError(
                    f"user_id out of pack range [0, 2^31): "
                    f"[{a[0]}, {a[-1]}] — widen _PAIR_PACK_BITS"
                )
            if n_bucket_pairs <= flush_pairs:
                if c not in tri:
                    if tri_cached_pairs > flush_pairs:
                        tri.clear()
                        tri_cached_pairs = 0
                    tri[c] = np.triu_indices(c, k=1)
                    tri_cached_pairs += n_bucket_pairs
                i, j = tri[c]
                pending.append((a[i] << pack_bits) | a[j])
                n_pending += n_bucket_pairs
                if n_pending >= flush_pairs:
                    yield flush()
            else:
                # oversized bucket: expand in row blocks of at most
                # flush_pairs pairs each (row r pairs with a[r+1:])
                # so the peak allocation never tracks the bucket
                r = 0
                while r < c - 1:
                    rows, block = 0, 0
                    while (
                        r + rows < c - 1
                        and block + (c - 1 - (r + rows)) <= flush_pairs
                    ):
                        block += c - 1 - (r + rows)
                        rows += 1
                    rows = max(rows, 1)
                    idx = np.arange(r, r + rows)
                    lens = c - 1 - idx
                    left = np.repeat(a[idx], lens)
                    right = np.concatenate([a[q + 1 :] for q in idx])
                    pending.append((left << pack_bits) | right)
                    n_pending += int(lens.sum())
                    r += rows
                    if n_pending >= flush_pairs:
                        yield flush()
        if n_pending:
            yield flush()

    def run(batches):
        import pandas as pd

        def arrays():
            for pdf in batches:
                yield from pdf["us"]

        for pk, cnt in expand(arrays()):
            yield pd.DataFrame({"pk": pk, "w": cnt})

    partial = buckets.mapInPandas(run, "pk bigint, w bigint")
    return (
        partial.groupBy("pk")
        .agg(F.sum("w").cast("bigint").alias("w"))
        .where(F.col("w") >= out_min_w)
        .select(
            # exact bitwise decode — a float division here would corrupt
            # ids once pk exceeds 2^53
            F.shiftright("pk", _PAIR_PACK_BITS).alias("u"),
            F.col("pk").bitwiseAND(F.lit((1 << _PAIR_PACK_BITS) - 1)).alias("v"),
            "w",
        )
    )


@register(
    "g1_cooccurrence_graph",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // {NS_PER_HOUR} AS h, event_type
      FROM events),
    p AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM act a JOIN act b USING (h, event_type)
      WHERE a.user_id < b.user_id)
    SELECT u, v, CAST(count(*) AS BIGINT) AS w
    FROM p GROUP BY u, v
    HAVING count(*) >= {_G1_MIN_W}
    ORDER BY u, v
    """,
)
def _cooccurrence_edges(spark, sf_dir):
    """Unsorted G1 edge list (u, v, w) — the shared input for G2/G3.
    No global sort here: downstream consumers aggregate or join, so an
    ordering would be shuffled away immediately."""
    T = loader(sf_dir, spark)
    buckets = (
        T("events")
        # NULL bucket keys never match in the oracle's JOIN ... USING
        # (and NULL user_id never satisfies u < v), but groupBy would
        # keep them as a real group and the kernel would emit their
        # pairs (ADVICE r11) — drop them before the aggregation.
        .where(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .select(
            "user_id",
            (F.col("ts") - F.col("ts") % NS_PER_HOUR).alias("h"),
            "event_type",
        )
        .groupBy("h", "event_type")
        .agg(F.collect_set("user_id").alias("us"))
        .select("us")
    )
    return _pair_count_kernel(buckets, _G1_MIN_W)


def g1_cooccurrence_graph(spark, sf_dir):
    return _cooccurrence_edges(spark, sf_dir).orderBy("u", "v")


# --------------------------------------------------------------------------
# G2 — weighted degree centrality from the G1 edge list: per user, the
# number of co-occurrence partners and total edge weight, top 25 by
# (weighted degree, user). Edges are undirected, so each endpoint
# contributes — the explode keeps it one pass over the edge list.
# --------------------------------------------------------------------------
@register(
    "g2_degree_centrality",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // {NS_PER_HOUR} AS h, event_type
      FROM events),
    p AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM act a JOIN act b USING (h, event_type)
      WHERE a.user_id < b.user_id),
    e AS (
      SELECT u, v, count(*) AS w FROM p GROUP BY u, v
      HAVING count(*) >= {_G1_MIN_W}),
    ends AS (
      SELECT u AS user_id, w FROM e
      UNION ALL
      SELECT v AS user_id, w FROM e)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS degree,
           CAST(sum(w) AS BIGINT) AS weighted_degree
    FROM ends GROUP BY user_id
    ORDER BY weighted_degree DESC, user_id
    LIMIT 25
    """,
)
def g2_degree_centrality(spark, sf_dir):
    edges = _cooccurrence_edges(spark, sf_dir)
    ends = edges.select(F.col("u").alias("user_id"), "w").unionAll(
        edges.select(F.col("v").alias("user_id"), "w")
    )
    return (
        ends.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("degree"),
            F.sum("w").cast("bigint").alias("weighted_degree"),
        )
        .orderBy(F.col("weighted_degree").desc(), "user_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# G3 — weighted PageRank (damping 0.85, 3 power iterations) over the G1
# co-occurrence graph, top 25 nodes. The iterative-algorithm shape on
# Spark: each iteration is one (src-keyed join + dst-keyed exact agg);
# rank mass is quantized to 2^-40 units and summed as split-limb longs
# (fixedpoint.py), so the per-node incoming sum is an INTEGER total —
# immune to float aggregation order — and both engines rebuild the same
# double from it (DuckDB sums the units as HUGEINT, Spark as two long
# limbs recombined in DECIMAL(38) space; both casts are correctly
# rounded). Every node of the symmetrized edge list has out-edges, so
# there is no dangling-mass term.
#
# Lineage discipline (the part that makes iteration viable on Spark):
# e2/ww are consumed by every iteration and p_k nests p_{k-1}, so
# WITHOUT materialization the plan tree re-derives the quadratic edge
# build once per reference — measured 20 s at sf0.1 (~13 edge-build
# repetitions) vs 3.8 s with localCheckpoints on the two frames that
# genuinely fan out (the symmetrized edges and the weight-joined edge
# frame every iteration reads; blocks released by the ContextCleaner).
# Rank frames are NOT checkpointed: each is referenced exactly once.
# Same rule at 100 TB: checkpoint exactly the frames an iterative loop
# re-reads, nothing else. NOTE Spark 4.1 localCheckpoint launches its
# job at call time even with eager=False, so this query does real
# engine work at CONSTRUCTION — bench harnesses must keep it inside the
# timed region (bench.py EAGER_CONSTRUCT).
# --------------------------------------------------------------------------
_PR_SCALE = 1099511627776.0  # 2^40, the repo's standard float-quantum

_PR_ITER_SQL = """
    c{k} AS (
      SELECT e2.dst AS node,
             SUM(CAST(round(p.pr * (CAST(e2.w AS DOUBLE) / ww.wout)
                            * 1099511627776.0) AS BIGINT)) AS s
      FROM e2
      JOIN p{j} p ON p.node = e2.src
      JOIN ww ON ww.src = e2.src
      GROUP BY e2.dst),
    p{k} AS (
      SELECT node, 0.15 / nn + 0.85 * (CAST(s AS DOUBLE) / 1099511627776.0) AS pr
      FROM c{k} CROSS JOIN n)"""


@register(
    "g3_pagerank",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // {NS_PER_HOUR} AS h, event_type
      FROM events),
    pairs AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM act a JOIN act b USING (h, event_type)
      WHERE a.user_id < b.user_id),
    e AS (
      SELECT u, v, CAST(count(*) AS BIGINT) AS w
      FROM pairs GROUP BY u, v HAVING count(*) >= {_G1_MIN_W}),
    e2 AS (
      SELECT u AS src, v AS dst, w FROM e
      UNION ALL
      SELECT v AS src, u AS dst, w FROM e),
    ww AS (SELECT src, CAST(SUM(w) AS DOUBLE) AS wout FROM e2 GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM ww),
    p0 AS (SELECT src AS node, 1.0 / nn AS pr FROM ww CROSS JOIN n),
    {_PR_ITER_SQL.format(k=1, j=0)},
    {_PR_ITER_SQL.format(k=2, j=1)},
    {_PR_ITER_SQL.format(k=3, j=2)}
    SELECT node AS user_id, round(pr, 6) + 0.0 AS pagerank
    FROM p3
    ORDER BY pr DESC, node
    LIMIT 25
    """,
)
def g3_pagerank(spark, sf_dir):
    return _pagerank_impl(spark, sf_dir)


# Broadcast ceiling for the rank frame: ~16 bytes/node payload, so 5M
# nodes ≈ 80 MB per executor — comfortably under typical executor
# headroom. The rank-side join strategy is O(|nodes|) DRIVER+EXECUTOR
# memory under broadcast, which is fine for bounded graphs (users,
# SKUs, hosts) but must NOT be the only path: above the ceiling each
# iteration switches to a plain keyed shuffle join — one exchange of
# the (checkpointed, already-partitioned) edge frame plus one of the
# rank frame per iteration, no node-count-sized memory anywhere
# (VERDICT r5 #2).
_PR_BROADCAST_MAX_NODES = 5_000_000


def _pagerank_impl(spark, sf_dir, broadcast_max_nodes: int = _PR_BROADCAST_MAX_NODES):
    from kompactor_spark import fixedpoint as fx

    edges = _cooccurrence_edges(spark, sf_dir)
    e2 = (
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"), "w")
        .unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w"))
        .localCheckpoint(eager=False)
    )
    ww = e2.groupBy("src").agg(F.sum("w").cast("double").alias("wout"))
    # fold the out-weight into the edge frame ONCE: iterations then never
    # re-join (or re-shuffle) the edge list — each is one broadcast of
    # the node-keyed rank frame plus one dst-keyed aggregate. The
    # node-sized ww is the pinned hash build side: the edge frame's
    # estimate is garbage after the round-11 pair kernel, and a
    # stats-driven broadcast of the EDGE side OOM'd an 8g driver on the
    # skewed fixture (see _oriented_edges note).
    e2n = e2.join(ww.hint("shuffle_hash"), "src").localCheckpoint(eager=False)
    # Node count read ONCE driver-side (bounded scalar — same model-state
    # class as quantile cuts): it picks the rank-join strategy and turns
    # the per-iteration 1/n cross-join subtree into a plain literal.
    n_nodes = ww.count()
    nn = F.lit(float(n_nodes))
    p = ww.select(F.col("src").alias("node"), (F.lit(1.0) / nn).alias("pr"))
    # below the ceiling: explicit broadcast of the rank frame (the hint
    # outranks any estimate); above it: pin the rank frame as the
    # per-partition hash build — never let garbage edge-frame stats
    # pick a broadcast side
    rank_side = (
        (lambda d: F.broadcast(d))
        if n_nodes <= broadcast_max_nodes
        else (lambda d: d.hint("shuffle_hash"))
    )
    for _ in range(3):
        contrib = F.col("pr") * (F.col("w").cast("double") / F.col("wout"))
        hi, lo = fx.limb_split(F.round(contrib * F.lit(_PR_SCALE)).cast("long"))
        c = (
            e2n.join(rank_side(p), e2n["src"] == p["node"])
            .select(F.col("dst").alias("node"), hi.alias("hi"), lo.alias("lo"))
            .groupBy("node")
            .agg(F.sum("hi").alias("shi"), F.sum("lo").alias("slo"))
        )
        s_double = (
            F.col("shi").cast("decimal(38,0)") * F.lit(fx.LIMB).cast("decimal(7,0)")
            + F.col("slo").cast("decimal(38,0)")
        ).cast("double")
        # no checkpoint on the rank frame: each p_k is referenced exactly
        # once (the next iteration's join), so there is no lineage
        # fan-out to cut — measured ~0.1 s faster without, and one fewer
        # job per iteration (localCheckpoint launches its job at call
        # time even with eager=False on Spark 4.1)
        p = c.select(
            "node",
            (F.lit(0.15) / nn + F.lit(0.85) * (s_double / F.lit(_PR_SCALE))).alias("pr"),
        )
    return (
        p.select(
            F.col("node").alias("user_id"),
            F.col("pr").alias("_raw"),
            (F.round("pr", 6) + F.lit(0.0)).alias("pagerank"),
        )
        .orderBy(F.col("_raw").desc(), "user_id")
        .limit(25)
        .select("user_id", "pagerank")
    )


# --------------------------------------------------------------------------
# G4 — triangle counting (per-vertex participation, top 25). Triangles
# are the base primitive of clustering-coefficient / community-density
# analysis. Shape: the canonical two-join wedge closure over the
# ORIENTED edge list (u < v, so each triangle a<b<c is materialized
# exactly once): wedges = e(a,b) ⋈ e(b,c) on the shared middle vertex,
# closed by an equi-join back onto e(a,c). Per-vertex counts come from
# exploding the three corners — one narrow pass over the triangle set.
#
# 100 TB shape: both joins are hash equi-joins on vertex keys — never a
# cross join — and the wedge fan-out is bounded by per-vertex out-degree
# in the orientation. Round 9: the orientation is DEGREE orientation
# (each edge directed from its lower-(degree, id) endpoint), the
# standard scale-safe form — wedge pairs expand only from the lowest-
# key corner of each triangle, so total wedge count is O(E^1.5)
# regardless of degree skew (a 10M-degree hub under id orientation
# could fan out 10M² wedges; under degree orientation its out-degree is
# bounded by O(sqrt(E))). The enumerated triangle SET is identical to
# the id-oriented form, so the DuckDB oracle keeps the u<v formulation.
# --------------------------------------------------------------------------


def _oriented_edges(e):
    """Degree-orient the u<v edge list: direct each edge from its
    lower-(degree, id) endpoint to the higher. Returns (s, x, kx)
    where kx is the head's (degree, id) struct — carried on the edge
    so downstream wedge pairs order themselves without re-joining
    degrees. Ties broken by id, making the orientation a total order
    (acyclic), which is what guarantees each triangle has exactly one
    vertex with two out-edges."""
    adj = e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("dn"))
    du = deg.select(F.col("n").alias("u"), F.col("dn").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("dn").alias("dv"))
    # SHUFFLE_HASH pins the node-sized degree frames as the hash build
    # side. Catalyst must not pick the strategy from size estimates
    # here: the edge frame descends from the round-11 pair kernel
    # (MapInPandas), whose estimate is garbage-small — on the 16.8M-edge
    # skewed fixture Catalyst BROADCAST the edge list as a build side
    # and OOM'd the 8g driver (round 11, measured). An explicit hash
    # build on |V|-sized frames is per-partition bounded at any scale.
    ed = e.join(du.hint("shuffle_hash"), "u").join(dv.hint("shuffle_hash"), "v")
    # struct comparison is lexicographic: (degree, id) — the total order
    ku = F.struct(F.col("du").alias("d"), F.col("u").alias("i"))
    kv = F.struct(F.col("dv").alias("d"), F.col("v").alias("i"))
    u_first = ku < kv
    return ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("x"),
        F.when(u_first, kv).otherwise(ku).alias("kx"),
    )


def _oriented_triangles_from(e):
    """Each triangle exactly once as (a, b, c) = (lowest-key corner,
    its two out-neighbors ordered by key). Wedges = pairs of out-edges
    from one source; the closing edge {b, c} is oriented (b, c) by
    construction since k(b) < k(c), so the closure is a plain
    equi-join on the oriented edge list."""
    d = _oriented_edges(e).localCheckpoint(eager=False)
    w1 = d.select("s", F.col("x").alias("b"), F.col("kx").alias("kb"))
    w2 = d.select("s", F.col("x").alias("c"), F.col("kx").alias("kc"))
    closing = d.select(F.col("s").alias("b"), F.col("x").alias("c"))
    # MERGE pins sort-merge for the edge-sized x edge-sized joins: the
    # checkpointed frames carry no usable stats (kernel lineage), and
    # neither side of a wedge/closure join may ever be a broadcast
    # build (see _oriented_edges note).
    return (
        w1.join(w2.hint("merge"), "s")
        .where(F.col("kb") < F.col("kc"))
        .join(closing.hint("merge"), ["b", "c"])
        .select(F.col("s").alias("a"), "b", "c")
    )
@register(
    "g4_triangle_count",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // {NS_PER_HOUR} AS h, event_type
      FROM events),
    p AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM act a JOIN act b USING (h, event_type)
      WHERE a.user_id < b.user_id),
    e AS (
      SELECT u, v FROM p GROUP BY u, v
      HAVING count(*) >= {_G1_MIN_W}),
    t AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.v = e2.u
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
    corners AS (
      SELECT a AS user_id FROM t
      UNION ALL SELECT b FROM t
      UNION ALL SELECT c FROM t)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY user_id
    ORDER BY n_triangles DESC, user_id
    LIMIT 25
    """,
)
def g4_triangle_count(spark, sf_dir):
    # Degree-oriented enumeration (see _oriented_triangles_from): the
    # oriented edge frame feeds all three join legs and is checkpointed
    # once inside the helper. The RAW edge frame also fans out (both
    # degree-count union legs + the orientation join), so cut its
    # lineage here too — same discipline as g5 (the G3 lineage lesson).
    e = _cooccurrence_edges(spark, sf_dir).select("u", "v").localCheckpoint(eager=False)
    tri = _oriented_triangles_from(e)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("user_id"))
    return (
        corners.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "user_id")
        .limit(25)
    )


# --------------------------------------------------------------------------
# G5 — neighborhood Jaccard similarity (new round 4): for every G1 edge
# (u,v), |N(u) ∩ N(v)| / |N(u) ∪ N(v)| over the symmetrized adjacency —
# the classic link-prediction / community-strength feature. Shape
# (round 9): common neighbors are only needed for ADJACENT pairs — and
# a common neighbor of an edge's endpoints is exactly a triangle
# through that edge — so the counts come from the degree-oriented
# triangle enumeration (each triangle credits its three edges),
# NOT from an adjacency self-join on the shared neighbor, whose hub
# fan-out is d(x)² under skew. Degrees are one keyed count, and both
# attach to the edge list by vertex-keyed equi-joins — no all-pairs
# stage anywhere. Jaccard is a closed-form division over exact BIGINTs.
# --------------------------------------------------------------------------
@register(
    "g5_neighbor_jaccard",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // {NS_PER_HOUR} AS h, event_type
      FROM events),
    p AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM act a JOIN act b USING (h, event_type)
      WHERE a.user_id < b.user_id),
    e AS (
      SELECT u, v FROM p GROUP BY u, v
      HAVING count(*) >= {_G1_MIN_W}),
    adj AS (
      SELECT u AS src, v AS dst FROM e
      UNION ALL SELECT v, u FROM e),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY src),
    cn AS (
      SELECT a1.src AS u, a2.src AS v, CAST(COUNT(*) AS BIGINT) AS common
      FROM adj a1 JOIN adj a2 ON a1.dst = a2.dst
      WHERE a1.src < a2.src
      GROUP BY a1.src, a2.src)
    SELECT e.u, e.v,
           COALESCE(cn.common, 0) AS common,
           round(CAST(COALESCE(cn.common, 0) AS DOUBLE)
                 / (du.d + dv.d - COALESCE(cn.common, 0)), 6) AS jaccard
    FROM e
    JOIN deg du ON du.src = e.u
    JOIN deg dv ON dv.src = e.v
    LEFT JOIN cn ON cn.u = e.u AND cn.v = e.v
    ORDER BY jaccard DESC, e.u, e.v
    LIMIT 25
    """,
)
def g5_neighbor_jaccard(spark, sf_dir):
    # The edge frame feeds the degree count, the oriented triangle
    # enumeration, and the final attach — checkpoint once (same
    # lineage discipline as G3/G4).
    e = _cooccurrence_edges(spark, sf_dir).select("u", "v").localCheckpoint(eager=False)
    deg = (
        e.select(F.col("u").alias("src"))
        .unionAll(e.select(F.col("v").alias("src")))
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    # common(u, v) for an EDGE (u, v) = number of triangles through it:
    # each oriented triangle credits its three edges, canonicalized to
    # the edge list's u<v id order
    tri = _oriented_triangles_from(e)
    cn = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(F.least("a", "b").alias("cu"), F.greatest("a", "b").alias("cv")),
                    F.struct(F.least("a", "c").alias("cu"), F.greatest("a", "c").alias("cv")),
                    F.struct(F.least("b", "c").alias("cu"), F.greatest("b", "c").alias("cv")),
                )
            ).alias("p")
        )
        .select("p.cu", "p.cv")
        .groupBy("cu", "cv")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
    )
    du = deg.select(F.col("src").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("d").alias("dv"))
    common = F.coalesce(F.col("common"), F.lit(0))
    # hash-build the node-sized degree frames, sort-merge the
    # edge-sized cn attach — never a stats-driven broadcast of a
    # kernel-lineage frame (see _oriented_edges note)
    return (
        e.join(du.hint("shuffle_hash"), "u")
        .join(dv.hint("shuffle_hash"), "v")
        .join(cn.hint("merge"), (F.col("u") == F.col("cu")) & (F.col("v") == F.col("cv")), "left")
        .select(
            "u",
            "v",
            common.cast("bigint").alias("common"),
            F.round(common.cast("double") / (F.col("du") + F.col("dv") - common), 6).alias(
                "jaccard"
            ),
        )
        .orderBy(F.col("jaccard").desc(), "u", "v")
        .limit(25)
    )


# --------------------------------------------------------------------------
# G6 — degree assortativity (new round 4): the Pearson correlation of
# endpoint degrees over the symmetrized edge list — one scalar that
# says whether hubs attach to hubs (r>0, social networks) or to leaves
# (r<0, infrastructure/fraud topologies). Every power sum (Σd_u, Σd_v,
# Σd_u², Σd_v², Σd_u·d_v) is an exact BIGINT over integer degrees, so
# the correlation is a closed-form double from exact integers —
# bit-deterministic cross-engine with no decimal machinery needed.
# Shape: adjacency degree count + two vertex-keyed joins back onto the
# edge list, then one global scalar aggregate.
# --------------------------------------------------------------------------
@register(
    "g6_degree_assortativity",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             epoch_ns(ts) // {NS_PER_HOUR} AS h, event_type
      FROM events),
    p AS (
      SELECT a.user_id AS u, b.user_id AS v
      FROM act a JOIN act b USING (h, event_type)
      WHERE a.user_id < b.user_id),
    e AS (
      SELECT u, v FROM p GROUP BY u, v
      HAVING count(*) >= {_G1_MIN_W}),
    adj AS (
      SELECT u AS src, v AS dst FROM e
      UNION ALL SELECT v, u FROM e),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY src),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(du.d) AS BIGINT) AS s_u,
             CAST(SUM(dv.d) AS BIGINT) AS s_v,
             CAST(SUM(du.d * du.d) AS BIGINT) AS s_uu,
             CAST(SUM(dv.d * dv.d) AS BIGINT) AS s_vv,
             CAST(SUM(du.d * dv.d) AS BIGINT) AS s_uv
      FROM adj
      JOIN deg du ON du.src = adj.src
      JOIN deg dv ON dv.src = adj.dst)
    SELECT m,
           round((CAST(s_uv AS DOUBLE) - CAST(s_u AS DOUBLE) * s_v / m)
                 / (sqrt(CAST(s_uu AS DOUBLE) - CAST(s_u AS DOUBLE) * s_u / m)
                    * sqrt(CAST(s_vv AS DOUBLE) - CAST(s_v AS DOUBLE) * s_v / m)),
                 6) + 0.0 AS assortativity
    FROM s
    """,
)
def g6_degree_assortativity(spark, sf_dir):
    e = _cooccurrence_edges(spark, sf_dir).select("u", "v")
    adj = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).localCheckpoint(eager=False)  # degree count + both endpoint joins
    deg = adj.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    du = deg.select(F.col("src").alias("j_src"), F.col("d").alias("du"))
    dv = deg.select(F.col("src").alias("j_dst"), F.col("d").alias("dv"))
    # Degree products limb-split at 31 bits, endpoint degrees at 16
    # (x26's perf_smoke overflow class: plain long SUMs of products
    # throw under ANSI once Σdu² approaches 2^63; products themselves
    # must fit int64 in both engines — degrees ≤ ~2^31 — and the splits
    # keep every limb SUM long-safe past 1e10 directed edges).
    from kompactor_spark import fixedpoint as fx

    uu_hi, uu_lo = fx.limb_split(F.col("du") * F.col("du"), 31)
    vv_hi, vv_lo = fx.limb_split(F.col("dv") * F.col("dv"), 31)
    uv_hi, uv_lo = fx.limb_split(F.col("du") * F.col("dv"), 31)
    u_hi, u_lo = fx.limb_split(F.col("du"), 16)
    v_hi, v_lo = fx.limb_split(F.col("dv"), 16)
    # hash-build the node-sized degree frames (see _oriented_edges
    # note: edge-frame estimates are garbage post-kernel)
    joined = (
        adj.join(du.hint("shuffle_hash"), adj.src == du.j_src)
        .join(dv.hint("shuffle_hash"), adj.dst == dv.j_dst)
        .select(
            uu_hi.alias("__uu_hi"), uu_lo.alias("__uu_lo"),
            vv_hi.alias("__vv_hi"), vv_lo.alias("__vv_lo"),
            uv_hi.alias("__uv_hi"), uv_lo.alias("__uv_lo"),
            u_hi.alias("__u_hi"), u_lo.alias("__u_lo"),
            v_hi.alias("__v_hi"), v_lo.alias("__v_lo"),
        )
    )
    s = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        fx.exact_sum_units("__u_hi", "__u_lo", 16).alias("s_u"),
        fx.exact_sum_units("__v_hi", "__v_lo", 16).alias("s_v"),
        fx.exact_sum_units("__uu_hi", "__uu_lo", 31).alias("s_uu"),
        fx.exact_sum_units("__vv_hi", "__vv_lo", 31).alias("s_vv"),
        fx.exact_sum_units("__uv_hi", "__uv_lo", 31).alias("s_uv"),
    )
    m = F.col("m")
    num = F.col("s_uv").cast("double") - F.col("s_u").cast("double") * F.col("s_v") / m
    den = F.sqrt(
        F.col("s_uu").cast("double") - F.col("s_u").cast("double") * F.col("s_u") / m
    ) * F.sqrt(F.col("s_vv").cast("double") - F.col("s_v").cast("double") * F.col("s_v") / m)
    return s.select("m", (F.round(num / den, 6) + F.lit(0.0)).alias("assortativity"))
