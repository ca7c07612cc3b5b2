"""LLM training-data pipeline queries (SURVEY §2.B L1-L5 + driver
mandate: dedup, similarity search, multimodal, text analysis).

Hash-checked where deterministic; MinHash/SimHash/LSH variants are
seeded-randomized or engine-hash-based and registered rows-only with
recall-bound tests in tests/test_tolerance.py.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from kompactor_spark.operators import dedup as D
from kompactor_spark.operators import simsearch as S
from kompactor_spark.operators import text as X
from kompactor_spark.queries import register
from kompactor_spark.session import dim_broadcast
from kompactor_spark.tables import fan_out, loader

# Shared DuckDB fragment: distinct 3-gram shingles per doc.
_SH_SQL = """
        SELECT doc_id, list_distinct(
          CASE WHEN len(ts) >= 3
               THEN list_transform(generate_series(1, len(ts)-2),
                                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
               ELSE [array_to_string(ts, ' ')] END) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
"""


# --------------------------------------------------------------------------
# L1 — exact dedup: canonical doc per text (min doc_id), copy count
# --------------------------------------------------------------------------
@register(
    "l1_exact_dedup",
    oracle="""
    SELECT text, CAST(min(doc_id) AS BIGINT) AS canonical_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY text
    ORDER BY canonical_id
    """,
)
def l1_exact_dedup(spark, sf_dir):
    T = loader(sf_dir, spark)
    return D.exact_dedup(T("documents")).orderBy("canonical_id")


# --------------------------------------------------------------------------
# L2 — exact shingle-Jaccard near-dup pairs (inverted-index blocked in
# Spark; all-pairs in the oracle — same integer counts, same doubles)
# --------------------------------------------------------------------------
@register(
    "l2_jaccard_pairs",
    oracle=f"""
    WITH d AS ({_SH_SQL})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.12
    ORDER BY id_a, id_b
    """,
)
def l2_jaccard_pairs(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.jaccard_pairs(T("documents"), threshold=0.12)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2f — directed shingle CONTAINMENT pairs (new round 4): |A∩B|/|A| —
# the asymmetric near-dup measure that catches a document mostly
# embedded in a larger one (symmetric Jaccard dilutes it by the
# container's size). Same inverted-index blocking as L2; all-pairs in
# the oracle (same integer counts, same doubles).
# --------------------------------------------------------------------------
@register(
    "l2_containment_pairs",
    # Oracle formulation note (round 5): the original twin was the
    # textbook all-pairs `d a JOIN d b ON a.doc_id <> b.doc_id` +
    # len(list_intersect()) — semantically cleanest, but it forces
    # DuckDB into an O(n²) nested-loop it cannot re-plan (measured
    # ~25 min single-threaded at sf1, vs 168 s for this equivalent
    # inverted-index join). Since shingle lists are list_distinct sets,
    # unnest + equi-join + COUNT(*) per pair IS len(list_intersect) —
    # verified bit-identical output at sf0.01 before swapping. Keeping
    # the stronger formulation makes the published engine/oracle ratio
    # an honest plan-vs-plan comparison, not a win over a strawman.
    oracle=f"""
    WITH d AS ({_SH_SQL}),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
    s AS (SELECT doc_id, len(sh) AS n_sh FROM d),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(n_shared AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 6) AS containment
    FROM p JOIN s ON s.doc_id = p.id_a
    WHERE CAST(n_shared AS DOUBLE) / CAST(s.n_sh AS DOUBLE) >= 0.12
    ORDER BY id_a, id_b
    """,
)
def l2_containment_pairs(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.containment_pairs(T("documents"), threshold=0.12)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2f2 — containment pairs with exact-duplicate collapse (new round 6):
# the scale path for duplicate-heavy corpora. Pairwise verify is
# quadratic in duplicate multiplicity (operators/dedup.py
# containment_pairs_collapsed docstring has the measured sf10 numbers:
# raw bound 10.4e9 candidate rows over 500k docs vs a ~5k-representative
# verify after collapse). One hash shuffle collapses texts to (min-id
# canonical, copy count); the SAME inverted-index containment runs over
# representatives; each pair carries both multiplicities.
# --------------------------------------------------------------------------
@register(
    "l2_containment_collapsed",
    oracle="""
    WITH c AS (
      SELECT min(doc_id) AS doc_id, text, CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY text),
    d AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(ts) >= 3
             THEN list_transform(generate_series(1, len(ts)-2),
                                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             ELSE [array_to_string(ts, ' ')] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM c)),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
    s AS (SELECT doc_id, len(sh) AS n_sh FROM d),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(n_shared AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 6) AS containment,
           ca.n_copies AS n_copies_a, cb.n_copies AS n_copies_b
    FROM p
    JOIN s ON s.doc_id = p.id_a
    JOIN c ca ON ca.doc_id = p.id_a
    JOIN c cb ON cb.doc_id = p.id_b
    WHERE CAST(n_shared AS DOUBLE) / CAST(s.n_sh AS DOUBLE) >= 0.12
    ORDER BY id_a, id_b
    """,
)
def l2_containment_collapsed(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.containment_pairs_collapsed(T("documents"), threshold=0.12)
        .select(
            "id_a",
            "id_b",
            F.round("containment", 6).alias("containment"),
            "n_copies_a",
            "n_copies_b",
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2b — MinHash-LSH near-dup (seeded-randomized → rows-only check;
# recall bound vs exact Jaccard asserted in tests)
# --------------------------------------------------------------------------
@register("l2_minhash_lsh", check="T: seeded randomized LSH — recall bound vs exact Jaccard in tests/test_tolerance.py")
def l2_minhash_lsh(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.minhash_lsh_pairs(T("documents"), jaccard_threshold=0.12)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2b2 — hand-rolled MinHash band-bucket near-dup: explicit banding +
# bounded bucket size + exact-Jaccard verify (operators/dedup.py
# minhash_band_pairs — the explicit 100 TB dedup shape). Deterministic
# given the pinned seed, but banding recall < 1 by construction →
# rows-only check + recall/precision bounds in tests/test_tolerance.py.
# --------------------------------------------------------------------------
@register("l2_minhash_banded", check="T: seeded MinHash banding — recall/precision bounds vs exact Jaccard in tests/")
def l2_minhash_banded(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.minhash_band_pairs(
            T("documents"), jaccard_threshold=0.12, num_hashes=32, rows_per_band=1
        )
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2e — dedup clusters: connected components over near-dup pairs
# (iterative min-label propagation; oracle = DuckDB recursive CTE)
# --------------------------------------------------------------------------
@register(
    "l2_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_SH_SQL}),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.12
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    )
    SELECT CAST(node AS BIGINT) AS doc_id, CAST(MIN(label) AS BIGINT) AS cluster_id
    FROM walk GROUP BY node ORDER BY doc_id
    """,
)
def l2_dedup_clusters(spark, sf_dir):
    T = loader(sf_dir, spark)
    docs = T("documents")
    pairs = D.jaccard_pairs(docs, threshold=0.12)
    # Round 5: large-star/small-star CC (O(log n) rounds) replaces
    # min-label propagation (O(diameter) — one pathological long
    # component stalls the job and a bounded max_iter silently
    # mislabels it). Identical output; equivalence property-tested in
    # tests/test_star_cc.py, 512-chain pinned at <=12 rounds.
    return (
        D.dedup_clusters_star(pairs, docs)
        .select(F.col("doc_id").cast("bigint").alias("doc_id"), F.col("cluster_id").cast("bigint"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L2e2 — symmetric Jaccard pairs with exact-duplicate collapse (round
# 6): the symmetric member of the collapse-first family (containment =
# L2f2, clustering = L2g2). Same inverted-index pair formulation as
# the other collapsed oracles.
# --------------------------------------------------------------------------
@register(
    "l2_jaccard_collapsed",
    oracle="""
    WITH c AS (
      SELECT min(doc_id) AS doc_id, text, CAST(count(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY text),
    d AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(ts) >= 3
             THEN list_transform(generate_series(1, len(ts)-2),
                                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             ELSE [array_to_string(ts, ' ')] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM c)),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM d),
    s AS (SELECT doc_id, len(sh) AS n_sh FROM d),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(CAST(n_shared AS DOUBLE)
                 / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 6) AS jaccard,
           ca.n_copies AS n_copies_a, cb.n_copies AS n_copies_b
    FROM p
    JOIN s sa ON sa.doc_id = p.id_a
    JOIN s sb ON sb.doc_id = p.id_b
    JOIN c ca ON ca.doc_id = p.id_a
    JOIN c cb ON cb.doc_id = p.id_b
    WHERE CAST(n_shared AS DOUBLE)
          / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.12
    ORDER BY id_a, id_b
    """,
)
def l2_jaccard_collapsed(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.jaccard_pairs_collapsed(T("documents"), threshold=0.12)
        .select(
            "id_a",
            "id_b",
            F.round("jaccard", 6).alias("jaccard"),
            "n_copies_a",
            "n_copies_b",
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2g2 — connected-component clustering with exact-duplicate collapse
# (new round 6): output IDENTICAL to l2_dedup_clusters PROVIDED no
# shingle's doc-frequency crosses max_shingle_freq in either framing
# (ADVICE r6: the hot-shingle cutoff is applied AFTER collapse here but
# BEFORE it in the raw path, so a shingle pushed over the 1000-doc
# cutoff only by exact duplicates would yield different edge sets; the
# grading corpus stays far below the cutoff in both framings, and the
# DuckDB oracles model neither cutoff). Under that precondition: exact
# copies are jaccard-1.0 edges, so components over representatives
# project exactly onto components over documents, and the component
# minimum is the minimum representative (reps are per-text min ids) —
# but the
# quadratic pair-verify runs over distinct texts only, making the
# operator feasible on duplicate-heavy corpora where the raw pair
# build is not (see l2_containment_collapsed / BASELINE.md §5). One
# window pass maps every doc to its per-text min id (single text
# shuffle, checkpointed — read by the rep filter and the final label
# join), star-CC labels the representative graph, and docs join their
# label on the INT rep key, never re-shuffling text.
# --------------------------------------------------------------------------
@register(
    "l2_dedup_clusters_collapsed",
    # Pairs use the inverted-index equi-join formulation, NOT all-pairs
    # list_intersect: the theta join over ~5k sf10 representatives is
    # 12.5M list-intersects (~35 min/run in DuckDB — killed a bench),
    # while unnest + equi-join + COUNT(*) per pair is the identical
    # integer (the l2_containment_pairs oracle made the same verified
    # swap in round 5; shingle lists are list_distinct sets).
    oracle="""
    WITH RECURSIVE c AS (
      SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
    sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(ts) >= 3
             THEN list_transform(generate_series(1, len(ts)-2),
                                 i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
             ELSE [array_to_string(ts, ' ')] END) AS sh
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM c)),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
    s AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b
      FROM p
      JOIN s sa ON sa.doc_id = p.id_a
      JOIN s sb ON sb.doc_id = p.id_b
      WHERE CAST(n_shared AS DOUBLE)
            / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.12
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM c
      UNION
      SELECT e.src, w.label FROM edges e JOIN walk w ON e.dst = w.node
    ),
    rep_label AS (SELECT node, MIN(label) AS label FROM walk GROUP BY node)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(r.label AS BIGINT) AS cluster_id
    FROM documents d
    JOIN c ON c.text = d.text
    JOIN rep_label r ON r.node = c.doc_id
    ORDER BY doc_id
    """,
)
def l2_dedup_clusters_collapsed(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    docs = T("documents")
    w = Window.partitionBy("text")
    mapped = (
        docs.select("doc_id", "text", F.min("doc_id").over(w).alias("rep_id"))
        .localCheckpoint(eager=False)
    )
    reps = mapped.where(F.col("doc_id") == F.col("rep_id")).select("doc_id", "text")
    pairs = D.jaccard_pairs(reps, threshold=0.12)
    labels = D.dedup_clusters_star(pairs, reps.select("doc_id")).withColumnRenamed(
        "doc_id", "rep_id"
    )
    return (
        # Round 14 (optimization): global order via range-partitioning
        # the checkpointed mapped frame BELOW the broadcast label join +
        # one local sort above it (the j19 shape) instead of a final
        # orderBy — whose range sampling re-ran the label probe over
        # every doc row AND whose exchange re-shuffled the whole output.
        # scripts/r14_sortexec_ab2_out.json: sf1 fetch 0.62 s -> 0.49 s,
        # row-identical. Round 15 (ADVICE r14): the doc_id range
        # partitioning only survives the join if it plans as BROADCAST —
        # a sort-merge pick would insert a rep_id exchange and silently
        # unorder the output (the order-insensitive oracle hash would
        # not catch it). labels is one row per cluster representative
        # (model-sized), so the hint is structural, like j19's
        # F.broadcast(cells); the no-exchange-above-the-join invariant
        # is pinned for real in tests/test_r14_sort_shapes.py.
        mapped.select("doc_id", "rep_id")
        .repartitionByRange("doc_id")
        .join(F.broadcast(labels), "rep_id")
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
        )
        .sortWithinPartitions("doc_id")
    )


# --------------------------------------------------------------------------
# L2c — SimHash signatures + near-dup pairs by Hamming distance
# --------------------------------------------------------------------------
@register("l2_simhash_pairs", check="T: hash-design-specific signatures — pair quality bounds tested in tests/")
def l2_simhash_pairs(spark, sf_dir):
    T = loader(sf_dir, spark)
    sig = D.simhash(T("documents"))
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            D.hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .where(F.col("hamming") <= 12)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L2d — embedding-cosine near-dup pairs
# --------------------------------------------------------------------------
@register(
    "l2_embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.4
    ORDER BY id_a, id_b
    """,
)
def l2_embedding_neardup(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        D.embedding_neardup_pairs(T("embeddings"), threshold=0.4)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L3 — cosine top-k vs a query vector (vec_id=0), exact brute force
# --------------------------------------------------------------------------
@register(
    "l3_cosine_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6) + 0.0 AS cosine
    FROM embeddings
    WHERE vec_id <> 0
    ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) DESC, vec_id ASC
    LIMIT 10
    """,
)
def l3_cosine_topk(spark, sf_dir):
    T = loader(sf_dir, spark)
    emb = T("embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return (
        S.brute_force_topk(emb.where(F.col("vec_id") != 0), qvec, k=10)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


def _query_vec_batch(sf_dir: str, hi: int = 8) -> list[tuple[int, list[float]]]:
    """Driver-side fetch of the constant query batch (VERDICT r12 #3).

    The batch is model state — the same class as the IVF centroids —
    so it is read with one pyarrow row-group-pruned scan instead of a
    dedicated Spark collect job: the ~0.13 s job floor of that collect
    was ~13% of the whole sf10 l7_knn/l3_batch rows (the two straddlers
    the r11/r12 verdicts tracked). Values are bit-identical to the old
    ``df.collect()`` path (both widen the same parquet float32s to
    Python floats); order differences are immaterial because every
    kernel output row carries its query_id. At 100 TB the query batch
    arrives as a parameter, not by scanning the corpus — this fetch
    only exists so the graded query is self-contained on sf_dir.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds

    data = ds.dataset(os.path.join(sf_dir, "embeddings.parquet"), format="parquet")
    # This path bypasses load_table/ensure_conf, so it would silently
    # absorb a physical re-encode (the repo has seen one: events.ts
    # nanos→micros) and feed the kernel subtly different query floats.
    # Pin the fetched arrow schema to SCHEMAS['embeddings'] (vec_id
    # int64, embedding list/fixed_size_list<float32>) and fail loudly on
    # drift instead (ADVICE r13).
    sch = data.schema
    vt, et = sch.field("vec_id").type, sch.field("embedding").type
    elem = et.value_type if (pa.types.is_list(et) or pa.types.is_fixed_size_list(et)) else None
    if not pa.types.is_int64(vt) or elem is None or not pa.types.is_float32(elem):
        raise TypeError(
            "embeddings.parquet physical schema drifted from the pinned "
            "contract (tables.SCHEMAS['embeddings']: vec_id int64, "
            f"embedding list<float32>): got vec_id={vt}, embedding={et}. "
            "Route the fetch through load_table or re-pin the contract."
        )
    t = data.to_table(columns=["vec_id", "embedding"], filter=ds.field("vec_id") < hi)
    return [
        (int(i), [float(x) for x in v])
        for i, v in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist())
    ]


# --------------------------------------------------------------------------
# L3d — BATCH top-k: nearest neighbors for a SET of query vectors in one
# pass (the real pipeline shape — dedup/retrieval never queries one
# vector at a time). Small query side broadcast against the corpus scan,
# JVM zip_with/aggregate dot products, per-query window top-k. At 100 TB
# the corpus is scanned ONCE for the whole query batch; swap the
# broadcast cross join for the IVF cell-probe join (l3_ivf_topk) when
# the query batch is itself large.
# --------------------------------------------------------------------------
@register(
    "l3_batch_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    sims AS (
      SELECT q.query_id, e.vec_id,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos_raw
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, cos_raw,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, vec_id) AS rn
      FROM sims)
    SELECT query_id, vec_id, round(cos_raw, 6) + 0.0 AS cosine
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, cosine DESC, vec_id
    """,
)
def l3_batch_topk(spark, sf_dir):
    # Round 10: the broadcast-crossJoin × fold-per-pair shape evaluated
    # |corpus|·|Q|·d interpreted lambda steps (plus re-deriving ‖v‖ on
    # every duplicated pair row) and funneled the full expansion through
    # a |Q|-partition window — 28.4 s at sf10. The Arrow kernel scores
    # each batch with one numpy matmul and prunes to batch-local top-k,
    # so the exact final window ranks a model-sized candidate frame.
    # Round 13 (VERDICT r12 #3): the query batch comes from the fused
    # pyarrow fetch (_query_vec_batch) instead of a dedicated Spark
    # collect job — that job's ~0.13 s floor was ~13% of this sf10 row.
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    emb = T("embeddings")
    queries = _query_vec_batch(sf_dir, hi=8)
    cand = S.batch_cosine_candidates(
        # k+1 then drop self-matches: a query's own row (cosine 1.0)
        # must not displace a real neighbor from the batch-local cut
        emb, queries, k=6
    ).where(F.col("vec_id") != F.col("query_id"))
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    )
    return (
        cand.withColumn("rn", rn)
        .where(F.col("rn") <= 5)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("query_id", F.col("cosine").desc(), "vec_id")
    )


# --------------------------------------------------------------------------
# L3b — LSH-bucketed approximate top-k (scale path; recall vs brute
# force asserted in tests)
# --------------------------------------------------------------------------
@register("l3_lsh_topk", check="T: seeded random-hyperplane LSH — recall@k vs exact cosine top-k in tests/")
def l3_lsh_topk(spark, sf_dir):
    T = loader(sf_dir, spark)
    emb = T("embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return (
        # 8 tables × probe-2: measured recall 1.0 at sf0.001/0.01/0.1
        # (these embeddings are near-random — LSH's adversarial case;
        # the OR-union probes ~70% of candidates here, but on real
        # clustered embeddings the same config prunes hard. IVF
        # (l3_ivf_topk) is the preferred scale path either way.)
        S.lsh_topk_multitable(
            emb.where(F.col("vec_id") != 0), qvec, k=10, n_bits=8, n_tables=8, hamming_probe=2
        )
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# L4 — token frequency top-20 (tokenize → explode → count)
# --------------------------------------------------------------------------
@register(
    "l4_token_freq",
    oracle="""
    SELECT t AS token, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    GROUP BY t
    ORDER BY freq DESC, token ASC
    LIMIT 20
    """,
)
def l4_token_freq(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        # fan_out: the tokenize+explode below is CPU-bound and must not be
        # serialized onto however few input splits the compressed text
        # scan happens to have (tables.fan_out is a no-op at real scale)
        fan_out(T("documents"))
        .select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# L4b — per-doc quality features (length / alpha ratio / stopword ratio)
# --------------------------------------------------------------------------
@register(
    "l4_doc_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS q_n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS q_n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS q_n_distinct_tokens,
           round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE), 6) AS q_alpha_ratio,
           round(CAST(len(list_filter(string_split(text, ' '),
                                      t -> t IN ('the','a','of','and'))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS q_en_stopword_ratio
    FROM documents
    ORDER BY doc_id
    """,
)
def l4_doc_stats(spark, sf_dir):
    T = loader(sf_dir, spark)
    q = X.quality_features(T("documents"))
    return q.select(
        "doc_id",
        "q_n_chars",
        "q_n_tokens",
        "q_n_distinct_tokens",
        F.round("q_alpha_ratio", 6).alias("q_alpha_ratio"),
        F.round("q_en_stopword_ratio", 6).alias("q_en_stopword_ratio"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# L4c — language-ID heuristic (marker scores + deterministic argmax)
# --------------------------------------------------------------------------
@register(
    "l4_lang_id",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das'))) AS BIGINT) AS lang_score_de,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and')))  AS BIGINT) AS lang_score_en,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','y','los')))   AS BIGINT) AS lang_score_es,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','la','et','les')))  AS BIGINT) AS lang_score_fr
      FROM documents)
    SELECT doc_id, lang, lang_score_de, lang_score_en, lang_score_es, lang_score_fr,
           CASE WHEN greatest(lang_score_de, lang_score_en, lang_score_es, lang_score_fr) = 0 THEN 'und'
                WHEN lang_score_de = greatest(lang_score_de, lang_score_en, lang_score_es, lang_score_fr) THEN 'de'
                WHEN lang_score_en = greatest(lang_score_de, lang_score_en, lang_score_es, lang_score_fr) THEN 'en'
                WHEN lang_score_es = greatest(lang_score_de, lang_score_en, lang_score_es, lang_score_fr) THEN 'es'
                ELSE 'fr' END AS lang_guess
    FROM s
    ORDER BY doc_id
    """,
)
def l4_lang_id(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        X.lang_id_scores(T("documents"))
        .select(
            "doc_id",
            "lang",
            "lang_score_de",
            "lang_score_en",
            "lang_score_es",
            "lang_score_fr",
            "lang_guess",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L4d — order-sensitive document fingerprint (rolling-hash style,
# md5-based → bit-identical in the oracle)
# --------------------------------------------------------------------------
@register(
    "l4_fingerprint",
    oracle="""
    SELECT doc_id,
           bit_xor(CAST(('0x' || substr(md5(t || '#' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT)) AS fingerprint
    FROM (SELECT doc_id,
                 unnest(string_split(text, ' ')) AS t,
                 unnest(generate_series(1, len(string_split(text, ' ')))) AS i
          FROM documents)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def l4_fingerprint(spark, sf_dir):
    T = loader(sf_dir, spark)
    return (
        T("documents")
        .select("doc_id", X.doc_fingerprint("text").alias("fingerprint"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L5 — multimodal columns: vector column Parquet round-trip with filter
# and projection intact
# --------------------------------------------------------------------------
@register(
    "l5_multimodal_roundtrip",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           array_to_string(
             list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, 4),
                            x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) AS VARCHAR)),
             ',') AS head4
    FROM embeddings
    WHERE label % 2 = 0
    ORDER BY vec_id
    """,
)
def l5_multimodal_roundtrip(spark, sf_dir):
    # head4 serialized to a canonical decimal CSV (driver canonicalizer
    # cannot hash ndarray cells — round-1 driver-ERR).
    from kompactor_spark.sources import scratch_path

    T = loader(sf_dir, spark)
    tag = sf_dir.rstrip("/").split("/")[-1]
    path = scratch_path("l5_embeddings_" + tag)
    T("embeddings").where(F.col("label") % 2 == 0).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("embedding").cast("array<double>"), 1, 4),
                lambda x: F.round(x, 6).cast("decimal(18,6)").cast("string"),
            ),
        ).alias("head4"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# L5b — multimodal feature extraction: binary payload → mapInPandas
# Arrow-batched kernel (deterministic fake decode; rows-only check)
# --------------------------------------------------------------------------
@register("l5_media_features", check="PY: binary decode goldens vs pure-Python BMP codec (tests/test_multimodal.py)")
def l5_media_features(spark, sf_dir):
    from kompactor_spark.operators.multimodal import extract_features, synthesize_media

    T = loader(sf_dir, spark)
    media = synthesize_media(T("embeddings").select("vec_id"), "vec_id", kind="image")
    return (
        extract_features(media)
        .select(
            "media_id",
            "kind",
            "n_bytes",
            # canonical CSV string — driver canonicalizer can't hash ndarray cells
            F.concat_ws(
                ",",
                F.transform(
                    "feature", lambda x: F.round(x, 4).cast("decimal(18,4)").cast("string")
                ),
            ).alias("feature"),
        )
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# L6a — token-budget selection: highest-quality docs first until a
# token budget is exhausted (the standard "fill the training mix"
# primitive). The running sum is the distributed two-pass prefix sum
# (operators/prefixsum.py): range-partition on (quality DESC, doc_id),
# per-partition cumsum, broadcast per-partition offsets — byte-identical
# to the oracle's global window without serializing the corpus through
# one task. (quality, doc_id) is a total order (doc_id unique), so the
# result is deterministic.
# --------------------------------------------------------------------------
@register(
    "l6_token_budget",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE), 6) AS quality
      FROM documents
    ),
    ranked AS (
      SELECT *, CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, lang, n_tokens, quality, cum_tokens
    FROM ranked WHERE cum_tokens <= 20000
    ORDER BY doc_id
    """,
)
def l6_token_budget(spark, sf_dir):
    from kompactor_spark.operators.prefixsum import distributed_cumsum

    T = loader(sf_dir, spark)
    scored = T("documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
            / F.length("text").cast("double"),
            6,
        ).alias("quality"),
    )
    cum = distributed_cumsum(
        scored,
        [F.col("quality").desc(), F.col("doc_id")],
        "n_tokens",
        "cum_tokens",
    )
    return (
        cum.select("doc_id", "lang", "n_tokens", "quality", "cum_tokens")
        .where(F.col("cum_tokens") <= 20000)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6b — PII-style redaction: emails, long digit runs, URLs → tags
# (regexp_replace chain; pure JVM expression)
# --------------------------------------------------------------------------
@register(
    "l6_redact",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^ ]+', '<URL>', 'g'),
             '[0-9]{6,}', '<NUM>', 'g') AS redacted
    FROM documents
    ORDER BY doc_id
    """,
)
def l6_redact(spark, sf_dir):
    T = loader(sf_dir, spark)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
            ),
            r"https?://[^ ]+",
            "<URL>",
        ),
        r"[0-9]{6,}",
        "<NUM>",
    )
    return T("documents").select("doc_id", redacted.alias("redacted")).orderBy("doc_id")


# --------------------------------------------------------------------------
# L6c — deterministic stratified sampling: per-stratum rates via a hash
# of the row key (NOT rand(): hash sampling is partitioning- and
# retry-independent, which is what a reproducible training mix needs).
# Engine-specific hash → rows-only driver check + rate property test.
# --------------------------------------------------------------------------
SAMPLE_RATES = {"en": 0.8, "de": 0.5, "fr": 0.5, "es": 0.25, "it": 0.25}


@register("l6_stratified_sample", check="T: seeded deterministic sampling — per-stratum rate tolerance in tests/")
def l6_stratified_sample(spark, sf_dir):
    T = loader(sf_dir, spark)
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(20260813)), F.lit(10000))
    rate = F.coalesce(
        *[F.when(F.col("lang") == code, F.lit(r)) for code, r in SAMPLE_RATES.items()],
        F.lit(0.1),
    )
    return (
        T("documents")
        .where(bucket < rate * 10000)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6h — deterministic train/val/test split: assignment by a content-free
# hash of the row KEY (md5 hex compares identically in Spark and DuckDB,
# so the split is portable, reproducible, retry- and partitioning-
# independent — rand() is none of those). Thresholds are hex prefixes:
# 'f8' ≈ 96.9 % train, 'fc' ≈ +1.6 % val, rest ≈ 1.6 % test. The same
# shape scales to any ratio (compare more hex digits for finer grain);
# one narrow projection, no shuffle before the (bench-only) sort.
# --------------------------------------------------------------------------
@register(
    "l6_train_val_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f8' THEN 'train'
                WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'fc' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id
    """,
)
def l6_train_val_split(spark, sf_dir):
    T = loader(sf_dir, spark)
    h = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    return (
        T("documents")
        .select(
            "doc_id",
            F.when(h < "f8", "train").when(h < "fc", "val").otherwise("test").alias("split"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6i — weighted dataset mixing: keep a deterministic subset whose
# per-source proportions hit target weights (even-numbered sources 3:1
# over odd here). The scale T = min(count_s / weight_s) saturates the
# scarcest source; each source keeps its floor(weight*T) docs chosen by
# md5 hash order — reproducible, partitioning-independent, and
# hash-checkable exactly (identical md5 + identical floor on both
# engines). Shape: tiny per-source keep-table broadcast against one
# ranked scan — no data-sized driver traffic at any scale.
# --------------------------------------------------------------------------
@register(
    "l6_weighted_mix",
    oracle="""
    WITH w AS (
      SELECT source,
             CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0 THEN 3.0 ELSE 1.0 END AS wt,
             CAST(COUNT(*) AS DOUBLE) AS cnt
      FROM documents GROUP BY source),
    t AS (SELECT min(cnt / wt) AS t FROM w),
    keep AS (SELECT source, CAST(floor(wt * t) AS BIGINT) AS k FROM w, t),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    SELECT r.doc_id, r.source
    FROM ranked r JOIN keep USING (source)
    WHERE r.rn <= k
    ORDER BY doc_id
    """,
)
def l6_weighted_mix(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    docs = T("documents")
    wt = F.when(F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(3.0)).otherwise(
        F.lit(1.0)
    )
    w = docs.groupBy("source").agg(
        F.first(wt).alias("wt"), F.count(F.lit(1)).cast("double").alias("cnt")
    )
    t = w.agg(F.min(F.col("cnt") / F.col("wt")).alias("t"))
    keep = w.crossJoin(F.broadcast(t)).select(
        "source", F.floor(F.col("wt") * F.col("t")).cast("bigint").alias("k")
    )
    h = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    rn = F.row_number().over(Window.partitionBy("source").orderBy(h, "doc_id"))
    return (
        docs.select("doc_id", "source", rn.alias("rn"))
        .join(F.broadcast(keep), "source")
        .where(F.col("rn") <= F.col("k"))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L2f — edit-distance near-dup pairs: levenshtein over shingle-blocked
# candidates (never all-pairs; the candidate set comes from the same
# inverted index as L2, then the expensive metric runs on candidates
# only — the standard two-stage filter-verify shape)
# --------------------------------------------------------------------------
@register(
    "l2_edit_distance_pairs",
    oracle=f"""
    WITH d AS ({_SH_SQL}),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM d a JOIN d b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.12
    )
    SELECT c.id_a, c.id_b,
           CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
    FROM cand c
    JOIN documents ta ON ta.doc_id = c.id_a
    JOIN documents tb ON tb.doc_id = c.id_b
    WHERE levenshtein(ta.text, tb.text) <= 50
    ORDER BY id_a, id_b
    """,
)
def l2_edit_distance_pairs(spark, sf_dir):
    T = loader(sf_dir, spark)
    docs = T("documents")
    cand = D.jaccard_pairs(docs, threshold=0.12).select("id_a", "id_b")
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select("id_a", "id_b", F.levenshtein("text_a", "text_b").cast("bigint").alias("edit_dist"))
        .where(F.col("edit_dist") <= 50)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L7 — per-label embedding centroids (class prototypes / one k-means
# step): posexplode → avg per (label, dim) → reassemble ordered array.
# Shuffle volume is rows×dims scalars with map-side partial agg — at
# scale this beats any driver-side accumulation by construction.
# --------------------------------------------------------------------------
@register(
    "l7_label_centroids",
    oracle="""
    WITH flat AS (
      SELECT label, u.idx AS dim, u.v AS val
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
                           generate_subscripts(embedding, 1) AS idx) u
    )
    SELECT label, dim, round(avg(val), 6) + 0.0 AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM flat
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def l7_label_centroids(spark, sf_dir):
    T = loader(sf_dir, spark)
    flat = T("embeddings").select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    return (
        flat.groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.round(F.avg("val"), 6).alias("centroid_val"),
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


# --------------------------------------------------------------------------
# L6d — cap per group: at most N docs per source (deterministic order
# by doc_id — reproducible training mixes need stable selection, not
# rand()). One shuffle; the window never materializes beyond rank N+1.
# --------------------------------------------------------------------------
@register(
    "l6_cap_per_source",
    oracle="""
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 50
    ORDER BY doc_id
    """,
)
def l6_cap_per_source(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        T("documents")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 50)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L3c — IVF-bucketed approximate top-k (the partition-pruned ANN scale
# path; recall vs brute force asserted in tests, not SQL-expressible)
# --------------------------------------------------------------------------
@register("l3_ivf_topk", check="T: seeded k-means cells — recall@k vs exact cosine top-k in tests/")
def l3_ivf_topk(spark, sf_dir):
    T = loader(sf_dir, spark)
    emb = T("embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]]
    return (
        S.ivf_topk(emb.where(F.col("vec_id") != 0), qvec, k=10, n_clusters=8, n_probe=4)
        .select("vec_id", F.round("cosine", 6).alias("cosine"))
    )


# --------------------------------------------------------------------------
# L4e — BPE-ish regex token segmentation (pre-tokenizer counts; the
# whitespace counts live in l4_doc_stats)
# --------------------------------------------------------------------------
@register(
    "l4_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_distinct_bpe_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def l4_bpe_token_count(spark, sf_dir):
    T = loader(sf_dir, spark)
    toks = F.regexp_extract_all("text", F.lit(X.BPE_ISH_RE), 0)
    return (
        T("documents")
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_bpe_tokens"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L4f — TF-IDF top terms per document (term importance; ranking is on
# the ROUNDED score with a term tiebreak so both engines order
# identically)
# --------------------------------------------------------------------------
@register(
    "l4_tfidf_topterms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST((SELECT n FROM n) AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term)
    SELECT doc_id, term, tfidf
    FROM (SELECT scored.*,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term ASC) AS rn
          FROM scored)
    WHERE rn <= 3
    ORDER BY doc_id, tfidf DESC, term
    """,
)
def l4_tfidf_topterms(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    docs = T("documents")
    tok = docs.select("doc_id", F.explode(X.tokens("text")).alias("term"))
    # tf's rows are already DISTINCT (doc, term) pairs, so document
    # frequency is a plain count over tf — deriving it from raw tok
    # re-tokenized and re-shuffled the whole corpus a second time
    # (round 10: 35.3 s -> ~13 s at sf10). tf feeds both the join and
    # dfreq; both subtrees contain the identical
    # Exchange(hashpartitioning(doc_id, term)), so ReuseExchange shares
    # the tokenize+partial-agg work via disk-backed shuffle files — the
    # m11/l4_crossdoc shape (ADVICE r10: a localCheckpoint here was the
    # same block-store copy of a ~30M-row frame that OOM'd the 8g
    # driver in m11; plan-pinned in test_plans.py).
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # the `tf >= 1` filter is a tautology (counts are >= 1) whose ONLY
    # job is to keep the tf column alive on this branch: without it,
    # column pruning rewrites this subtree's aggregate to distinct-only
    # (functions=[]), the two (doc_id, term) exchanges stop being
    # identical subtrees, and ReuseExchange can't fire — the corpus
    # would be tokenized and shuffled twice (verified in the finalized
    # plan while fixing ADVICE r10).
    dfreq = (
        tf.where(F.col("tf") >= 1).groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.col("tfidf").desc(), "term")
    )


# --------------------------------------------------------------------------
# L6e — sequence packing: assign docs to fixed-token-budget training
# bins per source (running-count chunking — the distributed-friendly
# packer: one window cumsum, no sequential greedy state)
# --------------------------------------------------------------------------
@register(
    "l6_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT source, doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                / 512.0) AS BIGINT) AS bin_id
    FROM t
    ORDER BY source, doc_id
    """,
)
def l6_pack_sequences(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    t = T("documents").select(
        "doc_id", "source", X.token_count("text").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn(
            "bin_id",
            F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(512.0)).cast("bigint"),
        )
        .select("source", "doc_id", "n_tokens", "bin_id")
        .orderBy("source", "doc_id")
    )


# --------------------------------------------------------------------------
# L6f — decontamination: flag corpus documents that contain an exact
# probe (prefix) of any benchmark/eval document. The real-world shape:
# the benchmark set is tiny and broadcast; the corpus is the 100 TB
# side, scanned once. The containment theta-join LOOKS like it has no
# equi-key (Spark compiles it to BroadcastNestedLoopJoin — corpus x
# probes `contains` calls, 2.5e9 at sf10 = 160 s), but the probes are
# FIXED-LENGTH prefixes, so substring containment IS an equi-join:
# explode each corpus doc into its length-L character windows and hash
# join window == probe (per distinct probe length, a bounded model-side
# set). Per-row cost becomes L-gram generation + a hash probe instead
# of |probes| substring scans — 160 s -> ~11 s at sf10, and at 100 TB
# the corpus factor stays linear with a constant per-window cost.
# doc_id % 97 is the deterministic stand-in for "is a benchmark doc".
# --------------------------------------------------------------------------
@register(
    "l6_decontaminate",
    oracle="""
    SELECT d.doc_id, CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_probes_hit
    FROM documents d
    JOIN (SELECT doc_id, substr(text, 1, 12) AS prefix
          FROM documents WHERE doc_id % 97 = 0) b
      ON contains(d.text, b.prefix)
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def l6_decontaminate(spark, sf_dir):
    T = loader(sf_dir, spark)
    docs = T("documents")
    bench = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("b_doc_id"), F.substring("text", 1, 12).alias("prefix"))
        # NULL prefixes match the oracle's contains(x, NULL)=NULL (no
        # hit) so they are safe to drop; EMPTY prefixes are NOT — DuckDB
        # contains(x, '')=TRUE hits every corpus doc while a dropped
        # probe hits none, a silent divergence — so those raise below
        # once lengths are collected (ADVICE r9)
        .where(F.col("prefix").isNotNull())
        .localCheckpoint(eager=False)  # read by the length probe + every per-length join
    )
    # distinct probe lengths: model state (the probe set is the
    # broadcast side by definition; lengths ≤ 12 here). Shorter-than-12
    # prefixes arise only from bench texts shorter than 12 chars.
    lens = sorted(
        r["l"] for r in bench.select(F.length("prefix").alias("l")).distinct().collect()
    )
    if lens and lens[0] == 0:
        # a zero-length probe (empty bench text) matches EVERY corpus
        # doc under contains() semantics; the window equi-join cannot
        # express that, so fail loudly rather than silently under-count
        raise ValueError(
            "l6_decontaminate: empty-string probe prefix (benchmark doc with "
            "empty text) — contains(x, '') matches every document; refusing "
            "to silently drop it"
        )
    corpus = docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "text")
    if not lens:
        # no probes at all (empty benchmark slice): contamination is
        # vacuously zero, mirror the contains-join's empty result
        return (
            corpus.select("doc_id")
            .where(F.lit(False))
            .select("doc_id", F.lit(0).cast("long").alias("n_probes_hit"))
        )
    hits = None
    for L in lens:
        # guard sequence(1, n<=0): Spark sequences DESCEND when a > b
        wins = corpus.select(
            "doc_id",
            F.explode(
                F.when(
                    F.length("text") >= L,
                    F.expr(
                        f"transform(sequence(1, length(text) - {L - 1}), "
                        f"i -> substring(text, i, {L}))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("w"),
        )
        b_l = bench.where(F.length("prefix") == L)
        part = wins.join(F.broadcast(b_l), wins.w == b_l.prefix).select(
            "doc_id", "b_doc_id"
        )
        hits = part if hits is None else hits.unionAll(part)
    return (
        hits.groupBy("doc_id")
        .agg(F.countDistinct("b_doc_id").alias("n_probes_hit"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L4g — bigram frequency: n-gram construction entirely in higher-order
# array expressions (transform over an index sequence), then
# explode+count — no Python in the row path, so n-gram stats over a
# 100 TB corpus stay at scan+shuffle cost. (Spark `sequence(a,b)` is
# DESCENDING when a>b, so short docs are guarded explicitly.)
# --------------------------------------------------------------------------
@register(
    "l4_bigram_freq",
    oracle="""
    WITH toks AS (
      SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    bg AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks)
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def l4_bigram_freq(spark, sf_dir):
    T = loader(sf_dir, spark)
    toks = T("documents").select(
        F.filter(F.split("text", " "), lambda x: x != "").alias("t")
    )
    bigrams = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# --------------------------------------------------------------------------
# L4h — repeated-3-gram fraction (C4/Gopher-style intra-doc repetition
# quality rule: high duplicate-n-gram share ⇒ boilerplate/spam).
# Entirely array expressions inside whole-stage codegen — per-doc work,
# no shuffle at all until the final presentation sort, so the scan
# parallelism IS the job parallelism at 100 TB.
# --------------------------------------------------------------------------
@register(
    "l4_repeated_ngrams",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(ts) - 2),
                            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gr
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      WHERE len(ts) >= 3)
    SELECT doc_id,
           CAST(len(gr) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(gr)) AS BIGINT) AS n_distinct,
           round(1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / len(gr), 6)
             AS dup_frac
    FROM g
    ORDER BY doc_id
    """,
)
def l4_repeated_ngrams(spark, sf_dir):
    T = loader(sf_dir, spark)
    ts = F.split("text", " ")
    docs = fan_out(T("documents")).select("doc_id", ts.alias("ts")).where(F.size("ts") >= 3)
    # element_at is 1-based; sequence ascends because size >= 3 is pre-filtered
    grams = F.expr(
        "transform(sequence(1, size(ts) - 2), "
        "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ', element_at(ts, i + 2)))"
    )
    return (
        docs.select(
            "doc_id",
            F.size(grams).cast("bigint").alias("n_grams"),
            F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_grams"), 6),
        )
        # Round 14 (optimization): materialization barrier before the
        # presentation sort. The orderBy's range-bounds sampling pass
        # re-executes its child — previously the whole n-gram build ran
        # TWICE per job (guide §7.2). One hash exchange of the tiny
        # per-doc stat rows (conf-sized, AQE-coalescible) makes the
        # sampling re-read a skinny shuffle instead
        # (scripts/r14_sortexec_ab_out.json: sf1 1.01 s -> 0.83 s).
        .repartition("doc_id")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L4i — BM25 ranked retrieval for a fixed term query (Okapi BM25,
# k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5) + 1)). Per-term tf is
# computed with array `filter` inside the scan (NO explode/shuffle for
# the 100 TB side); N/df/avgdl form a single 1-row global aggregate
# broadcast back. Score is a fixed-order expression over the three
# term contributions, so float summation order is deterministic and
# both engines produce bit-identical doubles before rounding.
# --------------------------------------------------------------------------
_BM25_TERMS = ("join", "window", "scan")


@register(
    "l4_bm25",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl,
             CAST(len(list_filter(string_split(text, ' '), x -> x = 'join')) AS DOUBLE) AS tf_join,
             CAST(len(list_filter(string_split(text, ' '), x -> x = 'window')) AS DOUBLE) AS tf_window,
             CAST(len(list_filter(string_split(text, ' '), x -> x = 'scan')) AS DOUBLE) AS tf_scan
      FROM documents),
    g AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
             CAST(sum(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_window,
             CAST(sum(CASE WHEN tf_scan > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_scan
      FROM d)
    SELECT doc_id,
           round(
             ln((n - df_join + 0.5) / (df_join + 0.5) + 1.0)
               * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln((n - df_window + 0.5) / (df_window + 0.5) + 1.0)
               * (tf_window * 2.2) / (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln((n - df_scan + 0.5) / (df_scan + 0.5) + 1.0)
               * (tf_scan * 2.2) / (tf_scan + 1.2 * (0.25 + 0.75 * dl / avgdl)),
           6) AS bm25
    FROM d CROSS JOIN g
    WHERE tf_join + tf_window + tf_scan > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def l4_bm25(spark, sf_dir):
    T = loader(sf_dir, spark)
    # unfiltered split mirrors the oracle's string_split exactly (dl
    # counts empty tokens the same way on both sides)
    ts = F.split("text", " ")

    def _tf(term):  # single-arg lambda: a 2-arg lambda would become (elem, index)
        return F.size(F.filter(ts, lambda x: x == F.lit(term))).cast("double")

    cols = [F.size(ts).cast("double").alias("dl")] + [
        _tf(t).alias(f"tf_{t}") for t in _BM25_TERMS
    ]
    # Tokenize the text scan ONCE: a LAZY localCheckpoint of the narrow
    # per-doc projection (doc_id + 4 doubles — tiny next to the text it
    # came from). The 1-row corpus stats aggregate over it is broadcast
    # back with a cross join, so the whole query is ONE action: Spark
    # executes the broadcast subtree first (tokenize + checkpoint + agg),
    # then scores the main side straight off the checkpoint blocks — no
    # second tokenize pass, no driver collect, no eager construction
    # jobs. Unlike persist(), checkpoint blocks are released by the
    # ContextCleaner once the DataFrame is garbage-collected, so a
    # 190-query session doesn't accumulate pinned storage (ADVICE r3).
    # At 100 TB the checkpoint is rows x ~40 B (spills to disk if
    # needed); the broadcast is one aggregated row, not data.
    d = fan_out(T("documents")).select("doc_id", *cols).localCheckpoint(eager=False)
    g = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    n, avgdl = F.col("n"), F.col("avgdl")
    norm = F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / avgdl)
    score = None
    for t in _BM25_TERMS:
        df_t = F.col(f"df_{t}")
        idf = F.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)
        part = idf * (F.col(f"tf_{t}") * 2.2) / (F.col(f"tf_{t}") + norm)
        score = part if score is None else score + part
    return (
        d.crossJoin(F.broadcast(g))
        .where(sum(F.col(f"tf_{t}") for t in _BM25_TERMS) > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# A17 — mergeable distinct-count sketches (Apache DataSketches HLL via
# hll_sketch_agg / hll_union_agg). Unlike approx_count_distinct, the
# per-group sketches are REUSABLE: materialize one sketch per source
# (or per day, per partition...) once, then answer any union of groups
# by merging KB-sized binaries — the pattern that turns a 100 TB
# re-scan into a driver-side merge. Sketch bytes are engine-specific →
# T-check vs exact (tests/test_tolerance.py), no hash oracle.
# --------------------------------------------------------------------------
@register("a17_hll_sketch_merge", check="T: DataSketches HLL union — sketch bytes engine-specific; tolerance vs exact in-row")
def a17_hll_sketch_merge(spark, sf_dir):
    T = loader(sf_dir, spark)
    docs = T("documents")
    per_source = docs.groupBy("source").agg(
        F.hll_sketch_agg("text", 14).alias("sk")
    )
    merged = per_source.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("approx_nd_texts")
    )
    exact = docs.agg(F.countDistinct("text").cast("bigint").alias("exact_nd_texts"))
    return merged.join(F.broadcast(exact))


# --------------------------------------------------------------------------
# A18 — mergeable quantile sketches (Apache DataSketches KLL). Same
# rollup-reuse story as A17 but for distributions: one KLL per group
# materialized once, any union of groups answered by merging the
# KB-sized sketches and querying quantiles — no re-scan, no exact
# percentile's full sort. Sketch bytes are engine-specific → T-check.
# --------------------------------------------------------------------------
@register("a18_kll_quantile_merge", check="T: DataSketches KLL merge — sketch-specific; exact order-statistic twin in-row")
def a18_kll_quantile_merge(spark, sf_dir):
    T = loader(sf_dir, spark)
    ev = T("events")
    merged = (
        ev.groupBy("event_type")
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
        .agg(F.kll_merge_agg_double("sk").alias("sk"))
        .select(
            *[
                F.kll_sketch_get_quantile_double("sk", F.lit(q)).alias(f"kll_p{int(q*100)}")
                for q in (0.25, 0.5, 0.9)
            ]
        )
    )
    # Exact baseline via targeted order statistics (events.value is a
    # continuous double — F.percentile's value->count buffer would be
    # O(rows) on the final reducer; SCALE.md §7d): cuts come back as
    # driver floats, attached as literals.
    from kompactor_spark.operators.quantiles import exact_quantiles

    cuts, _ = exact_quantiles(ev.select("value"), "value", [0.25, 0.5, 0.9])
    return merged.select(
        "*",
        *[
            F.lit(c).alias(f"exact_p{int(q*100)}")
            for q, c in zip((0.25, 0.5, 0.9), cuts)
        ],
    )


# --------------------------------------------------------------------------
# A19 — set-expression sketches (Apache DataSketches Theta). Unlike
# HLL, Theta sketches support INTERSECTION and DIFFERENCE — "how many
# distinct users both signed up AND purchased" normally needs a
# distinct-distinct join of two 100 TB scans; with per-segment theta
# sketches it is a driver-side merge of KB binaries. T-check vs the
# exact intersect.
# --------------------------------------------------------------------------
@register("a19_theta_set_sketch", check="T: DataSketches Theta intersect — sketch-specific; exact intersect twin in-row")
def a19_theta_set_sketch(spark, sf_dir):
    T = loader(sf_dir, spark)
    ev = T("events")
    sk = ev.groupBy("event_type").agg(F.theta_sketch_agg("user_id").alias("sk"))
    est = (
        sk.where(F.col("event_type").isin("signup", "purchase"))
        .agg(F.theta_intersection_agg("sk").alias("both"))
        .select(F.theta_sketch_estimate("both").cast("bigint").alias("approx_both_users"))
    )
    s = ev.where(F.col("event_type") == "signup").select("user_id")
    p = ev.where(F.col("event_type") == "purchase").select("user_id")
    exact = s.intersect(p).agg(F.count(F.lit(1)).cast("bigint").alias("exact_both_users"))
    return est.join(F.broadcast(exact))


# --------------------------------------------------------------------------
# L6g — composite quality gate (C4/Gopher-style): length, word-shape,
# and intra-doc repetition rules evaluated in one scan-side pass, with
# the FIRST failing rule as a reason code (auditable filtering — at
# 100 TB you need to know *why* 30% of the corpus dropped, per rule,
# which is exactly the groupBy(reason) rollup this emits).
# --------------------------------------------------------------------------
@register(
    "l6_quality_filter",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS mean_word_len,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               1.0 - CAST(len(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2]))) AS DOUBLE)
                   / (len(string_split(text, ' ')) - 2)
             ELSE 0.0 END AS dup_frac
      FROM documents),
    r AS (
      SELECT doc_id,
             CASE WHEN n_tokens < 20 THEN 'too_short'
                  WHEN mean_word_len > 12 THEN 'words_too_long'
                  WHEN dup_frac > 0.6 THEN 'too_repetitive'
                  ELSE 'ok' END AS reason
      FROM m)
    SELECT reason, CAST(count(*) AS BIGINT) AS n_docs
    FROM r GROUP BY reason ORDER BY reason
    """,
)
def l6_quality_filter(spark, sf_dir):
    T = loader(sf_dir, spark)
    ts = F.split("text", " ")
    grams = F.expr(
        "transform(sequence(1, size(ts) - 2), "
        "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1), ' ', element_at(ts, i + 2)))"
    )
    m = T("documents").select(
        "doc_id",
        F.size(ts).alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(ts)
        ).alias("mean_word_len"),
        ts.alias("ts"),
    ).select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        F.when(
            F.col("n_tokens") >= 3,
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / (F.col("n_tokens") - 2),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )
    reason = (
        F.when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("mean_word_len") > 12, "words_too_long")
        .when(F.col("dup_frac") > 0.6, "too_repetitive")
        .otherwise("ok")
    )
    return (
        m.select(reason.alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("reason")
    )


# --------------------------------------------------------------------------
# A19b — Theta-sketch DIFFERENCE: distinct users who signed up but
# never made a LARGE purchase (value > 150), from per-segment sketches
# — the set expression (A ∖ B) that HLL cannot answer. T-check vs the
# exact set subtract.
# --------------------------------------------------------------------------
@register("a19b_theta_difference", check="T: DataSketches Theta a-not-b — sketch-specific; exact except twin in-row")
def a19b_theta_difference(spark, sf_dir):
    T = loader(sf_dir, spark)
    ev = T("events")
    a = ev.where(F.col("event_type") == "signup")
    b = ev.where((F.col("event_type") == "purchase") & (F.col("value") > 150))
    est = (
        a.agg(F.theta_sketch_agg("user_id").alias("sk_a"))
        .join(F.broadcast(b.agg(F.theta_sketch_agg("user_id").alias("sk_b"))))
        .select(
            F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b"))
            .cast("bigint")
            .alias("approx_signup_only")
        )
    )
    exact = (
        a.select("user_id").distinct()
        .subtract(b.select("user_id").distinct())
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_signup_only"))
    )
    return est.join(F.broadcast(exact))


# --------------------------------------------------------------------------
# L4j — corpus-LM surprisal score (new round 4): per-document mean
# negative log-likelihood under the corpus's own unigram language model
# — the classic LM-based quality filter (low surprisal = repetitive
# boilerplate, high = noise/gibberish; both tails get cut in training-
# data curation). Two shuffles at any scale: one map-combined token
# count (the vocabulary), one per-doc aggregate; the vocabulary joins
# back BROADCAST (vocab is millions of rows when the corpus is 100 TB —
# KBs per executor), and the corpus total rides INSIDE that broadcast
# as a single-partition window sum over the vocab frame (round 15 —
# exact: integer-valued doubles), never a driver collect.
# --------------------------------------------------------------------------
def _collision_guarded_tf(dt):
    """Corpus term counts over hashed token keys, with the loud
    collision guard: ``dt`` is (doc_id, th, cd, mn, mx) where th =
    xxhash64(token) and mn/mx carry an independent 32-bit lane
    (murmur ``hash(token)``). A 64-bit key collision merges two
    distinct tokens into one tf row — detectable as min != max on the
    second lane unless that lane also collides for the same pair
    (miss ~2^-96-class); the in-plan ``raise_error`` fires during the
    broadcast build, before any consumer sees a corrupted count.
    Tested with a planted collision in tests/test_round4_ops.py."""
    return (
        dt.groupBy("th")
        .agg(
            F.sum("cd").alias("c"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
        .where(
            F.when(F.col("mn") == F.col("mx"), F.lit(True)).otherwise(
                F.raise_error(
                    F.lit(
                        "l4_surprisal: xxhash64 token-key collision detected "
                        "— two distinct tokens share a 64-bit key; rerun "
                        "with exact string keys for this corpus"
                    )
                )
            )
        )
        .select("th", "c")
    )


@register(
    "l4_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    tf AS (SELECT t, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM tf)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(-ln(c / total)), 6) + 0.0 AS surprisal
    FROM tok JOIN tf USING (t) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def l4_surprisal(spark, sf_dir):
    """Round 12 shape (the measured 5-arm A/B closing VERDICT r11 #1,
    recorded in PLANS.md): every aggregate and the join
    key on ONE primitive int64 — xxhash64(token) — instead of
    variable-length strings; token strings never reach the output, so
    they never need to survive the first projection. Same-session sf10
    medians: string keys 4.03 s (1.71x DuckDB), raw hash64 keys 2.72 s
    (1.15x), a 128-bit two-lane key 4.25 s (the extra lane + key width
    costs the whole gain), Arrow per-doc counting kernels 4.6/2.8 s
    (Python tokenization loses to the JVM explode), and THIS shape —
    hash64 keys + loud collision guard — 3.45 s = 1.46x.

    Exactness: a 64-bit key admits collisions at 100 TB vocab
    cardinality, so a second INDEPENDENT 32-bit lane (murmur ``hash``)
    rides the aggregates as min/max — never as a key. Two distinct
    tokens sharing the xxhash64 key would merge into one tf row with
    min(g) != max(g) unless the 32-bit lane also collides for the same
    pair (miss ~2^-96-class, the md5-dedup-key exactness class), and
    the in-plan check raises loudly before the vocab is consumed.
    Collapse-first (round 9) still applies: the per-doc average over
    TOKENS equals the count-weighted average over per-doc DISTINCT
    keys, collapsed fully map-side; corpus term counts derive from the
    (doc, th) frame so ReuseExchange tokenizes the corpus ONCE
    (plan-pinned in test_plans.py). round(6) absorbs the benign FP
    reassociation, same as the oracle's own sum order.
    """
    T = loader(sf_dir, spark)
    tok = (
        fan_out(T("documents"))
        .select("doc_id", F.explode(X.tokens("text")).alias("t"))
        .select("doc_id", F.xxhash64("t").alias("th"), F.hash("t").alias("g"))
    )
    dt = tok.groupBy("doc_id", "th").agg(
        F.count(F.lit(1)).cast("double").alias("cd"),
        F.min("g").alias("mn"),
        F.max("g").alias("mx"),
    )
    from pyspark.sql import Window

    # Round 15 (VERDICT r14 #3 — the 3.56x same-window row decomposed
    # at 11 jobs for a ~1 s result, launch-floor dominated): the corpus
    # total rides the tf broadcast itself as a single-partition window
    # sum instead of a separate 1-row aggregate — the old broadcast(tot)
    # re-ran the vocab final-agg inside its own broadcast build and its
    # BNLJ touched every token-level row. The window input is the SAME
    # vocab-sized frame the broadcast already carries (bounded by
    # assumption), and c is an integer-valued double (a sum of counts),
    # so the window sum is EXACT — zero FP-reassociation risk. Measured:
    # one job folded (11 -> 10), one scan subtree and 4 exchanges gone
    # from the plan, sf10 2.99 -> 2.88 s, sf1 wash; output byte-identical
    # (scripts/r15_m11_surprisal_ab_out.json, r15_surp_sf10 log).
    tf = _collision_guarded_tf(dt).withColumn(
        "total", F.sum("c").over(Window.partitionBy())
    )
    # tautological filter (the tfidf tf>=1 lesson): the join probe
    # doesn't otherwise consume the guard lanes, and pruning them from
    # this side's partial aggregate would make the two subtrees differ
    # — ReuseExchange then re-tokenizes the corpus. mn <= mx is always
    # true but not foldable, so both consumers keep identical partial
    # aggs over ONE Exchange(doc_id, th). Plan-pinned in test_plans.py.
    probe = dt.where(F.col("mn") <= F.col("mx"))
    return (
        probe.join(dim_broadcast(tf), "th")
        .groupBy("doc_id")
        .agg(
            F.sum("cd").cast("bigint").alias("n_tokens"),
            (
                F.round(
                    F.sum(F.col("cd") * -F.log(F.col("c") / F.col("total")))
                    / F.sum("cd"),
                    6,
                )
                + F.lit(0.0)
            ).alias("surprisal"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6k — incremental dedup (new round 4): keep only the NEW-batch
# documents whose content hash is absent from the prior corpus — the
# production ingestion pattern (every crawl snapshot dedups against
# everything already accepted). The anti-join keys on md5(text), a
# fixed-width hash, so at 100 TB the shuffle carries 16-byte keys
# instead of document bodies; Spark can further turn the anti-join's
# build side into a bloom filter under AQE.
# --------------------------------------------------------------------------
_INCR_BATCH = ("src0", "src1")


@register(
    "l6_incremental_dedup",
    oracle=f"""
    SELECT b.doc_id, b.source
    FROM documents b
    WHERE b.source IN {_INCR_BATCH!r}
      AND NOT EXISTS (
        SELECT 1 FROM documents p
        WHERE p.source NOT IN {_INCR_BATCH!r}
          AND md5(p.text) = md5(b.text))
    ORDER BY b.doc_id
    """,
)
def l6_incremental_dedup(spark, sf_dir):
    T = loader(sf_dir, spark)
    docs = T("documents")
    batch = docs.where(F.col("source").isin(*_INCR_BATCH)).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    prior = docs.where(~F.col("source").isin(*_INCR_BATCH)).select(F.md5("text").alias("h"))
    return (
        batch.join(prior, "h", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6m — contamination SCORE (new round 4): per-train-document fraction
# of its distinct 5-token shingles that appear anywhere in the
# benchmark probe set — the measured complement of l6_decontaminate's
# boolean gate (contamination reports in training-data papers are
# exactly this n-gram overlap share). The probe shingle set is DISTINCT
# and broadcast (benchmarks are MBs; the corpus is the big side), so
# the per-shingle membership test is a broadcast left join against the
# exploded train shingles — scan + one per-doc aggregate at any scale.
# --------------------------------------------------------------------------
_SHINGLE_K = 5


@register(
    "l6_contamination_score",
    oracle=f"""
    WITH tr AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE doc_id % 97 <> 0),
    tre AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, len(t) - {_SHINGLE_K - 1}),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS s
      FROM tr WHERE len(t) >= {_SHINGLE_K}),
    pr AS (
      SELECT DISTINCT unnest(list_transform(
               generate_series(1, len(t) - {_SHINGLE_K - 1}),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
      FROM (SELECT string_split(text, ' ') AS t
            FROM documents WHERE doc_id % 97 = 0)
      WHERE len(t) >= {_SHINGLE_K})
    SELECT tre.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN pr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           round(CAST(sum(CASE WHEN pr.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS contamination
    FROM tre LEFT JOIN pr ON tre.s = pr.s
    GROUP BY tre.doc_id
    ORDER BY tre.doc_id
    """,
)
def l6_contamination_score(spark, sf_dir):
    T = loader(sf_dir, spark)
    t = F.split("text", " ")
    k = _SHINGLE_K
    sh = F.expr(
        f"array_distinct(transform(sequence(1, size(t) - {k - 1}), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i+1), ' ', element_at(t, i+2), "
        "' ', element_at(t, i+3), ' ', element_at(t, i+4))))"
    )
    docs = T("documents").select("doc_id", t.alias("t")).where(F.size("t") >= k)
    tre = (
        docs.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode(sh).alias("s"))
    )
    pr = (
        docs.where(F.col("doc_id") % 97 == 0)
        .select(F.explode(sh).alias("s"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        tre.join(F.broadcast(pr), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hit"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))).cast("double") / F.count("*"), 6
            ).alias("contamination"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6n — document chunking (new round 4): fixed-size token windows with
# overlap (chunk=64 tokens, stride=48) — the RAG-indexing / training-
# sequence chunking step every retrieval or packing pipeline runs
# before embedding. Pure higher-order array expressions: one scan, an
# explode whose fan-out is ceil(n_tokens/stride) rows per doc, no
# Python, no shuffle until presentation order.
# --------------------------------------------------------------------------
_CHUNK, _STRIDE = 64, 48


@register(
    "l6_chunk_documents",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 120),
    c AS (
      SELECT doc_id,
             unnest(generate_series(0, CAST(floor((len(t) - 1) / {_STRIDE}) AS BIGINT))) AS chunk_id,
             t
      FROM d)
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(list_slice(t, chunk_id * {_STRIDE} + 1,
                                      chunk_id * {_STRIDE} + {_CHUNK}), ' ') AS chunk_text,
           CAST(len(list_slice(t, chunk_id * {_STRIDE} + 1,
                               chunk_id * {_STRIDE} + {_CHUNK})) AS BIGINT) AS n_tokens
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def l6_chunk_documents(spark, sf_dir):
    T = loader(sf_dir, spark)
    t = F.split("text", " ")
    d = T("documents").where(F.col("doc_id") < 120).select("doc_id", t.alias("t"))
    n_chunks = F.floor((F.size("t") - 1) / _STRIDE).cast("bigint")
    c = d.select(
        "doc_id", "t", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks)).alias("chunk_id")
    )
    chunk = F.expr(f"slice(t, chunk_id * {_STRIDE} + 1, {_CHUNK})")
    return (
        c.select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).cast("bigint").alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# L3e — int8 scalar quantization of embeddings (new round 4): per-
# dimension symmetric scales (max|x|/127) learned from the corpus, each
# vector encoded to int8 codes, and the per-vector reconstruction RMSE
# reported — the 4x storage shrink every billion-vector ANN deployment
# applies before indexing. Distributed shape: posexplode → per-dim agg
# (64 rows) → BROADCAST scales back over the flat stream → re-assemble
# per vector. The scale table is dims-sized (KBs) at any corpus size.
# --------------------------------------------------------------------------
@register(
    "l3e_sq8_quantize",
    oracle="""
    WITH flat AS (
      SELECT vec_id, u.idx AS dim, u.v AS val
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS v,
                           generate_subscripts(embedding, 1) AS idx) u),
    scales AS (
      SELECT dim, greatest(max(abs(val)), 1e-12) / 127.0 AS s
      FROM flat GROUP BY dim),
    coded AS (
      SELECT f.vec_id, f.dim, f.val,
             CAST(round(f.val / sc.s, 0) AS BIGINT) AS code, sc.s
      FROM flat f JOIN scales sc USING (dim))
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           round(sqrt(avg((val - code * s) * (val - code * s))), 6) AS rmse,
           array_to_string(list_sort(list_value(
             CAST(max(CASE WHEN dim = 1 THEN code END) AS VARCHAR),
             CAST(max(CASE WHEN dim = 2 THEN code END) AS VARCHAR),
             CAST(max(CASE WHEN dim = 3 THEN code END) AS VARCHAR),
             CAST(max(CASE WHEN dim = 4 THEN code END) AS VARCHAR))), ',') AS codes_head4_sorted
    FROM coded
    GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def l3e_sq8_quantize(spark, sf_dir):
    T = loader(sf_dir, spark)
    flat = T("embeddings").select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "val")
    scales = flat.groupBy("dim").agg(
        (F.greatest(F.max(F.abs(F.col("val"))), F.lit(1e-12)) / F.lit(127.0)).alias("s")
    )
    coded = flat.join(F.broadcast(scales), "dim").withColumn(
        "code", F.round(F.col("val") / F.col("s"), 0).cast("bigint")
    )
    err = (F.col("val") - F.col("code") * F.col("s"))
    head = [
        F.max(F.when(F.col("dim") == i, F.col("code"))).cast("string")
        for i in (1, 2, 3, 4)
    ]
    return (
        coded.groupBy("vec_id")
        .agg(
            F.count("*").cast("bigint").alias("n_dims"),
            F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
            F.array_join(F.sort_array(F.array(*head)), ",").alias("codes_head4_sorted"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# L4l — Zipf slope (new round 4): least-squares slope of ln(freq) over
# ln(rank) for the top-100 tokens — the corpus-health diagnostic (natural
# text tracks slope ≈ −1; template/boilerplate corpora flatten or
# steepen it). Rank order is fully deterministic (freq DESC, token ASC),
# the regression runs over exactly 100 points, and both engines compute
# the same regr_slope moment formula — rounded to 6 before compare. The
# token count is one explode+groupBy shuffle (same shape as
# l4_token_freq); the regression input is 100 rows, so everything after
# the top-k is negligible at any scale.
# --------------------------------------------------------------------------
@register(
    "l4_zipf_slope",
    oracle="""
    WITH tf AS (
      SELECT t AS token, CAST(count(*) AS DOUBLE) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t
      ORDER BY freq DESC, token ASC
      LIMIT 100),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
      FROM tf)
    SELECT CAST(count(*) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(freq), ln(rnk)), 6) + 0.0 AS zipf_slope,
           round(regr_intercept(ln(freq), ln(rnk)), 6) + 0.0 AS zipf_intercept
    FROM ranked
    """,
)
def l4_zipf_slope(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    tf = (
        fan_out(T("documents"))
        .select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(100)
    )
    rnk = F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("token").asc()))
    ranked = tf.select("freq", rnk.alias("rnk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        (F.round(F.regr_slope(F.log("freq"), F.log("rnk")), 6) + F.lit(0.0)).alias("zipf_slope"),
        (F.round(F.regr_intercept(F.log("freq"), F.log("rnk")), 6) + F.lit(0.0)).alias(
            "zipf_intercept"
        ),
    )


# --------------------------------------------------------------------------
# L7b — k-NN classification over embeddings (new round 4): predict each
# query vector's label by majority vote of its k=10 nearest neighbors
# (cosine), ties broken by smaller label — weak-label propagation /
# auto-tagging, the standard embedding-space classifier. Same broadcast
# query-batch × one-corpus-scan shape as l3_batch_topk (the corpus is
# never re-scanned per query); the vote is a 10-row-per-query aggregate.
# --------------------------------------------------------------------------
@register(
    "l7_knn_classify",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    sims AS (
      SELECT q.query_id, e.vec_id, e.label,
             list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos_raw
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= 8),
    ranked AS (
      SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, vec_id) AS rn
      FROM sims),
    votes AS (
      SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
      FROM ranked WHERE rn <= 10
      GROUP BY query_id, label),
    best AS (
      SELECT query_id, label AS pred_label, votes,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY votes DESC, label ASC) AS vr
      FROM votes)
    SELECT query_id, pred_label, votes FROM best WHERE vr = 1
    ORDER BY query_id
    """,
)
def l7_knn_classify(spark, sf_dir):
    # Round 10: same kernel rewrite as l3_batch_topk (this row measured
    # 25.3 s at sf10 vs DuckDB's native 0.96 s — the |corpus|·|Q|·d
    # interpreted-fold expansion through an 8-partition window funnel).
    # The label rides the Arrow batch as a payload column; the exact
    # top-10 window and the vote run over the pruned candidate frame.
    # Round 13 (VERDICT r12 #3): fused query-batch fetch — see
    # _query_vec_batch and the l3_batch_topk note.
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    emb = T("embeddings")
    queries = _query_vec_batch(sf_dir, hi=8)
    cand = S.batch_cosine_candidates(
        emb.where(F.col("vec_id") >= 8), queries, k=10, payload_cols=("label",)
    )
    rn = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    )
    votes = (
        cand.withColumn("rn", rn)
        .where(F.col("rn") <= 10)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    vr = F.row_number().over(
        Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label").asc())
    )
    return (
        votes.withColumn("vr", vr)
        .where(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# L6m — dedup report by source (new round 4): per-source document count,
# exact-unique count (md5 of the body, the l6_incremental_dedup key) and
# duplicate rate — the per-crawl quality dashboard row every ingestion
# pipeline publishes. One shuffle keyed on (source, md5) via the
# partial-distinct expansion; the 16-byte hash rides the shuffle, never
# the document body.
# --------------------------------------------------------------------------
@register(
    "l6_dedup_rate_by_source",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
           round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) + 0.0 AS dup_rate
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def l6_dedup_rate_by_source(spark, sf_dir):
    T = loader(sf_dir, spark)
    n_unique = F.countDistinct(F.md5("text"))
    return (
        T("documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            n_unique.cast("bigint").alias("n_unique"),
            (
                F.round(
                    F.lit(1.0) - n_unique.cast("double") / F.count(F.lit(1)).cast("double"), 6
                )
                + F.lit(0.0)
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L4m — cross-document duplicated-n-gram share (new round 4): per doc,
# the fraction of its distinct 5-grams that also appear in at least one
# OTHER document — the corpus-level duplication signal (RefinedWeb/
# Gopher "duplicate n-gram fraction") that catches boilerplate shared
# ACROSS pages, which within-doc repetition (l4_repeated_ngrams) and
# probe-set contamination (l6_contamination_score) both miss. Shape:
# explode distinct grams -> gram-level doc-frequency (one shuffle on the
# gram hash) -> join back per (gram, doc) -> per-doc share (second
# shuffle on doc_id). Both shuffles carry fixed-width keys; grams hash
# to 16 bytes before the wide shuffle at scale — here the raw gram
# rides so the oracle can mirror it verbatim.
# --------------------------------------------------------------------------
_XDOC_N = 5


@register(
    "l4_crossdoc_ngram_share",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, u.g
      FROM toks,
           unnest(list_transform(range(1, len(ts) - {_XDOC_N} + 2),
                                 i -> array_to_string(ts[i : i + {_XDOC_N} - 1], ' '))) AS u(g)
      WHERE len(ts) >= {_XDOC_N}),
    df AS (
      SELECT g, count(*) AS n_docs FROM grams GROUP BY g)
    SELECT grams.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           round(CAST(sum(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS shared_frac
    FROM grams JOIN df USING (g)
    GROUP BY grams.doc_id
    ORDER BY grams.doc_id
    """,
)
def l4_crossdoc_ngram_share(spark, sf_dir):
    T = loader(sf_dir, spark)
    ts = F.split("text", " ")
    grams_arr = F.expr(
        f"transform(sequence(1, size(ts) - {_XDOC_N} + 1), "
        f"i -> array_join(slice(ts, i, {_XDOC_N}), ' '))"
    )
    # Round 10: the 30M x 30M string-keyed join back to per-doc rows is
    # avoidable entirely — a gram with corpus df == 1 belongs to exactly
    # ONE doc (min(doc_id) IS that doc), so n_shared = n_grams - n_solo
    # from two aggregates and a doc-keyed join of model-sized count
    # frames. Both aggregates consume ONE explicit gram-keyed exchange:
    # the expensive gram build runs once into disk-backed shuffle files
    # that ReuseExchange shares (pinned in test_plans.py) — a 30M-row
    # localCheckpoint here instead OOM'd the 8g bench session (block-
    # store row copies outlive runs until the ContextCleaner GCs), and
    # rebuilding grams per consumer costs 2x the tokenize (measured
    # 33-41 s). This shape: 52.9 s -> ~17 s at sf10 (DuckDB twin 26.2 s).
    grams = (
        fan_out(T("documents"))
        .select("doc_id", ts.alias("ts"))
        .where(F.size("ts") >= _XDOC_N)
        .select("doc_id", F.explode(F.array_distinct(grams_arr)).alias("g"))
        .repartition("g")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    solo = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("doc_id"))
        .where(F.col("n_docs") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_solo"))
    )
    n_shared = F.col("n_grams") - F.coalesce(F.col("n_solo"), F.lit(0).cast("bigint"))
    return (
        per_doc.join(solo, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            n_shared.cast("bigint").alias("n_shared"),
            (
                F.round(n_shared.cast("double") / F.col("n_grams").cast("double"), 6)
                + F.lit(0.0)
            ).alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L5c — image near-dup via perceptual-hash blocking (new round 4): the
# L2 dedup discipline applied to the L5 media column. Pipeline: decode
# BMP → 64-bit DCT pHash (operators/multimodal.py, one Arrow-batched
# narrow pass) → self-join on the hash (8-byte key in the shuffle, the
# payload never shuffles) → byte-equality verify on the collided
# candidates only. The synthetic corpus seeds payloads by vec_id % 50,
# so ground truth is analytic: pairs = same seed — which lets a plain
# SQL oracle hash-check the whole decode→hash→block→verify pipeline.
# pHash collisions across DIFFERENT images (3 among these 50) are
# exactly what the verify stage exists to reject.
# --------------------------------------------------------------------------
_PHASH_SEEDS = 50
# Pair-output ceiling for the phash blocking join: quadratic in
# per-phash multiplicity, so replicated bench corpora (sf1: ~4e6
# pairs, sf10: ~4e8) must fail loudly rather than emit an
# uncollectable result — 20M covers every grading scale with margin.
_PHASH_MAX_PAIRS = 20_000_000


@register(
    "l5_phash_neardup",
    oracle=f"""
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(a.vec_id % {_PHASH_SEEDS} AS BIGINT) AS seed
    FROM embeddings a JOIN embeddings b
      ON a.vec_id % {_PHASH_SEEDS} = b.vec_id % {_PHASH_SEEDS}
     AND a.vec_id < b.vec_id
    ORDER BY a_id, b_id
    """,
)
def l5_phash_neardup(spark, sf_dir):
    from kompactor_spark.operators.multimodal import phash_images, synthesize_media

    T = loader(sf_dir, spark)
    emb = T("embeddings").select("vec_id", (F.col("vec_id") % _PHASH_SEEDS).alias("seed"))
    seeds = emb.select(F.col("seed").alias("media_id")).distinct()
    media = synthesize_media(seeds, "media_id")
    hashed = phash_images(media).select(
        F.col("media_id").alias("h_seed"), "phash"
    )
    payloads = media.select(F.col("media_id").alias("p_seed"), "payload")
    tagged = emb.join(F.broadcast(hashed), emb.seed == F.col("h_seed")).select(
        "vec_id", "seed", "phash"
    )
    # LOUD pair-bound guard (same discipline as dedup._guard_pairs):
    # pair output is quadratic in per-phash multiplicity, so on a
    # replicated corpus (the sf1/sf10 bench shape: every replica shares
    # its seed's phash) the candidate count explodes 100^2x — computed
    # exactly from the per-phash counts BEFORE the join so the caller
    # gets a ValueError instead of an uncollectable result set (the
    # sf10 bound is ~400M pairs; observed driver death pre-guard).
    bound = (
        tagged.groupBy("phash")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("b"))
        .first()["b"]
    )
    if bound is not None and int(bound) > _PHASH_MAX_PAIRS:
        raise ValueError(
            f"phash candidate-pair bound {int(bound)} exceeds "
            f"{_PHASH_MAX_PAIRS}; collapse exact duplicates first "
            "(the l2 collapse-first shape) or raise the ceiling"
        )
    a = tagged.select(
        F.col("vec_id").alias("a_id"),
        F.col("seed").alias("a_seed"),
        F.col("phash").alias("a_ph"),
    )
    b = tagged.select(
        F.col("vec_id").alias("b_id"),
        F.col("seed").alias("b_seed"),
        F.col("phash").alias("b_ph"),
    )
    return (
        # block on the 8-byte hash; verify byte equality on candidates.
        # Payloads enter via 50-row BROADCASTS after pairing — they ride
        # neither the pair shuffle nor the pair rows, so the narrow-pass
        # claim above holds through the join too.
        a.join(b, (F.col("a_ph") == F.col("b_ph")) & (F.col("a_id") < F.col("b_id")))
        .join(
            F.broadcast(payloads.select(F.col("p_seed").alias("a_seed"), F.col("payload").alias("a_pl"))),
            "a_seed",
        )
        .join(
            F.broadcast(payloads.select(F.col("p_seed").alias("b_seed"), F.col("payload").alias("b_pl"))),
            "b_seed",
        )
        .where(F.col("a_pl") == F.col("b_pl"))
        .select("a_id", "b_id", F.col("a_seed").cast("bigint").alias("seed"))
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# L6p — chunk-level dedup rate (new round 4): the same 64/48 sliding
# chunker as l6_chunk_documents over the WHOLE corpus, hashed and
# deduplicated per source — the signal that decides whether to dedup at
# document or chunk grain (boilerplate-heavy sources duplicate chunks
# long before whole documents). The 16-byte chunk hash rides the
# distinct shuffle, never the chunk text.
# --------------------------------------------------------------------------
@register(
    "l6_chunk_dedup_rate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
    c AS (
      SELECT source,
             md5(array_to_string(list_slice(t, chunk_id * {_STRIDE} + 1,
                                            chunk_id * {_STRIDE} + {_CHUNK}), ' ')) AS h
      FROM (
        SELECT source, t,
               unnest(generate_series(0, CAST(floor((len(t) - 1) / {_STRIDE}) AS BIGINT))) AS chunk_id
        FROM d))
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
           round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) + 0.0
             AS chunk_dup_rate
    FROM c
    GROUP BY source
    ORDER BY source
    """,
)
def l6_chunk_dedup_rate(spark, sf_dir):
    T = loader(sf_dir, spark)
    t = F.split("text", " ")
    d = fan_out(T("documents")).select("source", t.alias("t"))
    n_chunks = F.floor((F.size("t") - 1) / _STRIDE).cast("bigint")
    c = d.select(
        "source", "t", F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks)).alias("chunk_id")
    ).select(
        "source",
        F.md5(F.expr(f"array_join(slice(t, chunk_id * {_STRIDE} + 1, {_CHUNK}), ' ')")).alias("h"),
    )
    nd = F.countDistinct("h")
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            nd.cast("bigint").alias("n_unique"),
            (
                F.round(F.lit(1.0) - nd.cast("double") / F.count(F.lit(1)).cast("double"), 6)
                + F.lit(0.0)
            ).alias("chunk_dup_rate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L3f — maximum-inner-product top-k (new round 4): cosine's sibling for
# UNNORMALIZED embeddings (rerankers and recommenders train dot-product
# scores where magnitude carries signal — MIPS, not cosine, is the
# retrieval metric). Same shape as l3_batch_topk: broadcast query
# batch × one corpus scan, JVM zip_with/aggregate fold, per-query
# window top-k. MIPS famously does NOT admit the triangle-inequality
# prunes cosine LSH gets; the scalable path is the same IVF partition
# pruning (l3_ivf_topk) after the standard reduced-MIPS-to-cosine
# augmentation — this H row pins the exact semantics those
# approximations are judged against.
# --------------------------------------------------------------------------
@register(
    "l3f_mips_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 4),
    sims AS (
      SELECT q.query_id, e.vec_id,
             list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv) AS ip
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, ip,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ip DESC, vec_id) AS rn
      FROM sims)
    SELECT query_id, vec_id, round(ip, 6) + 0.0 AS inner_product
    FROM ranked WHERE rn <= 5
    ORDER BY query_id, inner_product DESC, vec_id
    """,
)
def l3f_mips_topk(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    emb = T("embeddings").select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dot.alias("ip"))
    )
    rn = F.row_number().over(Window.partitionBy("query_id").orderBy(F.col("ip").desc(), "vec_id"))
    return (
        sims.withColumn("rn", rn)
        .where(F.col("rn") <= 5)
        .select("query_id", "vec_id", (F.round("ip", 6) + F.lit(0.0)).alias("inner_product"))
        .orderBy("query_id", F.col("inner_product").desc(), "vec_id")
    )


# --------------------------------------------------------------------------
# L4n — language-ID confusion matrix (new round 4): evaluate the l4
# n-gram lang-id heuristic against the corpus's labeled `lang` column —
# per (true, predicted) counts plus per-true-language recall. The
# EVALUATION op every classifier in the pipeline needs: one scan
# (reusing operators/text.lang_id_scores), one tiny aggregate; at
# 100 TB the matrix is |langs|² rows regardless of corpus size.
# --------------------------------------------------------------------------
@register(
    "l4_langid_confusion",
    oracle="""
    WITH s AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','das'))) AS BIGINT) AS d,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','and')))  AS BIGINT) AS e,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','y','los')))   AS BIGINT) AS s_,
             CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','la','et','les')))  AS BIGINT) AS f
      FROM documents),
    g AS (
      SELECT lang,
             CASE WHEN greatest(d, e, s_, f) = 0 THEN 'und'
                  WHEN d = greatest(d, e, s_, f) THEN 'de'
                  WHEN e = greatest(d, e, s_, f) THEN 'en'
                  WHEN s_ = greatest(d, e, s_, f) THEN 'es'
                  ELSE 'fr' END AS lang_guess
      FROM s)
    SELECT lang, lang_guess,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE), 6) + 0.0
             AS share_of_true
    FROM g
    GROUP BY lang, lang_guess
    ORDER BY lang, lang_guess
    """,
)
def l4_langid_confusion(spark, sf_dir):
    from pyspark.sql import Window

    T = loader(sf_dir, spark)
    g = X.lang_id_scores(fan_out(T("documents"))).select("lang", "lang_guess")
    w = Window.partitionBy("lang")
    return (
        g.groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "share_of_true",
            F.round(F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6)
            + F.lit(0.0),
        )
        .orderBy("lang", "lang_guess")
    )


# --------------------------------------------------------------------------
# L7c / L2g — deterministic 2-iteration Lloyd k-means + SemDeDup.
# Shared oracle CTE chain: seeds = vec_id < 8 verbatim; iteration-1
# assignment; EXACT quantized centroid means (round(x*2^40) -> BIGINT
# sum -> fixed-order division chain, bit-identical to the engine's
# limb-split path in operators/cluster.py); iteration-2 assignment.
# --------------------------------------------------------------------------
_KMEANS_CTE = """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    a1 AS (SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c0.cv), c0.cid) AS rn
        FROM e CROSS JOIN c0) WHERE rn = 1),
    flat AS (SELECT a1.cluster, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS x
             FROM e JOIN a1 USING (vec_id)),
    m1 AS (SELECT cluster, pos,
                  CAST(SUM(CAST(round(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                    / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS cd
           FROM flat GROUP BY cluster, pos),
    c1 AS (SELECT cluster AS cid, list(cd ORDER BY pos) AS cv FROM m1 GROUP BY cluster),
    a2 AS (SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, c1.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, c1.cv), c1.cid) AS rn
        FROM e CROSS JOIN c1) WHERE rn = 1)
"""


@register(
    "l7_kmeans_refine",
    oracle=_KMEANS_CTE
    + """
    SELECT a2.cluster AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           round(any_value(nrm), 6) + 0.0 AS centroid_norm
    FROM a2 JOIN (SELECT cluster, sqrt(SUM(cd * cd)) AS nrm
                  FROM m1 GROUP BY cluster) nm ON nm.cluster = a2.cluster
    GROUP BY a2.cluster
    ORDER BY cluster_id
    """,
)
def l7_kmeans_refine(spark, sf_dir):
    """Distributed Lloyd's (2 iterations, k=8, deterministic seeds).

    operators/cluster.py carries the scale analysis: assignment is a
    shuffle-free broadcast-model projection; centroid recompute shuffles
    only k*d partial limb sums per task.  Exact quantized means make the
    refined model bit-identical to the DuckDB oracle, so the iteration-2
    cluster census hash-matches — an ITERATIVE algorithm under the hash
    gate, not just one pass."""
    from kompactor_spark.operators import cluster as C

    T = loader(sf_dir, spark)
    emb = T("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = C.seed_centroids(emb, k=8)
    a1 = C.assign_strict_kernel(emb, cents)
    m1 = C.exact_mean_centroids(a1)
    c1 = C._collect_centroids(m1)
    a2 = C.assign_strict_kernel(emb, c1)
    norms = m1.groupBy("cluster").agg(F.sqrt(F.sum(F.col("cd") * F.col("cd"))).alias("nrm"))
    return (
        a2.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .join(norms, "cluster")
        .select(
            F.col("cluster").alias("cluster_id"),
            "n_points",
            (F.round("nrm", 6) + F.lit(0.0)).alias("centroid_norm"),
        )
        .orderBy("cluster_id")
    )


@register(
    "l2_semantic_dedup",
    oracle=_KMEANS_CTE
    + """
    , asg AS (SELECT e.vec_id, e.v, a2.cluster FROM e JOIN a2 USING (vec_id))
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           a.cluster AS cluster_id,
           round(list_cosine_similarity(a.v, b.v), 6) + 0.0 AS cosine
    FROM asg a JOIN asg b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.25
    ORDER BY id_a, id_b
    """,
)
def l2_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): near-dup pairs INSIDE each k-means
    cell — the cell is the blocking key, so the self-join is per-cell
    quadratic, never corpus-wide.  Cross-cell misses are the published
    algorithm's own approximation, and the oracle encodes the identical
    cell-blocked semantics."""
    from kompactor_spark.operators import cluster as C

    T = loader(sf_dir, spark)
    emb = T("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return (
        C.semantic_dedup_pairs(emb, k=8, threshold=0.25)
        .select(
            "id_a",
            "id_b",
            "cluster_id",
            (F.round("cos_raw", 6) + F.lit(0.0)).alias("cosine"),
        )
        # Round 14 (optimization): hash barrier before the presentation
        # sort. The orderBy's range sampling re-executed the k-means
        # assign kernel + per-cell pair join TWICE per job — the row
        # literally cost double (scripts/r14_sortexec_ab2_out.json: sf1
        # 14.74 s -> 7.78 s; guide §7.2).
        .repartition("id_a")
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L4o — per-document character-level Shannon entropy (gibberish /
# compression-artifact quality signal; complements doc_stats ratios and
# the corpus-LM surprisal score).  One explode -> two hash aggs, all
# JVM-side; shuffle volume is (doc, char) pairs with map-side combine.
# --------------------------------------------------------------------------
@register(
    "l4_char_entropy",
    oracle="""
    WITH flat AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                  FROM documents),
    cnt AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
            FROM flat GROUP BY doc_id, ch),
    tot AS (SELECT doc_id, SUM(c) AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
            FROM cnt GROUP BY doc_id)
    SELECT c.doc_id, any_value(t.n_distinct_chars) AS n_distinct_chars,
           round(-SUM((c.c / t.n) * ln(c.c / t.n)), 6) + 0.0 AS char_entropy
    FROM cnt c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
)
def l4_char_entropy(spark, sf_dir):
    T = loader(sf_dir, spark)
    flat = fan_out(T("documents")).select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    )
    cnt = flat.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("bigint").alias("n_distinct_chars")
    )
    p = F.col("c") / F.col("n")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.any_value("n_distinct_chars").alias("n_distinct_chars"),
            (F.round(-F.sum(p * F.log(p)), 6) + F.lit(0.0)).alias("char_entropy"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# L6q — END-TO-END training-data pipeline in one declarative plan:
# quality gate -> exact dedup (canonical = min doc_id per text) ->
# deterministic md5 split -> per-(split, source) census.  Each stage is
# individually proven elsewhere (l6_quality_filter, l1_exact_dedup,
# l6_train_val_split); the composite shows they FUSE into a single
# Catalyst plan — one scan, three shuffles (dedup groupBy, census
# groupBy; the gate and split are narrow) — instead of three
# materialized passes, which is the difference between 3x and 1x the
# corpus scan cost at 100 TB.
# --------------------------------------------------------------------------
@register(
    "l6_e2e_pipeline",
    oracle="""
    WITH gated AS (
      SELECT doc_id, source, text,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE len(string_split(text, ' ')) >= 20
        AND CAST(len(replace(text, ' ', '')) AS DOUBLE)
              / len(string_split(text, ' ')) <= 12
    ),
    deduped AS (
      SELECT min(doc_id) AS doc_id, min_by(source, doc_id) AS source,
             min_by(n_tokens, doc_id) AS n_tokens
      FROM gated GROUP BY text
    ),
    split AS (
      SELECT source, n_tokens,
             CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f8' THEN 'train'
                  WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'fc' THEN 'val'
                  ELSE 'test' END AS split
      FROM deduped
    )
    SELECT split, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total
    FROM split GROUP BY split, source
    ORDER BY split, source
    """,
)
def l6_e2e_pipeline(spark, sf_dir):
    T = loader(sf_dir, spark)
    ts = F.split("text", " ")
    gated = (
        fan_out(T("documents"))
        .select("doc_id", "source", "text", F.size(ts).alias("n_tokens"))
        .where(
            (F.size(ts) >= 20)
            & (
                F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(ts)
                <= 12
            )
        )
    )
    deduped = gated.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("source", "doc_id").alias("source"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
    )
    h = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    split = deduped.select(
        "source",
        "n_tokens",
        F.when(h < "f8", "train").when(h < "fc", "val").otherwise("test").alias("split"),
    )
    return (
        split.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_total"),
        )
        .orderBy("split", "source")
    )


# --------------------------------------------------------------------------
# L6r — temperature-based language rebalancing (alpha-sampling, the
# multilingual-corpus recipe from the mT5/XLM-R line of work): sampling
# mass p_l ~ n_l^alpha with alpha=0.3 flattens the language skew (en is
# downsampled hard, tail languages keep nearly everything) while a
# deterministic md5 rank picks WHICH docs survive — reproducible and
# partitioning-independent. Shape: per-language count table (5 rows) ->
# one-row normalizer broadcast -> keep-quota broadcast against the
# per-lang md5 rank, computed (r13) by the distributed keyed prefix
# count (operators/prefixsum.py) — a bare-lang window would serialize
# the corpus into 4 sort tasks (§7c; measured 0.93 -> 0.64 s at sf10).
# At 100 TB the quota table stays KBs and the rank scales with the
# cluster, not with #languages.
# --------------------------------------------------------------------------
@register(
    "l6_temperature_sample",
    oracle="""
    WITH w AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS cnt
               FROM documents GROUP BY lang),
    tot AS (SELECT SUM(POW(cnt, 0.3)) AS z, SUM(cnt) AS n FROM w),
    keep AS (SELECT lang, cnt,
                    CAST(floor(0.5 * n * POW(cnt, 0.3) / z) AS BIGINT) AS k
             FROM w, tot),
    ranked AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY md5('temp:' || CAST(doc_id AS VARCHAR)),
                                                  doc_id) AS rn
               FROM documents)
    SELECT r.lang,
           CAST(any_value(k2.cnt) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS kept,
           round(CAST(count(*) AS DOUBLE) / any_value(k2.cnt), 6) + 0.0 AS keep_rate
    FROM ranked r JOIN keep k2 ON r.lang = k2.lang
    WHERE r.rn <= k2.k
    GROUP BY r.lang
    ORDER BY r.lang
    """,
)
def l6_temperature_sample(spark, sf_dir):
    from kompactor_spark.operators.prefixsum import distributed_keyed_row_number

    T = loader(sf_dir, spark)
    docs = T("documents")
    w = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    tot = w.agg(
        F.sum(F.pow("cnt", F.lit(0.3))).alias("z"), F.sum("cnt").alias("n")
    )
    keep = w.crossJoin(F.broadcast(tot)).select(
        "lang",
        "cnt",
        F.floor(F.lit(0.5) * F.col("n") * F.pow("cnt", F.lit(0.3)) / F.col("z"))
        .cast("bigint")
        .alias("k"),
    )
    h = F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string")))
    # Per-lang rank via the distributed keyed prefix count — NOT
    # row_number() OVER (PARTITION BY lang ...): lang has 4 values, so
    # the bare-key window serializes the whole corpus into 4 sort tasks
    # (§7c). Measured at sf10 (scripts/l6_keyed_prefix_ab_sf10_out.json,
    # interleaved identity-gated): 0.93 s -> 0.64 s even at 500k docs;
    # at 100 TB it is the difference between 4 tasks and the cluster.
    # The source-keyed (20-value) L6 siblings measured fastest on the
    # plain window at this scale and keep it — severity ~ rows/keys.
    ranked = distributed_keyed_row_number(
        docs.select("doc_id", "lang", h.alias("__h")), ["lang"], ["__h", "doc_id"], "rn"
    )
    return (
        ranked.join(F.broadcast(keep), "lang")
        .where(F.col("rn") <= F.col("k"))
        .groupBy("lang")
        .agg(
            F.any_value("cnt").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("kept"),
            (
                F.round(F.count(F.lit(1)).cast("double") / F.any_value("cnt"), 6)
                + F.lit(0.0)
            ).alias("keep_rate"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# L3g — product-quantization codebook (Jégou et al. 2011): 8 subspaces
# x 16 codes, one exact-quantized Lloyd refinement from deterministic
# seeds, then the per-(subspace, code) census + refined centroid norms.
# The PQ component of an IVF-PQ index: codes shrink a 64-dim float
# vector to 8 bytes. operators/cluster.py::pq_codebook carries the
# scale shape (KB codebook broadcast; no corpus-wide shuffle wider than
# (vec, sub, code)).
# --------------------------------------------------------------------------
@register(
    "l3g_pq_codebook",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (SELECT e.vec_id, s.sub, e.v[s.sub*8+1 : s.sub*8+8] AS sv
             FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
    c0 AS (SELECT sub, vec_id AS code, sv AS cv FROM subs WHERE vec_id < 16),
    a1 AS (SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, c0.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                                  ORDER BY list_distance(subs.sv, c0.cv), c0.code) AS rn
        FROM subs JOIN c0 ON subs.sub = c0.sub) WHERE rn = 1),
    flat AS (SELECT a1.sub, a1.code, generate_subscripts(subs.sv, 1) AS pos, unnest(subs.sv) AS x
             FROM subs JOIN a1 ON subs.vec_id = a1.vec_id AND subs.sub = a1.sub),
    m1 AS (SELECT sub, code, pos,
                  CAST(SUM(CAST(round(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                    / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS cd
           FROM flat GROUP BY sub, code, pos),
    c1 AS (SELECT sub, code, list(cd ORDER BY pos) AS cv FROM m1 GROUP BY sub, code),
    a2 AS (SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, c1.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                                  ORDER BY list_distance(subs.sv, c1.cv), c1.code) AS rn
        FROM subs JOIN c1 ON subs.sub = c1.sub) WHERE rn = 1)
    SELECT a2.sub, a2.code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           round(any_value(nm.nrm), 6) + 0.0 AS centroid_norm
    FROM a2 JOIN (SELECT sub, code, sqrt(SUM(cd*cd)) AS nrm
                  FROM m1 GROUP BY sub, code) nm
      ON nm.sub = a2.sub AND nm.code = a2.code
    GROUP BY a2.sub, a2.code ORDER BY a2.sub, a2.code
    """,
)
def l3g_pq_codebook(spark, sf_dir):
    from kompactor_spark.operators import cluster as C

    T = loader(sf_dir, spark)
    emb = T("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a2, m1 = C.pq_codebook(emb, n_sub=8, k=16)
    norms = m1.groupBy("sub", "code").agg(
        F.sqrt(F.sum(F.col("cd") * F.col("cd"))).alias("nrm")
    )
    return (
        a2.groupBy("sub", "code")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
        .join(norms, ["sub", "code"])
        .select(
            "sub",
            "code",
            "n_vecs",
            (F.round("nrm", 6) + F.lit(0.0)).alias("centroid_norm"),
        )
        .orderBy("sub", "code")
    )


# --------------------------------------------------------------------------
# L3h — PQ asymmetric-distance top-k (the SEARCH half of IVF-PQ, Jégou
# et al. 2011 §4): train the l3g codebook, encode the corpus to
# (vec_id, sub, code), build the query's 8x16 distance lookup table
# (one squared L2 per (subspace, code) against the query's slice), and
# score every vector as the sum of its 8 LUT entries — never touching
# the raw vectors at search time. At 100 TB the corpus side is 8 B of
# codes per vector (32x smaller than 64-dim floats), the LUT is 128
# doubles broadcast, and the only shuffle is the narrow
# (vec_id, sub, code) re-agg; packing codes into one array per vec_id
# at encode time removes even that (fold over a literal LUT).
# All float sums are explicit fixed-order 8-term chains on BOTH
# engines — no reliance on aggregate traversal order.
# --------------------------------------------------------------------------
def _sq_chain(terms):
    """Left-associated a1 + a2 + ... chain (deterministic IEEE order)."""
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


@register(
    "l3h_pq_adc_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (SELECT e.vec_id, s.sub, e.v[s.sub*8+1 : s.sub*8+8] AS sv
             FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
    c0 AS (SELECT sub, vec_id AS code, sv AS cv FROM subs WHERE vec_id < 16),
    a1 AS (SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, c0.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                                  ORDER BY list_distance(subs.sv, c0.cv), c0.code) AS rn
        FROM subs JOIN c0 ON subs.sub = c0.sub) WHERE rn = 1),
    flat AS (SELECT a1.sub, a1.code, generate_subscripts(subs.sv, 1) AS pos, unnest(subs.sv) AS x
             FROM subs JOIN a1 ON subs.vec_id = a1.vec_id AND subs.sub = a1.sub),
    m1 AS (SELECT sub, code, pos,
                  CAST(SUM(CAST(round(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                    / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS cd
           FROM flat GROUP BY sub, code, pos),
    c1 AS (SELECT sub, code, list(cd ORDER BY pos) AS cv FROM m1 GROUP BY sub, code),
    a2 AS (SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, c1.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                                  ORDER BY list_distance(subs.sv, c1.cv), c1.code) AS rn
        FROM subs JOIN c1 ON subs.sub = c1.sub) WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    lut AS (SELECT c1.sub, c1.code,
                   (qv[c1.sub*8+1] - cv[1]) * (qv[c1.sub*8+1] - cv[1])
                 + (qv[c1.sub*8+2] - cv[2]) * (qv[c1.sub*8+2] - cv[2])
                 + (qv[c1.sub*8+3] - cv[3]) * (qv[c1.sub*8+3] - cv[3])
                 + (qv[c1.sub*8+4] - cv[4]) * (qv[c1.sub*8+4] - cv[4])
                 + (qv[c1.sub*8+5] - cv[5]) * (qv[c1.sub*8+5] - cv[5])
                 + (qv[c1.sub*8+6] - cv[6]) * (qv[c1.sub*8+6] - cv[6])
                 + (qv[c1.sub*8+7] - cv[7]) * (qv[c1.sub*8+7] - cv[7])
                 + (qv[c1.sub*8+8] - cv[8]) * (qv[c1.sub*8+8] - cv[8]) AS d2
            FROM c1 CROSS JOIN q),
    adc AS (SELECT a2.vec_id,
                   SUM(CASE WHEN a2.sub = 0 THEN lut.d2 END) AS d0,
                   SUM(CASE WHEN a2.sub = 1 THEN lut.d2 END) AS d1,
                   SUM(CASE WHEN a2.sub = 2 THEN lut.d2 END) AS d2,
                   SUM(CASE WHEN a2.sub = 3 THEN lut.d2 END) AS d3,
                   SUM(CASE WHEN a2.sub = 4 THEN lut.d2 END) AS d4,
                   SUM(CASE WHEN a2.sub = 5 THEN lut.d2 END) AS d5,
                   SUM(CASE WHEN a2.sub = 6 THEN lut.d2 END) AS d6,
                   SUM(CASE WHEN a2.sub = 7 THEN lut.d2 END) AS d7
            FROM a2 JOIN lut ON a2.sub = lut.sub AND a2.code = lut.code
            WHERE a2.vec_id <> 0
            GROUP BY a2.vec_id)
    SELECT vec_id,
           round(d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, 6) + 0.0 AS adc_d2
    FROM adc
    ORDER BY d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, vec_id
    LIMIT 10
    """,
)
def l3h_pq_adc_topk(spark, sf_dir):
    from kompactor_spark.operators import cluster as C

    T = loader(sf_dir, spark)
    emb = T("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a2, m1 = C.pq_codebook(emb, n_sub=8, k=16)
    # refined centroids as 1-based arrays (same shape as the oracle's c1)
    c1 = m1.groupBy("sub", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cd"))), lambda s: s["cd"]
        ).alias("cv")
    )
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("v").first()[0]]
    qarr = F.array(*[F.lit(x) for x in qvec])
    diffs = [
        F.element_at(qarr, (F.col("sub") * 8 + i).cast("int")) - F.element_at("cv", i)
        for i in range(1, 9)
    ]
    lut = c1.select("sub", "code", _sq_chain([d * d for d in diffs]).alias("d2"))
    per_sub = [
        F.sum(F.when(F.col("sub") == s, F.col("d2"))).alias(f"d{s}") for s in range(8)
    ]
    adc = (
        a2.where(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("vec_id")
        .agg(*per_sub)
    )
    total = _sq_chain([F.col(f"d{s}") for s in range(8)])
    return (
        adc.select(
            "vec_id",
            total.alias("_raw"),
            (F.round(total, 6) + F.lit(0.0)).alias("adc_d2"),
        )
        .orderBy("_raw", "vec_id")
        .limit(10)
        .select("vec_id", "adc_d2")
    )


# --------------------------------------------------------------------------
# L7 — cluster purity: quality of the deterministic k-means clustering
# against the embeddings' ground-truth labels. Per cluster: size,
# majority label (ties to the smaller label) and purity = majority
# count / size. The standard unsupervised-eval metric for the curation
# clusters that drive SemDeDup / stratified sampling. Integer counting
# end-to-end until one final division, so the hash gate is trivial;
# the kmeans assignment reuses the exact-quantized Lloyd machinery
# (operators/cluster.py) that is already bit-identical cross-engine.
# --------------------------------------------------------------------------
@register(
    "l7_cluster_purity",
    oracle=_KMEANS_CTE
    + """
    , lab AS (
      SELECT a2.cluster, emb.label
      FROM a2 JOIN embeddings emb ON emb.vec_id = a2.vec_id),
    cnt AS (SELECT cluster, label, COUNT(*) AS c FROM lab GROUP BY cluster, label),
    tot AS (SELECT cluster, SUM(c) AS n FROM cnt GROUP BY cluster),
    maj AS (
      SELECT cluster, label AS top_label, c AS top_count FROM (
        SELECT cluster, label, c,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY c DESC, label) AS rn
        FROM cnt) WHERE rn = 1)
    SELECT maj.cluster AS cluster_id,
           CAST(tot.n AS BIGINT) AS n_points,
           CAST(maj.top_label AS INT) AS top_label,
           CAST(maj.top_count AS BIGINT) AS top_count,
           round(CAST(maj.top_count AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS purity
    FROM maj JOIN tot USING (cluster)
    ORDER BY cluster_id
    """,
)
def l7_cluster_purity(spark, sf_dir):
    from pyspark.sql import Window

    from kompactor_spark.operators import cluster as C

    T = loader(sf_dir, spark)
    emb = T("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a1 = C.assign_strict_kernel(emb, C.seed_centroids(emb, k=8))
    a2 = C.assign_strict_kernel(emb, C._collect_centroids(C.exact_mean_centroids(a1)))
    lab = a2.join(
        T("embeddings").select("vec_id", F.col("label").cast("int").alias("label")),
        "vec_id",
    )
    cnt = lab.groupBy("cluster", "label").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("cluster").orderBy(F.col("c").desc(), "label")
    maj = (
        cnt.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster", F.col("label").alias("top_label"), F.col("c").alias("top_count"))
    )
    tot = cnt.groupBy("cluster").agg(F.sum("c").alias("n"))
    return (
        maj.join(tot, "cluster")
        .select(
            F.col("cluster").alias("cluster_id"),
            F.col("n").cast("bigint").alias("n_points"),
            F.col("top_label").cast("int").alias("top_label"),
            F.col("top_count").cast("bigint").alias("top_count"),
            F.round(
                F.col("top_count").cast("double") / F.col("n").cast("double"), 6
            ).alias("purity"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# L3i — the COMPOSED modern ANN index, IVF + PQ, under the hash gate:
# (1) coarse quantizer = the deterministic exact-quantized k-means
#     (cells); the query probes only the n_probe=2 nearest cells,
# (2) fine quantizer = the l3g PQ codebook; candidates in the probed
#     cells are scored by asymmetric distance over 8-byte codes.
# At 100 TB this is the canonical shape: the cell id is the PARTITION
# column (probe = partition-pruned scan of n_probe/n_cells of the
# corpus), the PQ codes are the stored scan payload (32x smaller than
# raw vectors), the LUT broadcasts as 128 doubles. Probe selection
# is O(k) driver math over the KB centroid sidecar — order-only, so
# engine/oracle float differences cannot flip the hash (ties break on
# cell id). ADC sums are fixed-order 8-term chains (see l3h).
# --------------------------------------------------------------------------
@register(
    "l3i_ivf_pq_topk",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    -- coarse quantizer: deterministic 2-iteration k-means, k=8 cells
    kc0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
    ka1 AS (SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, kc0.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, kc0.cv), kc0.cid) AS rn
        FROM e CROSS JOIN kc0) WHERE rn = 1),
    kflat AS (SELECT ka1.cluster, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS x
              FROM e JOIN ka1 USING (vec_id)),
    km1 AS (SELECT cluster, pos,
                   CAST(SUM(CAST(round(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                     / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS cd
            FROM kflat GROUP BY cluster, pos),
    kc1 AS (SELECT cluster AS cid, list(cd ORDER BY pos) AS cv FROM km1 GROUP BY cluster),
    ka2 AS (SELECT vec_id, cid AS cluster FROM (
        SELECT e.vec_id, kc1.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_distance(e.v, kc1.cv), kc1.cid) AS rn
        FROM e CROSS JOIN kc1) WHERE rn = 1),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (SELECT cid FROM kc1 CROSS JOIN q
              ORDER BY list_distance(qv, cv), cid LIMIT 2),
    cand AS (SELECT vec_id FROM ka2 WHERE cluster IN (SELECT cid FROM probe)),
    -- fine quantizer: the l3g PQ codebook over the full corpus
    subs AS (SELECT e.vec_id, s.sub, e.v[s.sub*8+1 : s.sub*8+8] AS sv
             FROM e CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS sub) s),
    pc0 AS (SELECT sub, vec_id AS code, sv AS cv FROM subs WHERE vec_id < 16),
    pa1 AS (SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, pc0.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                                  ORDER BY list_distance(subs.sv, pc0.cv), pc0.code) AS rn
        FROM subs JOIN pc0 ON subs.sub = pc0.sub) WHERE rn = 1),
    pflat AS (SELECT pa1.sub, pa1.code, generate_subscripts(subs.sv, 1) AS pos, unnest(subs.sv) AS x
              FROM subs JOIN pa1 ON subs.vec_id = pa1.vec_id AND subs.sub = pa1.sub),
    pm1 AS (SELECT sub, code, pos,
                   CAST(SUM(CAST(round(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)
                     / 1099511627776.0 / CAST(COUNT(*) AS DOUBLE) AS cd
            FROM pflat GROUP BY sub, code, pos),
    pc1 AS (SELECT sub, code, list(cd ORDER BY pos) AS cv FROM pm1 GROUP BY sub, code),
    pa2 AS (SELECT vec_id, sub, code FROM (
        SELECT subs.vec_id, subs.sub, pc1.code,
               row_number() OVER (PARTITION BY subs.vec_id, subs.sub
                                  ORDER BY list_distance(subs.sv, pc1.cv), pc1.code) AS rn
        FROM subs JOIN pc1 ON subs.sub = pc1.sub) WHERE rn = 1),
    lut AS (SELECT pc1.sub, pc1.code,
                   (qv[pc1.sub*8+1] - cv[1]) * (qv[pc1.sub*8+1] - cv[1])
                 + (qv[pc1.sub*8+2] - cv[2]) * (qv[pc1.sub*8+2] - cv[2])
                 + (qv[pc1.sub*8+3] - cv[3]) * (qv[pc1.sub*8+3] - cv[3])
                 + (qv[pc1.sub*8+4] - cv[4]) * (qv[pc1.sub*8+4] - cv[4])
                 + (qv[pc1.sub*8+5] - cv[5]) * (qv[pc1.sub*8+5] - cv[5])
                 + (qv[pc1.sub*8+6] - cv[6]) * (qv[pc1.sub*8+6] - cv[6])
                 + (qv[pc1.sub*8+7] - cv[7]) * (qv[pc1.sub*8+7] - cv[7])
                 + (qv[pc1.sub*8+8] - cv[8]) * (qv[pc1.sub*8+8] - cv[8]) AS d2
            FROM pc1 CROSS JOIN q),
    adc AS (SELECT pa2.vec_id,
                   SUM(CASE WHEN pa2.sub = 0 THEN lut.d2 END) AS d0,
                   SUM(CASE WHEN pa2.sub = 1 THEN lut.d2 END) AS d1,
                   SUM(CASE WHEN pa2.sub = 2 THEN lut.d2 END) AS d2,
                   SUM(CASE WHEN pa2.sub = 3 THEN lut.d2 END) AS d3,
                   SUM(CASE WHEN pa2.sub = 4 THEN lut.d2 END) AS d4,
                   SUM(CASE WHEN pa2.sub = 5 THEN lut.d2 END) AS d5,
                   SUM(CASE WHEN pa2.sub = 6 THEN lut.d2 END) AS d6,
                   SUM(CASE WHEN pa2.sub = 7 THEN lut.d2 END) AS d7
            FROM pa2 JOIN lut ON pa2.sub = lut.sub AND pa2.code = lut.code
            WHERE pa2.vec_id <> 0
              AND pa2.vec_id IN (SELECT vec_id FROM cand)
            GROUP BY pa2.vec_id)
    SELECT vec_id,
           round(d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, 6) + 0.0 AS adc_d2
    FROM adc
    ORDER BY d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, vec_id
    LIMIT 10
    """,
)
def l3i_ivf_pq_topk(spark, sf_dir):
    from kompactor_spark.operators import cluster as C

    T = loader(sf_dir, spark)
    emb = T("embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # coarse cells: deterministic exact k-means, k=8
    a1k = C.assign_strict_kernel(emb, C.seed_centroids(emb, k=8))
    cents = C._collect_centroids(C.exact_mean_centroids(a1k))
    a2k = C.assign_strict_kernel(emb, cents)
    # probe selection: O(k) driver math over the KB centroid sidecar —
    # order-only, ties to the smaller cell id
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("v").first()[0]]
    d2s = [
        (sum((qvec[i] - cv[i]) ** 2 for i in range(len(qvec))), cid)
        for cid, cv in cents
    ]
    probes = [cid for _, cid in sorted(d2s)[:2]]
    cand = a2k.where(F.col("cluster").isin(probes)).select("vec_id")
    # fine quantizer: PQ codebook + query LUT (identical to l3h)
    a2p, m1p = C.pq_codebook(emb, n_sub=8, k=16)
    c1p = m1p.groupBy("sub", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cd"))), lambda s: s["cd"]
        ).alias("cv")
    )
    qarr = F.array(*[F.lit(x) for x in qvec])
    diffs = [
        F.element_at(qarr, (F.col("sub") * 8 + i).cast("int")) - F.element_at("cv", i)
        for i in range(1, 9)
    ]
    lut = c1p.select("sub", "code", _sq_chain([d * d for d in diffs]).alias("d2"))
    per_sub = [
        F.sum(F.when(F.col("sub") == s, F.col("d2"))).alias(f"d{s}") for s in range(8)
    ]
    adc = (
        a2p.where(F.col("vec_id") != 0)
        .join(cand, "vec_id", "left_semi")
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy("vec_id")
        .agg(*per_sub)
    )
    total = _sq_chain([F.col(f"d{s}") for s in range(8)])
    return (
        adc.select(
            "vec_id",
            total.alias("_raw"),
            (F.round(total, 6) + F.lit(0.0)).alias("adc_d2"),
        )
        .orderBy("_raw", "vec_id")
        .limit(10)
        .select("vec_id", "adc_d2")
    )


# --------------------------------------------------------------------------
# L2h — sparse TF-IDF cosine near-dup pairs via an INVERTED INDEX (the
# sparse-vector counterpart to l2_embedding_neardup): weight = tf *
# ln(N/df), L2-normalize per doc, then pair dot products computed by a
# self-join on the term (never all-pairs — only docs SHARING a surviving
# term meet), with hot terms pruned at df <= 200 (the same skew
# discipline as max_shingle_freq in operators/dedup.py; at 100 TB the
# df cutoff is what bounds the per-term join fan-out). Both float
# reductions (per-doc norm, per-pair dot product) are EXACT integer
# sums of quantized terms (2^-30 / 2^-40 units, split-limb longs), so
# the hash gate holds regardless of aggregation order, and the
# similarity threshold compares the exact integer sum (s >= 0.4 * 2^40)
# — no float-boundary flakiness.
# --------------------------------------------------------------------------
_TFIDF_MAX_DF = 200
_TFIDF_S_NORM = 1073741824.0  # 2^30 (norm quantum; w^2 stays << 2^63)
_TFIDF_S_DOT = 1099511627776.0  # 2^40 (dot quantum; |u_a*u_b| <= 1)
_TFIDF_MIN_S = 439804651110  # round(0.4 * 2^40): cosine >= 0.4


@register(
    "l2_tfidf_cosine_pairs",
    oracle=f"""
    WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
               FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM d),
    w AS (SELECT tf.doc_id, tf.term, tf.tf * ln(nn / CAST(dfreq.df AS DOUBLE)) AS w
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
          WHERE dfreq.df <= {_TFIDF_MAX_DF}),
    nrm AS (SELECT doc_id,
                   sqrt(CAST(SUM(CAST(round(w * w * {_TFIDF_S_NORM}) AS BIGINT)) AS DOUBLE)
                        / {_TFIDF_S_NORM}) AS nrm
            FROM w GROUP BY doc_id),
    u AS (SELECT w.doc_id, w.term, w.w / nrm.nrm AS u
          FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 SUM(CAST(round(a.u * b.u * {_TFIDF_S_DOT}) AS BIGINT)) AS s
          FROM u a JOIN u b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           round(CAST(s AS DOUBLE) / {_TFIDF_S_DOT}, 6) + 0.0 AS cosine
    FROM p WHERE s >= {_TFIDF_MIN_S}
    ORDER BY id_a, id_b
    """,
)
def l2_tfidf_cosine_pairs(spark, sf_dir):
    from kompactor_spark import fixedpoint as fx

    T = loader(sf_dir, spark)
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    d = fan_out(T("documents")).select("doc_id", toks.alias("toks"))
    tok = d.select("doc_id", F.explode("toks").alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndf = d.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    w = (
        tf.join(dfreq.where(F.col("df") <= _TFIDF_MAX_DF), "term")
        .crossJoin(F.broadcast(ndf))
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.col("nn") / F.col("df").cast("double"))).alias("w"),
        )
    )

    def _exact(col, scale):
        hi, lo = fx.limb_split(F.round(col * F.lit(scale)).cast("long"))
        return hi, lo

    nhi, nlo = _exact(F.col("w") * F.col("w"), _TFIDF_S_NORM)
    nrm = (
        w.select("doc_id", nhi.alias("hi"), nlo.alias("lo"))
        .groupBy("doc_id")
        .agg(F.sum("hi").alias("shi"), F.sum("lo").alias("slo"))
        .select(
            "doc_id",
            F.sqrt(
                (
                    F.col("shi").cast("decimal(38,0)")
                    * F.lit(fx.LIMB).cast("decimal(7,0)")
                    + F.col("slo").cast("decimal(38,0)")
                ).cast("double")
                / F.lit(_TFIDF_S_NORM)
            ).alias("nrm"),
        )
    )
    u = (
        w.join(nrm, "doc_id")
        .where(F.col("nrm") > 0)
        .select("doc_id", "term", (F.col("w") / F.col("nrm")).alias("u"))
    )
    a = u.select(F.col("doc_id").alias("id_a"), "term", F.col("u").alias("ua"))
    b = u.select(F.col("doc_id").alias("id_b"), "term", F.col("u").alias("ub"))
    phi, plo = _exact(F.col("ua") * F.col("ub"), _TFIDF_S_DOT)
    s = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", phi.alias("hi"), plo.alias("lo"))
        .groupBy("id_a", "id_b")
        .agg(F.sum("hi").alias("shi"), F.sum("lo").alias("slo"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("shi").cast("decimal(38,0)")
                * F.lit(fx.LIMB).cast("decimal(7,0)")
                + F.col("slo").cast("decimal(38,0)")
            ).alias("s"),
        )
    )
    return (
        s.where(F.col("s") >= F.lit(_TFIDF_MIN_S).cast("decimal(38,0)"))
        .select(
            "id_a",
            "id_b",
            (
                F.round(F.col("s").cast("double") / F.lit(_TFIDF_S_DOT), 6)
                + F.lit(0.0)
            ).alias("cosine"),
        )
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# L4p — token-distribution drift per source: total-variation distance
# TV(source, corpus) = 0.5 * sum_term |p_term|source - p_term|corpus|.
# The standard cheap detector for "this slice's language shifted" —
# run per source / per crawl / per time window before mixing. The
# per-term sum runs over the full (source x dictionary) grid (missing
# terms contribute p=0), bounded by |dictionary| x |slices| — at 100 TB
# the dictionary is pruned (df floor) exactly like the inverted index.
# Absolute differences are quantized to 2^-40 and summed as split-limb
# integers: hash-stable under any aggregation order.
# --------------------------------------------------------------------------
@register(
    "l4_tv_drift",
    oracle="""
    WITH tok AS (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
                 FROM documents),
    sc AS (SELECT source, term, COUNT(*) AS c FROM tok GROUP BY source, term),
    st AS (SELECT source, SUM(c) AS tot FROM sc GROUP BY source),
    cc AS (SELECT term, SUM(c) AS c FROM sc GROUP BY term),
    ct AS (SELECT SUM(c) AS tot FROM cc),
    grid AS (SELECT st.source, cc.term, cc.c AS corpus_c FROM st CROSS JOIN cc),
    diff AS (SELECT g.source,
                    abs(COALESCE(CAST(sc.c AS DOUBLE), 0.0) / CAST(st.tot AS DOUBLE)
                        - CAST(g.corpus_c AS DOUBLE) / CAST(ct.tot AS DOUBLE)) AS ad
             FROM grid g
             JOIN st ON st.source = g.source
             CROSS JOIN ct
             LEFT JOIN sc ON sc.source = g.source AND sc.term = g.term),
    s AS (SELECT source,
                 SUM(CAST(round(ad * 1099511627776.0) AS BIGINT)) AS sm
          FROM diff GROUP BY source)
    SELECT source,
           round(0.5 * (CAST(sm AS DOUBLE) / 1099511627776.0), 6) + 0.0 AS tv_distance
    FROM s ORDER BY source
    """,
)
def l4_tv_drift(spark, sf_dir):
    from kompactor_spark import fixedpoint as fx

    T = loader(sf_dir, spark)
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    tok = fan_out(T("documents")).select(
        "source", F.explode(toks).alias("term")
    )
    sc = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("tot"))
    cc = sc.groupBy("term").agg(F.sum("c").alias("corpus_c"))
    ct = cc.agg(F.sum("corpus_c").alias("ctot"))
    grid = st.crossJoin(cc)
    ad = F.abs(
        F.coalesce(F.col("c").cast("double"), F.lit(0.0)) / F.col("tot").cast("double")
        - F.col("corpus_c").cast("double") / F.col("ctot").cast("double")
    )
    hi, lo = fx.limb_split(F.round(ad * F.lit(1099511627776.0)).cast("long"))
    s = (
        grid.join(sc, ["source", "term"], "left")
        .crossJoin(F.broadcast(ct))
        .select("source", hi.alias("hi"), lo.alias("lo"))
        .groupBy("source")
        .agg(F.sum("hi").alias("shi"), F.sum("lo").alias("slo"))
        .select(
            "source",
            (
                F.col("shi").cast("decimal(38,0)")
                * F.lit(fx.LIMB).cast("decimal(7,0)")
                + F.col("slo").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("sm"),
        )
    )
    return s.select(
        "source",
        (
            F.round(F.lit(0.5) * (F.col("sm") / F.lit(1099511627776.0)), 6)
            + F.lit(0.0)
        ).alias("tv_distance"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# L4n — lexical richness per source (new round 4): type-token ratio and
# hapax-legomenon share, the vocabulary-diversity diagnostics that
# separate natural text from templated/boilerplate output (template
# corpora collapse TTR; hapax share drops toward 0). Shape: one
# tokenize+explode pass → (source, token) counts → per-source rollup —
# two shuffles, both keyed, with map-side partial aggregation; all
# counts are exact BIGINTs and the two ratios are single closed-form
# divisions, so the output is bit-deterministic cross-engine.
# --------------------------------------------------------------------------
@register(
    "l4_ttr_hapax",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
    tc AS (
      SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS ttr,
           round(CAST(COUNT(*) FILTER (WHERE c = 1) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
    FROM tc GROUP BY source
    ORDER BY source
    """,
)
def l4_ttr_hapax(spark, sf_dir):
    T = loader(sf_dir, spark)
    tc = (
        fan_out(T("documents"))
        .select("source", F.explode(X.tokens("text")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_types = F.count(F.lit(1)).cast("bigint")
    n_hapax = F.count(F.when(F.col("c") == 1, 1)).cast("bigint")
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            n_types.alias("n_types"),
            n_hapax.alias("n_hapax"),
            F.round(n_types.cast("double") / F.sum("c").cast("double"), 6).alias("ttr"),
            F.round(n_hapax.cast("double") / n_types.cast("double"), 6).alias("hapax_share"),
        )
        .orderBy("source")
    )


# L7f — embedding dimension health (new round 4): per-dimension moments
# across the whole corpus — the screen for dead (zero-variance) and
# collapsed (offset-mean) embedding dimensions that silently degrade
# ANN recall and clustering. Shape: posexplode to the flat (vec, dim,
# value) stream (the SQ8/PQ pattern — scan-linear, no shuffle wider
# than the 64-key dim group), per-element DECIMAL(18,9) quantization
# (a pure cast, no accumulation), then exact DECIMAL power sums (a16
# mechanism) per dimension — count/mean/variance/min/max are all
# bit-deterministic cross-engine under any partitioning.
# --------------------------------------------------------------------------
@register(
    "l7f_dimension_stats",
    oracle="""
    WITH flat AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS xd
      FROM embeddings),
    s AS (
      SELECT dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(xd) AS s1,
             SUM(xd * xd) AS s2,
             MIN(xd) AS mn,
             MAX(xd) AS mx
      FROM flat GROUP BY dim)
    SELECT CAST(dim AS BIGINT) AS dim, n,
           round(CAST(s1 AS DOUBLE) / n, 6) + 0.0 AS mean_x,
           round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                 / (n - 1), 6) + 0.0 AS var_x,
           CAST(mn AS DOUBLE) AS min_x,
           CAST(mx AS DOUBLE) AS max_x
    FROM s
    ORDER BY dim
    """,
)
def l7f_dimension_stats(spark, sf_dir):
    T = loader(sf_dir, spark)
    flat = T("embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    xd = F.col("x").cast("decimal(18,9)")
    s = flat.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("s1"),
        F.sum(xd * xd).alias("s2"),
        F.min(xd).alias("mn"),
        F.max(xd).alias("mx"),
    )
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    return s.select(
        F.col("dim").cast("bigint").alias("dim"),
        "n",
        (F.round(s1d / F.col("n"), 6) + F.lit(0.0)).alias("mean_x"),
        (F.round((s2d - s1d * s1d / F.col("n")) / (F.col("n") - 1), 6) + F.lit(0.0)).alias(
            "var_x"
        ),
        F.col("mn").cast("double").alias("min_x"),
        F.col("mx").cast("double").alias("max_x"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# L4o — vocabulary coverage (new round 4): what fraction of all corpus
# token OCCURRENCES the top-K token TYPES cover — the estimate behind
# every "how big must the vocab be" truncation decision. The top-K set
# comes from orderBy+limit (TakeOrderedAndProject with the freq-desc/
# token-asc total order — never a global rank window over the whole
# vocabulary), its BIGINT frequency sum is exact, and coverage is one
# closed-form division.
# --------------------------------------------------------------------------
_L4O_KS = (100, 1000)


@register(
    "l4_vocab_coverage",
    oracle=f"""
    WITH tc AS (
      SELECT t, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM tc),
    r AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, t ASC) AS rn FROM tc),
    ks(k) AS (VALUES {", ".join(f"({k})" for k in _L4O_KS)})
    SELECT CAST(ks.k AS BIGINT) AS k,
           (SELECT CAST(SUM(freq) AS BIGINT) FROM r WHERE rn <= ks.k) AS covered,
           tot.total,
           round(CAST((SELECT SUM(freq) FROM r WHERE rn <= ks.k) AS DOUBLE)
                 / tot.total, 6) AS coverage
    FROM ks, tot
    ORDER BY k
    """,
)
def l4_vocab_coverage(spark, sf_dir):
    T = loader(sf_dir, spark)
    tc = (
        fan_out(T("documents"))
        .select(F.explode(X.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .localCheckpoint(eager=False)  # feeds the total AND each top-K slice
    )
    tot = tc.agg(F.sum("freq").cast("bigint").alias("total"))
    outs = None
    for k in _L4O_KS:
        topk = tc.orderBy(F.col("freq").desc(), F.col("t").asc()).limit(k)
        cov = topk.agg(F.sum("freq").cast("bigint").alias("covered")).select(
            F.lit(k).cast("bigint").alias("k"), "covered"
        )
        outs = cov if outs is None else outs.unionByName(cov)
    return (
        outs.crossJoin(F.broadcast(tot))
        .select(
            "k",
            "covered",
            "total",
            F.round(F.col("covered").cast("double") / F.col("total"), 6).alias("coverage"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# L6q — corpus source diversity (new round 4): per language, the
# Shannon entropy of the source distribution and the effective source
# count exp(H) — the mixture-health number a training-data curator
# watches (collapsing diversity = one source dominating the mix).
# Determinism: each −p·ln p term is quantized to 2⁻⁴⁰ units and summed
# as exact BIGINTs (the G3/fixedpoint pattern), so the entropy total is
# immune to float summation order; both engines rebuild the same
# double.
# --------------------------------------------------------------------------
_DIV_SCALE = 1099511627776.0  # 2^40


@register(
    "l6_source_diversity",
    oracle=f"""
    WITH c AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source),
    t AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY lang),
    q AS (
      SELECT c.lang,
             CAST(round(-(CAST(c.n AS DOUBLE) / t.total)
                        * ln(CAST(c.n AS DOUBLE) / t.total)
                        * {_DIV_SCALE}) AS BIGINT) AS units
      FROM c JOIN t ON c.lang = t.lang)
    SELECT q.lang,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           round(CAST(SUM(q.units) AS DOUBLE) / {_DIV_SCALE}, 6) + 0.0 AS entropy,
           round(exp(CAST(SUM(q.units) AS DOUBLE) / {_DIV_SCALE}), 6) AS effective_sources
    FROM q GROUP BY q.lang
    ORDER BY q.lang
    """,
)
def l6_source_diversity(spark, sf_dir):
    T = loader(sf_dir, spark)
    c = T("documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    q = c.join(t, "lang").select(
        "lang", F.round(-p * F.log(p) * F.lit(_DIV_SCALE)).cast("bigint").alias("units")
    )
    h = F.sum("units").cast("double") / F.lit(_DIV_SCALE)
    return (
        q.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            (F.round(h, 6) + F.lit(0.0)).alias("entropy"),
            F.round(F.exp(h), 6).alias("effective_sources"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# L6r — per-source length profile (new round 4): the dataset-card
# length panel — document count, token-count percentiles (p10/p50/p90),
# mean tokens, and total tokens per source. Token counts are exact
# BIGINTs from one tokenize pass; percentile interpolation parity is
# driver-proven (a9); mean via exact integer sum / count. One shuffle
# on the source key.
# --------------------------------------------------------------------------
@register(
    "l6_length_profile",
    oracle="""
    WITH t AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS mean_tokens,
           round(quantile_cont(n_tokens, 0.1), 6) AS p10,
           round(quantile_cont(n_tokens, 0.5), 6) AS p50,
           round(quantile_cont(n_tokens, 0.9), 6) AS p90
    FROM t GROUP BY source
    ORDER BY source
    """,
)
def l6_length_profile(spark, sf_dir):
    T = loader(sf_dir, spark)
    # Grouped `percentile` is safe HERE because n_tokens is an integer
    # with a domain-bounded distinct set (~max doc length): the
    # aggregate's value->count buffer is O(domain), not O(rows). For a
    # continuous measure use operators/quantiles.grouped_exact_quantiles
    # instead (see x28) — SCALE.md §7d has the classification.
    t = T("documents").select("source", X.token_count("text").cast("bigint").alias("n_tokens"))
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 6).alias("mean_tokens"),
            F.round(F.expr("percentile(n_tokens, 0.1)"), 6).alias("p10"),
            F.round(F.expr("percentile(n_tokens, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(n_tokens, 0.9)"), 6).alias("p90"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# L5d — audio feature extraction (new round 4): REAL PCM16 decode
# (operators/multimodal.py: raw 16-bit samples, numpy-only — no format
# stub) over a synthesized deterministic audio column, yielding
# RMS / peak / zero-crossing-rate / duration per clip. Same plumbing
# contract as the image path: one mapInPandas pass, Arrow-batched,
# payloads never shuffle. PY-class (sample-domain DSP is not
# SQL-expressible): rows-only driver check + golden tests pin the
# features against closed-form sine ground truth.
# --------------------------------------------------------------------------
@register("l5_audio_features", check="PY: PCM16 decode goldens vs pure-Python reference (tests/test_multimodal.py)")
def l5_audio_features(spark, sf_dir):
    from kompactor_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_audio,
    )

    T = loader(sf_dir, spark)
    base = T("documents").select(F.col("doc_id")).where(F.col("doc_id") % 4 == 0)
    media = synthesize_audio(base, "doc_id")
    return (
        extract_audio_features(media)
        .select(
            "media_id",
            F.round("rms", 6).alias("rms"),
            F.round("peak", 6).alias("peak"),
            F.round("zcr_hz", 2).alias("zcr_hz"),
            F.round("duration_s", 6).alias("duration_s"),
        )
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# L4p — BPE merge training (new round 4): learn the corpus's first 8
# byte-pair merges (operators/text.py::train_bpe_merges — distributed
# exact pair counts over the word-TYPE table, vectorized merge kernel,
# deterministic lexicographic tie-break). The tokenizer-training step
# itself, not just application of a fixed vocab. PY-class: the
# iterative argmax loop is not single-statement SQL; golden test pins
# the learned merges against a pure-Python reference trainer.
# --------------------------------------------------------------------------
@register("l4_bpe_train", check="PY: merge-table golden vs pure-Python BPE trainer (tests/)")
def l4_bpe_train(spark, sf_dir):
    from kompactor_spark.operators.text import train_bpe_merges

    T = loader(sf_dir, spark)
    merges, _ = train_bpe_merges(T("documents"), "text", n_merges=8)
    return spark.createDataFrame(
        [(m["rank"], m["left"], m["right"], m["pair_count"]) for m in merges],
        "rank bigint, left string, right string, pair_count bigint",
    ).orderBy("rank")


# --------------------------------------------------------------------------
# L6s — split n-gram novelty (new round 4): the share of the val
# split's distinct 3-grams that never occur in the train split — the
# generalization-gap / split-leakage diagnostic (novelty ≈ 0 means the
# val set is memorizable from train; high novelty means distribution
# shift). Splits are the deterministic md5 assignment of
# l6_train_val_split; the gram comparison is one distinct-gram pass
# per side and a LEFT ANTI join on the gram key — never a cross
# product. All counts exact.
# --------------------------------------------------------------------------
@register(
    "l6_ngram_novelty",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, text,
             CASE WHEN md5('split:' || CAST(doc_id AS VARCHAR)) < 'f8' THEN 'train'
                  ELSE 'val' END AS split
      FROM documents),
    tok AS (
      SELECT split, doc_id, string_split(text, ' ') AS ts FROM assigned),
    idx AS (
      SELECT split, ts,
             unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      FROM tok),
    grams AS (
      SELECT split, ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2] AS g
      FROM idx),
    train_g AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    val_g AS (SELECT DISTINCT g FROM grams WHERE split = 'val'),
    novel AS (
      SELECT g FROM val_g WHERE g NOT IN (SELECT g FROM train_g))
    SELECT CAST((SELECT COUNT(*) FROM val_g) AS BIGINT) AS n_val_grams,
           CAST((SELECT COUNT(*) FROM novel) AS BIGINT) AS n_novel,
           round(CAST((SELECT COUNT(*) FROM novel) AS DOUBLE)
                 / (SELECT COUNT(*) FROM val_g), 6) AS novelty
    """,
)
def l6_ngram_novelty(spark, sf_dir):
    T = loader(sf_dir, spark)
    h = F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
    assigned = T("documents").select(
        "text", F.when(h < "f8", "train").otherwise("val").alias("split")
    )
    # hoist the token array to a projected column: referencing
    # split(text, ' ') INSIDE the transform lambda re-tokenized the
    # whole doc per gram — O(len²) per document (round 10: this row was
    # 37 s at sf10 vs DuckDB's 4.3 s, which materializes ts once; with
    # the hoist the same plan is ~6 s)
    grams = assigned.select(
        "split", F.split("text", " ").alias("ts")
    ).select(
        "split",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 2, 0)),"
                " (t, i) -> concat_ws(' ', t, ts[i + 1], ts[i + 2]))"
            )
        ).alias("g"),
    )
    train_g = grams.where(F.col("split") == "train").select("g").distinct()
    val_g = (
        grams.where(F.col("split") == "val").select("g").distinct().localCheckpoint(eager=False)
    )  # feeds the census and the anti-join
    novel = val_g.join(train_g, "g", "left_anti")
    n_val = val_g.agg(F.count(F.lit(1)).cast("bigint").alias("n_val_grams"))
    n_novel = novel.agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    return n_val.crossJoin(n_novel).select(
        "n_val_grams",
        "n_novel",
        F.round(F.col("n_novel").cast("double") / F.col("n_val_grams"), 6).alias("novelty"),
    )


# --------------------------------------------------------------------------
# L7g — PCA power iteration (new round 4): the top principal
# eigenvalue of the embedding covariance and its explained-variance
# share — the "is this embedding space collapsing onto one axis"
# diagnostic that complements l7f's per-dimension view. Design for
# scale AND determinism:
#   * the covariance matrix is a CONSTANT-SIZE (d²) exact aggregate —
#     DECIMAL power sums over the flat (vec, dim, value) stream's
#     per-vector dim×dim self-join, one distributed pass over the data;
#   * the 3-step power iteration then runs on that d²-sized object
#     (driver-side here, the same constant-work choice as the IVF
#     centroid sidecar — at 100 TB the data pass is the cost, not the
#     64×64 iteration);
#   * every float summation inside the iteration is quantized to 2⁻⁴⁰
#     units and summed as exact integers (the G3 fixedpoint pattern,
#     half-away rounding on both engines), so the oracle's SQL
#     iteration reproduces the Python iteration bit-for-bit.
# --------------------------------------------------------------------------
_PCA_S = 1099511627776.0  # 2^40

_PCA_IT_SQL = """
    u{k} AS (
      SELECT c.i AS dim, SUM(CAST(round(c.cv * v{j}.v * 1099511627776.0) AS BIGINT)) AS units
      FROM c JOIN v{j} ON v{j}.dim = c.j GROUP BY c.i),
    n{k} AS (
      SELECT SUM(CAST(round((CAST(units AS DOUBLE) / 1099511627776.0)
                            * (CAST(units AS DOUBLE) / 1099511627776.0)
                            * 1099511627776.0) AS BIGINT)) AS n2
      FROM u{k}),
    v{k} AS (
      SELECT dim,
             (CAST(units AS DOUBLE) / 1099511627776.0)
               / sqrt(CAST(n2 AS DOUBLE) / 1099511627776.0) AS v
      FROM u{k} CROSS JOIN n{k})"""


@register(
    "l7g_pca_power",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(CAST(unnest(embedding) AS DOUBLE) AS DECIMAL(18,9)) AS xd
      FROM embeddings),
    nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM flat),
    s AS (SELECT dim, SUM(xd) AS s1 FROM flat GROUP BY dim),
    p AS (
      SELECT a.dim AS i, b.dim AS j, SUM(a.xd * b.xd) AS sij
      FROM flat a JOIN flat b USING (vec_id) GROUP BY 1, 2),
    c AS (
      SELECT p.i, p.j,
             (CAST(p.sij AS DOUBLE)
              - CAST(si.s1 AS DOUBLE) * CAST(sj.s1 AS DOUBLE) / nn.n) / (nn.n - 1) AS cv
      FROM p JOIN s si ON si.dim = p.i JOIN s sj ON sj.dim = p.j CROSS JOIN nn),
    v0 AS (SELECT DISTINCT dim, 0.125 AS v FROM flat),
    {_PCA_IT_SQL.format(k=1, j=0)},
    {_PCA_IT_SQL.format(k=2, j=1)},
    {_PCA_IT_SQL.format(k=3, j=2)},
    w AS (
      SELECT c.i AS dim, SUM(CAST(round(c.cv * v3.v * 1099511627776.0) AS BIGINT)) AS units
      FROM c JOIN v3 ON v3.dim = c.j GROUP BY c.i),
    lam AS (
      SELECT SUM(CAST(round(v3.v * (CAST(w.units AS DOUBLE) / 1099511627776.0)
                            * 1099511627776.0) AS BIGINT)) AS lu
      FROM v3 JOIN w ON w.dim = v3.dim),
    tr AS (
      SELECT SUM(CAST(round(cv * 1099511627776.0) AS BIGINT)) AS tu
      FROM c WHERE i = j)
    SELECT nn.n AS n_vecs,
           round(CAST(lam.lu AS DOUBLE) / 1099511627776.0, 6) AS top_eigenvalue,
           round((CAST(lam.lu AS DOUBLE) / 1099511627776.0)
                 / (CAST(tr.tu AS DOUBLE) / 1099511627776.0), 6) AS explained_share
    FROM nn, lam, tr
    """,
)
def l7g_pca_power(spark, sf_dir):
    import decimal as _dec
    import math

    T = loader(sf_dir, spark)
    emb = T("embeddings").where(F.size("embedding") > 0)
    n = emb.select("vec_id").distinct().count()
    # The d² power-sum matrix Σ x_i·x_j AND the per-dim sums Σ x_i are
    # computed by an EXACT integer-unit matmul kernel instead of the
    # flat⋈flat self-join + explode aggregates the oracle writes: the
    # join shuffled 2x 12.8M flat rows and emitted 819M decimal
    # products through the aggregate (measured 705 s at sf10's 200k
    # vectors; this path runs ~4 s). Exactness chain: the inputs are
    # float32-origin, so x·10^9 is exact in float64 (≤ 45 significand
    # bits) and half-away rounding reproduces Spark's double →
    # decimal(18,9) HALF_UP cast bit-for-bit; the unit vectors are
    # limb-split (9+12+12 bits) so every limb-pair matmul is an exact
    # integer carried in float64 BLAS; the driver reassembles the
    # arbitrary-precision integer sums at scale 10^-18 (products) and
    # 10^-9 (dim sums) — the SAME exact rationals the decimal SUMs
    # produce, so every float conversion below is bit-identical to the
    # decimal plan's. One scan, no shuffle, d²-per-partition state.
    def _cov_partials(batches):
        # 3-limb split (9+12+12 bits: |units| ≤ ~8e9 < 2^33, so
        # hi < 2^9, m/s < 2^12): every limb-pair product sum stays far
        # under 2^53 even at 537M rows per partition, so all nine
        # matmuls run as EXACT float64 BLAS — the integers they hold
        # are exact, just carried in doubles for speed.
        import numpy as np
        import pandas as pd

        acc = None
        vsum = None
        d = 0
        for b in batches:
            if not len(b):
                continue
            xs = np.stack(b["embedding"].to_numpy()).astype(np.float64) * 1e9
            u = np.where(xs >= 0, np.floor(xs + 0.5), np.ceil(xs - 0.5)).astype(np.int64)
            if acc is None:
                d = u.shape[1]
                acc = [np.zeros((d, d)) for _ in range(5)]
                vsum = [np.zeros(d) for _ in range(3)]
            hi = (u >> 24).astype(np.float64)  # arithmetic shift: floor
            r = u & ((1 << 24) - 1)  # non-negative remainder
            m = (r >> 12).astype(np.float64)
            s = (r & ((1 << 12) - 1)).astype(np.float64)
            acc[0] += s.T @ s
            acc[1] += m.T @ s + s.T @ m
            acc[2] += hi.T @ s + s.T @ hi + m.T @ m
            acc[3] += hi.T @ m + m.T @ hi
            acc[4] += hi.T @ hi
            vsum[0] += s.sum(axis=0)
            vsum[1] += m.sum(axis=0)
            vsum[2] += hi.sum(axis=0)
        if acc is None:
            return
        yield pd.DataFrame(
            {
                "d": [d],
                **{f"l{k}": [acc[k].astype(np.int64).ravel().tolist()] for k in range(5)},
                **{f"v{k}": [vsum[k].astype(np.int64).tolist()] for k in range(3)},
            }
        )

    from kompactor_spark.tables import fan_out

    partials = (
        fan_out(emb.select("embedding"))
        .mapInPandas(
            _cov_partials,
            "d int, l0 array<long>, l1 array<long>, l2 array<long>, "
            "l3 array<long>, l4 array<long>, "
            "v0 array<long>, v1 array<long>, v2 array<long>",
        )
        .collect()  # one row per non-empty partition — model state
    )
    d = partials[0]["d"]
    import decimal as _dec0

    sij_units = [[0] * d for _ in range(d)]
    s1_units = [0] * d
    for row in partials:
        limbs = [row[f"l{k}"] for k in range(5)]
        vl = [row[f"v{k}"] for k in range(3)]
        for i in range(d):
            s1_units[i] += (int(vl[2][i]) << 24) + (int(vl[1][i]) << 12) + int(vl[0][i])
            base = i * d
            tgt = sij_units[i]
            for j in range(d):
                k = base + j
                tgt[j] += (
                    (int(limbs[4][k]) << 48)
                    + (int(limbs[3][k]) << 36)
                    + (int(limbs[2][k]) << 24)
                    + (int(limbs[1][k]) << 12)
                    + int(limbs[0][k])
                )
    s1 = {i + 1: _dec0.Decimal(s1_units[i]).scaleb(-9) for i in range(d)}
    C = {
        (i + 1, j + 1): (
            float(_dec0.Decimal(sij_units[i][j]).scaleb(-18))
            - float(s1[i + 1]) * float(s1[j + 1]) / n
        )
        / (n - 1)
        for i in range(d)
        for j in range(d)
    }
    dims = sorted({i for i, _ in C})
    S = _PCA_S

    def q(x: float) -> int:
        # round half away from zero at 2^-40 — DuckDB round() semantics
        return int(
            _dec.Decimal(x * S).quantize(_dec.Decimal(1), rounding=_dec.ROUND_HALF_UP)
        )

    v = {d: 0.125 for d in dims}
    for _ in range(3):
        units = {i: sum(q(C[(i, j)] * v[j]) for j in dims) for i in dims}
        u = {i: units[i] / S for i in dims}
        n2 = sum(q(u[i] * u[i]) for i in dims)
        norm = math.sqrt(n2 / S)
        v = {i: u[i] / norm for i in dims}
    w_units = {i: sum(q(C[(i, j)] * v[j]) for j in dims) for i in dims}
    lam_units = sum(q(v[i] * (w_units[i] / S)) for i in dims)
    tr_units = sum(q(C[(d, d)]) for d in dims)
    lam = lam_units / S
    tr = tr_units / S

    def r6(x: float) -> float:
        # half-away 6-dp rounding (DuckDB round() semantics, not
        # Python's banker's round)
        return float(
            _dec.Decimal(x).quantize(_dec.Decimal("0.000001"), rounding=_dec.ROUND_HALF_UP)
        )

    return spark.createDataFrame(
        [(n, r6(lam), r6(lam / tr))],
        "n_vecs bigint, top_eigenvalue double, explained_share double",
    )
