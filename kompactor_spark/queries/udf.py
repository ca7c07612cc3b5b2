"""Python UDF surface (SURVEY §2.B V1-V3) — Arrow-batched pandas UDFs
only (never row-at-a-time Python UDFs: ~10-100× slower, SURVEY §4.2).

Cross-engine float discipline inside kernels: money goes through
integer cents so Python sums are exact and match the oracle's decimal
sums; group kernels sort rows internally so results don't depend on
partition-delivery order.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from kompactor_spark.queries import register
from kompactor_spark.tables import loader
from kompactor_spark.timeutil import NS_PER_HOUR


# --------------------------------------------------------------------------
# V1 — scalar pandas_udf (Series→Series, vectorized int64 math)
# --------------------------------------------------------------------------
@pandas_udf(T.LongType())
def _hour_bucket_ns(ts: pd.Series) -> pd.Series:
    return (ts // NS_PER_HOUR) * NS_PER_HOUR


@register(
    "v1_scalar_pandas_udf",
    oracle="""
    SELECT event_id,
           epoch_ns(time_bucket(INTERVAL '1 hour', ts)) AS hour_bucket_ns
    FROM events
    ORDER BY event_id
    """,
)
def v1_scalar_pandas_udf(spark, sf_dir):
    T_ = loader(sf_dir, spark)
    return (
        T_("events")
        .select("event_id", _hour_bucket_ns(F.col("ts")).alias("hour_bucket_ns"))
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# V2 — grouped-aggregate pandas_udf: quantity-weighted mean price.
# Kernel sums integer cents (exact, order-independent) → matches the
# oracle's decimal arithmetic bit-for-bit after the final division.
# --------------------------------------------------------------------------
@pandas_udf(T.DoubleType())
def _weighted_mean_price(price: pd.Series, qty: pd.Series) -> float:
    cents = (price * 100).round().astype("int64")
    qty_i = qty.round().astype("int64")
    num_cents = int((cents * qty_i).sum())
    den = int(qty_i.sum())
    if den == 0:
        return float("nan")
    return (num_cents / 100.0) / float(den)


@register(
    "v2_grouped_agg_pandas_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS weighted_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def v2_grouped_agg_pandas_udf(spark, sf_dir):
    T_ = loader(sf_dir, spark)
    # Collapse-first (round 9): a grouped-agg pandas UDF has no partial
    # aggregation — Spark funnels each ENTIRE group through one Arrow
    # task, and l_returnflag has three values (3 tasks x 20M rows at
    # sf10 = 34 s on 32 idle cores, O(group) memory at 100 TB). The
    # weighted mean is distributive over tied prices, so the map-side-
    # combined (flag, price, Σqty) collapse feeds the SAME exact UDF
    # kernel ~40x fewer rows; the UDF remains the final reduction —
    # the V2 contract — while the funnel is multiplicity-independent.
    collapsed = (
        T_("lineitem")
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(F.round(F.sum("l_quantity")).cast("long").alias("__q"))
    )
    return (
        collapsed.groupBy("l_returnflag")
        .agg(_weighted_mean_price(F.col("l_extendedprice"), F.col("__q")).alias("weighted_price"))
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# V3 — grouped map (applyInPandas, 1→N rows): per-segment z-score of
# account balance. Kernel sorts by key for delivery-order independence.
# --------------------------------------------------------------------------
_V3_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_mktsegment", T.StringType()),
        T.StructField("zscore", T.DoubleType()),
    ]
)


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("c_custkey").reset_index(drop=True)
    x = pdf["c_acctbal"].astype("float64")
    mu = x.mean()
    sd = x.std(ddof=1)
    z = (x - mu) / sd if sd > 0 else x * 0.0
    return pd.DataFrame(
        # + 0.0 folds numpy's signed zero (round(-1e-9) → -0.0) to +0.0,
        # matching the normalized oracle
        {"c_custkey": pdf["c_custkey"], "c_mktsegment": pdf["c_mktsegment"], "zscore": z.round(6) + 0.0}
    )


@register(
    "v3_apply_in_pandas",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
                 / stddev_samp(c_acctbal) OVER (PARTITION BY c_mktsegment), 6) + 0.0 AS zscore
    FROM customer
    ORDER BY c_custkey
    """,
)
def v3_apply_in_pandas(spark, sf_dir):
    T_ = loader(sf_dir, spark)
    return (
        T_("customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .groupBy("c_mktsegment")
        .applyInPandas(_zscore_group, schema=_V3_SCHEMA)
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# V3b — mapInPandas (arbitrary 1→N transform): explode docs into
# fixed-width token chunks (the LLM-pipeline "document chunker")
# --------------------------------------------------------------------------
_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_id", T.LongType()),
        T.StructField("chunk_text", T.StringType()),
        T.StructField("n_chunk_tokens", T.LongType()),
    ]
)


def _chunker(batches, chunk_tokens: int = 32):
    for pdf in batches:
        out = {"doc_id": [], "chunk_id": [], "chunk_text": [], "n_chunk_tokens": []}
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = text.split(" ")
            for ci in range(0, len(toks), chunk_tokens):
                chunk = toks[ci : ci + chunk_tokens]
                out["doc_id"].append(doc_id)
                out["chunk_id"].append(ci // chunk_tokens)
                out["chunk_text"].append(" ".join(chunk))
                out["n_chunk_tokens"].append(len(chunk))
        yield pd.DataFrame(out)


@register(
    "v3_map_in_pandas_chunker",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         c AS (SELECT doc_id, unnest(generate_series(0, (len(ts)-1)//32)) AS chunk_id, ts FROM t)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(list_slice(ts, chunk_id*32 + 1, chunk_id*32 + 32), ' ') AS chunk_text,
           CAST(len(list_slice(ts, chunk_id*32 + 1, chunk_id*32 + 32)) AS BIGINT) AS n_chunk_tokens
    FROM c
    ORDER BY doc_id, chunk_id
    """,
)
def v3_map_in_pandas_chunker(spark, sf_dir):
    T_ = loader(sf_dir, spark)
    return (
        T_("documents")
        .select("doc_id", "text")
        .mapInPandas(_chunker, schema=_CHUNK_SCHEMA)
        # Round 14 (optimization): hash barrier before the presentation
        # sort — orderBy's range sampling re-ran the Python chunker
        # kernel twice per job (scripts/r14_sortexec_ab2_out.json: sf1
        # 0.96 s -> 0.76 s; guide §7.2)
        .repartition("doc_id")
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# V4 — cogrouped applyInPandas: per-user as-of merge of two grouped
# streams with pandas.merge_asof — the cogroup API surface. Oracle =
# the same ASOF semantics in DuckDB SQL (results are deterministic, so
# this is H-checked even though it runs in Python).
# --------------------------------------------------------------------------
@register(
    "v4_cogroup_asof",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_ns(e.ts) AS err_ts, epoch_ns(s.ts) AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    ORDER BY e.event_id
    """,
)
def v4_cogroup_asof(spark, sf_dir):
    import pandas as pd

    T = loader(sf_dir, spark)
    ev = T("events")
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    signups = ev.where(F.col("event_type") == "signup").select("user_id", F.col("ts").alias("s_ts"))

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(columns=["event_id", "user_id", "err_ts", "signup_ts"])
        # Work in µs: ns epochs (~1.7e18) exceed float64's 2^53 integer
        # range, and merge_asof's NaN fill forces float64 — µs (~1.7e15)
        # stays exact (engine B3 discipline inside Python kernels too).
        left = left.assign(ts_us=left["ts"] // 1000).sort_values("ts_us")
        right = right.assign(s_us=right["s_ts"] // 1000).sort_values("s_us")
        m = pd.merge_asof(left, right[["s_us"]], left_on="ts_us", right_on="s_us", direction="backward")
        return pd.DataFrame(
            {
                "event_id": m["event_id"],
                "user_id": m["user_id"],
                "err_ts": m["ts_us"] * 1000,  # µs floor (oracle epoch_ns)
                "signup_ts": (m["s_us"].astype("Int64") * 1000),
            }
        )

    return (
        errors.groupBy("user_id")
        .cogroup(signups.groupBy("user_id"))
        .applyInPandas(merge, schema="event_id long, user_id long, err_ts long, signup_ts long")
        .orderBy("event_id")
    )
