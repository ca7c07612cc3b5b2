"""Testdata table access (TESTDATA.md / FIXTURES.md §1).

Schemas are pinned explicitly (SURVEY §1.3: "pin schemas explicitly in
engine API for 100 TB safety"). Tables are read through
``session.read_parquet``, which reuses the schema Spark inferred for
the same footer, so a warm load launches no job; ``SCHEMAS`` is the
contract the tests assert.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from kompactor_spark.session import ensure_conf, read_parquet

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Pinned schema contract (FIXTURES.md §1; SURVEY §1.3 "pin schemas
# explicitly for 100 TB safety"). events.ts is ns-parquet read as long
# via nanosAsLong. Asserted against every scale dir in tests.
SCHEMAS = {
    "region": "struct<r_regionkey:int,r_name:string>",
    "nation": "struct<n_nationkey:int,n_name:string,n_regionkey:int>",
    "customer": "struct<c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string>",
    "supplier": "struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>",
    "part": "struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double>",
    "orders": "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>",
    "lineitem": "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>",
    "events": "struct<event_id:bigint,ts:bigint,user_id:bigint,event_type:string,value:double,props:string>",
    "documents": "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>",
    "embeddings": "struct<vec_id:bigint,embedding:array<float>,label:int>",
}

# Unique keys per table — total-order tiebreaks for hash-checked queries
# (FIXTURES.md §1).
UNIQUE_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_conf(spark)  # UTC session tz + nanosAsLong (ns parquet builds)
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_time(df)
    elif name in ("orders", "lineitem"):
        df = _normalize_date_cols(df)
    return df


def _normalize_date_cols(df: DataFrame) -> DataFrame:
    """Pin o_orderdate/l_shipdate to timestamp_ntz. The driver's parquet
    has already changed physical time encodings once between rounds
    (events.ts nanos→micros); if these ship as DATE some round, widen
    them so every query keeps seeing the pinned schema."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType

    for c in ("o_orderdate", "l_shipdate"):
        if c in df.columns and isinstance(df.schema[c].dataType, DateType):
            df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
    return df


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Pin the engine's time policy: ``events.ts`` is int64 epoch-ns.

    The driver's parquet has shipped two physical encodings of the same
    logical instants: TIMESTAMP(NANOS) (read as long via nanosAsLong) and
    TIMESTAMP(MICROS) (read as timestamp_ntz). Normalize both to epoch-ns
    longs — identical to DuckDB's ``epoch_ns(ts)`` (naive = UTC; session
    tz is pinned UTC by ensure_conf, so the NTZ→instant cast is exact).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType, TimestampType

    dt = df.schema[col].dataType
    if isinstance(dt, (TimestampNTZType, TimestampType)):
        df = df.withColumn(
            col, (F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)).cast("long")
        )
    return df


def loader(sf_dir: str, spark: SparkSession):
    """Returns T(name) -> DataFrame bound to one scale dir."""

    def T(name: str) -> DataFrame:
        return load_table(spark, sf_dir, name)

    return T


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a compact scan across all cores before a compute-heavy
    narrow pipeline.

    Text/decode operators are CPU-bound per row, but their input is often
    a small compressed file (one Parquet row group = one input split = one
    task): zstd text compresses ~10:1, so a scan that decompresses into
    minutes of per-row compute can arrive as a single partition and run on
    one core while the rest idle — the classic decompression-amplification
    pathology.  If the scan already has >= one split per core (any real
    dataset at scale), this is a no-op and adds no shuffle; otherwise one
    round-robin exchange of the *compact* bytes buys full parallelism for
    everything downstream.  Inspecting the partition count triggers
    physical planning only — no job runs.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def metadata_row_count(df: DataFrame) -> int | None:
    """Exact row count from Parquet footers, when the plan permits it.

    A columnar engine answers an unfiltered ``count(*)`` from file
    metadata without touching data (DuckDB does; Spark's v1 Parquet
    path does not). This inspects the OPTIMIZED logical plan and
    returns the summed footer ``num_rows`` only when the plan is a
    pure column projection over a Parquet file relation — any Filter,
    Join, Generate, Union, Aggregate or non-Parquet source returns
    None and the caller falls back to a real ``count()``. Partition
    pruning is safe: pruning predicates sit in a Filter node above the
    relation in the optimized plan, which this rejects.

    Used by size-dispatch gates (quantiles' row confirm, dedup's
    small-input check) where the count decides a physical strategy:
    the confirm becomes a driver-side footer read (~ms) instead of a
    full-scan job, exactly when the input is a bare table scan.
    """
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        name = node.getClass().getSimpleName()
        while name == "Project":
            node = node.children().apply(0)
            name = node.getClass().getSimpleName()
        if name != "LogicalRelation":
            return None
        rel = node.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        if "Parquet" not in rel.fileFormat().getClass().getSimpleName():
            return None
        files = df.inputFiles()
    except Exception:
        return None
    # footer reads are DRIVER-side and sequential: on a cluster-scale
    # table (tens of thousands of files) they would cost more than the
    # distributed count() they replace — cap the file count and let
    # large tables keep the parallel count path
    if not files or len(files) > 1024:
        return None
    import re

    import pyarrow.parquet as pq

    total = 0
    for f in files:
        path = re.sub("^file:/+", "/", f)
        try:
            total += pq.ParquetFile(path).metadata.num_rows
        except Exception:
            return None
    return total
