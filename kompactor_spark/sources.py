"""Source/sink utilities (SURVEY §2.B S1-S6).

The engine's physical-layout policy:
- Hive-style partitioned layouts (``col=value/``) so Catalyst partition
  pruning works at the scan (SURVEY §1.3: the reference's
  db/table/date/hour path scheme maps onto this).
- zstd Parquet everywhere (reference sink option, kompactor.ts:109).
- Sorted single-file writes (reference R3-R4) for one-off outputs; the
  compaction lake (ingest and compaction) writes through
  ``compaction.writer`` instead.
- Range-partitioned multi-file sorted writes for the 100 TB path
  (S6): ``repartitionByRange(n, key).sortWithinPartitions(key)`` gives
  globally range-sorted output without a single-node bottleneck.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame

from kompactor_spark.compaction.writer import ROW_GROUP_ROWS

SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def scratch_path(*parts: str) -> str:
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    return os.path.join(SCRATCH_ROOT, *parts)


def clear_scratch(*parts: str) -> str:
    p = scratch_path(*parts)
    shutil.rmtree(p, ignore_errors=True)
    return p


def write_sorted_single_file(df: DataFrame, path: str, sort_col: str = "time") -> None:
    """Reference R3-R4 semantics: one globally time-sorted zstd Parquet
    file with bounded row groups (kompactor.ts:107-111).

    coalesce(1) is intentional — an hour-group is bounded (~100 MiB,
    reference D1) so a single writer task is correct; larger outputs
    must use write_range_sorted instead.
    """
    (
        df.coalesce(1)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .option("parquet.page.row.count.limit", str(ROW_GROUP_ROWS))
        .parquet(path)
    )


def write_range_sorted(df: DataFrame, path: str, sort_col: str, num_files: int,
                       max_records_per_file: int | None = None) -> None:
    """S6: multi-file globally range-sorted write — the scale path.

    Each output file covers a disjoint range of sort_col and is sorted
    within; readers get both clustering and parallelism.
    """
    w = (
        df.repartitionByRange(num_files, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .option("compression", "zstd")
    )
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Bucketed + sorted table write (SURVEY §2.B S-layer scale path):
    two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle — the exchange is pre-paid at write time,
    which is the right trade for fact tables joined repeatedly on the
    same key (each query saves a full shuffle of the big side).
    """
    w = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("compression", "zstd")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


# --------------------------------------------------------------------------
# InfluxDB line protocol (the reference's upstream wire format — its
# Parquet lake is written by InfluxDB 3 from exactly these lines;
# README.md:74-106 shows the tags/fields/time model). Parse and render
# entirely with built-in JVM expressions — no Python in the row path,
# so a 100 TB text backlog parses at scan speed.
#
# Supported grammar (v2 — full escape handling):
#   measurement[,tag=value...] field=value[,field=value...] [ts_ns]
# Field literals: 1.5 (float), 42i (int), "str", true/false.
# Escapes: `\,` `\=` `\ ` `\\` in measurement / tag keys+values /
# field keys (InfluxDB wire escaping); `\"` and `\\` inside quoted
# string field values. Lines that still don't tokenize (unterminated
# quote, missing fields, tag without `=`) are surfaced in the
# `malformed` column rather than silently misparsed.
#
# All parsing is escape-PAIR aware: tokens are *extracted* with
# `(?:[^sep\\]|\\.)+`-style regexes rather than split on separators,
# so `a\\,b` (escaped backslash, then a real comma) tokenizes
# correctly — a naive `(?<!\\),` split cannot, and Java regex rejects
# the unbounded lookbehind that would fix it.
# --------------------------------------------------------------------------

# line = head SP fields [SP ts]; head admits escaped chars, fields
# segment admits spaces/commas inside double-quoted string values and
# escape pairs anywhere
_LP_LINE = r'^((?:[^ \\]|\\.)+) ((?:[^ "\\]|\\.|"(?:[^"\\]|\\.)*")+)( (\d+))?$'
# one comma-delimited token of the head (measurement or tag=value)
_LP_HEAD_TOK = r"(?:[^,\\]|\\.)+"
# one comma-delimited field token; quoted values swallow , = " and space
_LP_FIELD_TOK = r'(?:[^,"\\]|\\.|"(?:[^"\\]|\\.)*")+'
# key is everything before the first unescaped `=`
_LP_KEY = r"^((?:[^=\\]|\\.)+)="
_LP_VAL = r"^(?:[^=\\]|\\.)+=(.*)$"
# token contains a non-empty key followed by `=` (validity probe)
_LP_KV_OK = r"^(?:[^=\\]|\\.)+=."


def _lp_unescape(col):
    """Collapse every escape pair `\\x` → `x` (JVM regexp, one pass)."""
    from pyspark.sql import functions as F

    return F.regexp_replace(col, r"\\(.)", r"$1")


def parse_line_protocol(raw: DataFrame) -> DataFrame:
    """Parse a `value: string` DataFrame (batch OR streaming) of line
    protocol into (measurement string, tags map<str,str>, fields
    map<str,str>, time long-ns nullable, malformed string nullable).

    Measurement, tag keys/values, and field keys are unescaped in the
    output. Field values stay as raw strings in the map (`"42i"`,
    `"1.5"`, `"\"x\""`); use the lp_field_* helpers for typed access
    (lp_field_string unescapes `\\"` / `\\\\` inside quoted values).
    """
    from pyspark.sql import functions as F

    raw = raw.where(F.length(F.trim("value")) > 0)
    head = F.regexp_extract("value", _LP_LINE, 1)
    fieldstr = F.regexp_extract("value", _LP_LINE, 2)
    tsstr = F.regexp_extract("value", _LP_LINE, 4)
    head_toks = F.regexp_extract_all(head, F.lit(_LP_HEAD_TOK), 0)
    tag_toks = F.slice(head_toks, 2, F.greatest(F.size(head_toks) - 1, F.lit(0)))
    field_toks = F.regexp_extract_all(fieldstr, F.lit(_LP_FIELD_TOK), 0)

    def _kv(tok, unescape_value):
        val = F.regexp_extract(tok, _LP_VAL, 1)
        return F.struct(
            _lp_unescape(F.regexp_extract(tok, _LP_KEY, 1)).alias("key"),
            (_lp_unescape(val) if unescape_value else val).alias("value"),
        )

    well_formed = (
        (head != "")
        & (fieldstr != "")
        & (F.size(field_toks) > 0)
        & F.forall(field_toks, lambda t: t.rlike(_LP_KV_OK))
        & F.forall(tag_toks, lambda t: t.rlike(_LP_KV_OK))
    )
    return raw.select(
        F.when(well_formed, _lp_unescape(head_toks.getItem(0))).alias("measurement"),
        F.when(well_formed, F.map_from_entries(F.transform(tag_toks, lambda t: _kv(t, True))))
        .alias("tags"),
        F.when(well_formed, F.map_from_entries(F.transform(field_toks, lambda t: _kv(t, False))))
        .alias("fields"),
        F.when(well_formed & (tsstr != ""), tsstr.cast("long")).alias("time"),
        F.when(~well_formed, F.col("value")).alias("malformed"),
    )


def read_line_protocol(spark, path: str) -> DataFrame:
    """Text file(s) of line protocol → parsed DataFrame (batch)."""
    return parse_line_protocol(spark.read.text(path))


def lp_field_double(fields, name: str):
    """fields map → double field value (no 'i' suffix, no quotes)."""
    from pyspark.sql import functions as F

    return F.element_at(fields, name).cast("double")


def lp_field_long(fields, name: str):
    """fields map → integer field ('42i' → 42)."""
    from pyspark.sql import functions as F

    return F.regexp_replace(F.element_at(fields, name), "i$", "").cast("long")


def lp_field_string(fields, name: str):
    """fields map → string field: outer quotes stripped, then inner
    escape pairs (`\\"`, `\\\\`) collapsed."""
    from pyspark.sql import functions as F

    return _lp_unescape(F.regexp_replace(F.element_at(fields, name), '^"|"$', ""))


def lp_field_bool(fields, name: str):
    from pyspark.sql import functions as F

    return F.lower(F.element_at(fields, name)).isin("t", "true")


def to_line_protocol(
    df: DataFrame,
    measurement: str,
    tag_cols: list[str],
    field_cols: dict[str, str],
    time_col: str,
) -> DataFrame:
    """Render rows as line protocol (single `value` string column).

    ``field_cols`` maps column name → kind ('float' | 'int' | 'str' |
    'bool'); floats render with %.6f so the text round-trips to the
    same double on re-parse. Separators in measurement / tag values /
    names are escaped (`\\,` `\\=` `\\ ` `\\\\`), quotes+backslashes in
    str values too, so render→parse is the identity on arbitrary
    text. Write with df.write.text(path).
    """
    import re

    from pyspark.sql import functions as F

    def _esc_lit(s: str) -> str:
        return re.sub(r"([,= \\])", r"\\\1", s)

    def _esc_col(c):
        return F.regexp_replace(c.cast("string"), r"([,= \\])", r"\\$1")

    head = F.concat_ws(
        ",",
        F.lit(_esc_lit(measurement)),
        *[F.concat_ws("=", F.lit(_esc_lit(t)), _esc_col(F.col(t))) for t in tag_cols],
    )
    parts = []
    for name, kind in field_cols.items():
        if kind == "float":
            val = F.format_string("%.6f", F.col(name).cast("double"))
        elif kind == "int":
            val = F.concat(F.col(name).cast("long").cast("string"), F.lit("i"))
        elif kind == "str":
            quoted_body = F.regexp_replace(F.col(name).cast("string"), r'(["\\])', r"\\$1")
            val = F.concat(F.lit('"'), quoted_body, F.lit('"'))
        elif kind == "bool":
            val = F.when(F.col(name), F.lit("true")).otherwise(F.lit("false"))
        else:
            raise ValueError(f"unknown field kind {kind!r} for {name!r}")
        parts.append(F.concat_ws("=", F.lit(_esc_lit(name)), val))
    body = F.concat_ws(",", *parts)
    return df.select(
        F.concat_ws(" ", head, body, F.col(time_col).cast("long").cast("string")).alias("value")
    )


def read_parquet_tolerant(spark, *paths: str) -> DataFrame:
    """Parquet scan that skips corrupt files instead of failing the job.

    Operational reality at 100 TB: a petabyte-scale lake always has a
    few truncated/corrupt objects (killed writers, partial uploads —
    the reference's own crash gap B7 produces them). A nightly report
    over 100k files must not die at file 99,998; pair this with
    `compaction.fsck` which pinpoints the bad files for repair.
    """
    return spark.read.option("ignoreCorruptFiles", "true").parquet(*paths)
