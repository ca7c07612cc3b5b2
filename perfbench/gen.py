"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy + pyarrow and writes the InfluxDB-3
layout directly (``<host>/dbs/db-N/table-N/<date>/<HH-00>/<file>`` plus
``<host>/snapshots/0001.info.json``), so the program under test receives
only files on disk. The same seed gives byte-identical files: every
random stream is keyed by ``(seed, ...)`` and pyarrow writes Parquet
deterministically.

Each layout function also returns the generated rows (``Truth``) so the
benchmark can compute expected query results without the program.
"""

from __future__ import annotations

import calendar
import datetime
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
NS_PER_HOUR = 3600 * NS
NS_PER_DAY = 24 * NS_PER_HOUR
HOST = "host-0"
DAY0 = "2025-03-01"
TAGS = [f"sensor-{i:02d}" for i in range(16)]
LOCS = ["loc-a", "loc-b", "loc-c"]
STRS = [f"v{i}" for i in range(64)]

SCHEMA = pa.schema(
    [
        ("time", pa.int64()),
        ("tag1", pa.string()),
        ("tag2", pa.string()),
        ("f_int", pa.int64()),
        ("f_dbl", pa.float64()),
        ("f_str", pa.string()),
    ]
)


def day_start_ns(day: int) -> int:
    d = datetime.date.fromisoformat(DAY0) + datetime.timedelta(days=day)
    return calendar.timegm(d.timetuple()) * NS


def day_str(day: int) -> str:
    return (datetime.date.fromisoformat(DAY0) + datetime.timedelta(days=day)).isoformat()


def _dict_col(rng: np.random.Generator, vocab: list[str], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(vocab), n, dtype=np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(vocab)).cast(pa.string())


def lake_rows(rng: np.random.Generator, n: int, t_lo: int, t_hi: int, sort: bool = True) -> pa.Table:
    """``n`` rows with ``time`` uniform in [t_lo, t_hi)."""
    times = rng.integers(t_lo, t_hi, n, dtype=np.int64)
    if sort:
        times = np.sort(times)
    return pa.table(
        {
            "time": times,
            "tag1": _dict_col(rng, TAGS, n),
            "tag2": _dict_col(rng, LOCS, n),
            "f_int": rng.integers(0, 1000, n, dtype=np.int64),
            "f_dbl": rng.standard_normal(n),
            "f_str": _dict_col(rng, STRS, n),
        },
        schema=SCHEMA,
    )


@dataclass
class Truth:
    """The generated rows of one (db, table), as numpy columns."""

    time: list[np.ndarray] = field(default_factory=list)
    tag1: list[np.ndarray] = field(default_factory=list)
    f_int: list[np.ndarray] = field(default_factory=list)

    def add(self, t: pa.Table) -> None:
        self.time.append(t.column("time").to_numpy())
        self.tag1.append(np.asarray(t.column("tag1").to_pylist(), dtype=object))
        self.f_int.append(t.column("f_int").to_numpy())

    def frozen(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        return np.concatenate(self.time), np.concatenate(self.tag1), np.concatenate(self.f_int)


@dataclass
class Lake:
    """A generated data dir: ``root`` holds ``<host>/{dbs,snapshots}``."""

    root: str
    files: int = 0
    bytes: int = 0
    rows: dict[tuple[int, int], int] = field(default_factory=dict)
    truth: dict[tuple[int, int], Truth] = field(default_factory=dict)
    _entries: list[tuple[int, int, dict]] = field(default_factory=list)

    def add(self, db: int, table: int, day: int, hour: int, name: str, t: pa.Table, compression: str) -> None:
        rel = f"{HOST}/dbs/db-{db}/table-{table}/{day_str(day)}/{hour:02d}-00/{name}"
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(t, path, compression=compression)
        times = t.column("time").to_numpy()
        size = os.path.getsize(path)
        self._entries.append(
            (
                db,
                table,
                {
                    "id": len(self._entries) + 1,
                    "path": rel,
                    "size_bytes": size,
                    "row_count": t.num_rows,
                    "chunk_time": int(times.min()),
                    "min_time": int(times.min()),
                    "max_time": int(times.max()),
                },
            )
        )
        self.files += 1
        self.bytes += size
        key = (db, table)
        self.rows[key] = self.rows.get(key, 0) + t.num_rows
        self.truth.setdefault(key, Truth()).add(t)

    def write_snapshot(self) -> None:
        dbs: dict[int, dict[int, list[dict]]] = {}
        for db, table, info in self._entries:
            dbs.setdefault(db, {}).setdefault(table, []).append(info)
        infos = [info for _, _, info in self._entries]
        meta = {
            "writer_id": HOST,
            "parquet_size_bytes": sum(i["size_bytes"] for i in infos),
            "row_count": sum(i["row_count"] for i in infos),
            "min_time": min(i["min_time"] for i in infos),
            "max_time": max(i["max_time"] for i in infos),
            "databases": [
                [db, {"tables": [[t, files] for t, files in sorted(tables.items())]}]
                for db, tables in sorted(dbs.items())
            ],
        }
        snap_dir = os.path.join(self.root, HOST, "snapshots")
        os.makedirs(snap_dir, exist_ok=True)
        with open(os.path.join(snap_dir, "0001.info.json"), "w", encoding="utf-8") as fh:
            json.dump(meta, fh, indent=2)
        os.makedirs(os.path.join(self.root, HOST, "dbs"), exist_ok=True)


def hour_compacted_day(lake: Lake, seed: int, db: int, table: int, day: int, rows_per_hour: int) -> None:
    """24 time-sorted zstd ``c_<first>_<last>_h<H>`` files for one day,
    the layout hour compaction leaves behind."""
    for h in range(24):
        t_lo = day_start_ns(day) + h * NS_PER_HOUR
        rng = np.random.default_rng([seed, 2, db, table, day, h])
        t = lake_rows(rng, rows_per_hour, t_lo, t_lo + NS_PER_HOUR)
        first = (day * 24 + h) * 6 + 1
        lake.add(db, table, day, h, f"c_{first:010d}_{first + 5:010d}_h{h}.parquet", t, "zstd")


@dataclass
class Batches:
    paths: list[str]
    truth: Truth


def ingest_base(root: str, seed: int, rows_per_hour: int) -> Lake:
    """One closed, hour-compacted day in db-0/table-0: what an ingest
    stream has already written and compacted before the timed region."""
    lake = Lake(root)
    hour_compacted_day(lake, seed, 0, 0, 0, rows_per_hour)
    lake.write_snapshot()
    return lake


def micro_batches(root: str, seed: int, n: int, rows: int, minutes: int) -> Batches:
    """``n`` unsorted micro-batches, each covering the next ``minutes`` of
    event time on day 1 (the day after ``ingest_base``)."""
    os.makedirs(root, exist_ok=True)
    out = Batches([], Truth())
    span = minutes * 60 * NS
    for k in range(n):
        t_lo = day_start_ns(1) + k * span
        t = lake_rows(np.random.default_rng([seed, 3, k]), rows, t_lo, t_lo + span, sort=False)
        path = os.path.join(root, f"batch_{k:04d}.parquet")
        pq.write_table(t, path)
        out.paths.append(path)
        out.truth.add(t)
    return out


# -- relational tables for the operator mix ------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window data column join small customer query order group filter stream big"
).split()
US = 1_000_000
EPOCH_1995_US = calendar.timegm(datetime.date(1995, 1, 1).timetuple()) * US
EPOCH_2024_US = calendar.timegm(datetime.date(2024, 1, 1).timetuple()) * US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Doubles with exactly two decimals (fixed-point values)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days_us(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    return pa.array(EPOCH_1995_US + rng.integers(0, days, n) * 86_400 * US, type=pa.timestamp("us"))


def relational(root: str, seed: int, scale: int) -> dict[str, int]:
    """customer/orders/lineitem/events/documents Parquet files under
    ``root`` with the engine's pinned schemas; ``scale`` multiplies the
    row counts, and ``scale=100`` gives sf0.1's. Returns rows per table."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    n_cust, n_ord, n_li = 150 * scale, 1500 * scale, 6000 * scale
    n_ev, n_users, n_doc = 1000 * scale, 40 + 10 * scale, 50 * scale
    tables = {
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _dict_col(rng, SEGMENTS, n_cust),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _dict_col(rng, STATUSES, n_ord),
                "o_totalprice": _money(rng, 1000, 500000, n_ord),
                "o_orderdate": _days_us(rng, n_ord, 2400),
                "o_orderpriority": _dict_col(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, 200 * scale, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, 10 * scale, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) % 7 + 1, pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 100000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": _dict_col(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _dict_col(rng, ["F", "O"], n_li),
                "l_shipdate": _days_us(rng, n_li, 2500),
            }
        ),
    }
    # (l_orderkey, l_linenumber) is the table's unique key
    li = tables["lineitem"]
    order = np.argsort(li.column("l_orderkey").to_numpy(), kind="stable")
    li = li.take(pa.array(order))
    keys = li.column("l_orderkey").to_numpy()
    starts = np.r_[0, np.flatnonzero(np.diff(keys)) + 1]
    linenumber = np.arange(n_li) - np.repeat(starts, np.diff(np.r_[starts, n_li])) + 1
    tables["lineitem"] = li.set_column(3, "l_linenumber", pa.array(linenumber, pa.int32()))

    ev_us = np.sort(EPOCH_2024_US + rng.integers(0, 30 * 86_400 * US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _dict_col(rng, EVENT_TYPES, n_ev),
            "value": _money(rng, 0.01, 500, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.1:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _dict_col(rng, LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
