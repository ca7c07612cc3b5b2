"""Synthetic InfluxDB-3-layout fixtures for compaction tests
(FIXTURES.md §2). Deterministic: seeded data, fixed WAL sequences."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOST = "host-a"
NS = 1_000_000_000
BASE_NS = 1_737_900_000 * NS  # 2025-01-26T14:40Z-ish


def data_schema() -> pa.schema:
    return pa.schema(
        [
            ("time", pa.int64()),
            ("tag1", pa.string()),
            ("tag2", pa.string()),
            ("f_int", pa.int64()),
            ("f_dbl", pa.float64()),
            ("f_str", pa.string()),
        ]
    )


def make_rows(n: int, t0_ns: int, span_ns: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    times = np.sort(rng.integers(t0_ns, t0_ns + span_ns, size=n, dtype=np.int64))
    return pa.table(
        {
            "time": times,
            "tag1": [f"sensor-{i % 10}" for i in rng.integers(0, 10, n)],
            "tag2": [f"loc-{i % 3}" for i in rng.integers(0, 3, n)],
            "f_int": rng.integers(0, 1000, n, dtype=np.int64),
            "f_dbl": rng.standard_normal(n),
            "f_str": [f"v{i}" for i in rng.integers(0, 100, n)],
        },
        schema=data_schema(),
    )


class LayoutBuilder:
    """Builds <root>/<host>/{snapshots,dbs}/... + one .info.json."""

    def __init__(self, root: str, host: str = HOST):
        self.root = root
        self.host = host
        self.files: list[dict] = []  # file entries with (db, table) routing
        self._next_id = 1
        os.makedirs(os.path.join(root, host, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, host, "dbs"), exist_ok=True)

    def add_parquet(
        self,
        db: int,
        table: int,
        date: str,
        hour: int,
        filename: str,
        rows: pa.Table,
    ) -> dict:
        rel = f"{self.host}/dbs/db-{db}/table-{table}/{date}/{hour:02d}-00/{filename}"
        abs_path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(abs_path), exist_ok=True)
        pq.write_table(rows, abs_path)
        times = rows.column("time").to_pylist()
        entry = {
            "db": db,
            "table": table,
            "info": {
                "id": self._next_id,
                "path": rel,
                "size_bytes": os.path.getsize(abs_path),
                "row_count": rows.num_rows,
                "chunk_time": min(times) if times else 0,
                "min_time": min(times) if times else 0,
                "max_time": max(times) if times else 0,
            },
        }
        self._next_id += 1
        self.files.append(entry)
        return entry

    def add_metadata_entry(self, db: int, table: int, info: dict) -> None:
        """Register a catalog entry without writing a data file
        (missing_input scenario)."""
        info = dict(info, id=self._next_id)
        self._next_id += 1
        self.files.append({"db": db, "table": table, "info": info})

    def write_snapshot(self, name: str = "0001.info.json", entries: list[dict] | None = None) -> str:
        entries = self.files if entries is None else entries
        dbs: dict[int, dict[int, list[dict]]] = {}
        for e in entries:
            dbs.setdefault(e["db"], {}).setdefault(e["table"], []).append(e["info"])
        infos = [e["info"] for e in entries]
        meta = {
            "writer_id": self.host,
            "parquet_size_bytes": sum(i["size_bytes"] for i in infos),
            "row_count": sum(i["row_count"] for i in infos),
            "min_time": min((i["min_time"] for i in infos), default=0),
            "max_time": max((i["max_time"] for i in infos), default=0),
            "databases": [
                [db, {"tables": [[t, files] for t, files in sorted(tables.items())]}]
                for db, tables in sorted(dbs.items())
            ],
        }
        path = os.path.join(self.root, self.host, "snapshots", name)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(meta, fh, indent=2)
        return path


def basic_hour(root: str) -> LayoutBuilder:
    """3 interleaved WAL files in one hour (scenario 1)."""
    b = LayoutBuilder(root)
    hour_start = BASE_NS - BASE_NS % (3600 * NS)
    for i, wal in enumerate([1, 2, 3]):
        rows = make_rows(50, hour_start + i * 7 * NS, 3000 * NS, seed=100 + i)
        b.add_parquet(0, 3, "2025-01-26", 14, f"{wal:010d}.parquet", rows)
    b.write_snapshot()
    return b


def multi_hour(root: str) -> LayoutBuilder:
    """3 hours with {1,2,4} files (scenario 2)."""
    b = LayoutBuilder(root)
    wal = 1
    for hour, nfiles in [(10, 1), (11, 2), (12, 4)]:
        hstart = (BASE_NS // (3600 * NS) + hour) * 3600 * NS
        for i in range(nfiles):
            rows = make_rows(30, hstart + i * 11 * NS, 2000 * NS, seed=wal)
            b.add_parquet(0, 3, "2025-01-26", hour, f"{wal:010d}.parquet", rows)
            wal += 1
    b.write_snapshot()
    return b


def multi_table(root: str) -> LayoutBuilder:
    """Two dbs × two tables in the SAME hour — must not co-merge (B5)."""
    b = LayoutBuilder(root)
    hstart = (BASE_NS // (3600 * NS)) * 3600 * NS
    wal = 1
    for db, table in [(0, 3), (0, 4), (1, 7)]:
        for i in range(2):
            rows = make_rows(20, hstart + i * 13 * NS, 1500 * NS, seed=wal * 7)
            b.add_parquet(db, table, "2025-01-26", 14, f"{wal:010d}.parquet", rows)
            wal += 1
    b.write_snapshot()
    return b


def recompact(root: str) -> LayoutBuilder:
    """Existing c_ file + 2 new WALs in the same hour (scenario 4)."""
    b = LayoutBuilder(root)
    hstart = (BASE_NS // (3600 * NS)) * 3600 * NS
    rows_c = make_rows(80, hstart, 2500 * NS, seed=5)
    b.add_parquet(0, 3, "2025-01-26", 14, "c_0000000001_0000000003_h14.parquet", rows_c)
    for wal in (4, 5):
        rows = make_rows(25, hstart + wal * 17 * NS, 2000 * NS, seed=50 + wal)
        b.add_parquet(0, 3, "2025-01-26", 14, f"{wal:010d}.parquet", rows)
    b.write_snapshot()
    return b


def overlapping_snapshots(root: str) -> LayoutBuilder:
    """Two snapshots referencing some of the same files, plus an
    other-hour entry that must survive rewriting (B4)."""
    b = LayoutBuilder(root)
    hstart = (BASE_NS // (3600 * NS)) * 3600 * NS
    entries = []
    for wal in (1, 2, 3):
        rows = make_rows(30, hstart + wal * 19 * NS, 2200 * NS, seed=200 + wal)
        entries.append(b.add_parquet(0, 3, "2025-01-26", 14, f"{wal:010d}.parquet", rows))
    other = b.add_parquet(0, 3, "2025-01-26", 20, "0000000009.parquet", make_rows(15, hstart + 6 * 3600 * NS, 1000 * NS, seed=9))
    b.write_snapshot("0001.info.json", entries[:2] + [other])
    b.write_snapshot("0002.info.json", entries[1:] + [other])
    return b


def missing_input(root: str) -> LayoutBuilder:
    """Catalog references a file that doesn't exist (scenario 6)."""
    b = LayoutBuilder(root)
    hstart = (BASE_NS // (3600 * NS)) * 3600 * NS
    for wal in (1, 2):
        rows = make_rows(30, hstart + wal * 23 * NS, 2100 * NS, seed=300 + wal)
        b.add_parquet(0, 3, "2025-01-26", 14, f"{wal:010d}.parquet", rows)
    ghost = {
        "path": f"{b.host}/dbs/db-0/table-3/2025-01-26/14-00/0000000099.parquet",
        "size_bytes": 1234,
        "row_count": 10,
        "chunk_time": hstart,
        "min_time": hstart,
        "max_time": hstart + 100 * NS,
    }
    b.add_metadata_entry(0, 3, ghost)
    b.write_snapshot()
    return b


def ns_precision(root: str) -> LayoutBuilder:
    """min/max values adjacent at ns resolution — float64 would corrupt
    them (B3 regression, scenario 8)."""
    b = LayoutBuilder(root)
    t1 = 1_737_928_861_362_000_001
    t2 = 1_737_928_861_362_000_002
    hstart = t1 - t1 % (3600 * NS)
    tbl1 = pa.table(
        {"time": [t1], "tag1": ["s"], "tag2": ["l"], "f_int": [1], "f_dbl": [0.5], "f_str": ["a"]},
        schema=data_schema(),
    )
    tbl2 = pa.table(
        {"time": [t2], "tag1": ["s"], "tag2": ["l"], "f_int": [2], "f_dbl": [1.5], "f_str": ["b"]},
        schema=data_schema(),
    )
    hour = (t1 // (3600 * NS)) % 24
    date = "2025-01-26"
    b.add_parquet(0, 3, date, int(hour), "0000000001.parquet", tbl1)
    b.add_parquet(0, 3, date, int(hour), "0000000002.parquet", tbl2)
    b.write_snapshot()
    return b


def replayed_first_input(root: str) -> LayoutBuilder:
    """A c_ file and a replayed WAL file whose sequence is the c_ file's
    last: the hour's output name equals the c_ file's own name."""
    b = LayoutBuilder(root)
    hstart = (BASE_NS // (3600 * NS)) * 3600 * NS
    b.add_parquet(0, 3, "2025-01-26", 14, "c_0000000001_0000000003_h14.parquet", make_rows(80, hstart, 2500 * NS, seed=5))
    b.add_parquet(0, 3, "2025-01-26", 14, "0000000003.parquet", make_rows(25, hstart + 51 * NS, 2000 * NS, seed=53))
    b.write_snapshot()
    return b
