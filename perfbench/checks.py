"""Independent references the workloads' outputs are checked against.

None of these go through the program: the snapshot reference is DuckDB
over the generated source, and the CDC reference is a last-writer-wins
fold of the generated WAL files.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

import gen

# -- snapshot --------------------------------------------------------------------


def _sql_path(p: str) -> str:
    return p.replace("'", "''")


def _row_digest(cols: list[str]) -> str:
    return f"count(*) AS n, sum(hash({', '.join(sorted(cols))}))::HUGEINT AS h"


def snapshot_expected(src_dir: str) -> dict[str, tuple]:
    """Per output table: (row count, order-independent checksum) of the
    transformer chain applied in SQL to the generated source."""
    con = duckdb.connect()
    out = {}
    for name in gen.SNAPSHOT_TABLES:
        path = _sql_path(os.path.join(src_dir, f"{name}.parquet"))
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{path}'").fetchall()]
        proj = []
        for c in cols:
            if c == "label":
                proj.append(f"sha256('{gen.SNAPSHOT_SALT}' || CAST(label AS VARCHAR)) AS label")
            elif c == "updated":
                proj.append("CAST(updated AS VARCHAR) AS updated")
            else:
                proj.append(c)
        row = con.execute(
            f"SELECT {_row_digest(cols)} FROM (SELECT {', '.join(proj)} FROM '{path}' "
            f"WHERE status < {gen.SNAPSHOT_FILTER_STATUS})"
        ).fetchone()
        out[gen.SNAPSHOT_RENAMES.get(name, name)] = (int(row[0]), int(row[1] or 0))
    con.close()
    return out


def snapshot_mismatches(out_dir: str, expected: dict[str, tuple]) -> list[str]:
    con = duckdb.connect()
    errs = []
    for table, want in expected.items():
        path = os.path.join(out_dir, table)
        try:
            glob_ = _sql_path(os.path.join(path, "*.parquet"))
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{glob_}'").fetchall()]
            row = con.execute(f"SELECT {_row_digest(cols)} FROM '{glob_}'").fetchone()
            got = (int(row[0]), int(row[1] or 0))
        except duckdb.Error as e:
            errs.append(f"{table}: unreadable output ({e})")
            continue
        if got != want:
            errs.append(f"{table}: got rows/checksum {got}, want {want}")
    con.close()
    return errs


# -- CDC ---------------------------------------------------------------------------


def _wal_events(wal_dir: str) -> list[tuple[int, dict]]:
    events = []
    for name in os.listdir(wal_dir):
        if not name.endswith((".json", ".jsonl")):
            continue
        with open(os.path.join(wal_dir, name)) as f:
            for line in f:
                if line.strip():
                    ev = json.loads(line)
                    events.append((int(ev["lsn"]), ev))
    events.sort(key=lambda e: e[0])
    return events


def cdc_expected(seed: pa.Table, wal_dir: str) -> pa.Table:
    """Last-writer-wins fold of every event in the WAL files over the
    seed table (deletes remove the key), sorted by key."""
    cols = [c for c in seed.column_names if c != "k"]
    last: dict[int, tuple | None] = {}
    for _, ev in _wal_events(wal_dir):
        if ev["action"] == "D":
            last[ev["identity"][0]["value"]] = None
            continue
        vals = {c["name"]: c["value"] for c in ev["columns"]}
        last[vals["k"]] = tuple(vals.get(c) for c in cols)
    touched = pa.array(list(last), type=pa.int64())
    kept = seed.filter(pc.invert(pc.is_in(seed.column("k"), value_set=touched)))
    live = [(k, row) for k, row in last.items() if row is not None]
    changed = pa.table(
        {"k": pa.array([k for k, _ in live], type=pa.int64())}
        | {c: pa.array([row[i] for _, row in live], type=seed.schema.field(c).type)
           for i, c in enumerate(cols)}
    )
    return pa.concat_tables([kept, changed]).sort_by("k")


def cdc_mismatches(got: pa.Table, want: pa.Table) -> list[str]:
    got = got.select(want.column_names).cast(want.schema).sort_by("k")
    if got.equals(want):
        return []
    gk, wk = set(got.column("k").to_pylist()), set(want.column("k").to_pylist())
    errs = []
    if wk - gk:
        errs.append(f"{len(wk - gk)} keys missing from the target, e.g. {sorted(wk - gk)[:3]}")
    if gk - wk:
        errs.append(f"{len(gk - wk)} keys in the target that the fold deleted, e.g. {sorted(gk - wk)[:3]}")
    g = {r["k"]: r for r in got.to_pylist()}
    wrong = [r["k"] for r in want.to_pylist() if r["k"] in g and g[r["k"]] != r]
    if wrong:
        errs.append(f"{len(wrong)} keys differ, e.g. key {wrong[0]}")
    return errs or ["target differs from the fold"]
