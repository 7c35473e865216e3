"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and writes plain files (parquet
tables, wal2json-shaped JSON lines). The same seed gives byte-identical
files; ``digest`` hashes them so each result records what it ran on.
The program under test only ever sees these files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# -- snapshot_multi_table ---------------------------------------------------

#: fact table plus dimension tables; every table carries the columns the
#: shared transformer chain touches (status, label, updated)
SNAPSHOT_TABLES = {
    "sales": 500_000,
    "customers": 20_000,
    "products": 5_000,
    "stores": 500,
    "channels": 16,
}
SNAPSHOT_SALT = "bench-salt"
SNAPSHOT_FILTER_STATUS = 8  # filter_rows keeps status < 8 (80% of rows)
SNAPSHOT_RENAMES = {"sales": "fact_sales", "customers": "dim_customers"}


def _labels(rng: np.random.Generator, prefix: str, n: int) -> pa.Array:
    nums = pa.array(rng.integers(0, 10_000_000, n, dtype=np.int64)).cast(pa.string())
    return pc.binary_join_element_wise(prefix, nums, "")


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(18_000, 20_000, n, dtype=np.int32)
    return pa.array(days, type=pa.int32()).cast(pa.date32())


def snapshot_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    out = {}
    for name, n in SNAPSHOT_TABLES.items():
        cols = {
            "id": pa.array(np.arange(n, dtype=np.int64) * 7 + 1),
            "status": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
            "label": _labels(rng, name[:2].upper(), n),
            "updated": _dates(rng, n),
        }
        if name == "sales":
            cols["customer_id"] = pa.array(rng.integers(0, 20_000, n, dtype=np.int64))
            cols["product_id"] = pa.array(rng.integers(0, 5_000, n, dtype=np.int64))
            cols["qty"] = pa.array(rng.integers(1, 50, n, dtype=np.int32))
            cols["amount_cents"] = pa.array(rng.integers(100, 1_000_000, n, dtype=np.int64))
        else:
            cols["name"] = _labels(rng, "n", n)
            cols["weight"] = pa.array(rng.integers(0, 1000, n, dtype=np.int64))
        out[name] = pa.table(cols)
    return out


def write_snapshot_inputs(seed: int, src_dir: str) -> list[str]:
    os.makedirs(src_dir, exist_ok=True)
    paths = []
    for name, table in snapshot_tables(seed).items():
        p = os.path.join(src_dir, f"{name}.parquet")
        pq.write_table(table, p, row_group_size=256 * 1024)
        paths.append(p)
    return paths


# -- cdc_hotkey_delta_read ----------------------------------------------------

CDC_SEED_KEYS = 20_000
CDC_WIDE_COLS = 30  # payload: this many double columns
CDC_DDL = "k long, " + ", ".join(f"d{i:02d} double" for i in range(CDC_WIDE_COLS))
#: Zipf-like skew: HOT_EVENT_SHARE of the events hit HOT_KEY_FRAC of the keys
HOT_KEY_FRAC = 0.02
HOT_EVENT_SHARE = 0.9
KEY_SPACE_FACTOR = 1.1  # inserts land on keys beyond the seed range
CDC_WARMUP_EVENTS = 500
CDC_BACKLOG_EVENTS = 12_000
#: the open-loop tail: events are created evenly at a fixed offered rate
#: and flushed as one WAL file at the end of every CDC_TICK_S; the rate
#: never adapts to the code under test
CDC_TAIL_RATE = 100.0  # events/s
CDC_TICK_S = 0.5
CDC_EVENTS_PER_TICK = int(round(CDC_TAIL_RATE * CDC_TICK_S))


def cdc_tail_ticks(tail_s: float) -> int:
    return int(round(tail_s / CDC_TICK_S))


def cdc_seed_table(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    n = CDC_SEED_KEYS
    vals = np.round(rng.random((CDC_WIDE_COLS, n)) * 1000, 3)
    cols = {"k": pa.array(np.arange(n, dtype=np.int64))}
    for i in range(CDC_WIDE_COLS):
        cols[f"d{i:02d}"] = pa.array(vals[i])
    return pa.table(cols)


def _cdc_keys(rng: np.random.Generator, n: int) -> np.ndarray:
    space = int(CDC_SEED_KEYS * KEY_SPACE_FACTOR)
    hot = max(1, int(space * HOT_KEY_FRAC))
    # the hot set is scattered over the key space so it spans buckets
    hot_keys = rng.permutation(space)[:hot].astype(np.int64)
    is_hot = rng.random(n) < HOT_EVENT_SHARE
    return np.where(
        is_hot,
        hot_keys[rng.integers(0, hot, n)],
        rng.integers(0, space, n, dtype=np.int64),
    )


def cdc_events(seed: int, tail_s: float) -> list[tuple[str, int, tuple]]:
    """Every event of one run, in LSN order: (action, key, payload).

    Actions follow the key's state so the stream is well-formed: an
    absent key is inserted, a present key is updated (80%) or deleted.
    Each event is its own transaction (LSN = position + 1)."""
    rng = np.random.default_rng([seed, 3])
    n = CDC_WARMUP_EVENTS + CDC_BACKLOG_EVENTS + cdc_tail_ticks(tail_s) * CDC_EVENTS_PER_TICK
    keys = _cdc_keys(rng, n)
    coin = rng.random(n)
    payload = np.round(rng.random((n, CDC_WIDE_COLS)) * 1000, 3).tolist()
    present = np.zeros(int(CDC_SEED_KEYS * KEY_SPACE_FACTOR) + 1, dtype=bool)
    present[:CDC_SEED_KEYS] = True
    out = []
    for i, k in enumerate(keys.tolist()):
        if not present[k]:
            action = "I"
            present[k] = True
        elif coin[i] < 0.8:
            action = "U"
        else:
            action = "D"
            present[k] = False
        out.append((action, k, tuple(payload[i])))
    return out


def wal_line(lsn: int, action: str, key: int, payload: tuple) -> str:
    """One wal2json (format-version 2 style) event. Built by hand: the
    values are ints and floats, whose JSON forms are their Python
    reprs."""
    if action == "D":
        return f'{{"action": "D", "lsn": {lsn}, "identity": [{{"name": "k", "value": {key}}}]}}'
    vals = [f'{{"name": "d{i:02d}", "value": {v!r}}}' for i, v in enumerate(payload)]
    cols = ", ".join([f'{{"name": "k", "value": {key}}}'] + vals)
    return f'{{"action": "{action}", "lsn": {lsn}, "columns": [{cols}]}}'


def write_cdc_inputs(seed: int, tail_s: float, base: str) -> tuple[list[str], list, list]:
    """Write the seed table (``seed.parquet``), the warm-up WAL file
    (``wal/000000.jsonl``) and every later WAL file, staged under
    ``stage/`` for the run to publish: the backlog first, then one file
    per tail tick.

    Returns the written paths, the events, and (first_lsn, last_lsn,
    path) of each staged file in publishing order."""
    events = cdc_events(seed, tail_s)
    lines = [wal_line(i + 1, *ev) for i, ev in enumerate(events)]
    w, b, per = CDC_WARMUP_EVENTS, CDC_BACKLOG_EVENTS, CDC_EVENTS_PER_TICK
    bounds = [(w, w + b)] + [(lo, lo + per) for lo in range(w + b, len(events), per)]
    for d in ("wal", "stage"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    seed_path = os.path.join(base, "seed.parquet")
    pq.write_table(cdc_seed_table(seed), seed_path)
    warm_path = os.path.join(base, "wal", "000000.jsonl")
    staged = []
    for path, lo, hi in [(warm_path, 0, w)] + [
        (os.path.join(base, "stage", f"{i + 1:06d}.tmp"), lo, hi) for i, (lo, hi) in enumerate(bounds)
    ]:
        with open(path, "w") as f:
            f.write("\n".join(lines[lo:hi]) + "\n")
        if path != warm_path:
            staged.append((lo + 1, hi, path))
    return [seed_path, warm_path] + [p for _, _, p in staged], events, staged


# -- digest -----------------------------------------------------------------

def digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()
