"""Determinism of the benchmark's input generators: the same seed gives
byte-identical inputs, another seed gives other inputs, and the input
digest every workload records follows both.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import workloads  # noqa: E402

TAIL_S = 2.0

#: the generator call behind each workload's recorded input digest
WRITERS = {
    "snapshot_multi_table": gen.write_snapshot_inputs,
    "cdc_hotkey_delta_read": lambda seed, d: gen.write_cdc_inputs(seed, TAIL_S, d)[0],
}


@pytest.fixture(autouse=True)
def small_tables(monkeypatch):
    # same code path, fewer rows: keeps the test fast
    monkeypatch.setattr(gen, "SNAPSHOT_TABLES", {"sales": 20_000, "channels": 16})
    monkeypatch.setattr(gen, "CDC_SEED_KEYS", 2_000)


def test_every_workload_has_a_digest_test():
    assert set(WRITERS) == set(workloads.WORKLOADS)


@pytest.mark.parametrize("name", sorted(WRITERS))
def test_inputs_are_byte_identical_per_seed(name, tmp_path):
    a = WRITERS[name](7, str(tmp_path / "a"))
    b = WRITERS[name](7, str(tmp_path / "b"))
    assert a and len(a) == len(b)
    for pa_, pb in zip(a, b):
        assert os.path.basename(pa_) == os.path.basename(pb)
        with open(pa_, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
    assert len(gen.digest(a)) == 64
    assert gen.digest(a) == gen.digest(b)


@pytest.mark.parametrize("name", sorted(WRITERS))
def test_another_seed_gives_other_inputs(name, tmp_path):
    a = WRITERS[name](7, str(tmp_path / "a"))
    c = WRITERS[name](8, str(tmp_path / "c"))
    assert gen.digest(a) != gen.digest(c)


def test_cdc_files_cover_every_event_once(tmp_path):
    """The warm-up file, then the staged files in publishing order,
    hold LSNs 1..n densely; the tail has one file per tick."""
    paths, events, staged = gen.write_cdc_inputs(3, TAIL_S, str(tmp_path))
    lsns = []
    for p in paths[1:]:
        with open(p) as f:
            lsns += [int(line.split('"lsn": ')[1].split(",")[0]) for line in f]
    assert lsns == list(range(1, len(events) + 1))
    assert staged[0][:2] == (gen.CDC_WARMUP_EVENTS + 1,
                             gen.CDC_WARMUP_EVENTS + gen.CDC_BACKLOG_EVENTS)
    assert len(staged) - 1 == gen.cdc_tail_ticks(TAIL_S)


def test_cdc_events_are_well_formed():
    """Inserts only hit absent keys, updates and deletes only present
    ones."""
    present = set(range(gen.CDC_SEED_KEYS))
    for action, key, _ in gen.cdc_events(3, TAIL_S):
        if action == "I":
            assert key not in present
            present.add(key)
        else:
            assert key in present
            if action == "D":
                present.discard(key)
