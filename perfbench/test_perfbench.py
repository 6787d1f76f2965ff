"""The benchmark's own checks: generators, oracle and the job counter.

Run from the repository root with ``python3 -m pytest perfbench -q``.
The job-counter test starts Spark (about a minute on 4 cores); do not run
it beside a measuring benchmark run.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

from gen import (BackfillLake, TailTables, WireMerge,  # noqa: E402
                 compare)


def _small(cls, seed):
    if cls is BackfillLake:
        return BackfillLake(seed, rows=3_000, batch_events=1_000)
    if cls is WireMerge:
        return WireMerge(seed, rows=400, batch_events=100, alter_at=1)
    return TailTables(seed, 8, batch_events=60, base_rows=5)


GENERATORS = (BackfillLake, TailTables, WireMerge)


@pytest.mark.parametrize("cls", GENERATORS)
def test_same_seed_same_bytes(cls):
    a, b = _small(cls, 7), _small(cls, 7)
    for _ in range(5):
        ba, bb = a.batch(), b.batch()
        assert (ba.name, ba.data, ba.events) == (bb.name, bb.data, bb.events)
    assert a.expected() == b.expected()


@pytest.mark.parametrize("cls", GENERATORS)
def test_other_seed_other_keys(cls):
    a, b = _small(cls, 7), _small(cls, 8)
    batches_a = [a.batch() for _ in range(5)]
    batches_b = [b.batch() for _ in range(5)]
    assert [x.data for x in batches_a] != [x.data for x in batches_b]
    assert a.expected() != b.expected()
    if cls is BackfillLake:
        assert set(a.expected()[a.SINK]) != set(b.expected()[b.SINK])
    if cls is TailTables:
        assert ([x.sink_tables for x in batches_a[1:]]
                != [x.sink_tables for x in batches_b[1:]])


def test_tail_batches_touch_only_active_tables():
    wl = _small(TailTables, 3)
    assert len(wl.batch().sink_tables) == 8  # warm-up seeds every table
    for _ in range(4):
        b = wl.batch()
        assert len(b.sink_tables) == wl.active
        assert b.events == wl.batch_events


def test_wire_merge_alters_every_shard_once():
    wl = _small(WireMerge, 3)
    batches = [wl.batch() for _ in range(wl.alter_at + 3)]
    assert [x.ddl for x in batches].count(True) == 1
    for s in range(wl.shards):
        alter = b"ALTER TABLE customer_%d ADD COLUMN" % s
        assert sum(x.data.count(alter) for x in batches) == 1
    rows = wl.expected()[wl.SINK]
    # shards are disjoint key sets merged into one sink table
    assert len(rows) == sum(len(wl.expected_single_shard(s)[wl.SINK])
                            for s in range(wl.shards))


@pytest.mark.parametrize("cls", GENERATORS)
def test_oracle_flags_missing_and_stale_rows(cls):
    wl = _small(cls, 5)
    for _ in range(4):
        wl.batch()
    expected = wl.expected()
    table = next(t for t, rows in expected.items() if len(rows) >= 2)
    actual = {t: dict(rows) for t, rows in expected.items()}
    assert compare(expected, actual) == 0
    missing, stale = sorted(actual[table])[:2]
    del actual[table][missing]
    row = actual[table][stale]
    actual[table][stale] = (row + "x" if isinstance(row, str)
                            else row[:-1] + ("stale",))
    assert compare(expected, actual) == 2
    actual[table][-1] = actual[table][stale]
    assert compare(expected, actual) == 3  # an unexpected row counts too


def test_job_counter_sees_2n_plus_1_jobs(tmp_path, monkeypatch):
    """A micro-batch with 2 active tables runs 2N+1 Spark jobs for N
    registered tables: the per-table loop pays two jobs for every
    registered table, idle or not."""
    from harness import JobCounter, drive, land, open_pipeline
    import run

    if not run.wait_for_isolation():
        pytest.skip("another Spark JVM is running")
    monkeypatch.setenv("PYTHONPATH", os.path.dirname(HERE))
    jobs = {}
    spark = None
    try:
        for n in (1, 8, 32):
            if spark is not None:
                spark.stop()
            wl = TailTables(1, n, active=min(2, n), batch_events=40,
                            base_rows=2)
            wdir = str(tmp_path / f"t{n}")
            spark, pipe, raw, tables, _, _ = open_pipeline(
                wl, wdir, 4, str(tmp_path))
            counter = JobCounter(spark)
            land(wl.batch(), wdir)
            assert drive(pipe, raw, tables) is not None
            jobs[n] = counter.take()[0]
    finally:
        run.stop_spark()
    assert jobs == {1: 3, 8: 17, 32: 65}
