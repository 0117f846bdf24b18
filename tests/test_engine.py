"""StreamkitEngine facade: fenced produce, clamped reads, status table."""

from __future__ import annotations

import pytest

from streamkit_spark.engine import StreamkitEngine
from streamkit_spark.operators.consume import ConsumeBounds


@pytest.fixture()
def engine(spark, tmp_path):
    return StreamkitEngine(spark, str(tmp_path / "engine"))


def recs(start, n):
    return [(start + i, b"p", None) for i in range(n)]


STORE = "11111111-2222-3333-4444-555555555555"


def test_produce_then_clamped_reads(engine):
    engine.produce(STORE, "s0", "g0", recs(1, 3), now_ms=100)
    engine.produce(STORE, "s0", "g1", recs(1, 2), now_ms=200)

    out = engine.consume_segment(STORE, "s0", "g0", now_ms=300).collect()
    assert [r["sequence"] for r in out] == [1, 2, 3]

    # with an in-flight writer, reads are fenced to before its begin
    tok = engine.watermarks.begin("s0", 150)
    fenced = engine.consume_space(STORE, "s0", now_ms=300).collect()
    assert {r["segment"] for r in fenced} == {"g0"}  # g1 (ts=200) hidden
    engine.watermarks.end("s0", tok)
    full = engine.consume_space(STORE, "s0", now_ms=300).collect()
    assert len(full) == 5


def test_peek_clamped_and_unclamped(engine):
    engine.produce(STORE, "s0", "g0", recs(1, 1), now_ms=100)
    engine.produce(STORE, "s0", "g0", recs(2, 1), now_ms=200)
    tok = engine.watermarks.begin("s0", 150)
    assert engine.peek(STORE, "s0", "g0", now_ms=300).first()["sequence"] == 1
    engine.watermarks.end("s0", tok)
    assert engine.peek(STORE, "s0", "g0", now_ms=300).first()["sequence"] == 2


def test_status_table_maintained_and_consistent(engine):
    engine.produce(STORE, "s0", "g0", recs(1, 4), now_ms=50)
    engine.produce(STORE, "s0", "g1", recs(1, 2), now_ms=60)
    engine.produce(STORE, "s0", "g0", recs(5, 2), now_ms=70)

    stored = {
        (r["space"], r["segment"]): (r["first_sequence"], r["last_sequence"], r["last_ts"])
        for r in engine.get_segment_status(STORE, "s0").collect()
    }
    assert stored == {("s0", "g0"): (1, 6, 70), ("s0", "g1"): (1, 2, 60)}

    # stored status must equal recompute-from-data (J2 parity)
    from streamkit_spark.operators.status import segment_status

    recomputed = {
        (r["space"], r["segment"]): (r["first_sequence"], r["last_sequence"], r["last_ts"])
        for r in segment_status(engine.store(STORE).events()).collect()
    }
    assert stored == recomputed


def test_get_segment_status_one_row_per_segment_mid_swap(engine):
    """A stale row version left next to the current one (the instant
    inside a status swap) must not surface as a second status row."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamkit_spark.operators.produce import _part_dir

    engine.produce(STORE, "s0", "g0", recs(1, 4), now_ms=50)
    engine.produce(STORE, "s0", "g0", recs(5, 2), now_ms=70)
    part = os.path.join(engine.store(STORE).status_path, _part_dir("s0", "g0"))
    pq.write_table(
        pa.table({"first_sequence": [1], "first_ts": [50], "last_sequence": [4],
                  "last_ts": [50], "last_trx_number": [1]}),
        os.path.join(part, "stale.parquet"),
    )
    for segment in ("g0", None):
        rows = engine.get_segment_status(STORE, "s0", segment).collect()
        assert [(r["segment"], r["last_sequence"], r["last_ts"]) for r in rows] == [
            ("g0", 6, 70)
        ]


def test_multi_store_isolation(engine):
    other = "99999999-8888-7777-6666-555555555555"
    engine.produce(STORE, "s0", "g0", recs(1, 1), now_ms=10)
    engine.produce(other, "s0", "g0", recs(1, 3), now_ms=20)
    assert engine.store(STORE).events().count() == 1
    assert engine.store(other).events().count() == 3


def test_multi_space_consume_clamped_per_space(engine):
    engine.produce(STORE, "a", "g", recs(1, 1), now_ms=100)
    engine.produce(STORE, "b", "g", recs(1, 1), now_ms=200)
    tok = engine.watermarks.begin("a", 50)  # fence space a before its data
    rows = engine.consume(STORE, {"a": None, "b": None}, now_ms=300).collect()
    # conservative multi-space clamp: min of space fences applies
    assert rows == []
    engine.watermarks.end("a", tok)
    rows = engine.consume(STORE, {"a": None, "b": None}, now_ms=300).collect()
    assert len(rows) == 2


def test_inventory(engine):
    engine.produce(STORE, "alpha", "g0", recs(1, 1), now_ms=10)
    engine.produce(STORE, "beta", "g1", recs(1, 1), now_ms=20)
    assert [r["space"] for r in engine.get_spaces(STORE).collect()] == ["alpha", "beta"]
    assert [r["segment"] for r in engine.get_segments(STORE, "beta").collect()] == ["g1"]


def _jobs_of(spark, action) -> int:
    """Spark jobs ``action`` starts, counted by job group once the
    listener bus has delivered them."""
    import uuid

    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4()}"
    sc.setJobGroup(group, "point-lookup job-count pin")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_point_lookups_start_no_spark_job(engine, spark):
    """Peek and one-segment status are answered on the driver from the
    status row and the tail row: build plus collect start 0 jobs, also
    for the zero-row answers of an unknown segment."""
    engine.produce(STORE, "s0", "g0", recs(1, 3), now_ms=100)
    engine.produce(STORE, "s0", "g0", recs(4, 2), now_ms=200)
    got = {}

    def lookups():
        got["peek"] = engine.peek(STORE, "s0", "g0", now_ms=300).collect()
        got["status"] = engine.get_segment_status(STORE, "s0", "g0").collect()
        got["status_unknown"] = engine.get_segment_status(STORE, "s0", "nope").collect()

    assert _jobs_of(spark, lookups) == 0
    assert [r["sequence"] for r in got["peek"]] == [5]
    assert [(r["first_sequence"], r["last_sequence"], r["last_ts"]) for r in got["status"]] == [
        (1, 5, 200)
    ]
    assert got["status_unknown"] == []


@pytest.mark.parametrize("seed", [1, 2])
def test_point_lookups_equal_spark_scan_and_recompute(engine, seed):
    """Over random produce sequences (an escaped space name; null, empty
    and non-empty metadata), the driver-side peek equals the Spark scan
    peek and the one-segment status equals the recompute, in rows and
    column names, order and types — on produce-written files and again on
    the Spark-written files of a compaction."""
    import random

    from streamkit_spark.operators.consume import peek
    from streamkit_spark.operators.status import segment_status

    rng = random.Random(seed)
    keys = [(sp, seg) for sp in ("sp0", "a/b:c d%") for seg in ("g0", "g1")]
    tail = dict.fromkeys(keys, 0)
    for step in range(8):
        key = rng.choice(keys)
        n = rng.randint(1, 4)
        batch = [
            (tail[key] + i, f"p{tail[key] + i}".encode(), rng.choice([None, {}, {"k": str(i)}]))
            for i in range(1, n + 1)
        ]
        engine.produce(STORE, *key, batch, now_ms=10 * (step + 1))
        tail[key] += n

    def typed(df):
        return [(f.name, f.dataType) for f in df.schema]

    store = engine.store(STORE)
    for _ in ("produced", "compacted"):
        events = store.events()
        for sp, seg in keys + [("sp0", "unknown")]:
            fast, scan = engine.peek(STORE, sp, seg), peek(events, sp, seg)
            assert fast.schema == scan.schema
            assert fast.collect() == scan.collect()
            fast = engine.get_segment_status(STORE, sp, seg)
            recomputed = segment_status(events, space=sp, segment=seg)
            assert typed(fast) == typed(recomputed)
            assert fast.collect() == recomputed.collect()
        store.compact()
