"""StreamkitEngine facade: fenced produce, clamped reads, status table."""

from __future__ import annotations

import pytest

from streamkit_spark.engine import StreamkitEngine
from streamkit_spark.operators.consume import ConsumeBounds
from streamkit_spark.schema import SEGMENT_STATUS_SCHEMA


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


def test_point_lookups_start_no_spark_job(engine, jobs_of):
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

    assert jobs_of(lookups) == 0
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


def test_paged_reads_start_no_spark_job(engine, jobs_of):
    """A consume with a limit is a page read on the driver: build plus
    collect start 0 jobs for each read kind, with and without a cursor,
    and for the zero-row answers of an unknown space, an unknown segment
    and a cursor past the tail."""
    engine.produce(STORE, "s0", "g0", recs(1, 5), now_ms=100)
    engine.produce(STORE, "s0", "g1", recs(1, 3), now_ms=200)
    engine.produce(STORE, "s1", "g0", recs(1, 2), now_ms=150)
    page = ConsumeBounds(limit=4)
    got = {}

    def reads():
        got["segment"] = engine.consume_segment(
            STORE, "s0", "g0", ConsumeBounds(min_sequence=2, limit=3), now_ms=300
        ).collect()
        got["space"] = engine.consume_space(STORE, "s0", page, now_ms=300).collect()
        got["space_cursor"] = engine.consume_space(
            STORE, "s0", page, cursor=(100, "g0", 4), now_ms=300
        ).collect()
        got["merge"] = engine.consume(
            STORE, {"s0": (100, "g0", 3), "s1": None}, page, now_ms=300
        ).collect()
        got["unknown_space"] = engine.consume_space(STORE, "nope", page, now_ms=300).collect()
        got["unknown_segment"] = engine.consume_segment(
            STORE, "s0", "nope", page, now_ms=300
        ).collect()
        got["past_tail"] = engine.consume_space(
            STORE, "s0", page, cursor=(200, "g1", 3), now_ms=300
        ).collect()

    assert jobs_of(reads) == 0

    def keys(rows):
        return [(r["ts"], r["space"], r["segment"], r["sequence"]) for r in rows]

    assert [r["sequence"] for r in got["segment"]] == [2, 3, 4]
    assert keys(got["space"]) == [(100, "s0", "g0", q) for q in (1, 2, 3, 4)]
    assert keys(got["space_cursor"]) == [(100, "s0", "g0", 5)] + [
        (200, "s0", "g1", q) for q in (1, 2, 3)
    ]
    assert keys(got["merge"]) == [
        (100, "s0", "g0", 4), (100, "s0", "g0", 5), (150, "s1", "g0", 1), (150, "s1", "g0", 2)
    ]
    assert got["unknown_space"] == got["unknown_segment"] == got["past_tail"] == []


def test_status_listing_and_inventory_read_on_the_driver(engine, spark, jobs_of):
    """The space-wide status listing, get_spaces and get_segments read the
    status table on the driver (0 jobs).  They equal the Spark read of the
    table in rows, order and column names and types for %-escaped names,
    and a non-ASCII segment keeps its name (Spark decodes the %-escaped
    UTF-8 of a status partition byte by byte)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    keys = [("a/b:c d%", "g 1"), ("a/b:c d%", "Z"), ("sp0", "g0"), ("sp0", "G%2F")]
    for i, (sp, seg) in enumerate(keys):
        engine.produce(STORE, sp, seg, recs(1, i + 1), now_ms=10 * (i + 1))
    engine.produce(STORE, "sp0", "g0", recs(4, 2), now_ms=70)
    got = {}

    def listings():
        got["all"] = engine.store(STORE).statuses()
        got["space"] = engine.get_segment_status(STORE, "sp0")
        got["spaces"] = engine.get_spaces(STORE).collect()
        got["segments"] = engine.get_segments(STORE, "a/b:c d%").collect()
        got["all_rows"], got["space_rows"] = got["all"].collect(), got["space"].collect()

    assert jobs_of(listings) == 0

    def typed(df):
        return [(f.name, f.dataType) for f in df.schema]

    table = spark.read.schema(SEGMENT_STATUS_SCHEMA).parquet(engine.store(STORE).status_path)
    latest = Window.partitionBy("space", "segment").orderBy(F.desc("last_sequence"))
    spark_listing = (
        table.withColumn("_v", F.row_number().over(latest))
        .filter("_v = 1")
        .orderBy("space", "segment")
        .select(*SEGMENT_STATUS_SCHEMA.names)
    )
    for name, want in (("all", spark_listing), ("space", spark_listing.filter("space = 'sp0'"))):
        assert typed(got[name]) == typed(want)
        assert got[f"{name}_rows"] == want.collect()
    assert [r["space"] for r in got["spaces"]] == ["a/b:c d%", "sp0"]
    assert [r["segment"] for r in got["segments"]] == ["Z", "g 1"]

    engine.produce(STORE, "sp0", "é", recs(1, 1), now_ms=80)
    assert [r["segment"] for r in engine.get_segments(STORE, "sp0").collect()] == [
        "G%2F", "g0", "é"
    ]


@pytest.mark.parametrize("seed", [3, 4])
def test_paged_reads_equal_spark_operators(engine, seed):
    """Over random produce/compact runs, every paged read (limit > 0)
    equals the Spark operator over ``events()`` with the same clamped
    bounds: the first ``limit`` rows in order, and the StructType (names,
    types, nullability).  Covered: an escaped space; mixed-case and
    non-ASCII segments (byte-order ties); ts ties across segments and
    spaces; null, empty and non-empty metadata; min_ts/max_ts at row
    values; max_sequence < min_sequence; cursors on, before and past the
    tail; limits of 1, exactly the row count and above it; a watermark
    clamp from an open produce token."""
    import random

    from streamkit_spark.operators.consume import consume, consume_segment, consume_space

    rng = random.Random(seed)
    spaces = ["sp0", "a/b:c d%"]
    tail = {(sp, seg): 0 for sp in spaces for seg in ("g0", "G1", "é", "Z")}
    store = engine.store(STORE)
    now = 10**6

    def produce_some(steps, ts0):
        for step in range(steps):
            key = rng.choice(sorted(tail))
            n = rng.randint(1, 5)
            batch = [
                (tail[key] + i, f"{key}{tail[key] + i}".encode(),
                 rng.choice([None, {}, {"k": str(i), "e": ""}]))
                for i in range(1, n + 1)
            ]
            # two produces per ts: ts ties across segments and spaces
            engine.produce(STORE, *key, batch, now_ms=ts0 + 10 * (step // 2))
            tail[key] += n

    def agree(page, spark_df):
        want = spark_df.collect()
        for limit in {1, max(len(want), 1), len(want) + 3}:
            fast = page(limit)
            assert fast.schema == spark_df.schema
            assert fast.collect() == want[:limit]

    def with_limit(b, limit):
        return ConsumeBounds(b.min_sequence, b.max_sequence, b.min_ts, b.max_ts, limit)

    produce_some(10, 100)
    for phase in ("produced", "compacted", "appended"):
        events = store.events()
        rows = {sp: consume_space(events, sp).collect() for sp in spaces}
        ts_values = sorted({r["ts"] for r in rows["sp0"] + rows["a/b:c d%"]})

        def cursor(sp):
            on, last = rng.choice(rows[sp] or [None]), (rows[sp] or [None])[-1]
            return rng.choice([
                None,
                (0, "", 0),  # before the head
                on and (on["ts"], on["segment"], on["sequence"]),
                last and (last["ts"], last["segment"], last["sequence"]),  # on the tail
                (now - 1, "", 0),  # past the tail
            ])

        token = None
        if phase == "appended":  # an open produce fences reads below its begin
            token = engine.watermarks.begin("sp0", rng.choice(ts_values))
        seqs = [0, 1, 2, 4]
        for b in (
            ConsumeBounds(),
            ConsumeBounds(min_sequence=rng.choice(seqs), max_sequence=rng.choice(seqs)),
            ConsumeBounds(min_sequence=4, max_sequence=2),  # max < min clamps to min
            ConsumeBounds(min_ts=rng.choice(ts_values)),
            ConsumeBounds(max_ts=rng.choice(ts_values)),
            ConsumeBounds(min_ts=ts_values[0], max_ts=ts_values[-1]),
        ):
            sp, seg = rng.choice(sorted(tail))
            agree(
                lambda n: engine.consume_segment(STORE, sp, seg, with_limit(b, n), now_ms=now),
                consume_segment(events, sp, seg, engine._clamp([sp], b, now)),
            )
            cur = cursor(sp)
            agree(
                lambda n: engine.consume_space(STORE, sp, with_limit(b, n), cur, now_ms=now),
                consume_space(events, sp, engine._clamp([sp], b, now), cur),
            )
            offsets = {s: cursor(s) for s in spaces}
            offsets.update(rng.choice([{}, {"unknown": None}]))
            agree(
                lambda n: engine.consume(STORE, offsets, with_limit(b, n), now_ms=now),
                consume(events, offsets, engine._clamp(offsets, b, now)),
            )
        if token is not None:
            engine.watermarks.end("sp0", token)
        if phase == "produced":
            store.compact()
        elif phase == "compacted":
            produce_some(4, 300)
