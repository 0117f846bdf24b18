"""Write-path behavior tests, modeled on the reference's integration suite
(test/core_integration_test.go, test/transaction_edge_integration_test.go,
test/consume_boundaries_integration_test.go semantics)."""

from __future__ import annotations

import os
import uuid

import pytest

from streamkit_spark.errors import SequenceMismatchError, ValidationError
from streamkit_spark.operators import invariants
from streamkit_spark.operators.consume import ConsumeBounds, consume_segment, peek
from streamkit_spark.operators.produce import Store
from streamkit_spark.operators.status import get_segments, get_spaces, segment_status
from streamkit_spark.schema import ENVELOPE_BINDING, EVENTS_SCHEMA, PRODUCE_CHUNK_SIZE


@pytest.fixture()
def store(spark, tmp_path):
    return Store(spark, str(tmp_path / "store"))


def recs(start, n, payload=b"x"):
    return [(start + i, payload, None) for i in range(n)]


def test_should_append_and_read_back_in_order(store, spark):
    store.produce("s0", "g0", recs(1, 5), now_ms=1000)
    out = consume_segment(store.events(), "s0", "g0").collect()
    assert [r["sequence"] for r in out] == [1, 2, 3, 4, 5]
    assert all(r["ts"] == 1000 for r in out)
    assert invariants.check_all(store.events()) == {
        "i1_contiguity": 0,
        "i2_density": 0,
        "i3_trx_monotonic": 0,
    }


def test_should_reject_gap_after_existing_tail(store):
    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    with pytest.raises(SequenceMismatchError):
        store.produce("s0", "g0", recs(5, 2), now_ms=2)


def test_should_reject_internal_gap_or_dup(store):
    with pytest.raises(SequenceMismatchError):
        store.produce("s0", "g0", [(1, b"a", None), (3, b"b", None)], now_ms=1)
    with pytest.raises(SequenceMismatchError):
        store.produce("s0", "g0", [(1, b"a", None), (1, b"b", None)], now_ms=1)
    with pytest.raises(SequenceMismatchError):  # a null sequence is a gap
        store.produce("s0", "g0", [(1, b"a", None), (None, b"b", None)], now_ms=1)


def test_should_reject_invalid_records(store):
    with pytest.raises(ValidationError):
        store.produce("", "g0", recs(1, 1))
    with pytest.raises(ValidationError):
        store.produce("s0", "g0", [(0, b"a", None)], now_ms=1)
    with pytest.raises(ValidationError):
        store.produce("s0", "g0", [(1, None, None)], now_ms=1)
    with pytest.raises(ValidationError):
        store.produce("s0", "g0", [(1, b"a", None), ("2", b"b", None)], now_ms=1)
    assert not os.path.exists(store.events_path)  # rejected before any write


def test_produce_starts_exactly_one_spark_job(store, spark):
    """A produce commits the batch from the driver; its one Spark job is
    the post-append tail verification read."""
    sc = spark.sparkContext
    for start in (1, 301):  # first produce of a segment, then a follow-up
        group = f"produce-{uuid.uuid4()}"
        sc.setJobGroup(group, "produce job-count pin")
        try:
            store.produce("s0", "g0", recs(start, 300), now_ms=start)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert store.events().count() == 600


def test_produce_layout_matches_spark_partition_writer(store, spark, tmp_path):
    """A produced file reads back exactly like the same rows written by
    Spark's partitionBy("space") writer, under a byte-equal ``space=``
    directory — also for a space name Spark escapes and for null vs empty
    metadata maps."""
    from pyspark.sql import functions as F

    space = "a/b:c d%"
    batch = [(1, b"p1", None), (2, b"p2", {}), (3, b"p3", {"k": "v", "e": ""})]
    store.produce(space, "g0", batch, now_ms=7)
    trx_id = store.events().first()["trx_id"]
    ref_path = str(tmp_path / "ref")
    spark.createDataFrame(
        [
            (store.store_id, space, "g0", q, 7, p, m, trx_id, store._node_id, 1)
            for q, p, m in batch
        ],
        EVENTS_SCHEMA,
    ).write.partitionBy("space").parquet(ref_path)

    def rows(df):  # set operations cannot take map columns
        return df.withColumn("metadata", F.array_sort(F.map_entries("metadata")))

    ours = rows(store.events())
    ref = rows(spark.read.schema(EVENTS_SCHEMA).parquet(ref_path))
    assert ours.exceptAll(ref).count() == 0
    assert ref.exceptAll(ours).count() == 0
    assert [r["metadata"] for r in store.events().orderBy("sequence").collect()] == [
        None, {}, {"k": "v", "e": ""},
    ]
    ref_dirs = [d for d in os.listdir(ref_path) if d.startswith("space=")]
    assert os.listdir(store.events_path) == ref_dirs == ["space=a%2Fb%3Ac d%25"]
    assert [r["space"] for r in store.file_stats()] == [space]


def test_should_assign_one_trx_per_chunk(store):
    n = PRODUCE_CHUNK_SIZE + 7
    statuses = store.produce("s0", "g0", recs(1, n), now_ms=5)
    assert len(statuses) == 2
    ev = store.events()
    trx = (
        ev.groupBy("trx_number").count().orderBy("trx_number").collect()
    )
    assert [(r["trx_number"], r["count"]) for r in trx] == [
        (1, PRODUCE_CHUNK_SIZE),
        (2, 7),
    ]
    assert ev.select("trx_id").distinct().count() == 2
    assert invariants.i3_trx_monotonic(ev).count() == 0


def test_should_continue_trx_numbers_across_produces(store):
    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    store.produce("s0", "g0", recs(4, 3), now_ms=2)
    store.produce("s0", "g1", recs(1, 2), now_ms=3)  # independent segment
    ev = store.events()
    g0 = ev.filter("segment = 'g0'")
    assert g0.select("trx_number").distinct().count() == 2
    assert g0.agg({"trx_number": "max"}).first()[0] == 2
    assert ev.filter("segment = 'g1'").agg({"trx_number": "max"}).first()[0] == 1
    assert invariants.check_all(ev) == {
        "i1_contiguity": 0,
        "i2_density": 0,
        "i3_trx_monotonic": 0,
    }


def test_publish_auto_sequences(store):
    s1 = store.publish("s0", "g0", b"one", now_ms=1)
    s2 = store.publish("s0", "g0", b"two", {"k": "v"}, now_ms=2)
    assert s1["last_sequence"] == 1 and s2["last_sequence"] == 2
    row = peek(store.events(), "s0", "g0").first()
    assert row["sequence"] == 2 and bytes(row["payload"]) == b"two"
    assert row["metadata"] == {"k": "v"}


def test_peek_respects_watermark_clamp(store):
    store.produce("s0", "g0", recs(1, 2), now_ms=100)
    store.produce("s0", "g0", recs(3, 1), now_ms=200)
    # watermark at 150 hides the ts=200 row (reference node.go:280-285)
    row = peek(store.events(), "s0", "g0", max_ts=150).first()
    assert row["sequence"] == 2
    row = peek(store.events(), "s0", "g0").first()
    assert row["sequence"] == 3


def test_empty_segment_peek_returns_no_rows(store, spark):
    store.produce("s0", "g0", recs(1, 1), now_ms=1)
    assert peek(store.events(), "s0", "missing").count() == 0


def test_inventory_and_status(store):
    store.produce("alpha", "g0", recs(1, 2), now_ms=10)
    store.produce("beta", "g0", recs(1, 3), now_ms=20)
    store.produce("alpha", "g1", recs(1, 1), now_ms=30)
    ev = store.events()
    assert [r["space"] for r in get_spaces(ev).collect()] == ["alpha", "beta"]
    assert [r["segment"] for r in get_segments(ev, "alpha").collect()] == ["g0", "g1"]
    st = {
        (r["space"], r["segment"]): (
            r["first_sequence"],
            r["first_ts"],
            r["last_sequence"],
            r["last_ts"],
        )
        for r in segment_status(ev).collect()
    }
    assert st[("alpha", "g0")] == (1, 10, 2, 10)
    assert st[("beta", "g0")] == (1, 20, 3, 20)
    assert st[("alpha", "g1")] == (1, 30, 1, 30)


def test_consume_bounds_min_exclusive_max_inclusive(store):
    # timestamp semantics: min exclusive, max inclusive
    store.produce("s0", "g0", recs(1, 1), now_ms=100)
    store.produce("s0", "g0", recs(2, 1), now_ms=200)
    store.produce("s0", "g0", recs(3, 1), now_ms=300)
    ev = store.events()
    got = consume_segment(
        ev, "s0", "g0", ConsumeBounds(min_ts=100, max_ts=300), binding=ENVELOPE_BINDING
    ).collect()
    assert [r["sequence"] for r in got] == [2, 3]
    # max_sequence < min_sequence clamps to min (F3)
    got = consume_segment(
        ev, "s0", "g0", ConsumeBounds(min_sequence=2, max_sequence=1)
    ).collect()
    assert [r["sequence"] for r in got] == [2]


def test_concurrent_producer_single_winner(store, spark):
    """Two producers race from the same peek; exactly one wins
    (reference: docs/limitations.md:57-60, core_integration_test.go:48-88)."""
    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    # producer A and B both observed last=3; A commits first
    store.produce("s0", "g0", recs(4, 2), now_ms=2)
    with pytest.raises(SequenceMismatchError):
        store.produce("s0", "g0", recs(4, 2), now_ms=3)  # B loses
    ev = store.events()
    assert invariants.check_all(ev) == {
        "i1_contiguity": 0,
        "i2_density": 0,
        "i3_trx_monotonic": 0,
    }
    assert ev.count() == 5


def test_compact_preserves_data_and_reduces_files(store):
    for i in range(6):
        store.produce("s0", f"g{i % 2}", recs(1 + (i // 2) * 2, 2), now_ms=10 + i)
    before = store.events().orderBy("space", "segment", "sequence").collect()
    stats = store.compact()
    assert stats["files_after"] < stats["files_before"]
    after = store.events().orderBy("space", "segment", "sequence").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]
    assert invariants.check_all(store.events()) == {
        "i1_contiguity": 0, "i2_density": 0, "i3_trx_monotonic": 0,
    }
    # appends keep working after compaction
    store.produce("s0", "g0", recs(7, 1), now_ms=99)
    assert store.events().count() == len(before) + 1


def test_last_state_reads_status_table_not_events(store, spark):
    """The pre-produce peek must come from the maintained status row
    (reference: pebblekit/store.go:219-228 peeks the stored index), not an
    events scan (VERDICT r1: write-path fast peek)."""
    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    # after the first produce a status row exists; the scan fallback must
    # not be touched anymore
    def boom(*a, **k):
        raise AssertionError("events scan used for pre-produce peek")

    store._last_state_scan = boom
    assert store._last_state("s0", "g0") == (3, 1)
    store.produce("s0", "g0", recs(4, 2), now_ms=2)  # fast peek end-to-end
    assert store._last_state("s0", "g0") == (5, 2)


def test_status_row_merged_without_events_scan(store, spark):
    """Status maintenance merges the statuses the produce computed —
    a driver-side parquet write, not a segment re-aggregation."""
    store.produce("s0", "g0", recs(1, 3), now_ms=10)
    store.produce("s0", "g0", recs(4, 2), now_ms=20)
    st = store.last_status("s0", "g0")
    assert st["first_sequence"] == 1 and st["first_ts"] == 10
    assert st["last_sequence"] == 5 and st["last_ts"] == 20
    assert st["last_trx_number"] == 2
    # the Spark-facing status table agrees with recompute-from-data
    stored = {
        (r["space"], r["segment"]): (r["first_sequence"], r["last_sequence"])
        for r in store.statuses().collect()
    }
    assert stored == {("s0", "g0"): (1, 5)}


def test_stale_status_is_detected_rolled_back_and_repaired(store, spark):
    """Crash window: events written but status row stale.  The next
    produce that trusts the stale row must NOT create duplicate sequences:
    post-append verification rolls its files back, repairs the status row,
    and raises; a retry from the repaired tail succeeds."""
    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    store.produce("s0", "g0", recs(4, 2), now_ms=2)
    # simulate the crash: status says last=3 although events go to 5
    store._write_status_row("s0", "g0", 1, 1, 3, 1, 1)
    with pytest.raises(SequenceMismatchError):
        store.produce("s0", "g0", recs(4, 2), now_ms=3)  # stale peek -> dup
    ev = store.events()
    assert ev.count() == 5  # rolled back, no duplicates
    assert invariants.check_all(ev) == {
        "i1_contiguity": 0, "i2_density": 0, "i3_trx_monotonic": 0,
    }
    assert store.last_status("s0", "g0")["last_sequence"] == 5  # repaired
    store.produce("s0", "g0", recs(6, 1), now_ms=4)  # retry from true tail
    assert store.events().count() == 6


def test_statuses_resolve_overlapping_row_versions(store):
    """Mid status swap a partition holds the new row file AND the old one;
    the Spark-side status table resolves them like last_status does (the
    max-last_sequence version wins), one row per segment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamkit_spark.operators.produce import _part_dir

    store.produce("s0", "g0", recs(1, 4), now_ms=50)
    store.produce("s0", "g0", recs(5, 2), now_ms=70)
    store.produce("s0", "g1", recs(1, 1), now_ms=80)
    stale = pa.table(
        {"first_sequence": [1], "first_ts": [50], "last_sequence": [4],
         "last_ts": [50], "last_trx_number": [1]}
    )
    part = os.path.join(store.status_path, _part_dir("s0", "g0"))
    pq.write_table(stale, os.path.join(part, "stale.parquet"))
    assert store.last_status("s0", "g0")["last_sequence"] == 6
    cols = ("space", "segment", "first_sequence", "last_sequence", "last_ts")
    got = [tuple(r[c] for c in cols) for r in store.statuses().collect()]
    assert got == [("s0", "g0", 1, 6, 70), ("s0", "g1", 1, 1, 80)]
    got = [tuple(r[c] for c in cols) for r in store.statuses("s0", "g0").collect()]
    assert got == [("s0", "g0", 1, 6, 70)]


def test_second_store_instance_sees_status(store, spark):
    """A second Store handle on the same root (cross-process analog) peeks
    the same status table and loses cleanly on conflict."""
    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    other = Store(spark, store.root, store.store_id)
    assert other._last_state("s0", "g0") == (3, 1)
    with pytest.raises(SequenceMismatchError):
        other.produce("s0", "g0", recs(3, 1), now_ms=2)
    other.produce("s0", "g0", recs(4, 1), now_ms=3)
    assert store._last_state("s0", "g0") == (4, 2)


def test_concurrent_store_handles_race_single_winner(store, spark):
    """Two Store handles (cross-process analog: separate in-process lock
    maps, so only the per-segment flock serializes them) race the same
    append from the same observed tail.  Exactly one must win; the loser
    gets SequenceMismatchError; invariants hold (reference:
    test/core_integration_test.go:48-88, docs/limitations.md:57-60)."""
    import threading

    store.produce("s0", "g0", recs(1, 3), now_ms=1)
    other = Store(spark, store.root, store.store_id)
    results = {}

    def racer(name, st):
        try:
            st.produce("s0", "g0", recs(4, 2), now_ms=2)
            results[name] = "won"
        except SequenceMismatchError:
            results[name] = "lost"

    t1 = threading.Thread(target=racer, args=("a", store))
    t2 = threading.Thread(target=racer, args=("b", other))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(results.values()) == ["lost", "won"], results
    ev = store.events()
    assert ev.count() == 5
    assert invariants.check_all(ev) == {
        "i1_contiguity": 0, "i2_density": 0, "i3_trx_monotonic": 0,
    }


def test_file_stats_reports_small_files_then_compaction_clears(spark, tmp_path):
    from streamkit_spark.operators.produce import Store

    store = Store(spark, str(tmp_path / "store_fs"))
    rows = lambda seqs: [  # noqa: E731
        {"space": "s", "segment": "a", "sequence": q, "ts": q * 1000,
         "payload": b"x", "metadata": {}} for q in seqs
    ]
    store.produce("s", "a", rows([1, 2]))
    store.produce("s", "a", rows([3, 4]))
    store.produce("s", "a", rows([5]))
    st = {r["space"]: r for r in store.file_stats()}
    assert st["s"]["n_files"] >= 3  # one file per produce
    assert st["s"]["n_small"] == st["s"]["n_files"]  # all tiny locally
    assert st["s"]["needs_compaction"] is True
    store.compact()
    st2 = {r["space"]: r for r in store.file_stats()}
    assert st2["s"]["n_files"] == 1
    assert st2["s"]["needs_compaction"] is False
    assert st2["s"]["total_bytes"] > 0


def test_compact_target_bytes_range_layout(store):
    """Size-targeted compaction: multiple output files per space whose
    (segment, sequence) ranges do NOT overlap — the min/max-pruning
    property hash-split multi-file layouts lack."""
    import os

    import pyarrow.parquet as pq

    for seg in range(4):
        for batch in range(3):
            store.produce(
                "sp", f"g{seg}",
                recs(1 + batch * 50, 50, payload=b"p" * 200),
                now_ms=10 + batch,
            )
    before = store.events().orderBy("space", "segment", "sequence").collect()
    total = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(store.events_path)
        for f in fs if f.endswith(".parquet")
    )
    stats = store.compact(target_bytes=max(1, total // 4))
    assert stats["files_after"] > 1
    after = store.events().orderBy("space", "segment", "sequence").collect()
    assert [tuple(r) for r in before] == [tuple(r) for r in after]

    # per-file (segment, sequence) spans must be pairwise non-overlapping
    # in the LEXICOGRAPHIC key order.  NOT derivable from per-column
    # parquet stats: a range boundary that falls inside a segment makes
    # a file like (g0,121)..(g1,90), whose componentwise stat "span"
    # (g0,1?)-(g1,150) falsely overlaps its neighbors — the flake this
    # test shipped with (partition count = ceil(total/target) lands on
    # 5, not 4, whenever total%4 != 0, and byte totals jitter with
    # uuid/zstd content).  Read the actual first/last keys instead.
    spans = []
    for d, _, fs in os.walk(store.events_path):
        for f in fs:
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(
                os.path.join(d, f), columns=["segment", "sequence"]
            )
            keys = list(
                zip(t.column("segment").to_pylist(),
                    t.column("sequence").to_pylist())
            )
            if keys:
                spans.append((min(keys), max(keys)))
    spans.sort()
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, (hi1, lo2)
