"""Compactor tests (model: CompactionSpec invariants)."""

from __future__ import annotations

import json

import pytest

from clueso_spark.operators.compact import Compactor
from clueso_spark.operators.query import MetadataQuery, MetadataQueryExecutor
from clueso_spark.streaming.ingest import parse_events
from tests.conftest import op, put_doc, raw_df, wire_event

BUCKET = "cbucket"


def ingest(spark, store, lines, interval=10):
    store.write_landing(
        parse_events(raw_df(spark, lines), compaction_record_interval=interval)
    )


def puts(n, start=1):
    return [
        wire_event(op(i), "put", BUCKET, f"key{i:04d}", put_doc(f"key{i:04d}", BUCKET))
        for i in range(start, start + n)
    ]


def test_force_compaction_moves_landing_to_staging(spark, store):
    ingest(spark, store, puts(25), interval=10)  # subpartitions 10,20,30
    assert store.sub_partitions("landing", BUCKET) == [10, 20, 30]

    assert Compactor(store).compact_bucket(BUCKET, force=True)
    assert store.sub_partitions("landing", BUCKET) == []
    assert store.sub_partitions("staging", BUCKET) != []
    assert store.read_staging(BUCKET).count() == 25


def test_non_force_skips_newest_subpartition(spark, store):
    ingest(spark, store, puts(25), interval=10)
    assert Compactor(store).compact_bucket(BUCKET, force=False)
    # newest (30) still in landing, 10 and 20 compacted away
    assert store.sub_partitions("landing", BUCKET) == [30]


def test_non_force_requires_two_subpartitions(spark, store):
    ingest(spark, store, puts(5), interval=10)  # single subpartition
    assert not Compactor(store).compact_bucket(BUCKET, force=False)
    assert store.sub_partitions("landing", BUCKET) == [10]


def test_query_results_invariant_across_compaction(spark, store):
    lines = puts(20) + [
        wire_event(op(21), "delete", BUCKET, "key0003", put_doc("key0003", BUCKET)),
        wire_event(op(22), "put", BUCKET, "key0007",
                   put_doc("key0007", BUCKET, user_md={"food": "pizza"})),
    ]
    ingest(spark, store, lines, interval=10)
    ex = MetadataQueryExecutor(spark, store)

    before_all = [r["key"] for r in ex.execute(MetadataQuery(BUCKET)).collect()]
    q = MetadataQuery(BUCKET, "userMd.`x-amz-meta-food` = 'pizza'")
    before_pizza = [r["key"] for r in ex.execute(q).collect()]

    Compactor(store).compact_bucket(BUCKET, force=True)

    assert [r["key"] for r in ex.execute(MetadataQuery(BUCKET)).collect()] == before_all
    assert "key0003" not in before_all
    assert [r["key"] for r in ex.execute(q).collect()] == before_pizza == ["key0007"]


def test_safe_tombstone_policy_keeps_cross_batch_shadow(spark, store):
    """A tombstone compacted in a *later* batch than its put must keep
    shadowing the staging put (the reference's drop-all-tombstones policy
    loses this; SURVEY.md §3.3)."""
    ingest(spark, store, [wire_event(op(1), "put", BUCKET, "k", put_doc("k", BUCKET))])
    Compactor(store).compact_bucket(BUCKET, force=True)

    ingest(spark, store, [wire_event(op(11), "delete", BUCKET, "k", put_doc("k", BUCKET))])
    Compactor(store).compact_bucket(BUCKET, force=True)  # compacts the delete alone

    ex = MetadataQueryExecutor(spark, store)
    assert ex.execute(MetadataQuery(BUCKET)).count() == 0


def test_compact_all_buckets(spark, store):
    for b in ("alpha", "beta"):
        lines = [
            wire_event(op(i), "put", b, f"{b}{i}", put_doc(f"{b}{i}", b))
            for i in range(1, 15)
        ]
        ingest(spark, store, lines, interval=10)
    result = Compactor(store).compact(force=True)
    assert result == {"alpha": True, "beta": True}
    assert store.read_staging("alpha").count() == 14
    assert store.read_staging("beta").count() == 14


def test_purge_tolerance_runs_outside_lock(spark, store):
    """With a purge tolerance set, compact_bucket returns before the
    landing dirs are deleted (no in-lock sleep, VERDICT r1 #5); the purge
    lands after the tolerance; flush_purges(immediate=True) is the
    shutdown fast path that cancels the window."""
    import time as _time

    ingest(spark, store, puts(12))
    # Tolerance far above any plausible Spark-job wall time on a loaded
    # box: if compact_bucket slept the tolerance in-lock it would take
    # >= 300 s, while the compaction jobs themselves take seconds — the
    # assertion is structural, not a race against scheduler latency
    # (the old 1.5 s bound flaked whenever the cold jobs outran it).
    tolerance = 300.0
    c = Compactor(store, purge_tolerance_s=tolerance)
    t0 = _time.monotonic()
    assert c.compact_bucket(BUCKET, force=True)
    took = _time.monotonic() - t0
    assert took < tolerance, f"compact_bucket blocked {took:.1f}s on the purge sleep"
    # landing still present until the tolerance elapses
    assert store.sub_partitions("landing", BUCKET)
    # and the lock is already free for other buckets
    assert c._acquire_lock(BUCKET)
    c._release_lock(BUCKET)
    # default flush_purges() would wait out the remaining ~300 s window;
    # immediate=True is the sanctioned cancel-and-delete fast path
    c.flush_purges(immediate=True)
    assert store.sub_partitions("landing", BUCKET) == []


def test_flush_purges_default_waits_out_tolerance():
    """ADVICE r7 (high): the DEFAULT flush honors the configured
    eventual-consistency window (join without cancel), so the CLI's
    --purge-tolerance-s is never silently reduced to zero; only
    immediate=True cancels. Store-free unit test: _purge/flush touch
    only store.delete."""
    import time as _time

    class FakeStore:
        def __init__(self):
            self.deleted = []

        def delete(self, path):
            self.deleted.append(path)

    c = Compactor(FakeStore(), purge_tolerance_s=1.0)
    c._purge(["w1"])
    t0 = _time.monotonic()
    c.flush_purges()
    waited = _time.monotonic() - t0
    assert waited >= 0.9, f"default flush cancelled the window ({waited:.2f}s)"
    assert "w1" in c.store.deleted

    c._purge(["w2"])
    t0 = _time.monotonic()
    c.flush_purges(immediate=True)
    assert _time.monotonic() - t0 < 0.5
    assert "w2" in c.store.deleted
    assert c._purge_timers == []


def test_flush_purges_attempts_all_and_requeues_failures():
    """ADVICE r7 (low): one failing delete must not strand the rest --
    every pending purge is attempted, failures are re-queued and raised
    as one aggregate error, and a later flush retries them."""
    import pytest

    class FlakyStore:
        def __init__(self):
            self.fail = {"bad"}
            self.deleted = []

        def delete(self, path):
            if path in self.fail:
                raise OSError(f"transient: {path}")
            self.deleted.append(path)

    c = Compactor(FlakyStore(), purge_tolerance_s=60.0)
    c._purge(["bad"])
    c._purge(["good"])
    with pytest.raises(RuntimeError, match="1 purge"):
        c.flush_purges(immediate=True)
    assert "good" in c.store.deleted  # later delete still ran
    assert len(c._purge_timers) == 1  # the failure is re-queued, not lost
    c.store.fail.clear()
    c.flush_purges(immediate=True)
    assert "bad" in c.store.deleted
    assert c._purge_timers == []


def test_parallel_compaction_all_buckets(spark, store):
    """compact(parallelism=4): concurrent per-bucket compaction is safe
    (per-bucket locks/paths) and equivalent to the serial run."""
    for b in ("pb1", "pb2", "pb3"):
        store.write_landing(
            parse_events(
                raw_df(
                    spark,
                    [
                        wire_event(op(i), "put", b, f"k{i:03d}", put_doc(f"k{i:03d}", b))
                        for i in range(1, 9)
                    ],
                ),
                compaction_record_interval=10,
            )
        )
    c = Compactor(store)
    results = c.compact(force=True, parallelism=4)
    assert results == {"pb1": True, "pb2": True, "pb3": True}
    for b in ("pb1", "pb2", "pb3"):
        assert store.sub_partitions("landing", b) == []
        assert store.read_staging(b).count() == 8


def test_pending_purge_subpartitions_excluded_from_next_compaction(spark, store):
    """ADVICE r2 (medium): a compaction starting inside another run's purge
    tolerance window must NOT re-read the compacted-but-unpurged landing
    subpartitions -- staging would accumulate duplicate rows monotonically."""
    ingest(spark, store, puts(25), interval=10)  # subpartitions 10,20,30
    c = Compactor(store, purge_tolerance_s=30.0)
    assert c.compact_bucket(BUCKET, force=True)
    # purge still pending: dirs exist but are marked
    assert store.sub_partitions("landing", BUCKET) == [10, 20, 30]
    assert c.sub_partitions_to_compact(BUCKET, force=True) == []
    # a second forced compaction during the window is a no-op, not a dup
    n_before = store.read_staging(BUCKET).count()
    assert not c.compact_bucket(BUCKET, force=True)
    assert store.read_staging(BUCKET).count() == n_before == 25
    # new data arriving after the marker IS eligible
    ingest(spark, store, puts(5, start=31), interval=10)  # sub 40
    assert c.sub_partitions_to_compact(BUCKET, force=True) == [40]
    # don't wait 30s: purge synchronously via a zero-tolerance compactor
    for sub in (10, 20, 30):
        store.delete(f"{store.landing}/bucket={BUCKET}/maxOpIndex={sub}")


def test_stale_lock_is_broken_fresh_lock_is_respected(spark, store):
    """A _merging lock left by a crashed compactor must not block the
    bucket forever: locks older than stale_lock_s are broken; fresh
    locks (a live compaction) are respected."""
    ingest(spark, store, puts(15), interval=10)
    c = Compactor(store, stale_lock_s=3600.0)
    # simulate a live holder: fresh lock blocks
    assert c._acquire_lock(BUCKET)
    assert not c.compact_bucket(BUCKET, force=True)
    # simulate a crashed holder: backdate the lock past the TTL
    fs, hpath, _ = store._fs(c._lock_path(BUCKET))
    old_ms = int((__import__("time").time() - 7200) * 1000)
    fs.setTimes(hpath, old_ms, old_ms)
    assert c.compact_bucket(BUCKET, force=True)
    assert store.read_staging(BUCKET).count() == 15
    # lock released after the successful run
    assert not store.exists(c._lock_path(BUCKET))


def test_compaction_keeps_opindex_ties_search_returns_one(spark, store):
    """Two rows of one key tied on the winning opIndex: compaction's
    dense_rank keeps both (ref: TableFilesCompactor.scala:162-167), while
    search's row_number returns exactly one (ref:
    MetadataQueryExecutor.scala:177-180). The older version is dropped."""
    lines = [
        wire_event(op(1), "put", BUCKET, "k", put_doc("k", BUCKET, **{"content-length": 1})),
        wire_event(op(2), "put", BUCKET, "k", put_doc("k", BUCKET, **{"content-length": 2})),
        wire_event(op(2), "put", BUCKET, "k", put_doc("k", BUCKET, **{"content-length": 3})),
    ]
    ingest(spark, store, lines)
    ex = MetadataQueryExecutor(spark, store)
    before = ex.execute(MetadataQuery(BUCKET)).collect()
    assert [r["key"] for r in before] == ["k"]
    assert before[0]["content-length"] in (2, 3)

    assert Compactor(store).compact_bucket(BUCKET, force=True)
    staged = store.read_staging(BUCKET).collect()
    assert sorted((r["opIndex"], r["message"]["content-length"]) for r in staged) == [
        (op(2), 2),
        (op(2), 3),
    ]
    after = ex.execute(MetadataQuery(BUCKET)).collect()
    assert [r["key"] for r in after] == ["k"]
    assert after[0]["content-length"] in (2, 3)


@pytest.mark.parametrize(
    "method,cached",
    [("execute_collected", False), ("execute_json", False), ("execute_collected", True)],
)
def test_search_racing_a_purge_replans(spark, store, method, cached):
    """A search whose plan listed landing files that a zero-tolerance
    compaction then purges must re-plan and return the compacted rows,
    not fail on the deleted files. The race is made deterministic by
    compacting between the landing and staging reads of the plan. With
    the cache on, the race hits the cache build."""
    from clueso_spark.operators.cache import BucketCacheManager

    ingest(spark, store, puts(25), interval=10)  # subpartitions 10,20,30
    cache = BucketCacheManager(expiry_s=0.0, cleanup_delay_s=0.0) if cached else None
    ex = MetadataQueryExecutor(spark, store, cache)
    q = MetadataQuery(BUCKET, limit=100)

    def keys():
        out = getattr(ex, method)(q)
        if method == "execute_json":
            return [r["key"] for r in json.loads(out)]
        return [r["key"] for r in out]

    expected = keys()
    assert len(expected) == 25

    read_staging = store.read_staging
    compacted = []

    def compact_then_read_staging(bucket):
        if not compacted:
            compacted.append(Compactor(store).compact_bucket(bucket))
        return read_staging(bucket)

    store.read_staging = compact_then_read_staging
    assert keys() == expected
    assert compacted == [True]
    assert store.sub_partitions("landing", BUCKET) == [30]
    if cache is not None:
        cache.invalidate()
