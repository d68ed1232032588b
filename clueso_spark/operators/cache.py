"""Per-bucket TTL cache of merged latest-state DataFrames.

Port of SessionCacheManager (ref: query/cache/SessionCacheManager.scala:21-89):
queries against a bucket reuse a materialized (persisted) merged view for up
to ``expiry_s`` seconds; after expiry the next query triggers an async
rebuild while *stale reads keep being served* (non-blocking refresh); the old
DataFrame is unpersisted only after ``cleanup_delay_s`` so in-flight queries
on it can finish.

This is plain application-level orchestration (threading.Lock + dict), not a
Catalyst concern. At cluster scale the persisted view lives in executor
storage memory; a 100 TB store is cached per *bucket* (the unit a search
touches), not globally.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass
class _Entry:
    df: DataFrame
    created_at: float


class BucketCacheManager:
    def __init__(self, expiry_s: float = 60.0, cleanup_delay_s: float = 120.0):
        self.expiry_s = expiry_s
        self.cleanup_delay_s = cleanup_delay_s
        self._entries: dict[str, _Entry] = {}
        self._locks: dict[str, threading.Lock] = {}
        self._global = threading.Lock()

    def _lock_for(self, bucket: str) -> threading.Lock:
        with self._global:
            return self._locks.setdefault(bucket, threading.Lock())

    def get(self, bucket: str, builder: Callable[[], DataFrame]) -> DataFrame:
        """Return the cached merged view for ``bucket``, (re)building it when
        missing or expired. Refresh is non-blocking: if another thread is
        already rebuilding, the stale entry is served
        (ref: SessionCacheManager.scala:42-75)."""
        entry = self._entries.get(bucket)
        now = time.monotonic()
        if entry is not None and now - entry.created_at < self.expiry_s:
            return entry.df

        lock = self._lock_for(bucket)
        if lock.acquire(blocking=False):
            try:
                return self._build(bucket, builder)
            finally:
                lock.release()
        # rebuild in flight elsewhere: serve stale if we have it, else wait
        if entry is not None:
            return entry.df
        with lock:
            # re-check under the lock: the winning builder may have failed
            # (or invalidate() raced us) and left no entry -- rebuild here
            # rather than raising KeyError
            current = self._entries.get(bucket)
            if current is not None:
                return current.df
            return self._build(bucket, builder)

    def _build(self, bucket: str, builder: Callable[[], DataFrame]) -> DataFrame:
        """Build, persist and install a new entry; caller holds the bucket
        lock. A replaced entry is unpersisted after ``cleanup_delay_s``; a
        failed build is unpersisted at once, or Spark's cache would hand
        its broken plan to the next build of the same paths."""
        new_df = builder().persist()
        try:
            # eager materialization so queries hit memory, mirroring
            # cacheTable (ref: SessionCacheManager.scala:30-31,53)
            new_df.count()
        except Exception:
            new_df.unpersist()
            raise
        old = self._entries.get(bucket)
        self._entries[bucket] = _Entry(new_df, time.monotonic())
        if old is not None:
            self._schedule_unpersist(old.df)
        return new_df

    def _schedule_unpersist(self, df: DataFrame) -> None:
        """Delayed async unpersist so in-flight queries finish
        (ref: SessionCacheManager.scala:61-69)."""
        timer = threading.Timer(
            self.cleanup_delay_s, lambda: df.unpersist(blocking=False)
        )
        timer.daemon = True
        timer.start()

    def invalidate(self, bucket: str | None = None) -> None:
        with self._global:
            targets = [bucket] if bucket else list(self._entries)
            for b in targets:
                entry = self._entries.pop(b, None)
                if entry is not None:
                    entry.df.unpersist(blocking=False)
