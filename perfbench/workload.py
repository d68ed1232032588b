"""One benchmark run: set up a store through the real ingestion stream,
serve it over HTTP, drive a workload, check every page against the oracle.

Run by ``run.py`` in a child process; writes the result JSON to the path
given by ``--result``. The engine is wired exactly as a deployment wires
it: ``config.build_engine`` + ``server.SearchServer`` + a long-running
``streaming.pipeline.start_ingestion`` stream over a file inbox.

Set-up (timed as ``setup_s``, the same for every workload):
  1. Spark session start.
  2. Generate the seeded store and write it to the inbox as wire files.
  3. Start the ingestion stream (processing-time trigger) and wait until
     it has consumed every line.
  4. Run one ``Compactor.compact()`` cycle (all but the newest
     subpartition of each bucket moves to staging, so every search unions
     both tiers) while a client lists the large bucket.
  5. Availability: an open-loop writer drops small live batches, each
     with a sentinel key, into the inbox, and prober threads search a
     cache-off server until each sentinel shows: the PUT -> searchable
     latency through the running stream.
  6. Warm-up: one page of every bucket through the workload's server
     (with the cache on, these build the merged views), then the
     workload's clients run half the cycle of listing sessions, so every
     predicate of the mix has run on both bucket sizes before the timed
     window.
Then the timed window runs the same closed-loop search clients.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import random
import re
import statistics
import sys
import threading
import time
import xml.etree.ElementTree as ET
from urllib.parse import quote

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.gen import MIX, EventSource, default_shape  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Tracer,
    plan_counters,
    stage_counters,
    wrap_method,
)

S3 = "{http://s3.amazonaws.com/doc/2006-03-01/}"

#: workload -> whether the search server caches merged bucket views
CACHED = {"search_merge": False, "search_cached": True}

PAGE_LIMIT = 100
MAX_PAGES = 3
TRIGGER = "500 milliseconds"
SENTINELS = 36
SENTINEL_BATCH = 25
SENTINEL_TIMEOUT_S = 60.0
#: live batches are published, and each prober waits after each probe, for
#: seeded random times up to these (means: half). Fixed gaps fell into a
#: phase with the stream's 500 ms trigger that differed from run to run,
#: and the availability median of a run jumped by ~0.45 s with it
SENTINEL_GAP_MAX_S = 0.4
PROBE_PAUSE_MAX_S = 0.5
PROBERS = 2
STATIC_BUCKETS = ("large", "small1", "small2")
#: one cycle of listing sessions: every predicate of the mix on every
#: static bucket, the large bucket twice (half the sessions hit it). In
#: groups of four -- large, small, large, small -- each group holding all
#: four predicates, so any stretch of the cycle runs about the same mix
SESSIONS = tuple(
    (bucket, MIX[(slot + g) % len(MIX)])
    for g in range(4)
    for slot, bucket in enumerate(("large", ("small1", "small2")[g % 2],
                                   "large", ("small2", "small1")[g % 2]))
)
#: the availability phase's live batches land in an existing, compacted
#: bucket, so its searches union staging with the new landing files
LIVE_BUCKET = "small1"


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


# -- HTTP -------------------------------------------------------------------


def http_get(url_host: tuple[str, int], bucket: str, where: str,
             start_after: str | None, limit: int) -> tuple[int, bytes]:
    path = f"/{quote(bucket)}?search={quote(where)}&limit={limit}"
    if start_after is not None:
        path += f"&start-after={quote(start_after)}"
    conn = http.client.HTTPConnection(*url_host, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    except (OSError, http.client.HTTPException) as e:
        # no response at all: status 0, counted as a failed request
        return 0, repr(e).encode()
    finally:
        conn.close()


_NEXT_RE = re.compile(rb"<NextStartAfter>(.*?)</NextStartAfter>")


def parse_listing(body: bytes) -> tuple[list[tuple[str, int]], bool, str | None]:
    root = ET.fromstring(body)
    rows = [(c.findtext(f"{S3}Key"), int(c.findtext(f"{S3}Size")))
            for c in root.iter(f"{S3}Contents")]
    truncated = root.findtext(f"{S3}IsTruncated") == "true"
    return rows, truncated, root.findtext(f"{S3}NextStartAfter")


def check_page(oracle, rec: dict) -> str | None:
    """None when the page equals the oracle's, else a short reason."""
    if rec["status"] != 200:
        return f"HTTP {rec['status']}: {rec['body'][:300]!r}"
    try:
        rows, truncated, nxt = parse_listing(rec["body"])
    except ET.ParseError as e:
        return f"bad XML: {e}"
    exp_rows, exp_trunc = oracle.page(rec["bucket"], rec["pred"], rec["start_after"], rec["limit"])
    if rows != exp_rows:
        return f"rows differ ({len(rows)} vs {len(exp_rows)} expected)"
    if truncated != exp_trunc:
        return "IsTruncated differs"
    exp_next = exp_rows[-1][0] if exp_trunc and exp_rows else None
    if nxt != exp_next:
        return "NextStartAfter differs"
    return None


# -- the run --------------------------------------------------------------


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args):
        self.args = args
        self.work = args.work_dir
        self.clients = len(os.sched_getaffinity(0))
        # where each client is in the cycle of listing sessions
        self.cycle_pos = [c * len(SESSIONS) // self.clients for c in range(self.clients)]
        self.tracer = Tracer()
        self.traced = bool(args.trace)
        self.failures: list[str] = []
        self.attempted = 0
        self.progress: list[dict] = []
        self.lines_written = 0
        self._lock = threading.Lock()
        self.landing_files: dict[str, int] = {}
        self.in_window = False

    # -- streaming listener -----------------------------------------------

    def _listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        run = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                drops = (p.observedMetrics or {}).get("ingest_drops")
                with run._lock:
                    run.progress.append({
                        "rows": p.numInputRows,
                        "ms": p.durationMs.get("triggerExecution", 0),
                        "dropped": (drops["null_type"] + drops["null_op_index"]) if drops else 0,
                        "backlog": run.lines_written - sum(x["rows"] for x in run.progress) - p.numInputRows,
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Progress()

    def ingested(self) -> int:
        with self._lock:
            return sum(p["rows"] for p in self.progress)

    def write_inbox(self, name: str, lines: list[str]) -> float:
        """Atomically publish one wire file; returns its publish time."""
        tmp = os.path.join(self.inbox, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        with self._lock:
            self.lines_written += len(lines)
        os.rename(tmp, os.path.join(self.inbox, name))
        return time.perf_counter()

    def scan_landing(self) -> None:
        for dirpath, _, names in os.walk(self.store.landing):
            for n in names:
                if n.startswith("part-"):
                    p = os.path.join(dirpath, n)
                    try:
                        self.landing_files[p] = os.path.getsize(p)
                    except FileNotFoundError:
                        pass

    def store_bytes(self) -> int:
        total = 0
        for tier in (self.store.landing, self.store.staging):
            for dirpath, _, names in os.walk(tier):
                total += sum(os.path.getsize(os.path.join(dirpath, n))
                             for n in names if n.startswith("part-"))
        return total

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        from clueso_spark.config import CluesoSparkConfig, build_engine
        from clueso_spark.server.rest import SearchServer
        from clueso_spark.session import get_spark
        from clueso_spark.streaming.pipeline import file_event_stream, start_ingestion

        t0 = time.perf_counter()
        self.spark = spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        log("session started")

        self.src = EventSource(self.args.seed, default_shape(self.args.scale))
        self.inbox = os.path.join(self.work, "inbox")
        os.makedirs(self.inbox)
        files = self.src.initial()
        for i, lines in enumerate(files):
            self.write_inbox(f"bulk-{i:04d}.jsonl", lines)
        log(f"generated {self.lines_written} wire lines")

        self.cfg = CluesoSparkConfig(
            store_root=os.path.join(self.work, "store"),
            checkpoint_path=os.path.join(self.work, "checkpoint"),
            trigger_processing_time=TRIGGER,
            # four maxOpIndex subpartitions per bucket
            compaction_record_interval=-(-(self.src.next_op - 1) // 4),
            cache_dataframes=CACHED[self.args.workload],
            cache_expiry_s=3600.0,
            cache_cleanup_delay_s=3600.0,
            # compacted landing files stay until the searches running
            # beside compaction are done (purged right after); with no
            # tolerance a search racing the purge fails with HTTP 500
            landing_purge_tolerance_s=3600.0,
        )
        self.engine = build_engine(spark, self.cfg)
        self.store = self.engine.store
        # availability is always probed through a cache-off server: a
        # cached view hides new writes until it expires, by design
        self.probe_engine = build_engine(spark, CluesoSparkConfig(
            store_root=self.cfg.store_root, cache_dataframes=False))
        if self.traced:
            self.install_tracing()

        spark.streams.addListener(self._listener())
        self.stream = start_ingestion(
            file_event_stream(spark, self.inbox),
            self.store,
            self.cfg.checkpoint_path,
            compaction_record_interval=self.cfg.compaction_record_interval,
            trigger_processing_time=self.cfg.trigger_processing_time,
        )
        self.wait_ingested(self.lines_written, 150.0)
        self.bulk_batches = len(self.progress)
        log(f"bulk ingested in {self.bulk_batches} batches of "
            f"{[p['ms'] for p in self.progress]} ms")
        self.scan_landing()

        self.probe_server = SearchServer(self.probe_engine.executor).__enter__()
        self.server = SearchServer(self.engine.executor).__enter__()
        self.compaction()
        log(f"compaction done in {self.compact_s:.2f} s")
        self.availability()
        log(f"availability p50 {pct(self.availability_ms, 50):.0f} ms, "
            f"{len(self.probe_ms)} probes of p50 {pct(self.probe_ms, 50):.0f} ms")
        self.warm_up()
        log("warm-up done")
        self.tracer.enabled = False
        self.setup_s = time.perf_counter() - T_START

    def wait_ingested(self, n: int, timeout_s: float) -> None:
        deadline = time.perf_counter() + timeout_s
        while self.ingested() < n:
            if self.stream.exception() is not None:
                raise RuntimeError(f"ingestion stream failed: {self.stream.exception()}")
            if time.perf_counter() > deadline:
                raise RuntimeError(f"ingestion stalled at {self.ingested()}/{n} lines")
            time.sleep(0.05)

    def probe(self, stop: threading.Event, published: dict, seen: dict,
              rng: random.Random) -> None:
        """Search the live batches' bucket for sentinels, pausing a random
        time after each probe, until ``stop`` is set; record when each
        published sentinel first shows."""
        host = self.probe_server._httpd.server_address[:2]
        while not stop.wait(rng.uniform(0.0, PROBE_PAUSE_MAX_S)):
            t0 = time.perf_counter()
            status, body = http_get(host, LIVE_BUCKET, "key LIKE 'sentinel/%'", None, 1000)
            t1 = time.perf_counter()
            self.probe_ms.append((t1 - t0) * 1e3)
            with self._lock:
                self.attempted += 1
            try:
                if status != 200:
                    raise ValueError(f"HTTP {status}")
                rows = parse_listing(body)[0]
            except (ValueError, ET.ParseError) as e:
                with self._lock:
                    self.failures.append(f"probe: {e}")
                continue
            with self._lock:
                for key, _ in rows:
                    if key in published and key not in seen:
                        seen[key] = t1
                if len(seen) == SENTINELS:
                    stop.set()

    def compaction(self) -> None:
        """One compaction cycle while a client lists the large bucket
        through the cache-off server (its pages are checked like the timed
        window's)."""
        host = self.probe_server._httpd.server_address[:2]
        self.probe_windows: list[tuple[float, float, float]] = []
        pages: list[dict] = []
        compacting = threading.Event()

        def lister():
            while not compacting.is_set():
                t0 = time.perf_counter()
                status, body = http_get(host, "large", "", None, PAGE_LIMIT)
                t1 = time.perf_counter()
                self.probe_windows.append((t0, t1, (t1 - t0) * 1e3))
                pages.append({"bucket": "large", "pred": MIX[3], "start_after": None,
                              "limit": PAGE_LIMIT, "status": status, "body": body})

        thread = threading.Thread(target=lister)
        thread.start()
        t0 = time.perf_counter()
        try:
            self.engine.compactor.compact()
        except Exception as e:  # noqa: BLE001 -- counted as a failed operation
            self.failures.append(f"compaction: {e!r}")
        self.compact_window = (t0, time.perf_counter())
        self.compact_s = self.compact_window[1] - t0
        compacting.set()
        thread.join()
        self.engine.compactor.flush_purges(immediate=True)
        self.attempted += 1
        self.check_pages(pages)

    def availability(self) -> None:
        """An open-loop writer publishes live batches, each holding a
        sentinel key, while probers search for them through the cache-off
        server: PUT -> searchable latency."""
        published: dict[str, float] = {}
        seen: dict[str, float] = {}
        probing = threading.Event()

        timing = random.Random(self.args.seed)

        def writer():
            t_next = time.perf_counter()
            for i in range(SENTINELS):
                lines, sentinel = self.src.live_batch(LIVE_BUCKET, SENTINEL_BATCH)
                # open loop: publish on schedule, however far behind the
                # stream is
                time.sleep(max(0.0, t_next - time.perf_counter()))
                published[sentinel] = self.write_inbox(f"live-{i:04d}.jsonl", lines)
                t_next += timing.uniform(0.0, SENTINEL_GAP_MAX_S)

        self.probe_ms: list[float] = []
        threads = [threading.Thread(target=writer)]
        threads += [threading.Thread(target=self.probe, args=(
                        probing, published, seen, random.Random(timing.random())))
                    for _ in range(PROBERS)]
        for t in threads:
            t.start()
        threads[0].join()
        if not probing.wait(SENTINEL_TIMEOUT_S):
            probing.set()
        for t in threads[1:]:
            t.join()

        self.attempted += SENTINELS
        self.availability_ms = [(seen[k] - published[k]) * 1e3 for k in published if k in seen]
        missing = SENTINELS - len(self.availability_ms)
        if missing:
            self.failures.append(f"{missing} sentinel(s) never became searchable")

    def warm_up(self) -> None:
        """One page per static bucket, all buckets at once (with the cache
        on this builds each bucket's merged view), then the clients run
        half the session cycle; the warm-up pages are checked too."""
        host = self.server._httpd.server_address[:2]
        statuses = []

        def one(bucket):
            statuses.append(http_get(host, bucket, "", None, PAGE_LIMIT)[0])

        threads = [threading.Thread(target=one, args=(b,)) for b in STATIC_BUCKETS]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if statuses != [200] * len(threads):
            raise RuntimeError(f"warm-up requests failed: HTTP {statuses}")
        self.check_pages(self.run_clients(None)[0])

    # -- timed window -------------------------------------------------------

    def run_clients(self, seconds: float | None) -> tuple[list[dict], float]:
        """The closed-loop clients for ``seconds``: the completed pages and
        the summed per-client rate (pages / time to the client's last
        completed page; a page still running at the deadline is dropped).
        With ``seconds=None`` each client instead runs its share of half
        the session cycle and stops: from evenly spaced starts, that covers
        every predicate on both bucket sizes.

        Every client walks the cycle of ``SESSIONS``, starting evenly
        spaced around it and carrying on where it stopped, so every window
        runs about the same mix whatever the seed."""
        host = self.server._httpd.server_address[:2]
        records: list[dict] = []
        rates: list[float] = []
        t_start = time.perf_counter()
        deadline = math.inf if seconds is None else t_start + seconds
        share = -(-len(SESSIONS) // (2 * self.clients))

        def client(cid: int):
            done, t_last = 0, t_start
            for _ in range(share) if seconds is None else itertools.count():
                bucket, pred = SESSIONS[self.cycle_pos[cid] % len(SESSIONS)]
                self.cycle_pos[cid] += 1
                start = None
                for _ in range(MAX_PAGES):
                    t0 = time.perf_counter()
                    with self.tracer.span("http.request"):
                        status, body = http_get(host, bucket, pred.where, start, PAGE_LIMIT)
                    t1 = time.perf_counter()
                    if t1 > deadline:
                        with self._lock:
                            rates.append(done / (t_last - t_start) if done else 0.0)
                        return
                    done, t_last = done + 1, t1
                    with self._lock:
                        records.append({"bucket": bucket, "pred": pred, "start_after": start,
                                        "limit": PAGE_LIMIT, "status": status, "body": body,
                                        "ms": (t1 - t0) * 1e3})
                    m = _NEXT_RE.search(body) if status == 200 else None
                    if m is None:
                        break
                    start = m.group(1).decode()

        threads = [threading.Thread(target=client, args=(i,)) for i in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records, sum(rates)

    def timed(self) -> None:
        seconds = self.args.seconds
        self.tracer.requests.clear()
        self.tracer.counters.clear()
        if self.traced:
            # quarters untraced, traced, traced, untraced: the tracing
            # overhead, measured within one run and balanced against drift
            self.untraced_records, self.records = [], []
            for on in (False, True, True, False):
                self.tracer.enabled = self.in_window = on
                recs, _ = self.run_clients(seconds / 4.0)
                (self.records if on else self.untraced_records).extend(recs)
            self.tracer.enabled = self.in_window = False
            all_records = self.untraced_records + self.records
        else:
            self.records, self.qps = self.run_clients(seconds)
            all_records = self.records
        self.check_pages(all_records)

    def check_pages(self, records: list[dict]) -> None:
        self.attempted += len(records)
        for rec in records:
            why = check_page(self.src.oracle, rec)
            if why is not None:
                self.failures.append(f"{rec['bucket']} {rec['pred'].name} after={rec['start_after']!r}: {why}")

    # -- final checks -----------------------------------------------------

    def final_checks(self) -> None:
        """Every live batch ingested, the bucket the live batches went to
        lists exactly the oracle's state, and the ingest filter counted
        every malformed envelope."""
        self.wait_ingested(self.lines_written, 60.0)
        host = self.probe_server._httpd.server_address[:2]
        start, got = None, []
        while True:
            status, body = http_get(host, LIVE_BUCKET, "", start, 1000)
            if status != 200:
                self.failures.append(f"live listing HTTP {status}")
                break
            rows, truncated, nxt = parse_listing(body)
            got += rows
            if not truncated:
                break
            start = nxt
        self.attempted += 2
        exp, _ = self.src.oracle.page(LIVE_BUCKET, MIX[3], None, 10**9)
        if got != exp:
            self.failures.append(f"live bucket listing differs ({len(got)} vs {len(exp)} keys)")
        dropped = sum(p["dropped"] for p in self.progress)
        if dropped != self.src.oracle.malformed:
            self.failures.append(
                f"ingest_drops counted {dropped}, {self.src.oracle.malformed} malformed envelopes injected")
        self.scan_landing()

    # -- tracing wrappers ---------------------------------------------------

    def install_tracing(self) -> None:
        import clueso_spark.server.rest as rest

        tr, spark = self.tracer, self.spark
        sc = spark.sparkContext
        ex = self.engine.executor
        captured = threading.local()

        def t_execute(orig, query):
            t0 = time.perf_counter()
            with tr.span("query.execute"):
                df = orig(query)
            tr.add("plan_ms", (time.perf_counter() - t0) * 1e3)
            captured.df = df
            return df

        def t_collected(orig, query):
            with tr.request() as rid:
                group = f"perfbench-{rid}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                with tr.span("executor.execute_collected"):
                    rows = orig(query)
                tr.add("executor_ms", (time.perf_counter() - t0) * 1e3)
                tr.add("rows", len(rows))
                if tr.enabled:
                    # plan metrics are read after the window closes, so
                    # the py4j walk adds nothing to the traced latency
                    tr.requests[rid]["df"] = captured.df
                    tr.requests[rid]["group"] = group
                sc.setLocalProperty("spark.jobGroup.id", None)
            return rows

        wrap_method(ex, "execute", t_execute)
        wrap_method(ex, "execute_collected", t_collected)

        depth = threading.local()

        def t_store(name):
            def wrapper(orig, *a, **kw):
                top = getattr(depth, "n", 0) == 0
                depth.n = getattr(depth, "n", 0) + 1
                t0 = time.perf_counter()
                try:
                    with tr.span(f"store.{name}"):
                        return orig(*a, **kw)
                finally:
                    depth.n -= 1
                    if top:
                        tr.add("list_calls", 1)
                        tr.add("list_ms", (time.perf_counter() - t0) * 1e3)
            return wrapper

        for name in ("exists", "list_partition_values", "read_landing", "read_staging"):
            wrap_method(self.store, name, t_store(name))

        if ex.cache is not None:
            def t_cache(orig, bucket, build):
                built = []

                def counting_build():
                    built.append(1)
                    return build()

                t0 = time.perf_counter()
                with tr.span("cache.get"):
                    df = orig(bucket, counting_build)
                ms = (time.perf_counter() - t0) * 1e3
                # builds happen in warm-up (set-up); hit ratio and hit time
                # count the traced window's lookups only
                self.cache_events.append((bool(built), ms, self.in_window))
                return df

            wrap_method(ex.cache, "get", t_cache)

        render = rest.s3_xml_listing

        def t_render(*a, **kw):
            t0 = time.perf_counter()
            with tr.span("rest.render"):
                body = render(*a, **kw)
            tr.sample("render_ms", (time.perf_counter() - t0) * 1e3)
            return body

        rest.s3_xml_listing = t_render

        comp = self.engine.compactor

        def t_compact_bucket(orig, bucket, force=False):
            subs = comp.sub_partitions_to_compact(bucket, force)
            inputs = [p for s in subs for p in self._parquet_files(
                os.path.join(self.store.landing, f"bucket={bucket}", f"maxOpIndex={s}"))]
            staged_before = set(self._parquet_files(os.path.join(self.store.staging, f"bucket={bucket}")))
            rows_in = sum(self._footer_rows(p) for p in inputs)
            bytes_in = sum(os.path.getsize(p) for p in inputs)
            t0 = time.perf_counter()
            with tr.span("compact.bucket"):
                did = orig(bucket, force)
            ms = (time.perf_counter() - t0) * 1e3
            new = [p for p in self._parquet_files(os.path.join(self.store.staging, f"bucket={bucket}"))
                   if p not in staged_before]
            if did:
                self.compact_events.append({
                    "ms": ms, "rows_in": rows_in, "rows_out": sum(self._footer_rows(p) for p in new),
                    "bytes_in": bytes_in, "bytes_out": sum(os.path.getsize(p) for p in new)})
            return did

        self.cache_events: list[tuple[bool, float, bool]] = []
        self.compact_events: list[dict] = []
        wrap_method(comp, "compact_bucket", t_compact_bucket)
        # spans of set-up work are recorded too; the request counters only
        # inside the traced slices of the window
        tr.enabled = True

    @staticmethod
    def _parquet_files(path: str) -> list[str]:
        out = []
        for dirpath, _, names in os.walk(path):
            out += [os.path.join(dirpath, n) for n in names if n.startswith("part-")]
        return out

    @staticmethod
    def _footer_rows(path: str) -> int:
        import pyarrow.parquet as pq

        return pq.read_metadata(path).num_rows

    # -- results --------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        lat = [r["ms"] for r in self.records]
        # the bulk backlog drained by the stream, without its first
        # (cold, JIT-compiling) batch
        warm = [p for p in self.progress[1:self.bulk_batches] if p["rows"] > 0]
        busy_s = sum(p["ms"] for p in warm) / 1e3
        attempted = max(self.attempted, 1)
        return {
            "setup_s": (self.setup_s, "s"),
            "search_p50_ms": (pct(lat, 50), "ms"),
            "search_p75_ms": (pct(lat, 75), "ms"),
            "search_qps": (self.qps, "req/s"),
            "ingest_events_per_s": (sum(p["rows"] for p in warm) / busy_s if busy_s else 0.0, "events/s"),
            "availability_p50_ms": (pct(self.availability_ms, 50), "ms"),
            "compact_s": (self.compact_s, "s"),
            "store_bytes_per_live_key": (self.store_bytes() / max(self.src.oracle.live_keys(), 1), "bytes"),
            "success_ratio": (1.0 - len(self.failures) / attempted, "fraction"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        tr = self.tracer
        reqs = [r for r in tr.requests.values() if "group" in r]
        time.sleep(1.0)  # let the listener bus deliver the last stage events
        for r in reqs:
            ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(r["group"])
            for k, v in stage_counters(self.spark, ids).items():
                r[k] = v
            for k, v in plan_counters(r.pop("df")).items():
                r[k] = v

        def per_req(field):
            return mean(r.get(field, 0.0) for r in reqs)

        rows_returned = sum(r.get("rows", 0) for r in reqs)
        rows_in = sum(r.get("scan_rows", 0) for r in reqs)
        rows_out = sum(r.get("window_out", 0) for r in reqs)
        examined = sum(r.get("scan_rows", 0) + r.get("mem_rows", 0) for r in reqs)
        lat = [r["ms"] for r in self.records]
        hits = [ms for built, ms, on in self.cache_events if on and not built]
        lookups = [1 for _, _, on in self.cache_events if on]
        builds = [ms for built, ms, _ in self.cache_events if built]
        batches = [p for p in self.progress if p["rows"] > 0]
        events_in = sum(p["rows"] for p in batches)
        landing_bytes = sum(self.landing_files.values())
        comp = self.compact_events
        c_in = sum(c["bytes_in"] for c in comp)
        during = [ms for t0, t1, ms in self.probe_windows
                  if t1 > self.compact_window[0] and t0 < self.compact_window[1]]
        untraced = pct([r["ms"] for r in self.untraced_records], 50)
        traced = pct(lat, 50)
        storage = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {
            "session.start_s": (self.session_start_s, "s"),
            "store.list_calls": (per_req("list_calls"), "count"),
            "store.list_ms": (per_req("list_ms"), "ms"),
            "store.files_read": (per_req("files"), "count"),
            "store.bytes_read": (per_req("bytes"), "bytes"),
            "store.rows_scanned": (per_req("scan_rows"), "count"),
            "merge.rows_in": (per_req("scan_rows"), "count"),
            "merge.rows_out": (per_req("window_out"), "count"),
            "merge.keep_ratio": (rows_out / rows_in if rows_in else 0.0, "fraction"),
            "merge.shuffle_bytes": (per_req("shuffle_bytes"), "bytes"),
            "merge.task_ms": (per_req("window_task_ms"), "ms"),
            "query.plan_ms": (per_req("plan_ms"), "ms"),
            "query.collect_ms": (per_req("executor_ms") - per_req("plan_ms"), "ms"),
            "query.spark_jobs": (per_req("jobs"), "count"),
            "query.tasks": (per_req("tasks"), "count"),
            "query.rows_examined_per_result": (examined / rows_returned if rows_returned else 0.0, "rows"),
            "cache.hit_ratio": (len(hits) / len(lookups) if lookups else 0.0, "fraction"),
            "cache.hit_ms": (mean(hits), "ms"),
            "cache.build_ms": (mean(builds), "ms"),
            "cache.mem_bytes": (float(sum(i.memSize() for i in storage)), "bytes"),
            "rest.overhead_ms": (mean(lat) - per_req("executor_ms"), "ms"),
            "rest.render_ms": (mean(tr.counters["render_ms"]), "ms"),
            "rest.response_bytes": (mean(len(r["body"]) for r in self.records), "bytes"),
            "ingest.batch_ms": (statistics.median(p["ms"] for p in batches), "ms"),
            "ingest.rows_per_batch": (events_in / len(batches), "count"),
            "ingest.dropped": (float(sum(p["dropped"] for p in self.progress)), "count"),
            "ingest.backlog_events": (mean(p["backlog"] for p in batches), "count"),
            "ingest.bytes_written_per_event": (landing_bytes / events_in, "bytes"),
            "ingest.files_per_batch": (len(self.landing_files) / len(batches), "count"),
            "compact.bucket_ms": (mean(c["ms"] for c in comp), "ms"),
            "compact.rows_in": (float(sum(c["rows_in"] for c in comp)), "count"),
            "compact.rows_out": (float(sum(c["rows_out"] for c in comp)), "count"),
            "compact.bytes_rewritten": (float(sum(c["bytes_out"] for c in comp)), "bytes"),
            "compact.write_amp": (sum(c["bytes_out"] for c in comp) / c_in if c_in else 0.0, "ratio"),
            "compact.search_p50_during_ms": (pct(during, 50), "ms"),
            "trace.untraced_p50_ms": (untraced, "ms"),
            "trace.overhead_ratio": (traced / untraced if untraced else 0.0, "ratio"),
        }

    def close(self) -> None:
        if getattr(self, "stream", None) is not None:
            self.stream.stop()
        for name in ("server", "probe_server"):
            s = getattr(self, name, None)
            if s is not None:
                s.__exit__(None, None, None)
        if getattr(self, "spark", None) is not None:
            self.spark.stop()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CACHED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args(argv)

    run = Run(args)
    try:
        run.setup()
        run.timed()
        log("timed window done")
        run.final_checks()
        log("final checks done")
        metrics = run.per_layer() if run.traced else run.end_to_end()
    finally:
        run.close()
        log("closed")
    if run.traced and args.trace_out:
        run.tracer.write(args.trace_out)
    for f in run.failures[:20]:
        print("FAILED:", f, file=sys.stderr)
    import pyspark

    result = {
        "spark_version": pyspark.__version__,
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
