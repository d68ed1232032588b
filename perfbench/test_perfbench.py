"""Tests of the benchmark itself: the oracle catches wrong pages, the
generator is deterministic, the tiny smoke run prints every metric named
in BENCHMARK.json with its unit, and the benchmark refuses to run without
the engine next to it.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.gen import MIX, VERSION_KEY_CHAR, EventSource, default_shape  # noqa: E402
from perfbench.workload import check_page  # noqa: E402

SMOKE_SCALE = "0.05"


def _listing(bucket, rows, truncated, limit):
    from clueso_spark.server.rest import s3_xml_listing

    dict_rows = [{"key": k, "content-length": size} for k, size in rows]
    return s3_xml_listing(bucket, dict_rows, max_keys=limit, truncated=truncated).encode()


@pytest.fixture(scope="module")
def source():
    src = EventSource(7, default_shape(0.1))
    src.initial()
    return src


def _record(bucket, pred, start, limit, body):
    return {"bucket": bucket, "pred": pred, "start_after": start, "limit": limit,
            "status": 200, "body": body}


def test_oracle_accepts_its_own_pages(source):
    oracle = source.oracle
    for pred in MIX:
        start = None
        for _ in range(3):
            rows, truncated = oracle.page("large", pred, start, 20)
            rec = _record("large", pred, start, 20, _listing("large", rows, truncated, 20))
            assert check_page(oracle, rec) is None
            if not truncated:
                break
            start = rows[-1][0]


def test_oracle_flags_corrupted_pages(source):
    oracle = source.oracle
    pred = MIX[3]  # list everything
    visible = oracle.visible("large")
    state = oracle.state["large"]

    def page_around(key):
        """The 20-key page that starts right before ``key``."""
        earlier = [k for k in visible if k < key]
        start = earlier[-1] if earlier else None
        rows, truncated = oracle.page("large", pred, start, 20)
        return start, rows, truncated

    def flagged(start, bad_rows, truncated):
        rec = _record("large", pred, start, 20, _listing("large", bad_rows, truncated, 20))
        return check_page(oracle, rec) is not None

    tombstoned = next(k for k, (_, typ, _) in sorted(state.items())
                      if typ == "delete" and VERSION_KEY_CHAR not in k)
    versioned = next(k for k in sorted(state) if VERSION_KEY_CHAR in k)
    for hidden in (tombstoned, versioned):
        start, rows, truncated = page_around(hidden)
        assert not flagged(start, rows, truncated)
        # the hidden key put back in, in key order
        assert flagged(start, sorted(rows + [(hidden, 1)])[:20], truncated)

    start, rows, truncated = page_around(visible[0])
    assert truncated
    # a dropped key, a wrong size, a wrong order, a wrong truncation flag
    assert flagged(start, rows[1:], truncated)
    assert flagged(start, [(rows[0][0], rows[0][1] + 1)] + rows[1:], truncated)
    assert flagged(start, rows[::-1], truncated)
    assert flagged(start, rows, False)
    # a non-200 response is a failed page
    assert check_page(oracle, dict(_record("large", pred, None, 20, b""), status=500))


def test_generator_is_deterministic():
    a, b = EventSource(3, default_shape(0.05)), EventSource(3, default_shape(0.05))
    assert a.initial() == b.initial()
    assert a.live_batch("live", 10) == b.live_batch("live", 10)
    c = EventSource(4, default_shape(0.05))
    assert c.initial() != EventSource(3, default_shape(0.05)).initial()


def _benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args, timeout=400):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(trace):
    """Tiny-size runs of every workload: correct, and every metric of the
    run's kind is printed by name with its unit."""
    spec = _benchmark_spec()
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end" if not trace else "per_layer"]}
    for wl in spec["workloads"]:
        proc = _run(ROOT, "--workload", wl["name"], "--seed", "5", "--seconds", "4",
                    "--trace", str(trace), "--scale", SMOKE_SCALE)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == wanted


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".perfbench_work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(tmp_path, "--workload", "search_merge", "--seed", "1", "--seconds", "1",
                "--trace", "0", timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
