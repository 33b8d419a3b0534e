"""The benchmark's own tests: generators are deterministic, and every
correctness check rejects a corrupted result. No Spark is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from procfs import CpuSnapshot, PeakRss, cpu_between, cpu_snapshot, tree_rss_bytes  # noqa: E402
from spans import Span, Tracer, progress_summary  # noqa: E402

SPEC = gen.load_spec()


def _ingest(seed: int = 3) -> gen.IngestInputs:
    return gen.ingest_inputs(seed, SPEC["ingest"], initial_events=1500, batches=3)


# ------------------------------------------------------------------ generators

def test_ingest_files_are_byte_identical_per_seed(tmp_path):
    def write(seed, name):
        out = []
        for i, rows in enumerate(_ingest(seed).batches):
            path = tmp_path / f"{name}{i}.ndjson"
            gen.write_ndjson(str(path), rows)
            out.append(path.read_bytes())
        return out

    assert write(3, "a") == write(3, "b")
    assert write(3, "c") != write(4, "d")


def test_ingest_batches_have_their_stated_shares():
    inputs = _ingest()
    spec = SPEC["ingest"]
    rows = inputs.batches[1]
    assert len(rows) == spec["batch_rows"]
    urls = [r["url"] for r in rows]
    updates = {u for u in urls if gen.url_key_rev(u)[0] < len(inputs.batches[0])}
    assert len(updates) == round(spec["batch_rows"] * spec["update_share"])
    assert len(urls) - len(set(urls)) == round(spec["batch_rows"] * spec["duplicate_share"])
    dated = {r["date_text"] for r in rows if "date_text" in r}
    assert dated  # messy formats, clustered days
    # latest wins: an update replaces the initial load's url
    key = gen.url_key_rev(next(iter(updates)))[0]
    assert gen.url_key_rev(inputs.expected(1)[key])[1] == 1


def test_analytics_tables_are_byte_identical_per_seed(tmp_path):
    gen.analytics_tables(5, 0.001, str(tmp_path / "a"))
    gen.analytics_tables(5, 0.001, str(tmp_path / "b"))
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes(), name


def test_api_requests_are_seeded_and_cover_every_kind():
    spec = SPEC["ingest"]["api_probe"]
    ids = [f"e{i}" for i in range(50)]
    a = gen.api_requests(7, spec, ids, ["Pacha Ibiza", "Eden"], ["Dave Lee"])
    assert a == gen.api_requests(7, spec, ids, ["Pacha Ibiza", "Eden"], ["Dave Lee"])
    assert a != gen.api_requests(8, spec, ids, ["Pacha Ibiza", "Eden"], ["Dave Lee"])
    assert sorted(r.kind for r in a) == sorted(spec["kinds"] * spec["per_kind"])


def test_stream_expected_outputs():
    inputs = gen.stream_inputs(2, SPEC["stream_join"])
    assert inputs == gen.stream_inputs(2, SPEC["stream_join"])
    ids = [c["click_id"] for c in inputs.clicks]
    assert len(ids) > len(set(ids))  # duplicates present
    assert [d[0] for d in inputs.expected_dedup] == sorted(set(ids))
    for u, tc, tp in inputs.expected_join:
        assert tc <= tp
    assert inputs.expected_join


# ------------------------------------------------------------------ checks

def test_ingest_check_accepts_the_answer_and_rejects_corruptions():
    expected = _ingest().expected(2)
    urls = list(expected.values())
    assert checks.ingest_failures(urls, expected) == set()
    assert checks.ingest_failures(urls[1:], expected)  # a row lost
    assert checks.ingest_failures(urls + urls[:1], expected)  # a row twice
    key, rev = gen.url_key_rev(urls[0])
    stale = [gen.event_url(key, rev + 5)] + urls[1:]  # the wrong version won
    assert checks.ingest_failures(stale, expected) == {rev, rev + 5}


def test_api_check_rejects_corruptions():
    want = [("e1", "A", "Eden", "2026-07-01T23:00:00Z", 0.75), ("e2", "B", "Lio", None, 0.5)]
    assert checks.rows_match(list(want), want)
    assert checks.rows_match([want[0][:4] + (0.7504,), want[1]], want)  # within rounding
    assert not checks.rows_match(want[:1], want)
    assert not checks.rows_match(want[::-1], want)  # order matters
    assert not checks.rows_match([want[0][:4] + (0.8,), want[1]], want)
    assert not checks.rows_match([("e1", "X") + want[0][2:], want[1]], want)


def test_analytics_check_rejects_corruptions():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, 2.25]})
    assert checks.oracle_mismatch(want.iloc[::-1], want) is None
    assert checks.oracle_mismatch(want.rename(columns={"v": "w"}), want) == "schema"
    assert checks.oracle_mismatch(want.iloc[:2], want) == "rows"
    bad = want.copy()
    bad.loc[1, "v"] = 1.5
    assert checks.oracle_mismatch(bad, want) == "values"


def test_stream_check_rejects_corruptions():
    want = gen.stream_inputs(2, SPEC["stream_join"]).expected_join
    assert checks.stream_mismatch(list(reversed(want)), want) == 0
    assert checks.stream_mismatch(want[1:], want) == 1
    assert checks.stream_mismatch(want + want[:1], want) == 1
    assert checks.stream_mismatch([(-1,) + want[0][1:]] + want[1:], want) == 2


# ------------------------------------------------------------------ spans, rss

def test_untraced_spans_time_without_spark():
    tr = Tracer(None, "t", enabled=False)
    with tr.span("outer") as sp:
        with tr.span("inner") as inner:
            pass
    assert sp.seconds >= inner.seconds >= 0
    assert inner.parent_id == sp.span_id and tr.spans == []


def test_inclusive_ledger_sums_the_subtree():
    tr = Tracer(None, "t", enabled=False)
    a = Span("a", 1, None, "t", 0.0, 3.0, ledger={"jobs": 1, "tasks": 4, "max_scan_tasks": 4})
    b = Span("b", 2, 1, "t", 1.0, 2.0, ledger={"jobs": 2, "tasks": 8, "max_scan_tasks": 8})
    c = Span("c", 3, None, "t", 4.0, 5.0, ledger={"jobs": 9})
    tr.spans = [a, b, c]
    got = tr.inclusive(a)
    assert (got["jobs"], got["tasks"], got["max_scan_tasks"]) == (3, 12, 8)


def test_progress_summary_reads_state_operators():
    p = {"batchId": 0, "numInputRows": 10,
         "durationMs": {"triggerExecution": 900, "addBatch": 700, "queryPlanning": 50, "walCommit": 20},
         "stateOperators": [{"numStateStoreInstances": 128, "commitTimeMs": 300, "numRowsTotal": 5,
                             "memoryUsedBytes": 1000, "numRowsDroppedByWatermark": 2}]}
    (row,) = progress_summary([p])
    assert row["trigger_ms"] == 900 and row["state_store_instances"] == 128
    assert row["rows_dropped_by_watermark"] == 2


def test_cpu_seconds_count_work_done():
    before = cpu_snapshot()
    sum(i * i for i in range(2 * 10**6))
    work, jit = cpu_between(before, cpu_snapshot())
    assert work > 0.05 and jit == 0.0  # no JVM below this process


def test_jit_threads_are_counted_apart():
    a = CpuSnapshot(10.0, {(1, "7"): 2.0, (1, "8"): 1.0})
    b = CpuSnapshot(16.0, {(1, "7"): 3.5, (1, "9"): 0.5})  # 8 exited, 9 started
    assert cpu_between(a, b) == (4.0, 2.0)


def test_peak_rss_sees_this_process():
    assert tree_rss_bytes([os.getpid()]) > 0
    with PeakRss(interval_s=0.01) as rss:
        blob = bytearray(32 * 2**20)
        blob[::4096] = b"x" * len(blob[::4096])
    assert rss.peak_mb > 32


@pytest.mark.parametrize("bench_key", ["end_to_end", "per_layer"])
def test_benchmark_names_are_unique(bench_key):
    import json

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as f:
        names = [m["name"] for m in json.load(f)[bench_key]]
    assert len(names) == len(set(names))
