"""refine's per-schema template memo (refine._templates): bounded, keyed on
the live SparkContext, and reused across calls whose ``now`` differs.
Output parity with the pre-template refine is tests/test_refine_golden.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
from datetime import datetime, timezone

from scraper_db_refine_merge_spark import refine as R

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "title string, venue string, date_text string"
ROWS = [("Glitterbox", "hi ibiza", "14 June 2025"), ("FUSE", "Privilege", "15/06/2025")]
NOW = datetime(2025, 6, 1, tzinfo=timezone.utc)


def test_template_reused_across_now_values(spark, monkeypatch):
    monkeypatch.setattr(R, "_templates", type(R._templates)())
    raw = spark.createDataFrame(ROWS, SCHEMA)
    R.refine(raw, "p", now=NOW)
    (template,) = R._templates.values()
    R.refine(raw, "p", now=datetime(2025, 8, 1, tzinfo=timezone.utc))
    assert list(R._templates.values()) == [template]


def test_template_memo_is_bounded(spark, monkeypatch):
    monkeypatch.setattr(R, "_templates", type(R._templates)())
    monkeypatch.setattr(R, "_TEMPLATE_MAX", 2)
    raw = spark.createDataFrame(ROWS, SCHEMA)
    for platform in ("a", "b", "a", "c"):  # "a" is used again before "c" evicts
        R.refine(raw, platform, now=NOW)
    assert [k[2] for k in R._templates] == ["a", "c"]


def test_template_built_once_per_key_under_threads(spark, monkeypatch):
    """Concurrent refine calls on two input shapes build each template
    exactly once (check-then-build under the memo lock), with more threads
    than cores and a short switch interval to provoke interleaving."""
    monkeypatch.setattr(R, "_templates", type(R._templates)())
    builds = []
    real = R._build_template

    def counting(*args):
        builds.append(args[1:])
        return real(*args)

    monkeypatch.setattr(R, "_build_template", counting)
    shapes = [spark.createDataFrame(ROWS, SCHEMA), spark.createDataFrame([("x",)], "title string")]
    results = []

    def worker(df):
        results.append(R.refine(df, "p", now=NOW))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(shapes[i % 2],)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 8
    assert len(builds) == 2 and len(R._templates) == 2


_RESTART = """
import json
from pyspark.sql import functions as F
from scraper_db_refine_merge_spark import refine as R
from scraper_db_refine_merge_spark.session import get_spark
from tests.test_refine_template import NOW, ROWS, SCHEMA

def run(spark):
    df = R.refine(spark.createDataFrame(ROWS, SCHEMA), "p", now=NOW)
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())

first = get_spark("restart-1")
before = run(first)
first.stop()
second = get_spark("restart-2")
after = run(second)
print(json.dumps({
    "same_rows": before == after,
    "templates": len(R._templates),
    "all_live": all(k[0] is second.sparkContext for k in R._templates),
}))
second.stop()
"""


def test_template_memo_follows_session_restart(tmp_path):
    """Stop the session, start a new one, run refine: the same rows come
    back, and the memo holds only templates of the live context (a stopped
    context's Column handles are never reused). Runs in its own process so
    the suite's shared session stays up."""
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="2")
    out = subprocess.run(
        [sys.executable, "-c", _RESTART], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"same_rows": True, "templates": 1, "all_live": True}
