"""Untimed correctness checks, one per workload.

Each check compares what the engine produced with an answer computed
outside Spark (the generator's own bookkeeping, or DuckDB over the same
files) and says what disagrees; the workloads count each disagreement as
a failed operation.
The functions take plain Python values, so the benchmark's tests can feed
them corrupted results without starting Spark.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from gen import url_key_rev


# ------------------------------------------------------------------ ingest

def url_checksum(urls) -> int:
    """Order-free checksum over a multiset of urls."""
    return sum(int.from_bytes(hashlib.blake2b(u.encode(), digest_size=8).digest(), "big")
               for u in urls) % 2**64


def ingest_failures(store_urls: list[str], expected: dict[int, str]) -> set[int]:
    """Batches (by revision) the store disagrees with. `store_urls` holds one
    source url per stored row; `expected` maps each generated event to the
    url of its latest-wins version. Equal row count and url checksum are
    the fast path; otherwise every missing, extra or stale row names the
    batch that should have written it."""
    if len(store_urls) == len(expected) and url_checksum(store_urls) == url_checksum(expected.values()):
        return set()
    bad: set[int] = set()
    seen: set[int] = set()
    for u in store_urls:
        key, rev = url_key_rev(u)
        if key in seen or expected.get(key) != u:
            bad.add(rev)
            if key in expected:
                bad.add(url_key_rev(expected[key])[1])
        seen.add(key)
    for key, u in expected.items():
        if key not in seen:
            bad.add(url_key_rev(u)[1])
    return bad


# ------------------------------------------------------------------ read API

def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Equal ordered rows. Floats agree within 1.5e-3: the API rollups round
    averages to 3 places on both sides, and two engines summing in another
    order may land on either side of a rounding boundary."""
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, abs_tol=1.5e-3):
                    return False
            elif x != y:
                return False
    return True


# ------------------------------------------------------------------ analytics

def oracle_mismatch(got, want) -> str | None:
    """None when two pandas results agree as tools/oracle_check.py compares
    them (columns by name, row count, sorted canonical rows), else what
    differs."""
    from tools.oracle_check import canonize

    if sorted(got.columns) != sorted(want.columns):
        return "schema"
    if len(got) != len(want):
        return "rows"
    if canonize(got) != canonize(want):
        return "values"
    return None


# ------------------------------------------------------------------ stream_join

def stream_mismatch(sink: list[tuple], expected: list[tuple]) -> int:
    """Rows in the symmetric difference of the sink and the expected match
    multiset (0 when the join emitted exactly the expected matches)."""
    a, b = Counter(sink), Counter(expected)
    return sum(((a - b) + (b - a)).values())
