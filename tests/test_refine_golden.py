"""Refine parity golden: schema and sorted ``to_json`` rows of ``refine`` over
a fixed raw fixture, pinned in tests/data/refine_golden.json.

The fixture covers lineups with and without ``role``, missing columns,
every date and price format the benchmark generator emits
(perfbench/spec.json), non-ASCII whitespace, two input schemas interleaved,
and repeated calls on one schema with different ``now`` values — so any
per-schema reuse inside ``refine`` must still score each batch against its
own ``now`` (the 2025-06-14 events are reasonable at NOW_1 and too far in
the past at NOW_2).

Regenerate (only when refine's output is meant to change):

    PYTHONPATH=. python tests/test_refine_golden.py --write
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

from pyspark.sql import functions as F

from scraper_db_refine_merge_spark.refine import refine

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "refine_golden.json")

NOW_1 = datetime(2025, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
NOW_2 = datetime(2025, 8, 1, 12, 0, 0, tzinfo=timezone.utc)

# NBSP, em space, ideographic space, NEL: Python whitespace the JVM's \s misses
_WS = "\u00a0\u2003\u3000\x85"

SCHEMA_FULL = (
    "title string, url string, venue string, date_text string, "
    "lineup array<struct<name:string,role:string>>, price_text string, "
    "genres array<string>, description string, scraped_at string"
)
ROWS_FULL = [
    ("Glitterbox", "www.ibiza-spotlight.com/night/hi-glitterbox", "hi ibiza",
     "14 June 2025", [("Dave Lee", "headliner"), ("Melvo Baptiste", None)],
     "25€", ["disco", "house"], "  The  famous   party  ", "2025-06-01T10:00:00"),
    ("ANTS Festival Opening", "https://www.clubtickets.com/ants/2025-06-14", "ushuaia",
     "Saturday 14 June 2025", [], "From €30.00 - Tickets available", ["tech house"],
     None, None),
    (f"{_WS}Circoloco{_WS}Monday", "http://dc10ibiza.com/circoloco", f"DC10{_WS}",
     "14 Jun 2025", [(f"{_WS}Seth Troxler{_WS}", "LIVE"), (_WS, "dj"), (None, "dj")],
     "$40", None, f"Night{_WS}long", None),
    ("FUSE", "https://privilege.com/fuse", "Privilege", "14/06/2025",
     [("Enzo Siragusa", None)], "45,50 EUR", ["minimal", "tech house", "house"],
     "", None),
    ("Elrow Opening", None, "Amnesia", "2025-06-14", None, "£50", [], None, None),
    ("free party", "pacha.com", "Pacha", "1 January 2020", [("A", "mc")], "free",
     ["disco"], "x", None),
    ("Far Future Festival 01/01/2031", "https://x.example/ff", "Somewhere Else",
     "1 January 2031", [("B", None), ("C", None), ("D", None)], None, None, None, None),
    (None, None, None, None, None, None, None, None, None),
    ("Unparseable Date", "https://x.example/u", "Hï Ibiza", "someday soon",
     [("Solomun", "headliner")], "0€", ["techno"], "ok", None),
]

# no role on lineup (room instead); url, price_text, genres, description absent
SCHEMA_NO_ROLE = (
    "title string, venue string, date_text string, "
    "lineup array<struct<name:string,room:string>>"
)
ROWS_NO_ROLE = [
    ("Paradise", "Amnesia", "14 June 2025", [("Jamie Jones", "Terrace"), ("Joseph Capriati", None)]),
    (f"HYTE{_WS}", f"{_WS}amnesia", "Saturday 14 June 2025", []),
    ("Music On", "Pacha", "", None),
]

# no lineup column at all
SCHEMA_NO_LINEUP = "title string, url string, date_text string, price_text string"
ROWS_NO_LINEUP = [
    ("Do Not Sit", "https://dc10.example/dnsotf", "14/06/2025", "From €30.00 - Tickets available"),
    ("ibiza sunset", None, "14 Jun 2025", None),
]

# (label, schema, rows, source_platform, now, default_city): two schemas
# interleaved, each schema refined again with a later `now`
CALLS = [
    ("full@1", SCHEMA_FULL, ROWS_FULL, "spotlight", NOW_1, "Ibiza"),
    ("no_role@1", SCHEMA_NO_ROLE, ROWS_NO_ROLE, "clubtickets", NOW_1, "Ibiza"),
    ("full@2", SCHEMA_FULL, ROWS_FULL, "spotlight", NOW_2, "Ibiza"),
    ("no_role@2", SCHEMA_NO_ROLE, ROWS_NO_ROLE, "clubtickets", NOW_2, "Ibiza"),
    ("no_lineup@2", SCHEMA_NO_LINEUP, ROWS_NO_LINEUP, "residentadvisor", NOW_2, "Sant Antoni"),
]


# NULL fields stay in the JSON: a NULL that turned into a value (or back)
# must show in the diff, not vanish with the field
_JSON_OPTS = {"ignoreNullFields": "false"}


def refine_outputs(spark) -> list[dict]:
    out = []
    for label, schema, rows, platform, now, city in CALLS:
        raw = spark.createDataFrame(rows, schema)
        df = refine(raw, platform, now=now, default_city=city)
        js = sorted(r[0] for r in df.select(F.to_json(F.struct("*"), _JSON_OPTS)).collect())
        out.append({"call": label, "schema": json.loads(df.schema.json()), "rows": js})
    return out


def test_refine_matches_golden(spark):
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = refine_outputs(spark)
    assert [c["call"] for c in got] == [c["call"] for c in golden]
    for g, want in zip(got, golden):
        assert g["schema"] == want["schema"], g["call"]
        assert g["rows"] == want["rows"], g["call"]


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: PYTHONPATH=. python tests/test_refine_golden.py --write")
    from scraper_db_refine_merge_spark.session import get_spark

    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    outputs = refine_outputs(get_spark("refine_golden"))
    with open(GOLDEN, "w") as f:
        json.dump(outputs, f, indent=1, ensure_ascii=False, sort_keys=True)
        f.write("\n")
