"""Seeded input generators: raw scrape batches and API requests (ingest),
the catalog tables and the click and purchase files (analytics).

Every generator is a pure function of its seed and of the workload's entry
in spec.json, and writes nothing but the files it is asked to write: the
same seed gives byte-identical NDJSON and Parquet files and the same request
schedule. Each generator also returns the answer the engine must produce
(the latest-wins store content, the expected join output), which the
correctness checks in checks.py compare against.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")


def load_spec() -> dict:
    with open(SPEC_PATH, encoding="utf-8") as f:
        return json.load(f)


def _rng(seed: int, tag: str) -> random.Random:
    # str seeds hash with SHA-512 inside random.seed: stable across processes
    return random.Random(f"{seed}:{tag}")


def write_ndjson(path: str, rows: list[dict]) -> int:
    """Writes one JSON object per line; returns the file's size in bytes."""
    data = "".join(json.dumps(r, ensure_ascii=False, sort_keys=True) + "\n" for r in rows)
    raw = data.encode("utf-8")
    with open(path, "wb") as f:
        f.write(raw)
    return len(raw)


# --------------------------------------------------------------------------
# ingest: raw scrape batches
# --------------------------------------------------------------------------

#: first day of the generated event calendar
BASE_DAY = date(2026, 7, 1)
#: refine's `now` for batch 0; batch i is scraped i minutes later, so a
#: later batch always wins the latest-wins merge
SCRAPE_EPOCH = datetime(2026, 6, 1, 12, 0, tzinfo=timezone.utc)

VENUES = [
    "Hï Ibiza", "amnesia", "dc-10", "Pacha Ibiza", "Ushuaïa Ibiza", "Las Dalias - Akasha",
    "Privilege", "Eden", "Es Paradis", "O Beach", "Cova Santa", "Lio", "Heart Ibiza",
    "Sankeys", "Chinois", "Benimussa Park", "Destino", "Blue Marlin", "Akasha", "Club Cenit",
]
TITLE_WORDS = [
    "Glitterbox", "ANTS", "Music On", "Circoloco", "Paradise", "elrow", "Resistance",
    "Defected", "Cocoon", "Afterlife", "Solid Grooves", "Hyte", "Eastenderz", "Vagabundos",
    "Keinemusik", "Pyramid", "Abracadabra", "Together", "Do Not Sleep", "Marco Carola",
]
GENRES = ["techno", "melodic-techno", "House", "deep house", "Tech House", "disco", "afro house", "minimal"]
_FIRST = ["Dave", "Ana", "Charlotte", "Jamie", "Nina", "Marco", "Tale", "Adam", "Carl", "Maya", "Luca", "Seth"]
_LAST = ["Lee", "Kraviz", "de Witte", "Jones", "Craig", "Beyer", "Carola", "Troxler", "Cox", "Jane", "Villalobos", "Of Us"]
ARTISTS = [f"{a} {b}" for a in _FIRST for b in _LAST]
ROLES = ["headliner", "DJ", "live", None]
DESCRIPTION_WORDS = [
    "sunset", "terrace", "all night long", "opening party", "closing party", "residency",
    "open air", "garden", "main room", "special guests", "b2b", "extended set",
]
#: whitespace a scraper leaves in place: NBSP, thin space, ideographic space
ODD_SPACES = ["\u00a0", "\u2009", "\u3000", "  "]
_MONTHS = ["January", "February", "March", "April", "May", "June", "July", "August",
           "September", "October", "November", "December"]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]


def _date_text(d: date, fmt: str) -> str:
    if fmt == "d MMMM yyyy":
        return f"{d.day} {_MONTHS[d.month - 1]} {d.year}"
    if fmt == "EEEE d MMMM yyyy":
        return f"{_DAYS[d.weekday()]} {d.day} {_MONTHS[d.month - 1]} {d.year}"
    if fmt == "d MMM yyyy":
        return f"{d.day} {_MONTHS[d.month - 1][:3]} {d.year}"
    if fmt == "dd/MM/yyyy":
        return f"{d.day:02d}/{d.month:02d}/{d.year}"
    if fmt == "yyyy-MM-dd":
        return d.isoformat()
    raise ValueError(f"unknown date format {fmt!r}")


@dataclass
class _Event:
    key: int
    day: int | None  # day offset from BASE_DAY, None when the date is missing
    base: dict  # the raw fields that make its identity


@dataclass
class IngestInputs:
    """Raw batches (batch 0 is the initial load) and, per batch, the url each
    event carries once that batch has been merged."""

    batches: list[list[dict]]
    #: per batch: {event key: url written by that batch}
    writes: list[dict[int, str]]

    def expected(self, upto: int) -> dict[int, str]:
        """Latest-wins store content after batches 0..upto: event key → url."""
        out: dict[int, str] = {}
        for w in self.writes[: upto + 1]:
            out.update(w)
        return out


def event_url(key: int, rev: int) -> str:
    return f"https://events.example.test/e/{key}?rev={rev}"


def url_key_rev(url: str) -> tuple[int, int]:
    path, _, query = url.partition("?rev=")
    return int(path.rsplit("/", 1)[1]), int(query)


def _raw_row(rng: random.Random, ev: _Event, rev: int, spec: dict) -> dict:
    row = dict(ev.base)
    row["url"] = event_url(ev.key, rev)
    fmt = rng.choice(spec["price_formats"])
    if fmt is not None:
        row["price_text"] = fmt.format(a=rng.randint(10, 90))
    row["lineup"] = [
        {"name": a, "role": rng.choice(ROLES)} for a in rng.sample(ARTISTS, rng.randint(0, 4))
    ]
    row["genres"] = rng.sample(GENRES, rng.randint(0, 3))
    row["description"] = " ".join(rng.sample(DESCRIPTION_WORDS, rng.randint(2, 6)))
    if rng.random() < spec["missing_column_share"]:
        del row[rng.choice(sorted({"genres", "description", "lineup", "price_text"} & row.keys()))]
    row["scraped_at"] = (SCRAPE_EPOCH + timedelta(minutes=rev)).strftime("%Y-%m-%dT%H:%M:%S.%f")
    return row


def _new_event(rng: random.Random, key: int, day: int | None, spec: dict) -> _Event:
    sep = rng.choice(ODD_SPACES) if rng.random() < spec["odd_whitespace_share"] else " "
    title = f"{rng.choice(TITLE_WORDS)}{sep}{key}"
    if rng.random() < spec["odd_whitespace_share"]:
        title = f"{rng.choice(ODD_SPACES)}{title}{rng.choice(ODD_SPACES)}"
    base = {"title": title, "venue": rng.choice(VENUES)}
    if day is not None:
        base["date_text"] = _date_text(BASE_DAY + timedelta(days=day), rng.choice(spec["date_formats"]))
    return _Event(key, day, base)


def ingest_inputs(seed: int, spec: dict, initial_events: int, batches: int) -> IngestInputs:
    """Batch 0: `initial_events` new events spread over the calendar. Each
    later batch: `batch_rows` rows, of which `update_share` re-scrape events
    of earlier batches, `duplicate_share` repeat a row of the same batch
    verbatim, and the rest are new events; new and updated events fall on
    `cluster_days` days of the calendar."""
    rng = _rng(seed, "ingest")
    n0, nb = initial_events, batches
    span = spec["date_span_days"]
    events: list[_Event] = []

    def pick_day(days: list[int]) -> int | None:
        return None if rng.random() < spec["missing_date_share"] else rng.choice(days)

    all_days = list(range(span))
    rows0, writes0 = [], {}
    for _ in range(n0):
        ev = _new_event(rng, len(events), pick_day(all_days), spec)
        events.append(ev)
        rows0.append(_raw_row(rng, ev, 0, spec))
        writes0[ev.key] = rows0[-1]["url"]
    out_batches, out_writes = [rows0], [writes0]

    for b in range(1, nb):
        n = spec["batch_rows"]
        n_dup = round(n * spec["duplicate_share"])
        n_upd = round(n * spec["update_share"])
        n_new = n - n_dup - n_upd
        cluster = sorted(rng.sample(all_days, spec["cluster_days"]))
        in_cluster = [e for e in events if e.day in cluster]
        others = [e for e in events if e.day not in cluster]
        upd = rng.sample(in_cluster, min(n_upd, len(in_cluster)))
        upd += rng.sample(others, n_upd - len(upd))
        rows, writes = [], {}
        for ev in upd:
            rows.append(_raw_row(rng, ev, b, spec))
            writes[ev.key] = rows[-1]["url"]
        for _ in range(n_new):
            ev = _new_event(rng, len(events), pick_day(cluster), spec)
            events.append(ev)
            rows.append(_raw_row(rng, ev, b, spec))
            writes[ev.key] = rows[-1]["url"]
        rows += [dict(rng.choice(rows)) for _ in range(n_dup)]
        rng.shuffle(rows)
        out_batches.append(rows)
        out_writes.append(writes)
    return IngestInputs(out_batches, out_writes)


# --------------------------------------------------------------------------
# ingest: API probe requests
# --------------------------------------------------------------------------

#: the API's notion of "now": before every generated event, so the
#: future-only filters keep the whole calendar
API_NOW = datetime(2026, 6, 15, tzinfo=timezone.utc)
SEARCH_TERMS = sorted({w.lower() for t in TITLE_WORDS for w in t.split()}) + ["sunset", "open air"]


@dataclass(frozen=True)
class Request:
    kind: str
    params: tuple  # sorted (name, value) pairs


def api_requests(seed: int, spec: dict, event_ids: list[str], venues: list[str],
                 artists: list[str]) -> list[Request]:
    """`per_kind` requests of each kind, in a seeded order. Point lookups
    draw event ids with Zipf(`id_zipf_s`) popularity over a seeded
    permutation of the store's ids."""
    rng = _rng(seed, "api")
    kinds = [k for k in spec["kinds"] for _ in range(spec["per_kind"])]
    rng.shuffle(kinds)
    ids = sorted(event_ids)
    rng.shuffle(ids)
    id_cum, acc = [], 0.0
    for r in range(len(ids)):
        acc += 1.0 / (r + 1) ** spec["id_zipf_s"]
        id_cum.append(acc)
    safe_venues = [v for v in sorted(venues) if v.replace(" ", "").replace("-", "").isalnum()]
    out: list[Request] = []
    for kind in kinds:
        if kind == "by_id":
            i = bisect.bisect_left(id_cum, rng.random() * id_cum[-1])
            params = {"event_id": ids[min(i, len(ids) - 1)]}
        elif kind == "events_page":
            params = {"min_quality": rng.choice([0.3, 0.5, 0.6]), "skip": rng.choice(spec["page_skips"]),
                      "limit": spec["page_limit"]}
        elif kind == "search":
            params = {"term": " ".join(rng.sample(SEARCH_TERMS, rng.choice([1, 1, 2])))}
        elif kind == "venue_events":
            params = {"venue": rng.choice(safe_venues)}
        elif kind == "by_artist":
            params = {"artist": rng.choice(sorted(artists))}
        else:
            params = {}
        out.append(Request(kind, tuple(sorted(params.items()))))
    return out


# --------------------------------------------------------------------------
# stream_join: click and purchase landing files
# --------------------------------------------------------------------------

STREAM_EPOCH = datetime(2026, 6, 1, tzinfo=timezone.utc)


@dataclass
class StreamInputs:
    clicks: list[dict]
    purchases: list[dict]
    #: (user_id, click_ts, purchase_ts) the interval join must emit, sorted
    expected_join: list[tuple[int, str, str]]
    #: (click_id, user_id, click_ts) the click dedup must emit, sorted
    expected_dedup: list[tuple[int, int, str]]


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S+00:00")


def stream_inputs(seed: int, spec: dict) -> StreamInputs:
    """One click file and one purchase file. Each click gets a purchase
    inside the one-hour join window (`match_share`), one just outside it
    (`miss_share`), or none; `duplicate_share` of the clicks are sent twice:
    the dedup drops the copy, the join matches each copy."""
    rng = _rng(seed, "stream")
    hour = timedelta(hours=1)
    clicks, purchases = [], []
    for click_id in range(spec["clicks"]):
        u = rng.randrange(spec["users"])
        tc = STREAM_EPOCH + timedelta(seconds=rng.randrange(55 * 60))
        r = rng.random()
        if r < spec["match_share"]:
            purchases.append({"user_id": u, "ts": _iso(tc + timedelta(seconds=rng.randrange(50 * 60)))})
        elif r < spec["match_share"] + spec["miss_share"]:
            purchases.append({"user_id": u, "ts": _iso(tc + hour + timedelta(seconds=rng.randrange(1, 20 * 60)))})
        row = {"click_id": click_id, "user_id": u, "ts": _iso(tc)}
        clicks += [row] * (2 if rng.random() < spec["duplicate_share"] else 1)
    rng.shuffle(clicks)
    rng.shuffle(purchases)
    by_user: dict[int, list[datetime]] = {}
    for p in purchases:
        by_user.setdefault(p["user_id"], []).append(_parse(p["ts"]))
    expected = []
    for c in clicks:
        tc = _parse(c["ts"])
        expected += [(c["user_id"], c["ts"], _iso(tp)) for tp in by_user.get(c["user_id"], ())
                     if tc <= tp <= tc + hour]
    dedup = sorted({(c["click_id"], c["user_id"], c["ts"]) for c in clicks})
    return StreamInputs([dict(c) for c in clicks], purchases, sorted(expected), dedup)


def _parse(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S+00:00").replace(tzinfo=timezone.utc)


# --------------------------------------------------------------------------
# analytics: the catalog's tables
# --------------------------------------------------------------------------

#: the documents' vocabulary: 30 words, drawn uniformly, as in the reference tables
DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort "
    "window order data column join small query customer filter group stream big vector"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]


def analytics_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Writes the ten catalog tables (the schemas plans.catalog reads) at
    `scale` (1.0 ≈ 6M lineitem rows) as one Parquet file each. Returns the
    row count per table.

    Row counts, key and value ranges, distinct counts, text and vector
    shapes and the timestamp encoding follow the reference tables of
    TESTDATA.md at scales 0.01 and 0.1 (compared in perfbench/README.md)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(hash_seed(seed, "analytics"))
    n = {
        "customer": max(int(150_000 * scale), 50), "supplier": max(int(10_000 * scale), 10),
        "part": max(int(200_000 * scale), 50), "orders": max(int(1_500_000 * scale), 100),
        "lineitem": max(int(6_000_000 * scale), 400), "events": max(int(1_000_000 * scale), 200),
        "documents": max(int(50_000 * scale), 500), "embeddings": max(int(20_000 * scale), 500),
    }
    users = max(int(15_000 * scale), 10)
    day = np.datetime64("1995-01-01", "us")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(k, span):
        return day + rng.integers(0, span, k).astype("timedelta64[D]").astype("timedelta64[us]")

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])}),
        "part": pa.table({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n["orders"]),
            "o_totalprice": money(1000.0, 500_000.0, n["orders"]),
            "o_orderdate": days(n["orders"], 2404),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900.0, 105_000.0, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": days(n["lineitem"], 2499)}),
    }
    ne = n["events"]
    gaps = rng.exponential(30 * 86400e6 / ne, ne).astype(np.int64)
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne).astype(np.int64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    # Documents are 10–99 words drawn uniformly from the vocabulary; a
    # share are near-duplicates: an earlier document's text plus " dup".
    nd = n["documents"]
    vocab = np.array(DOC_WORDS)
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # unit vectors in random directions; the labels are independent of them
    nv = n["embeddings"]
    vecs = rng.normal(0, 1, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, nv)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def hash_seed(seed: int, tag: str) -> int:
    """A 63-bit integer seed derived from (seed, tag), stable across processes."""
    return int.from_bytes(hashlib.sha256(f"{seed}:{tag}".encode()).digest()[:8], "big") >> 1
