"""The workloads. Each one prepares its inputs (repeated; the median is
part of set-up), warms up once (the rest of set-up), measures for the run's
seconds, and then checks what the engine produced. Engine calls go through
the package's public entry points only, each inside a span (spans.py).

A workload fills ``run.e2e`` with the end-to-end metrics and, when the run
is traced, ``run.layer`` with its per-layer metrics; run.py reports every
metric BENCHMARK.json names (0 for a layer the workload leaves idle) and
refuses one it does not name.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import timedelta

import checks
import gen
from procfs import cpu_between, cpu_snapshot
from spans import Tracer, progress_summary


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    spec: dict
    nproc: int
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    #: CPU seconds of each measured operation (analytics: of each pass) and
    #: the wall seconds of all of them, for the run's phase line
    op_cpus: list = field(default_factory=list)
    loop_s: float = 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _ms(s: float) -> float:
    return s * 1000.0


def _percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


# ---------------------------------------------------------------- store helpers

def ingest_batch(run: Run, store: str, path: str, batch: int) -> list[str]:
    """One scrape file through read_ndjson → refine → partitioned merge on
    event_date, with the engine's default layout and pointer strategy.
    Batch i is refined with `now` i minutes after the scrape epoch, so a
    later batch wins the latest-wins merge."""
    from pyspark.sql import functions as F

    from scraper_db_refine_merge_spark.operators.merge import merge_upsert_partitioned
    from scraper_db_refine_merge_spark.refine import refine
    from scraper_db_refine_merge_spark.sources.rawjson import read_ndjson
    from scraper_db_refine_merge_spark.streaming.pipeline import RAW_STREAM_SCHEMA

    tr = run.tracer
    with tr.span("sources.read"):
        raw = read_ndjson(run.spark, path, schema=RAW_STREAM_SCHEMA)
    with tr.span("refine.build"):
        refined = refine(raw, run.spec["ingest"]["source_platform"],
                         now=gen.SCRAPE_EPOCH + timedelta(minutes=batch))
        dated = refined.withColumn("event_date", F.coalesce(
            F.to_date(F.try_to_timestamp(F.col("datetime.start_date"))),
            F.lit("1970-01-01").cast("date")))
    with tr.span("merge.call"):
        return merge_upsert_partitioned(
            run.spark, store, dated, key_cols=["event_id"], partition_col="event_date",
            order_cols=[F.col("scraping_metadata.last_scraped").desc(), F.col("event_id")])


def write_batches(inputs: gen.IngestInputs, raw_dir: str) -> tuple[list[str], list[int]]:
    os.makedirs(raw_dir, exist_ok=True)
    paths, sizes = [], []
    for i, rows in enumerate(inputs.batches):
        p = os.path.join(raw_dir, f"batch_{i:03d}.ndjson")
        sizes.append(gen.write_ndjson(p, rows))
        paths.append(p)
    return paths, sizes


def store_parquet_files(store: str) -> dict[str, int]:
    """Every parquet file under the store directory (not following the
    view's links) with its size."""
    out = {}
    for d, _, files in os.walk(store):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def live_parquet_files(store: str) -> list[str]:
    """The parquet files of the committed snapshot: the live view maps each
    partition to a data directory, by a manifest or by links."""
    from scraper_db_refine_merge_spark.operators.merge import resolve_partitioned_path

    view = resolve_partitioned_path(store)
    manifest = os.path.join(view, "_VIEW_MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest, encoding="utf-8") as f:
            dirs = [os.path.join(store, rel) for rel in json.load(f).values()]
    else:
        dirs = [os.path.join(view, d) for d in sorted(os.listdir(view))
                if os.path.isdir(os.path.join(view, d))]
    return sorted(os.path.join(d, f) for d in dirs for f in os.listdir(d) if f.endswith(".parquet"))


def store_urls(run: Run, store: str) -> list[str]:
    from scraper_db_refine_merge_spark.operators.merge import read_partitioned_table

    df = read_partitioned_table(run.spark, store)
    return [r[0] for r in df.select("scraping_metadata.source_url").collect()]


# ---------------------------------------------------------------- read API

_SUMMARY_SQL = ("event_id, title, venue.name AS venue_name, datetime.start_date AS start_date, "
                "data_quality.overall_score AS overall_score")


def api_call(kind: str, events, params: dict):
    from scraper_db_refine_merge_spark.plans import api_queries as A

    if kind == "by_id":
        return A.get_event_by_id(events, params["event_id"])
    if kind == "events_page":
        return A.get_events(events, min_quality=params["min_quality"], limit=params["limit"],
                            skip=params["skip"], now=gen.API_NOW)
    if kind == "search":
        return A.search_events(events, params["term"])
    if kind == "venue_events":
        return A.get_venue_events(events, params["venue"], now=gen.API_NOW)
    if kind == "by_artist":
        return A.find_events_by_artist(events, params["artist"])
    if kind == "venues":
        return A.get_venues(events, now=gen.API_NOW)
    if kind == "top_venues":
        return A.get_top_venues(events)
    if kind == "quality_stats":
        return A.get_quality_stats(events)
    raise ValueError(f"unknown request kind {kind!r}")


def api_rows(kind: str, rows) -> list[tuple]:
    """Comparable tuples of a request's result (a point lookup returns whole
    events; it is compared on the summary fields)."""
    if kind == "by_id":
        return [(r["event_id"], r["title"], r["venue"]["name"], r["datetime"]["start_date"],
                 r["data_quality"]["overall_score"]) for r in rows]
    return [tuple(r) for r in rows]


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def api_oracle_sql(kind: str, params: dict) -> str:
    """The same request as DuckDB SQL over the view `s` of the committed
    store files. Spark sorts NULLs first in ascending order."""
    now = f"TIMESTAMP '{gen.API_NOW.strftime('%Y-%m-%d %H:%M:%S')}'"
    by_date = "ORDER BY start_ts ASC NULLS FIRST, event_id"
    if kind == "by_id":
        return f"SELECT {_SUMMARY_SQL} FROM s WHERE event_id = {_sql_str(params['event_id'])}"
    if kind == "events_page":
        return (f"SELECT {_SUMMARY_SQL} FROM s WHERE data_quality.overall_score >= {params['min_quality']} "
                f"AND start_ts >= {now} {by_date} LIMIT {params['limit']} OFFSET {params['skip']}")
    if kind == "search":
        tokens = [t for t in params["term"].lower().split() if t]
        counts = [f"((length(search_blob) - length(replace(search_blob, {_sql_str(t)}, ''))) / {len(t)})"
                  for t in tokens]
        return (f"SELECT event_id, title, venue.name, datetime.start_date, data_quality.overall_score, "
                f"CAST({' + '.join(counts)} AS BIGINT) AS relevance FROM s "
                f"WHERE data_quality.overall_score >= 0.6 AND {' AND '.join(c + ' > 0' for c in counts)} "
                f"ORDER BY relevance DESC, event_id LIMIT 20")
    if kind == "venue_events":
        return (f"SELECT {_SUMMARY_SQL} FROM s WHERE regexp_matches(upper(venue.name), "
                f"{_sql_str(params['venue'].upper())}) {by_date} LIMIT 50")
    if kind == "by_artist":
        return (f"SELECT {_SUMMARY_SQL} FROM s WHERE len(list_filter(acts, a -> a.act_name = "
                f"{_sql_str(params['artist'])})) > 0 {by_date} LIMIT 50")
    if kind == "venues":
        return ("SELECT venue.name AS v, count(*) AS c, round(avg(data_quality.overall_score), 3), "
                f"sum(CASE WHEN start_ts >= {now} THEN 1 ELSE 0 END) FROM s "
                "WHERE venue.name IS NOT NULL GROUP BY 1 ORDER BY c DESC, v")
    if kind == "top_venues":
        return ("SELECT venue.name AS v, round(avg(data_quality.overall_score), 3) AS q, count(*) AS c "
                "FROM s WHERE venue.name IS NOT NULL GROUP BY 1 ORDER BY q DESC, c DESC, v LIMIT 10")
    if kind == "quality_stats":
        sc = "data_quality.overall_score"
        return (f"SELECT count(*), round(avg({sc}), 3), sum(CASE WHEN {sc} >= 0.9 THEN 1 ELSE 0 END), "
                f"sum(CASE WHEN {sc} >= 0.8 AND {sc} < 0.9 THEN 1 ELSE 0 END), "
                f"sum(CASE WHEN {sc} >= 0.7 AND {sc} < 0.8 THEN 1 ELSE 0 END), "
                f"sum(CASE WHEN {sc} < 0.7 THEN 1 ELSE 0 END) FROM s")
    raise ValueError(f"unknown request kind {kind!r}")


def duckdb_over(files: list[str]):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass  # without ICU, TIMESTAMP is already zone-free
    listed = ", ".join(_sql_str(f) for f in files)
    con.execute(f"CREATE VIEW s AS SELECT * FROM read_parquet([{listed}], union_by_name = true)")
    return con


class Ingest:
    """Set-up writes the raw scrape files (repeated) and makes the initial
    load and a warm-up batch through the ingest path. Measured: a fixed
    number of re-scrape batches through read_ndjson, refine and the
    partitioned merge, one after another; every batch takes seconds, so
    together they outlast the run's seconds.

    In a traced run, afterwards, a probe of the read API: a seeded list of
    requests, sent once from nproc threads to warm up, then once more one at
    a time for the per-layer api metrics. Each request resolves the store
    with read_partitioned_table, calls one api_queries function and
    collects. No end-to-end metric covers the read API, so untraced runs
    leave it out."""

    def __init__(self, run: Run):
        self.run = run
        self.spec = run.spec["ingest"]

    def prepare(self, rep_dir: str) -> dict:
        inputs = gen.ingest_inputs(self.run.seed, self.spec, initial_events=self.spec["initial_events"],
                                   batches=1 + self.spec["warm_batches"] + self.spec["measured_batches"])
        paths, sizes = write_batches(inputs, os.path.join(rep_dir, "raw"))
        return {"store": os.path.join(rep_dir, "store"), "inputs": inputs, "paths": paths,
                "sizes": sizes, "done": 0}

    def warm(self, st: dict) -> None:
        """The initial load, then `warm_batches` re-scrape batches: merging
        into existing partitions takes another code path than the first
        load, and the first re-scrape batch of a process costs more CPU
        time than the later ones."""
        for i in range(1 + self.spec["warm_batches"]):
            with self.run.tracer.span("ingest.batch", batch=i):
                ingest_batch(self.run, st["store"], st["paths"][i], i)
        st["done"] = self.spec["warm_batches"]

    def _probe(self, st: dict) -> None:
        from pyspark.sql import functions as F

        from scraper_db_refine_merge_spark.operators.merge import read_partitioned_table

        run = self.run
        events = read_partitioned_table(run.spark, st["store"])
        ids = [r[0] for r in events.select("event_id").collect()]
        venues = [r[0] for r in events.select("venue.name").distinct().collect() if r[0]]
        artists = [r[0] for r in events.select(F.explode("acts.act_name")).distinct().collect() if r[0]]
        probe = gen.api_requests(run.seed, self.spec["api_probe"], ids, venues, artists)
        with ThreadPoolExecutor(max_workers=run.nproc, thread_name_prefix="api") as pool:
            list(pool.map(lambda r: self._serve(st["store"], r), probe))
        st["probe"] = [self._serve(st["store"], r) for r in probe]

    def _serve(self, store: str, req: gen.Request) -> dict:
        from scraper_db_refine_merge_spark.operators.merge import read_partitioned_table

        tr = self.run.tracer
        out = {"kind": req.kind, "params": req.params}
        try:
            with tr.span("api.request", kind=req.kind) as top:
                with tr.span("store.resolve") as sr:
                    events = read_partitioned_table(self.run.spark, store)
                with tr.span("api.build") as sb:
                    df = api_call(req.kind, events, dict(req.params))
                with tr.span("api.exec") as se:
                    rows = df.collect()
            out.update(rows=api_rows(req.kind, rows), resolve=sr.seconds, build=sb.seconds,
                       exec=se.seconds, top=top)
        except Exception as exc:  # noqa: BLE001 — a failed request is counted, not fatal
            out["error"] = f"{type(exc).__name__}: {exc}"[:300]
        return out

    def measure(self, st: dict) -> None:
        run, tr = self.run, self.run.tracer
        walls, cpus, jits, touched, rows = [], [], [], [], 0
        files = store_parquet_files(st["store"])
        written: dict[str, int] = {}
        t_start = time.perf_counter()
        for i in range(st["done"] + 1, len(st["paths"])):
            cpu0 = cpu_snapshot()
            with tr.span("ingest.batch", batch=i) as sp:
                touched.append(len(ingest_batch(run, st["store"], st["paths"][i], i)))
            cpu, jit = cpu_between(cpu0, cpu_snapshot())
            cpus.append(cpu)
            jits.append(jit)
            walls.append(sp.seconds)
            rows += len(st["inputs"].batches[i])
            st["done"] = i
            if tr.enabled:
                after = store_parquet_files(st["store"])
                written.update({p: n for p, n in after.items() if p not in files})
                files = after
        loop_s = run.loop_s = time.perf_counter() - t_start
        run.attempted = len(walls)
        run.e2e["op_cpu_s"] = _median(cpus)
        run.layer["jvm.jit_cpu_s"] = _median(jits)
        run.op_cpus = cpus
        if tr.enabled:
            self._probe(st)
            self._layer_metrics(st, walls, touched, rows, written, loop_s)

    def _layer_metrics(self, st, walls, touched, rows, written, loop_s) -> None:
        run, tr, n = self.run, self.run.tracer, len(walls)
        merge = [tr.inclusive(s) for s in tr.named("merge.call")[-n:]]
        live = live_parquet_files(st["store"])
        n_rows = len(st["inputs"].expected(st["done"]))
        run.layer.update({
            "ingest_rows_per_s": rows / sum(walls),
            "ingest_batch_p50_s": _median(walls),
            "ingest_store_bytes_per_row": sum(os.path.getsize(p) for p in live) / n_rows,
            "sources.read_ms": _ms(_median(s.seconds for s in tr.named("sources.read")[-n:])),
            "refine.build_ms": _ms(_median(s.seconds for s in tr.named("refine.build")[-n:])),
            "merge.call_ms": _ms(_median(s.seconds for s in tr.named("merge.call")[-n:])),
            "merge.jobs": _mean(m["jobs"] for m in merge),
            "merge.tasks": _mean(m["tasks"] for m in merge),
            "merge.exec_cpu_ms": _mean(m["exec_cpu_ms"] for m in merge),
            "merge.shuffle_b": _mean(m["shuffle_write_b"] for m in merge),
            "merge.partitions_rewritten": _mean(touched),
            "store.files_written": len(written) / n,
            "store.bytes_written_per_input_byte": sum(written.values()) / sum(st["sizes"][-n:]),
            "store.files_live": len(live),
            "trace.top_span_cover": sum(s.seconds for s in tr.named("ingest.batch")[-n:]) / loop_s,
        })
        ok = [r for r in st["probe"] if "error" not in r]
        lat = [r["top"].seconds for r in ok]
        ledgers = [tr.inclusive(r["top"]) for r in ok]
        run.layer.update({
            "api_p50_ms": _ms(_median(lat)),
            "api_p95_ms": _ms(_percentile(lat, 95)),
            "api.build_ms": _ms(_median(r["build"] for r in ok)),
            "api.exec_ms": _ms(_median(r["exec"] for r in ok)),
            "api.jobs_per_request": _mean(m["jobs"] for m in ledgers),
            "api.tasks_per_request": _mean(m["tasks"] for m in ledgers),
            "store.resolve_ms": _ms(_median(r["resolve"] for r in ok)),
        })
        for kind in self.spec["api_probe"]["kinds"]:
            run.layer[f"api.{kind}.p50_ms"] = _ms(_median(
                r["top"].seconds for r in ok if r["kind"] == kind))

    def check(self, st: dict) -> None:
        """The store against the generator's latest-wins answer: each merged
        batch (the initial load included) the store disagrees with is a
        failed operation; and each probe request (traced runs) against
        DuckDB over the committed store's files."""
        inputs = st["inputs"]
        bad = checks.ingest_failures(store_urls(self.run, st["store"]), inputs.expected(st["done"]))
        con = duckdb_over(live_parquet_files(st["store"]))
        answers: dict = {}
        failed = len(bad)
        probe = st.get("probe", [])
        for r in probe:
            key = (r["kind"], r["params"])
            if key not in answers:
                answers[key] = con.execute(api_oracle_sql(r["kind"], dict(r["params"]))).fetchall()
            failed += "error" in r or not checks.rows_match(r["rows"], answers[key])
        con.close()
        # the merged batches of set-up are operations the store check covers
        self.run.attempted += 1 + self.spec["warm_batches"] + len(probe)
        self.run.failed = failed


# ---------------------------------------------------------------- analytics

class Analytics:
    """Catalog queries over generated tables: full passes in a seeded order,
    each evaluation collected to pandas inside its own cache scope, until
    the run's seconds are used and at least `min_passes` are done. A traced
    run then replays the stream join (see StreamReplay): Spark's state store
    is measured there, per layer; no end-to-end metric covers it, so
    untraced runs leave it out."""

    def __init__(self, run: Run):
        self.run = run
        self.spec = run.spec["analytics"]
        self.family = {q: fam for fam, qs in self.spec["families"].items() for q in qs}
        self.stream = StreamReplay(run)

    def _evaluate(self, name: str, sf_dir: str):
        from scraper_db_refine_merge_spark.operators._cache import cache_scope
        from scraper_db_refine_merge_spark.plans.catalog import QUERIES

        tr = self.run.tracer
        cpu0 = cpu_snapshot()
        with tr.span("analytics.query", query=name) as top:
            with cache_scope():
                with tr.span("analytics.build") as sb:
                    df = QUERIES[name](self.run.spark, sf_dir)
                with tr.span("analytics.exec"):
                    pdf = df.toPandas()
        return top, sb, pdf, cpu_between(cpu0, cpu_snapshot())

    def prepare(self, rep_dir: str) -> dict:
        sf_dir = os.path.join(rep_dir, "tables")
        gen.analytics_tables(self.run.seed, self.spec["scale"], sf_dir)
        order = sorted(self.family)
        random.Random(gen.hash_seed(self.run.seed, "analytics-order")).shuffle(order)
        return {"sf_dir": sf_dir, "order": order, "stream": self.stream.prepare(rep_dir)}

    def warm(self, st: dict) -> None:
        """One untimed pass of the queries (which also builds the
        events-normalization cache), so the measured passes run warm."""
        for name in st["order"]:
            self._evaluate(name, st["sf_dir"])

    def measure(self, st: dict) -> None:
        run, tr = self.run, self.run.tracer
        rng = random.Random(gen.hash_seed(run.seed, "analytics-passes"))
        walls: dict[str, list[float]] = {q: [] for q in st["order"]}
        cpus: dict[str, list[float]] = {q: [] for q in st["order"]}
        jits: dict[str, list[float]] = {q: [] for q in st["order"]}
        results = []
        t_start = time.perf_counter()
        t_end = t_start + run.seconds
        passes = 0
        while passes < self.spec["min_passes"] or time.perf_counter() < t_end:
            passes += 1
            order = list(st["order"])
            rng.shuffle(order)
            run.op_cpus.append(0.0)
            for name in order:
                top, sb, pdf, (cpu, jit) = self._evaluate(name, st["sf_dir"])
                walls[name].append(top.seconds)
                cpus[name].append(cpu)
                jits[name].append(jit)
                run.op_cpus[-1] += cpu
                results.append((name, pdf, top, sb))
        loop_s = run.loop_s = time.perf_counter() - t_start
        st["results"] = results
        run.attempted = len(results)
        med = {q: _median(v) for q, v in walls.items()}
        run.e2e["op_cpu_s"] = sum(_median(v) for v in cpus.values())
        run.layer["jvm.jit_cpu_s"] = sum(_median(v) for v in jits.values())
        if not tr.enabled:
            return
        self.stream.replay(st["stream"])
        self.stream.layer_metrics(st["stream"])
        fams = self.spec["families"]
        per_q: dict[str, list] = {q: [] for q in st["order"]}
        for name, _, top, sb in results:
            per_q[name].append((top, sb, tr.inclusive(top)))
        for q, recs in per_q.items():
            run.layer[f"analytics.{q}.wall_ms"] = _ms(med[q])
            run.layer[f"analytics.{q}.build_ms"] = _ms(_median(sb.seconds for _, sb, _ in recs))
            run.layer[f"analytics.{q}.exec_cpu_ms"] = _median(m["exec_cpu_ms"] for *_, m in recs)
        for fam, qs in fams.items():
            run.layer[f"analytics_{fam}_s"] = sum(med[q] for q in qs)
            for key, lk in (("jobs", "jobs"), ("tasks", "tasks"), ("shuffle_b", "shuffle_write_b"),
                            ("exec_run_ms", "exec_run_ms")):
                run.layer[f"analytics.{fam}.{key}"] = sum(
                    _median(m[lk] for *_, m in per_q[q]) for q in qs)
            run.layer[f"analytics.{fam}.max_scan_tasks"] = max(
                m["max_scan_tasks"] for q in qs for *_, m in per_q[q])
        run.layer["trace.top_span_cover"] = sum(sum(v) for v in walls.values()) / loop_s

    def check(self, st: dict) -> None:
        """Every evaluation against the catalog's DuckDB oracle, and the
        stream replay (traced runs) against the generator's expected
        output."""
        import duckdb

        from scraper_db_refine_merge_spark.plans.catalog import ORACLES
        from scraper_db_refine_merge_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{st['sf_dir']}/{t}.parquet'")
        want = {q: con.execute(ORACLES[q]).fetchdf() for q in st["order"]}
        con.close()
        self.run.failed = sum(checks.oracle_mismatch(pdf, want[name]) is not None
                              for name, pdf, *_ in st["results"])
        if "batches" in st["stream"]:
            self.run.attempted += 1
            self.run.failed += not self.stream.correct(st["stream"])


class StreamReplay:
    """One replay of one click file and one purchase file, as a streaming
    source each (maxFilesPerTrigger=1, availableNow): clicks and purchases
    through stream_interval_join into a parquet sink, and the clicks through
    dedup_stream into another. Spark refuses a second watermark below a
    stateful operator, so the two stateful operators run as two queries."""

    def __init__(self, run: Run):
        self.run = run
        self.spec = run.spec["stream_join"]

    def prepare(self, rep_dir: str) -> dict:
        inputs = gen.stream_inputs(self.run.seed, self.spec)
        landing = {}
        for side, rows in (("clicks", inputs.clicks), ("purchases", inputs.purchases)):
            landing[side] = os.path.join(rep_dir, "landing", side)
            os.makedirs(landing[side])
            gen.write_ndjson(os.path.join(landing[side], "batch_000.json"), rows)
        return {"inputs": inputs, "landing": landing, "out": os.path.join(rep_dir, "stream")}

    def replay(self, st: dict) -> None:
        from scraper_db_refine_merge_spark.streaming.joins import stream_interval_join
        from scraper_db_refine_merge_spark.streaming.pipeline import dedup_stream

        spark, tr, spec = self.run.spark, self.run.tracer, self.spec

        def side(name: str, schema: str, ts: str):
            return (spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", spec["max_files_per_trigger"])
                    .json(st["landing"][name]).withColumnRenamed("ts", ts))

        def query(name: str):
            clicks = side("clicks", "click_id long, user_id long, ts timestamp", "click_ts")
            if name == "dedup":
                return dedup_stream(clicks, ["click_id"], ts_col="click_ts",
                                    watermark=spec["dedup_watermark"])
            purchases = side("purchases", "user_id long, ts timestamp", "purchase_ts")
            return stream_interval_join(clicks, purchases, "user_id", "click_ts", "purchase_ts",
                                        window=spec["window"], watermark=spec["watermark"])

        st["batches"], st["build_s"] = [], 0.0
        with tr.span("stream.replay"):
            for name in ("join", "dedup"):
                with tr.span("stream.build", query=name) as sb:
                    q = (query(name).writeStream.format("parquet")
                         .option("path", os.path.join(st["out"], name))
                         .option("checkpointLocation", os.path.join(st["out"], f"{name}_ckpt"))
                         .outputMode("append").trigger(availableNow=True).start())
                st["build_s"] += sb.seconds
                with tr.span("stream.run", query=name):
                    q.awaitTermination()
                st["batches"] += progress_summary(q.recentProgress)

    def layer_metrics(self, st: dict) -> None:
        batches = st["batches"]
        trig = [b["trigger_ms"] for b in batches]
        self.run.layer.update({
            "stream_batch_p50_s": _median(trig) / 1000.0,
            "stream_rows_per_s": sum(b["input_rows"] for b in batches) / (sum(trig) / 1000.0),
            "stream.build_ms": _ms(st["build_s"]),
            "stream.add_batch_ms_p50": float(_median(b["add_batch_ms"] for b in batches)),
            "stream.query_planning_ms_p50": float(_median(b["query_planning_ms"] for b in batches)),
            "stream.wal_commit_ms_p50": float(_median(b["wal_commit_ms"] for b in batches)),
            "stream.state_store_instances": max(b["state_store_instances"] for b in batches),
            "stream.state_commit_ms": float(_median(b["state_commit_ms"] for b in batches)),
            "stream.state_rows_total": max(b["state_rows_total"] for b in batches),
            "stream.state_memory_b": max(b["state_memory_b"] for b in batches),
            "stream.rows_dropped_by_watermark": sum(b["rows_dropped_by_watermark"] for b in batches),
        })

    def correct(self, st: dict) -> bool:
        spark, inputs = self.run.spark, st["inputs"]
        iso = "%Y-%m-%dT%H:%M:%S+00:00"
        joined = [(x["user_id"], x["click_ts"].strftime(iso), x["purchase_ts"].strftime(iso))
                  for x in spark.read.parquet(os.path.join(st["out"], "join")).collect()]
        dedup = [(x["click_id"], x["user_id"], x["click_ts"].strftime(iso))
                 for x in spark.read.parquet(os.path.join(st["out"], "dedup")).collect()]
        return (checks.stream_mismatch(joined, inputs.expected_join) == 0
                and checks.stream_mismatch(dedup, inputs.expected_dedup) == 0)


WORKLOADS = {"ingest": Ingest, "analytics": Analytics}
