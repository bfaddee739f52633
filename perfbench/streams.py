"""``stream_backfill``: the full 16-query topology of
``streaming.pipeline.build_all_queries`` drains a seeded 400-day backlog
(three topics, 8 wire-JSONL shards each) with the availableNow trigger,
into a ``MemoryMetricSink``.

Per-trigger progress is kept by a ``StreamingQueryListener`` (the engine's
``recentProgress`` holds only 100 entries), and each micro-batch's files
are read back from the checkpoint's ``sources/0/<batchId>`` logs.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from common import WORK, Spans, median, pct, start_session, tree_cpu_s
from pyspark.sql.streaming import StreamingQueryListener

from run_pipeline import CITY_DIM_ROWS
from travelpulse_spark_stream_tourism_analytics_spark.schemas import (
    BOOKING_SCHEMA,
    CITY_DIM_SCHEMA,
    FLIGHT_SCHEMA,
    WEATHER_SCHEMA,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming import kpis, pipeline
from travelpulse_spark_stream_tourism_analytics_spark.streaming.parse import (
    enrich_bookings,
    parse_events,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.simulator import (
    simulate,
    write_wire_fixture,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sinks import (
    MemoryMetricSink,
)
from travelpulse_spark_stream_tourism_analytics_spark.streaming.sources import (
    file_batch,
    file_stream,
)

TOPICS = ("weather", "flight", "booking")
SCHEMAS = {"weather": WEATHER_SCHEMA, "flight": FLIGHT_SCHEMA, "booking": BOOKING_SCHEMA}
QUERY_NAMES = (
    "ingest_counter", "weather_cnt", "flights_cnt", "bookings_cnt",
    "airports_inbound", "airports_outbound", "top_cities_minute",
    "top_cities_30d", "top_cities_365d", "city_today", "month_roll_365",
    "season_roll_365", "cities_geomap", "season_weather_cs",
    "season_flights_cs", "season_bookings_cs",
)
BACKFILL_DAYS = 400          # 30d and 365d windows close
BACKFILL_PER_DAY = 50
SHARDS = 8
SESSION_STARTS = 3
GATE_THREADS = 4
TOPN = 10


def _epoch(iso: str) -> float:
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


class ProgressLog(StreamingQueryListener):
    """Keeps the progress of every trigger of every query."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryTerminated(self, event) -> None:
        pass


class TimedSink(MemoryMetricSink):
    """Memory sink whose pushes are spans (the injected sink layer)."""

    def __init__(self, spans: Spans) -> None:
        super().__init__()
        self.spans = spans
        self.gauges = 0

    def push(self, metrics) -> None:
        with self.spans.span("sinks.push"):
            self.gauges += len(metrics)
            super().push(metrics)


@contextmanager
def instrument(spans: Spans):
    """Wrap the pipeline layer's public callables with spans for the
    traced run: every ``map_*`` mapper, ``foreach_metrics`` batches and
    ``TwoPhaseSeasonScore.score_and_push``/``score_batch``."""
    if not spans.enabled:
        yield
        return
    saved = {}

    def wrap(owner, attr, span_name):
        fn = getattr(owner, attr)
        saved[(owner, attr)] = fn

        def wrapped(*a, **kw):
            with spans.span(span_name, attr):
                return fn(*a, **kw)

        setattr(owner, attr, wrapped)

    for attr in dir(pipeline):
        if attr.startswith("map_"):
            wrap(pipeline, attr, "pipeline.mapper")
    scorer = pipeline.TwoPhaseSeasonScore
    wrap(scorer, "score_and_push", "pipeline.season_score")
    wrap(scorer, "score_batch", "pipeline.season_score_batch")
    foreach = pipeline.foreach_metrics

    def foreach_traced(mapper, sink):
        fn = foreach(mapper, sink)

        def batch(batch_df, batch_id):
            with spans.span("sinks.foreach_metrics", str(batch_id)):
                fn(batch_df, batch_id)

        return batch

    saved[(pipeline, "foreach_metrics")] = foreach
    pipeline.foreach_metrics = foreach_traced
    try:
        yield
    finally:
        for (owner, attr), fn in saved.items():
            setattr(owner, attr, fn)


def start_topology(spark, dirs: dict, work: str, sink, trigger: dict, spans: Spans):
    """Sources -> parse -> build_all_queries, each call in its span."""
    parsed = {}
    for topic in TOPICS:
        with spans.span("sources.file_stream", topic):
            wire = file_stream(spark, dirs[topic])
        with spans.span("parse.parse_events", topic):
            parsed[topic] = parse_events(wire, SCHEMAS[topic])
    city_dim = spark.createDataFrame(CITY_DIM_ROWS, CITY_DIM_SCHEMA)
    with spans.span("pipeline.build_all_queries"):
        queries, scorer = pipeline.build_all_queries(
            spark, parsed["weather"], parsed["flight"], parsed["booking"],
            city_dim, sink, checkpoint_root=os.path.join(work, "chk"),
            staging_dir=os.path.join(work, "staging"), trigger=trigger, topn=TOPN)
    return queries, scorer


def batch_files(chk_root: str, queries) -> dict[str, dict]:
    """query name -> {"topic", "files": {path: batchId}} from the
    checkpoint source logs (compacted logs included)."""
    by_id = {q.id: q.name for q in queries}
    out = {}
    for meta in glob.glob(os.path.join(chk_root, "*", "metadata")):
        with open(meta) as fh:
            name = by_id.get(json.loads(fh.read().strip().splitlines()[0])["id"])
        if name is None:
            continue
        files: dict[str, int] = {}
        for log in glob.glob(os.path.join(os.path.dirname(meta), "sources", "0", "*")):
            if os.path.basename(log).startswith("."):
                continue
            with open(log) as fh:
                for line in fh.read().splitlines()[1:]:
                    entry = json.loads(line)
                    path = entry["path"].replace("file://", "", 1)
                    files[path] = entry["batchId"]
        topics = {os.path.basename(os.path.dirname(p)) for p in files}
        out[name] = {"topic": topics.pop() if len(topics) == 1 else None,
                     "files": files}
    return out


def commit_times(progress: list[dict]) -> dict[tuple[str, int], float]:
    """(query name, batchId) -> epoch seconds when the batch committed."""
    return {(p["name"], p["batchId"]):
            _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3
            for p in progress}


def progress_layers(progress: list[dict], t0: float) -> dict[str, float]:
    """Per-layer figures from the kept progress of every trigger; ``t0``
    is when the topology was started."""
    data = [p for p in progress if p["numInputRows"] > 0]
    d = [p["durationMs"] for p in data]
    exec_ms = [x.get("triggerExecution", 0) for x in d]
    overhead = [(x.get("triggerExecution", 0) - x.get("addBatch", 0)) for x in d]
    states = [s for p in progress for s in p.get("stateOperators", [])]
    last_state: dict[str, list[dict]] = {}
    for p in progress:
        if p.get("stateOperators"):
            last_state[p["name"]] = p["stateOperators"]
    out = {
        "sources.input_rows": float(sum(p["numInputRows"] for p in progress)),
        "trigger.count": float(len(progress)),
        "trigger.exec_ms_p50": median(exec_ms),
        "trigger.planning_ms": median(x.get("queryPlanning", 0) for x in d),
        "trigger.wal_commit_ms": median(x.get("walCommit", 0) for x in d),
        "trigger.commit_offsets_ms": median(x.get("commitOffsets", 0) for x in d),
        "trigger.overhead_share": (sum(overhead) / sum(exec_ms)) if sum(exec_ms) else 0.0,
        "state.rows_total": float(sum(s["numRowsTotal"] for ops in last_state.values()
                                      for s in ops)),
        "state.memory_mb": sum(s["memoryUsedBytes"] for ops in last_state.values()
                               for s in ops) / 2**20,
        "state.commit_ms": float(sum(s.get("commitTimeMs", 0) for s in states)),
        "state.rows_dropped_by_watermark": float(sum(
            s.get("numRowsDroppedByWatermark", 0) for s in states)),
    }
    commits = commit_times(progress)
    for name in QUERY_NAMES:
        done = [t for (q, _), t in commits.items() if q == name]
        out[f"query.{name}.drain_s"] = (max(done) - t0) if done else 0.0
    return out


def span_layers(spans: Spans, sink) -> dict[str, float]:
    calls = spans.count("pipeline.season_score")
    return {
        "pipeline.mapper_ms": spans.total("pipeline.mapper") * 1e3,
        "pipeline.mapper_calls": float(spans.count("pipeline.mapper")),
        "pipeline.season_score_ms": spans.total("pipeline.season_score") * 1e3,
        "pipeline.season_score_calls": float(calls),
        "pipeline.season_score_skipped": float(
            calls - spans.count("pipeline.season_score_batch")),
        "sinks.push_ms": spans.total("sinks.push") * 1e3,
        "sinks.push_calls": float(spans.count("sinks.push")),
        "sinks.gauges": float(getattr(sink, "gauges", 0)),
    }


def batch_frames(spark, dirs: dict) -> dict:
    """The parsed topics read in batch by ``file_batch`` from the same
    files, shaped like ``build_all_queries`` shapes its streams."""
    w = parse_events(file_batch(spark, dirs["weather"]), WEATHER_SCHEMA).cache()
    f = parse_events(file_batch(spark, dirs["flight"]), FLIGHT_SCHEMA).cache()
    b = enrich_bookings(parse_events(file_batch(spark, dirs["booking"]),
                                     BOOKING_SCHEMA)).cache()
    return {"weather": w, "flight": f, "booking": b,
            "flight_evt": f.withColumnRenamed("destination_city_id", "city_id")}


def batch_season_gauges(frames: dict) -> dict:
    """The season-score gauges recomputed in batch."""
    return pipeline.map_season_score(kpis.season_score(*kpis.season_city_stats(
        frames["booking"], frames["weather"], frames["flight_evt"])), TOPN)


def kpi_families(spark, frames: dict) -> list[tuple[str, object, object, str]]:
    """(query, mapper, batch KPI frame, kind) for every query whose
    gauges do not depend on how the input was cut into triggers: all but
    ``ingest_counter`` (records per trigger) and the season scores, which
    are checked on their own. ``kind``: ``rows`` mappers read the frame's
    rows, ``ranked`` ones rank each window first (``per_window_topn``),
    ``whole`` is the complete-mode ``city_today`` snapshot."""
    w, f, b = frames["weather"], frames["flight"], frames["booking"]
    city_min = kpis.city_bookings_windowed(b, "ingest_time", kpis.MINUTE, "bookings")
    city_dim = spark.createDataFrame(CITY_DIM_ROWS, CITY_DIM_SCHEMA)
    topn = pipeline.map_city_topn
    return [
        ("weather_cnt", pipeline.map_batch_counts, kpis.weather_minute_counts(w), "rows"),
        ("flights_cnt", pipeline.map_batch_counts, kpis.flight_minute_counts(f), "rows"),
        ("bookings_cnt", pipeline.map_batch_counts, kpis.booking_minute_counts(b), "rows"),
        ("airports_inbound", lambda df: pipeline.map_airports_top(df, "inbound", TOPN),
         kpis.airport_flow(f, "inbound"), "ranked"),
        ("airports_outbound", lambda df: pipeline.map_airports_top(df, "outbound", TOPN),
         kpis.airport_flow(f, "outbound"), "ranked"),
        ("top_cities_minute", lambda df: topn(df, "bookings", "1m", TOPN), city_min, "ranked"),
        ("top_cities_30d", lambda df: topn(df, "bookings_30d", "30d", TOPN),
         kpis.city_bookings_windowed(b, "event_time", kpis.DAYS_30, "bookings_30d"), "ranked"),
        ("top_cities_365d", lambda df: topn(df, "bookings_365d", "365d", TOPN),
         kpis.city_bookings_windowed(b, "event_time", kpis.DAYS_365, "bookings_365d"),
         "ranked"),
        ("city_today", lambda df: pipeline.map_city_today(df, TOPN),
         kpis.arrivals_today(b), "whole"),
        ("month_roll_365", pipeline.map_month_roll, kpis.month_rollup(b), "rows"),
        ("season_roll_365", pipeline.map_season_roll, kpis.season_rollup(b), "rows"),
        ("cities_geomap", lambda df: pipeline.map_city_geomap(df, TOPN),
         kpis.geo_enrich(city_min, city_dim), "ranked"),
    ]


class _Rows:
    """Collected rows in the shape the ``map_*`` mappers read."""

    def __init__(self, rows) -> None:
        self.rows = rows

    def collect(self):
        return self.rows

    def filter(self, _cond):  # the rows were filtered before ranking
        return self


_captured = threading.local()


@contextmanager
def _collected_topn():
    """While active, ``kpis.per_window_topn`` called from
    ``gauge_candidates`` collects its ranking into the calling thread's
    ``_captured.rows`` and passes already collected rows through
    unranked."""
    original = kpis.per_window_topn

    def topn(df, *args):
        if isinstance(df, _Rows):
            return df
        if getattr(_captured, "rows", None) is None:  # not in gauge_candidates
            return original(df, *args)
        rows = original(df, *args).collect()
        _captured.rows.extend(rows)
        return _Rows(rows)

    kpis.per_window_topn = topn
    try:
        yield
    finally:
        kpis.per_window_topn = original


def gauge_candidates(mapper, frame, kind: str) -> dict[str, list[float]]:
    """gauge key -> every value ``mapper`` gives the key from a single
    window of ``frame``; call it inside ``_collected_topn``.

    The gauges carry no window label, so a key that several windows of
    one micro-batch update keeps whichever of their rows came last; each
    of those values is a correct final gauge."""
    if kind == "whole":
        return {k: [float(v)] for k, (_, v) in mapper(frame).items()}
    if kind == "ranked":
        _captured.rows = []
        try:
            mapper(frame)
            rows = _captured.rows
        finally:
            _captured.rows = None
    else:
        rows = frame.collect()
    by_window: dict = {}
    for r in rows:
        by_window.setdefault(r["window"], []).append(r)
    # The mappers never read the window itself, so windows whose rows are
    # otherwise equal give equal gauges: map each content once.
    by_content: dict = {}
    for group in by_window.values():
        content = tuple(sorted(repr([v for f, v in zip(r.__fields__, r) if f != "window"])
                               for r in group))
        by_content.setdefault(content, group)
    out: dict[str, list[float]] = {}
    for group in by_content.values():
        for key, (_, v) in mapper(_Rows(group)).items():
            out.setdefault(key, []).append(float(v))
    return out


def _close(v: float, candidates: list[float]) -> bool:
    return any(math.isclose(v, c, rel_tol=1e-9, abs_tol=1e-9) for c in candidates)


def _round_gauges(gauges: dict) -> dict:
    return {k: (labels, round(float(v), 6)) for k, (labels, v) in gauges.items()}


def gates(spark, dirs: dict, scorer, sink, progress, events_per_topic: dict,
          files_by_query: dict, corrupt: bool) -> tuple[int, int, list[str]]:
    """Correctness gates; returns (attempted, failed, messages).

    - every query read each event of its topic exactly once (Σ numInputRows);
    - no state operator dropped a row behind the watermark;
    - every final gauge of the trigger-independent queries (see
      ``kpi_families``) equals the same ``kpis`` function and ``map_*``
      mapper run over ``file_batch`` of the same files, and every gauge
      that batch run gives is in the sink (one check per gauge key);
    - the streamed two-phase season-score gauges equal their batch
      recomputation, and the sink carried season gauges."""
    attempted = failed = 0
    msgs: list[str] = []
    rows: dict[str, int] = {}
    dropped: dict[str, int] = {}
    for p in progress:
        rows[p["name"]] = rows.get(p["name"], 0) + p["numInputRows"]
        dropped[p["name"]] = dropped.get(p["name"], 0) + sum(
            s.get("numRowsDroppedByWatermark", 0) for s in p.get("stateOperators", []))
    for name in QUERY_NAMES:
        topic = files_by_query.get(name, {}).get("topic")
        want = events_per_topic.get(topic, -1)
        attempted += 2
        if rows.get(name, 0) != want:
            failed += 1
            msgs.append(f"{name}: read {rows.get(name, 0)} rows, topic {topic} has {want}")
        if dropped.get(name, 0):
            failed += 1
            msgs.append(f"{name}: {dropped[name]} rows dropped by watermark")
    frames = batch_frames(spark, dirs)
    latest = {k: float(v) for k, (_, v) in sink.latest().items()
              if not k.startswith(("tourism_ingest_records_per_trigger",
                                   "tourism_season_score|"))}
    if corrupt and latest:
        key = sorted(latest)[0]
        latest[key] += 1.0
    candidates: dict[str, list[float]] = {}
    owner: dict[str, str] = {}
    families = kpi_families(spark, frames)
    # The batch jobs are small, so they run a few at a time.
    with _collected_topn(), ThreadPoolExecutor(GATE_THREADS) as pool:
        list(pool.map(lambda df: df.count(), [frames[t] for t in TOPICS]))
        season = pool.submit(batch_season_gauges, frames)
        found = pool.map(lambda fam: gauge_candidates(*fam[1:]), families)
        for (query, *_), gauges in zip(families, found):
            for key, values in gauges.items():
                candidates.setdefault(key, []).extend(values)
                owner[key] = query
        want = _round_gauges(season.result())
    for key in sorted(set(latest) | set(candidates)):
        attempted += 1
        if key not in latest or key not in candidates or not _close(
                latest[key], candidates[key]):
            failed += 1
            msgs.append(f"{owner.get(key, '?')} gauge {key}: stream={latest.get(key)} "
                        f"batch={sorted(set(candidates.get(key, [])))[:5]}")
    got = _round_gauges(pipeline.map_season_score(scorer.score_batch(), TOPN))
    if corrupt and got:
        key = sorted(got)[0]
        got[key] = (got[key][0], got[key][1] + 1.0)
    for key in sorted(set(got) | set(want)):
        attempted += 1
        if got.get(key) != want.get(key):
            failed += 1
            msgs.append(f"season gauge {key}: stream={got.get(key)} batch={want.get(key)}")
    attempted += 1
    if not any(k.startswith("tourism_season_score|") for k in sink.latest()):
        failed += 1
        msgs.append("sink received no season-score gauges")
    for df in frames.values():
        df.unpersist()
    return attempted, failed, msgs


def _write_backlog(root: str, seed: int, n_days: int, per_day: int) -> dict[str, int]:
    events = simulate(dt.datetime(2024, 1, 1), n_days=n_days, events_per_day=per_day,
                      seed=seed)
    for topic in TOPICS:
        for i in range(SHARDS):
            write_wire_fixture(events[topic][i::SHARDS],
                               os.path.join(root, "in", topic, f"part-{i}.json"))
    return {t: len(events[t]) for t in TOPICS}


def _drain(spark, root: str, spans: Spans):
    """One availableNow drain of the backlog under ``root``."""
    listener = ProgressLog()
    spark.streams.addListener(listener)
    sink = TimedSink(spans) if spans.enabled else MemoryMetricSink()
    dirs = {t: os.path.join(root, "in", t) for t in TOPICS}
    cpu0 = tree_cpu_s()
    t0 = time.time()
    with instrument(spans):
        queries, scorer = start_topology(spark, dirs, root, sink,
                                         {"availableNow": True}, spans)
        try:
            for q in queries:
                if not q.awaitTermination(150):
                    raise RuntimeError(f"query {q.name} did not drain in 150 s")
        finally:
            for q in queries:
                if q.isActive:
                    q.stop()
    drain_s = time.time() - t0
    cpu_s = tree_cpu_s() - cpu0
    # Progress events reach the listener asynchronously; wait until it
    # holds as many per query as the query's own (100-deep) recent history.
    deadline = time.time() + 30
    while time.time() < deadline and any(
            sum(p["runId"] == str(q.runId) for p in listener.progress)
            < len(q.recentProgress) for q in queries):
        time.sleep(0.1)
    spark.streams.removeListener(listener)
    return dict(queries=queries, scorer=scorer, sink=sink, dirs=dirs, t0=t0,
                drain_s=drain_s, cpu_s=cpu_s, progress=list(listener.progress),
                files=batch_files(os.path.join(root, "chk"), queries))


def run_backfill(seed: int, cpus: int, spans: Spans, corrupt: bool = False) -> dict:
    """Set-up: the seeded backlog, written once, and ``SESSION_STARTS``
    session starts (the first launches the JVM; the median is reported).
    Measured: one drain of the backlog on the last fresh session, the way
    a backfill job starts, drains and exits."""
    t = time.perf_counter()
    root = os.path.join(WORK, "backfill")
    counts = _write_backlog(root, seed, BACKFILL_DAYS, BACKFILL_PER_DAY)
    gen_s = time.perf_counter() - t
    starts = []
    for i in range(SESSION_STARTS):
        with spans.span("session.get_spark", f"start{i}"):
            spark, start_s = start_session(cpus)
        starts.append(start_s)
    n_events = sum(counts.values())
    d = _drain(spark, root, spans)
    commits = commit_times(d["progress"])
    lat = [commits[(name, b)] - d["t0"] for name, info in d["files"].items()
           for b in info["files"].values() if (name, b) in commits]
    attempted, failed, msgs = gates(spark, d["dirs"], d["scorer"], d["sink"],
                                    d["progress"], counts, d["files"], corrupt)
    layers = progress_layers(d["progress"], d["t0"])
    layers.update(span_layers(spans, d["sink"]))
    layers["parse.rows_per_event"] = layers["sources.input_rows"] / n_events
    layers["session.cold_start_s"] = starts[0]
    layers["session.start_s"] = median(starts)
    layers["setup.inputs_s"] = gen_s
    layers["stream.events_per_s"] = n_events / d["drain_s"]
    layers["pass.cpu_s"] = d["cpu_s"]
    layers["pass.latency_p50_s"] = pct(lat, 50)
    layers["pass.latency_p75_s"] = pct(lat, 75)

    def baselines() -> dict[str, float]:
        """Single-thread baseline: the same drain again on the now warm
        JVM, on all CPUs and on local[1], so the two differ only in
        threads. Run after the measured drain's memory is recorded."""
        out = {}
        for key, n in (("baseline.warm_events_per_s", cpus),
                       ("baseline.local1_events_per_s", 1)):
            session, _ = start_session(n)
            for sub in ("chk", "staging"):
                shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
            out[key] = n_events / _drain(session, root, Spans(False))["drain_s"]
        return out

    return dict(
        attempted=attempted, failed=failed, messages=msgs,
        e2e={"setup_s": gen_s + median(starts), "pass_s": d["drain_s"]},
        layers=layers, after_trace=baselines,
        info={"events": n_events, "drain_s": round(d["drain_s"], 3)})
