"""Benchmark for the patron poller and the frozen headline query pack.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  One process per run; Spark runs at the
engine's session defaults (``engine.session.get_spark``) with
``SPARK_GRAFT_CPUS`` set to the number of usable cores.  Poll inputs are
generated from the seed into ``.perfbench/`` (ignored by git) and reused by
later runs; the pack reads the frozen tables copied under ``testdata/``.

Workloads (closed loop, one client: the next batch or query starts only after
the previous one committed):

- ``poll_small_batches``: ``engine.app.run_all_modes`` over a seeded
  Sierra-shaped source in 500-row micro-batches through all three modes, with
  the state store, the census/Geosupport transports and the sink injected.
- ``headline_pack``: the 21 queries of ``bench.HEADLINE`` over the frozen
  sf0.1 tables, one timed pass after an sf0.001 warm-up; the seed fixes the
  query order.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones (setup_s, items_per_s, step_s.p50, cached_mb); with
``--trace 1`` the run records spans and reports the per-layer metrics plus
the tracing overhead, measured against untraced work interleaved with the
traced work.  See README.md
in this directory for what each metric should move.
"""

from __future__ import annotations

import time

_T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: byte copies of the repository's frozen test tables (TESTDATA.md)
FROZEN = os.path.join(HERE, "testdata")

import gen  # noqa: E402
import probes  # noqa: E402
import spans as sp  # noqa: E402

WORKLOADS = ("poll_small_batches", "headline_pack")

#: poll source: 700 new patrons plus 7 J4 duplicate rows (2 NEW batches), 250
#: old ones updated since the watermark (UPDATED also re-reads the new ones:
#: 2 batches), 700 deletions (2 batches).  Six batches keep a run under a
#: minute, so 4 + 22 runs per workload fit the time a comparison is given.
POLL_SIZES = dict(n_old=2000, n_new=700, n_updated=250, n_deleted=700)
POLL_BATCH = 500
PACK_SF, WARM_SF = 0.1, 0.001
PACK_DIR = os.path.join(FROZEN, f"sf{PACK_SF}")
#: fingerprints of pack results the DuckDB oracle verified (see verify_pack)
VERIFIED = os.path.join(WORK, "oracle", f"verified-sf{PACK_SF}.json")

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "step_s.p50": "s", "cached_mb": "MB"}


def _per_layer_units() -> dict[str, str]:
    from bench import HEADLINE

    units = {
        "steps": "count",
        "trace.overhead_items_per_s": "1/s",
        "session.start_s": "s", "session.warmup_s": "s", "session.jvm_hwm_mb": "MB",
        "pipeline.page_s": "s", "pipeline.graph_build_s": "s",
        "pipeline.sink_s": "s", "pipeline.fold_s": "s",
        "pipeline.jobs_per_batch": "count", "pipeline.plan_chars": "count",
        "pipeline.batch_growth": "ratio", "pipeline.rows_in": "count",
        "pipeline.rows_out": "count", "pipeline.dedup_drop_ratio": "ratio",
        "geocode.rows.census1": "count", "geocode.rows.census2": "count",
        "geocode.rows.geosupport": "count", "geocode.worker_s": "s",
        "geocode.match_ratio": "ratio", "geocode.repeat_rows": "count",
        "sink.records": "count", "sink.bytes": "B", "sink.puts": "count",
        "sink.failed_puts": "count", "sink.put_s": "s",
        "pack.build_s": "s", "pack.exec_s": "s",
        "sql.executions": "count", "sql.shuffle_mb": "MB", "sql.spill_mb": "MB",
        "sql.python_s": "s",
    }
    for name in ("round", "page", "state", "graph", "sink", "fold", "sample",
                 "query", "build", "exec"):
        units[f"self_s.{name}"] = "s"
    for name in HEADLINE:
        units[f"query.{name}.exec_s"] = "s"
    return units


def now() -> float:
    return time.perf_counter()


# ---------------------------------------------------------------------------
# Environment and session
# ---------------------------------------------------------------------------


def prepare_env() -> None:
    """Pin the session to engine defaults at ``local[<usable cores>]`` and keep
    every file Spark, the JVM and Python write inside the checkout."""
    for k in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_UI",
              "SPARK_GRAFT_SF_DIR", "OMP_NUM_THREADS"):
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import probes (and the engine) by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # collected timestamps become naive datetimes in the process time zone;
    # the watermark check compares them as UTC strings
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin (its exit signal) and wait for
    it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


def start_session(lay: dict):
    t0 = now()
    from engine.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    lay["session.start_s"] = now() - t0
    return spark


def release_caches(spark) -> None:
    """Between rounds: drop every persisted/checkpointed RDD the previous
    round left and let the JVM clean unreachable broadcasts, so each round
    starts from the same block-manager state."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark._jvm.System.gc()
    time.sleep(0.2)


# ---------------------------------------------------------------------------
# poll_small_batches
# ---------------------------------------------------------------------------


class ClockedStore:
    """The state store injected into ``run_all_modes``: the engine's JSON
    store, plus a commit clock (a micro-batch ends when its watermark is
    committed) and a sample of the block-manager storage still in use at
    every batch boundary.  The sample forces garbage collection, so the clock
    stops while it runs: ``paused`` is the time taken out so far."""

    def __init__(self, inner, spark, seams: list | None = None):
        self.inner = inner
        self.spark = spark
        self.seams = seams
        self.commits: list[float] = []
        self.peak_bytes = 0
        self.paused = 0.0

    def get(self):
        t0 = now()
        state = self.inner.get()
        if self.seams is not None:
            self.seams.append(("get", t0, now(), len(self.commits)))
        return state

    def set(self, state) -> None:
        t0 = now()
        self.inner.set(state)
        t1 = now()
        self.commits.append(t1 - self.paused)
        self.peak_bytes = max(self.peak_bytes, sp.live_storage_bytes(self.spark))
        t2 = now()
        self.paused += t2 - t1
        if self.seams is not None:
            self.seams.append(("set", t0, t1, len(self.commits) - 1))
            self.seams.append(("sample", t1, t2, len(self.commits) - 1))


class StepSink:
    """Sink wrapper: tags each put with the step that produced it and counts
    the records the sink accepted."""

    def __init__(self, inner, transport, store: ClockedStore, seams: list | None = None):
        self.inner = inner
        self.transport = transport
        self.store = store
        self.seams = seams
        self.accepted = 0
        self.last_df = None

    def __call__(self, df, batch_id: int) -> int:
        step = len(self.store.commits)
        self.transport.tag = step
        t0 = now()
        n = self.inner(df, batch_id)
        t1 = now()
        self.accepted += n
        if self.seams is not None:
            self.seams.append(("sink", t0, t1, step))
            self.last_df = df
        return n


class Poll:
    def __init__(self, spark, data_dir: str, facts: dict, run_dir: str):
        from engine.ops.geocode import fake_census_transport, fake_geosupport

        self.spark = spark
        self.facts = facts
        self.run_dir = run_dir
        self.active = spark.read.parquet(os.path.join(data_dir, "active.parquet"))
        self.deleted = spark.read.parquet(os.path.join(data_dir, "deleted.parquet"))
        self.patron_info = spark.read.parquet(os.path.join(data_dir, "patron_info.parquet"))
        self.census = fake_census_transport()
        self.geosupport = fake_geosupport()

    def round(self, label: str, *, max_batches=None, tracer=None) -> dict:
        """One scheduled poller run (``run_all_modes``) from the seeded state."""
        import engine.app as app
        from engine.ops.state import LocalJsonStateStore
        from engine.pipeline import PipelineConfig

        d = os.path.join(self.run_dir, label)
        puts = os.path.join(d, "puts")
        os.makedirs(puts)
        store_inner = LocalJsonStateStore(os.path.join(d, "state.json"))
        store_inner.set(dict(self.facts["initial_state"]))
        cfg = PipelineConfig(salt=gen.SALT, batch_size=POLL_BATCH,
                             deleted_batch_size=POLL_BATCH, max_batches=max_batches)
        seams = [] if tracer is not None else None
        census, geosupport, transport = self.census, self.geosupport, probes.FileTransport(puts)
        if tracer is not None:
            stats = os.path.join(d, "stats")
            os.makedirs(stats)
            census = probes.TracedCensus(census, stats)
            geosupport = probes.TracedGeosupport(geosupport, stats)
            transport = probes.TracedTransport(transport, stats)
        store = ClockedStore(store_inner, self.spark, seams)
        sink = StepSink(app.make_avro_kinesis_sink(transport), transport, store, seams)
        release_caches(self.spark)
        restore = _wrap_graphs(app, seams, store) if tracer is not None else {}
        job0 = sp.max_job_id(self.spark) if tracer is not None else 0
        report, error = None, None
        t0 = now()
        try:
            report = app.run_all_modes(
                self.spark, cfg, store,
                active_source=self.active, deleted_source=self.deleted,
                patron_info=self.patron_info, sink=sink,
                census=census, geosupport=geosupport, now=gen.NOW,
            )
        except Exception:  # a failed round is a failed operation, reported below
            error = traceback.format_exc()
            print(error, file=sys.stderr)
        t1 = now()
        for k, v in restore.items():
            setattr(app, k, v)
        marks = [t0] + store.commits
        r = {
            # t1: end of the round on the clock that stops for samples
            "dir": d, "t0": t0, "t1": t1 - store.paused, "wall_t1": t1,
            "error": error, "report": report,
            "steps": [b - a for a, b in zip(marks, marks[1:])],
            "accepted": sink.accepted, "cached_mb": store.peak_bytes / 1e6,
            "final_state": store_inner.get(), "seams": seams,
        }
        if tracer is not None:
            r["plan_chars"] = (len(sink.last_df._jdf.queryExecution().optimizedPlan().toString())
                               if sink.last_df is not None else 0)
            r["jobs"] = sp.max_job_id(self.spark) - job0
            _round_spans(tracer, r)
        return r


def _wrap_graphs(app, seams: list, store: ClockedStore) -> dict:
    """Time the three mode-graph calls ``run_all_modes`` makes."""
    saved = {}
    for name in ("new_patrons_graph", "updated_patrons_graph", "deleted_patrons_graph"):
        fn = getattr(app, name)
        saved[name] = fn

        def timed(*a, _fn=fn, **kw):
            t0 = now()
            out = _fn(*a, **kw)
            seams.append(("graph", t0, now(), len(store.commits)))
            return out

        setattr(app, name, timed)
    return saved


def _round_spans(tracer: sp.Tracer, r: dict) -> None:
    """Spans of one traced round.  Per step: page = first state-store get of
    the step up to the graph call, then graph, sink, fold = sink return up to
    the state-store set, and the set itself; then the cached-frame sample,
    which is off the benchmark's clock."""
    root = tracer.add("round", r["t0"], r["wall_t1"], parent=None)
    by_step: dict[int, dict] = {}
    for kind, a, b, step in r["seams"]:
        s = by_step.setdefault(step, {})
        if kind == "get":
            s.setdefault("gets", []).append((a, b))
        else:
            s[kind] = (a, b)
        if kind == "sample":
            tracer.add("sample", a, b, parent=root, step=step)
    stage: dict[str, list[float]] = {"page": [], "graph": [], "sink": [], "fold": []}
    for step, s in sorted(by_step.items()):
        if "graph" not in s:
            continue  # the empty page that ends a mode
        g0, g1 = s["graph"]
        p0 = min(a for a, _ in s.get("gets", [(g0, g0)]) if a <= g0)
        page = tracer.add("page", p0, g0, parent=root, step=step)
        for a, b in s.get("gets", []):
            if a <= g0:
                tracer.add("state", a, b, parent=page, step=step)
        tracer.add("graph", g0, g1, parent=root, step=step)
        stage["page"].append(g0 - p0)
        stage["graph"].append(g1 - g0)
        if "sink" in s and "set" in s:
            k0, k1 = s["sink"]
            w0, w1 = s["set"]
            tracer.add("sink", k0, k1, parent=root, step=step)
            tracer.add("fold", k1, w0, parent=root, step=step)
            tracer.add("state", w0, w1, parent=root, step=step)
            stage["sink"].append(k1 - k0)
            stage["fold"].append(w0 - k1)
    r["stage"] = stage


def record_matches(rec: dict, want: dict) -> bool:
    """A decoded sink record against one expected record, field by field."""
    if rec.keys() != want.keys():
        return False
    for k, v in want.items():
        if v == gen.LATER_ATTEMPT:
            if not (isinstance(rec[k], str) and len(rec[k]) == 11):
                return False
        elif rec[k] != v:
            return False
    return True


def check_poll_round(r: dict, facts: dict) -> set[int]:
    """Output checks for one round; returns the failed step ids.

    Per record (a failure fails the step that put it): decodes against the
    sink schema, re-encodes to the same bytes, and equals, field by field,
    the record the generator expects for that patron (hashes, J5 memo-cache
    geoid and initial home library, geocoded geoid, dates, codes).  Per round
    (a failure fails every step of the round): the emitted patrons are
    exactly the expected distinct patrons, none twice, the sink's accepted
    count equals the records delivered, no put was left half-written, and the
    final watermarks equal the generator's maxima."""
    from engine.ops.avro_codec import decode_record, encode_record
    from engine.schemas import SINK_AVRO_SCHEMA

    expected = facts["expected_records"]
    n_steps = len(r["steps"])
    failed: set[int] = set()
    if r["error"]:
        failed.add(n_steps)
    ids = []
    puts_dir = os.path.join(r["dir"], "puts")
    for tag, recs in probes.read_puts(puts_dir):
        for b in recs:
            try:
                rec = decode_record(b, SINK_AVRO_SCHEMA)
                if encode_record(rec, SINK_AVRO_SCHEMA) != b:
                    raise ValueError("record does not round-trip")
            except Exception:  # any undecodable record fails its step
                failed.add(tag)
                continue
            ids.append(rec["patron_id"])
            if not any(record_matches(rec, w) for w in expected.get(rec["patron_id"], [])):
                failed.add(tag)
    half_written = [f for f in os.listdir(puts_dir) if f.endswith(".tmp")]
    round_ok = (
        sorted(ids) == sorted(expected)
        and len(ids) == r["accepted"]
        and not half_written
        and all(r["final_state"].get(k) == v for k, v in facts["watermarks"].items())
    )
    if not round_ok:
        failed.update(range(max(n_steps, 1)))
    return failed


def run_poll(args, out: dict) -> None:
    lay = out["layers"]
    data_dir, facts = gen.sierra_inputs(os.path.join(WORK, "data"), args.seed, **POLL_SIZES)
    t_setup = now()
    spark = start_session(lay)
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        poll = Poll(spark, data_dir, facts, run_dir)
        t_warm = now()
        # warm-up: one batch per mode, same batch size as the timed rounds
        poll.round("warmup", max_batches=1)
        lay["session.warmup_s"] = now() - t_warm
        out["setup_s"] = now() - t_setup

        def timed(label: str, tracer=None) -> list[dict]:
            rounds = []
            while not rounds or sum(r["t1"] - r["t0"] for r in rounds) < args.seconds:
                rounds.append(poll.round(f"{label}{len(rounds)}", tracer=tracer))
            return rounds

        def tally(rounds: list[dict]) -> None:
            for r in rounds:
                out["attempted"] += len(r["steps"]) + (1 if r["error"] else 0)
                out["failed"] += len(check_poll_round(r, facts))

        out["attempted"], out["failed"] = 0, 0
        if not args.trace:
            rounds = timed("r")
            tally(rounds)
            steps = [s for r in rounds for s in r["steps"]]
            out["items_per_s"] = _rate(rounds)
            out["step_s.p50"], out["steps"] = sp.median_n(steps)
            out["cached_mb"] = sp.median_n(r["cached_mb"] for r in rounds)[0]
            out["rounds"] = [_rate([r]) for r in rounds]
        else:
            # untraced rounds on both sides of the traced ones, so the
            # overhead is not the warm-up gained between them
            before = poll.round("u0")
            tracer = sp.Tracer()
            exec0 = sp.max_execution_id(spark)
            traced = timed("t", tracer)
            lay.update(sp.sql_totals(spark, exec0))
            after = poll.round("u1")
            tally([before] + traced + [after])
            _poll_layers(lay, traced, tracer)
            lay["trace.overhead_items_per_s"] = (
                _rate(traced) - (_rate([before]) + _rate([after])) / 2)
            lay["session.jvm_hwm_mb"] = sp.jvm_peak_mb(spark)
            tracer.dump(os.path.join(run_dir, "spans.json"))
            out["steps"] = lay["steps"]
            out["rounds"] = [_rate([r]) for r in [before] + traced + [after]]
        # the pack's one-time oracle check is a build step: the first run in a
        # checkout (this workload comes first) does it after its measurement,
        # so no headline_pack run has to fit it into its own time
        verify_pack(spark)
    finally:
        stop_session(spark)


def _rate(rounds: list[dict]) -> float:
    """Records accepted by the sink per second of timed work."""
    return sum(r["accepted"] for r in rounds) / sum(r["t1"] - r["t0"] for r in rounds)


def _poll_layers(lay: dict, rounds: list[dict], tracer: sp.Tracer) -> None:
    for k in ("page", "graph", "sink", "fold"):
        key = "pipeline.graph_build_s" if k == "graph" else f"pipeline.{k}_s"
        lay[key] = sp.median_n(v for r in rounds for v in r["stage"][k])[0]
    n_steps = sum(len(r["steps"]) for r in rounds)
    lay["pipeline.jobs_per_batch"] = sum(r["jobs"] for r in rounds) / max(n_steps, 1)
    lay["pipeline.plan_chars"] = rounds[-1]["plan_chars"]
    lay["pipeline.batch_growth"] = sp.median_n(sp.growth(r["steps"]) for r in rounds)[0]
    rows_in = sum(s.rows_in for r in rounds if r["report"]
                  for s in (r["report"].new, r["report"].updated, r["report"].deleted))
    rows_out = sum(s.rows_out for r in rounds if r["report"]
                   for s in (r["report"].new, r["report"].updated, r["report"].deleted))
    lay["pipeline.rows_in"], lay["pipeline.rows_out"] = rows_in, rows_out
    lay["pipeline.dedup_drop_ratio"] = 1 - rows_out / rows_in if rows_in else 0.0
    stats, repeats = [], 0
    for r in rounds:
        got = probes.read_stats(os.path.join(r["dir"], "stats"))
        keys = [(s["kind"], k) for s in got if s["kind"] != "put" for k in s["keys"]]
        repeats += len(keys) - len(set(keys))
        stats += got
    geo = [s for s in stats if s["kind"] != "put"]
    for kind in ("census1", "census2", "geosupport"):
        lay[f"geocode.rows.{kind}"] = sum(s["n"] for s in geo if s["kind"] == kind)
    lay["geocode.worker_s"] = sum(s["s"] for s in geo)
    n_geo = sum(s["n"] for s in geo)
    lay["geocode.match_ratio"] = sum(s["matched"] for s in geo) / n_geo if n_geo else 0.0
    lay["geocode.repeat_rows"] = repeats
    puts = [s for s in stats if s["kind"] == "put"]
    lay["sink.records"] = sum(s["n"] for s in puts if s["ok"])
    lay["sink.bytes"] = sum(s["bytes"] for s in puts if s["ok"])
    lay["sink.puts"] = len(puts)
    lay["sink.failed_puts"] = sum(1 for s in puts if not s["ok"])
    lay["sink.put_s"] = sum(s["s"] for s in puts)
    for name, t in sp.self_time_by_name(tracer.spans).items():
        lay[f"self_s.{name}"] = t
    lay["steps"] = n_steps


# ---------------------------------------------------------------------------
# headline_pack
# ---------------------------------------------------------------------------


def fingerprint(df) -> list:
    """Order-insensitive result fingerprint computed by Spark: row count and
    the exact sum of per-row xxhash64 over every column.  It forces the whole
    plan like the noop sink does, and returns a single row."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(f"`{c}`") for c in df.columns]).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [int(row["n"]), str(row["h"])]


def verify_pack(spark, passes: list[dict] | None = None) -> dict[str, list]:
    """Fingerprints per query whose result on the frozen sf0.1 tables the
    DuckDB oracle has verified.

    A step's fingerprint that is not among its query's verified ones sends
    the query to the oracle: the query runs again, and its Spark result must
    equal the DuckDB result under the comparison ``tools/check_oracle.py``
    makes, and then that run's fingerprint joins the verified set.  The set
    is cached, so the oracle runs once per checkout and again only when a
    result's bits change (another column type or scale with equal values).
    Without ``passes``, every query with no verified fingerprint yet goes to
    the oracle."""
    cache: dict[str, list] = {}
    if os.path.exists(VERIFIED):
        with open(VERIFIED) as f:
            cache = json.load(f)
    if passes is None:
        from bench import HEADLINE

        todo = [n for n in HEADLINE if n not in cache]
    else:
        todo = unverified(passes, cache)
    if not todo:
        return cache
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    from queries import ORACLE_SQL, SPARK_QUERIES

    t0 = now()
    con = check_oracle.duck_con(PACK_DIR)
    try:
        for name in todo:
            # persisted: the fingerprint is of the very result compared
            df = SPARK_QUERIES[name](spark, PACK_DIR).persist()
            ok, msg = check_oracle.compare(name, df.toPandas(), con.execute(ORACLE_SQL[name]).df())
            if ok:
                cache.setdefault(name, []).append(fingerprint(df))
            else:
                print(f"oracle mismatch {name}: {msg}", file=sys.stderr)
            df.unpersist()
            spark.catalog.clearCache()
    finally:
        con.close()
    os.makedirs(os.path.dirname(VERIFIED), exist_ok=True)
    tmp = VERIFIED + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f, sort_keys=True)
    os.replace(tmp, VERIFIED)
    print(f"oracle check of {len(todo)} queries: {now() - t0:.1f}s", file=sys.stderr)
    return cache


def unverified(passes: list[dict], verified: dict[str, list]) -> list[str]:
    """Queries with a fingerprint the oracle has not verified (failed runs,
    which have none, are not sent to it)."""
    return sorted({s["name"] for p in passes for s in p["steps"]
                   if s["fp"] is not None and s["fp"] not in verified.get(s["name"], [])})


def pack_failures(passes: list[dict], verified: dict[str, list]) -> int:
    """Queries whose result fingerprint is not one the oracle verified."""
    return sum(1 for p in passes for s in p["steps"] if s["fp"] not in verified.get(s["name"], []))


def run_pack(args, out: dict) -> None:
    from bench import HEADLINE

    lay = out["layers"]
    sf_dir, warm_dir = PACK_DIR, os.path.join(FROZEN, f"sf{WARM_SF}")
    order = list(HEADLINE)
    random.Random(args.seed).shuffle(order)
    t_setup = now()
    spark = start_session(lay)
    try:
        from queries import SPARK_QUERIES

        t_warm = now()
        for name in order:
            fingerprint(SPARK_QUERIES[name](spark, warm_dir))
            spark.catalog.clearCache()
        for name in ("region", "lineitem", "documents"):
            spark.read.parquet(f"{sf_dir}/{name}.parquet").limit(1).count()
        lay["session.warmup_s"] = now() - t_warm
        out["setup_s"] = now() - t_setup

        def one_pass(tracer=None, parity=0) -> dict:
            """One pass over ``order``; with a tracer, the queries at positions
            of the given parity record spans and the others do not."""
            steps, peak = [], 0
            for j, name in enumerate(order):
                traced = tracer is not None and j % 2 == parity
                df = None  # a failed query must not keep the last result live
                t0 = now()
                try:
                    df = SPARK_QUERIES[name](spark, sf_dir)
                    t1 = now()
                    fp = fingerprint(df)
                except Exception:  # a failed query is a failed operation
                    print(traceback.format_exc(), file=sys.stderr)
                    t1, fp = now(), None
                t2 = now()
                if traced:
                    q = tracer.add("query", t0, t2, step=j)
                    tracer.add("build", t0, t1, parent=q, step=j)
                    tracer.add("exec", t1, t2, parent=q, step=j)
                peak = max(peak, sp.live_storage_bytes(spark))
                if traced:
                    tracer.add("sample", t2, now(), step=j)
                spark.catalog.clearCache()
                steps.append({"name": name, "build": t1 - t0, "exec": t2 - t1, "fp": fp,
                              "traced": traced})
            return {"steps": steps, "cached_mb": peak / 1e6,
                    "total": sum(s["build"] + s["exec"] for s in steps)}

        if not args.trace:
            passes = []
            while not passes or sum(p["total"] for p in passes) < args.seconds:
                passes.append(one_pass())
        else:
            # each query runs once traced and once not, in alternate passes,
            # so warm-up between passes cancels out of the overhead
            tracer = sp.Tracer()
            exec0 = sp.max_execution_id(spark)
            passes = [one_pass(tracer, 0), one_pass(tracer, 1)]
            lay.update(sp.sql_totals(spark, exec0))
        verified = verify_pack(spark, passes)

        steps = [s for p in passes for s in p["steps"]]
        out["attempted"] = len(steps)
        out["failed"] = pack_failures(passes, verified)
        out["rounds"] = [len(p["steps"]) / p["total"] for p in passes]
        if not args.trace:
            out["items_per_s"] = len(steps) / sum(p["total"] for p in passes)
            out["step_s.p50"], out["steps"] = sp.median_n(s["build"] + s["exec"] for s in steps)
            out["cached_mb"] = sp.median_n(p["cached_mb"] for p in passes)[0]
        else:
            traced = [s for s in steps if s["traced"]]
            untraced = [s for s in steps if not s["traced"]]

            def rate(ss):
                return len(ss) / sum(s["build"] + s["exec"] for s in ss)

            lay["trace.overhead_items_per_s"] = rate(traced) - rate(untraced)
            lay["pack.build_s"] = sum(s["build"] for s in traced)
            lay["pack.exec_s"] = sum(s["exec"] for s in traced)
            for s in traced:
                lay[f"query.{s['name']}.exec_s"] = s["exec"]
            for name, t in sp.self_time_by_name(tracer.spans).items():
                lay[f"self_s.{name}"] = t
            lay["steps"] = out["steps"] = len(traced)
            lay["session.jvm_hwm_mb"] = sp.jvm_peak_mb(spark)
            run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
            os.makedirs(run_dir, exist_ok=True)
            tracer.dump(os.path.join(run_dir, "spans.json"))
    finally:
        stop_session(spark)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "app.py")):
        print(f"no engine sources under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    out: dict = {"layers": {}}
    (run_poll if args.workload.startswith("poll") else run_pack)(args, out)

    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "steps": out["steps"], "items_per_s_by_round": out["rounds"],
                      "wall_s": now() - _T_PROC}), flush=True)
    if args.trace:
        units = _per_layer_units()
        metrics = {k: {"value": float(out["layers"].get(k, 0.0)), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": float(out[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
