"""The two workloads. Each is a closed loop with one calling thread: the
next operation starts only after the previous one has returned.

A workload function gets a ``Ctx`` after the session is up, stages its
inputs, calls ``ctx.mark_setup()``, runs its loop for ``ctx.seconds``,
then checks outputs outside every timed region. The loop always runs
one operation and starts another only if, at the pace so far, it would
end inside the window. The workload leaves its raw samples in the
``Ctx``; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import datetime
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import gen
from probe import persistent_rdds

CURATED_WARMUP = 4  # untimed consumer reads of the curated set after each batch
CURATED_READS = 10  # timed consumer reads that follow them


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    setup_end: float = 0.0  # perf_counter() when set-up finished
    ops: list[dict] = field(default_factory=list)  # spans of the unit op: refresh / micro-batch
    reads: list[dict] = field(default_factory=list)  # spans of the read calls
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One correctness check: counted as an attempted operation, and
        as a failed one when it does not hold."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}".strip())

    def mark_setup(self) -> None:
        self.setup_end = time.perf_counter()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3)}")

    def keep_going(self, t_loop: float) -> bool:
        if not self.ops:
            return True
        elapsed = time.perf_counter() - t_loop
        return elapsed + elapsed / len(self.ops) <= self.seconds


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _counted(spans: list[dict], key: str) -> float:
    return _median(s.get(key, 0.0) for s in spans)


# --- batch_refresh -----------------------------------------------------------

PIPELINE_TABLES = (
    "silver_articles",
    "silver_article_stories",
    "gold_stories",
    "gold_recommendations",
    "gold_bias_reports",
)
READ_CALLS = ("get_recommendations", "latest_stories", "get_story", "drift_score")


def batch_refresh(ctx: Ctx) -> None:
    """Refresh the gold tables with ``run_pipeline`` into a fresh dir from
    an empty Spark cache, then serve a seeded burst of API calls from the
    gold it just wrote; repeat. The first refresh is the process's first
    call, as for a refresh job that a scheduler starts: it pays for JIT,
    codegen and the Python workers' start."""
    from newsify_spark.api import NewsifyAPI
    from newsify_spark.pipeline import run_pipeline

    spark, tr = ctx.spark, ctx.tracer
    in_dir = os.path.join(ctx.work, "input")
    gen.stage_refresh_inputs(ctx.seed, in_dir)
    ctx.mark_setup()

    rng = np.random.default_rng(ctx.seed + 1)
    stage_s: dict[str, list[float]] = {t: [] for t in PIPELINE_TABLES}
    call_spans, rdds_after = [], []
    appended, out = 0, None
    t_loop = time.perf_counter()
    while ctx.keep_going(t_loop):
        out = os.path.join(ctx.work, f"gold{len(ctx.ops)}")
        spark.catalog.clearCache()
        before = persistent_rdds(spark)
        ctx.attempted += 1
        try:
            with tr.span("pipeline.run_pipeline", counters=True, cpu=True) as s:
                timings = run_pipeline(spark, in_dir, out)
        except Exception:
            ctx.fail("run_pipeline")
            break
        ctx.ops.append(s)
        for t in PIPELINE_TABLES:
            stage_s[t].append(timings.get(t, 0.0))
        rdds_after.append(persistent_rdds(spark) - before)
        spark.catalog.clearCache()

        api = NewsifyAPI(spark, out)
        in_log = api.track_events(_events(rng, gen.TRACK_BATCH, appended))
        appended += in_log
        story_ids = sorted(
            r.story_id for r in spark.read.parquet(f"{out}/gold_stories").select("story_id").collect()
        )
        # one untimed call of each read kind first, so the timed burst
        # meets read paths a serving process has already run once
        timed_calls = gen.serve_calls(rng)
        warm_calls = {n: (n, a) for n, a in reversed(gen.serve_calls(rng)) if n in READ_CALLS}
        for timed, calls in ((False, list(warm_calls.values())), (True, timed_calls)):
            for name, arg in calls:
                if name == "get_story":
                    arg = str(story_ids[arg % len(story_ids)]) if story_ids else "0"
                elif name == "track_events":
                    arg = _events(rng, arg, appended)
                ctx.attempted += 1
                try:
                    if timed:
                        with tr.span(f"api.{name}", counters=True, cpu=True) as s:
                            res = _call(api, name, arg)
                    else:
                        res = _call(api, name, arg)
                except Exception:
                    ctx.fail(f"api.{name}")
                    continue
                if name == "track_events":
                    appended += res
                    in_log += res
                if timed:
                    call_spans.append(s)
                    if name != "track_events":
                        ctx.reads.append(s)

    ctx.check("inputs_deterministic", gen.digest("batch_refresh", ctx.seed) == gen.digest("batch_refresh", ctx.seed))
    if out is not None and not ctx.failed:
        _check_gold(ctx, out)
        _check_serve(ctx, NewsifyAPI(spark, out), out, in_log)

    L = ctx.layer
    for t in PIPELINE_TABLES:
        L[f"pipeline.{t}_s"] = _median(stage_s[t])
    for k in ("driver_s", "cpu_s", "stages", "tasks", "shuffle_bytes", "spill_bytes", "input_bytes"):
        L[f"pipeline.{k}"] = _counted(ctx.ops, k)
    L["pipeline.cached_rdds_after"] = _median(rdds_after)
    for name in READ_CALLS + ("track_events",):
        L[f"api.{name}_ms"] = 1000 * _median(s["wall_s"] for s in call_spans if s["name"] == f"api.{name}")
    L["api.stages_per_read"] = _counted(ctx.reads, "stages")
    L["api.driver_ms_per_read"] = 1000 * _counted(ctx.reads, "driver_s")


def _events(rng: np.random.Generator, n: int, appended: int) -> list[dict]:
    ev = gen.events(rng, n, gen.N_USERS, first_id=10**9 + appended)
    return [
        {**r, "ts": r["ts"].to_pydatetime().replace(tzinfo=datetime.timezone.utc)}
        for r in ev.to_dict("records")
    ]


def _call(api, name: str, arg):
    if name == "get_recommendations":
        return api.get_recommendations(arg)
    if name == "latest_stories":
        return api.latest_stories()
    if name == "get_story":
        return api.get_story(arg)
    if name == "drift_score":
        return api.drift_score()
    return api.track_events(arg)


def _check_gold(ctx: Ctx, out: str) -> None:
    """Gold invariants: every table written; ranks run 1..k per user; no
    article sits in two stories; the re-delivered copies were dropped."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    for t in PIPELINE_TABLES:
        ctx.check(f"{t}_written", os.path.isdir(os.path.join(out, t)))
    recs = spark.read.parquet(f"{out}/gold_recommendations")
    bad_ranks = recs.filter(
        F.expr("transform(recommendations, r -> r.rnk)")
        != F.sequence(F.lit(1), F.size("recommendations"))
    ).count()
    ctx.check("ranks_1_to_k", recs.count() > 0 and bad_ranks == 0, f"{bad_ranks} users")
    members = spark.read.parquet(f"{out}/gold_stories").select(F.explode("articles").alias("a"))
    n, n_distinct = members.count(), members.distinct().count()
    ctx.check("story_articles_disjoint", n > 0 and n == n_distinct, f"{n} vs {n_distinct}")
    n_texts = gen.refresh_inputs(ctx.seed)["documents"].text.nunique()
    n_articles = spark.read.parquet(f"{out}/silver_articles").count()
    ctx.check("exact_copies_dropped", n_articles == n_texts, f"{n_articles} vs {n_texts}")


def _check_serve(ctx: Ctx, api, out: str, in_log: int) -> None:
    """API answers equal a direct read of the gold tables, and events_log
    holds exactly the events appended."""
    from pyspark.sql import functions as F

    spark = ctx.spark
    recs = spark.read.parquet(f"{out}/gold_recommendations")
    users = [r.user_id for r in recs.select("user_id").orderBy("user_id").limit(2).collect()]
    for u in users:
        want = [
            (r.story_id, r.score, r.rnk)
            for r in recs.filter(F.col("user_id") == u)
            .select(F.explode("recommendations").alias("r"))
            .select("r.story_id", "r.score", "r.rnk")
            .orderBy("rnk")
            .limit(10)
            .collect()
        ]
        got = [(d["story_id"], d["score"], d["rnk"]) for d in api.get_recommendations(u)]
        ctx.check("recommendations_match_gold", got == want, f"user {u}")
    latest = api.latest_stories()
    stories = spark.read.parquet(f"{out}/gold_stories")
    want_ids = [
        str(r.story_id)
        for r in stories.orderBy(F.col("last_updated").desc(), F.col("story_id").cast("string"))
        .limit(10)
        .collect()
    ]
    ctx.check("latest_stories_match_gold", [d["story_id"] for d in latest] == want_ids)
    fallback = api.get_recommendations(-1)
    ctx.check("unknown_user_fallback", [d["story_id"] for d in fallback] == want_ids)
    if want_ids:
        got = api.get_story(want_ids[0])
        ctx.check("get_story_match_gold", got is not None and str(got["story_id"]) == want_ids[0])
    n_log = spark.read.parquet(f"{out}/events_log").count()
    ctx.check("events_log_count", n_log == in_log, f"{n_log} vs {in_log}")


# --- stream_ingest -------------------------------------------------------------

STREAM_SCHEMA = "doc_id long, source string, n_chars long, text string"
DOC_COLS = ("doc_id", "source", "n_chars", "text")


def stream_ingest(ctx: Ctx) -> None:
    """Fixed-size micro-batches through ``ingest_batch(txn_bronze=True)``,
    then the bronze change feed into the curation verdict table,
    materialized once per batch; a consumer then reads the curated set."""
    from newsify_spark.operators import txnlog as T
    from newsify_spark.operators.curation import (
        apply_changes_to_verdicts,
        curated_from_verdicts,
        curation_verdicts,
    )
    from newsify_spark.streaming.cdf import run_cdf_feed
    from newsify_spark.streaming.ingest import ingest_batch

    spark, tr = ctx.spark, ctx.tracer
    batches = gen.stream_batches(ctx.seed, gen.STREAM_BATCHES)
    store = os.path.join(ctx.work, "signatures")
    bronze = os.path.join(ctx.work, "bronze")
    empty = spark.createDataFrame([], STREAM_SCHEMA)
    state = {"verdicts": curation_verdicts(empty).localCheckpoint(eager=True), "synced": -1}
    done: list[gen.Batch] = []
    ctx.mark_setup()

    def consume(changes, hi: int) -> None:
        changes = changes.select("_change_type", "_commit_version", *DOC_COLS)
        v = apply_changes_to_verdicts(state["verdicts"], changes)
        state["verdicts"] = v.localCheckpoint(eager=True)
        state["synced"] = hi

    ingest_spans, cdf_spans, rdds_after, reads = [], [], [], []
    t_loop = time.perf_counter()
    while ctx.keep_going(t_loop) and len(done) < len(batches):
        b = batches[len(done)]
        df = spark.createDataFrame(b.rows, STREAM_SCHEMA)
        ctx.attempted += 1
        try:
            before = persistent_rdds(spark)
            with tr.span("stream.micro_batch", cpu=True) as op:
                with tr.span("ingest.ingest_batch", counters=True) as s:
                    ingest_batch(df, b.batch_id, store, bronze, txn_bronze=True)
                left = persistent_rdds(spark) - before
                with tr.span("cdf.run_cdf_feed", counters=True) as c:
                    run_cdf_feed(spark, bronze, consume, from_version=state["synced"] + 1)
            for _ in range(CURATED_WARMUP):
                curated_from_verdicts(state["verdicts"]).select("doc_id").collect()
            for _ in range(CURATED_READS):
                with tr.span("curation.read", counters=True, cpu=True) as r:
                    reads.append(curated_from_verdicts(state["verdicts"]).select("doc_id").collect())
                ctx.reads.append(r)
        except Exception:
            ctx.fail(f"micro_batch {b.batch_id}")
            break
        ctx.ops.append(op)
        ingest_spans.append(s)
        cdf_spans.append(c)
        rdds_after.append(left)
        done.append(b)
        spark.catalog.clearCache()

    L = ctx.layer
    ctx.check("inputs_deterministic", gen.digest("stream_ingest", ctx.seed) == gen.digest("stream_ingest", ctx.seed))
    if ctx.ops and not ctx.failed:
        if tr.enabled:
            # replayed batch id: the exactly-once marker must make it a
            # no-op. The replay meets a store that holds every row it
            # carries, so it also runs the bloom probe and the LSH join
            # against the store. It costs a whole batch of dedup work, so
            # only the traced run pays for it.
            last = done[-1]
            n_commits = len(T.history(bronze))
            ctx.attempted += 1
            try:
                with tr.span("ingest.replay", counters=True) as s:
                    ingest_batch(
                        spark.createDataFrame(last.rows, STREAM_SCHEMA), last.batch_id, store,
                        bronze, txn_bronze=True,
                    )
                L["ingest.replay_s"] = s["wall_s"]
                ctx.check("replay_mints_no_commit", len(T.history(bronze)) == n_commits)
            except Exception:
                ctx.fail("replay")
        _check_stream(ctx, bronze, done, state["verdicts"], reads[-1], T, curation_verdicts,
                      curated_from_verdicts)

    L["ingest.ingest_batch_s"] = _median(s["wall_s"] for s in ingest_spans)
    for k in ("driver_s", "cpu_s"):
        L[f"ingest.{k}"] = _counted(ingest_spans, k)
    L["ingest.stages_per_batch"] = _counted(ingest_spans, "stages")
    L["ingest.tasks_per_batch"] = _counted(ingest_spans, "tasks")
    L["ingest.shuffle_bytes_per_batch"] = _counted(ingest_spans, "shuffle_bytes")
    L["ingest.cached_rdds_after"] = _median(rdds_after)
    L["cdf.feed_s"] = _median(s["wall_s"] for s in cdf_spans)
    L["cdf.stages_per_batch"] = _counted(cdf_spans, "stages")
    L["curation.read_ms"] = 1000 * _median(r["wall_s"] for r in ctx.reads)
    L["txnlog.commits"] = float(len(T.history(bronze)))


def _check_stream(ctx, bronze, done, verdicts, last_read, T, curation_verdicts, curated_from_verdicts):
    """Against the generator's ground truth: no exact re-delivery admitted,
    and the incrementally maintained verdicts (and the curated set read
    from them) equal a full recompute over the bronze snapshot."""
    snapshot = T.read_table(ctx.spark, bronze).select(*DOC_COLS)
    admitted = {r.doc_id for r in snapshot.select("doc_id").collect()}
    kinds: dict[int, str] = {}
    for b in done:
        kinds.update(b.kind)
    of = lambda k: [d for d, kd in kinds.items() if kd == k]  # noqa: E731
    exact_in = sum(d in admitted for d in of("exact"))
    near = of("near")
    L = ctx.layer
    L["ingest.admitted"] = float(len(admitted))
    L["ingest.exact_dups_admitted"] = float(exact_in)
    L["ingest.near_dups_caught_ratio"] = (
        sum(d not in admitted for d in near) / len(near) if near else 0.0
    )
    L["ingest.novel_dropped"] = float(sum(d not in admitted for d in of("novel")))
    ctx.check("exact_dups_admitted_zero", exact_in == 0, f"{exact_in} admitted")
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    full = curation_verdicts(snapshot)
    ctx.check("verdicts_equal_full_recompute", rows(verdicts) == rows(full))
    want = sorted(r.doc_id for r in curated_from_verdicts(full).select("doc_id").collect())
    ctx.check("curated_read_equal_full_recompute", sorted(r.doc_id for r in last_read) == want)


WORKLOADS = {"batch_refresh": batch_refresh, "stream_ingest": stream_ingest}
