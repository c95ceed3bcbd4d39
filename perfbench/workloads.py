"""The benchmark's workloads. Each is one client in a closed loop: it
sends the next operation only after the previous one completed, and
drives the program only through its public functions.

Every workload returns a :class:`Result` with the end-to-end metrics
(``END_TO_END``, the same names on every workload) and, on a traced
run, the per-layer metrics (``LAYERS``).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import datagen
import numpy as np
from tracing import (
    SpanRecorder,
    geomean,
    job_counters,
    median,
    percentile,
    tail_percentile,
    tree_cpu_seconds,
)

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

QMIX_SF = 0.01
# (query id, module it exercises); per-query layer metrics are named
# <module>.<qid>.<counter>
QMIX = (
    ("q31", "operators.dedup"),
    ("q148", "operators.graph"),
    ("q171", "operators.timeseries"),
)
_QUERY_COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_ms")

# Per-layer metrics. A traced run reports every one of them; a layer
# the workload does not exercise reads 0.
LAYERS = {
    "session.start_s": "s",
    "process.cpu_ms_per_op": "ms",
    "serving.index_build_s": "s",
    "serving.index_keys": "count",
    "serving.get_recommendation_p50_ms": "ms",
    "serving.get_recommendation_p99_ms": "ms",
    "serving.keys_scanned_per_read": "count",
    "serving.send_profiles_p50_ms": "ms",
    "serving.profiles_per_send": "count",
    **{
        f"streaming.{k}_p50_ms": "ms"
        for k in (
            "add_batch",
            "query_planning",
            "get_batch",
            "latest_offset",
            "wal_commit",
            "commit_offsets",
            "trigger_execution",
        )
    },
    "streaming.input_rows_per_batch": "count",
    "streaming.profiles_per_s": "1/s",
    "streaming.flatness": "ratio",
    "streaming.freshness_tail_ms": "ms",
    "streaming.freshness_tail_pct": "%",
    "streaming.freshness_samples": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.dedup_drop_ratio": "ratio",
    "sink.pairs_written": "count",
    "sink.pairs_per_input": "ratio",
    "sink.files_per_batch": "count",
    "sink.kv_mirror_ms": "ms",
    "scoring.jobs_per_batch": "count",
    "scoring.stages_per_batch": "count",
    "scoring.tasks_per_batch": "count",
    "scoring.executor_run_ms_per_batch": "ms",
    "scoring.gc_ms_per_batch": "ms",
    "scoring.shuffle_write_bytes_per_batch": "bytes",
    **{
        f"{mod}.{qid}.{k}": u
        for qid, mod in QMIX
        for k, u in (
            ("p50_ms", "ms"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
            ("executor_run_ms", "ms"),
        )
    },
    # the end-to-end metrics as measured with tracing on; against the
    # untraced run they give the tracing overhead
    **{f"trace.{k}": u for k, u in END_TO_END.items() if k != "setup_s"},
}
UNITS = {**END_TO_END, **LAYERS}


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    traced: bool
    tracer: SpanRecorder
    t_process_start: float
    session_start_s: float


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    end_to_end: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


def _with_trace(ctx: Context, e2e: dict, cpu_s: float, ops: int, layers: dict) -> dict:
    """The full per-layer map of a traced run: every name in LAYERS,
    0 where this workload does not exercise the layer."""
    unknown = set(layers) - set(LAYERS)
    if unknown:
        raise KeyError(f"unregistered layer metrics: {sorted(unknown)}")
    out = {k: 0.0 for k in LAYERS}
    out.update({k: float(v) for k, v in layers.items()})
    out["session.start_s"] = ctx.session_start_s
    # CPU seconds of the whole process tree (driver, JVM, Python
    # workers) per timed operation; excludes time the host steals
    out["process.cpu_ms_per_op"] = cpu_s * 1000.0 / ops
    out.update({f"trace.{k}": float(v) for k, v in e2e.items() if k != "setup_s"})
    return out


def _knuth_items(n_items: int):
    """q178's item mapping: pmod(pmod(event_id, 2^31) * KNUTH, 2^32) mod n."""
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.functions.hashing import KNUTH, MOD32

    return F.pmod(
        F.pmod(F.pmod(F.col("event_id"), F.lit(2147483648)) * F.lit(KNUTH), F.lit(MOD32)),
        F.lit(n_items),
    )


class RecordingKV(dict):
    """The serving store: a plain dict (the program's KV contract) that
    also remembers which profile keys the handlers wrote, so each
    ``send_profiles`` call can be published as one stream file."""

    def __init__(self, *args):
        super().__init__(*args)
        self.profile_writes: list[tuple[str, str]] = []

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        if key.startswith("user_profile:"):
            self.profile_writes.append((key, value))


class KvMirror:
    """Makes the file-backed recommendation sink readable through the
    dict the serving handlers read: loads sink files not seen before."""

    def __init__(self, path: str, kv: dict):
        self.path, self.kv, self.seen = path, kv, set()

    def sync(self) -> int:
        if not os.path.isdir(self.path):
            return 0
        new = sorted(set(os.listdir(self.path)) - self.seen)
        for fn in new:
            with open(os.path.join(self.path, fn)) as f:
                for line in f:
                    rec = json.loads(line)
                    dict.__setitem__(self.kv, rec["key"], rec["value"])
        self.seen.update(new)
        return len(new)


def _publish(msg_dir: str, staging: str, name: str, lines: list[str]) -> None:
    """Write one stream file atomically (rename), so the file source
    never lists a half-written file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(msg_dir, name))


def _progress_layers(progress: list[dict]) -> dict:
    """Median progress ``durationMs`` fields and rows per batch."""
    fields = {
        "add_batch": "addBatch",
        "query_planning": "queryPlanning",
        "get_batch": "getBatch",
        "latest_offset": "latestOffset",
        "wal_commit": "walCommit",
        "commit_offsets": "commitOffsets",
        "trigger_execution": "triggerExecution",
    }
    out = {
        f"streaming.{k}_p50_ms": median(
            [float(p["durationMs"].get(v, 0)) for p in progress]
        )
        for k, v in fields.items()
    }
    out["streaming.input_rows_per_batch"] = median(
        [float(p["numInputRows"]) for p in progress]
    )
    trig = [float(p["durationMs"].get("triggerExecution", 0)) for p in progress]
    third = max(1, len(trig) // 3)
    early = median(trig[:third])
    out["streaming.flatness"] = median(trig[-third:]) / early if early else 0.0
    return out


# ---------------------------------------------------------------------------
# replay: send_profiles -> one stream file -> one micro-batch of the
# cascade -> recommendation KV -> get_recommendation
# ---------------------------------------------------------------------------

# sf0.1 (~101.5k keys) made a run ~10 s longer (index build, 10x slower
# serving scans), past a run's time budget; the per-batch cascade cost
# barely depends on the scale
REPLAY_SF = 0.01
# the first micro-batch runs while the JVM is still compiling and takes
# ~2.5x a warm one; the second ~1.3x, later ones settle (local[4])
REPLAY_WARMUP_OPS = 1
REPLAY_PROBES = 400


def replay(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from streaming_recommendation_spark.cascade import CascadeConfig
    from streaming_recommendation_spark.serving import (
        KvReplayService,
        build_kv_history_index,
    )
    from streaming_recommendation_spark.sources.testdata import load_table
    from streaming_recommendation_spark.streaming.pipeline import (
        parse_profile_stream,
        profile_pipeline,
    )
    from streaming_recommendation_spark.streaming.scoring import score_batch
    from streaming_recommendation_spark.streaming.sink import (
        JsonlDirSink,
        foreach_batch_writer,
    )

    spark, tr, w = ctx.spark, ctx.tracer, ctx.work
    data = os.path.join(w, "data")
    tables = datagen.write_tables(data, ctx.seed, REPLAY_SF, ("events", "embeddings"))
    n_items = tables["embeddings"].num_rows
    events = load_table(spark, "events", data)
    behavior = events.select(
        "user_id",
        F.unix_timestamp("ts").alias("timestamp"),
        _knuth_items(n_items).alias("item_id"),
    )
    items = (
        load_table(spark, "embeddings", data)
        .select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("item_vec"))
        .cache()
    )
    cfg = CascadeConfig()

    t = time.perf_counter()
    with tr.span("serving.build_kv_history_index"):
        index_sink = JsonlDirSink(os.path.join(w, "index"))
        build_kv_history_index(behavior, index_sink)
        kv = RecordingKV(index_sink.read_all())
    index_build_s = time.perf_counter() - t
    index_keys = len(kv)
    svc = KvReplayService(kv)

    # probes: seeded draws from the later half of the event log, in
    # time order, so most users already have a history
    ev = tables["events"]
    n_ev = ev.num_rows
    rng = np.random.default_rng(ctx.seed + 1)
    picks = np.sort(rng.choice(np.arange(n_ev // 2, n_ev), REPLAY_PROBES, replace=False))
    users = ev.column("user_id").to_numpy()[picks]
    secs = ev.column("ts").cast("int64").to_numpy()[picks] // 1_000_000
    probes = [(int(u), int(s)) for u, s in zip(users, secs, strict=True)]

    rec_dir = os.path.join(w, "recs")
    writer = foreach_batch_writer(JsonlDirSink(rec_dir))
    mirror = KvMirror(rec_dir, kv)

    def handle(batch_df, batch_id: int) -> None:
        with tr.span("streaming.foreach_batch", op=batch_id):
            records = score_batch(batch_df, items, cfg)
            with tr.span("sink.foreach_batch_writer"):
                writer(records, batch_id)

    msg_dir, staging = os.path.join(w, "msgs"), os.path.join(w, "staging")
    os.makedirs(msg_dir)
    os.makedirs(staging)

    # the scoring leg, built the way recommendation_pipeline builds it
    # but as one long-running query (its trigger is fixed to availableNow)
    scoring = (
        parse_profile_stream(spark.readStream.option("maxFilesPerTrigger", 1).text(msg_dir))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(w, "ckpt-scoring"))
        .outputMode("update")
        .start()
    )

    digest = hashlib.sha256()
    sent: set[str] = set()

    def one_op(i: int, user: int, ts: int) -> dict:
        op = {"i": i, "ok": False}
        with tr.span("replay.op", op=i):
            t0 = time.perf_counter()
            with tr.span("serving.send_profiles"):
                svc.send_profiles(user, ts)
            op["send_ms"] = (time.perf_counter() - t0) * 1000
            writes, kv.profile_writes = kv.profile_writes, []
            profiles = {k.split(":")[1]: json.loads(v) for k, v in writes}
            sent.update(k for k, _v in writes)
            op["profiles"] = len(profiles)
            lines = [
                json.dumps({"user_id": u, "history_items": h, "timestamp": ts})
                for u, h in profiles.items()
            ]
            _publish(msg_dir, staging, f"op{i:06d}.json", lines)
            t_written = time.perf_counter()
            with tr.span("streaming.process_all_available"):
                scoring.processAllAvailable()
            op["freshness_ms"] = (time.perf_counter() - t_written) * 1000
            t0 = time.perf_counter()
            with tr.span("sink.kv_mirror"):
                op["sink_files"] = mirror.sync()
            op["mirror_ms"] = (time.perf_counter() - t0) * 1000
            serve, scanned, bad = [], [], 0
            for u, hist in profiles.items():
                t0 = time.perf_counter()
                with tr.span("serving.get_recommendation"):
                    r = svc.get_recommendation(u, ts)
                serve.append((time.perf_counter() - t0) * 1000)
                # the handler reads a version list when one exists and
                # scans every key otherwise
                scanned.append(2 if f"recommendation_versions:{u}" in kv else len(kv))
                recs = r["recommendation"]
                if r["timestamp"] != ts or len(recs) != cfg.k_final or set(recs) & set(hist):
                    bad += 1
                if i < REPLAY_WARMUP_OPS:
                    digest.update(f"{u}:{ts}={json.dumps(recs)}\n".encode())
            op.update(serve_ms=serve, scanned=scanned, bad=bad)
            op["ok"] = bad == 0 and len(profiles) > 0
        return op

    warm = [one_op(i, *probes[i]) for i in range(REPLAY_WARMUP_OPS)]
    n_warm = len(scoring.recentProgress)
    setup_s = time.perf_counter() - ctx.t_process_start
    cpu0 = tree_cpu_seconds()
    t_start = time.perf_counter()
    ops: list[dict] = []
    for i in range(REPLAY_WARMUP_OPS, len(probes)):
        if ops and time.perf_counter() - t_start >= ctx.seconds:
            break
        try:
            ops.append(one_op(i, *probes[i]))
        except Exception as e:  # a failed operation is counted, not fatal
            ops.append({"i": i, "ok": False, "error": repr(e)})
    elapsed = time.perf_counter() - t_start
    cpu_s = tree_cpu_seconds() - cpu0
    scoring.stop()

    good = [o for o in ops if "freshness_ms" in o]
    fresh = [o["freshness_ms"] for o in good]
    n_profiles = sum(o["profiles"] for o in good)
    failed = sum(not o["ok"] for o in ops + warm)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": median(fresh),
        "throughput_per_s": len(good) / elapsed,
    }
    res = Result(
        correct=failed == 0,
        attempted=len(ops) + len(warm),
        failed=failed,
        end_to_end=e2e,
        notes=[
            f"replay: {len(ops)} timed ops, {n_profiles} profiles",
            f"replay recommendation digest: {digest.hexdigest()}",
        ],
    )
    if not ctx.traced:
        return res
    # The state-store layers come from the profile-ingest pipeline
    # (parse -> watermark dedup -> versioned user_profile keys), run once
    # over every file sent after the window, so it never shares the
    # cores with a timed batch. It must store exactly the profiles sent.
    profile_sink = JsonlDirSink(os.path.join(w, "profiles"))
    with tr.span("streaming.profile_pipeline"):
        ingest_q = profile_pipeline(
            spark.readStream.text(msg_dir), profile_sink, os.path.join(w, "ckpt-ingest")
        )
        ingest_q.awaitTermination()
    stored = set(profile_sink.read_all())
    if stored != sent:
        res.correct = False
        res.failed = max(res.failed, 1)
    res.notes.append(f"replay: profile ingest stored {len(stored)} of {len(sent)} keys sent")
    progress = [p for p in scoring.recentProgress[n_warm:] if p["numInputRows"] > 0]
    iprog = [p for p in ingest_q.recentProgress if p["numInputRows"] > 0]
    serve = [s for o in good for s in o["serve_ms"]]
    q_tail, v_tail = tail_percentile(fresh)
    rows_in = sum(p["numInputRows"] for p in iprog)
    state = [s for p in iprog for s in p.get("stateOperators", [])]
    last_state = iprog[-1].get("stateOperators", []) if iprog else []
    layers = {
        "serving.index_build_s": index_build_s,
        "serving.index_keys": index_keys,
        "serving.get_recommendation_p50_ms": median(serve),
        "serving.get_recommendation_p99_ms": percentile(serve, 99),
        "serving.keys_scanned_per_read": median([s for o in good for s in o["scanned"]]),
        "serving.send_profiles_p50_ms": median([o["send_ms"] for o in good]),
        "serving.profiles_per_send": n_profiles / max(1, len(good)),
        # the paper's >= 50 profiles/s target
        "streaming.profiles_per_s": n_profiles / (sum(fresh) / 1000.0) if fresh else 0.0,
        **_progress_layers(progress),
        "streaming.freshness_tail_ms": v_tail,
        "streaming.freshness_tail_pct": q_tail,
        "streaming.freshness_samples": len(fresh),
        "streaming.state_rows_total": sum(s["numRowsTotal"] for s in last_state),
        "streaming.state_memory_bytes": sum(s["memoryUsedBytes"] for s in last_state),
        "streaming.rows_dropped_by_watermark": sum(
            s.get("numRowsDroppedByWatermark", 0) for s in state
        ),
        "streaming.dedup_drop_ratio": 1.0 - len(stored) / rows_in if rows_in else 0.0,
        "sink.pairs_written": n_profiles,
        "sink.pairs_per_input": sum(o["profiles"] - o["bad"] for o in good)
        / max(1, n_profiles),
        "sink.files_per_batch": median([o["sink_files"] for o in good]),
        "sink.kv_mirror_ms": median([o["mirror_ms"] for o in good]),
    }
    run_id = str(scoring.runId)
    first_timed = progress[0]["batchId"] if progress else 0

    def batch_key(props):
        # micro-batch jobs run under the query's runId job group with a
        # "batch = N" line in their description
        if props.get("spark.jobGroup.id") != run_id:
            return None
        for part in (props.get("spark.job.description") or "").split("\n"):
            if part.strip().startswith("batch = "):
                b = int(part.split("=")[1])
                return f"batch{b}" if b >= first_timed else None
        return None

    per = list(job_counters(os.path.join(w, "eventlog"), batch_key).values())
    for k in ("jobs", "stages", "tasks", "executor_run_ms", "gc_ms", "shuffle_write_bytes"):
        layers[f"scoring.{k}_per_batch"] = median([c[k] for c in per])
    res.layers = _with_trace(ctx, e2e, cpu_s, len(ops), layers)
    return res


# ---------------------------------------------------------------------------
# query_mix: one client running a fixed list of registry queries
# ---------------------------------------------------------------------------

def _canon(v):
    import datetime
    import math

    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _canon_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=repr)


def _matches_oracle(con, oracle_sql: str, df) -> bool:
    """Row-for-row equality with the registry's DuckDB oracle after
    column-name sort and float canonicalization to 6 significant
    digits (the repository's oracle discipline)."""
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    res = con.execute(oracle_sql)
    dcols = [d[0].lower() for d in res.description]
    drows = res.fetchall()
    return (
        sorted(cols) == sorted(dcols)
        and len(rows) == len(drows)
        and _canon_rows(cols, rows) == _canon_rows(dcols, drows)
    )


def query_mix(ctx: Context) -> Result:
    import duckdb

    from streaming_recommendation_spark.queries import registry

    spark, tr, w = ctx.spark, ctx.tracer, ctx.work
    sc = spark.sparkContext
    data = os.path.join(w, "data")
    datagen.write_tables(data, ctx.seed, QMIX_SF)
    reg = {name.split("_", 1)[0]: q for name, q in registry().items()}
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')"
        )

    failed_q: set[str] = set()
    with tr.span("query_mix.oracle_pass"):
        for qid, _mod in QMIX:
            sc.setJobGroup(f"check-{qid}", qid)
            try:
                with tr.span("query.oracle_check", qid=qid):
                    ok = _matches_oracle(con, reg[qid].oracle, reg[qid].fn(spark, data))
            except Exception:
                ok = False
            if not ok:
                failed_q.add(qid)
    con.close()
    # the oracle pass runs every plan cold; the next pass is still 10-20 %
    # slower than later ones while the JIT settles, so it is untimed too
    with tr.span("query_mix.warmup_pass"):
        for qid, _mod in QMIX:
            sc.setJobGroup(f"warmup-{qid}", qid)
            try:
                reg[qid].fn(spark, data).write.format("noop").mode("overwrite").save()
            except Exception:
                failed_q.add(qid)

    # closed loop over whole passes of the fixed query order, so every
    # run times the same mix; a pass starts only if one more fits in the
    # window (the first always runs)
    times: dict[str, list[float]] = {qid: [] for qid, _ in QMIX}
    errors = 0
    setup_s = time.perf_counter() - ctx.t_process_start
    cpu0 = tree_cpu_seconds()
    t_start = time.perf_counter()
    n, last_pass = 0, 0.0
    while n == 0 or time.perf_counter() - t_start + last_pass <= ctx.seconds:
        t_pass = time.perf_counter()
        for qid, mod in QMIX:
            sc.setJobGroup(f"timed-{qid}", qid)
            t0 = time.perf_counter()
            try:
                with tr.span(f"{mod}.{qid}", op=n):
                    with tr.span("query.build"):
                        df = reg[qid].fn(spark, data)
                    with tr.span("query.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
                times[qid].append((time.perf_counter() - t0) * 1000)
            except Exception:
                errors += 1
            n += 1
        last_pass = time.perf_counter() - t_pass
    elapsed = time.perf_counter() - t_start
    cpu_s = tree_cpu_seconds() - cpu0
    sc.setJobGroup("idle", "idle")
    n_done = sum(len(v) for v in times.values())
    per_q = {qid: median(v) for qid, v in times.items()}
    res = Result(
        correct=not failed_q and not errors,
        attempted=n + len(QMIX),
        failed=errors + len(failed_q),
        end_to_end={
            "setup_s": setup_s,
            "latency_p50_ms": geomean(per_q.values()),
            "throughput_per_s": n_done / elapsed,
        },
        notes=[
            f"query_mix: {n} timed queries; oracle mismatches: "
            f"{sorted(failed_q) or 'none'}"
        ],
    )
    if not ctx.traced:
        return res

    def group_key(props):
        head, _, qid = (props.get("spark.jobGroup.id") or "").partition("-")
        return qid if head == "timed" else None

    counters = job_counters(os.path.join(w, "eventlog"), group_key)
    layers = {}
    for qid, mod in QMIX:
        c = counters.get(qid, {})
        layers[f"{mod}.{qid}.p50_ms"] = per_q[qid]
        for k in _QUERY_COUNTERS:
            layers[f"{mod}.{qid}.{k}"] = c.get(k, 0) / max(1, len(times[qid]))
    res.layers = _with_trace(ctx, res.end_to_end, cpu_s, n_done, layers)
    return res


WORKLOADS = {"replay": replay, "query_mix": query_mix}
