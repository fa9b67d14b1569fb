"""The two streaming workloads: ``ingest_backlog`` (closed, throughput-bound
restart replay) and ``ingest_live`` (open-loop arrivals on the reference's
5 s trigger).

Both run the program's own streaming path, sources.kafka_sim ->
sources.kafka -> operators.ingest -> streaming.ingest_stream -> the parquet
file sink, and take the per-batch layer split from its progress events.
The first batches of the query pay the session's cold start (JIT, Python
data-source workers); they are the warm-up and count towards ``setup_s``,
and the timed region starts when they have committed.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd

from . import check, gen, measure

# ingest_backlog: per-partition cap per micro-batch on trigger 0, the number
# of warm-up batches at the head of the log, and the timed backlog size per
# second of requested run length (whole batches; ~1.3 s each on 4 cores once
# warm). A fresh JVM's batch time falls for about five batches (cold first
# batch ~11 s, then ~2.2, 1.9, 1.7, 1.6 s) before it levels off; the median
# over the timed batches absorbs the last of that.
BACKLOG_CAP = 450
BACKLOG_WARM_BATCHES = 4
BACKLOG_BATCHES_PER_S = 0.5
BACKLOG_BATCH_MSGS = BACKLOG_CAP * gen.PARTITIONS
# ingest_live: one generator thread at a fixed rate (1000 messages per
# trigger interval, ~204 msg/s), about a quarter of the backlog's drain rate
# on 4 cores, on the CLI path's processing-time trigger.
LIVE_MSGS_PER_INTERVAL = 1_000
LIVE_TRIGGER_S = 5
LIVE_WARM_MSGS = 300
LIVE_WINDOW_MARGIN_S = 0.05
TIMEOUT_S = 100.0


def _expected(msgs: gen.Messages, first: int = 0) -> pd.DataFrame:
    return pd.DataFrame({
        "stream": msgs.exp_stream,
        "ms": msgs.exp_ms,
        "offset_min": msgs.exp_offset_min,
        "sample": msgs.exp_sample,
        "row": np.arange(first, first + msgs.n_datapoints),
    })


def _offsets(msgs: gen.Messages, base: dict[int, int] | None = None) -> np.ndarray:
    """Log offset of each message within its partition."""
    out = np.empty(len(msgs.values), dtype=np.int64)
    for p in range(gen.PARTITIONS):
        idx = np.flatnonzero(msgs.partition == p)
        out[idx] = np.arange(len(idx)) + (base or {}).get(p, 0)
    return out


def _commit_times(bs: list[dict], msgs: gen.Messages, offsets: np.ndarray) -> np.ndarray:
    out = np.full(len(offsets), np.nan)
    for p in range(gen.PARTITIONS):
        idx = np.flatnonzero(msgs.partition == p)
        out[idx] = measure.commit_times(bs, f"{gen.TOPIC}:{p}", offsets[idx])
    return out


def _perf_intervals(bs: list[dict]) -> list[tuple[float, float]]:
    """The batches' start and end (epoch seconds) on the perf_counter clock."""
    to_perf = time.perf_counter() - time.time()
    return [(b["start"] + to_perf, b["end"] + to_perf) for b in bs]


def _failed_batches(bs, msgs, offsets, res) -> int:
    """Batches holding a missing or wrong datapoint, plus one for rows the
    sink has but no message produced."""
    extra = 1 if res["unexpected"] or res["duplicates"] else 0
    bad = res["bad_rows"]
    if len(bad) == 0:
        return extra
    msg_of_row = np.repeat(np.arange(len(msgs.values)), msgs.points)
    failed = set()
    for m in np.unique(msg_of_row[bad]):
        key = f"{gen.TOPIC}:{msgs.partition[m]}"
        ends = [b["end_offsets"].get(key, 0) for b in bs]
        failed.add(int(np.searchsorted(ends, offsets[m], side="right")))
    return len(failed) + extra


def _follow(ctx, q, n_rows: int, mark_rows: int | None = None):
    """Poll the query's progress until ``n_rows`` source rows are consumed.
    Returns the data-bearing progress events (merged across polls, so the
    ring buffer cannot drop any) and, once ``mark_rows`` rows had committed,
    a mark: perf_counter, process-tree CPU and (traced) the status store's
    job and stage ids; the process tree's RSS window opens there too."""
    seen: dict[int, object] = {}
    mark = None
    deadline = time.monotonic() + TIMEOUT_S
    while True:
        for p in q.recentProgress:
            seen.setdefault(p["batchId"], p)
        done = sum(p["numInputRows"] for p in seen.values())
        if mark is None and mark_rows is not None and done >= mark_rows:
            ctx.tree.start_window()
            mark = (time.perf_counter(), ctx.tree.cpu_s(),
                    measure.job_and_stage_ids(ctx.spark) if ctx.trace else None)
        if done >= n_rows:
            break
        if q.exception() is not None:
            raise RuntimeError(f"ingest stream failed: {q.exception()}")
        if time.monotonic() > deadline:
            raise TimeoutError(f"ingest stream consumed {done} of {n_rows} rows")
        time.sleep(0.1)
    return [p for _, p in sorted(seen.items()) if p["numInputRows"] > 0], mark


def _stream_layers(ctx, bs: list[dict], wall_s: float, parent) -> dict:
    """Per-phase medians, trigger summary, share of the timed ``wall_s``
    spent in batches, and closure gap; each batch and phase also becomes a
    span under ``parent``."""
    for b, (start, end) in zip(bs, _perf_intervals(bs)):
        bspan = ctx.tracer.record("stream.batch", start, end, parent, batch=b["batch"], rows=b["rows"])
        cur = start
        for ph in measure.PHASES:
            dur = b["phases"][ph] / 1e3
            ctx.tracer.record(f"stream.{ph}", cur, cur + dur, bspan)
            cur += dur
    trig = np.array([b["trigger_ms"] for b in bs])
    gaps = trig - np.array([sum(b["phases"].values()) for b in bs])
    out = {f"stream.{ph}_ms": measure.median([b["phases"][ph] for b in bs])
           for ph in measure.PHASES}
    out.update({
        "stream.trigger_ms_p50": float(np.median(trig)),
        "stream.trigger_ms_max": float(trig.max()),
        "stream.batches": len(bs),
        "stream.rows_per_batch": float(np.mean([b["rows"] for b in bs])),
        "stream.busy_frac": float(trig.sum() / 1e3 / wall_s),
        "stream.unattributed_ms": float(np.median(gaps)),
    })
    ctx.info["stream_closure"] = {
        "batches": len(bs),
        "batches_gap_over_10pct": int((gaps > 0.1 * trig).sum()),
        "unattributed_ms_max": float(gaps.max()),
    }
    return out


def _sink_layers(sink: str, n_datapoints: int, n_batches: int) -> dict:
    files, size, days = 0, 0, set()
    for dirpath, _, names in os.walk(sink):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
                days.add(os.path.basename(dirpath))
    return {
        "sink.files": files,
        "sink.bytes": size,
        "sink.bytes_per_datapoint": size / max(n_datapoints, 1),
        "sink.files_per_batch": files / max(n_batches, 1),
        "sink.day_partitions": len(days),
    }


def _source_layers(ctx, log: str, bs: list[dict]) -> dict:
    """Re-read the exact offset ranges the batches consumed through the
    source's own stream reader, timing partitions() + read() per batch."""
    from sparkstreaming_rawdataingestion_spark.sources import kafka_sim

    reader = kafka_sim.KafkaSimStreamReader(
        {"path": log, "subscribe": gen.TOPIC, "groupId": "perfbench-probe"})
    # the first latestOffset in this process counts the whole log: the cost
    # a polling stream pays after every append
    with ctx.tracer.span("sources.kafka_sim.latestOffset"):
        t0 = time.perf_counter()
        reader.latestOffset()
        latest_ms = (time.perf_counter() - t0) * 1e3
    per_rec, total_s, total_n = [], 0.0, 0
    for b in bs:
        with ctx.tracer.span("sources.kafka_sim.read", batch=b["batch"]):
            t0 = time.perf_counter()
            n = sum(1 for s in reader.partitions(b["start_offsets"], b["end_offsets"])
                    for _ in reader.read(s))
            dt = time.perf_counter() - t0
        per_rec.append(dt / max(n, 1) * 1e6)
        total_s += dt
        total_n += n
    return {
        "sources.read_us_per_record_head": per_rec[0],
        "sources.read_us_per_record_tail": per_rec[-1],
        "sources.read_s": total_s,
        "sources.records": total_n,
        "sources.latest_offset_ms": latest_ms,
    }


def _ingest_layers(ctx, log: str) -> dict:
    """The batch twin: ingest_normalize over kafka_sim_value_batch -> noop,
    then observed_ingest_normalize for the message / parse / drop counts."""
    from sparkstreaming_rawdataingestion_spark.operators import ingest
    from sparkstreaming_rawdataingestion_spark.sources import kafka

    with ctx.tracer.span("operators.ingest.ingest_normalize"):
        t0 = time.perf_counter()
        values = kafka.kafka_sim_value_batch(ctx.spark, log, gen.TOPIC)
        ingest.ingest_normalize(values).write.format("noop").mode("overwrite").save()
        normalize_s = time.perf_counter() - t0
    with ctx.tracer.span("operators.ingest.observed_ingest_normalize"):
        dps, obs = ingest.observed_ingest_normalize(
            kafka.kafka_sim_value_batch(ctx.spark, log, gen.TOPIC))
        dps.write.format("noop").mode("overwrite").save()
        counts = obs.get
    n = counts["n_messages"]
    return {
        "ingest.normalize_s": normalize_s,
        "ingest.n_messages": n,
        "ingest.n_parsed": counts["n_parsed"],
        "ingest.n_dropped": counts["n_dropped"],
        "ingest.parse_yield": counts["n_parsed"] / n if n else 0.0,
    }


def _exec_layers(ctx, before: tuple[set, set], after: tuple[set, set]) -> dict:
    """Status-store totals of the jobs and stages that ran in the timed
    region, between the two id snapshots."""
    s = measure.stage_metrics(ctx.spark, len(after[0] - before[0]), after[1] - before[1])
    return {f"exec.{k}": v for k, v in s.items()}


def _layers(ctx, log, sink, bs: list[dict], timed: list[dict], timed_s: float,
            n_datapoints: int, parent, before, after) -> dict:
    """Per-layer metrics of the ``timed`` batches; the sink figures cover
    every batch ``bs`` of the query."""
    out = _stream_layers(ctx, timed, timed_s, parent)
    out.update(_exec_layers(ctx, before, after))
    with ctx.tracer.span("sink.read_dir"):
        out.update(_sink_layers(sink, n_datapoints, len(bs)))
    out.update(_source_layers(ctx, log, bs))
    return out


# ---------------------------------------------------------------------------
# ingest_backlog
# ---------------------------------------------------------------------------


def prepare_backlog(ctx) -> None:
    """Seeded backlog: warm-up batches at the head, then the timed part."""
    n_timed = BACKLOG_BATCH_MSGS * max(1, math.ceil(BACKLOG_BATCHES_PER_S * ctx.seconds))
    n_warm = BACKLOG_BATCH_MSGS * BACKLOG_WARM_BATCHES
    msgs = gen.messages(gen.FIXTURE, ctx.seed, n_warm + n_timed)
    gen.write_log(ctx.path("log"), msgs, ts_ms=gen.FIXTURE.start_ms)
    ctx.info["input"] = gen.spec_dict(
        gen.FIXTURE, n_messages=n_warm + n_timed, timed_messages=n_timed,
        datapoints=msgs.n_datapoints, cap_per_partition=BACKLOG_CAP, trigger_seconds=0)
    ctx.data.update(msgs=msgs, n_warm=n_warm, n_timed=n_timed)


def backlog(ctx) -> None:
    from sparkstreaming_rawdataingestion_spark.sources import kafka
    from sparkstreaming_rawdataingestion_spark.streaming import ingest_stream

    msgs, n_warm, n_timed = ctx.data["msgs"], ctx.data["n_warm"], ctx.data["n_timed"]
    log, sink = ctx.path("log"), ctx.path("sink")
    with ctx.tracer.span("workload.ingest_backlog") as span:
        with ctx.tracer.span("sources.kafka.kafka_sim_value_stream"):
            values = kafka.kafka_sim_value_stream(
                ctx.spark, log, gen.TOPIC, max_records_per_batch=BACKLOG_CAP, group_id="bench")
        with ctx.tracer.span("streaming.ingest_stream.start_ingest_file_sink"):
            q = ingest_stream.start_ingest_file_sink(values, sink, ctx.path("ckpt"), trigger_seconds=0)
        try:
            with ctx.tracer.span("stream.follow"):
                progress, mark = _follow(ctx, q, n_warm + n_timed, mark_rows=n_warm)
            end = (time.perf_counter(), ctx.tree.cpu_s(),
                   measure.job_and_stage_ids(ctx.spark) if ctx.trace else None)
        finally:
            ctx.tree.stop_window()
            q.stop()
    ctx.setup_done(at=mark[0])
    bs = measure.batches(progress)
    timed = bs[BACKLOG_WARM_BATCHES:]
    ctx.ops = _perf_intervals(timed)
    drain_s = timed[-1]["end"] - timed[0]["start"]
    consumed = sum(b["rows"] for b in timed)
    # each timed batch's rate over the interval since the previous batch
    # ended (the gap between batches is drain time too); the median keeps
    # one slow batch out
    ends = [b["end"] for b in bs[BACKLOG_WARM_BATCHES - 1:]]
    rate = measure.median([b["rows"] / (e - e0) for b, e0, e in zip(timed, ends, ends[1:])])
    offsets = _offsets(msgs)
    lat = (_commit_times(bs, msgs, offsets) - timed[0]["start"])[n_warm:]

    with ctx.tracer.span("check.sink"):
        res = check.check_sink(sink, _expected(msgs))
    failed = _failed_batches(bs, msgs, offsets, res)
    ok = res["ok"] and not np.isnan(lat).any()
    ctx.finish(
        attempted=len(bs), failed=failed if ok else max(failed, 1), ok=ok,
        ops=consumed, throughput=rate, latencies=lat,
        cpu_s=end[1] - mark[1], check=res,
    )
    ctx.info["timed_s"] = drain_s
    ctx.info["trigger_ms"] = [b["trigger_ms"] for b in bs]
    if ctx.trace:
        layers = _layers(ctx, log, sink, bs, timed, drain_s, msgs.n_datapoints, span,
                         mark[2], end[2])
        layers["stream.lag_records_max"] = max(
            sum(b["latest_offsets"].values()) - sum(b["end_offsets"].values()) for b in timed)
        # the batch twin and the single-thread drain read a 2-batch backlog
        n_small, small = 2 * BACKLOG_BATCH_MSGS, ctx.path("log_small")
        gen.write_log(small, gen.messages(gen.FIXTURE, ctx.seed + 1, n_small),
                      ts_ms=gen.FIXTURE.start_ms)
        layers.update(_ingest_layers(ctx, small))
        layers.update(_single_thread(ctx, small, n_small, ctx.e2e["throughput_per_s"]))
        ctx.layers.update(layers)


def _single_thread(ctx, log: str, n: int, rate_n: float) -> dict:
    """Drain the small backlog ``log`` at local[1] (the reference's
    spark.cores.max=1) in a new session, and compare its second batch's
    rate with the timed drain at local[N]: a scaling figure, not gated."""
    from sparkstreaming_rawdataingestion_spark.session import get_spark
    from sparkstreaming_rawdataingestion_spark.sources import kafka
    from sparkstreaming_rawdataingestion_spark.streaming import ingest_stream

    with ctx.tracer.span("session.get_spark.local1"):
        ctx.spark.stop()
        ctx.spark = get_spark(app_name="perfbench-local1", master="local[1]", shuffle_partitions=1)
    with ctx.tracer.span("workload.ingest_backlog.local1"):
        values = kafka.kafka_sim_value_stream(
            ctx.spark, log, gen.TOPIC, max_records_per_batch=BACKLOG_CAP, group_id="local1")
        q = ingest_stream.start_ingest_file_sink(
            values, ctx.path("local1/sink"), ctx.path("local1/ckpt"), trigger_seconds=0)
        try:
            bs = measure.batches(_follow(ctx, q, n)[0])
        finally:
            q.stop()
    # the first batch of a new session is its warm-up
    rate_1 = sum(b["rows"] for b in bs[1:]) / (bs[-1]["end"] - bs[1]["start"])
    return {"scaling.local1_msgs_per_s": rate_1, "scaling.speedup_vs_local1": rate_n / rate_1}


# ---------------------------------------------------------------------------
# ingest_live
# ---------------------------------------------------------------------------


def prepare_live(ctx) -> None:
    """Warm-up messages in the log, and the generator process started early
    so its imports and message build are done when the window opens; it
    waits for the start time in ``start.txt``."""
    # arrivals stop just before the window's last trigger fires, so the
    # run ends with that batch instead of idling to the next one
    intervals = max(1, math.ceil(ctx.seconds / LIVE_TRIGGER_S))
    window = intervals * LIVE_TRIGGER_S - 2 * LIVE_WINDOW_MARGIN_S
    n_live = intervals * LIVE_MSGS_PER_INTERVAL
    rate = n_live / window
    # the warm-up messages' timestamps follow the timed ones', so keys stay unique
    warm_spec = dataclasses.replace(
        gen.FIXTURE, start_ms=gen.FIXTURE.start_ms + gen.FIXTURE.days * gen.DAY_MS)
    warm = gen.messages(warm_spec, ctx.seed + 7_919, LIVE_WARM_MSGS)
    gen.write_log(ctx.path("log"), warm, ts_ms=int(time.time() * 1000))
    genp = subprocess.Popen(
        [sys.executable, os.path.join(ctx.root, "perfbench", "gen.py"), "live",
         "--log", ctx.path("log"), "--seed", str(ctx.seed), "--rate", repr(rate),
         "--count", str(n_live), "--start-file", ctx.path("start.txt"),
         "--stats", ctx.path("gen_stats.json")],
        env=os.environ.copy(),
    )
    ctx.tree.exclude.add(genp.pid)
    ctx.children.append(genp)
    msgs = gen.messages(gen.FIXTURE, ctx.seed, n_live)  # what the generator sends
    ctx.info["input"] = gen.spec_dict(
        gen.FIXTURE, n_messages=n_live, warm_messages=LIVE_WARM_MSGS, datapoints=msgs.n_datapoints,
        rate_per_s=rate, window_s=window, trigger_seconds=LIVE_TRIGGER_S)
    ctx.data.update(msgs=msgs, warm=warm, rate=rate, genp=genp)


def live(ctx) -> None:
    from sparkstreaming_rawdataingestion_spark.api import Engine

    msgs, warm, genp = ctx.data["msgs"], ctx.data["warm"], ctx.data["genp"]
    n_live, n_warm = len(msgs.values), len(warm.values)
    log, sink = ctx.path("log"), ctx.path("sink")
    with ctx.tracer.span("workload.ingest_live") as span:
        with ctx.tracer.span("api.Engine.ingest_stream"):
            q = Engine(ctx.spark).ingest_stream(
                gen.TOPIC, sink, ctx.path("ckpt"), sim_log_dir=log)
        try:
            with ctx.tracer.span("stream.follow.warmup"):
                _follow(ctx, q, n_warm)
            ctx.setup_done()
            before = measure.job_and_stage_ids(ctx.spark) if ctx.trace else None
            # open the window just after a trigger fires (processing-time
            # triggers fire on multiples of the interval), so it spans
            # whole intervals
            t0 = ((int(time.time() + 0.5) // LIVE_TRIGGER_S + 1) * LIVE_TRIGGER_S
                  + LIVE_WINDOW_MARGIN_S)
            with open(ctx.path("start.txt.tmp"), "w", encoding="utf-8") as f:
                f.write(repr(t0))
            os.replace(ctx.path("start.txt.tmp"), ctx.path("start.txt"))
            time.sleep(max(0.0, t0 - time.time()))
            with ctx.timed() as t, ctx.tracer.span("stream.follow"):
                progress, _ = _follow(ctx, q, n_warm + n_live)
            after = measure.job_and_stage_ids(ctx.spark) if ctx.trace else None
        finally:
            q.stop()
    genp.wait(timeout=TIMEOUT_S)
    with open(ctx.path("gen_stats.json"), encoding="utf-8") as f:
        ctx.info["generator"] = json.load(f)

    bs = measure.batches(progress)
    timed = [b for b in bs if b["end"] > t0]
    ctx.ops = _perf_intervals(timed)
    warm_base = {p: int((warm.partition == p).sum()) for p in range(gen.PARTITIONS)}
    offsets = _offsets(msgs, warm_base)
    due = t0 + np.arange(n_live) / ctx.data["rate"]
    lat = _commit_times(timed, msgs, offsets) - due

    with ctx.tracer.span("check.sink"):
        exp = pd.concat([_expected(msgs), _expected(warm, first=msgs.n_datapoints)],
                        ignore_index=True)
        res = check.check_sink(sink, exp)
    res["bad_rows"] = res["bad_rows"][res["bad_rows"] < msgs.n_datapoints]
    failed = _failed_batches(timed, msgs, offsets, res)
    ok = res["ok"] and not np.isnan(lat).any()
    ctx.finish(
        attempted=len(bs), failed=failed if ok else max(failed, 1), ok=ok,
        ops=n_live, throughput=n_live / (timed[-1]["end"] - t0), latencies=lat, cpu_s=t.cpu_s,
        check=res,
    )
    ctx.info["timed_s"] = t.wall_s
    ctx.info["trigger_ms"] = [b["trigger_ms"] for b in bs]
    if ctx.trace:
        layers = _layers(ctx, log, sink, bs, timed, t.wall_s, len(exp), span, before, after)
        # source lag at each batch end: messages due by then, not yet consumed
        consumed = np.cumsum([b["rows"] for b in timed])
        due_by_end = np.searchsorted(due, [b["end"] for b in timed], side="right")
        layers["stream.lag_records_max"] = float(max(0, (due_by_end - consumed).max()))
        layers.update(_ingest_layers(ctx, log))
        ctx.layers.update(layers)
