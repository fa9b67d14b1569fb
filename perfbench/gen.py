"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed gives
byte-identical inputs. The program under test only ever sees what these
functions write (a kafka_sim log or parquet tables); the expected outputs
stay in the benchmark process.

Message shape (the reference's Kafka value, FIXTURES.md A.1):
    {"datastream_id": int, "data": [{"dateTime": ms, "offset": ms,
                                      "sample": <json>}, ...]}

The message properties are measured on the repository's own fixture log,
``sources.fixtures.sim_message_log`` over the sf0.1 ``events`` table (one
message per user_id): 1,500 datastream ids of equal popularity, 66.7
datapoints per message (sd 8.2, min 45, max 99; Poisson-like), timestamps
over 30 days with each message spread across them, ``sample`` = ``{"k":
0..99}``, offsets ``((i % 7) - 3) * 37000`` ms, and one malformed plus one
``"data": []`` message in 1,502.

Primary keys (datastream_id, day, datetime) are unique by construction:
every datapoint of a log gets its own millisecond timestamp. Redelivery and
duplicate keys belong to the failure tests, not to a throughput benchmark.

Run as a script (``python3 perfbench/gen.py live ...``) this module is the
open-loop load generator of ``ingest_live``: a separate process with one
thread that appends messages on a fixed schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import asdict, dataclass

import numpy as np

TOPIC = "raw-events"
PARTITIONS = 3
DAY_MS = 86_400_000
# the fixture's per-datapoint timezone offset: negative, zero and values that
# are not whole minutes, so the truncating ms -> minutes division is exercised
OFFSETS_MS = (np.arange(7, dtype=np.int64) - 3) * 37_000
MALFORMED = '{"datastream_id": %d, "data": [{"dateTime": '  # truncated JSON
# seconds the live generator waits for its start time before giving up
START_WAIT_S = 300.0


@dataclass(frozen=True)
class MessageSpec:
    """Input properties of one message log (recorded in the run output)."""

    streams: int  # distinct datastream_ids, 0..streams-1
    zipf_a: float  # popularity skew of datastream_id (Zipf exponent, 0 = uniform)
    points_mean: float  # datapoints per message: Poisson(points_mean), at least 1
    days: int  # days spanned by the datapoint timestamps
    sample_k: int  # the sample payload is {"k": 0..sample_k-1}
    malformed_frac: float  # truncated JSON values (dropped by the parser)
    empty_frac: float  # well-formed values with "data": [] (no datapoints)
    start_ms: int = 1_704_067_200_000  # 2024-01-01T00:00:00Z


# Both ingest workloads replay the fixture log's shape (module docstring).
FIXTURE = MessageSpec(
    streams=1_500, zipf_a=0.0, points_mean=200 / 3, days=30, sample_k=100,
    malformed_frac=1 / 1_502, empty_frac=1 / 1_502,
)


@dataclass
class Messages:
    """A generated message log plus the datapoints it must produce."""

    values: list[str]  # message values in log order
    partition: np.ndarray  # kafka_sim partition of each message (round-robin)
    points: np.ndarray  # datapoints each message must produce
    # expected datapoints, one row per well-formed element
    exp_stream: np.ndarray
    exp_ms: np.ndarray
    exp_offset_min: np.ndarray
    exp_sample: list[str]

    @property
    def n_datapoints(self) -> int:
        return len(self.exp_ms)


def messages(spec: MessageSpec, seed: int, n: int) -> Messages:
    """Generate ``n`` seeded messages and the datapoints they must produce.
    The malformed and empty messages are an exact share of ``n`` (at least
    one of each) at seeded positions."""
    rng = np.random.default_rng(seed)
    pop = np.arange(1, spec.streams + 1, dtype=np.float64) ** -spec.zipf_a
    stream_ids = rng.permutation(spec.streams)  # popularity rank -> id
    streams = stream_ids[rng.choice(spec.streams, size=n, p=pop / pop.sum())]
    n_bad = [max(1, round(n * f)) for f in (spec.malformed_frac, spec.empty_frac)]
    bad = rng.choice(n, size=sum(n_bad), replace=False)
    malformed = np.zeros(n, dtype=bool)
    empty = np.zeros(n, dtype=bool)
    malformed[bad[:n_bad[0]]] = True
    empty[bad[n_bad[0]:]] = True
    points = np.maximum(rng.poisson(spec.points_mean, n), 1)
    points[malformed | empty] = 0
    total = int(points.sum())
    # distinct, hence unique, timestamps over `days`, shuffled so that each
    # message spreads across the span as the fixture's do
    span = spec.days * DAY_MS
    ms = np.sort(rng.integers(0, span - total, total)) + np.arange(total) + spec.start_ms
    ms = rng.permutation(ms)
    offsets = OFFSETS_MS[np.arange(total) % len(OFFSETS_MS)]
    samples = ['{"k":%d}' % k for k in rng.integers(0, spec.sample_k, total).tolist()]

    values: list[str] = []
    pos = 0
    for i in range(n):
        sid = int(streams[i])
        if malformed[i]:
            values.append(MALFORMED % sid)
            continue
        elems = [
            '{"dateTime":%d,"offset":%d,"sample":%s}' % (ms[j], offsets[j], samples[j])
            for j in range(pos, pos + int(points[i]))
        ]
        pos += int(points[i])
        values.append('{"datastream_id":%d,"data":[%s]}' % (sid, ",".join(elems)))
    return Messages(
        values=values,
        partition=np.arange(n, dtype=np.int64) % PARTITIONS,
        points=points,
        exp_stream=np.repeat(streams, points).astype(np.int32),
        exp_ms=ms.astype(np.int64),
        # Java's int division truncates toward zero
        exp_offset_min=(np.sign(offsets) * (np.abs(offsets) // 60_000)).astype(np.int32),
        exp_sample=samples,
    )


def write_log(log_dir: str, msgs: Messages, ts_ms: int) -> None:
    """Produce every message into the kafka_sim log through the program's
    own producer, one append per partition."""
    from sparkstreaming_rawdataingestion_spark.sources import kafka_sim

    for p in range(PARTITIONS):
        idx = np.flatnonzero(msgs.partition == p)
        kafka_sim.produce(log_dir, TOPIC, [msgs.values[i] for i in idx], partition=p, ts_ms=ts_ms)


def spec_dict(spec: MessageSpec, **extra) -> dict:
    d = asdict(spec)
    d.update(extra)
    return d


# ---------------------------------------------------------------------------
# Live generator process (open loop)
# ---------------------------------------------------------------------------


def live_main(argv: list[str]) -> int:
    """Append ``count`` messages; message i is due at
    ``start + i / rate``, where ``start`` (epoch seconds) is read from
    ``--start-file`` once it appears. The schedule never waits for the
    engine: a late append is recorded, not skipped or re-timed. Each
    record's ``ts`` is its due time in epoch ms. Writes its lateness
    summary to ``--stats`` as JSON."""
    ap = argparse.ArgumentParser(prog="gen.py live")
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--start-file", required=True)
    ap.add_argument("--stats", required=True)
    a = ap.parse_args(argv)

    from sparkstreaming_rawdataingestion_spark.sources import kafka_sim

    n = a.count
    msgs = messages(FIXTURE, a.seed, n)
    give_up = time.time() + START_WAIT_S
    while not os.path.exists(a.start_file):
        if time.time() > give_up:
            print("gen.py live: no start time received", file=sys.stderr)
            return 1
        time.sleep(0.02)
    with open(a.start_file, encoding="utf-8") as f:
        start = float(f.read())
    late = np.zeros(n)
    for i in range(n):
        due = start + i / a.rate
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        kafka_sim.produce(
            a.log, TOPIC, [msgs.values[i]], partition=int(msgs.partition[i]),
            ts_ms=int(round(due * 1000)),
        )
        late[i] = time.time() - due
    with open(a.stats, "w", encoding="utf-8") as f:
        json.dump({"messages": n, "late_p50_s": float(np.median(late)),
                   "late_max_s": float(late.max())}, f)
    return 0


# ---------------------------------------------------------------------------
# Analytics tables (the synthetic star schema + events/documents/embeddings)
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# the tables the panel's queries read
TABLES = ("region", "nation", "supplier", "customer", "orders", "lineitem", "events", "documents")


def _ts(rng, n, lo: str, hi: str, unit: str) -> np.ndarray:
    lo64, hi64 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi64 - lo64).astype(int)), n)
    return (lo64 + days).astype(f"datetime64[{unit}]")


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict:
    """Write ``TABLES`` at scale factor ``sf`` as parquet and return their
    row counts. Shapes follow FIXTURES.md section B."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 1_000_003)
    n_sup, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_users = int(50_000 * sf), int(15_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "supplier": {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_sup),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": money(900, 500_000, n_ord),
            "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-02", "ms"),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        },
    }
    li_order = rng.integers(0, n_ord, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": li_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_sup, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-05", "ms"),
    }
    ev_start = np.datetime64("2024-01-01T00:00:00", "ns")
    ev_off = np.sort(rng.integers(0, 30 * DAY_MS * 1_000_000, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_start + ev_off.astype("timedelta64[ns]"),
        "user_id": rng.integers(0, n_users // 10, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": money(0, 560, n_ev),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)],
    }
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(8, 60)))
             for _ in range(n_doc)]
    tables["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        t = pa.table(tables[name])
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] != "live":
        print("usage: gen.py live --log DIR --seed N --rate R --count N "
              "--start-file FILE --stats FILE", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    raise SystemExit(live_main(sys.argv[2:]))
