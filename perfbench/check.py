"""Correctness checks, run outside the timed region.

- An ingest sink, read back, must hold every expected datapoint exactly once
  per (datastream_id, day, datetime), with the expected offset and sample.
- A panel query's collected result must match its DuckDB oracle under
  ``tools/check_oracles.py``'s cell normalization.
"""

from __future__ import annotations

import json
import os
import urllib.parse

import numpy as np
import pandas as pd


_MS_BITS = 42  # epoch milliseconds fit in 42 bits until the year 2109


def _same_json(a: str, b: str) -> bool:
    try:
        return json.loads(a) == json.loads(b)
    except ValueError:
        return False


def committed_files(sink_path: str) -> list[str]:
    """Files the file sink's commit log (``_spark_metadata``) lists as
    added and not deleted: what a reader of the sink sees."""
    log = os.path.join(sink_path, "_spark_metadata")
    names = sorted((n for n in os.listdir(log) if n.split(".")[0].isdigit()),
                   key=lambda n: int(n.split(".")[0]))
    # a compacted entry holds every earlier batch; start from the last one
    compact = [i for i, n in enumerate(names) if n.endswith(".compact")]
    files: dict[str, bool] = {}
    for n in names[compact[-1] if compact else 0:]:
        with open(os.path.join(log, n), encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                files[e["path"]] = e["action"] == "add"
    return [urllib.parse.urlparse(p).path for p, added in files.items() if added]


def check_sink(sink_path: str, exp: pd.DataFrame) -> dict:
    """Compare the sink with ``exp`` (columns stream, ms, offset_min,
    sample, row). Returns counts and the ``row`` ids of expected datapoints
    that are missing or wrong. The sink is read with pyarrow, apart from
    the program's Spark session."""
    import pyarrow.dataset as ds

    t = ds.dataset(committed_files(sink_path), format="parquet",
                   partitioning=ds.partitioning(flavor="hive"),
                   partition_base_dir=sink_path).to_table(
        columns=["datastream_id", "day", "datetime", "offset", "sample"])
    g_stream = t["datastream_id"].to_numpy().astype(np.int64)
    g_ms = t["datetime"].cast("timestamp[ms]").cast("int64").to_numpy()
    e_ms = exp["ms"].to_numpy(dtype=np.int64)
    # (datastream_id, datetime) determines the day, so it is the key; the
    # day partition is checked as a value
    g_key = (g_stream << _MS_BITS) | g_ms
    e_key = (exp["stream"].to_numpy(dtype=np.int64) << _MS_BITS) | e_ms
    uniq, first = np.unique(g_key, return_index=True)
    n_dup = len(g_key) - len(uniq)
    pos = np.minimum(np.searchsorted(uniq, e_key), max(len(uniq) - 1, 0))
    found = (uniq[pos] == e_key) if len(uniq) else np.zeros(len(e_key), bool)
    e_idx = np.flatnonzero(found)
    g_idx = first[pos[e_idx]]
    # UTC yyyyMMdd of each expected timestamp, formatted once per distinct day
    days, inverse = np.unique(e_ms[e_idx] // 86_400_000, return_inverse=True)
    day_no = np.array([int(str(np.datetime64(int(d), "D")).replace("-", "")) for d in days],
                      dtype=np.int64)
    e_sample = exp["sample"].to_numpy(dtype=object)[e_idx]
    g_sample = t["sample"].take(g_idx).to_numpy(zero_copy_only=False)
    bad = ((t["day"].to_numpy()[g_idx].astype(np.int64) != day_no[inverse])
           | (t["offset"].to_numpy()[g_idx].astype(np.int64)
              != exp["offset_min"].to_numpy(dtype=np.int64)[e_idx]))
    # exact text first; a differently printed but equal JSON value is fine
    for i in np.flatnonzero(e_sample != g_sample):
        bad[i] |= not _same_json(e_sample[i], g_sample[i])
    rows = exp["row"].to_numpy(dtype=np.int64)
    bad_rows = np.concatenate([rows[~found], rows[e_idx[bad]]])
    missing, wrong, extra = int((~found).sum()), int(bad.sum()), len(uniq) - len(e_idx)
    return {
        "expected": int(len(exp)),
        "got": int(len(g_key)),
        "missing": missing,
        "wrong": wrong,
        "duplicates": int(n_dup),
        "unexpected": int(extra),
        "bad_rows": bad_rows,
        "ok": missing == 0 and wrong == 0 and n_dup == 0 and extra == 0,
    }


# ---------------------------------------------------------------------------
# Query results against DuckDB oracles
# ---------------------------------------------------------------------------


def oracle_connection(sf_dir: str, tables):
    """A DuckDB connection with a view per generated table."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon_rows(rows, order, normalize) -> list:
    return sorted((tuple(normalize(r[i]) for i in order) for r in rows), key=repr)


def check_query(sdf, rows: list, oracle_sql: str, con) -> tuple[bool, str]:
    """Compare collected Spark ``rows`` of ``sdf`` with the oracle: column
    names, row count and the order-insensitive normalized value multiset."""
    from tools.check_oracles import normalize

    ddf = con.execute(oracle_sql).df()
    scols, dcols = list(sdf.columns), list(ddf.columns)
    if sorted(scols) != sorted(dcols):
        return False, f"columns {sorted(scols)} != {sorted(dcols)}"
    if len(rows) != len(ddf):
        return False, f"rowcount {len(rows)} != {len(ddf)}"
    names = sorted(scols)
    s_order = [scols.index(c) for c in names]
    d_order = [dcols.index(c) for c in names]

    def cell(v):
        if v is not None and not isinstance(v, (float, list, tuple, np.ndarray)) and pd.isna(v):
            return None
        if hasattr(v, "to_pydatetime"):
            return v.to_pydatetime()
        return v

    s = _canon_rows(rows, s_order, normalize)
    d = _canon_rows(
        [tuple(cell(v) for v in r) for r in ddf.itertuples(index=False, name=None)],
        d_order, normalize,
    )
    if s != d:
        diff = [(a, b) for a, b in zip(s, d) if a != b][:2]
        return False, f"values differ: {diff}"
    return True, f"{len(rows)} rows match"
