"""Inputs and metrics of the stream_ingest workload (and of the small
write-path probe that traced batch runs include).

`prepare` cuts a fixed prefix of the fixture's `events` and `documents`
rows into micro-batch parquet files. The seed picks the cut points (batch
sizes vary by up to +-20% around the mean) and which rows are re-sent as
duplicates. Re-sent events come from batches at least eight files back,
so they are already behind the one-hour watermark (and their one-day
windows are closed) when they arrive; re-sent documents come from any
earlier batch and fall inside the watermark, so the curation dedup state
must drop them. The streams' final outputs are therefore the same for
every seed and are checked against pinned digests.
"""
import os
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_MS = 86_400_000
LATE_GAP = 8


def _split(rng, n, parts):
    w = 1.0 + rng.uniform(-0.2, 0.2, parts)
    cuts = np.round(np.cumsum(w) / w.sum() * n).astype(int)
    starts = np.r_[0, cuts[:-1]]
    return list(zip(starts, cuts))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def prepare(fixture_dir, dest, seed, plan):
    """Stage every batch file under dest/staged/{events,docs}; returns the
    harness arguments (without prefix) and the rows per file."""
    rng = np.random.default_rng(seed)
    files = (plan["n_drain"] + plan["n_warm"] * plan["warm_rounds"]
             + plan["n_paced"])
    events = pq.read_table(os.path.join(fixture_dir, "events.parquet"))
    events = events.slice(0, plan["n_events"])
    docs = pq.read_table(os.path.join(fixture_dir, "documents.parquet"))
    docs = docs.slice(0, plan["n_docs"])
    start_us = 1_704_067_200_000_000  # 2024-01-01, one document per second
    docs = docs.append_column("ts", pa.array(
        start_us + docs.column("doc_id").to_numpy() * 1_000_000,
        pa.timestamp("us")))
    for t in ("events", "docs"):
        os.makedirs(os.path.join(dest, "staged", t), exist_ok=True)
    rows = []
    ev_cuts = _split(rng, events.num_rows, files)
    doc_cuts = _split(rng, docs.num_rows, files)
    for i in range(files):
        ev = events.slice(ev_cuts[i][0], ev_cuts[i][1] - ev_cuts[i][0])
        dc = docs.slice(doc_cuts[i][0], doc_cuts[i][1] - doc_cuts[i][0])
        if i >= LATE_GAP and plan["dup_frac"] > 0:
            pool = ev_cuts[i - LATE_GAP][1]
            idx = rng.choice(pool, max(1, int(ev.num_rows * plan["dup_frac"])),
                             replace=False)
            ev = pa.concat_tables([ev, events.take(np.sort(idx))])
        if i >= 1 and plan["dup_frac"] > 0:
            pool = doc_cuts[i - 1][1]
            idx = rng.choice(pool, max(1, int(dc.num_rows * plan["dup_frac"])),
                             replace=False)
            dc = pa.concat_tables([dc, docs.take(np.sort(idx))])
        _write(ev, os.path.join(dest, "staged", "events", f"b{i:05d}.parquet"))
        _write(dc, os.path.join(dest, "staged", "docs", f"b{i:05d}.parquet"))
        rows.append(ev.num_rows + dc.num_rows)
    last_ms = pc.max(events.column("ts")).cast(pa.int64()).as_py() // 1000
    cutoff = (last_ms // DAY_MS - 2) * DAY_MS
    args = {"dir": dest, "n-drain": plan["n_drain"], "n-warm": plan["n_warm"],
            "warm-rounds": plan["warm_rounds"], "n-paced": plan["n_paced"],
            "rate": plan["rate"], "cutoff-ms": cutoff}
    return args, rows


def write_layers(s, rows, plan):
    """Per-layer figures of one measured write path."""
    warm_rows = [sum(rows[plan["n_drain"] + r * plan["n_warm"]:
                          plan["n_drain"] + (r + 1) * plan["n_warm"]])
                 for r in range(plan["warm_rounds"])]
    return {
        "streaming.trigger_ms": median(s["trigger_ms"]),
        "streaming.add_batch_ms": median(s["add_batch_ms"]),
        "streaming.wal_commit_ms": median(s["wal_commit_ms"]),
        "streaming.state_rows": s["state_rows"],
        "streaming.state_mem_mb": s["state_mem_mb"],
        "sink.commit_ms": median(s["sink_commit_ms"]),
        "sink.bytes_written": s["bytes_written"],
        "sink.files_written": s["files_written"],
        "sink.write_amp": s["bytes_written"] / max(1, s["input_bytes"]),
        "sync.refresh_ms": median(s["refresh_ms"]),
        "gen.lateness_ms": max(s["lateness_ms"]),
        "stream.ingest_rows_per_s": median(
            [n / max(1e-9, t) for n, t in zip(warm_rows, s["warm_drain_s"])]),
    }
