"""Open-loop event-file generator for the ``ingest_stream`` workload.

File ``k`` of a run holds ``ROWS_PER_FILE`` fresh ``events`` rows whose event
time advances one second per row, plus copies of a few rows of files ``k-1``
and ``k-2`` (duplicate ``event_id``s, well inside the dedup delay). A share of
the fresh rows is shifted back in event time by up to ``MAX_DISORDER_US``
(disorder, well inside the watermark delay). The row values depend only on
``k``; which rows are late or duplicated, and the row order inside a file,
depend on ``(seed, k)``. The same seed therefore gives byte-identical event
sets.

As a process, the generator lands files ``FIRST_FILES .. FIRST_FILES+count-1``
into an inbox, each written under a staging name and renamed in, and stamps
every row's ``gen_ts`` with its file's scheduled landing time. The first
``OPEN_FILES`` land open loop at ``RATE`` files per second; the rest are a
backlog, written to staging after the last open-loop file and renamed in
together one interval after it. Files are written in order, so their
modification times, which order the file source's picks, follow ``k``. The
generator is single-threaded and logs, per file, the scheduled and the
actual landing time:

    python3 -m perfbench.streamgen --inbox DIR --staging DIR --log FILE \\
        --seed N --count C
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import datagen

ROWS_PER_FILE = 500
N_USERS = 1500
ROW_EVENT_US = 1_000_000
LATE_FRAC = 0.05
MAX_DISORDER_US = 30 * 60 * 1_000_000
DUP_FRAC = 0.01
WATERMARK_DELAY = "2 hours"
FILE_SALT = 7919
RATE = 2.0  # open-loop files per second
FIRST_FILES = 2  # landed by the benchmark itself before the generator starts
OPEN_FILES = 40  # open-loop files of a run (20 s); the rest land as one backlog
UTC_US = pa.timestamp("us", tz="UTC")


def _fresh_rows(k: int) -> dict[str, np.ndarray]:
    """The file's own rows in event-time order, independent of the seed."""
    rng = np.random.default_rng([datagen.TABLE_SEED, FILE_SALT, k])
    ids = np.arange(k * ROWS_PER_FILE, (k + 1) * ROWS_PER_FILE, dtype=np.int64)
    ts = datagen.EVENTS_T0_US + ids * ROW_EVENT_US
    return datagen.event_rows(rng, ids, ts, N_USERS)


def _late_rows(seed: int, k: int) -> dict[str, np.ndarray]:
    """File ``k``'s fresh rows with the seed's disorder applied."""
    rows = _fresh_rows(k)
    rng = np.random.default_rng([seed, k, 1])
    late = rng.random(ROWS_PER_FILE) < LATE_FRAC
    lag = rng.integers(1, MAX_DISORDER_US, ROWS_PER_FILE)
    ts = rows["ts"].astype(np.int64) - np.where(late, lag, 0)
    rows["ts"] = ts.astype("datetime64[us]")
    return rows


def file_events(seed: int, k: int) -> tuple[pa.Table, int]:
    """Events of file ``k`` (no ``gen_ts``) and how many are duplicates."""
    parts = [_late_rows(seed, k)]
    rng = np.random.default_rng([seed, k, 2])
    for prev in (k - 1, k - 2):
        if prev < 0:
            continue
        src = _late_rows(seed, prev)
        pick = np.flatnonzero(rng.random(ROWS_PER_FILE) < DUP_FRAC / 2)
        parts.append({c: v[pick] for c, v in src.items()})
    cols = {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}
    order = rng.permutation(len(cols["event_id"]))
    table = pa.table({c: v[order] for c, v in cols.items()})
    return table, table.num_rows - ROWS_PER_FILE


def stage_file(seed: int, k: int, scheduled: float, staging: str) -> dict:
    """Write file ``k`` with ``gen_ts = scheduled`` under ``staging``.
    Returns its log record."""
    table, dups = file_events(seed, k)
    gen = np.full(table.num_rows, int(scheduled * 1e6), dtype="datetime64[us]")
    table = table.append_column("gen_ts", pa.array(gen))
    # UTC-adjusted timestamps, so the stream schema reads them as TIMESTAMP
    table = table.cast(pa.schema([
        pa.field(f.name, UTC_US) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]))
    name = f"part-{k:06d}.parquet"
    path = os.path.join(staging, name)
    pq.write_table(table, path)
    return {
        "file": name,
        "path": path,
        "k": k,
        "rows": table.num_rows,
        "duplicates": dups,
        "bytes": os.path.getsize(path),
        "scheduled": scheduled,
    }


def rename_in(rec: dict, inbox: str) -> dict:
    """Move a staged file into the inbox and note when it landed."""
    dest = os.path.join(inbox, rec["file"])
    os.rename(rec["path"], dest)
    return {**rec, "path": dest, "landed": time.time()}


def land_file(seed: int, k: int, scheduled: float, inbox: str, staging: str) -> dict:
    return rename_in(stage_file(seed, k, scheduled, staging), inbox)


def _sleep_until(t: float) -> None:
    delay = t - time.time()
    if delay > 0:
        time.sleep(delay)


def run(seed: int, count: int, inbox: str, staging: str, log_path: str) -> None:
    ks = range(FIRST_FILES, FIRST_FILES + count)
    # one untimed write first, so the schedule does not pay parquet set-up
    os.remove(stage_file(seed, ks[0], time.time(), staging)["path"])
    start = time.time()
    due = start + min(count, OPEN_FILES) / RATE
    records = []
    try:
        for i, k in enumerate(ks[:OPEN_FILES]):
            scheduled = start + i / RATE
            _sleep_until(scheduled)
            records.append(land_file(seed, k, scheduled, inbox, staging))
        backlog = [stage_file(seed, k, due, staging) for k in ks[OPEN_FILES:]]
        _sleep_until(due)
        records += [rename_in(rec, inbox) for rec in backlog]
    finally:
        with open(log_path + ".tmp", "w") as fh:
            json.dump(records, fh)
        os.rename(log_path + ".tmp", log_path)


def main() -> None:
    ap = argparse.ArgumentParser(description="land event files on the open-loop schedule")
    ap.add_argument("--inbox", required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    a = ap.parse_args()
    run(a.seed, a.count, a.inbox, a.staging, a.log)


if __name__ == "__main__":
    main()
