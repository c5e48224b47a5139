"""Seeded event data for the benchmark, modelled on the engine's sf0.1
`events` table.

Measured on sf0.1's events.parquet (100,000 rows; DuckDB over the file):
  - 1,500 users (ids 0..1499) with uniform activity: 45..99 events a user,
    mean 66.7, standard deviation 8.2 (a multinomial's is 8.2);
  - `value` is never null and is exponential: mean 49.87, standard
    deviation 49.56, quartiles 14.64 / 34.77 / 68.90 (Exp(49.87) gives
    14.35 / 34.57 / 69.13), p99 228.1, max 560.21, always whole cents;
  - five event types, each 19.8-20.3% of rows;
  - `ts` uniform over 2024-01-01..2024-01-30 (3,205..3,471 rows a day,
    4,074..4,363 an hour of day), rising with `event_id`;
  - `props` is '{"k": n}' with n uniform over 0..99.
The generator draws from those distributions; it is not a copy of sf0.1.

`write_table` writes <dir>/events.parquet (one file, sf0.1's row count and
column types, ts without a time zone as in sf0.1) and <dir>/answers.tsv:
the engine's q1_busiest_user, q2_unique_users and q3_avg_value computed
here with numpy, one row a line, `query<TAB>col<TAB>col...`.

`write_stream` writes the stream_replay files: <root>/<phase>/<phase>-NNNNN.parquet
for phases warm, open and backlog, and <root>/manifest.tsv with one line a
file: phase, file name, rows, and for `open` files the millisecond offset
at which the generator is due to release the file. Each phase's files split
one 30-day span (December 2023 for the warm files, January 2024 for the
others) into consecutive time slices, so events rise from file to file;
inside a file their order is shuffled (seeded), which is the only disorder,
so no row can fall behind the watermark.
"""
import math
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

USERS = 1500
VALUE_MEAN = 49.87
TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SPAN_S = 30 * 86400
JAN = datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
DEC = datetime(2023, 12, 1, tzinfo=timezone.utc).timestamp()
WINDOW_S = 31 * 86400       # the engine's epoch-aligned 31-day tumbling window

TABLE_ROWS = 100_000        # sf0.1's events row count
ROWS_PER_FILE = 1250
OPEN_INTERVAL_MS = 2000     # open loop: one file every 2 s = 625 rows/s offered
WARM_FILES = 2
BACKLOG_FILES = 8           # drained at 4 files per trigger


def _draw(rng, n):
    """Users, event types and values of n events, per the sf0.1 model."""
    return (rng.integers(0, USERS, n).astype("int64"),
            TYPES[rng.integers(0, len(TYPES), n)],
            np.round(rng.exponential(VALUE_MEAN, n), 2))


def _answers(ts_us, users, values):
    """q1-q3 per 31-day window, with the engine's semantics: busiest user
    with ties to the larger id; distinct users; floor of the exact cent sum
    (as a double) over the event count."""
    windows = ts_us // (WINDOW_S * 1_000_000) * WINDOW_S
    cents = np.rint(values * 100).astype("int64")
    q1, q2, q3 = [], [], []
    for w in np.unique(windows):
        sel = windows == w
        counts = np.bincount(users[sel], minlength=USERS)
        top = counts.max()
        q1.append(("q1_busiest_user", w, np.flatnonzero(counts == top).max(), top))
        q2.append(("q2_unique_users", w, np.count_nonzero(counts)))
        n = int(sel.sum())
        q3.append(("q3_avg_value", w, math.floor(int(cents[sel].sum()) / 100 / n), n))
    return q1 + q2 + q3


def write_table(out_dir, seed):
    """Writes the events table and the model's q1-q3 answers under out_dir."""
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    ts_us = (JAN * 1e6 + np.sort(rng.uniform(0, SPAN_S * 1e6, n))).astype("int64")
    users, types, values = _draw(rng, n)
    table = pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": users,
        "event_type": types,
        "value": values,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    with open(os.path.join(out_dir, "answers.tsv"), "w") as f:
        f.writelines("\t".join(str(v) for v in row) + "\n" for row in _answers(ts_us, users, values))


STREAM_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
])


def _phase(rng, root, phase, files, first_id):
    os.makedirs(os.path.join(root, phase))
    start = DEC if phase == "warm" else JAN
    slice_s = SPAN_S / files
    out = []
    for i in range(files):
        n = ROWS_PER_FILE
        secs = start + slice_s * i + np.sort(rng.uniform(0, slice_s, n))
        order = rng.permutation(n)
        users, types, values = _draw(rng, n)
        table = pa.table({
            "event_id": np.arange(first_id, first_id + n, dtype="int64"),
            "ts": pa.array((secs[order] * 1e6).astype("int64"), type=pa.timestamp("us", tz="UTC")),
            "user_id": users,
            "event_type": types,
            "value": values,
        }, schema=STREAM_SCHEMA)
        name = f"{phase}-{i:05d}.parquet"
        pq.write_table(table, os.path.join(root, phase, name))
        due = i * OPEN_INTERVAL_MS if phase == "open" else 0
        out.append(f"{phase}\t{name}\t{n}\t{due}")
        first_id += n
    return out, first_id


def write_stream(root, seed, seconds):
    """Writes every stream phase's files under `root` for a run of `seconds`."""
    rng = np.random.default_rng(seed)
    lines, next_id = [], 0
    for phase, files in (("warm", WARM_FILES),
                         ("open", math.ceil(seconds * 1000 / OPEN_INTERVAL_MS)),
                         ("backlog", BACKLOG_FILES)):
        out, next_id = _phase(rng, root, phase, files, next_id)
        lines += out
    with open(os.path.join(root, "manifest.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
