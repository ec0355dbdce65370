"""Inputs the benchmark generates from the fixture, with no RNG.

The seed varies only what is generated: the micro-batch boundaries of the
event replay. Query and pipeline order within a pass is drawn by the
engine-side harness from the same seed.
"""
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

STREAM_COLUMNS = ["event_id", "ts", "user_id", "event_type", "value"]


def batch_boundaries(n, files, seed):
    """Cut points of `n` event-time-ordered rows into `files` batches: even
    cuts moved by up to a quarter batch, by an integer hash of the seed."""
    size = n // files
    cuts = [0]
    for k in range(1, files):
        jitter = ((seed * 7919 + k * 104729) % (size // 2 + 1)) - size // 4
        cuts.append(k * size + jitter)
    cuts.append(n)
    return cuts


def write_stream_files(src, dst, seed, files):
    """The events table in (ts, event_id) order, cut into `files` parquet
    files. The file source admits files oldest first, so modification times
    rise with event time."""
    table = pq.read_table(os.path.join(src, "events.parquet"), columns=STREAM_COLUMNS)
    ts = table.column("ts")
    if pa.types.is_timestamp(ts.type) and ts.type.tz is None:
        # naive µs timestamps are UTC instants; the engine reads them as such
        table = table.set_column(table.schema.get_field_index("ts"), "ts",
                                 ts.cast(pa.timestamp("us", tz="UTC")))
    table = table.sort_by([("ts", "ascending"), ("event_id", "ascending")])
    cuts = batch_boundaries(table.num_rows, files, seed)
    os.makedirs(dst)
    base = 1_600_000_000
    for k in range(files):
        part = table.slice(cuts[k], cuts[k + 1] - cuts[k])
        path = os.path.join(dst, f"part-{k:05d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (base + 10 * k, base + 10 * k))
    check_stream_files(dst)


def check_stream_files(dst):
    """Admission order (modification time) must be event-time order: each
    file's earliest event is no earlier than the previous file's latest."""
    paths = sorted((os.path.join(dst, f) for f in os.listdir(dst)), key=os.path.getmtime)
    mtimes = [os.path.getmtime(p) for p in paths]
    if len(set(mtimes)) != len(mtimes):
        raise RuntimeError("stream files share a modification time")
    prev = None
    for p in paths:
        ts = pq.read_table(p, columns=["ts"]).column("ts")
        lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py()
        if prev is not None and lo < prev:
            raise RuntimeError(f"{p} starts before the previous file ends")
        prev = hi


def copy_first_files(src, dst, n):
    """The first `n` files of a stream directory, modification times kept."""
    os.makedirs(dst)
    for f in sorted(os.listdir(src), key=lambda f: os.path.getmtime(os.path.join(src, f)))[:n]:
        shutil.copy2(os.path.join(src, f), os.path.join(dst, f))
