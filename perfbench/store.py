"""What the `serve` and `replay` workloads share: seeded records, the
Python model the views are checked against, the three views, and the
traced-run wrappers around the log and view calls."""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
from common import dir_bytes

from flumedb_spark import Flume, NativeStats
from flumedb_spark.views.hashtable import Hashtable
from flumedb_spark.views.level import Level

KEYS = 500
COMMIT_ROWS = 10_000
VIEWS = ("stats", "idx", "latest")


def make_records(rng: random.Random, n: int) -> list[dict]:
    # quarter-unit values: every partial sum is exact in a double, so
    # the stats view must equal the model bit for bit
    return [{"k": rng.randrange(KEYS), "v": rng.randrange(4000) / 4} for _ in range(n)]


class Model:
    """What the log holds, kept in Python: the oracle for every read."""

    def __init__(self):
        self.n = 0
        self.total = 0.0
        self.hits: dict[int, int] = {}
        self.last: dict[int, dict] = {}
        self.last_seq: dict[int, int] = {}
        self.payload_bytes = 0

    def add(self, recs: list[dict], last_seq: int, codec) -> None:
        first = last_seq - len(recs) + 1
        for i, r in enumerate(recs):
            k = r["k"]
            self.total += r["v"]
            self.hits[k] = self.hits.get(k, 0) + 1
            self.last[k] = r
            self.last_seq[k] = first + i
            self.payload_bytes += len(codec.encode(r))
        self.n += len(recs)


def make_view(name: str):
    if name == "stats":
        return NativeStats(1, field="v")
    if name == "idx":
        return Level(1, key_expr="array(get_json_object(value, '$.k'))", key_type="long")
    return Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long")


def open_db(run, path: str) -> Flume:
    db = Flume(path, spark=run.spark)
    instrument_log(run.tracer, db.log)
    return db


def preload(db: Flume, model: Model, rng: random.Random, n: int,
            commit_rows: int = COMMIT_ROWS) -> None:
    for start in range(0, n, commit_rows):
        recs = make_records(rng, min(commit_rows, n - start))
        model.add(recs, db.append(recs), db.log.codec)


def register(run, db: Flume, name: str, view=None) -> None:
    """``db.use`` with the traced-run wrappers in place: the view's own
    ``fold``/``get`` before ``use`` (the handle binds ``get`` then), the
    gated handle call after it."""
    view = view or make_view(name)
    tr = run.tracer
    after = None
    if name == "latest":
        # Hashtable rewrites its whole snapshot on every fold
        def after(rec, *_):
            rec["bytes"] = dir_bytes(os.path.join(view.path, view._meta["snapshot"]))
    tr.wrap(view, "fold", f"views.fold.{name}", after=after)
    if "get" in view.METHODS:
        tr.wrap(view, "get", f"views.read.{name}")
    db.use(name, view)
    if "get" in view.METHODS:
        tr.wrap(getattr(db, name), "get", "engine.gate")


def read_view(db: Flume, name: str, key: int, **kw):
    """One gated read through the view's handle."""
    handle = getattr(db, name)
    return handle.get(**kw) if name == "stats" else handle.get(key, **kw)


def verify(out, model: Model, name: str, key: int, got) -> None:
    """Check one read against the model; a mismatch is a failed op."""
    if name == "stats":
        have = got and (got["count"], got["sum"])
        want = (model.n, model.total)
    elif name == "idx":
        have = (len(got), got[-1]["seq"] if got else None)
        want = (model.hits.get(key, 0), model.last_seq.get(key))
    else:
        have, want = got, model.last.get(key)
    out.check(have == want, f"{name}[{key}] {have} != {want}")


# ---- traced-run wrappers ----------------------------------------------
def file_seq_range(path: str) -> tuple[int, int]:
    """Min and max seq of one committed log file, from its footer."""
    md = pq.ParquetFile(path).metadata
    col = md.schema.names.index("seq")
    stats = [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]
    return min(s.min for s in stats), max(s.max for s in stats)


def instrument_log(tr, log) -> None:
    seq_ranges: dict[str, tuple[int, int]] = {}  # log files are immutable

    def scan_plan(rec, _args, kwargs, _out):
        # the files the range scan plans over, and how many of them
        # hold a seq inside (gt, lte]
        files = log._load_meta().get("files", [])
        gt = kwargs.get("gt")
        lte = kwargs.get("lte")
        lo = -1 if gt is None else gt
        hi = float("inf") if lte is None else lte
        useful = 0
        for f in files:
            if f not in seq_ranges:
                seq_ranges[f] = file_seq_range(os.path.join(log.data_dir, f))
            a, b = seq_ranges[f]
            useful += b > lo and a <= hi
        rec["files"] = len(files)
        rec["useful"] = useful

    tr.wrap(log, "append", "log.append")
    tr.wrap(log, "df", "log.df")
    tr.wrap(log, "stream_df", "log.stream_df", after=scan_plan)
