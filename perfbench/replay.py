"""`replay`: bulk recovery over a preloaded log.

Set-up preloads the log in 10k-record commits. The timed phases run in
this order: late registration of the three views, each with a full
backfill; ``db.rebuild()``; a ``LiveViewRunner`` catch-up of a fresh
view from 0 to the head, built with its default source; ``db.maintain()``
compaction. View state is checked against the model after backfill,
after rebuild and after catch-up, outside the timed phases.

Set-up first runs the same cycle, untimed, over a small log of the same
shape (ten commits): a fresh JVM runs its first cycle about three times
slower while it loads and compiles the code every phase uses.
"""

from __future__ import annotations

import os
import random
import time

import layers
import store
from common import Outcome, dir_bytes, median
from flumedb_spark import NativeStats
from flumedb_spark.streaming.live import LiveViewRunner

PRELOAD_ROWS = 100_000
WARMUP_ROWS = 10_000


def _fresh(run, name: str, rng, rows: int, commit_rows: int):
    db = store.open_db(run, os.path.join(run.run_dir, name))
    model = store.Model()
    store.preload(db, model, rng, rows, commit_rows=commit_rows)
    return db, model


def replay(run) -> Outcome:
    out = Outcome()
    rng = random.Random(run.seed)
    t0 = time.perf_counter()
    db, model = _fresh(run, "replay-warmup", rng, WARMUP_ROWS, WARMUP_ROWS // 10)
    try:
        _cycle(run, db, model, rng, out, op_prefix="warmup.")
    finally:
        db.close()
    db, model = _fresh(run, "replay-db", rng, PRELOAD_ROWS, store.COMMIT_ROWS)
    setup_s = run.session_start_s + time.perf_counter() - t0
    try:
        cycle = _cycle(run, db, model, rng, out)
    finally:
        db.close()

    phase = cycle["phases"]
    run_s = sum(phase.values())
    backfill_s = sum(phase[f"backfill.{v}"] for v in store.VIEWS)
    out.end_to_end = layers.table({
        "setup_s": setup_s,
        "run_s": run_s,
        "bytes_per_user_byte": cycle["bytes_per_user_byte"],
    }, layers.END_TO_END)
    out.name("setup_s", setup_s, "s")
    out.name("error_rate", len(out.failures) / out.attempted, "ratio")
    out.name("backfill_rows_per_s", PRELOAD_ROWS * len(store.VIEWS) / backfill_s, "rows/s")
    out.name("rebuild_s", phase["rebuild"], "s")
    out.name("catchup_rows_per_s", PRELOAD_ROWS / phase["catchup"], "rows/s")
    out.name("compact_s", phase["compact"], "s")
    out.name("bytes_per_user_byte", cycle["bytes_per_user_byte"], "ratio")
    if run.tracer.enabled:
        out.per_layer = layers.table(_layer_values(run, cycle, run_s), layers.PER_LAYER)
    return out


def _cycle(run, db, model, rng, out, op_prefix: str = "") -> dict:
    """One recovery cycle; trace ops are named ``<op_prefix><phase>`` so the
    warm-up cycle's spans stay out of the per-layer figures."""
    tr = run.tracer
    phases: dict[str, float] = {}
    head = db.log.ready_since()

    def check_all(since=None):
        store.verify(out, model, "stats", 0, store.read_view(db, "stats", 0, since=since))
        for name in ("idx", "latest"):
            key = rng.randrange(store.KEYS)
            store.verify(out, model, name, key, store.read_view(db, name, key, since=since))

    for name in store.VIEWS:
        t = time.perf_counter()
        with tr.op(op_prefix + "backfill", view=name):
            store.register(run, db, name)
            getattr(db, name).ready()
        phases[f"backfill.{name}"] = time.perf_counter() - t
    check_all()

    t = time.perf_counter()
    with tr.op(op_prefix + "rebuild"):
        tr.wrap(db, "rebuild", "engine.rebuild")
        db.rebuild()
    phases["rebuild"] = time.perf_counter() - t
    # since=-1 reads the state the rebuild left, without a catch-up fold
    check_all(since=-1)

    store.register(run, db, "tail", NativeStats(1, field="v"))
    runner = LiveViewRunner(db, "tail")
    tr.wrap(runner, "start", "streaming.start")
    tr.wrap(runner, "process_all_available", "streaming.process_all_available")
    t = time.perf_counter()
    try:
        with tr.op(op_prefix + "catchup"):
            runner.start()
            runner.process_all_available()
        phases["catchup"] = time.perf_counter() - t
        progress = runner.query.recentProgress
    finally:
        runner.stop()
    _check_tail(out, db, "tail", head, model)
    # the same catch-up on the offset-native source, over the same, still
    # uncompacted log
    offset_rate = _offset_catchup(run, db, head, model, out) if tr.enabled else 0.0

    files_before = len(db.log._load_meta()["files"])
    t = time.perf_counter()
    with tr.op(op_prefix + "compact"):
        tr.wrap(db, "maintain", "engine.maintain")
        done = db.maintain()
    phases["compact"] = time.perf_counter() - t
    files_after = done["log"] if done["log"] is not None else files_before
    out.check(
        db.log.df(run.spark).count() == model.n,
        "log row count changed by compaction",
    )
    cycle = {
        "phases": phases,
        "bytes_per_user_byte": dir_bytes(db.dir) / model.payload_bytes,
        "progress": [
            {"rows": p.numInputRows, "ms": p.batchDuration} for p in progress
        ],
        "compact": (files_before, files_after, _compacted_bytes(db)),
        "offset_catchup_rows_per_s": offset_rate,
    }
    return cycle


def _compacted_bytes(db) -> int:
    return sum(
        os.path.getsize(os.path.join(db.log.data_dir, f))
        for f in db.log._load_meta()["files"]
        if f.startswith("compacted-")
    )


def _check_tail(out, db, name: str, head: int, model) -> None:
    view = getattr(db, name)
    out.check(view.since == head, f"{name} since {view.since} != head {head}")
    got = view.get(since=-1)
    out.check(
        got is not None and (got["count"], got["sum"]) == (model.n, model.total),
        f"{name} {got and (got['count'], got['sum'])} != {(model.n, model.total)}",
    )


def _offset_catchup(run, db, head: int, model, out) -> float:
    """Rows per second of a ``LiveViewRunner`` catch-up of a fresh view
    built on the offset-native source (``source="datasource"``), timed
    like the file-source catch-up: the figure the file source's
    ``catchup_rows_per_s`` must meet before that source can be deleted."""
    store.register(run, db, "tail_offset", NativeStats(1, field="v"))
    runner = LiveViewRunner(db, "tail_offset", source="datasource")
    t = time.perf_counter()
    try:
        runner.start()
        runner.process_all_available()
        wall = time.perf_counter() - t
    finally:
        runner.stop()
    _check_tail(out, db, "tail_offset", head, model)
    return (head + 1) / wall


def _layer_values(run, cycle, run_s) -> dict[str, float]:
    tr = run.tracer
    scans = tr.select("log.stream_df", ("backfill",))
    batches = [p for p in cycle["progress"] if p["rows"]]
    batch_ms = [p["ms"] for p in batches]
    files_before, files_after, rewritten = cycle["compact"]
    v = {
        "session.start_s": run.session_start_s,
        "log.files": files_before,
        "log.scan_files_per_fold": median([s["files"] for s in scans]),
        "log.scan_useful_ratio": (
            sum(s["useful"] for s in scans) / max(1, sum(s["files"] for s in scans))
        ),
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": median(batch_ms),
        "streaming.input_rows_per_s": (
            1e3 * sum(p["rows"] for p in batches) / max(1, sum(batch_ms))
        ),
        "sources.offset_catchup_rows_per_s": cycle["offset_catchup_rows_per_s"],
        "log.compact_files_before": files_before,
        "log.compact_files_after": files_after,
        "log.compact_bytes_rewritten": rewritten,
        "trace.run_s": run_s,
    }
    for name in store.VIEWS:
        v[f"views.backfill_s.{name}"] = median(tr.durations(f"views.fold.{name}", ("backfill",)))
        v[f"views.rebuild_fold_s.{name}"] = median(
            tr.durations(f"views.fold.{name}", ("rebuild",))
        )
    return v
