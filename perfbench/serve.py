"""`serve`: read-your-writes serving, one client, closed loop.

Set-up preloads the log in 10k-record commits, registers the three
views and backfills them (concurrently, through ``db.rebuild()``), then
makes one untimed ``rw`` op per view so the timed ops do not pay plan
compilation. The timed phase is a fixed, seeded sequence
of ops. An ``rw`` op appends a 100-record batch, then makes a gated
read of one view that must reflect it. Half the ``rw`` ops are followed
by an ``ro`` op on the same view: a gated read with nothing to fold.
Latency drifts up as commit files pile up, so the run length is an op
count (set from ``--seconds``), never a duration.
"""

from __future__ import annotations

import os
import random
import time

import layers
import store
from common import Outcome, Stopwatch, dir_bytes, median, p90

PRELOAD_ROWS = 100_000
BATCH_ROWS = 100
#: rw ops per second of ``--seconds``; about what this host completes
RW_OPS_PER_SECOND = 1.8


def serve(run) -> Outcome:
    out = Outcome()
    rng = random.Random(run.seed)
    tr = run.tracer
    t0 = time.perf_counter()
    db = store.open_db(run, os.path.join(run.run_dir, "serve-db"))
    model = store.Model()
    store.preload(db, model, rng, PRELOAD_ROWS)
    for name in store.VIEWS:
        store.register(run, db, name)
    db.rebuild()  # the three backfills, run concurrently
    # one untimed rw op per view compiles its fold and read plans
    for name in store.VIEWS:
        recs = store.make_records(rng, BATCH_ROWS)
        model.add(recs, db.append(recs), db.log.codec)
        store.verify(out, model, name, recs[0]["k"], store.read_view(db, name, recs[0]["k"]))
    setup_s = run.session_start_s + time.perf_counter() - t0

    # exact shares: each view gets the same number of rw ops, half of
    # them followed by an ro op; the seed decides only the order, the
    # keys and the values, so seeds differ in data, not in mix
    per_view = max(2, 2 * round(run.seconds * RW_OPS_PER_SECOND / 6))
    plan = [(v, i < per_view // 2) for v in store.VIEWS for i in range(per_view)]
    rng.shuffle(plan)
    lat = {"rw": Stopwatch(), "ro": Stopwatch()}
    for name, then_ro in plan:
        recs = store.make_records(rng, BATCH_ROWS)
        key = recs[rng.randrange(BATCH_ROWS)]["k"]
        with tr.op("rw", view=name), lat["rw"]:
            last = db.append(recs)
            got = store.read_view(db, name, key)
        model.add(recs, last, db.log.codec)
        store.verify(out, model, name, key, got)
        if then_ro:
            key = rng.randrange(store.KEYS)
            with tr.op("ro", view=name), lat["ro"]:
                got = store.read_view(db, name, key)
            store.verify(out, model, name, key, got)

    rw, ro = lat["rw"].laps, lat["ro"].laps
    run_s = sum(rw) + sum(ro)
    amplification = dir_bytes(db.dir) / model.payload_bytes
    out.end_to_end = layers.table({
        "setup_s": setup_s,
        "run_s": run_s,
        "bytes_per_user_byte": amplification,
    }, layers.END_TO_END)
    p, beyond, n = p90(rw)
    out.name("setup_s", setup_s, "s")
    out.name("error_rate", len(out.failures) / out.attempted, "ratio")
    out.name("rw_p50_ms", 1e3 * median(rw), "ms", n=len(rw))
    out.name("rw_p90_ms", 1e3 * p, "ms", n=n, beyond=beyond)
    out.name("ro_p50_ms", 1e3 * median(ro), "ms", n=len(ro))
    out.name("serve_ops_per_s", (len(rw) + len(ro)) / run_s, "ops/s")
    out.name("bytes_per_user_byte", amplification, "ratio")
    if tr.enabled:
        out.per_layer = layers.table(
            _layer_values(run, db, setup_s, run_s), layers.PER_LAYER
        )
    db.close()
    return out


def _layer_values(run, db, setup_s, run_s) -> dict[str, float]:
    tr = run.tracer
    ops = ("rw", "ro")
    scans = tr.select("log.stream_df", ops)
    meta = db.log._load_meta()
    v = {
        "session.start_s": run.session_start_s,
        "log.append_ms": 1e3 * median(tr.durations("log.append", ("rw",))),
        "log.manifest_bytes": os.path.getsize(db.log.meta_path),
        "log.files": len(meta["files"]),
        "log.scan_files_per_fold": median([s["files"] for s in scans]),
        "log.scan_useful_ratio": (
            sum(s["useful"] for s in scans) / max(1, sum(s["files"] for s in scans))
        ),
        "views.idx_files": len(db._views["idx"]._meta["files"]),
        "views.latest_bytes_per_fold": median(
            [s["bytes"] for s in tr.select("views.fold.latest", ops)]
        ),
        "engine.gate_self_ms": 1e3 * median(tr.self_times("engine.gate", ops)),
        "trace.run_s": run_s,
    }
    for name in store.VIEWS:
        v[f"views.fold_ms.{name}"] = 1e3 * median(tr.durations(f"views.fold.{name}", ops))
    for name in ("idx", "latest"):
        v[f"views.read_ms.{name}"] = 1e3 * median(tr.durations(f"views.read.{name}", ops))
    for kind in ops:
        for what in ("jobs", "stages", "tasks"):
            counts = tr.op_counts(kind, what)
            v[f"spark.{what}_per_op.{kind}"] = sum(counts) / max(1, len(counts))
    return v
