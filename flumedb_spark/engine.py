"""Flume — the orchestrator: log wrapper, view registry, build/catch-up
loop, consistency gate, mapper plumbing.

Reference parity map (SURVEY.md §2.A):

- O1/O2 append           -> :meth:`Flume.append`
- O3 get                 -> :meth:`Flume.get`
- O4/O5/O6 stream        -> :meth:`Flume.stream` / :meth:`Flume.stream_df`
- O7 since               -> :attr:`Flume.since`
- O8 use                 -> :meth:`Flume.use` (validation `index.js:174-182`,
                            name collision `index.js:164-166`, late
                            registration backfills `README.md:156-157`)
- O9 build/catch-up loop -> :meth:`Flume._catch_up` (resume from view.since
                            = `index.js:39`; view-ahead destroy+rebuild =
                            `index.js:36-37`; crash-restart = `index.js:66-71`)
- O10-O13 gate           -> :class:`ViewHandle` wrapping (`wrap.js:29-61`);
                            the reference's `wrap.js:49` splice-argument
                            bug is deliberately NOT replicated (SURVEY
                            §7.4.6) — we gate on an explicit target seq.
- O14 method dispatch    -> view.METHODS {'sync'|'async'|'source'}
                            (`wrap.js:63-96`; sync bypasses the gate)
- O15 mapper             -> :meth:`Flume._mapped` — composed onto every
                            read and every view feed, never persisted
                            (`index.js:96-130`); skipped when values are
                            not requested (`index.js:97-99`)
- O16 rebuild            -> :meth:`Flume.rebuild` (`index.js:194-250`)
- O17 destroy            -> ``db.<view>.destroy()``
- O18 close              -> :meth:`Flume.close` (post-close calls raise,
                            `index.js:132-136`, `wrap.js:11-15`)
- O19 per-view ready     -> ``db.<view>.ready()``
- O20 meta counters      -> :attr:`Flume.meta`, ``db.<view>.meta``
- O22 dir                -> :attr:`Flume.dir`

Execution model: incremental batch folds (the `foreachBatch` shape) driven
at read time by the gate — semantically identical to the reference's live
pull pipeline because flume streams are replayable and strictly ordered
(SURVEY §2.C). `flumedb_spark.streaming.live` supplies the always-on
Structured-Streaming variant of the feed (O6).
"""

from __future__ import annotations

import os
import threading
import time
from typing import Any, Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .log import ParquetLog
from .views.base import FlumeView

REQUIRED_VIEW_ATTRS = ("close", "fold", "destroy", "since")  # index.js:174-182


class GateTimeout(TimeoutError):
    """ready(since=N) did not observe seq N within ``gate_wait_seconds``.

    Carries what WAS reached so callers can distinguish "the view
    reached N" from "timed out at head<N" — the reference queues such
    waiters until the view reaches N (wrap.js:42-53); a bounded waiter
    must therefore fail loudly, never silently succeed on a prefix
    read. Opt back into the old clamp with
    ``engine.gate_on_timeout = "clamp"``.
    """

    def __init__(self, target: int, head: int, waited: float):
        self.target = int(target)
        self.head = int(head)
        self.waited = float(waited)
        super().__init__(
            f"wait-for-seq {target} timed out after {waited:.2f}s at "
            f"head {head}; set gate_on_timeout='block' to queue like the "
            "reference or 'clamp' to accept a prefix read"
        )


class ClosedError(RuntimeError):
    pass


class ExprMapper:
    """A mapper expressed as a Spark SQL expression over the ``value``
    column (must evaluate to the new value string) — the JVM fast path
    for O15 when the transform is SQL-expressible: no Python worker, no
    Arrow transfer, stays inside whole-stage codegen.

    Point gets evaluate the expression over a local DataFrame of the
    fetched rows, so get/stream/view-feed all see identical semantics.
    """

    def __init__(self, expr: str):
        self.expr = expr


class MeteredDataFrame:
    """Delivery-counting wrapper for a ``source`` method's DataFrame
    (wrap.js:73-77): each DRIVER-side materialization of this object
    (``collect``/``toPandas``/``count``/``take``/``head``/``first``/
    ``toLocalIterator``) bumps the method counter by the number of rows
    delivered — the DataFrame analogue of the reference's
    ``pull.through`` on the returned stream.

    Scope (deliberate): lazy transformations (`.where`, `.select`, ...)
    delegate and return plain DataFrames, and executor-side consumers
    (``foreach``/``foreachPartition``, ``write.*``) and display
    (``show``) pass through unmetered — those deliver rows on executors
    or to a sink, where a driver-dict bump cannot observe them (an
    accumulator-based meter would double-count task retries). Items are
    counted where the reference counts them: rows handed to the
    CALLER."""

    def __init__(self, df: DataFrame, bump: Callable[[int], None]):
        object.__setattr__(self, "_df", df)
        object.__setattr__(self, "_bump", bump)

    def __repr__(self) -> str:
        # show the frame, not the wrapper (r4 ADVICE): interactive users
        # and logs should see the usual DataFrame[...] schema line
        return repr(self._df)

    def unwrap(self) -> DataFrame:
        """The underlying plain DataFrame, for callers that need a real
        ``pyspark.sql.DataFrame`` instance (isinstance checks, APIs that
        type-test their input). Materializing through the unwrapped
        frame is not metered — use the wrapper for counted delivery."""
        return self._df

    def collect(self):
        rows = self._df.collect()
        self._bump(len(rows))
        return rows

    def toPandas(self):
        pdf = self._df.toPandas()
        self._bump(len(pdf))
        return pdf

    def count(self) -> int:
        n = self._df.count()
        self._bump(n)
        return n

    def toLocalIterator(self, *a, **kw):
        for row in self._df.toLocalIterator(*a, **kw):
            self._bump(1)
            yield row

    def first(self):
        row = self._df.first()
        if row is not None:
            self._bump(1)
        return row

    def take(self, num: int):
        rows = self._df.take(num)
        self._bump(len(rows))
        return rows

    def head(self, n: int | None = None):
        if n is None:
            return self.first()
        return self.take(n)

    def __getattr__(self, name):
        return getattr(object.__getattribute__(self, "_df"), name)


class ViewHandle:
    """Per-view method wrapper: consistency gate + call metering
    (`wrap.js`). Mounted at ``db.<name>``."""

    def __init__(self, engine: "Flume", view: FlumeView):
        self._engine = engine
        self._view = view
        self._closed = False
        # every method counter pre-initialized to 0 (wrap.js:135):
        # metrics readers see zeros before the first call, not KeyError
        self.meta: dict[str, int] = {mname: 0 for mname in view.METHODS}
        for mname, kind in view.METHODS.items():
            self._mount(mname, kind)

    def _mount(self, mname: str, kind: str) -> None:
        if kind not in ("sync", "async", "source"):
            raise ValueError(f"method type must be sync|async|source: {mname}={kind}")
        inner = getattr(self._view, mname)

        def call(*args, since: int | None = None, **kw):
            self._throw_if_view_closed()
            self._engine._throw_if_closed()
            self.meta[mname] = self.meta.get(mname, 0) + 1
            if kind != "sync":  # sync bypasses the gate (wrap.js:89-95)
                self._engine._gate(self._view, since)
            out = inner(*args, **kw)
            if kind == "source" and isinstance(out, DataFrame):
                # O20 per-item metering on source methods (wrap.js:73-77):
                # the reference bumps the same counter once per call AND
                # once per delivered item (pull.through on the returned
                # stream). The returned DataFrame is the stream here, so
                # materializing it delivers the items — count them then.
                def bump(n: int, _m=mname):
                    self.meta[_m] = self.meta.get(_m, 0) + int(n)

                out = MeteredDataFrame(out, bump)
            return out

        setattr(self, mname, call)

    def _throw_if_view_closed(self) -> None:
        if self._closed:
            raise ClosedError(f"flumedb view is closed: {self._view.name}")

    def close(self) -> None:
        """Per-view close (wrap.js:107-115): tear down this view while
        the engine stays open; subsequent calls on the handle raise."""
        if self._closed:
            return
        self._closed = True
        self._view.close()

    @property
    def since(self) -> int:
        return self._view.since

    def on_since(self, cb, immediate: bool = True):
        """Subscribe to this view's watermark observable
        (README.md:220-223). Returns an unsubscribe fn."""
        return self._view.on_since(cb, immediate=immediate)

    def ready(self, since: int | None = None) -> None:
        """One-shot barrier: returns when the view is caught up
        (README.md:254-257)."""
        self._throw_if_view_closed()
        self._engine._throw_if_closed()
        self._engine._gate(self._view, since)

    def destroy(self) -> None:
        self._view.destroy()


class Flume:
    """The engine. ``Flume(path_or_log, is_ready=True, mapper=None)``."""

    def __init__(
        self,
        log: ParquetLog | str,
        is_ready: bool = True,
        mapper: Callable[[Any], Any] | None = None,
        spark: SparkSession | None = None,
    ):
        if spark is None:
            from .session import get_spark

            spark = get_spark()
        self.spark = spark
        self.log = ParquetLog(log) if isinstance(log, str) else log
        self.mapper = mapper
        self.closed = False
        self._ready = threading.Event()
        if is_ready:
            self._ready.set()
        self._views: dict[str, FlumeView] = {}
        self._handles: dict[str, ViewHandle] = {}
        self.meta: dict[str, int] = {"append": 0, "get": 0, "stream": 0}
        # Bound on the cross-process wait in _gate for an explicit
        # ready(since=N) beyond the local head: the first manifest
        # refresh is immediate (a committed-elsewhere seq resolves with
        # zero sleep); only a genuinely not-yet-committed target polls,
        # for at most this long. Tune down for callers that probe
        # speculative seqs, up for slow writers.
        self.gate_wait_seconds: float = 2.0
        # What a timed-out wait-for-seq does (r4 VERDICT #3 / ADVICE):
        #   "raise"  (default) — raise GateTimeout(target, head): the
        #            caller asked for seq N and must be able to tell it
        #            never arrived (wrap.js:42-53 waiters never resolve
        #            early).
        #   "block"  — keep polling until the seq commits or close():
        #            the reference's unbounded queue semantics.
        #   "clamp"  — fold to the reached head and return success on
        #            the prefix (pre-r5 behavior; opt-in only).
        self.gate_on_timeout: str = "raise"
        self._lock = threading.RLock()
        # O21: logs may export extra ops onto the engine facade
        # (index.js:270-283) — type-checked, name-conflict throw
        for mname, kind in getattr(self.log, "methods", {}).items():
            if kind != "sync":
                raise ValueError(f"log method {mname} must be 'sync'")
            if hasattr(self, mname):
                raise ValueError(f"log method clashes with engine api: {mname}")
            setattr(self, mname, getattr(self.log, mname))

    # ---- basics --------------------------------------------------------
    @property
    def dir(self) -> str:
        """Storage root shared by log + views (README.md:207-210)."""
        return self.log.path

    @property
    def since(self) -> int | None:
        """The log's observable state (README.md:197-201): None before
        the log has loaded (reference: undefined), -1 when loaded and
        empty, else the latest seq. Reads take the init barrier
        themselves, so None is visible only between construction and the
        first operation — exactly the reference's init race window."""
        return self.log.since

    def _throw_if_closed(self) -> None:
        if self.closed:
            raise ClosedError("flumedb instance is closed")  # index.js:132-136

    @property
    def is_ready(self) -> bool:
        return self._ready.is_set()

    def set_ready(self, flag: bool) -> None:
        """Master switch stalling every gated read (O13, wrap.js:22-27)."""
        if flag:
            self._ready.set()
        else:
            self._ready.clear()

    # ---- mapper (O15) --------------------------------------------------
    def _mapped(self, df: DataFrame) -> DataFrame:
        """Compose the mapper onto a (seq, ts, value)-shaped plan; never
        persisted. An :class:`ExprMapper` stays fully JVM-side (codegen'd
        column expression); an arbitrary Python mapper runs executor-side
        via Arrow-batched mapInPandas (the documented slow path)."""
        if self.mapper is None:
            return df
        if isinstance(self.mapper, ExprMapper):
            from pyspark.sql import functions as F

            return df.withColumn("value", F.expr(self.mapper.expr))
        mapper = self.mapper
        cols = df.columns

        codec = self.log.codec

        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                pdf = pdf.copy()
                pdf["value"] = [
                    codec.encode(mapper(codec.decode(v))) for v in pdf["value"]
                ]
                yield pdf

        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
        out = df.mapInPandas(run, schema)
        return out.select(*cols)

    def _map_rows(self, rows: list[dict]) -> list[dict]:
        """The mapper over a handful of fetched ``(seq, value)`` log rows
        (point gets). A Python mapper runs in the driver with the same
        encode/decode round trip as :meth:`_mapped`; an
        :class:`ExprMapper` is one projection over a local DataFrame of
        the rows, so every read path evaluates it the same way."""
        if self.mapper is None or not rows:
            return rows
        if isinstance(self.mapper, ExprMapper):
            local = self.spark.createDataFrame(
                [(r["seq"], r["value"]) for r in rows], "seq long, value string"
            )
            return [r.asDict() for r in self._mapped(local).collect()]
        codec, mapper = self.log.codec, self.mapper
        return [
            {**r, "value": codec.encode(mapper(codec.decode(r["value"])))} for r in rows
        ]

    # ---- write path (O1/O2) --------------------------------------------
    def append(self, values: Any) -> int:
        self._throw_if_closed()
        self.meta["append"] += 1
        return self.log.append(values)

    # ---- read paths (O3-O6) --------------------------------------------
    def get(self, seq: int) -> Any:
        """Mapped point lookup; raises KeyError if absent
        (README.md:124-128)."""
        self._throw_if_closed()
        self.meta["get"] += 1
        rows = self._map_rows(self.log.read_seqs([int(seq)]))
        if not rows:
            raise KeyError(seq)
        return self.log.codec.decode(rows[0]["value"])

    def stream_df(self, seqs: bool = True, values: bool = True, **opts) -> DataFrame:
        """Range-scan plan with mapper composed (O4/O5). Mapper is skipped
        entirely for seq-only streams (index.js:97-99)."""
        self._throw_if_closed()
        self.meta["stream"] += 1
        df = self.log.stream_df(self.spark, seqs=True, values=True, **opts)
        if values:
            df = self._mapped(df)
        if seqs and values:
            return df.select("seq", "value")
        return df.select("seq") if seqs else df.select("value")

    def stream(
        self,
        seqs: bool = True,
        values: bool = True,
        live: bool = False,
        poll_interval: float = 0.05,
        **opts,
    ):
        """Collected range scan. ``live=True`` returns a generator that
        emits the bounded prefix then tails new appends (O6) — the
        driver-side form; `streaming.live` is the cluster form."""
        self._throw_if_closed()  # index.js:149-151: stream throws after close
        if not live:
            items = [
                self._row_to_item(r, seqs, values)
                for r in self.stream_df(seqs=seqs, values=values, **opts).collect()
            ]
            # per-item metering (wrap.js:74-76): the reference bumps the
            # same counter once per call and once per delivered item
            self.meta["stream"] += len(items)
            return items

        # reverse stays batch-only: an unbounded reverse tail is
        # incoherent, and the reference's own backends disagree on it
        # (test/level.js:6-8 documents the inconsistency — SURVEY §7.4.4
        # says don't replicate it). Everything else composes with live
        # per README.md:133: emit the existing range, then keep tailing.
        if opts.get("reverse"):
            raise ValueError("live tail does not support reverse (SURVEY §7.4.4)")

        def tail() -> Iterator[Any]:
            # exclusive lower cursor from gt/gte; inclusive upper bound
            # from lt/lte (seqs are integers in every backend, so the
            # +-1 conversions are exact)
            pos = opts.get("gt")
            pos = -1 if pos is None else int(pos)  # explicit gt=None == unbounded
            if opts.get("gte") is not None:
                pos = max(pos, int(opts["gte"]) - 1)
            hi = None
            if opts.get("lt") is not None:
                hi = int(opts["lt"]) - 1
            if opts.get("lte") is not None:
                hi = int(opts["lte"]) if hi is None else min(hi, int(opts["lte"]))
            limit = opts.get("limit")
            n = 0
            while not self.closed:
                head = self.log.ready_since()
                cap = head if hi is None else min(head, hi)
                if cap > pos:
                    for item in self.stream(seqs=seqs, values=values, gt=pos, lte=cap):
                        yield item
                        n += 1
                        if limit is not None and n >= int(limit):
                            return  # limit truncates the live stream too
                    pos = cap
                if hi is not None and pos >= hi:
                    return  # upper bound reached: no future seq can match
                if cap <= pos:
                    time.sleep(poll_interval)
                    # idle poll: reload the watermark from disk so tails
                    # observe appends committed by OTHER processes too
                    # (same-process appends publish in-memory directly)
                    refresh = getattr(self.log, "refresh_since", None)
                    if refresh is not None:
                        refresh()
            # the loop exits this way only when close() landed mid-tail:
            # the reference ABORTS live streams with an error on close
            # (index.js:198-201 via pull-abortable) — never a clean end
            # indistinguishable from an empty log
            raise ClosedError("flumedb closed while tailing")

        return tail()

    def on_since(self, cb, immediate: bool = True):
        """Subscribe to the log watermark — `db.since` IS the log's
        observable in the reference (index.js:142); ``cb(seq)`` fires on
        every committed append (and once immediately with the current
        value when the log is loaded). Returns an unsubscribe fn.
        Per-view observables: ``db.<view>.on_since`` (README.md:220)."""
        self._throw_if_closed()
        return self.log.on_since(cb, immediate=immediate)

    def _row_to_item(self, row, seqs: bool, values: bool):
        decode = self.log.codec.decode
        if seqs and values:
            return {"seq": row.seq, "value": decode(row.value)}
        return row.seq if seqs else decode(row.value)

    def sql(self, query: str, gated: bool = True) -> DataFrame:
        """Relational SQL over the engine: the mapped log is exposed as
        the ``log`` view with its JSON value intact plus a parsed
        ``seq`` column; registered views' tables are exposed as
        ``view_<name>`` where they materialize DataFrames.

        ``gated=True`` first catches every registered view up to the
        current head, so the query sees read-your-writes-consistent
        state (O10 extended to the SQL surface).
        """
        self._throw_if_closed()
        if gated:
            head = self.log.ready_since()
            for view in self._views.values():
                self._catch_up(view, head)
        self._mapped(self.log.df(self.spark)).createOrReplaceTempView("log")
        for name, view in self._views.items():
            df_fn = getattr(view, "df", None)
            if callable(df_fn):
                try:
                    df_fn().createOrReplaceTempView(f"view_{name}")
                except TypeError:
                    pass
        return self.spark.sql(query)

    # ---- views (O8/O9) -------------------------------------------------
    @property
    def views(self) -> dict[str, "ViewHandle"]:
        """Public registry of installed views: name -> gated handle
        (README.md:175-179 — "an object with all the views with their
        names as keys"). A COPY, so callers can't mutate the registry
        around :meth:`use`; the values are the same handles mounted as
        ``db.<name>``."""
        return dict(self._handles)

    def use(self, name: str, view: FlumeView) -> "Flume":
        self._throw_if_closed()
        if name in self._views or hasattr(self, name):
            raise ValueError(f"flumedb.use: name already in use: {name}")  # index.js:164-166
        for attr in REQUIRED_VIEW_ATTRS:
            if not hasattr(view, attr):
                raise TypeError(f"view must have method/prop: {attr}")  # index.js:174-182
        view.attach(self, name, os.path.join(self.dir, "views", name), self.spark)
        # view ahead of the log (log truncated/replaced between runs) =>
        # destroy NOW, at registration (index.js:36-37 runs this check in
        # buildView at use()-time; deferring it to the first gated read
        # would keep exposing phantom state through since / on_since /
        # sync methods / since=-1 reads — test/memlog.js:98-126).
        # A fresh view (since == -1) can never be ahead: skip the check
        # so registering views doesn't consume the log's pre-first-
        # operation undefined-since window (README.md:197-201).
        if view.since > -1 and view.since > self.log.ready_since():
            view.destroy()
        self._views[name] = view
        handle = ViewHandle(self, view)
        self._handles[name] = handle
        setattr(self, name, handle)
        # reference links each view's meta into the engine's
        # (index.js:185): db.meta[name][method] readable from the start
        self.meta[name] = handle.meta
        return self

    def _feed(self, view: FlumeView, gt: int, lte: int) -> None:
        """One incremental batch (seq in (gt, lte]) through the mapper into
        the view's fold — the pull pipeline of `index.js:51-55`. The
        batch is unordered (see :meth:`FlumeView.fold`)."""
        batch = self.log.stream_df(self.spark, gt=gt, lte=lte, ordered=False)
        view.fold(self._mapped(batch), lte)
        # per-item meter (wrap.js:67,74-76): rows delivered through the
        # feed. Dense seqs make the count exact with zero extra Spark
        # work; non-dense backends (OffsetLog) pay one pruned range
        # count. A rebuild re-delivers and re-counts, mirroring
        # test/rebuild.js:21-23.
        handle = self._handles.get(view.name)
        if handle is not None:
            n = (lte - gt) if self.log.DENSE else batch.count()
            handle.meta["items"] = handle.meta.get("items", 0) + n

    def _catch_up(self, view: FlumeView, target: int) -> None:
        with self._lock:
            # view ahead of the log (log truncated/replaced) => destroy +
            # full rebuild (index.js:36-37, test/memlog.js:98-126)
            if view.since > self.log.ready_since():
                view.destroy()
            if view.since < target:
                try:
                    self._feed(view, view.since, target)
                except Exception:
                    # crash-restart: a corrupt view never poisons the log —
                    # destroy and rebuild from 0 (index.js:56-75). The
                    # reference retries its destroy+rebuild loop forever
                    # (index.js:59-74); a synchronous engine bounds it
                    # (a deterministic fold error would livelock) but
                    # retries MORE than once so one transient failure
                    # during the rebuild itself doesn't surface to the
                    # reader with the view wiped.
                    last: Exception | None = None
                    for _ in range(3):
                        view.destroy()
                        try:
                            self._feed(view, -1, target)
                            last = None
                            break
                        except Exception as exc:  # noqa: PERF203
                            last = exc
                    if last is not None:
                        raise last

    def _gate(self, view: FlumeView, since_opt: int | None) -> None:
        """Read-after-write gate (O10-O12, wrap.js:29-61): block until the
        view reflects the log head *as of call time* (or an explicit seq);
        ``since=-1`` opts out of catch-up (README.md:249-252)."""
        if since_opt == -1:
            # the opt-out bypasses the master switch too (wrap.js:30-41:
            # the after<0 branch returns current state immediately and
            # never consults isReady) — a since=-1 reader must not block
            # on a not-yet-ready engine
            self._throw_if_closed()
            return
        while not self._ready.is_set():  # O13 master switch
            if self.closed:
                raise ClosedError("closed while waiting")
            if self._ready.wait(timeout=0.05):
                break
        if self.closed:
            # close() releases waiters by setting the event: they must
            # observe closed and RAISE (the reference drains its waiting
            # queue with an error, wrap.js:98-112) — never run a
            # catch-up fold on a closed engine and return success
            raise ClosedError("closed while waiting")
        head = self.log.ready_since()
        # since=0 is FALSY in the reference (wrap.js:42 `else if
        # (after)`): it falls through to the full head gate exactly like
        # since=None/undefined — there is no way to request
        # wait-for-seq-0 in the reference API, so none here either.
        # An explicit target past the head is clamped: committing the
        # view watermark beyond seqs that do not exist yet would make
        # later appends in the gap permanently invisible (the fresh-seq
        # filter skips everything <= the committed watermark). The
        # reference's semantic (wrap.js:42-53) is "wait until the view
        # REACHES N" — with a synchronous pull engine, folding to the
        # current head is the furthest that wait can progress.
        if since_opt is None or int(since_opt) == 0:
            target = head
        else:
            target = int(since_opt)
            if target > head:
                # cross-process read-after-write: the cached watermark can
                # trail a commit made by ANOTHER process. Re-read the
                # committed manifest, then poll (the reference queues the
                # waiter until the view reaches N, wrap.js:42-53). The
                # first refresh is immediate, so an already-committed-
                # elsewhere target resolves with zero sleep.
                import time as _time

                refresh = getattr(self.log, "refresh_since", None) or (
                    self.log.ready_since
                )
                mode = getattr(self, "gate_on_timeout", "raise")
                waited = float(getattr(self, "gate_wait_seconds", 2.0))
                start = _time.monotonic()
                deadline = None if mode == "block" else start + waited
                head = refresh()
                while head < target and (
                    deadline is None or _time.monotonic() < deadline
                ):
                    if self.closed:
                        raise ClosedError("closed while waiting")
                    _time.sleep(0.02)
                    head = refresh()
                if head < target and mode != "clamp":
                    # never a silent prefix-read success (r4 VERDICT #3):
                    # the clamp — committing the watermark only to the
                    # reached head, so the unwritten gap stays foldable —
                    # is opt-in via gate_on_timeout="clamp"
                    raise GateTimeout(
                        target, head, _time.monotonic() - start
                    )
            target = min(target, head)
        self._catch_up(view, target)

    # ---- maintenance (roadmap #7: cost-based compaction) ----------------
    def maintain(self, **policy) -> dict[str, object]:
        """Run every due compaction across the log and the views that
        support one (cost-based triggers — see ``ParquetLog.
        compaction_due`` / ``Level.compaction_due``). Policy kwargs are
        forwarded to the log trigger. Returns what ran:
        ``{"log": n_files_after | None, "views": [names compacted]}``.

        Safe to call any time: triggers read only local metadata, the
        compactions themselves use the same atomic manifest-swap commit
        as appends, and concurrent appends/reads stay correct.
        """
        self._throw_if_closed()
        vacuum_after = policy.pop("vacuum_after_seconds", 600.0)
        export_delta = policy.pop("export_delta", False)
        export_iceberg = policy.pop("export_iceberg", False)
        out: dict[str, object] = {"log": None, "views": []}
        out["log"] = self.log.maybe_compact(self.spark, **policy)
        # OPTIMIZE/VACUUM separation: deletion of compaction-replaced
        # files is retention-gated (see ParquetLog.vacuum)
        out["vacuumed"] = self.log.vacuum(older_than_seconds=vacuum_after)
        for name, view in self._views.items():
            if getattr(view, "maybe_compact", None) and view.maybe_compact():
                out["views"].append(name)  # type: ignore[union-attr]
            # view-side vacuum: snapshots/index files replaced by folds
            # or compaction are deletion-deferred (views/base.py
            # defer_delete) and die here once past retention. Under the
            # engine lock: the meta mutation + commit must not race a
            # concurrent fold's json.dump of the same dict.
            if getattr(view, "collect_garbage", None):
                with self._lock:
                    if view.collect_garbage(older_than_seconds=vacuum_after):
                        view.commit(view.since)
        if export_delta:
            # interop sync (sources/delta_export.py): refresh the log's
            # external Delta transaction log after compaction/vacuum so
            # outside readers see the post-OPTIMIZE file set
            from .sources.delta_export import export_delta_log

            out["delta_version"] = export_delta_log(self.log, operation="OPTIMIZE")
        if export_iceberg:
            # same interop sync for the Iceberg metadata tree
            # (sources/iceberg_export.py)
            from .sources.iceberg_export import export_iceberg_metadata

            out["iceberg_version"] = export_iceberg_metadata(self.log)
        return out

    # ---- redaction (right-to-be-forgotten; beyond reference scope) ----
    def delete_seqs(self, seqs) -> int:
        """Redact records by seq and rebuild every view (views already
        folded the redacted records, so the only correct state is a
        replay over the redacted log — the reference's rebuild contract
        applied to deletion). Physical erasure of the replaced files
        completes at ``maintain()``/``vacuum()`` after retention."""
        self._throw_if_closed()
        n = self.log.delete_seqs(self.spark, seqs)
        if n:
            self.rebuild()
        return n

    def delete_where(self, predicate: str) -> int:
        """Redact every committed record matching ``predicate`` — a SQL
        expression over the raw log frame (columns ``seq``, ``value``;
        with the json codec, ``get_json_object(value, '$.field')``
        reaches into payloads). The matching seq set stays a DataFrame
        end-to-end (the bulk-redaction form of :meth:`delete_seqs`), so
        a broad predicate never materializes an unbounded seq list on
        the driver (ADVICE r6)."""
        self._throw_if_closed()
        return self.delete_seqs(
            self.log.df(self.spark).where(predicate).select("seq")
        )

    # ---- lifecycle (O16/O18) -------------------------------------------
    def rebuild(self) -> None:
        """Destroy ALL views and replay the whole log through them
        (index.js:194-250). Appends stay legal concurrently; gated reads
        simply re-catch-up."""
        self._throw_if_closed()
        with self._lock:
            for view in self._views.values():
                view.destroy()
            head = self.log.ready_since()
            if head >= 0 and self._views:
                # per-view backfills are independent pipelines (the
                # reference's star topology, README.md:7-10): run them as
                # concurrent Spark jobs so the rebuild wall-clock is the
                # slowest view, not the sum
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=min(4, len(self._views))) as ex:
                    futures = [
                        ex.submit(self._feed, view, -1, head)
                        for view in self._views.values()
                    ]
                    for f in futures:
                        f.result()

    def close(self) -> None:
        if self.closed:
            return
        self.closed = True
        self._ready.set()  # release waiters; they observe closed and raise
        for view in self._views.values():
            view.close()
