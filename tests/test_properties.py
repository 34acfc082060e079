"""Property-based tests (hypothesis) — what the reference suite lacks
(SURVEY §5.6). Kept example counts low: every example runs Spark jobs.

Properties:
- any (gt, gte, lt, lte, reverse, limit) combination over the log equals
  the Python list-slice oracle (O4's full parameter lattice, not just
  the handful of cases the reference tests);
- the reduce accumulator is invariant to how appends are batched
  (fold(batch-splits) == fold(whole)) — the incremental-maintenance
  correctness core;
- the gate invariant: after any append pattern, a gated read reflects
  exactly the appended prefix;
- a view's two fold paths agree: the Spark fold of a scanned batch and
  the driver fold of the same batch as an Arrow-built local frame leave
  equal state and equal point reads, also after a compaction over runs
  written by both, on every log backend and through either mapper kind.
"""

import collections
import os
from unittest import mock

import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flumedb_spark import ExprMapper, Flume, NativeStats, Reduce, engine
from flumedb_spark.log import OffsetLog, ParquetLog, VersionedLog
from flumedb_spark.views.bloom import Bloom
from flumedb_spark.views.grouped import GroupedStats
from flumedb_spark.views.hashtable import Hashtable
from flumedb_spark.views.level import Level
from flumedb_spark.views.search import Search

N = 30  # log size for the scan-lattice property


@pytest.fixture(scope="module")
def scan_db(spark, tmp_path_factory):
    db = Flume(str(tmp_path_factory.mktemp("prop") / "db"), spark=spark)
    db.append([{"v": i * 10} for i in range(N)])
    yield db
    db.close()


bound = st.one_of(st.none(), st.integers(min_value=-2, max_value=N + 2))


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    gt=bound,
    gte=bound,
    lt=bound,
    lte=bound,
    reverse=st.booleans(),
    limit=st.one_of(st.none(), st.integers(min_value=0, max_value=N + 2)),
)
def test_stream_equals_python_oracle(scan_db, gt, gte, lt, lte, reverse, limit):
    seqs = list(range(N))
    if gt is not None:
        seqs = [s for s in seqs if s > gt]
    if gte is not None:
        seqs = [s for s in seqs if s >= gte]
    if lt is not None:
        seqs = [s for s in seqs if s < lt]
    if lte is not None:
        seqs = [s for s in seqs if s <= lte]
    if reverse:
        seqs = seqs[::-1]
    if limit is not None:
        seqs = seqs[:limit]  # limit applies AFTER reverse
    got = scan_db.stream(
        gt=gt, gte=gte, lt=lt, lte=lte, reverse=reverse, limit=limit, values=False
    )
    assert got == seqs


@settings(max_examples=5, deadline=None)
@given(
    values=st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=12),
    data=st.data(),
)
def test_fold_invariant_under_batching(spark, tmp_path_factory, values, data):
    # split `values` into random contiguous batches; appending batchwise
    # with interleaved gated reads must equal one-shot python fold
    db = Flume(str(tmp_path_factory.mktemp("fold") / "db"), spark=spark)
    db.use("sum", Reduce(1, lambda acc, item: (acc or 0) + item["v"]))
    i = 0
    while i < len(values):
        size = data.draw(st.integers(min_value=1, max_value=len(values) - i))
        db.append([{"v": v} for v in values[i : i + size]])
        if data.draw(st.booleans()):
            assert db.sum.get() == sum(values[: i + size])
        i += size
    assert db.sum.get() == sum(values)
    db.close()


def _ks(v):
    return v["ks"] or []


def _k(v):
    return v["k"]


def _double_k(v):
    return {**v, "k": None if v["k"] is None else 2 * v["k"]}


#: one fresh view per case; each Level/Hashtable form and both stats forms
FOLD_CASES = {
    "level_expr": lambda: Level(
        1, key_expr="from_json(get_json_object(value, '$.ks'), 'array<bigint>')", key_type="long"
    ),
    "level_fn": lambda: Level(1, key_fn=_ks),
    "latest": lambda: Hashtable(1, key_expr="get_json_object(value, '$.k')", key_type="long"),
    "first": lambda: Hashtable(1, key_fn=_k, keep="first"),
    "grouped": lambda: GroupedStats(1, "get_json_object(value, '$.k')", field="v", key_type="long"),
    "search": lambda: Search(1),
    "bloom": lambda: Bloom(1, key_expr="get_json_object(value, '$.name')", expected_items=64),
    "stats": lambda: NativeStats(1, field="v"),
    "scaled": lambda: NativeStats(1, field="v", scale=4),
}
#: (backend, mapper): every backend, and each mapper kind on one of them
FOLD_LOGS = {
    "parquet-expr": (ParquetLog, ExprMapper("replace(value, 'Hello', 'Howdy')")),
    "offset-python": (OffsetLog, _double_k),
    "versioned-none": (VersionedLog, None),
}
KS = [None, 0, 1, 2, 3]
record = st.fixed_dictionaries(
    {
        "k": st.sampled_from(KS),
        # quarter units: every partial sum is exact, whatever the order
        "v": st.one_of(st.none(), st.integers(-40, 40).map(lambda i: i / 4)),
        # null, empty and multi-key arrays, with null and repeated keys
        "ks": st.one_of(st.none(), st.lists(st.sampled_from(KS), max_size=3)),
        "name": st.sampled_from([None, "a", "b"]),
        "text": st.sampled_from(["", "Hello world", "hello, HELLO!", "x-y z"]),
    }
)


def _feed(db, view, gt, lte, local):
    """One fold of (gt, lte] through the engine's feed, in the asked
    form: the bound patched below any batch forces the Spark scan."""
    forms = []
    fold = view.fold
    view.fold = lambda batch, upto: (forms.append(batch.isLocal()), fold(batch, upto))
    bound = engine.DRIVER_FOLD_ROWS if local else -1
    try:
        with mock.patch.object(engine, "DRIVER_FOLD_ROWS", bound):
            db._feed(view, gt, lte)
    finally:
        del view.fold
    assert forms == [local]


def _reads(db, name):
    """What a caller can see of a view: its point reads, its sketch,
    and its runs' rows as a multiset (one run once compacted)."""
    view = db._views[name]
    if isinstance(view, NativeStats):
        return view._s
    out = {}
    if isinstance(view, Bloom):
        out["sketch"] = bytes(view._sketch)
        out["gets"] = [(view.has(n), view.might_have(n)) for n in ("a", "b", "None", "zz")]
    elif not isinstance(view, Search):
        # a key_fn's None key is the string "None"
        strings = ("None",) if view.key_type == "string" else ()
        out["gets"] = [view.get(k) for k in (*KS[1:], 9, *strings)]
    rows = collections.Counter()
    for f in view._meta["files"]:
        t = pq.read_table(os.path.join(view._run_dir(), f))
        rows.update(tuple(r.values()) for r in t.to_pylist())
    out["rows"] = rows
    return out


@pytest.mark.parametrize("combo", list(FOLD_LOGS))
@settings(
    max_examples=1,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=st.lists(st.lists(record, min_size=1, max_size=12), min_size=2, max_size=3))
def test_driver_and_spark_folds_agree(spark, tmp_path_factory, combo, batches):
    backend, mapper = FOLD_LOGS[combo]
    db = Flume(backend(str(tmp_path_factory.mktemp("forms") / "log")), mapper=mapper, spark=spark)
    for side in "ab":
        for case, make in FOLD_CASES.items():
            db.use(f"{side}_{case}", make())
    for i, batch in enumerate(batches):
        gt = db.log.ready_since()
        lte = db.append(batch)
        # each batch folds once in each form, and the sets swap forms
        # batch by batch, so both hold runs of both writers
        a_local = i % 2 == 0
        for case in FOLD_CASES:
            _feed(db, db._views[f"a_{case}"], gt, lte, a_local)
            _feed(db, db._views[f"b_{case}"], gt, lte, not a_local)
    for case in FOLD_CASES:
        assert _reads(db, f"a_{case}") == _reads(db, f"b_{case}"), case
    for case in FOLD_CASES:
        a, b = db._views[f"a_{case}"], db._views[f"b_{case}"]
        if hasattr(a, "compact"):
            a.compact()
            b.compact()
            assert _reads(db, f"a_{case}")["rows"] == _reads(db, f"b_{case}")["rows"], case
            assert len(a._meta["files"]) <= 1
    db.close()


# ---------------------------------------------------------------------
# pure-codec properties (no Spark): random shapes/content/filters must
# round-trip bit-exactly — the invariant the golden fixtures can't
# cover exhaustively
# ---------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    ch=st.sampled_from([1, 3, 4]),
    filter_type=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_roundtrip_property(w, h, ch, filter_type, seed):
    import numpy as np

    from flumedb_spark.operators import mmcodec as mc

    rng = np.random.RandomState(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    img = rng.randint(0, 256, shape, dtype=np.uint8)
    dec = mc.decode_png(mc.encode_png(img, filter_type))
    flat = img if ch > 1 else img[:, :, None] if img.ndim == 2 else img
    assert dec.shape == (h, w, ch)
    assert (dec.reshape(-1) == flat.reshape(-1)).all()


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=16),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_ppm_roundtrip_property(w, h, seed):
    import numpy as np

    from flumedb_spark.operators import mmcodec as mc

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    assert (mc.decode_bmp(mc.encode_bmp(img)) == img).all()
    assert (mc.decode_ppm(mc.encode_ppm(img)) == img).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=2000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_roundtrip_property(n, rate, seed):
    import numpy as np

    from flumedb_spark.operators import mmcodec as mc

    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32768, n).astype(np.int16)
    dec, got_rate = mc.decode_wav(mc.encode_wav(s, rate))
    assert got_rate == rate and (dec == s).all()


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    dw=st.integers(min_value=1, max_value=20),
    dh=st.integers(min_value=1, max_value=20),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_resize_nn_floor_mapping_property(w, h, dw, dh, seed):
    import numpy as np

    from flumedb_spark.operators import mmcodec as mc

    rng = np.random.RandomState(seed)
    img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
    out = mc.resize_nn(img, dw, dh)
    assert out.shape == (dh, dw, 3)
    for y in range(dh):
        for x in range(dw):
            assert (out[y, x] == img[(y * h) // dh, (x * w) // dw]).all()


# ---------------------------------------------------------------------
# round-6: exact-substring dedup vs a brute-force python oracle
# ---------------------------------------------------------------------


def _brute_substring_spans(docs: dict[int, str], w: int) -> set[tuple[int, int, int]]:
    """Reference implementation, no hashing: for every doc, mark token
    positions whose w-window ALSO occurs in a smaller-id doc, then merge
    overlapping/adjacent covered ranges into maximal spans."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    wins: dict[tuple, int] = {}
    for d in sorted(toks):
        tk = toks[d]
        for i in range(len(tk) - w + 1):
            key = tuple(tk[i : i + w])
            wins.setdefault(key, d)
    out = set()
    for d in sorted(toks):
        tk = toks[d]
        dup_pos = [
            i for i in range(len(tk) - w + 1)
            if wins[tuple(tk[i : i + w])] < d
        ]
        spans = []
        for i in dup_pos:
            lo, hi = i + 1, i + w  # 1-based inclusive cover
            if spans and lo <= spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], max(spans[-1][1], hi))
            else:
                spans.append((lo, hi))
        out.update((d, a, b) for a, b in spans)
    return out


@given(
    data=st.lists(
        st.lists(
            st.sampled_from("abcdefg"), min_size=1, max_size=24
        ).map(lambda ws: " ".join(ws)),
        min_size=2,
        max_size=8,
    ),
    w=st.integers(min_value=2, max_value=5),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_substring_dup_spans_equals_bruteforce(spark, data, w):
    from flumedb_spark.operators.dedup import substring_dup_spans

    docs = {i + 1: t for i, t in enumerate(data)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in substring_dup_spans(df, window=w).collect()
    }
    assert got == _brute_substring_spans(docs, w)


# ---------------------------------------------------------------------
# Avro generic encode/decode round-trip (r6): random schema-conforming
# values through encode_avro_ocf -> avro_records must be identity.
# ---------------------------------------------------------------------

_avro_scalars = st.sampled_from(
    [("long", st.integers(min_value=-(2**62), max_value=2**62)),
     ("int", st.integers(min_value=-(2**31), max_value=2**31 - 1)),
     ("string", st.text(max_size=12)),
     ("boolean", st.booleans()),
     ("bytes", st.binary(max_size=12)),
     ("double", st.floats(allow_nan=False, allow_infinity=False))]
)


@given(fields=st.lists(_avro_scalars, min_size=1, max_size=5), data=st.data(),
       codec=st.sampled_from(["null", "deflate", "snappy"]),
       nullable_mask=st.lists(st.booleans(), min_size=5, max_size=5),
       n_rows=st.integers(min_value=0, max_value=9))
@settings(max_examples=60, deadline=None)
def test_avro_generic_roundtrip_property(fields, data, codec, nullable_mask, n_rows):
    """Any flat-or-nullable record schema round-trips exactly through
    the generic OCF encoder and the record decoder, on every codec,
    including an empty file and multi-block layouts."""
    from flumedb_spark.operators import archives as ar

    schema = {
        "type": "record",
        "name": "propr",
        "fields": [
            {"name": f"f{i}", "type": ["null", t] if nullable_mask[i % 5] else t}
            for i, (t, _) in enumerate(fields)
        ],
    }
    rows = []
    for _ in range(n_rows):
        row = {}
        for i, (t, strat) in enumerate(fields):
            if nullable_mask[i % 5] and data.draw(st.booleans()):
                row[f"f{i}"] = None
            else:
                row[f"f{i}"] = data.draw(strat)
        rows.append(row)
    payload = ar.encode_avro_ocf(schema, rows, codec=codec, block_records=3)
    assert ar.avro_records(payload) == rows
    meta = ar.avro_meta(payload)
    assert meta["n_records"] == len(rows) and meta["codec"] == codec
