"""Query-path probe: per-query A/Bs, construct/execute splits and plan
captures, each under bench.py's serving state (``bench.serve_tables``:
AQE policy and post-shuffle width per SF, narrowed dims, cached tables).

Modes:
    ab      min-of-N per query, the DataFrame constructed inside the
            timer every pass (the bench's honesty rule). ``--width``
            takes a comma list; the widths alternate per round, so a
            host stall lands on every width alike. ``--noop`` consumes
            with ``write.format("noop")`` instead of ``count()`` (checks
            that count()'s column pruning hides no work). ``--batched``
            times the whole set per pass through
            ``bench._batched_interleaved`` instead: one job group,
            paired with the same DuckDB sweep, as the bench reports it.
    split   construct (parse/analyze + eager construction jobs) vs
            execute (``count()``) per query; ``--cold`` reports the
            first pass apart from the best of the rest.
    plans   ``explain("formatted")`` per query into
            ``$SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt`` (default
            ``plans/r11``) plus one Exchange/join/Python summary line.

Usage:
    python tools/probe.py ab [--sf-dir DIR] [--passes N] [--width W[,W...]]
        [--noop | --batched] [--section headline|tpch|extras] [query ...]
    python tools/probe.py split [--sf-dir DIR] [--passes N] [--width W]
        [--cold] [--section S] [query ...]
    python tools/probe.py plans [--sf-dir DIR] [--section S] tag [query ...]

Queries default to the ``--section`` set. ``ab`` and ``split`` warm
each query once at sf0.001 before the serving state is set, as the
bench's load phase does. Width defaults to the bench's for the SF: the
sequential width, or 1 for ``--batched`` at sf<=0.2. Cores come from
``$SPARK_GRAFT_CPUS``, else the host's count.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402

WARM_SF_DIR = "/root/testdata/sf0.001"
SECTIONS = {"headline": bench.HEADLINE, "tpch": bench.TPCH, "extras": bench.EXTRAS}


def _parse(argv):
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    common.add_argument("--section", choices=sorted(SECTIONS))
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    sub = ap.add_subparsers(dest="mode", required=True)
    ab = sub.add_parser("ab", parents=[common])
    ab.add_argument("--noop", action="store_true")
    ab.add_argument("--batched", action="store_true")
    split = sub.add_parser("split", parents=[common])
    split.add_argument("--cold", action="store_true")
    for p in (ab, split):
        p.add_argument("--passes", type=int, default=3)
        p.add_argument("--width", help="post-shuffle width (ab: W[,W...])")
    sub.add_parser("plans", parents=[common]).add_argument("tag")
    for p in sub.choices.values():
        p.add_argument("queries", nargs="*")
    args = ap.parse_args(argv)
    if args.mode == "ab" and args.noop and args.batched:
        ap.error("--noop times per-query passes; --batched times the set")
    if not (args.queries or args.section):
        ap.error("name the queries or a --section")
    return args


def _serving(sf: float, cpus: int, batched: bool) -> tuple[str, str]:
    """bench.py's AQE flag and post-shuffle width for ``sf``."""
    if sf <= 0.2:
        return "false", "1" if batched else "8"
    return "true", "8" if sf <= 2 else str(min(cpus, 32))


def ab(spark, qs, names, widths, args) -> None:
    best: dict[tuple[str, str], float] = {}
    for r in range(args.passes):
        for w in widths:
            spark.conf.set("spark.sql.shuffle.partitions", w)
            for name in names:
                if r == 0:  # warm this width's plan shape, untimed
                    _consume(qs[name](spark, args.sf_dir), args.noop)
                t0 = time.perf_counter()
                _consume(qs[name](spark, args.sf_dir), args.noop)
                dt = time.perf_counter() - t0
                best[name, w] = min(best.get((name, w), float("inf")), dt)
    for name in names:
        cols = " ".join(f"w{w}={best[name, w]:.4f}s" for w in widths)
        print(f"AB {name}: {cols} (min of {args.passes})", flush=True)


def _consume(df, noop: bool) -> None:
    if noop:
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()


def ab_set(spark, qs, names, widths, args, cpus: int) -> int:
    con, usable = bench._duck_connect(args.sf_dir, cpus, names)
    names = [n for n in names if n in usable] if con is not None else names
    runs: dict[str, dict[str, list]] = {w: {} for w in widths}
    for _ in range(args.passes):
        for w in widths:
            spark.conf.set("spark.sql.shuffle.partitions", w)
            res = bench._batched_interleaved(
                lambda name: qs[name](spark, args.sf_dir), names, con, passes=1
            )
            if not res:
                return 1
            for key in ("spark", "duckdb", "duckdb_concurrent", "ratio"):
                runs[w].setdefault(key, []).extend(res[key])
    for w in widths:
        ratio = runs[w]["ratio"]
        print(
            f"AB batched w{w}: {len(names)} queries spark={runs[w]['spark']} "
            f"duckdb={runs[w]['duckdb']} duckdb_conc={runs[w]['duckdb_concurrent']} "
            f"ratio_median={round(bench._median(ratio), 3) if ratio else None}",
            flush=True,
        )
    return 0


def split(spark, qs, names, args) -> None:
    for name in names:
        cons: list[float] = []
        ex: list[float] = []
        for _ in range(args.passes):
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf_dir)
            t1 = time.perf_counter()
            df.count()
            cons.append(t1 - t0)
            ex.append(time.perf_counter() - t1)
        if args.cold:
            rest_c = min(cons[1:]) if len(cons) > 1 else float("nan")
            rest_e = min(ex[1:]) if len(ex) > 1 else float("nan")
            print(
                f"{name}: first construct={cons[0]:.3f} exec={ex[0]:.3f} | "
                f"warm construct={rest_c:.3f} exec={rest_e:.3f}",
                flush=True,
            )
        else:
            print(
                f"{name}: construct={min(cons):.3f} exec={min(ex):.3f} "
                f"(all c={['%.3f' % c for c in cons]} e={['%.3f' % e for e in ex]})",
                flush=True,
            )


JOINS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "CartesianProduct", "BroadcastNestedLoopJoin",
)
PYTHON = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")


def plans(spark, qs, names, args) -> None:
    out_dir = os.environ.get(
        "SPARK_GRAFT_PLANS_DIR", os.path.join(_REPO, "plans", "r11")
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                qs[name](spark, args.sf_dir).explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # capture the failure instead of dying
            text = f"ERROR constructing/explaining {name}: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(text)
        joins = [j for j in JOINS if j in text]
        py = [p for p in PYTHON if p in text]
        print(
            f"{name}: Exchange x{text.count('Exchange')} "
            f"joins={joins or '-'} python={py or '-'}",
            flush=True,
        )


def main(argv=None) -> int:
    args = _parse(argv)
    names = args.queries or SECTIONS[args.section]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    batched = args.mode == "ab" and args.batched
    aqe, width = _serving(bench.sf_of(args.sf_dir), cpus, batched)
    widths = (getattr(args, "width", None) or width).split(",")

    from flumedb_spark.session import get_spark

    import __spark_entry__ as entry

    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark(f"probe_{args.mode}", cpus=cpus)
    if args.mode != "plans":
        for name in names:
            try:
                qs[name](spark, WARM_SF_DIR).count()
            except Exception as exc:
                print(f"# warm {name} failed: {exc}", file=sys.stderr)
    bench.serve_tables(spark, args.sf_dir, aqe, widths[0])
    if args.mode == "plans":
        plans(spark, qs, names, args)
    elif args.mode == "split":
        split(spark, qs, names, args)
    elif batched:
        return ab_set(spark, qs, names, widths, args, cpus)
    else:
        ab(spark, qs, names, widths, args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
