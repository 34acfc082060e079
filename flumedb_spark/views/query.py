"""flumeview-query — the "functional query language" view
(`README.md:94`): declarative filter/map/sort/paging/reduce over the
log's JSON values.

Spark-first: the AST translates 1:1 onto the DataFrame DSL, so **index
selection and optimization are Catalyst's job** (SURVEY §2.B V3) —
filters push down to the Parquet scan, projections prune columns. No
interpreter loop exists; ``query()`` builds a plan.

AST (a JSON-friendly dialect of flumeview-query's map-filter-reduce):

    [
      {"$filter": {"type": "post", "likes": {"$gte": 10}, "tag": {"$in": [..]}}},
      {"$map": {"who": "author", "n": "likes"}},
      {"$sort": "n", "$reverse": True},
      {"$limit": 20},
    ]
    # or a terminal reduce:
    [ {"$filter": ...}, {"$reduce": {"total": {"$sum": "likes"},
                                     "n": {"$count": True},
                                     "by": "author"}} ]

Field paths address into the JSON value (dots for nesting). Declared
``fields`` types make predicates sargable.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .base import FlumeView

_CMP = {
    "$gt": lambda c, v: c > F.lit(v),
    "$gte": lambda c, v: c >= F.lit(v),
    "$lt": lambda c, v: c < F.lit(v),
    "$lte": lambda c, v: c <= F.lit(v),
    "$ne": lambda c, v: c != F.lit(v),
    "$eq": lambda c, v: c == F.lit(v),
    "$in": lambda c, v: c.isin(list(v)),
    "$prefix": lambda c, v: c.startswith(v),
}

_AGG = {
    "$sum": lambda c: F.sum(c),
    "$min": lambda c: F.min(c),
    "$max": lambda c: F.max(c),
    "$mean": lambda c: F.avg(c),
    "$count": lambda c: F.count(F.lit(1)),
}


class Query(FlumeView):
    """``Query(version, fields={'path': 'spark_type', ...})`` — stateless
    planner view: queries read the (mapped) log directly; Catalyst prunes
    and pushes down. ``fields`` declares the JSON projections and types.
    """

    METHODS = {"query": "async", "explain": "sync", "query_df": "source"}

    def __init__(self, version: Any, fields: dict[str, str]):
        super().__init__(version)
        self.fields = fields

    def fold(self, batch: DataFrame, upto: int) -> None:
        # stateless: nothing to materialize; watermark only (the gate
        # still guarantees the log read below sees the appended head)
        self.commit(upto)

    # ---- planning ------------------------------------------------------
    def _base(self) -> DataFrame:
        df = self._engine._mapped(self._engine.log.df(self.spark))
        cols = [F.col("seq")]
        for path, typ in self.fields.items():
            cols.append(
                F.get_json_object(F.col("value"), f"$.{path}").cast(typ).alias(path.replace(".", "_"))
            )
        return df.select(*cols)

    def _field(self, df_cols: list[str], path: str) -> Column:
        name = path.replace(".", "_")
        if name not in df_cols:
            raise KeyError(f"undeclared field: {path} (declare it in Query(fields=...))")
        return F.col(name)

    def plan(self, ast: list[dict]) -> DataFrame:
        df = self._base()
        for stage in ast:
            if "$filter" in stage:
                for path, cond in stage["$filter"].items():
                    col = self._field(df.columns, path)
                    if isinstance(cond, dict):
                        for op, v in cond.items():
                            if op not in _CMP:
                                raise ValueError(f"unknown operator {op}")
                            df = df.where(_CMP[op](col, v))
                    else:
                        df = df.where(col == F.lit(cond))
            elif "$map" in stage:
                df = df.select(
                    *[self._field(df.columns, src).alias(out) for out, src in stage["$map"].items()]
                )
            elif "$sort" in stage:
                col = self._field(df.columns, stage["$sort"])
                df = df.orderBy(col.desc() if stage.get("$reverse") else col.asc())
            elif "$limit" in stage:
                df = df.limit(int(stage["$limit"]))
            elif "$reduce" in stage:
                spec = dict(stage["$reduce"])
                by = spec.pop("by", None)
                aggs = []
                for out, agg in spec.items():
                    (op, src), = agg.items()
                    if op not in _AGG:
                        raise ValueError(f"unknown aggregate {op}")
                    col = (
                        self._field(df.columns, str(src))
                        if op != "$count"
                        else F.lit(1)
                    )
                    aggs.append(_AGG[op](col).alias(out))
                if by:
                    df = df.groupBy(self._field(df.columns, str(by))).agg(*aggs)
                else:
                    df = df.agg(*aggs)
            else:
                raise ValueError(f"unknown stage: {list(stage)}")
        return df

    def query_df(self, ast: list[dict]) -> DataFrame:
        return self.plan(ast)

    def query(self, ast: list[dict]) -> list[dict]:
        return [r.asDict() for r in self.plan(ast).collect()]

    def explain(self, ast: list[dict]) -> str:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.plan(ast).explain("formatted")
        return buf.getvalue()
