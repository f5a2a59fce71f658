"""Generative differential testing — the reference's dual-engine
methodology (QueryOrchestration.cs:371-401) taken generative: random
scan→filter→group→aggregate specs are compiled BOTH to a Spark DataFrame
plan and to DuckDB SQL, executed on the same parquet, and compared by the
shared order-insensitive fingerprint.

The spec space deliberately exercises the cross-engine trap surface the
hand-written oracles encode one case at a time: integer-sum HUGEINT
widening (always CAST), float aggregate rounding, NULL group keys,
three-valued filter logic, and multi-key grouping.

Usage:
  python tools/fuzz_differential.py [sf_dir] [n_specs] [seed]
Exit 1 on any mismatch, printing the reproducing spec.
"""

from __future__ import annotations

import random
import sys
from dataclasses import dataclass
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (table, columns usable as filters/keys/measures)
TABLE_COLS = {
    "orders": {
        "keys": ["o_orderstatus", "o_orderpriority"],
        "nums": ["o_totalprice", "o_custkey"],
        "ints": ["o_orderkey", "o_custkey"],
        "uid": ("o_orderkey",),
    },
    "events": {
        "keys": ["event_type"],
        "nums": ["value", "user_id"],
        "ints": ["event_id", "user_id"],
        "uid": ("event_id",),
    },
    "lineitem": {
        "keys": ["l_returnflag", "l_linestatus"],
        "nums": ["l_quantity", "l_extendedprice", "l_discount"],
        "ints": ["l_orderkey", "l_linenumber"],
        # the synthetic lineitem has NO unique key — (l_orderkey,
        # l_linenumber) repeats (verified: 60k rows, 45.8k distinct pairs),
        # so no total window order exists and lineitem is excluded from
        # window specs (uid None); the fuzzer found this itself via a
        # cross-engine rank divergence
        "uid": None,
    },
}

OPS = ["<", "<=", ">", ">=", "=", "<>"]


# optional equi-join per fact table: (dim table, fact key, dim key, dim attr)
JOINS = {
    "orders": ("customer", "o_custkey", "c_custkey", "c_mktsegment"),
    "lineitem": ("orders", "l_orderkey", "o_orderkey", "o_orderstatus"),
}

# numeric dim column used to filter the dim side BEFORE an outer join, so
# some fact rows null-extend — the outer-join trap surface
DIM_FILTER = {"customer": "c_acctbal", "orders": "o_totalprice"}


@dataclass(frozen=True)
class Spec:
    table: str
    filters: tuple[tuple[str, str, float], ...]  # (col, op, literal)
    keys: tuple[str, ...]
    aggs: tuple[tuple[str, str], ...]  # (fn, col)
    join: bool = False  # equi-join the table's dim and group on its attr too
    having: int | None = None  # post-agg filter: count(*) > having

    def describe(self) -> str:
        f = " AND ".join(f"{c} {o} {v}" for c, o, v in self.filters) or "TRUE"
        a = ", ".join(f"{fn}({c})" for fn, c in self.aggs)
        j = f" JOIN {JOINS[self.table][0]}" if self.join else ""
        h = f" HAVING n>{self.having}" if self.having is not None else ""
        return f"{self.table}{j} WHERE {f} GROUP BY {list(self.keys)} AGG {a}{h}"


@dataclass(frozen=True)
class WindowSpec:
    """scan → filter → window (row_number + lag + running sum) → top-N rows
    per partition. Order is tie-broken on the unique id column so ranks are
    deterministic on both engines."""

    table: str
    filters: tuple[tuple[str, str, float], ...]
    part_key: str
    order_col: tuple[str, ...]  # unique key — total order
    measure: str
    top_n: int

    def describe(self) -> str:
        f = " AND ".join(f"{c} {o} {v}" for c, o, v in self.filters) or "TRUE"
        return (
            f"{self.table} WHERE {f} WINDOW part={self.part_key} "
            f"order={self.order_col} measure={self.measure} top{self.top_n}"
        )


def gen_window_spec(rng: random.Random) -> WindowSpec:
    table = rng.choice([t for t in TABLE_COLS if TABLE_COLS[t]["uid"]])
    cols = TABLE_COLS[table]
    filters = tuple(
        (rng.choice(cols["nums"] + cols["ints"]), rng.choice(OPS), rng.choice([1, 10, 100, 1000]))
        for _ in range(rng.randint(0, 1))
    )
    return WindowSpec(
        table,
        filters,
        part_key=rng.choice(cols["keys"]),
        order_col=cols["uid"],
        measure=rng.choice(cols["nums"]),
        top_n=rng.choice([1, 3, 7]),
    )


def build_window_spark(spec: WindowSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from parquet_storage_query_spark.catalog import load

    df = load(spark, sf_dir, spec.table)
    for c, op, v in spec.filters:
        col = F.col(c)
        cond = {
            "<": col < v, "<=": col <= v, ">": col > v,
            ">=": col >= v, "=": col == v, "<>": col != v,
        }[op]
        df = df.filter(cond)
    w = W.partitionBy(spec.part_key).orderBy(*spec.order_col)
    d = F.col(spec.measure).cast("double")
    return (
        df.select(
            spec.part_key,
            F.col(spec.order_col[0]).alias("oid"),
            F.row_number().over(w).alias("rn"),
            F.round(F.lag(d).over(w), 4).alias("prev_m"),
            F.round(
                F.sum(d).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
            ).alias("running_m"),
        )
        .filter(F.col("rn") <= spec.top_n)
    )


def build_window_sql(spec: WindowSpec) -> str:
    where = " AND ".join(f"{c} {op} {v}" for c, op, v in spec.filters)
    d = f"CAST({spec.measure} AS DOUBLE)"
    order = ", ".join(spec.order_col)
    inner = (
        f"SELECT {spec.part_key}, {spec.order_col[0]} AS oid, "
        f"row_number() OVER w AS rn, "
        f"round(lag({d}) OVER w, 4) AS prev_m, "
        f"round(sum({d}) OVER (PARTITION BY {spec.part_key} ORDER BY {order} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_m "
        f"FROM {spec.table}"
    )
    if where:
        inner += f" WHERE {where}"
    inner += f" WINDOW w AS (PARTITION BY {spec.part_key} ORDER BY {order})"
    return f"SELECT * FROM ({inner}) WHERE rn <= {spec.top_n}"


@dataclass(frozen=True)
class SetOpSpec:
    """(filtered key set) UNION/INTERSECT/EXCEPT (filtered key set) over the
    same table — distinct set semantics on both engines."""

    table: str
    key: str
    op: str  # union | intersect | except
    lit_a: float
    lit_b: float
    filter_col: str

    def describe(self) -> str:
        return (
            f"{self.table}.{self.key}: ({self.filter_col} > {self.lit_a}) "
            f"{self.op} ({self.filter_col} < {self.lit_b})"
        )


def gen_setop_spec(rng: random.Random) -> SetOpSpec:
    table = rng.choice(list(TABLE_COLS))
    cols = TABLE_COLS[table]
    return SetOpSpec(
        table,
        key=rng.choice(cols["keys"] + cols["ints"]),
        op=rng.choice(["union", "intersect", "except"]),
        lit_a=rng.choice([1, 10, 100, 1000]),
        lit_b=rng.choice([50, 500, 5000, 100000]),
        filter_col=rng.choice(cols["nums"]),
    )


def build_setop_spark(spec: SetOpSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_storage_query_spark.catalog import load

    df = load(spark, sf_dir, spec.table)
    a = df.filter(F.col(spec.filter_col) > spec.lit_a).select(spec.key)
    b = df.filter(F.col(spec.filter_col) < spec.lit_b).select(spec.key)
    if spec.op == "union":
        return a.union(b).distinct()
    if spec.op == "intersect":
        return a.intersect(b)
    return a.subtract(b)  # EXCEPT DISTINCT, matching SQL EXCEPT


def build_setop_sql(spec: SetOpSpec) -> str:
    a = f"SELECT {spec.key} FROM {spec.table} WHERE {spec.filter_col} > {spec.lit_a}"
    b = f"SELECT {spec.key} FROM {spec.table} WHERE {spec.filter_col} < {spec.lit_b}"
    op = {"union": "UNION", "intersect": "INTERSECT", "except": "EXCEPT"}[spec.op]
    return f"({a}) {op} ({b})"


@dataclass(frozen=True)
class OuterJoinSpec:
    """fact LEFT JOIN (dim WHERE dimcol > lit): null-extended rows, a
    NULLABLE dim attr as a group key, and the count(*) vs count(join_key)
    distinction — the three-valued-logic surface inner-join specs miss."""

    table: str
    dim_lit: float
    fact_key: str
    measure: str

    def describe(self) -> str:
        dim, _fk, _dk, attr = JOINS[self.table]
        return (
            f"{self.table} LEFT JOIN ({dim} WHERE {DIM_FILTER[dim]} > {self.dim_lit}) "
            f"GROUP BY {self.fact_key}, {attr}"
        )


def gen_outer_spec(rng: random.Random) -> OuterJoinSpec:
    table = rng.choice(list(JOINS))
    cols = TABLE_COLS[table]
    return OuterJoinSpec(
        table,
        dim_lit=rng.choice([0, 10, 1000, 5000, 100000, 500000]),
        fact_key=rng.choice(cols["keys"]),
        measure=rng.choice(cols["nums"]),
    )


def build_outer_spark(spec: OuterJoinSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_storage_query_spark.catalog import load

    dim, fk, dk, attr = JOINS[spec.table]
    d = load(spark, sf_dir, dim).filter(F.col(DIM_FILTER[dim]) > spec.dim_lit)
    fact = load(spark, sf_dir, spec.table)
    joined = fact.join(F.broadcast(d), F.col(fk) == F.col(dk), "left")
    return joined.groupBy(spec.fact_key, attr).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col(dk)).alias("n_matched"),  # NULLs don't count
        F.round(F.sum(F.col(spec.measure).cast("double")), 2).alias("m_sum"),
    )


def build_outer_sql(spec: OuterJoinSpec) -> str:
    dim, fk, dk, attr = JOINS[spec.table]
    return (
        f"SELECT {spec.fact_key}, {attr}, count(*) AS n_rows, "
        f"count({dk}) AS n_matched, "
        f"round(sum(CAST({spec.measure} AS DOUBLE)), 2) AS m_sum "
        f"FROM {spec.table} LEFT JOIN "
        f"(SELECT * FROM {dim} WHERE {DIM_FILTER[dim]} > {spec.dim_lit}) d "
        f"ON {fk} = {dk} GROUP BY 1, 2"
    )


@dataclass(frozen=True)
class ExprSpec:
    """scan → filter → project random SCALAR expressions keyed by the
    unique id — the expression-semantics trap surface (null propagation,
    type coercion, string slicing, timestamp field extraction) that the
    aggregate specs never touch: every row's computed values must agree,
    not just the aggregated summaries."""

    table: str
    filters: tuple[tuple[str, str, float], ...]
    exprs: tuple[tuple[str, str, str, float], ...]  # (alias, kind, col/key, lit)

    def describe(self) -> str:
        f = " AND ".join(f"{c} {o} {v}" for c, o, v in self.filters) or "TRUE"
        e = ", ".join(f"{k}({c})" for _a, k, c, _l in self.exprs)
        return f"{self.table} WHERE {f} PROJECT {e}"


# scalar-expression grammar: each kind builds BOTH engine forms from the
# same (col/key, lit) params. Deliberately excluded cross-engine
# divergences (the first fuzz run FOUND two of these itself): dayofweek
# (Spark 1-7 Sunday-first vs DuckDB dow 0-6); round() at a digit where
# the true value is an exactly-representable tie (Spark HALF_UP vs
# DuckDB's C-library rounding — so multiplies use INTEGER literals and
# round at 4, and division denominators are 3..7, whose quotients never
# land a representable tie at the 4th decimal; a power-of-two
# denominator like 32 yields 0.03125 → 0.0313 vs 0.0312); integer '%'
# on negatives.
_EXPR_KINDS = ("add", "mul_lit", "mod", "div", "case", "strcat", "upper_sub",
               "len", "greatest", "abs_diff", "coalesce_null")


def gen_expr_spec(rng: random.Random) -> ExprSpec:
    table = rng.choice([t for t in TABLE_COLS if TABLE_COLS[t]["uid"]])
    cols = TABLE_COLS[table]
    filters = tuple(
        (rng.choice(cols["nums"] + cols["ints"]), rng.choice(OPS),
         rng.choice([10, 100, 1000, 50000]))
        for _ in range(rng.randint(0, 1))
    )
    kinds = rng.sample(_EXPR_KINDS, rng.randint(2, 5))
    exprs = []
    for i, kind in enumerate(kinds):
        if kind in ("strcat", "upper_sub", "len"):
            c = rng.choice(cols["keys"])
        elif kind in ("mod", "coalesce_null"):
            c = rng.choice(cols["ints"])
        else:
            c = rng.choice(cols["nums"])
        exprs.append((f"e{i}", kind, c, float(rng.choice([1.5, 2.5, 7, 40, 100]))))
    return ExprSpec(table, filters, tuple(exprs))


def build_expr_spark(spec: ExprSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_storage_query_spark.catalog import load

    cols = TABLE_COLS[spec.table]
    other = {c: cols["nums"][(cols["nums"].index(c) + 1) % len(cols["nums"])]
             for c in cols["nums"]}
    df = load(spark, sf_dir, spec.table)
    for c, op, v in spec.filters:
        col = F.col(c)
        cond = {
            "<": col < v, "<=": col <= v, ">": col > v,
            ">=": col >= v, "=": col == v, "<>": col != v,
        }[op]
        df = df.filter(cond)
    out = [F.col(cols["uid"][0]).alias("uid")]
    for alias, kind, c, lit in spec.exprs:
        d = F.col(c).cast("double")
        if kind == "add":
            e = F.round(d + F.col(other[c]).cast("double"), 2)
        elif kind == "mul_lit":
            e = F.round(d * int(lit), 4)
        elif kind == "mod":
            e = F.col(c) % int(lit)
        elif kind == "div":
            e = F.round(d / (F.col(cols["ints"][0]) % 5 + 3), 4)
        elif kind == "case":
            e = F.when(d > lit, F.lit("hi")).otherwise(F.lit("lo"))
        elif kind == "strcat":
            e = F.concat(F.col(c), F.lit("_"), F.col(cols["ints"][0]).cast("string"))
        elif kind == "upper_sub":
            e = F.upper(F.substring(F.col(c), 1, 3))
        elif kind == "len":
            e = F.length(F.col(c))
        elif kind == "greatest":
            e = F.round(F.greatest(d, F.col(other[c]).cast("double")), 2)
        elif kind == "abs_diff":
            e = F.round(F.abs(d - F.col(other[c]).cast("double")), 2)
        else:  # coalesce_null
            e = F.coalesce(F.nullif(F.col(c) % int(lit), F.lit(0)), F.lit(-1))
        out.append(e.alias(alias))
    return df.select(*out)


def build_expr_sql(spec: ExprSpec) -> str:
    cols = TABLE_COLS[spec.table]
    other = {c: cols["nums"][(cols["nums"].index(c) + 1) % len(cols["nums"])]
             for c in cols["nums"]}
    where = " AND ".join(f"{c} {op} {v}" for c, op, v in spec.filters)
    parts = [f"{cols['uid'][0]} AS uid"]
    for alias, kind, c, lit in spec.exprs:
        d = f"CAST({c} AS DOUBLE)"
        sql = {
            "add": f"round({d} + CAST({other.get(c, c)} AS DOUBLE), 2)",
            "mul_lit": f"round({d} * {int(lit)}, 4)",
            "mod": f"{c} % {int(lit)}",
            "div": f"round({d} / ({cols['ints'][0]} % 5 + 3), 4)",
            "case": f"CASE WHEN {d} > {lit} THEN 'hi' ELSE 'lo' END",
            "strcat": f"concat({c}, '_', CAST({cols['ints'][0]} AS VARCHAR))",
            "upper_sub": f"upper(substr({c}, 1, 3))",
            "len": f"length({c})",
            "greatest": f"round(greatest({d}, CAST({other.get(c, c)} AS DOUBLE)), 2)",
            "abs_diff": f"round(abs({d} - CAST({other.get(c, c)} AS DOUBLE)), 2)",
            "coalesce_null": f"coalesce(nullif({c} % {int(lit)}, 0), -1)",
        }[kind]
        parts.append(f"{sql} AS {alias}")
    q = f"SELECT {', '.join(parts)} FROM {spec.table}"
    if where:
        q += f" WHERE {where}"
    return q


@dataclass(frozen=True)
class ArraySpec:
    """scan → split → array-pipeline → scalar terminals over `documents` —
    the higher-order-function surface (split/slice/filter/transform/
    distinct/fold) every text/dedup operator is built from. Stages run in
    a canonical order; each stage is independently included. Known
    cross-engine traps encoded by construction: element access is F.get
    (NULL out-of-bounds, matching DuckDB's l[i]) not ANSI element_at;
    distinct is always paired with sort (list_distinct does not preserve
    first-occurrence order); the md5 fold guards the empty list (DuckDB
    list_reduce raises on [], Spark aggregate returns the init; DuckDB
    array_to_string([]) is NULL — string_agg semantics — where Spark
    array_join([]) is '', so the SQL side coalesces. The last one was
    FOUND by this grammar's first pytest run, not anticipated)."""

    slice_: tuple[int, int] | None  # (pos from 1, length)
    filter_len: int | None
    map_kind: str | None  # 'upper' | 'sub'
    distinct_sort: bool
    hash_mod: int | None  # final stage: tokens → md5 buckets

    def describe(self) -> str:
        stages = []
        if self.slice_:
            stages.append(f"slice{self.slice_}")
        if self.filter_len:
            stages.append(f"len>={self.filter_len}")
        if self.map_kind:
            stages.append(f"map_{self.map_kind}")
        if self.distinct_sort:
            stages.append("distinct_sort")
        if self.hash_mod:
            stages.append(f"md5%{self.hash_mod}")
        return "documents split -> " + " -> ".join(stages or ["id"])


def gen_array_spec(rng: random.Random) -> ArraySpec:
    return ArraySpec(
        slice_=(rng.randint(1, 3), rng.randint(2, 30)) if rng.random() < 0.6 else None,
        filter_len=rng.randint(2, 5) if rng.random() < 0.6 else None,
        map_kind=rng.choice(["upper", "sub", None]),
        distinct_sort=rng.random() < 0.5,
        hash_mod=rng.choice([7, 16, 63]) if rng.random() < 0.5 else None,
    )


def build_array_spark(spec: ArraySpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_storage_query_spark.catalog import load

    a = F.split(F.trim(F.col("text")), " ")
    if spec.slice_:
        a = F.slice(a, spec.slice_[0], spec.slice_[1])
    if spec.filter_len:
        a = F.filter(a, lambda w: F.length(w) >= spec.filter_len)
    if spec.map_kind == "upper":
        a = F.transform(a, F.upper)
    elif spec.map_kind == "sub":
        a = F.transform(a, lambda w: F.substring(w, 1, 3))
    if spec.distinct_sort:
        a = F.array_sort(F.array_distinct(a))
    out = [F.col("doc_id").alias("uid"), F.size(a).alias("n")]
    if spec.hash_mod:
        h = F.transform(
            a,
            lambda w: F.conv(F.substring(F.md5(w.cast("binary")), 1, 8), 16, 10)
            .cast("long")
            % spec.hash_mod,
        )
        out.append(F.aggregate(h, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("hsum"))
    else:
        out.append(F.get(a, 0).alias("first_tok"))
        out.append(F.array_join(F.slice(a, 1, 5), "|").alias("joined"))
    return load(spark, sf_dir, "documents").select(*out)


def build_array_sql(spec: ArraySpec) -> str:
    a = "string_split(trim(text), ' ')"
    if spec.slice_:
        pos, ln = spec.slice_
        a = f"({a})[{pos} : {pos + ln - 1}]"
    if spec.filter_len:
        a = f"list_filter({a}, w -> length(w) >= {spec.filter_len})"
    if spec.map_kind == "upper":
        a = f"list_transform({a}, w -> upper(w))"
    elif spec.map_kind == "sub":
        a = f"list_transform({a}, w -> substr(w, 1, 3))"
    if spec.distinct_sort:
        a = f"list_sort(list_distinct({a}))"
    parts = [
        "doc_id AS uid",
        f"CAST(len({a}) AS INTEGER) AS n",
    ]
    if spec.hash_mod:
        h = (
            f"list_transform({a}, w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)"
            f" % {spec.hash_mod})"
        )
        parts.append(
            f"CASE WHEN len({a}) = 0 THEN 0 ELSE list_reduce({h}, (acc, x) -> acc + x) END"
            " AS hsum"
        )
    else:
        parts.append(f"({a})[1] AS first_tok")
        parts.append(f"coalesce(array_to_string(({a})[1 : 5], '|'), '') AS joined")
    return f"SELECT {', '.join(parts)} FROM documents"


@dataclass(frozen=True)
class DatetimeSpec:
    """scan events → per-row TEMPORAL derivations — the date/time function
    surface (trunc, extract, format, arithmetic, epoch). Classic
    cross-engine divergence territory, encoded around the known traps:
    dayofweek is EXCLUDED (Spark 1-7 Sunday-first vs DuckDB dow 0-6),
    sub-second extraction is EXCLUDED (the corpus carries TIMESTAMP(NANOS);
    Spark reads it floor-truncated to µs while DuckDB keeps ns — identical
    at minute grain and above, divergent below), week-of-year is EXCLUDED
    (ISO week conventions differ). Timestamps are emitted as FORMATTED
    STRINGS or integers, never raw timestamp cells, so engine-side
    precision never reaches the fingerprint."""

    filters: tuple[tuple[str, int], ...]  # (op, event_id bound)
    kinds: tuple[str, ...]

    def describe(self) -> str:
        f = " AND ".join(f"event_id {o} {v}" for o, v in self.filters) or "TRUE"
        return f"events WHERE {f} TEMPORAL {','.join(self.kinds)}"


_DT_KINDS = ("hour", "minute", "month", "year", "day_str", "trunc_hour_str",
             "epoch_s", "days_from_lit", "add_hours_hour")


def gen_datetime_spec(rng: random.Random) -> DatetimeSpec:
    filters = tuple(
        (rng.choice(["<", ">="]), rng.choice([1000, 10000, 50000]))
        for _ in range(rng.randint(0, 1))
    )
    kinds = tuple(rng.sample(_DT_KINDS, rng.randint(2, 5)))
    return DatetimeSpec(filters, kinds)


def build_datetime_spark(spec: DatetimeSpec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_storage_query_spark.catalog import load

    df = load(spark, sf_dir, "events")
    for op, v in spec.filters:
        df = df.filter(F.col("event_id") < v if op == "<" else F.col("event_id") >= v)
    ts = F.col("ts")
    out = [F.col("event_id").alias("uid")]
    for i, kind in enumerate(spec.kinds):
        e = {
            "hour": F.hour(ts),
            "minute": F.minute(ts),
            "month": F.month(ts),
            "year": F.year(ts),
            "day_str": F.date_format(ts, "yyyy-MM-dd"),
            "trunc_hour_str": F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH"),
            "epoch_s": F.expr("unix_micros(ts) DIV 1000000"),
            "days_from_lit": F.datediff(F.to_date(ts), F.lit("2024-01-01").cast("date")),
            "add_hours_hour": F.hour(ts + F.expr("INTERVAL 5 HOURS")),
        }[kind]
        out.append(e.alias(f"d{i}"))
    return df.select(*out)


def build_datetime_sql(spec: DatetimeSpec) -> str:
    where = " AND ".join(f"event_id {op} {v}" for op, v in spec.filters)
    parts = ["event_id AS uid"]
    for i, kind in enumerate(spec.kinds):
        sql = {
            "hour": "CAST(hour(ts) AS INT)",
            "minute": "CAST(minute(ts) AS INT)",
            "month": "CAST(month(ts) AS INT)",
            "year": "CAST(year(ts) AS INT)",
            "day_str": "strftime(CAST(ts AS DATE), '%Y-%m-%d')",
            "trunc_hour_str": "strftime(date_trunc('hour', ts), '%Y-%m-%d %H')",
            "epoch_s": "epoch_us(ts) // 1000000",
            "days_from_lit": "CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT)",
            "add_hours_hour": "CAST(hour(ts + INTERVAL 5 HOUR) AS INT)",
        }[kind]
        parts.append(f"{sql} AS d{i}")
    q = f"SELECT {', '.join(parts)} FROM events"
    if where:
        q += f" WHERE {where}"
    return q


def gen_spec(rng: random.Random) -> Spec:
    table = rng.choice(list(TABLE_COLS))
    cols = TABLE_COLS[table]
    filters = tuple(
        (rng.choice(cols["nums"] + cols["ints"]), rng.choice(OPS), rng.choice([0, 1, 3, 10, 100, 1000, 50000]))
        for _ in range(rng.randint(0, 2))
    )
    keys = tuple(rng.sample(cols["keys"], rng.randint(0, len(cols["keys"]))))
    n_aggs = rng.randint(1, 3)
    aggs = []
    for _ in range(n_aggs):
        fn = rng.choice(["count", "sum_int", "sum_num", "min_num", "max_num", "avg_num"])
        col = rng.choice(cols["ints"] if fn == "sum_int" else cols["nums"])
        aggs.append((fn, col))
    join = table in JOINS and rng.random() < 0.4
    if join:
        keys = keys + (JOINS[table][3],)
    having = rng.randint(0, 50) if (keys and rng.random() < 0.3) else None
    return Spec(table, filters, keys, tuple(dict.fromkeys(aggs)), join, having)


def build_spark(spec: Spec, spark: SparkSession, sf_dir: str) -> DataFrame:
    from parquet_storage_query_spark.catalog import load

    df = load(spark, sf_dir, spec.table)
    if spec.join:
        dim, fk, dk, _attr = JOINS[spec.table]
        df = df.join(F.broadcast(load(spark, sf_dir, dim)), F.col(fk) == F.col(dk))
    for c, op, v in spec.filters:
        col = F.col(c)
        cond = {
            "<": col < v, "<=": col <= v, ">": col > v,
            ">=": col >= v, "=": col == v, "<>": col != v,
        }[op]
        df = df.filter(cond)
    exprs = []
    for i, (fn, c) in enumerate(spec.aggs):
        alias = f"a{i}"
        # numeric measures are cast to DOUBLE on BOTH engines before the
        # aggregate: Spark's round() preserves integral types while DuckDB
        # widens (round(BIGINT) → DOUBLE, sum(INT) → HUGEINT), so mixed-type
        # measures only agree under an explicit common type — the exact trap
        # class this fuzzer exists to police (first run caught it at 8/50)
        d = F.col(c).cast("double")
        if fn == "count":
            exprs.append(F.count(F.lit(1)).alias(alias))
        elif fn == "sum_int":
            exprs.append(F.sum(c).cast("long").alias(alias))
        elif fn == "sum_num":
            exprs.append(F.round(F.sum(d), 2).alias(alias))
        elif fn == "min_num":
            exprs.append(F.round(F.min(d), 4).alias(alias))
        elif fn == "max_num":
            exprs.append(F.round(F.max(d), 4).alias(alias))
        else:
            # avg as exact integer floor-milli units (sum of 2-decimal
            # cents ×10, integer-divided by count) — run 20260814 found
            # round(avg(double), 4) landing on a representable half-tie
            # (53.347249999999995 → Spark HALF_UP 53.3472 vs DuckDB
            # scaled-double rounding 53.3473), the THIRD member of the
            # decimal-tie class this fuzzer has caught; integer division
            # of identical int64s cannot tie
            exprs.append(
                F.expr(
                    f"(sum(CAST(round(CAST({c} AS DOUBLE) * 100) AS BIGINT)) * 10)"
                    " DIV count(*)"
                ).alias(alias)
            )
    grouped = df.groupBy(*spec.keys) if spec.keys else df.groupBy()
    out = grouped.agg(*exprs, F.count(F.lit(1)).alias("_n")) if spec.having is not None else grouped.agg(*exprs)
    if spec.having is not None:
        out = out.filter(F.col("_n") > spec.having).drop("_n")
    return out


def build_sql(spec: Spec) -> str:
    where = " AND ".join(f"{c} {op} {v}" for c, op, v in spec.filters)
    aggs = []
    for i, (fn, c) in enumerate(spec.aggs):
        alias = f"a{i}"
        d = f"CAST({c} AS DOUBLE)"
        sql = {
            "count": "count(*)",
            # integer sums widen to HUGEINT in DuckDB — always CAST (the
            # prep_binpack_plan lesson, VERDICT r1)
            "sum_int": f"CAST(sum({c}) AS BIGINT)",
            "sum_num": f"round(sum({d}), 2)",
            "min_num": f"round(min({d}), 4)",
            "max_num": f"round(max({d}), 4)",
            "avg_num": f"(sum(CAST(round({d} * 100) AS BIGINT)) * 10) // count(*)",
        }[fn]
        aggs.append(f"{sql} AS {alias}")
    select = ", ".join(list(spec.keys) + aggs)
    q = f"SELECT {select} FROM {spec.table}"
    if spec.join:
        dim, fk, dk, _attr = JOINS[spec.table]
        q += f" JOIN {dim} ON {fk} = {dk}"
    if where:
        q += f" WHERE {where}"
    if spec.keys:
        q += " GROUP BY " + ", ".join(spec.keys)
        if spec.having is not None:
            q += f" HAVING count(*) > {spec.having}"
    return q


def run_fuzz(spark: SparkSession, sf_dir: str, n_specs: int, seed: int) -> list[Spec]:
    from parquet_storage_query_spark.fingerprint import (
        oracle_connection,
        oracle_result,
        result_fingerprint,
        spark_result,
    )

    con = oracle_connection(sf_dir)
    rng = random.Random(seed)
    mismatches: list[Spec | WindowSpec | SetOpSpec | OuterJoinSpec | ExprSpec | ArraySpec | DatetimeSpec] = []
    for i in range(n_specs):
        roll = rng.random()
        if roll < 0.2:
            spec: Spec | WindowSpec | SetOpSpec | OuterJoinSpec | ExprSpec | ArraySpec | DatetimeSpec = gen_window_spec(rng)
            sdf = build_window_spark(spec, spark, sf_dir)
            sql = build_window_sql(spec)
        elif roll < 0.35:
            spec = gen_setop_spec(rng)
            sdf = build_setop_spark(spec, spark, sf_dir)
            sql = build_setop_sql(spec)
        elif roll < 0.5:
            spec = gen_outer_spec(rng)
            sdf = build_outer_spark(spec, spark, sf_dir)
            sql = build_outer_sql(spec)
        elif roll < 0.6:
            spec = gen_expr_spec(rng)
            sdf = build_expr_spark(spec, spark, sf_dir)
            sql = build_expr_sql(spec)
        elif roll < 0.72:
            spec = gen_array_spec(rng)
            sdf = build_array_spark(spec, spark, sf_dir)
            sql = build_array_sql(spec)
        elif roll < 0.82:
            spec = gen_datetime_spec(rng)
            sdf = build_datetime_spark(spec, spark, sf_dir)
            sql = build_datetime_sql(spec)
        else:
            spec = gen_spec(rng)
            sdf = build_spark(spec, spark, sf_dir)
            sql = build_sql(spec)
        ok = result_fingerprint(*spark_result(sdf)) == result_fingerprint(*oracle_result(con, sf_dir, sql))
        if not ok:
            mismatches.append(spec)
            print(f"MISMATCH [{i}]: {spec.describe()}\n  sql: {sql}")
    con.close()
    return mismatches


def main() -> int:
    from parquet_storage_query_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_specs = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    spark = get_spark("fuzz")
    bad = run_fuzz(spark, sf_dir, n_specs, seed)
    print(f"{n_specs - len(bad)}/{n_specs} specs matched (seed {seed})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
