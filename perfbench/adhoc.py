"""The `adhoc_*` workloads: seeded SQL over quoted paths through
`Engine.execute`, each read checked against DuckDB over the files as
they are at the time of the read.

Queries are drawn from the categories of `tests/slt/`: projection and
`*`, WHERE, inner and theta joins, comma cross joins, GROUP BY/HAVING,
LIMIT and scalar expressions. Paths are the generated tables plus the
per-shard datasets; shards come into use at a steady rate and are drawn
with Zipf-skewed popularity, so first touches keep happening through the
run. Template shares are drawn in stratified blocks, so every seed gives
a stream of the same shape over different values.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import multiprocessing
import os
from dataclasses import dataclass

import numpy as np

from gen import SHARD_CATS
from sql_engine_spark.result import DEFAULT_MAX_ROWS as MAX_ROWS

# Tables of the ten-table layout that adhoc queries read.
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
ZIPF_S = 1.1  # popularity exponent over shards
INTRO_EVERY = 5  # one shard pick in this many is a first touch


class Strata:
    """Draws from a discrete distribution in blocks that hold every outcome
    in near-exact proportion, in seeded order, so the mix of a run does
    not drift with the seed."""

    def __init__(self, rng: np.random.Generator, probs, block: int):
        self.rng = rng
        self.cdf = np.cumsum(np.asarray(probs, dtype=float) / np.sum(probs))
        self.block = block
        self._queue: list[int] = []

    def next(self) -> int:
        if not self._queue:
            u = (np.arange(self.block) + self.rng.random(self.block)) / self.block
            idx = np.minimum(np.searchsorted(self.cdf, u, side="right"), len(self.cdf) - 1)
            self.rng.shuffle(idx)
            self._queue = idx.tolist()
        return self._queue.pop()


def zipf(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


@dataclass
class Paths:
    """The paths reads draw from. Shards come into use one at a time, every
    `INTRO_EVERY`-th shard pick, in order; the other picks choose among
    the shards already in use with Zipf-skewed popularity (the first shard
    is the most popular). So first touches keep happening at a steady rate
    through the run, and the popularity of a shard of a given size is the
    same for every seed."""

    tables: dict[str, str]  # table name -> parquet file
    shards: list[str]  # shard dataset directories, most popular first
    rng: np.random.Generator
    picks: int = 0
    in_use: int = 0

    def shard(self) -> str:
        self.picks += 1
        if self.in_use == 0 or (self.picks % INTRO_EVERY == 0 and self.in_use < len(self.shards)):
            self.in_use += 1
            return self.shards[self.in_use - 1]
        return self.shards[int(self.rng.choice(self.in_use, p=zipf(self.in_use)))]


def _q(path: str) -> str:
    return f"'{path}'"


# ---- query templates --------------------------------------------------
# Each returns Spark SQL over quoted paths. Every output column is named,
# integer-valued or exact, so DuckDB must agree bit for bit.


def shard_star(rng, p: Paths, s):
    return f"select * from {_q(s())}"


def shard_project(rng, p: Paths, s):
    return f"select k, cat, x from {_q(s())} where grp = {int(rng.integers(0, 40))}"


def shard_where(rng, p: Paths, s):
    lo = int(rng.integers(0, 900))
    cat = SHARD_CATS[int(rng.integers(0, len(SHARD_CATS)))]
    return (
        f"select k, y, x from {_q(s())} "
        f"where x between {lo} and {lo + 100} and cat <> '{cat}'"
    )


def shard_join(rng, p: Paths, s):
    return (
        f"select a.k as ak, b.k as bk, a.grp as grp from {_q(s())} a "
        f"join {_q(s())} b on a.y = b.y where a.grp < {int(rng.integers(2, 8))}"
    )


def shard_theta(rng, p: Paths, s):
    return (
        f"select a.k as k, n.n_name as n_name from {_q(s())} a "
        f"join {_q(p.tables['nation'])} n on a.grp < n.n_nationkey "
        f"where a.k % 97 = {int(rng.integers(0, 97))}"
    )


def shard_cross(rng, p: Paths, s):
    cat = SHARD_CATS[int(rng.integers(0, len(SHARD_CATS)))]
    return (
        f"select r.r_name as r_name, count(*) as n, sum(a.y) as sy "
        f"from {_q(p.tables['region'])} r, {_q(s())} a "
        f"where a.cat = '{cat}' group by r.r_name"
    )


def shard_group(rng, p: Paths, s):
    return (
        f"select grp, count(*) as n, sum(y) as sy, min(x) as mn, max(x) as mx "
        f"from {_q(s())} group by grp having count(*) > {int(rng.integers(5, 200))}"
    )


def shard_limit(rng, p: Paths, s):
    cat = SHARD_CATS[int(rng.integers(0, len(SHARD_CATS)))]
    return (
        f"select k, x, y from {_q(s())} where cat = '{cat}' "
        f"order by k limit {int(rng.integers(1, 50))}"
    )


def shard_scalar(rng, p: Paths, s):
    return (
        f"select k, upper(cat) as ucat, abs(y) as ay, y % 7 as m7, "
        f"length(cat) + grp as lg, concat(cat, '-', cast(grp as string)) as tag, "
        f"case when y > 0 then 'pos' else 'neg' end as sgn "
        f"from {_q(s())} where k % 11 = {int(rng.integers(0, 11))}"
    )


def table_query(rng, p: Paths, pick: int):
    """One of `TABLE_QUERIES` multi-table queries over the generated tables."""
    t = p.tables
    seg = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][int(rng.integers(0, 5))]
    year = int(rng.integers(1995, 2001))
    if pick == 0:
        return (
            f"select l_returnflag, l_linestatus, count(*) as n, sum(l_quantity) as q, "
            f"avg(l_quantity) as aq from {_q(t['lineitem'])} "
            f"where l_discount > {int(rng.integers(0, 10)) / 100} "
            f"group by l_returnflag, l_linestatus"
        )
    if pick == 1:
        return (
            f"select n.n_name as n_name, count(*) as n from {_q(t['customer'])} c "
            f"join {_q(t['nation'])} n on c.c_nationkey = n.n_nationkey "
            f"where c.c_mktsegment = '{seg}' group by n.n_name"
        )
    if pick == 2:
        return (
            f"select o_orderpriority, count(*) as n from {_q(t['orders'])} "
            f"where year(o_orderdate) = {year} group by o_orderpriority"
        )
    if pick == 3:
        return (
            f"select r.r_name as r_name, count(*) as n from {_q(t['supplier'])} s "
            f"join {_q(t['nation'])} n on s.s_nationkey = n.n_nationkey "
            f"join {_q(t['region'])} r on n.n_regionkey = r.r_regionkey group by r.r_name"
        )
    if pick == 4:
        return (
            f"select p_brand, count(*) as n, min(p_size) as mn, max(p_size) as mx "
            f"from {_q(t['part'])} where p_type = '{['STANDARD', 'SMALL', 'PROMO'][int(rng.integers(0, 3))]}' "
            f"group by p_brand having count(*) > {int(rng.integers(1, 20))}"
        )
    return (
        f"select o.o_orderkey as k, o.o_custkey as c, count(*) as lines "
        f"from {_q(t['orders'])} o join {_q(t['lineitem'])} l on o.o_orderkey = l.l_orderkey "
        f"where o.o_orderkey % 1000 = {int(rng.integers(0, 1000))} group by o.o_orderkey, o.o_custkey"
    )


def warm_up_sql(warm: str) -> list[str]:
    """One query of each shard shape over the warm-up shard, which the
    timed stream never reads, so no path of the stream is touched early."""
    w = _q(warm)
    return [
        f"select * from {w}",
        f"select k, y, x from {w} where x between 100 and 200 and cat <> 'beta'",
        f"select a.k as ak, b.k as bk from {w} a join {w} b on a.y = b.y where a.grp < 3",
        f"select a.k as k, b.grp as g from {w} a join {w} b on a.grp < b.grp where a.k % 97 = 0 and b.k % 97 = 1",
        f"select count(*) as n, sum(a.y) as sy from {w} a, {w} b where a.k % 500 = 0 and b.k % 500 = 1",
        f"select grp, count(*) as n, sum(y) as sy from {w} group by grp having count(*) > 5",
        f"select k, x from {w} where cat = 'alpha' order by k limit 10",
        f"select k, upper(cat) as u, abs(y) % 7 as m from {w} where k % 11 = 0",
    ]


TABLE_QUERIES = 6  # variants of table_query

# (template, weight): the number of `tests/slt/` queries of its category,
# over the 68 queries of the files named below (setops, ddl and errors are
# not categories of this stream). select.slt: 1 `select *`, 9 other
# projections. joins.slt: 1 theta join, 1 comma cross join, 7 other joins
# (equi, outer, semi/anti, join+group). aggregates.slt (13) goes to the
# aggregate queries over the generated tables, having.slt (6) to the
# shard GROUP BY...HAVING. A block of 68 reads holds each exactly.
TEMPLATES = [
    (shard_star, 1),  # select.slt
    (shard_project, 9),  # select.slt
    (shard_where, 10),  # filter.slt
    (shard_join, 7),  # joins.slt
    (shard_theta, 1),  # joins.slt
    (shard_cross, 1),  # joins.slt
    (shard_group, 6),  # having.slt
    (table_query, 13),  # aggregates.slt
    (shard_limit, 5),  # limit.slt
    (shard_scalar, 15),  # scalar.slt
]
TEMPLATE_BLOCK = sum(w for _, w in TEMPLATES)


class QueryGen:
    """Seeded stream of adhoc SQL. `prefer` (if given) supplies a shard
    for some reads, which the refresh mix uses to favour recent writes."""

    def __init__(self, rng: np.random.Generator, paths: Paths):
        self.rng = rng
        self.paths = paths
        self.templates = Strata(rng, [w for _, w in TEMPLATES], block=TEMPLATE_BLOCK)
        self.tables = Strata(rng, np.ones(TABLE_QUERIES), block=TABLE_QUERIES)

    def next(self, prefer=None) -> str:
        rng, p = self.rng, self.paths
        fn = TEMPLATES[self.templates.next()][0]
        if fn is table_query:
            return table_query(rng, p, self.tables.next())

        def shard():
            if prefer is not None:
                got = prefer(rng)
                if got is not None:
                    return got
            return p.shard()

        return fn(rng, p, shard)


# ---- DuckDB oracle ------------------------------------------------------


def duckdb_sql(sql: str) -> str:
    """The DuckDB spelling of an adhoc query: a quoted shard directory
    becomes a `read_parquet` glob; quoted files read as they are."""
    import re

    def sub(m: re.Match) -> str:
        path = m.group(1)
        if os.path.isdir(path):
            return f"read_parquet('{path}/*.parquet')"
        return m.group(0)

    return re.sub(r"'([^']+\.parquet)'", sub, sql)


def norm(v):
    """A value both engines agree on: exact numbers compare by value
    (3 == 3.0), timestamps without zone."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() else v
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def _keys(rows) -> list[str]:
    return sorted(repr(tuple(norm(v) for v in r)) for r in rows)


def check(columns: list[str], rows: list[tuple], truncated: bool,
          o_columns: list[str], o_rows: list[tuple], max_rows: int = MAX_ROWS) -> str | None:
    """None if the engine's result equals the oracle's, else the reason.

    A truncated result must hold exactly `max_rows` rows, all of them
    present in the oracle's result, and the oracle must have more."""
    if [c.lower() for c in columns] != [c.lower() for c in o_columns]:
        return f"columns: engine={columns} oracle={o_columns}"
    if truncated or len(o_rows) > max_rows:
        if not truncated or len(rows) != max_rows or len(o_rows) <= max_rows:
            return f"truncation: engine={len(rows)} rows truncated={truncated} oracle={len(o_rows)} rows"
        pool: dict[str, int] = {}
        for k in _keys(o_rows):
            pool[k] = pool.get(k, 0) + 1
        for k in _keys(rows):
            if pool.get(k, 0) == 0:
                return f"row not in oracle result: {k[:200]}"
            pool[k] -= 1
        return None
    if len(rows) != len(o_rows):
        return f"row count: engine={len(rows)} oracle={len(o_rows)}"
    a, b = _keys(rows), _keys(o_rows)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"value mismatch: engine={diff[0][:200]} oracle={diff[1][:200]}"
    return None


class Oracle:
    """DuckDB over the files on disk, queried right after each read. It
    runs in a child process, so its memory is not counted as the
    program's."""

    def __init__(self, tmp_dir: str):
        ctx = multiprocessing.get_context("spawn")
        self._conn, child = ctx.Pipe()
        self._proc = ctx.Process(target=_serve, args=(child, tmp_dir))
        self._proc.start()
        child.close()

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        self._conn.send(sql)
        ok, payload = self._conn.recv()
        if not ok:
            raise RuntimeError(payload)
        return payload

    def close(self) -> None:
        try:
            self._conn.send(None)
        except OSError:
            pass
        self._proc.join(timeout=30)
        if self._proc.is_alive():
            self._proc.kill()
            self._proc.join(timeout=30)
        self._conn.close()


def _serve(conn, tmp_dir: str) -> None:
    """Child side of `Oracle`: answer SQL sent over `conn` until None."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    try:
        while (sql := conn.recv()) is not None:
            try:
                cur = con.execute(duckdb_sql(sql))
                conn.send((True, ([d[0] for d in cur.description], cur.fetchall())))
            except Exception as exc:  # noqa: BLE001 - reported to the parent
                conn.send((False, f"{type(exc).__name__}: {exc}"))
    finally:
        con.close()
        conn.close()


# ---- refresh mix --------------------------------------------------------

# Chosen, not measured (no trace of real refreshes exists); the README
# gives the reasoning. They are part of the workload's definition.
WRITE_SHARE = 0.2  # share of operations that overwrite a shard
RECENT = 4  # reads favour the last RECENT shards written
RECENT_SHARE = 0.5
ADD_COLUMN_SHARE = 0.1
MAX_SHARD_ROWS = 30_000


@dataclass
class ShardState:
    rows: int
    key0: int
    has_z: bool = False
    version: int = 0


class RefreshMix:
    """Seeded overwrites of shards through `sinks.write_table`. Some grow
    a shard, some shrink it, a small share add the column `z`."""

    def __init__(self, rng: np.random.Generator, paths: Paths, states: dict[str, ShardState]):
        self.rng = rng
        self.paths = paths
        self.states = states
        self.recent: list[str] = []
        self._writes = Strata(rng, [1 - WRITE_SHARE, WRITE_SHARE], block=10)

    def is_write(self) -> bool:
        return self._writes.next() == 1

    def prefer(self, rng) -> str | None:
        if self.recent and rng.random() < RECENT_SHARE:
            return self.recent[int(rng.integers(0, len(self.recent)))]
        return None

    def plan_write(self) -> tuple[str, ShardState]:
        rng = self.rng
        path = self.paths.shard()
        st = self.states[path]
        factor = rng.uniform(1.2, 3.0) if rng.random() < 0.5 else rng.uniform(0.2, 0.8)
        new = ShardState(
            rows=min(MAX_SHARD_ROWS, max(50, int(st.rows * factor))),
            key0=st.key0,
            has_z=st.has_z or bool(rng.random() < ADD_COLUMN_SHARE),
            version=st.version + 1,
        )
        return path, new

    def done(self, path: str, new: ShardState) -> None:
        self.states[path] = new
        if path in self.recent:
            self.recent.remove(path)
        self.recent.append(path)
        del self.recent[:-RECENT]


def shard_frame(spark, st: ShardState, salt: int):
    """The new content of a shard: deterministic in (key0, rows, salt)."""
    from pyspark.sql import functions as F

    def h(i: int):
        return F.abs(F.xxhash64("id", F.lit(salt), F.lit(i)))

    cats = F.array(*[F.lit(c) for c in SHARD_CATS])
    cols = [
        F.col("id").alias("k"),
        (h(1) % 40).cast("int").alias("grp"),
        F.element_at(cats, (h(2) % len(SHARD_CATS) + 1).cast("int")).alias("cat"),
        ((h(3) % 100_000) / F.lit(100.0)).alias("x"),
        (h(4) % 10_000 - 5_000).alias("y"),
    ]
    if st.has_z:
        cols.append((h(5) % 100).alias("z"))
    return spark.range(st.key0, st.key0 + st.rows).select(*cols)
