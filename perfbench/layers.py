"""Instrumentation of the program's public entry points, for the traced
run. Everything here rebinds module and class attributes from outside;
no file of the program changes.

Layers (the program's modules):
  session    get_spark (timed by the caller)
  registry   all_queries, which imports the query modules
  tables     rewrite_path_tables, read_path
  engine     Engine.sql, split_statements
  result     Result.from_df
  queries    Query.build (spanned by the caller)
  io         io.load
  sharedcost the *_shared builders (outermost calls) and the
             sharedcost.record ledger
  exec       execution after construction (spanned by the caller)
  sinks      sinks.write_table
"""

from __future__ import annotations

import functools
import sys
import time

from spans import Tracer, patch_everywhere

PKG = "sql_engine_spark"


def instrument_before_registry(tracer: Tracer) -> list[tuple]:
    """Wrap the entry points that query modules may bind at import time.
    Call before `all_queries()` imports the query modules. Returns the
    (original, wrapper) pairs of module-level functions."""
    from sql_engine_spark import engine, io, result, sharedcost, sinks, tables

    originals = [tables.read_path, tables.rewrite_path_tables, engine.split_statements,
                 io.load, sharedcost.record, sinks.write_table]
    tables.read_path = tracer.wrap(tables.read_path, "tables", count="tables.views_registered")
    rewrite = tracer.wrap(tables.rewrite_path_tables, "tables")
    tables.rewrite_path_tables = rewrite
    engine.rewrite_path_tables = rewrite
    engine.split_statements = tracer.wrap(engine.split_statements, "engine")

    orig_sql = engine.Engine.sql

    @functools.wraps(orig_sql)
    def engine_sql(self, sql):
        s = tracer.begin("engine")
        try:
            df = orig_sql(self, sql)
        finally:
            tracer.end(s)
        # Parsing and analysis run eagerly inside spark.sql; their phase
        # times sit on this DataFrame's own query execution.
        t0 = time.perf_counter()
        tracer.record_phases(df._jdf.queryExecution())
        tracer.add_overhead(time.perf_counter() - t0)
        return df

    engine.Engine.sql = engine_sql

    orig_from_df = result.Result.from_df.__func__

    @functools.wraps(orig_from_df)
    def from_df(cls, df, *args, **kwargs):
        s = tracer.begin("result")
        try:
            res = orig_from_df(cls, df, *args, **kwargs)
        finally:
            tracer.end(s)
        tracer.counts["result.rows"] += len(res.rows)
        return res

    result.Result.from_df = classmethod(from_df)

    io.load = tracer.wrap(io.load, "io", count="io.load_calls")
    sharedcost.record = _wrap_record(tracer, sharedcost.record)
    sinks.write_table = tracer.wrap(sinks.write_table, "sinks", count="sinks.writes")
    wrappers = [tables.read_path, tables.rewrite_path_tables, engine.split_statements,
                io.load, sharedcost.record, sinks.write_table]
    return list(zip(originals, wrappers))


def _wrap_record(tracer: Tracer, record):
    """Count ledger records. A record made outside any shared builder is
    a build of its own: one call, one miss, its ledger seconds."""

    @functools.wraps(record)
    def traced(name, seconds):
        tracer.counts["sharedcost.records"] += 1
        if not tracer.inside("sharedcost"):
            tracer.counts["sharedcost.calls"] += 1
            tracer.counts["sharedcost.misses"] += 1
            tracer.counts["sharedcost.build_s"] += seconds
        return record(name, seconds)

    return traced


def _wrap_builder(tracer: Tracer, fn):
    """A `*_shared` builder recording a `sharedcost` span per call.
    Builders call each other (`bm25_ranked_shared` -> `ranked_shared` ->
    `bm25_index_shared`), so only outermost calls count: one call each,
    a miss when any ledger record was made inside it, and then its whole
    span as build time (a nested build's seconds are inside it)."""

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        outer = not tracer.inside("sharedcost")
        records = tracer.counts["sharedcost.records"]
        s = tracer.begin("sharedcost")
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(s)
            if outer:
                tracer.counts["sharedcost.calls"] += 1
                if tracer.counts["sharedcost.records"] > records:
                    tracer.counts["sharedcost.misses"] += 1
                    tracer.counts["sharedcost.build_s"] += s.end - s.start

    return traced


def shared_builders() -> list:
    """Every `*_shared` relation builder defined in a loaded program module
    (the SQL-text helpers named `sql_*_shared` are not builders)."""
    found = {}
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in vars(mod).items():
            if (
                callable(val)
                and attr.endswith("_shared")
                and not attr.startswith("sql_")
                and getattr(val, "__module__", None) == name
            ):
                found[id(val)] = val
    return list(found.values())


def instrument_after_registry(tracer: Tracer, pairs: list[tuple]) -> int:
    """Wrap the shared builders, and rebind every `from x import f` copy
    of an already wrapped function. Returns how many bindings changed."""
    n = 0
    for fn in shared_builders():
        n += patch_everywhere(PKG, fn, _wrap_builder(tracer, fn))
    for original, wrapper in pairs:
        n += patch_everywhere(PKG, original, wrapper)
    return n
