"""The shared-build primitive (`sharedcost.materialize`) and the caches
that key on a dataset's version rather than its path."""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sql_engine_spark import sharedcost
from sql_engine_spark.operators.dedup import _persist

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "sql_engine_spark")


def _write_table(sf: str, table: str, n: int) -> None:
    pq.write_table(
        pa.table({"id": pa.array(range(n), pa.int64())}),
        os.path.join(sf, f"{table}.parquet"),
    )


@pytest.mark.parametrize("case", ["rewritten", "untouched", "nested"])
def test_materialize(spark, tmp_path, monkeypatch, case):
    sf = str(tmp_path)
    _write_table(sf, "docs", 5)
    records = []
    record = sharedcost.record
    monkeypatch.setattr(
        sharedcost, "record", lambda name, s: (records.append(name), record(name, s))
    )
    frames = {}

    def build(root: str) -> None:
        frames["outer"] = _persist(spark.range(3))
        if case == "nested":
            def inner(r: str) -> None:
                frames["inner"] = _persist(spark.range(2))

            sharedcost.materialize(spark, sf, f"probe_inner_{case}", ("docs",), (), inner)
            # The nested build released its own persist, not its caller's.
            assert not frames["inner"].is_cached
            assert frames["outer"].is_cached
        with open(os.path.join(root, "out.txt"), "w") as f:
            f.write("built")

    caller = _persist(spark.range(4))
    args = (spark, sf, f"probe_{case}", ("docs",), (1,), build)
    root = sharedcost.materialize(*args)
    assert os.path.basename(root).startswith(f"sqe_probe_{case}_")
    assert os.path.isfile(os.path.join(root, "out.txt"))
    assert not frames["outer"].is_cached
    assert caller.is_cached  # a persist made before the build is not touched
    caller.unpersist()
    if case == "nested":
        assert records == [f"probe_inner_{case}", f"probe_{case}"]
        return
    assert records == [f"probe_{case}"]
    if case == "rewritten":
        _write_table(sf, "docs", 9)
        again = sharedcost.materialize(*args)
        assert again != root
        assert records == [f"probe_{case}"] * 2
    else:
        assert sharedcost.materialize(*args) == root
        assert records == [f"probe_{case}"]


# The streaming drains cache a schema, a payload or per-spec membership
# beside their directory, so they keep their own ledger records.
_DRAINS = {"streaming/source.py", "streaming/fleet.py", "streaming/batchstate.py"}


def test_no_hand_copied_shared_build():
    """Only sharedcost.materialize brackets a build with cache_mark /
    release_since and records its wall; a ninth hand copy fails here."""
    found = []
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "sharedcost.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            records = {
                a.asname or a.name
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                and node.module == "sql_engine_spark.sharedcost"
                for a in node.names
                if a.name == "record"
            }
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in ("cache_mark", "release_since"):
                    found.append(f"{rel}:{node.lineno} {name}")
                elif rel not in _DRAINS and (
                    (isinstance(f, ast.Name) and f.id in records)
                    or (
                        isinstance(f, ast.Attribute)
                        and f.attr == "record"
                        and isinstance(f.value, ast.Name)
                        and f.value.id == "sharedcost"
                    )
                ):
                    found.append(f"{rel}:{node.lineno} sharedcost.record")
    assert not found, found


def test_graph_planes_follow_rewritten_embeddings(tmp_path):
    from sql_engine_spark.operators.graph import derived_graph_planes

    sf = str(tmp_path)
    _write_table(sf, "embeddings", 10)
    assert derived_graph_planes(sf) == 4
    _write_table(sf, "embeddings", 40_000)
    assert derived_graph_planes(sf) == 6


def test_table_stream_replay_follows_rewritten_table(spark, tmp_path):
    from sql_engine_spark.streaming.source import run_to_memory, table_stream

    sf = str(tmp_path)
    _write_table(sf, "ticks", 5)
    first = table_stream(spark, sf, "ticks", ["id"], 2)
    assert run_to_memory(first, "replay_probe_a", "append").count() == 5
    _write_table(sf, "ticks", 8)
    second = table_stream(spark, sf, "ticks", ["id"], 2)
    ids = sorted(r.id for r in run_to_memory(second, "replay_probe_b", "append").collect())
    assert ids == list(range(8))
