"""The generator is a pure function of its seed."""

import hashlib
import os

import _paths  # noqa: F401

import gen


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_tables_byte_identical_for_same_seed(tmp_path):
    a, man = gen.ensure_tables(str(tmp_path / "a"), 3, 0.002)
    b, _ = gen.ensure_tables(str(tmp_path / "b"), 3, 0.002)
    assert _digest(a) == _digest(b)
    assert set(man["tables"]) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert all(t["rows"] > 0 and t["bytes"] > 0 for t in man["tables"].values())


def test_tables_differ_for_another_seed(tmp_path):
    a, _ = gen.ensure_tables(str(tmp_path / "a"), 3, 0.002)
    b, _ = gen.ensure_tables(str(tmp_path / "b"), 4, 0.002)
    da, db = _digest(a), _digest(b)
    assert da.keys() == db.keys()
    assert da["lineitem.parquet"] != db["lineitem.parquet"]
    assert da["documents.parquet"] != db["documents.parquet"]


def test_shards_byte_identical_for_same_seed_and_differ_for_another(tmp_path):
    a, _ = gen.ensure_shards(str(tmp_path / "a"), 5, 4)
    b, _ = gen.ensure_shards(str(tmp_path / "b"), 5, 4)
    c, _ = gen.ensure_shards(str(tmp_path / "c"), 6, 4)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_cache_is_reused(tmp_path):
    a, _ = gen.ensure_tables(str(tmp_path), 3, 0.002)
    stamp = os.path.getmtime(os.path.join(a, "lineitem.parquet"))
    again, _ = gen.ensure_tables(str(tmp_path), 3, 0.002)
    assert again == a
    assert os.path.getmtime(os.path.join(a, "lineitem.parquet")) == stamp
