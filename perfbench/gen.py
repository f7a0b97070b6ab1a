"""Seeded input generation for the benchmark.

Two kinds of input, both a pure function of (seed, scale):

- `tables`: the ten-table layout the registry queries read (region,
  nation, customer, supplier, part, orders, lineitem, events, documents,
  embeddings), with the schemas, key ranges and value marginals of the
  sf0.1 test data. Row counts scale linearly; `scale=0.1` gives the
  sf0.1 sizes (lineitem about 600k rows).
- `shards`: the per-shard files the `adhoc_*` workloads address by quoted
  path. Each shard is a directory holding one parquet part file, the
  same layout `sinks.write_table` produces, so a shard can be overwritten
  in place by the program.

Output is cached under `<cache_root>/<kind>-s<seed>-x<scale>/` and reused
when a `manifest.json` with the same parameters is already there. The
manifest records rows and bytes per table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated content changes, so stale caches are rebuilt.
GEN_VERSION = 3

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PADJ = ["large", "hot", "blue", "red", "green", "small", "dim", "spry"]
PNOUN = ["ring", "bolt", "nut", "cog", "gear", "pin", "rod", "cap"]
SHARD_CATS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]

US = 1_000_000  # microseconds per second
DAY_US = 86_400 * US


def _ts_us(iso: str) -> int:
    d = dt.datetime.fromisoformat(iso).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _rng(seed: int, stream: int) -> np.random.Generator:
    # One independent stream per input kind, so adding a kind never
    # shifts the values of another.
    return np.random.Generator(np.random.PCG64([seed, stream]))


def table_data(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten tables at `scale` (0.1 = sf0.1 row counts)."""
    rng = _rng(seed, 1)

    def n(at_sf01: int, floor: int) -> int:
        return max(floor, round(at_sf01 * scale / 0.1))

    n_cust, n_supp, n_part = n(15_000, 50), n(1_000, 10), n(20_000, 50)
    n_ord, n_ev, n_users = n(150_000, 100), n(100_000, 100), n(1_500, 20)
    n_doc, n_emb = n(5_000, 50), n(2_000, 50)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.take(SEGMENTS, rng.integers(0, 5, n_cust))),
    })

    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    })

    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.integers(0, len(PADJ), n_part)
    noun = rng.integers(0, len(PNOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{PADJ[a]} {PNOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.take(PTYPES, rng.integers(0, 6, n_part))),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + ((pk * 7) % 1000) / 10.0,
    })

    ok = np.arange(n_ord, dtype=np.int64)
    d0, d1 = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    o_date = d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(np.take(["O", "P", "F"], rng.integers(0, 3, n_ord))),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": pa.array(np.take(PRIORITIES, rng.integers(0, 5, n_ord))),
    })

    # Poisson(4) lines per order, linenumber cycling 1..7, shipdate =
    # orderdate + U{1..95} days.
    lines = rng.poisson(4.0, n_ord)
    n_li = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    within = np.arange(n_li) - starts
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = np.round(rng.uniform(900, 2100, n_li), 2)
    out["lineitem"] = pa.table({
        "l_orderkey": np.repeat(ok, lines),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (within % 7 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.take(["A", "N", "R"], rng.integers(0, 3, n_li))),
        "l_linestatus": pa.array(np.take(["O", "F"], rng.integers(0, 2, n_li))),
        "l_shipdate": _ts(
            np.repeat(o_date, lines) + rng.integers(1, 96, n_li) * DAY_US
        ),
    })

    # Events: a fixed 30-day window at every scale.
    e0, e1 = _ts_us("2024-01-01"), _ts_us("2024-01-31")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(e0, e1, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": pa.array(np.take(ETYPES, rng.integers(0, 5, n_ev))),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })

    # Documents: vocabulary salad of 10..100 words; about 5% near
    # duplicates (an earlier text + " dup") and 0.16% exact duplicates.
    texts: list[str] = []
    n_words = rng.integers(10, 101, n_doc)
    draws = rng.random(n_doc)
    for i in range(n_doc):
        if i > 10 and draws[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and draws[i] < 0.0516:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(np.take(VOCAB, rng.integers(0, len(VOCAB), n_words[i]))))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.take(LANGS, rng.choice(5, n_doc, p=LANG_W))),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # Embeddings: 64-dim, L2-normalized, clustered by label.
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    cents = rng.normal(0, 1, (10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = 0.6 * cents[labels] + 0.4 * rng.normal(0, 0.35, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), type=pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def shard_table(rng: np.random.Generator, n_rows: int, key0: int, extra: bool = False) -> pa.Table:
    """One shard: unique keys from `key0`, small-domain group columns and
    exact two-decimal doubles. `extra` adds the column `z` that the
    refresh mix's schema-changing overwrites introduce."""
    cols = {
        "k": np.arange(key0, key0 + n_rows, dtype=np.int64),
        "grp": rng.integers(0, 40, n_rows).astype(np.int32),
        "cat": pa.array(np.take(SHARD_CATS, rng.integers(0, len(SHARD_CATS), n_rows))),
        "x": np.round(rng.uniform(0, 1000, n_rows), 2),
        "y": rng.integers(-5000, 5000, n_rows).astype(np.int64),
    }
    if extra:
        cols["z"] = rng.integers(0, 100, n_rows).astype(np.int64)
    return pa.table(cols)


def shard_data(seed: int, n_shards: int) -> dict[str, pa.Table]:
    """`n_shards` shards of 500..9,000 rows, so `select *` over one shard
    stays within the engine's default row cap. Sizes are spread over that
    range by a fixed pattern of the shard number, the same for every
    seed: the seed changes the values, not the shape of the input."""
    rng = _rng(seed, 2)
    sizes = 500 + ((np.arange(n_shards) * 37 + n_shards // 2) % n_shards + 0.5) / n_shards * 8_500
    return {
        f"shard_{i:03d}": shard_table(rng, int(n), key0=i * 1_000_000)
        for i, n in enumerate(sizes)
    }


def write_shard(path: str, table: pa.Table) -> None:
    """Write `table` as a one-part dataset directory at `path`."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _materialize(out_dir: str, params: dict, tables: dict[str, pa.Table], as_dirs: bool) -> dict:
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    stats = {}
    for name, t in tables.items():
        p = os.path.join(tmp, f"{name}.parquet")
        if as_dirs:
            write_shard(p, t)
        else:
            pq.write_table(t, p)
        stats[name] = {"rows": t.num_rows, "bytes": dir_bytes(p)}
    manifest = {**params, "tables": stats}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return manifest


def _cached(cache_root: str, kind: str, seed: int, size, make, as_dirs: bool) -> tuple[str, dict]:
    params = {"kind": kind, "seed": seed, "size": size, "version": GEN_VERSION}
    out_dir = os.path.join(cache_root, f"{kind}-s{seed}-x{size}")
    try:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            manifest = json.load(f)
        if all(manifest.get(k) == v for k, v in params.items()):
            return out_dir, manifest
    except (OSError, ValueError):
        pass
    return out_dir, _materialize(out_dir, params, make(), as_dirs)


def ensure_tables(cache_root: str, seed: int, scale: float) -> tuple[str, dict]:
    """Directory of `<table>.parquet` files for (seed, scale), and its manifest."""
    return _cached(cache_root, "tables", seed, scale, lambda: table_data(seed, scale), False)


def ensure_shards(cache_root: str, seed: int, n_shards: int) -> tuple[str, dict]:
    """Directory of `shard_NNN.parquet/` datasets for (seed, n_shards)."""
    return _cached(cache_root, "shards", seed, n_shards, lambda: shard_data(seed, n_shards), True)
