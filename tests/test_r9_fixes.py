"""Round-9 pins for the r8-advice fixes: the phash _COPY_OFFSET guard,
dataset-fingerprinted shared-build cache keys + tmp cleanup, the
shingle_k override routing, the numeric manifest-version pick, and the
cap audit's derived-sample guard."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# phash_shared _COPY_OFFSET guard (r8 advice, medium)
# --------------------------------------------------------------------------


def test_phash_shared_rejects_ids_at_copy_offset(spark, tmp_path):
    from sql_engine_spark.queries.round7_multimodal2 import (
        _COPY_OFFSET,
        phash_shared,
    )

    sf = str(tmp_path / "sfbad")
    os.makedirs(sf)
    spark.createDataFrame(
        [(_COPY_OFFSET + 7, "collides with the synthetic copies")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    with pytest.raises(ValueError, match="copy offset"):
        phash_shared(spark, sf)


def test_parquet_max_doc_id_reads_footer(spark, tmp_path):
    from sql_engine_spark.queries.round7_multimodal2 import _parquet_max_doc_id

    sf = str(tmp_path / "sfok")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, "a"), (41, "b"), (12, "c")], "doc_id long, text string"
    ).coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    assert _parquet_max_doc_id(sf) == 41
    assert _parquet_max_doc_id(str(tmp_path / "missing")) is None


# --------------------------------------------------------------------------
# Shared-build cache keys carry a dataset fingerprint (r8 advice)
# --------------------------------------------------------------------------


def test_shingle_cache_invalidates_on_dataset_change(spark, tmp_path):
    from sql_engine_spark.operators import dedup as D

    sf = str(tmp_path / "sfcopy")
    os.makedirs(sf)
    dst = os.path.join(sf, "documents.parquet")
    shutil.copy(os.path.join(SF_DIR, "documents.parquet"), dst)

    p1 = D.shingle_hs_shared(spark, sf).inputFiles()[0]
    # Same fingerprint -> cache hit, same materialized relation.
    p2 = D.shingle_hs_shared(spark, sf).inputFiles()[0]
    assert os.path.dirname(p1) == os.path.dirname(p2)
    # Regenerate the dataset in place (mtime moves) -> rebuild.
    os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 10**9,) * 2)
    p3 = D.shingle_hs_shared(spark, sf).inputFiles()[0]
    assert os.path.dirname(p1) != os.path.dirname(p3)


def test_tracked_tmpdirs_are_registered_for_cleanup(spark, tmp_path):
    from sql_engine_spark import sharedcost as S
    from sql_engine_spark.streaming.source import run_to_memory

    d = S.tracked_tmpdir("sqe_test_")
    assert os.path.isdir(d)
    assert d in S._TMP_DIRS
    # The atexit sweep is rmtree(ignore_errors=True) over _TMP_DIRS;
    # exercise the same call here.
    shutil.rmtree(d, ignore_errors=True)
    assert not os.path.isdir(d)
    S._TMP_DIRS.remove(d)

    # The run_to_memory checkpoint dir is tracked the same way.
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    before = set(S._TMP_DIRS)
    assert run_to_memory(stream, "tracked_ckpt_probe", "append").count() == 3
    added = [os.path.basename(p) for p in S._TMP_DIRS if p not in before]
    assert len(added) == 1, added
    assert added[0].startswith("ckpt_tracked_ckpt_probe_"), added


def test_dataset_fingerprint_tracks_bytes_and_mtime(tmp_path):
    from sql_engine_spark.sharedcost import dataset_fingerprint

    sf = str(tmp_path)
    path = os.path.join(sf, "documents.parquet")
    with open(path, "wb") as fh:
        fh.write(b"x" * 100)
    f1 = dataset_fingerprint(sf, "documents")
    assert f1[0] == 100
    os.utime(path, ns=(os.stat(path).st_mtime_ns + 10**9,) * 2)
    assert dataset_fingerprint(sf, "documents") != f1
    assert dataset_fingerprint(sf, "missing_table") == (0, 0)


# --------------------------------------------------------------------------
# _shared_pairs shingle_k routing (r8 advice)
# --------------------------------------------------------------------------


def test_shared_pairs_routes_shingle_k_to_build(spark):
    from sql_engine_spark.queries.dedup import _shared_pairs

    # Through r8 this raised TypeError (minhash_lsh_pairs_from_hs has no
    # shingle_k parameter); now it returns a differently-shingled build.
    k3 = _shared_pairs(spark, SF_DIR).count()
    k2 = _shared_pairs(spark, SF_DIR, shingle_k=2).count()
    assert k2 >= k3  # 2-shingles are strictly less specific


# --------------------------------------------------------------------------
# Numeric manifest-version pick (r8 advice)
# --------------------------------------------------------------------------


def test_latest_version_is_numeric():
    from sql_engine_spark.queries.round8_eval import _latest_version

    assert _latest_version({"9": ["a"], "10": ["b"], "2": ["c"]}) == "10"
    assert _latest_version({"0": [], "1": [], "2": []}) == "2"


# --------------------------------------------------------------------------
# Cap audit derived-sample guard (r8 verdict #1)
# --------------------------------------------------------------------------


def test_cap_audit_threshold_engages_at_scale(tmp_path):
    from sql_engine_spark.queries.round8_audits import (
        _CAP_AUDIT_TARGET,
        _cap_audit_threshold,
    )

    # At the test scale factors the corpus is at/below the target, so the
    # sample covers everything (threshold None or near-full); on a huge
    # corpus the threshold must engage and bound the exact leg.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sql_engine_spark.operators.similarity import derived_sample_hex

    thr = derived_sample_hex(10**9, target_train_rows=_CAP_AUDIT_TARGET)
    assert thr is not None  # a 1e9-doc corpus is sampled, not scanned
    frac = int(thr, 16) / 16 ** len(thr)
    assert frac * 10**9 < 3 * _CAP_AUDIT_TARGET

    # And the rendered threshold derives from the parquet footer count.
    sf = str(tmp_path)
    pq.write_table(
        pa.table({"doc_id": list(range(50)), "text": ["t"] * 50}),
        os.path.join(sf, "documents.parquet"),
    )
    assert _cap_audit_threshold(sf) is None  # 52 docs << target


# --------------------------------------------------------------------------
# Process-local count cache (r8 verdict #3)
# --------------------------------------------------------------------------


def test_table_row_count_matches_footer_and_caches(spark):
    import duckdb

    from sql_engine_spark.io import _COUNT_CACHE, count_cached, table_row_count

    n = table_row_count(SF_DIR, "embeddings")
    # Explicit short-lived connection: the module-global default
    # connection accumulates state across a 1,000-test suite and has
    # been observed failing order-dependently.
    con = duckdb.connect()
    try:
        truth = con.execute(
            f"SELECT COUNT(*) FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchone()[0]
    finally:
        con.close()
    assert n == truth

    calls = []

    def compute():
        calls.append(1)
        return 42

    assert count_cached(SF_DIR, "embeddings", "__test_tag__", compute) == 42
    assert count_cached(SF_DIR, "embeddings", "__test_tag__", compute) == 42
    assert len(calls) == 1  # memoized after the first build
    # Distinct tags are distinct entries.
    assert count_cached(SF_DIR, "embeddings", "__test_tag2__", lambda: 7) == 7
    for k in [k for k in _COUNT_CACHE if k[3].startswith("__test_tag")]:
        del _COUNT_CACHE[k]


# --------------------------------------------------------------------------
# Shared streaming replay fleet (r8 verdict #7)
# --------------------------------------------------------------------------


def test_fleet_single_drain_updates_all_views(spark):
    from sql_engine_spark.streaming import fleet as FL

    # All four events-sourced specs register at import.
    from sql_engine_spark.queries import (  # noqa: F401
        round7_engine,
        round8_stream,
        round8_stream2,
    )

    for name in (
        "kmv_distinct",
        "bitmap_distinct",
        "hellinger_counts",
        "seasonal_counts",
    ):
        assert name in FL._SPECS

    # First view triggers the one shared drain...
    v1 = FL.fleet_view(spark, SF_DIR, "kmv_distinct")
    key = [k for k in FL._DRAINED if k[0] == os.path.abspath(SF_DIR)][0]
    drained = FL._DRAINED[key]
    # ...and every registered spec is drained by that same pass.
    assert set(drained) >= {
        "kmv_distinct",
        "bitmap_distinct",
        "hellinger_counts",
        "seasonal_counts",
    }
    # Per-view isolation: distinct directories, own markers.
    assert len({d for d in drained.values()}) == len(drained)
    # Re-request is a pure read of the committed state (no new dir).
    v2 = FL.fleet_view(spark, SF_DIR, "kmv_distinct")
    assert v2.view_dir == v1.view_dir
    assert v1.last_applied() >= 3  # 4 chunks -> batch ids 0..3


def test_fleet_view_converges_to_batch(spark):
    import duckdb

    from sql_engine_spark.streaming.fleet import fleet_view

    daily = fleet_view(spark, SF_DIR, "seasonal_counts").read(spark)
    got = {(r.d, r.c) for r in daily.collect()}
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT CAST(epoch(CAST(ts AS DATE)) // 86400 AS BIGINT) AS d,
                   COUNT(*) AS c
            FROM '{SF_DIR}/events.parquet' GROUP BY 1
            """
        ).fetchall()
    finally:
        con.close()
    want = {(int(d), int(c)) for d, c in rows}
    assert got == want


# --------------------------------------------------------------------------
# check_oracle --changed fast path (r8 verdict #5)
# --------------------------------------------------------------------------


def test_changed_query_names_maps_modules(tmp_path, monkeypatch):
    import importlib.util
    import subprocess

    spec = importlib.util.spec_from_file_location(
        "check_oracle", "/root/repo/scripts/check_oracle.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    # No diff vs HEAD in a clean tree of this test's scope -> mapping
    # returns a (possibly empty) sorted subset of registered names.
    from sql_engine_spark.registry import all_queries

    names = mod.changed_query_names("HEAD")
    assert names == sorted(names)
    assert set(names) <= set(all_queries())

    # Every name from a one-module diff maps back to that module.
    diff_out = subprocess.run(
        ["git", "diff", "--name-only", "HEAD~1", "--"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
    ).stdout
    changed_files = {p for p in diff_out.splitlines() if p.endswith(".py")}
    got = mod.changed_query_names("HEAD~1")
    import sys as _sys

    for n in got:
        q = all_queries()[n]
        src = _sys.modules[q.build.__module__].__file__
        assert any(src.endswith(p) for p in changed_files), (n, src)
