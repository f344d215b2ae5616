"""catalog.load's plan cache over directory tables: an unchanged table
is served from the cache without a Spark job; a part file rewritten in
place, with the directory's own mtime unchanged, is read afresh and
changes the table set's sf_tag."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from dock_financial_data_pipelines_spark import catalog

SF_SMOKE = "/root/testdata/sf0.001"


def _split_table(sf_dir: str, name: str, n_files: int) -> str:
    """Write fixture table ``name`` as a directory of part files."""
    tbl = pq.read_table(os.path.join(SF_SMOKE, f"{name}.parquet"))
    out = os.path.join(sf_dir, f"{name}.parquet")
    os.makedirs(out)
    per = -(-tbl.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            tbl.slice(i * per, per), os.path.join(out, f"part-{i:05d}.parquet")
        )
    return out


def _jobs_started(spark, fn):
    group = "load-cache-probe"
    sc = spark.sparkContext
    sc.setJobGroup(group, "catalog.load cache probe")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_unchanged_directory_table_is_cached_without_a_job(spark, tmp_path):
    _split_table(str(tmp_path), "orders", 4)
    first = catalog.load(spark, str(tmp_path), "orders")
    again, jobs = _jobs_started(
        spark, lambda: catalog.load(spark, str(tmp_path), "orders")
    )
    assert again is first
    assert jobs == []


def test_part_file_rewritten_in_place_is_read_afresh(spark, tmp_path):
    table = _split_table(str(tmp_path), "orders", 4)
    first = catalog.load(spark, str(tmp_path), "orders")
    n_before = first.count()

    dir_stat = os.stat(table)
    part = os.path.join(table, "part-00001.parquet")
    kept = pq.read_table(part).slice(0, 3)
    pq.write_table(kept, part)
    # the case a directory-mtime key misses: only the file changed
    os.utime(table, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert os.stat(table).st_mtime_ns == dir_stat.st_mtime_ns

    fresh = catalog.load(spark, str(tmp_path), "orders")
    assert fresh is not first
    per = pq.read_metadata(os.path.join(table, "part-00000.parquet")).num_rows
    assert fresh.count() == n_before - per + 3
    # one entry per (session, path): the rewrite replaced the old one
    path = os.path.join(str(tmp_path), "orders.parquet")
    assert sum(1 for k in catalog._LOAD_CACHE if k[1] == path) == 1


def test_part_file_rewritten_in_place_changes_sf_tag(tmp_path):
    """sf_tag keys memo_index's persisted indexes: it must see the same
    rewrite the load cache sees, not just the directory's own stat."""
    table = _split_table(str(tmp_path), "documents", 3)
    tag = catalog.sf_tag(str(tmp_path))
    assert catalog.sf_tag(str(tmp_path)) == tag

    dir_stat = os.stat(table)
    part = os.path.join(table, "part-00001.parquet")
    pq.write_table(pq.read_table(part).slice(0, 2), part)
    os.utime(table, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert os.stat(table).st_mtime_ns == dir_stat.st_mtime_ns

    assert catalog.sf_tag(str(tmp_path)) != tag
