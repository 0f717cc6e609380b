"""Transaction-log table format: atomicity, snapshot isolation, time
travel, MERGE, conflict detection, vacuum."""

import os

import pytest
from pyspark.sql import functions as F

from hi_csa_db_spark.sources import txlog


def _df(spark, rows):
    return spark.createDataFrame(rows, ["k", "val"])


def test_write_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "t")
    v = txlog.write_table(_df(spark, [(1, "a"), (2, "b")]), path)
    assert v == 0
    out = {r["k"]: r["val"] for r in txlog.read_table(spark, path).collect()}
    assert out == {1: "a", 2: "b"}


def test_overwrite_is_versioned_and_time_travel_reads_history(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    txlog.write_table(_df(spark, [(1, "B"), (2, "c")]), path)
    assert txlog.current_version(path) == 1
    assert {r["val"] for r in txlog.read_table(spark, path).collect()} == {"B", "c"}
    assert {r["val"] for r in txlog.read_table(spark, path, version=0).collect()} == {"a"}


def test_append_carries_prior_files(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    txlog.write_table(_df(spark, [(2, "b")]), path, mode="append")
    assert txlog.read_table(spark, path).count() == 2


def test_merge_upserts(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    txlog.merge_table(spark, path, _df(spark, [(2, "B2"), (4, "d")]), key="k")
    out = {r["k"]: r["val"] for r in txlog.read_table(spark, path).collect()}
    assert out == {1: "a", 2: "B2", 3: "c", 4: "d"}
    # the pre-merge snapshot is still readable (time travel)
    old = {r["k"]: r["val"] for r in txlog.read_table(spark, path, version=0).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_commit_conflict_detected(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    # simulate a racing writer that already published v1
    files = txlog._manifest(path, 0)["files"]
    txlog._commit(path, 1, files, "overwrite")
    with pytest.raises(txlog.CommitConflict):
        txlog._commit(path, 1, files, "overwrite")


def test_readers_never_see_torn_state(spark, tmp_path):
    # data files written but NOT committed must be invisible
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    txlog._write_data_files(_df(spark, [(9, "zzz")]), path)  # no commit
    assert txlog.read_table(spark, path).count() == 1


def test_vacuum_drops_unreferenced(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    txlog.write_table(_df(spark, [(1, "b")]), path)
    txlog.write_table(_df(spark, [(1, "c")]), path)
    removed = txlog.vacuum(path, keep_last=1)
    assert removed > 0
    assert {r["val"] for r in txlog.read_table(spark, path).collect()} == {"c"}
    with pytest.raises(FileNotFoundError):
        txlog.read_table(spark, path, version=0)


def test_append_batch_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    v0 = txlog.append_batch(_df(spark, [(1, "a")]), path, batch_id=0)
    v1 = txlog.append_batch(_df(spark, [(2, "b")]), path, batch_id=1)
    assert (v0, v1) == (0, 1)
    # a re-delivered batch (stream restarted between sink write and
    # checkpoint commit) must not duplicate rows or bump the version
    v_replay = txlog.append_batch(_df(spark, [(2, "b")]), path, batch_id=1)
    assert v_replay == 1
    rows = sorted(map(tuple, txlog.read_table(spark, path).collect()))
    assert rows == [(1, "a"), (2, "b")]


def test_stream_append_exactly_once(spark, sf_dir, tmp_path):
    from hi_csa_db_spark.streaming.acid_sink import stream_append_to_table

    table = str(tmp_path / "events_table")
    ckpt = str(tmp_path / "ckpt")
    out = stream_append_to_table(spark, sf_dir, table, ckpt)
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert out.count() == n_events
    # restarting the stream on the same checkpoint finds no new input
    # and no new commits appear
    v_before = txlog.current_version(table)
    stream_append_to_table(spark, sf_dir, table, ckpt)
    assert txlog.current_version(table) == v_before
    assert txlog.read_table(spark, table).count() == n_events


def test_additive_schema_evolution(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    evolved = spark.createDataFrame([(2, "b", 9.5)], ["k", "val", "score"])
    txlog.append_batch(evolved, path, batch_id=0)
    cur = txlog.read_table(spark, path)
    assert set(cur.columns) == {"k", "val", "score"}
    rows = {r["k"]: (r["val"], r["score"]) for r in cur.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # time travel still sees the ORIGINAL schema for version 0
    assert set(txlog.read_table(spark, path, version=0).columns) == {"k", "val"}


def test_compact_table_same_rows_fewer_files(spark, tmp_path):
    path = str(tmp_path / "t")
    for b in range(4):
        txlog.append_batch(
            _df(spark, [(b * 10 + i, f"v{b}{i}") for i in range(3)]), path, b
        )
    before_files = len(txlog._manifest(path, txlog.current_version(path))["files"])
    rows_before = sorted(map(tuple, txlog.read_table(spark, path).collect()))
    v = txlog.compact_table(spark, path, target_files=1)
    m = txlog._manifest(path, v)
    assert m["op"] == "compact"
    assert len(m["files"]) < before_files
    assert sorted(map(tuple, txlog.read_table(spark, path).collect())) == rows_before
    # pre-compaction snapshot still readable (until vacuum)
    assert (
        sorted(map(tuple, txlog.read_table(spark, path, version=v - 1).collect()))
        == rows_before
    )


def test_read_table_pruned_skips_files_and_matches_filter(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    # three commits covering disjoint key ranges -> disjoint file stats
    for lo in (0, 100, 200):
        txlog.append_batch(
            _df(spark, [(lo + i, f"r{lo+i}") for i in range(10)]), path, lo
        )
    stats = txlog.file_stats(path)
    assert all("k" in st for st in stats.values())
    pruned = txlog.read_table_pruned(spark, path, "k", 100, 109)
    full = txlog.read_table(spark, path).filter(
        (F.col("k") >= 100) & (F.col("k") <= 109)
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, full.collect())
    )
    # the pruned plan reads fewer files than the manifest lists
    n_all = len(txlog._manifest(path, txlog.current_version(path))["files"])
    kept = [
        rel
        for rel, st in stats.items()
        if "k" in st and not (st["k"][1] < 100 or st["k"][0] > 109)
    ]
    assert len(kept) < n_all
    # empty intersection still returns a well-formed empty frame
    assert txlog.read_table_pruned(spark, path, "k", 10_000, 20_000).count() == 0


def test_stream_append_with_auto_compaction(spark, sf_dir, tmp_path):
    from hi_csa_db_spark.streaming.acid_sink import stream_append_to_table

    table = str(tmp_path / "t")
    out = stream_append_to_table(
        spark, sf_dir, table, str(tmp_path / "ckpt"), compact_every=1
    )
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    assert out.count() == n_events
    m = txlog._manifest(table, txlog.current_version(table))
    assert m["op"] == "compact"
    # compaction bounded the live file count to the compact target
    assert len(m["files"]) <= 2


def test_replay_after_compaction_still_skipped(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.append_batch(_df(spark, [(1, "a")]), path, batch_id=0)
    txlog.append_batch(_df(spark, [(2, "b")]), path, batch_id=1)
    txlog.compact_table(spark, path)
    v = txlog.current_version(path)
    # a batch re-delivered after the compaction commit must not apply
    txlog.append_batch(_df(spark, [(2, "b")]), path, batch_id=1)
    assert txlog.current_version(path) == v
    assert txlog.read_table(spark, path).count() == 2


def _jobs_started(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    import uuid

    sc = spark.sparkContext
    group = f"txlog-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "txlog snapshot resolution")
    try:
        out = fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_stored_schema_matches_inference_and_reads_start_no_job(spark, tmp_path):
    import datetime
    from decimal import Decimal

    from hi_csa_db_spark.operators import incremental

    path = str(tmp_path / "t")
    ts = datetime.datetime(2024, 5, 1, 12, 30)
    base_ddl = "k long, amt decimal(12,2), ts timestamp, meta struct<src:string,n:int>"
    base = spark.createDataFrame(
        [(1, Decimal("1.50"), ts, ("a", 1)), (2, Decimal("2.25"), ts, ("b", 2))], base_ddl
    )
    txlog.write_table(base, path)
    # additive evolution: a new top-level column, then a new nested field
    # and a nested array column in a stream append
    txlog.write_table(
        spark.createDataFrame([(3, Decimal("3.00"), ts, ("c", 3), 0.5)], base_ddl + ", score double"),
        path,
        mode="append",
    )
    txlog.append_batch(
        spark.createDataFrame(
            [(4, Decimal("4.75"), ts, ("d", 4, "en"), 0.25, [("x", 1)])],
            "k long, amt decimal(12,2), ts timestamp, meta struct<src:string,n:int,lang:string>,"
            " score double, tags array<struct<t:string,w:int>>",
        ),
        path,
        batch_id=0,
    )
    evolved = txlog.read_table(spark, path)
    txlog.merge_table(spark, path, evolved.filter("k = 2").withColumn("score", F.lit(9.0)), key="k")
    txlog.compact_table(spark, path)
    # a schema-less commit carries the base schema forward
    last = txlog.current_version(path)
    txlog._commit(path, last + 1, txlog._manifest(path, last)["files"], "overwrite")
    rollup = str(tmp_path / "rollup")
    for _ in range(2):  # create, then the direct rollup-merge commit
        incremental.maintain_rollup(spark, rollup, base, ["k"], "amt")

    checked = 0
    for tbl in (path, rollup):
        for v in range(txlog.current_version(tbl) + 1):
            files = [os.path.join(tbl, f) for f in txlog._manifest(tbl, v)["files"]]
            assert "schema" in txlog._manifest(tbl, v)
            inferred, inference_jobs = _jobs_started(
                spark, lambda: spark.read.option("mergeSchema", "true").parquet(*files).schema
            )
            snap, jobs = _jobs_started(spark, lambda: txlog.read_table(spark, tbl, v))
            assert snap.schema == inferred, (tbl, v)
            assert inference_jobs >= 1  # the job counter sees what it should
            assert jobs == 0, (tbl, v)
            checked += 1
    assert checked == 8

    rows = {r["k"]: r for r in txlog.read_table(spark, path).collect()}
    assert rows[1]["score"] is None and rows[1]["tags"] is None
    assert rows[1]["meta"]["lang"] is None and rows[4]["meta"]["lang"] == "en"
    assert rows[2]["score"] == 9.0 and rows[4]["amt"] == Decimal("4.75")
    assert rows[4]["tags"][0]["w"] == 1 and rows[3]["ts"] == ts


def test_append_with_conflicting_type_raises_before_writing(spark, tmp_path):
    path = str(tmp_path / "t")
    txlog.write_table(_df(spark, [(1, "a")]), path)
    n_batches = len(os.listdir(os.path.join(path, "data")))
    clash = spark.createDataFrame([("2", "b")], "k string, val string")
    with pytest.raises(TypeError, match="schema conflict at k"):
        txlog.write_table(clash, path, mode="append")
    with pytest.raises(TypeError, match="schema conflict at k"):
        txlog.append_batch(clash, path, batch_id=0)
    assert txlog.current_version(path) == 0
    assert len(os.listdir(os.path.join(path, "data"))) == n_batches
