"""Minimal transaction-log table format (the lakehouse ACID layer).

The reference persists state as whole-file RDS overwrites
(hi-csa-db.Rmd:593) — no isolation, no history. This module gives the
engine's published tables the Delta/Iceberg contract using nothing but
parquet + an append-only JSON log, the public recipe those formats
document:

- **Atomic commit**: data files are written first (invisible), then a
  version manifest ``_log/v{N}.json`` listing the table's CURRENT file
  set is published via atomic rename. Readers either see version N or
  N-1, never a torn state.
- **Snapshot isolation / time travel**: a read resolves one manifest
  and pins its file list; concurrent commits do not move it.
  ``version=`` reads any retained historical version.
- **Optimistic concurrency**: a commit targets version N+1; if
  ``v{N+1}.json`` already exists the writer lost the race and must
  rebase (CommitConflict) — same loser-retries model as Delta.
- **MERGE upsert**: copy-on-write — matched keys replaced, new keys
  appended, untouched data carried forward. At fixture scale every
  file is rewritten; at fleet scale the same commit protocol applies
  to only the files whose key ranges intersect the updates (file
  pruning via manifest min/max stats — the documented scale path).

- **Stored schema**: each manifest records its snapshot's schema
  (all fields nullable, as the parquet writer records it), so a read
  hands Spark the schema instead of inferring it — no ``mergeSchema``
  footer-scan job per snapshot resolution. File-carrying commits
  (append, stream-append) union the base schema by name with the new
  columns and raise on a type conflict; file-replacing commits store
  the written frame's schema.

Everything is driver-light: manifests hold file NAMES and the schema
(KB-scale); data moves only through executor-side parquet IO.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


class CommitConflict(Exception):
    """Another writer committed this version first — rebase and retry."""


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def current_version(path: str) -> int | None:
    """Highest committed version, or None for a nonexistent table."""
    d = _log_dir(path)
    if not os.path.isdir(d):
        return None
    versions = [
        int(f[1:-5])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(versions) if versions else None


def _manifest(path: str, version: int) -> dict:
    with open(os.path.join(_log_dir(path), f"v{version}.json")) as fh:
        return json.load(fh)


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, array element and map value nullable —
    the schema the parquet writer records and a read returns."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _union_schema(base: DataType, new: DataType, where: str = "") -> DataType:
    """Union two nullable schemas by field name, recursing into structs
    the way ``mergeSchema`` does: base fields keep their order, new
    fields are appended. Any other type mismatch is a conflict."""
    if isinstance(base, StructType) and isinstance(new, StructType):
        fields = {f.name: f for f in base.fields}
        for f in new.fields:
            old = fields.get(f.name)
            dt = _union_schema(old.dataType, f.dataType, f"{where}{f.name}.") if old else f.dataType
            fields[f.name] = StructField(f.name, dt, True, (old or f).metadata)
        return StructType(list(fields.values()))
    if isinstance(base, ArrayType) and isinstance(new, ArrayType):
        return ArrayType(_union_schema(base.elementType, new.elementType, where), True)
    if isinstance(base, MapType) and isinstance(new, MapType):
        return MapType(
            _union_schema(base.keyType, new.keyType, where),
            _union_schema(base.valueType, new.valueType, where),
            True,
        )
    if base != new:
        raise TypeError(
            f"schema conflict at {where.rstrip('.') or '<root>'}: "
            f"{base.simpleString()} vs {new.simpleString()}"
        )
    return base


def _stored_schema(manifest: dict) -> StructType | None:
    raw = manifest.get("schema")
    return StructType.fromJson(raw) if raw is not None else None


def _appended_schema(path: str, base: int | None, df: DataFrame) -> StructType | None:
    """Schema of a commit that carries the base snapshot's files and
    adds ``df``'s: the base schema unioned with ``df``'s. None (read
    falls back to inference) when the base predates stored schemas."""
    new = _as_nullable(df.schema)
    if base is None:
        return new
    old = _stored_schema(_manifest(path, base))
    return _union_schema(old, new) if old is not None else None


def _write_data_files(df: DataFrame, path: str) -> list[str]:
    """Write df as parquet into a fresh subdirectory of data/ and
    return the relative file names. Files are invisible to readers
    until a manifest references them."""
    batch = uuid.uuid4().hex[:12]
    out = os.path.join(_data_dir(path), batch)
    df.write.mode("errorifexists").parquet(out)
    return [
        os.path.join("data", batch, f)
        for f in os.listdir(out)
        if f.endswith(".parquet")
    ]


def _commit(
    path: str,
    version: int,
    files: list[str],
    op: str,
    meta: dict | None = None,
    schema: StructType | None = None,
) -> int:
    """Publish a manifest for ``version`` atomically; raise
    CommitConflict if someone else got there first. ``schema`` is the
    snapshot's schema; without one the base version's is carried
    forward."""
    os.makedirs(_log_dir(path), exist_ok=True)
    final = os.path.join(_log_dir(path), f"v{version}.json")
    tmp = final + f".{uuid.uuid4().hex[:8]}.tmp"
    body = {"version": version, "op": op, "files": sorted(files)}
    if schema is not None:
        body["schema"] = _as_nullable(schema).jsonValue()
    elif version > 0 and os.path.exists(os.path.join(_log_dir(path), f"v{version - 1}.json")):
        base_schema = _manifest(path, version - 1).get("schema")
        if base_schema is not None:
            body["schema"] = base_schema
    if meta:
        body.update(meta)
    with open(tmp, "w") as fh:
        json.dump(body, fh)
    if os.path.exists(final):
        os.remove(tmp)
        raise CommitConflict(f"version {version} already committed")
    try:
        # atomic on POSIX; os.link+unlink would harden against the
        # (local-FS-impossible) double-rename race on object stores,
        # where this layer would use a putIfAbsent conditional write
        os.rename(tmp, final)
    except OSError:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return version


def write_table(df: DataFrame, path: str, mode: str = "overwrite") -> int:
    """Create or replace ('overwrite') / extend ('append') the table;
    returns the committed version."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode}")
    base = current_version(path)
    schema = _appended_schema(path, base, df) if mode == "append" else df.schema
    files = _write_data_files(df, path)
    if mode == "append" and base is not None:
        files = _manifest(path, base)["files"] + files
    return _commit(
        path, (base if base is not None else -1) + 1, files, mode, schema=schema
    )


def append_batch(df: DataFrame, path: str, batch_id: int) -> int:
    """Exactly-once streaming append: commit ``df`` as one transaction
    tagged with the stream's monotonic ``batch_id``, skipping batches
    the table has already seen (Delta's idempotent-writes `txn`
    pattern — the manifest carries the high-water batch id forward, so
    the replay check is O(1), not a log scan).

    foreachBatch re-delivers a batch when a stream restarts after a
    sink write but before the checkpoint commit; without this tag the
    re-delivery would duplicate rows. Returns the (possibly unchanged)
    current version."""
    base = current_version(path)
    last = -1
    if base is not None:
        last = _manifest(path, base).get("last_batch_id", -1)
        if batch_id <= last:
            return base  # replayed batch: already durable, skip
    schema = _appended_schema(path, base, df)
    files = _write_data_files(df, path)
    if base is not None:
        files = _manifest(path, base)["files"] + files
    return _commit(
        path,
        (base if base is not None else -1) + 1,
        files,
        "stream-append",
        meta={"last_batch_id": max(last, batch_id)},
        schema=schema,
    )


def replace_batch(df: DataFrame, path: str, batch_id: int) -> int:
    """Exactly-once streaming OVERWRITE: commit ``df`` as the table's
    new full contents, tagged with ``batch_id`` and skipping replays —
    the companion to append_batch for maintained state tables (e.g.
    incremental rollups) whose every commit replaces the snapshot."""
    base = current_version(path)
    last = -1
    if base is not None:
        last = _manifest(path, base).get("last_batch_id", -1)
        if batch_id <= last:
            return base
    files = _write_data_files(df, path)
    return _commit(
        path,
        (base if base is not None else -1) + 1,
        files,
        "replace",
        meta={"last_batch_id": max(last, batch_id)},
        schema=df.schema,
    )


def read_table(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: resolve ONE manifest, pin its file list. Pass
    ``version`` for time travel.

    Schema evolution: the snapshot is read with the manifest's stored
    schema, so a table whose later commits added columns surfaces the
    union schema, old files null-filling the new columns — the
    additive-evolution contract Delta/Iceberg readers give, without a
    footer-inference job. (A snapshot of more files than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``, 32 by
    default, still starts Spark's parallel file-listing job.)
    Manifests written before schemas were stored fall back to
    ``mergeSchema`` inference. (Column renames/drops are a
    metadata problem this minimal format does not model; additive drift
    is the case ingest pipelines actually hit.)"""
    v = version if version is not None else current_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    m = _manifest(path, v)
    if not m["files"]:
        raise FileNotFoundError(f"version {v} of {path} is empty")
    return _reader(spark, m).parquet(*[os.path.join(path, f) for f in m["files"]])


def _reader(spark: SparkSession, manifest: dict) -> DataFrameReader:
    """Parquet reader pinned to the snapshot's stored schema."""
    schema = _stored_schema(manifest)
    if schema is None:
        return spark.read.option("mergeSchema", "true")
    return spark.read.schema(schema)


def merge_table(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> int:
    """MERGE (upsert): rows whose ``key`` matches are replaced by the
    update, new keys are appended — one copy-on-write commit. The read
    snapshot and the commit target are pinned together, so a
    concurrent commit surfaces as CommitConflict instead of silently
    merging into a stale base."""
    base = current_version(path)
    if base is None:
        raise FileNotFoundError(f"no committed version at {path}")
    cur = read_table(spark, path, base)
    merged = cur.join(
        updates.select(F.col(key).alias("__mk")), cur[key] == F.col("__mk"), "left_anti"
    ).unionByName(updates)
    files = _write_data_files(merged, path)
    return _commit(path, base + 1, files, "merge", schema=merged.schema)


def compact_table(
    spark: SparkSession, path: str, target_files: int = 1
) -> int:
    """OPTIMIZE: rewrite the current snapshot into ``target_files``
    data files and commit the rewrite as a new version — same logical
    rows, fewer files. Readers pinned to older manifests keep working
    (their files stay until vacuum); the small-files problem streaming
    appends accumulate is solved without a write outage."""
    base = current_version(path)
    if base is None:
        raise FileNotFoundError(f"no committed version at {path}")
    cur = read_table(spark, path, base).repartition(target_files)
    files = _write_data_files(cur, path)
    # carry the streaming high-water mark forward: a replayed batch
    # arriving right after a compaction must still be recognized
    last = _manifest(path, base).get("last_batch_id", -1)
    meta = {"last_batch_id": last} if last >= 0 else None
    return _commit(path, base + 1, files, "compact", meta=meta, schema=cur.schema)


def file_stats(path: str, version: int | None = None) -> dict[str, dict]:
    """Per-data-file column min/max from the parquet footers (pyarrow)
    for the given snapshot: {relative_file: {col: (min, max)}}. The
    manifest-level statistics Delta/Iceberg carry; read cheaply from
    footers here since manifests only hold names."""
    import pyarrow.parquet as pq

    v = version if version is not None else current_version(path)
    out: dict[str, dict] = {}
    for rel in _manifest(path, v)["files"]:
        md = pq.ParquetFile(os.path.join(path, rel)).metadata
        stats: dict[str, tuple] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                name = col.path_in_schema
                lo, hi = s.min, s.max
                if name in stats:
                    plo, phi = stats[name]
                    stats[name] = (min(plo, lo), max(phi, hi))
                else:
                    stats[name] = (lo, hi)
        out[rel] = stats
    return out


def read_table_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read that SKIPS data files whose [min, max] range for
    ``col`` cannot intersect [lo, hi] — manifest-level file pruning,
    the reason clustered writes (write_zordered / range-partitioned
    commits) pay off: a selective read touches only the files whose
    stats admit matches. Returns the same rows as
    ``read_table(...).filter(lo <= col <= hi)`` (the residual filter
    is still applied — stats only prune, never decide)."""
    v = version if version is not None else current_version(path)
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    stats = file_stats(path, v)
    keep = []
    for rel, st in stats.items():
        rng = st.get(col)
        if rng is None or not (rng[1] < lo or rng[0] > hi):
            keep.append(rel)
    if not keep:
        # preserve the snapshot schema with zero partitions scanned
        return read_table(spark, path, v).filter(F.lit(False))
    df = _reader(spark, _manifest(path, v)).parquet(
        *[os.path.join(path, f) for f in keep]
    )
    return df.filter((F.col(col) >= lo) & (F.col(col) <= hi))


def vacuum(path: str, keep_last: int = 2) -> int:
    """Drop manifests older than the last ``keep_last`` versions and
    any data files no retained manifest references. Returns the number
    of data files removed. (Time travel window == retention window,
    the standard trade.)"""
    d = _log_dir(path)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(d) if f.startswith("v") and f.endswith(".json")
    )
    retained = versions[-keep_last:]
    keep_files = set()
    for v in retained:
        keep_files.update(_manifest(path, v)["files"])
    removed = 0
    for v in versions[:-keep_last]:
        os.remove(os.path.join(d, f"v{v}.json"))
    for root, _dirs, files in os.walk(_data_dir(path)):
        for f in files:
            rel = os.path.relpath(os.path.join(root, f), path)
            if f.endswith(".parquet") and rel not in keep_files:
                os.remove(os.path.join(root, f))
                removed += 1
    return removed
