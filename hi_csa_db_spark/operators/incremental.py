"""Incremental aggregation: mergeable partial states.

The 100 TB pipeline pattern the reference's crawl-or-cache guard
gestures at (hi-csa-db.Rmd:105-131): never recompute an aggregate over
the whole history when a delta arrives — keep a partial-state table
(count / sum / min / max / decimal-exact sums per group) and MERGE the
delta's partials in. Works because these aggregates form a commutative
monoid; avg and friends derive from (sum, count) at read time.

merge(state(A), state(B)) == state(A ∪ B) exactly — the decimal sums
make the equality bit-exact, not approximate (tests assert ==).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE_COLS = ("n_rows", "sum_v", "min_v", "max_v")


def agg_state(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Aggregate rows into a mergeable per-key state."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(28,2)")).alias("sum_v"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_states(base: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge two state tables (full outer on keys, monoid combine)."""
    b = base.select(*keys, *[F.col(c).alias(f"__b_{c}") for c in STATE_COLS])
    d = delta.select(*keys, *[F.col(c).alias(f"__d_{c}") for c in STATE_COLS])
    j = b.join(d, list(keys), "full")
    zero = F.lit(0)
    zdec = F.lit(0).cast("decimal(28,2)")
    return j.select(
        *keys,
        (F.coalesce("__b_n_rows", zero) + F.coalesce("__d_n_rows", zero)).alias(
            "n_rows"
        ),
        (F.coalesce("__b_sum_v", zdec) + F.coalesce("__d_sum_v", zdec)).alias(
            "sum_v"
        ),
        F.least(
            F.coalesce("__b_min_v", F.col("__d_min_v")),
            F.coalesce("__d_min_v", F.col("__b_min_v")),
        ).alias("min_v"),
        F.greatest(
            F.coalesce("__b_max_v", F.col("__d_max_v")),
            F.coalesce("__d_max_v", F.col("__b_max_v")),
        ).alias("max_v"),
    )


def finalize(state: DataFrame) -> DataFrame:
    """Derive read-time metrics from the state (avg from sum/count)."""
    return state.select(
        "*",
        F.round(F.col("sum_v").cast("double") / F.col("n_rows"), 6).alias("avg_v"),
    )


# ---------------------------------------------------------------------------
# maintained rollup: partial states + versioned storage = the
# continuous aggregate (a materialized view that ingests deltas)
# ---------------------------------------------------------------------------


def maintain_rollup(
    spark,
    table_path: str,
    delta: DataFrame,
    keys: list[str],
    value_col: str,
    batch_id: int | None = None,
) -> int:
    """Merge a delta's partial states into the versioned rollup table
    (txlog commit) — incremental view maintenance end-to-end: never
    re-aggregate history, commit atomically, keep every prior snapshot
    readable (time travel), and — when ``batch_id`` is given — skip
    replayed stream batches exactly-once-style.

    Scale: the delta aggregates map-side to one row per touched key;
    the merge is a full-outer join ON THE STATE TABLE (aggregate-sized,
    not data-sized). At fleet scale the state table is partitioned by
    key range so a commit rewrites only intersecting files (the txlog
    MERGE note); history never gets re-read. Returns the committed (or
    unchanged, if replayed) version."""
    from hi_csa_db_spark.sources import txlog

    delta_state = agg_state(delta, keys, value_col)
    base_version = txlog.current_version(table_path)
    if base_version is None:
        merged = delta_state
    else:
        if batch_id is not None:
            last = txlog._manifest(table_path, base_version).get(
                "last_batch_id", -1
            )
            if batch_id <= last:
                return base_version
        merged = merge_states(
            txlog.read_table(spark, table_path, base_version), delta_state, keys
        )
    if batch_id is not None:
        return txlog.replace_batch(merged, table_path, batch_id)
    files = txlog._write_data_files(merged, table_path)
    return txlog._commit(
        table_path,
        (base_version if base_version is not None else -1) + 1,
        files,
        "rollup-merge",
        schema=merged.schema,
    )


def read_rollup(spark, table_path: str, version: int | None = None) -> DataFrame:
    """Snapshot (or time-travel) read of a maintained rollup, with the
    derived metrics finalized."""
    from hi_csa_db_spark.sources import txlog

    return finalize(txlog.read_table(spark, table_path, version))


def delta_join(
    old_left: DataFrame,
    delta_left: DataFrame,
    old_right: DataFrame,
    delta_right: DataFrame,
    on: list[str],
) -> DataFrame:
    """Incremental maintenance of an INNER-JOIN view under insert-only
    deltas — the classic IVM identity:

        Δ(L ⋈ R) = (ΔL ⋈ R_old) ∪ (L_old ⋈ ΔR) ∪ (ΔL ⋈ ΔR)

    Returns exactly the rows to APPEND to the materialized join view
    (multiset semantics — unionAll, no dedup), so
    view_new = view_old ∪ delta_join(...) bit-exactly; composed with
    agg_state/merge_states this maintains an aggregate-over-join view
    end to end without ever re-joining history.

    Scale: the two cross terms join a DELTA against a base — Catalyst
    broadcasts the delta side when small (the common case), and a
    key-range-partitioned base means only intersecting partitions are
    read; ΔL ⋈ ΔR is delta-sized. History-size work never happens —
    that is the point."""
    cols = delta_left.join(old_right.limit(0), on).columns
    return (
        delta_left.join(old_right, on)
        .select(*cols)
        .unionByName(old_left.join(delta_right, on).select(*cols))
        .unionByName(delta_left.join(delta_right, on).select(*cols))
    )
