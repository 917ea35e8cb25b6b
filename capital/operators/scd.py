"""Slowly-changing-dimension (type 2) history maintenance.

The reference's silver dimensions are daily FULL refreshes (the
industry-code job rewrites ~6M rows, flagged costly at
dags/slv_industry_code_daily/industry_code_daily.py:15); the engine's
``io.upsert_jdbc`` gives latest-wins merges. SCD2 is the third shape —
keep every version with a validity interval — and is plain DataFrame
algebra:

- a dimension row is ``(keys…, attrs…, valid_from, valid_to)`` with
  ``valid_to IS NULL`` marking the open (current) version;
- applying a batch of updates effective at ``batch_date``:
  * open rows whose key arrives with CHANGED tracked attributes close
    (``valid_to = batch_date``) and a new open version is appended;
  * open rows whose key arrives unchanged, or does not arrive, stay;
  * unseen keys append as brand-new open versions;
  * already-closed history rows pass through untouched.

Shape at scale: ONE join of the open slice against the batch on the
dimension key (broadcast when the batch is a daily increment), a
null-safe tracked-column comparison, and unions — no window, no
global sort. Re-applying the identical batch is a no-op (the changed
set is empty), so crash-replay converges like the keyed upsert.
Comparisons use ``eqNullSafe`` so NULL→value and value→NULL attribute
transitions count as changes.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from capital.io import read_parquet, write_partitioned

VALID_FROM = "valid_from"
VALID_TO = "valid_to"


def scd2_init(
    snapshot: DataFrame, effective_date: str
) -> DataFrame:
    """Open an initial SCD2 table from a full snapshot: every row
    becomes the current version as of ``effective_date``."""
    return snapshot.withColumn(
        VALID_FROM, F.lit(effective_date).cast("date")
    ).withColumn(VALID_TO, F.lit(None).cast("date"))


def _same(tracked: list[str], left: str, right: str) -> Column:
    """Null-safe equality across all tracked columns."""
    terms = [
        F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}"))
        for c in tracked
    ]
    return functools.reduce(lambda a, b: a & b, terms)


def _scd2_batch_delta(
    open_rows: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    batch_date: str,
) -> tuple[DataFrame, DataFrame]:
    """One batch against the OPEN slice only → ``(new_open,
    newly_closed)``. The closed history is never an input: at a
    billion-row dimension the open slice is the working set and the
    closed slice is append-only archive (see :func:`scd2_apply_split`).
    """
    if not keys or not tracked:
        raise ValueError("scd2 apply needs non-empty keys and tracked")
    cols = keys + tracked
    o = open_rows.alias("o")
    # Explicit presence marker: absence after the left join is read
    # from this column, never inferred from tracked-column NULLs — so
    # an update that legitimately nullifies EVERY tracked attribute is
    # a change, not a silent drop.
    upd = updates.select(
        *cols, F.lit(True).alias("__in_batch")
    ).alias("u")

    joined = o.join(upd, keys, "left")
    absent = F.col("u.__in_batch").isNull()
    # Keep the open row when the key didn't arrive or arrived
    # unchanged; close-and-reopen otherwise.
    stays = _same(tracked, "o", "u") | absent
    keep_open = joined.filter(stays).select("o.*")
    to_close = joined.filter(~stays)
    closed_now = to_close.select("o.*").withColumn(
        VALID_TO, F.lit(batch_date).cast("date")
    )
    new_versions = to_close.select(
        *[F.col(f"o.{k}").alias(k) for k in keys],
        *[F.col(f"u.{c}").alias(c) for c in tracked],
    )
    brand_new = upd.drop("__in_batch").join(
        o.select(*[F.col(f"o.{k}").alias(k) for k in keys]),
        keys,
        "left_anti",
    )
    opened = scd2_init(new_versions.unionByName(brand_new), batch_date)
    return keep_open.unionByName(opened), closed_now


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    batch_date: str,
) -> DataFrame:
    """Apply one batch of updates to an SCD2 table; returns the new
    full history. ``updates`` carries ``keys + tracked`` (one row per
    key — enforce upstream with first_wins/dropDuplicates); ``dim``
    is a prior :func:`scd2_init`/``scd2_apply`` output.

    In-memory/small-dimension form: the result unions the FULL closed
    history, so persisting it rewrites everything each batch. For
    lake-resident dimensions use :func:`scd2_apply_split`, which
    touches only the open slice and appends the day's closures."""
    closed_history = dim.filter(F.col(VALID_TO).isNotNull())
    open_rows = dim.filter(F.col(VALID_TO).isNull())
    new_open, closed_now = _scd2_batch_delta(
        open_rows, updates, keys, tracked, batch_date
    )
    return closed_history.unionByName(closed_now).unionByName(new_open)


def scd2_current(dim: DataFrame) -> DataFrame:
    """The current snapshot: open versions only, validity dropped."""
    return dim.filter(F.col(VALID_TO).isNull()).drop(VALID_FROM, VALID_TO)


def scd2_asof_lookup(
    facts: DataFrame,
    dim: DataFrame,
    keys: list[str],
    ts_col: str,
    how: str = "left",
    broadcast: bool | None = None,
) -> DataFrame:
    """Temporal dimension lookup: join each fact to the dimension
    VERSION valid at the fact's timestamp
    (``valid_from <= ts < valid_to``, open version unbounded).

    Plan shape at scale: when the history table is dimension-sized (a
    few versions per member) it broadcasts and the equi-key hash join
    carries the interval predicate as its residual condition — no
    fact-side shuffle, no range explosion (each fact matches at most
    one version because validity intervals partition time per key).

    ``broadcast``: ``True`` forces the broadcast hint (caller KNOWS
    the history is small); ``False`` forbids it (fact-sized "dim" —
    the ``merge`` hint forces a shuffled sort-merge join instead of a
    driver OOM); ``None`` (default, safe) adds no hint and lets
    Catalyst/AQE decide from measured sizes — small histories still
    broadcast at runtime via the autoBroadcastJoinThreshold,
    oversized ones never do.
    """
    f = facts.alias("f")
    d = dim.alias("d")
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"f.{k}") == F.col(f"d.{k}") for k in keys],
    )
    ts = F.col(f"f.{ts_col}")
    cond = (
        cond
        & (ts >= F.col(f"d.{VALID_FROM}"))
        & (F.col(f"d.{VALID_TO}").isNull() | (ts < F.col(f"d.{VALID_TO}")))
    )
    dim_cols = [c for c in dim.columns if c not in keys]
    if broadcast:
        right = F.broadcast(d)
    elif broadcast is False:
        right = d.hint("merge")
    else:
        right = d
    return f.join(right, cond, how).select(
        "f.*", *[F.col(f"d.{c}").alias(c) for c in dim_cols]
    )


# --- split storage: open slice rewritten, closed history append-only ----

_OPEN = "open"
_CLOSED = "closed"


def scd2_init_split(
    snapshot: DataFrame, path: str, effective_date: str
) -> None:
    """Materialize an initial SCD2 table in the SPLIT layout:

    - ``{path}/open``    — the open (current) versions; the only slice
      a batch ever rewrites;
    - ``{path}/closed``  — closed versions, Hive-partitioned by
      ``valid_to``; append-only (one new partition per batch date).

    This is the 100×-scale posture the in-memory :func:`scd2_apply`
    deliberately does not take: at a billion-row dimension the closed
    history dwarfs the open slice and must never be rewritten per day
    (the full-refresh pattern the reference was flagged for,
    dags/slv_industry_code_daily/industry_code_daily.py:15)."""
    scd2_init(snapshot, effective_date).write.mode("overwrite").parquet(
        f"{path}/{_OPEN}"
    )


def scd2_apply_split(
    spark,
    path: str,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    batch_date: str,
) -> None:
    """Apply one batch to a split-layout SCD2 table IN PLACE.

    Writes, in crash-recoverable order:

    1. the day's newly-closed rows into ``closed/valid_to=batch_date``
       via **dynamic partition overwrite** — a replay of the same
       batch regenerates the identical partition instead of appending
       duplicates (the same idempotence contract as the streaming
       partition sink);
    2. the new open slice via the compaction staging/backup swap
       (``io.compact_partition``'s two-rename protocol — the open
       slice cannot be overwritten in place while the plan still
       reads it). A crash between the renames is repaired by
       ``io.recover_compaction(f"{path}/open")`` at job start.

    Step order makes replay converge: if the job dies after (1), the
    open slice still holds the pre-batch versions, and re-running
    recomputes the same closures from them.

    Shuffle account at scale: ONE join of the open slice against the
    batch on the dimension key (broadcast when the batch is a daily
    increment — pass a pre-filtered/deduped batch); the closed
    history is never read, shuffled, or rewritten."""
    import pathlib
    import shutil

    from capital.io import _COMPACT_OLD, _COMPACT_TMP

    open_dir = pathlib.Path(path) / _OPEN
    closed_dir = f"{path}/{_CLOSED}"
    open_rows = read_parquet(spark, str(open_dir))
    new_open, closed_now = _scd2_batch_delta(
        open_rows, updates, keys, tracked, batch_date
    )

    # (1) Append-only closed history: exactly the valid_to=batch_date
    # partition is (re)written; every earlier partition is untouched.
    write_partitioned(closed_now, closed_dir, VALID_TO)

    # (2) Stage → swap the open slice (reader-safe, crash-recoverable).
    staging = open_dir.parent / _COMPACT_TMP / _OPEN
    backup = open_dir.parent / _COMPACT_OLD / _OPEN
    shutil.rmtree(staging, ignore_errors=True)
    staging.parent.mkdir(parents=True, exist_ok=True)
    new_open.write.mode("overwrite").parquet(str(staging))
    shutil.rmtree(backup, ignore_errors=True)
    backup.parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(open_dir), str(backup))
    shutil.move(str(staging), str(open_dir))
    shutil.rmtree(backup)


def scd2_read_split(spark, path: str) -> DataFrame:
    """The recombined full history over a split layout — semantically
    identical to the corresponding :func:`scd2_apply` result. The
    ``valid_to`` partition column is restored to a plain DATE column;
    queries that filter on it (e.g. "versions closed this quarter")
    prune closed partitions at plan time."""
    import pathlib

    open_df = read_parquet(spark, f"{path}/{_OPEN}")
    closed_dir = pathlib.Path(path) / _CLOSED
    # No closed partitions yet (fresh table, or only no-op batches so
    # far — a no-op batch leaves just a _SUCCESS marker).
    if not any(closed_dir.glob(f"{VALID_TO}=*")):
        return open_df
    closed = read_parquet(spark, str(closed_dir)).withColumn(
        VALID_TO, F.col(VALID_TO).cast("date")
    )
    return open_df.unionByName(closed.select(*open_df.columns))
