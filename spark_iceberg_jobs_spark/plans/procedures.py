"""Iceberg maintenance procedure CALL builders — the execute half of the
planning tier (queries/maintenance.py).

The reference's tables are Iceberg (job1-DDL_Load_Data_Spark_Iceberg.py:
184-275); a real deployment maintains them with the four documented
``CALL <catalog>.system.<procedure>(...)`` statements. The planners in
queries/maintenance.py decide WHAT to run (which partitions to compact,
what to expire, what is orphaned); this module renders those decisions as
the exact procedure invocations, from the SAME retention constants — one
source of truth, the same no-drift principle plans/ddl.py applies to DDL.

Execution is gated on session.iceberg_available() exactly like
execute_ddls (no runtime jar in this container → loud failure, never a
silent no-op); rendering works everywhere and is text-pinned by tests.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import SparkSession

from ..session import iceberg_available

#: dotted identifier: each segment starts with a letter/underscore. The
#: builders interpolate table names into SQL text, so anything else is
#: rejected up-front (injection guard, same posture as schemas.py's
#: explicit types).
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def _check_ident(name: str, what: str) -> str:
    # fullmatch, not match-with-$: $ also matches before a trailing
    # newline, so 'tbl\n' would validate and the newline would land in
    # the rendered CALL text (ADVICE r7 — malformed output, not injection;
    # the charset still cannot escape the quotes)
    if not _IDENT.fullmatch(name):
        raise ValueError(f"{what} {name!r} is not a plain dotted identifier")
    return name


def _ts_literal(ts: datetime.date | datetime.datetime | str) -> str:
    """Render a TIMESTAMP literal; dates mean midnight (Iceberg's
    older_than compares snapshot commit timestamps)."""
    if isinstance(ts, str):
        # accept pre-formatted 'YYYY-MM-DD[ HH:MM:SS]' strings only
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}( \d{2}:\d{2}:\d{2})?", ts):
            raise ValueError(f"timestamp literal {ts!r} not in YYYY-MM-DD[ HH:MM:SS] form")
        text = ts if " " in ts else f"{ts} 00:00:00"
    elif isinstance(ts, datetime.datetime):
        text = ts.strftime("%Y-%m-%d %H:%M:%S")
    else:
        text = f"{ts.isoformat()} 00:00:00"
    return f"TIMESTAMP '{text}'"


def expire_snapshots_call(
    table: str,
    *,
    older_than: datetime.date | datetime.datetime | str,
    retain_last: int,
    catalog: str = "spark_catalog",
) -> str:
    """``expire_snapshots(older_than => …, retain_last => …)`` — the
    procedure whose keep-set maintenance_snapshot_expiry plans
    (``keep_from = LEAST(age_cutoff, nth_newest)`` is exactly this
    procedure's retention rule: retain_last is a floor)."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1 (Iceberg requires a live snapshot)")
    return (
        f"CALL {catalog}.system.expire_snapshots("
        f"table => '{table}', "
        f"older_than => {_ts_literal(older_than)}, "
        f"retain_last => {retain_last})"
    )


def remove_orphan_files_call(
    table: str,
    *,
    older_than: datetime.date | datetime.datetime | str,
    dry_run: bool = True,
    catalog: str = "spark_catalog",
) -> str:
    """``remove_orphan_files(older_than => …)`` — the vacuum whose
    candidate set maintenance_orphan_files reports. ``dry_run`` defaults
    True: the planner's report IS the dry run, and the destructive pass
    should be an explicit opt-in."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    return (
        f"CALL {catalog}.system.remove_orphan_files("
        f"table => '{table}', "
        f"older_than => {_ts_literal(older_than)}, "
        f"dry_run => {'true' if dry_run else 'false'})"
    )


def rewrite_data_files_call(
    table: str,
    *,
    target_file_size_bytes: int,
    where: str | None = None,
    catalog: str = "spark_catalog",
) -> str:
    """``rewrite_data_files(strategy => 'binpack', …)`` — the compaction
    maintenance_compaction_bins plans (its running-sum bins are binpack's
    per-partition rewrite groups). ``where`` scopes the rewrite to the
    partitions the health audit flagged; it is passed as a quoted option
    string, single quotes escaped."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    if target_file_size_bytes <= 0:
        raise ValueError("target_file_size_bytes must be positive")
    parts = [
        f"table => '{table}'",
        "strategy => 'binpack'",
        f"options => map('target-file-size-bytes', '{target_file_size_bytes}')",
    ]
    if where is not None:
        parts.append("where => '{}'".format(where.replace("'", "''")))
    return f"CALL {catalog}.system.rewrite_data_files({', '.join(parts)})"


def rewrite_manifests_call(table: str, *, catalog: str = "spark_catalog") -> str:
    """``rewrite_manifests`` — metadata compaction after heavy commit
    churn (the commit-log model above generates one manifest per day)."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    return f"CALL {catalog}.system.rewrite_manifests(table => '{table}')"


def rewrite_position_delete_files_call(
    table: str, *, catalog: str = "spark_catalog"
) -> str:
    """``rewrite_position_delete_files`` — the delete-file compaction
    whose equality-delete analogue ``filetable.fold_deletes`` EXECUTES
    on the parquet fallback (r10): folds MOR delete files back into data
    files so reads drop the anti join."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    return (
        f"CALL {catalog}.system.rewrite_position_delete_files(table => '{table}')"
    )


def rollback_to_snapshot_call(
    table: str, snapshot_id: int, *, catalog: str = "spark_catalog"
) -> str:
    """``rollback_to_snapshot`` — on the fallback,
    maintenance_rollback_plan plans it and filetable.read_table(version=)
    serves any retained snapshot; no executed rollback exists there."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    if snapshot_id < 0:
        raise ValueError("snapshot_id must be non-negative")
    return (
        f"CALL {catalog}.system.rollback_to_snapshot(table => '{table}', "
        f"snapshot_id => {int(snapshot_id)})"
    )


def fast_forward_call(
    table: str, branch: str, *, to: str = "main", catalog: str = "spark_catalog"
) -> str:
    """``fast_forward`` — publish a WAP branch head; executed on the
    fallback by filetable.fast_forward_table (ancestry-gated)."""
    _check_ident(table, "table")
    _check_ident(catalog, "catalog")
    _check_ident(branch, "branch")
    _check_ident(to, "branch")
    return (
        f"CALL {catalog}.system.fast_forward(table => '{table}', "
        f"branch => '{to}', to => '{branch}')"
    )


def maintenance_calls(
    spark: SparkSession,
    sf_dir: str,
    *,
    table: str = "bootcamp.orders",
    catalog: str = "spark_catalog",
) -> dict[str, str]:
    """Render the full maintenance pass for the fixture's commit log with
    the SAME constants the planners use: expire_snapshots at the computed
    ``keep_from``, remove_orphan_files at the grace cutoff, and a binpack
    rewrite at the compaction target. One bounded 1-row collect (the
    retention scalars — the same frame both planners broadcast)."""
    from ..queries.maintenance import (
        _COMPACT_TARGET,
        _EXPIRE_AGE_DAYS,
        _ORPHAN_GRACE_DAYS,
        _RETAIN_LAST,
        _daily_files,
        _retention_scalars,
    )

    from ..functions.cache import release

    daily = _daily_files(spark, sf_dir)
    scal = _retention_scalars(daily, _RETAIN_LAST, _EXPIRE_AGE_DAYS).first()
    release(daily)  # single consumer here — drop the shared persist now
    orphan_cutoff = scal.max_dt - datetime.timedelta(days=_ORPHAN_GRACE_DAYS)
    return {
        "expire_snapshots": expire_snapshots_call(
            table,
            older_than=scal.keep_from,
            retain_last=_RETAIN_LAST,
            catalog=catalog,
        ),
        "remove_orphan_files": remove_orphan_files_call(
            table, older_than=orphan_cutoff, catalog=catalog
        ),
        "rewrite_data_files": rewrite_data_files_call(
            table, target_file_size_bytes=_COMPACT_TARGET, catalog=catalog
        ),
        "rewrite_manifests": rewrite_manifests_call(table, catalog=catalog),
    }


def execute_calls(spark: SparkSession, calls: dict[str, str]) -> None:
    """Execute rendered procedure calls — fail-fast like execute_ddls:
    CALL is Iceberg-procedure syntax, so a session without the runtime
    must raise up-front, never half-run a maintenance pass."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "iceberg-spark-runtime is not on the classpath; "
            "maintenance procedures cannot run (rendering still works)"
        )
    for stmt in calls.values():
        spark.sql(stmt)
