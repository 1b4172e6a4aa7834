"""Config-driven retention purge over Parquet tables.

Re-expresses the reference's Oracle AutoPurge package
(`/root/reference/src/SQL/AutoPurge.sql`) for immutable Parquet storage:
"DELETE WHERE <pred>" becomes "rewrite the table without the matching rows"
(anti-filter + atomic directory swap).

Parity map (SURVEY.md §2.1 O13-O22):

- config catalog ``(user_name, table_name, action, sqlstatement,
  max_record_count)`` (AutoPurge.sql:13-19, :67-72) → :class:`PurgeConfig`
- table-list dispatch ``'all' | 't1,t2'`` (:216-255) → ``table_list`` param
- existence check (:44-57, :101-105) → path check, skip + audit
- COUNT(*) guard vs max_record_count (:139-149) → ``filter(pred).count()``
- TRUNCATE fast path (:129-138) → staged overwrite with an empty
  same-schema dataset (``maintenance.staged``)
- ``action='SQL'`` verbatim statement (:74-95) → ``spark.sql`` on a temp
  view (SELECT/maintenance) or DELETE-translation to anti-filter
- DELETE with PARALLEL hint (:170-174) → anti-filter rewrite; parallel
  degree selection (:107-120) is subsumed by Spark/AQE
- debug/dry-run mode (:77-79) + savepoint/rollback (:81-92) → ``dry_run``
  (no transactional rollback over raw Parquet; the swap keeps the previous
  data until the new write commits)
- FK disable/enable around the delete (:151-168, :176-192) → N/A: no
  enforced constraints in Spark; documented no-op
- audit log table (:60-65) → append-mode Parquet audit sink

NULL semantics: SQL DELETE removes rows where the predicate is TRUE; rows
where it evaluates NULL survive. The anti-filter is therefore
``NOT coalesce(pred, FALSE)``, not a bare ``~pred`` — implemented once in
:func:`csv_parquet_s3_spark.maintenance.delete_where`, which this module
shares with the BM25/IVF index delete paths.

Scale: guard count and rewrite are single distributed passes; the swap is
O(1) directory metadata (``maintenance.staged``). On object stores the same
staged-prefix swap applies (write to a staging prefix, then repoint/rename).
"""

from __future__ import annotations

import datetime
import logging
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from csv_parquet_s3_spark.maintenance import _staged_overwrite, delete_where
from csv_parquet_s3_spark.sources.tables import read_parquet

logger = logging.getLogger(__name__)

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("log_timestamp", T.TimestampType(), False),
        T.StructField("log_message", T.StringType(), False),
        T.StructField("user_name", T.StringType(), True),
        T.StructField("table_name", T.StringType(), True),
    ]
)

_DELETE_RE = re.compile(r"^\s*DELETE\s+FROM\s+(\S+)\s+WHERE\s+(.+)$", re.IGNORECASE | re.DOTALL)
_TRUNCATE_RE = re.compile(r"^\s*TRUNCATE\s+TABLE\s+(\S+)\s*$", re.IGNORECASE)


@dataclass
class PurgeConfig:
    """One PURGE_CONFIG row (AutoPurge.sql:13-19)."""

    table_name: str
    action: str | None  # 'SQL' | 'CRITERIA' | None/'' → skip
    sqlstatement: str | None  # verbatim stmt (SQL) or WHERE fragment (CRITERIA)
    max_record_count: int = 0
    user_name: str | None = None


@dataclass
class PurgeOutcome:
    table_name: str
    status: str  # purged | truncated | aborted | skipped | dry_run | error | sql
    rows_matched: int = 0
    rows_kept: int = 0
    detail: str = ""


@dataclass
class PurgeResult:
    outcomes: list[PurgeOutcome] = field(default_factory=list)
    audit: list[tuple] = field(default_factory=list)


class Purger:
    """Runs purge configs against a directory of Parquet tables."""

    def __init__(
        self,
        spark: SparkSession,
        tables_root: str,
        audit_path: str | None = None,
        dry_run: bool = False,
    ) -> None:
        self.spark = spark
        self.tables_root = tables_root
        self.audit_path = audit_path
        self.dry_run = dry_run
        self._audit_rows: list[tuple] = []

    # -- infrastructure ----------------------------------------------------
    def _table_path(self, table: str) -> str:
        return os.path.join(self.tables_root, table)

    def _log(self, message: str, user: str | None, table: str | None) -> None:
        """DBMS_OUTPUT + Purge_Audit insert (AutoPurge.sql:60-65)."""
        logger.info("[purge] %s", message)
        self._audit_rows.append(
            (datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None), message, user, table)
        )

    def _flush_audit(self) -> None:
        if self.audit_path and self._audit_rows:
            df = self.spark.createDataFrame(self._audit_rows, AUDIT_SCHEMA)
            df.write.mode("append").parquet(self.audit_path)

    def _load(self, table: str) -> DataFrame:
        return read_parquet(self.spark, self._table_path(table))

    # -- actions -----------------------------------------------------------
    def _truncate(self, cfg: PurgeConfig) -> PurgeOutcome:
        df = self._load(cfg.table_name)
        if not self.dry_run:
            _staged_overwrite(df.limit(0), self._table_path(cfg.table_name), "._truncate-")
        self._log(f"Truncated table {cfg.table_name}", cfg.user_name, cfg.table_name)
        return PurgeOutcome(cfg.table_name, "dry_run" if self.dry_run else "truncated")

    def _criteria(self, cfg: PurgeConfig) -> PurgeOutcome:
        """Predicate DELETE with guard count (AutoPurge.sql:139-174).

        The O13 semantics — NULL-correct anti-filter, COUNT(*) guard,
        staged-swap rewrite — live in ONE shared primitive,
        :func:`csv_parquet_s3_spark.maintenance.delete_where` (also the
        engine behind the BM25/IVF index deletes); this method only maps
        its outcome onto the purge audit log.
        """
        where = re.sub(r"^\s*WHERE\s+", "", cfg.sqlstatement or "", flags=re.IGNORECASE)
        status, matched, kept = delete_where(
            self.spark,
            self._table_path(cfg.table_name),
            where,
            guard_max=cfg.max_record_count,
            dry_run=self.dry_run,
        )
        if status == "aborted":  # guard trip (AutoPurge.sql:144-149)
            self._log(
                f"Purge aborted for {cfg.table_name}: {matched} rows match, "
                f"exceeds max_record_count {cfg.max_record_count}",
                cfg.user_name,
                cfg.table_name,
            )
            return PurgeOutcome(cfg.table_name, "aborted", rows_matched=matched)
        if status == "dry_run":  # debug mode: log, don't execute (AutoPurge.sql:77-79)
            self._log(
                f"[dry-run] Would delete {matched} rows from {cfg.table_name} WHERE {where}",
                cfg.user_name,
                cfg.table_name,
            )
            return PurgeOutcome(cfg.table_name, "dry_run", rows_matched=matched)
        self._log(
            f"Deleted {matched} rows from {cfg.table_name} WHERE {where} ({kept} kept)",
            cfg.user_name,
            cfg.table_name,
        )
        return PurgeOutcome(cfg.table_name, "purged", rows_matched=matched, rows_kept=kept)

    def _sql(self, cfg: PurgeConfig) -> PurgeOutcome:
        stmt = (cfg.sqlstatement or "").strip()
        if _TRUNCATE_RE.match(stmt):
            return self._truncate(cfg)
        m = _DELETE_RE.match(stmt)
        if m:
            # translate DELETE → CRITERIA semantics on the named table
            sub = PurgeConfig(
                table_name=cfg.table_name,
                action="CRITERIA",
                sqlstatement=m.group(2),
                max_record_count=cfg.max_record_count,
                user_name=cfg.user_name,
            )
            return self._criteria(sub)
        # anything else: run verbatim against a registered view
        self._load(cfg.table_name).createOrReplaceTempView(cfg.table_name)
        result = self.spark.sql(stmt)
        n = result.count()
        self._log(
            f"Executed SQL for {cfg.table_name}: {stmt} ({n} result rows)",
            cfg.user_name,
            cfg.table_name,
        )
        return PurgeOutcome(cfg.table_name, "sql", rows_matched=n)

    # -- dispatch ----------------------------------------------------------
    def run(self, configs: list[PurgeConfig], table_list: str = "all") -> PurgeResult:
        """Per-table loop with action dispatch (AutoPurge.sql:230-255)."""
        wanted = None
        if table_list.lower() != "all":
            wanted = {t.strip().lower() for t in table_list.split(",") if t.strip()}
        result = PurgeResult()
        for cfg in configs:
            if wanted is not None and cfg.table_name.lower() not in wanted:
                continue
            try:
                if not cfg.action or not str(cfg.action).strip():
                    self._log(
                        f"No action configured for {cfg.table_name}, skipping",
                        cfg.user_name,
                        cfg.table_name,
                    )
                    result.outcomes.append(PurgeOutcome(cfg.table_name, "skipped"))
                    continue
                if not os.path.exists(self._table_path(cfg.table_name)):
                    # ValidateTable miss (AutoPurge.sql:101-105)
                    self._log(
                        f"Table {cfg.table_name} does not exist, skipping",
                        cfg.user_name,
                        cfg.table_name,
                    )
                    result.outcomes.append(
                        PurgeOutcome(cfg.table_name, "skipped", detail="missing table")
                    )
                    continue
                action = str(cfg.action).strip().upper()
                if action == "CRITERIA":
                    result.outcomes.append(self._criteria(cfg))
                elif action == "SQL":
                    result.outcomes.append(self._sql(cfg))
                else:
                    self._log(
                        f"Unknown action {cfg.action!r} for {cfg.table_name}, skipping",
                        cfg.user_name,
                        cfg.table_name,
                    )
                    result.outcomes.append(
                        PurgeOutcome(cfg.table_name, "skipped", detail=f"action={cfg.action!r}")
                    )
            except Exception as exc:  # per-table isolation
                logger.error("Purge failed for %s: %s", cfg.table_name, exc)
                self._log(
                    f"Purge failed for {cfg.table_name}: {exc}", cfg.user_name, cfg.table_name
                )
                result.outcomes.append(PurgeOutcome(cfg.table_name, "error", detail=str(exc)))
        self._flush_audit()
        result.audit = list(self._audit_rows)
        return result


def run_purge(
    spark: SparkSession,
    configs: list[PurgeConfig],
    tables_root: str,
    table_list: str = "all",
    dry_run: bool = False,
    audit_path: str | None = None,
) -> PurgeResult:
    return Purger(spark, tables_root, audit_path=audit_path, dry_run=dry_run).run(
        configs, table_list=table_list
    )
