"""The universal command runner + command log — CommandExecute analogue.

Every check the engine issues flows through :func:`run_command`
(the reference's narrow waist: CommandExecute.sql:197-249, called from
IC:548,555,694 and DIC:1365,1487,1524,1652,1691).  It:

- logs a start line, executes the kernel with error capture, logs the
  outcome (Succeeded / Failed / Not Executed) and duration,
- appends one completed row to the ``command_log`` table
  (CommandLog.sql:7-28 schema).  The reference INSERTs a start row then
  UPDATEs it (CE:185-191,242-249); on an append-only parquet log the
  idiomatic unit is the completed row, buffered in the driver and
  flushed in batches (SURVEY §2.1 #8).  Each flush is one new part
  file written by pyarrow on the driver (no Spark job) under a hidden
  ``.``-prefixed name and renamed in place, so a crash never leaves a
  partial part; Spark (:meth:`CommandLog.df`) and DuckDB read the
  directory.  Row ids continue from the largest id already in the log,
  read from the parts' footer statistics (CommandLog.ID is an IDENTITY
  key, CL:7).
- dry-run (``execute='N'``, CE:197,204): the command is logged with
  outcome 'Not Executed' and the kernel is skipped.
"""

from __future__ import annotations

import logging
import os
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.kernels import KernelResult
from .arrowio import write_rows
from .specs import CheckSpec

logger = logging.getLogger("integritychecksforvldbs_spark")

COMMAND_LOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("database_name", T.StringType()),
        T.StructField("schema_name", T.StringType()),
        T.StructField("object_name", T.StringType()),
        T.StructField("object_type", T.StringType()),
        T.StructField("index_name", T.StringType()),
        T.StructField("index_type", T.IntegerType()),
        T.StructField("statistics_name", T.StringType()),
        T.StructField("partition_number", T.IntegerType()),
        T.StructField("extended_info", T.StringType()),  # JSON (xml in ref)
        T.StructField("command", T.StringType()),
        T.StructField("command_type", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("error_number", T.IntegerType()),
        T.StructField("error_message", T.StringType()),
    ]
)


def _utcnow() -> datetime:
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _max_log_id(path: str) -> int:
    """The largest ``id`` in a log directory's parts, from their footer
    statistics (Spark and pyarrow both write min/max for it)."""
    import pyarrow.parquet as pq

    best = 0
    if not os.path.isdir(path):
        return best
    for name in os.listdir(path):
        if name.startswith((".", "_")) or not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        col = md.schema.names.index("id")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            if st is not None and st.has_min_max:
                best = max(best, st.max)
    return best


class CommandLog:
    """Append-only parquet audit log (CommandLog.sql analogue).

    Rows are buffered on the driver and flushed as one parquet part
    per flush — a 100 TB run issues thousands of commands; one tiny
    file per command would melt the file listing, so the flush batches.
    """

    def __init__(self, spark: SparkSession, path: str | None, flush_every: int = 64):
        self.spark = spark
        self.path = path
        self.flush_every = flush_every
        self._buffer: list[dict[str, Any]] = []
        self._next_id = _max_log_id(path) + 1 if path else 1

    def append(self, row: dict[str, Any]) -> int:
        row = dict(row)
        row["id"] = self._next_id
        self._next_id += 1
        self._buffer.append(row)
        if self.path and len(self._buffer) >= self.flush_every:
            self.flush()
        return row["id"]

    def flush(self) -> None:
        if not self.path or not self._buffer:
            return
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, "." + name)
        try:
            write_rows(self._buffer, COMMAND_LOG_SCHEMA, tmp)
            os.rename(tmp, os.path.join(self.path, name))
        except Exception:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise
        self._buffer.clear()

    def df(self) -> DataFrame:
        """The full log as a DataFrame (flushes buffered rows first)."""
        self.flush()
        if not self.path:
            return self.spark.createDataFrame([], COMMAND_LOG_SCHEMA)
        try:
            return self.spark.read.schema(COMMAND_LOG_SCHEMA).parquet(self.path)
        except Exception:
            return self.spark.createDataFrame([], COMMAND_LOG_SCHEMA)


def last_good_check_df(log_df: DataFrame) -> DataFrame:
    """Last successful CHECKDB per DB (SURVEY §2.1 #7, DIC:979-990)."""
    from pyspark.sql import functions as F

    return (
        log_df.filter(
            (F.col("command_type") == "DBCC_CHECKDB") & (F.col("error_number") == 0)
        )
        .groupBy("database_name")
        .agg(F.max("start_time").alias("last_good_check"))
    )


@dataclass
class CommandOutcome:
    spec: CheckSpec
    result: KernelResult | None
    start_time: datetime
    end_time: datetime
    error_number: int
    error_message: str | None
    executed: bool
    log_id: int | None = None
    severity: int = 16  # RAISERROR severity of the failure (CE:213-222)

    @property
    def duration_ms(self) -> int:
        return int((self.end_time - self.start_time).total_seconds() * 1000)

    @property
    def is_error(self) -> bool:
        """Whether this outcome fails the run.  A lock timeout logged
        at severity 10 (@LockMessageSeverity, CE:213-220) is recorded
        — error_number 1222 lands in the command log — but does not
        count as a job failure."""
        return self.error_number != 0 and self.severity >= 11


LOCK_TIMEOUT_ERROR = 1222  # "Lock request time out period exceeded." (CE:218)


def _run_with_timeout(
    spark: SparkSession, kernel: Callable[[], KernelResult], timeout_s: float, cmd: str
) -> KernelResult:
    """Run the kernel in a worker thread with a deadline; past it, the
    check's Spark jobs are cancelled via its job group — the engine
    analogue of ``SET LOCK_TIMEOUT`` (SURVEY §2.9 #59, DIC:1355).

    The job group is set INSIDE the worker thread: Spark job groups
    are thread-local (pinned-thread mode maps each Python thread to
    its own JVM thread), so setting it on the caller would tag the
    wrong thread's jobs.
    """
    import threading

    group = f"check-{uuid.uuid4().hex[:12]}"
    holder: dict[str, Any] = {}

    def target() -> None:
        sc = spark.sparkContext
        sc.setJobGroup(group, cmd, interruptOnCancel=True)
        try:
            holder["result"] = kernel()
        except Exception as exc:  # surfaced below
            holder["error"] = exc
        finally:
            sc.setJobGroup("", "")

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        t.join(30)
        raise TimeoutError("Lock request time out period exceeded.")
    if "error" in holder:
        raise holder["error"]
    return holder["result"]


def run_command(
    spark: SparkSession,
    spec: CheckSpec,
    kernel: Callable[[], KernelResult] | None,
    execute: bool = True,
    log: CommandLog | None = None,
    session_id: str | None = None,
    lock_message_severity: int = 16,
) -> CommandOutcome:
    """Execute one check spec through the narrow waist (CE:197-249).

    ``lock_message_severity`` is @LockMessageSeverity (CE:213-220):
    16 (default) raises lock timeouts as errors; 10 logs them as
    informational — the error_number is still recorded in the command
    log, but the outcome does not fail the run.
    """
    cmd = spec.command_text()
    start = _utcnow()
    logger.info("Date and time: %s", start.strftime("%Y-%m-%d %H:%M:%S"))
    logger.info("Command: %s", cmd)
    result: KernelResult | None = None
    error_number = 0
    error_message: str | None = None
    severity = 16
    if execute and kernel is not None:
        try:
            if spec.lock_timeout is not None:
                result = _run_with_timeout(spark, kernel, spec.lock_timeout, cmd)
            else:
                result = kernel()
            if not result.passed:
                error_number = result.error_number
                error_message = "; ".join(result.errors)[:4000]
        except TimeoutError as exc:  # the 1222 path (CE:216-220)
            error_number = LOCK_TIMEOUT_ERROR
            error_message = str(exc)
            severity = lock_message_severity
        except Exception as exc:  # runner never propagates (CE:213-222 Mode 2)
            error_number = -1
            error_message = f"{type(exc).__name__}: {exc}"[:4000]
    end = _utcnow()
    failed = error_number != 0 and severity >= 11
    outcome = "Succeeded" if error_number == 0 else ("Failed" if failed else "Warning")
    if not execute:
        outcome = "Not Executed"  # CE:231
    logger.info("Outcome: %s", outcome)
    logger.info("Duration: %s", str(end - start).split(".")[0])
    log_id = None
    if log is not None:
        import json

        extended = {"session_id": session_id or str(uuid.uuid4())}
        if result is not None:
            extended["metrics"] = {
                k: v for k, v in result.metrics.items() if not isinstance(v, (list, dict))
            }
            if result.errors:
                extended["errors"] = result.errors[:20]
        log_id = log.append(
            {
                "database_name": spec.database,
                "schema_name": spec.schema,
                "object_name": spec.object or spec.filegroup,
                "object_type": "U" if spec.object else None,
                "extended_info": json.dumps(extended, default=str),
                "command": cmd,
                "command_type": spec.command_type,
                "start_time": start,
                "end_time": end,
                "error_number": error_number if execute else None,
                "error_message": error_message,
            }
        )
    return CommandOutcome(
        spec, result, start, end, error_number, error_message, execute, log_id,
        severity=severity,
    )
