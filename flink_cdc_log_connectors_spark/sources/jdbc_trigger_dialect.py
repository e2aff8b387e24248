"""Trigger-log CDC dialect for embedded-JDBC engines (shipped instance:
Apache Derby) — the THIRD implementation of the trigger-log SPI.

``SqliteCdcStreamReader`` (`sqlite_dialect.py`) factors the whole
snapshot→log protocol — chunk planning pinned in the offset, per-chunk
watermark bracketing + backfill merge, shouldEmit, startup modes,
heartbeats, chunk-meta compaction, replay — into engine-agnostic code
above seven ``*_spi`` methods.  This module proves that claim against a
REAL JDBC engine: every SPI method here is a JDBC query through the
Spark JVM's ``java.sql`` (Derby runs embedded in the same JVM, so
trigger-captured commits are immediately visible to the reader), and the
dialect-conformance suite (`tests/test_dialect_conformance.py`) runs the
identical protocol assertions against it.

Deployment model: this reader is DRIVER-EMBEDDED — construct it
directly and drive it from driver code (a polling loop feeding
``foreachBatch``, the conformance harness, or a custom ingestion
service).  It deliberately does NOT register as a
``spark.readStream.format(...)`` source: a registered Python
DataSource's reader executes in a separate Python worker process with
no py4j gateway, where ``java.sql`` is unreachable.  Dialects whose
engine is reachable from pure Python (sqlite; a future
mysql-replication client) register as formats; JVM-embedded engines use
this embedded model.  The parallel-snapshot path for JDBC engines is
``read_snapshot_consistent`` (`jdbc.py`); this reader is the
continuous-stream counterpart.

Capture layout (``install_capture``): one audit table holding typed
AFTER-image columns (``A_<col>``), BEFORE-image columns (``B_<col>``),
an identity offset, the op and a commit timestamp; three AFTER triggers
populate it.  The reader builds the Debezium-shaped envelope from the
typed columns — each dialect owns its log decode (D1), and typed
columns sidestep Derby's lack of JSON/string-cast functions.

Reference: the same role as `flink-connector-debezium-log`'s embedded
engine for databases without a binlog client in this environment.
"""

from __future__ import annotations

import decimal
import json
from typing import Any

from .chunking import ChunkRange, merge_backfill, split_even_or_whole
from .sqlite_dialect import SqliteCdcStreamReader


def _jvm_conn(url: str):
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "jdbc trigger dialect needs an active SparkSession (the "
            "embedded JDBC driver lives in the Spark JVM)"
        )
    jvm = spark.sparkContext._jvm
    return jvm.java.sql.DriverManager.getConnection(url)


def execute_sql(url: str, *stmts: str) -> None:
    conn = _jvm_conn(url)
    try:
        st = conn.createStatement()
        for s in stmts:
            st.executeUpdate(s)
        st.close()
    finally:
        conn.close()


def execute_sql_atomic(url: str, *stmts: str) -> None:
    """All statements in one transaction: commit only if every statement
    succeeds, roll back otherwise."""
    conn = _jvm_conn(url)
    try:
        conn.setAutoCommit(False)
        try:
            st = conn.createStatement()
            for s in stmts:
                st.executeUpdate(s)
            st.close()
            conn.commit()
        except BaseException:
            conn.rollback()
            raise
    finally:
        conn.close()


def query_sql(url: str, sql: str) -> list[tuple]:
    conn = _jvm_conn(url)
    try:
        st = conn.createStatement()
        rs = st.executeQuery(sql)
        n = rs.getMetaData().getColumnCount()
        out = []
        while rs.next():
            row = []
            for i in range(n):
                v = rs.getObject(i + 1)
                # py4j auto-converts numbers/strings/NULL; other JDBC
                # classes convert explicitly — and UNKNOWN classes raise
                # loudly instead of guessing
                if isinstance(v, decimal.Decimal):
                    # py4j converts java.math.BigDecimal itself; float so
                    # images stay JSON-serializable
                    v = float(v)
                elif v is not None and not isinstance(
                    v, (int, float, str, bool)
                ):
                    cls = v.getClass().getName()
                    if cls in (
                        "java.sql.Timestamp",
                        "java.sql.Date",
                        "java.sql.Time",
                    ):
                        v = int(v.getTime())
                    elif cls == "java.math.BigDecimal":
                        v = float(v.doubleValue())
                    elif cls == "java.math.BigInteger":
                        v = int(v.longValueExact())
                    else:
                        raise TypeError(
                            f"unsupported JDBC value class {cls}; extend "
                            "query_sql's conversion table for this column "
                            "type"
                        )
                row.append(v)
            out.append(tuple(row))
        rs.close()
        st.close()
        return out
    finally:
        conn.close()


def install_capture(
    url: str,
    table: str,
    log_table: str,
    columns: list[tuple[str, str]],
    trigger_prefix: str = "CDCTRG",
) -> None:
    """Create the audit table + AFTER INSERT/UPDATE/DELETE triggers.

    ``columns`` = [(name, sql_type), ...] of the captured table.  Not
    idempotent (Derby has no CREATE ... IF NOT EXISTS); callers drop
    first or catch the already-exists error.

    All four DDL statements run in ONE transaction (Derby DDL is
    transactional): capture is either fully installed or not at all —
    a partial install (some triggers live, some missing) would silently
    lose events of the uncovered ops, and a midway failure would leave
    un-retryable committed leftovers.
    """
    a_cols = ", ".join(f"A_{c} {t}" for c, t in columns)
    b_cols = ", ".join(f"B_{c} {t}" for c, t in columns)
    n_list = ", ".join(f"N.{c}" for c, _ in columns)
    o_list = ", ".join(f"O.{c}" for c, _ in columns)
    a_names = ", ".join(f"A_{c}" for c, _ in columns)
    b_names = ", ".join(f"B_{c}" for c, _ in columns)
    execute_sql_atomic(
        url,
        f"""CREATE TABLE {log_table} (
            ID INT GENERATED ALWAYS AS IDENTITY PRIMARY KEY,
            TBL VARCHAR(128) NOT NULL,
            OP CHAR(1) NOT NULL,
            TS TIMESTAMP NOT NULL DEFAULT CURRENT_TIMESTAMP,
            {a_cols}, {b_cols})""",
        f"""CREATE TRIGGER {trigger_prefix}_INS AFTER INSERT ON {table}
            REFERENCING NEW AS N FOR EACH ROW
            INSERT INTO {log_table}(TBL, OP, {a_names})
            VALUES ('{table}', 'c', {n_list})""",
        f"""CREATE TRIGGER {trigger_prefix}_UPD AFTER UPDATE ON {table}
            REFERENCING OLD AS O NEW AS N FOR EACH ROW
            INSERT INTO {log_table}(TBL, OP, {a_names}, {b_names})
            VALUES ('{table}', 'u', {n_list}, {o_list})""",
        f"""CREATE TRIGGER {trigger_prefix}_DEL AFTER DELETE ON {table}
            REFERENCING OLD AS O FOR EACH ROW
            INSERT INTO {log_table}(TBL, OP, {b_names})
            VALUES ('{table}', 'd', {o_list})""",
    )


def prune_log(url: str, log_table: str, upto_id: int) -> None:
    """Retention: drop acknowledged audit rows (the sqlite dialect's
    ``prune_log`` twin — the engine-binlog-expiry analogue).  The SS
    offset log owns progress, so pruning anything at or below the
    committed offset is always safe."""
    execute_sql(url, f"DELETE FROM {log_table} WHERE ID <= {int(upto_id)}")


class JdbcTriggerLogStreamReader(SqliteCdcStreamReader):
    """The sqlite reader's protocol over a JDBC trigger log.

    Options: ``url`` (JDBC url, embedded driver), ``table`` (captured
    table, schema-qualified), ``logtable`` (audit table from
    ``install_capture``), ``columns`` (comma list of captured column
    names, image-key case) plus every protocol option of the base reader
    (``keycolumn``, ``chunksize``, ``maxeventsperbatch``,
    ``startingoffsets``, ``heartbeatinterval``, ``chunkMetaGroupSize``).

    ``includeSchemaChanges`` is not supported here (no portable DDL
    probe across JDBC catalogs in this environment) and is rejected
    pre-flight.
    """

    def __init__(self, options: dict[str, str]) -> None:
        self.url = options["url"]
        self.log_table = options["logtable"]
        self.columns = [c.strip() for c in options["columns"].split(",")]
        self._init_protocol_options(options)
        if self.include_schema_changes:
            raise ValueError(
                "includeSchemaChanges is not supported by the jdbc "
                "trigger dialect"
            )

    # -- engine SPI --------------------------------------------------------
    def _log_position_spi(self) -> int:
        rows = query_sql(
            self.url, f"SELECT COALESCE(MAX(ID), 0) FROM {self.log_table}"
        )
        return int(rows[0][0])

    def _plan_chunks_spi(self) -> list[ChunkRange]:
        mn, mx, cnt = query_sql(
            self.url,
            f"SELECT COALESCE(MIN({self.key_col}), 0), "
            f"COALESCE(MAX({self.key_col}), 0), COUNT(*) FROM {self.table}",
        )[0]
        return split_even_or_whole(mn, mx, cnt, self.chunk_size)

    def _chunk_predicate(self, lo: Any, hi: Any) -> str:
        conds = []
        if lo is not None:
            conds.append(f"{self.key_col} >= {int(lo)}")
        if hi is not None:
            conds.append(f"{self.key_col} < {int(hi)}")
        return " AND ".join(conds) or "1=1"

    def _read_chunk_merged_spi(self, lo: Any, hi: Any) -> tuple[list[str], int, int]:
        low = self._log_position_spi()
        col_list = ", ".join(self.columns)
        rows = query_sql(
            self.url,
            f"SELECT {col_list} FROM {self.table} "
            f"WHERE {self._chunk_predicate(lo, hi)}",
        )
        high = self._log_position_spi()
        backfill = self._read_log_rows(low, upto=high) if high > low else []
        envs = merge_backfill(
            (dict(zip(self.columns, r)) for r in rows),
            backfill, self.table, self.key_col, ChunkRange(lo, hi), high,
        )
        return envs, low, high

    def _read_log_rows(
        self, after_id: int, upto: int | None = None, limit: int | None = None
    ) -> list[tuple[int, str, str, str | None, str | None, int]]:
        a_names = ", ".join(f"A_{c}" for c in self.columns)
        b_names = ", ".join(f"B_{c}" for c in self.columns)
        q = (
            f"SELECT ID, TBL, OP, TS, {a_names}, {b_names} "
            f"FROM {self.log_table} WHERE ID > {int(after_id)}"
        )
        if upto is not None:
            q += f" AND ID <= {int(upto)}"
        q += " ORDER BY ID"
        if limit is not None:
            q += f" FETCH FIRST {int(limit)} ROWS ONLY"
        out = []
        k = len(self.columns)
        for row in query_sql(self.url, q):
            ev_id, tbl, op, ts_ms = int(row[0]), row[1], str(row[2]).strip(), row[3]
            a_vals, b_vals = row[4 : 4 + k], row[4 + k : 4 + 2 * k]
            after = (
                None
                if op == "d"
                else json.dumps(
                    dict(zip(self.columns, a_vals)), separators=(",", ":")
                )
            )
            before = (
                json.dumps(
                    dict(zip(self.columns, b_vals)), separators=(",", ":")
                )
                if op in ("u", "d")
                else None
            )
            out.append((ev_id, tbl, op, before, after, int(ts_ms)))
        return out

    def _read_log_between_spi(self, after_id: int, limit: int):
        return self._read_log_rows(after_id, limit=limit)

    def _seek_timestamp_spi(self, ts_ms: int) -> int:
        # assumes the engine's CURRENT_TIMESTAMP wall clock is UTC (true
        # for this environment's JVM); a non-UTC deployment should write
        # UTC in the capture trigger instead — timestamp startup seeks
        # are only as sound as the log's clock discipline
        import datetime

        lit = datetime.datetime.utcfromtimestamp(ts_ms / 1000.0).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        rows = query_sql(
            self.url,
            f"SELECT MIN(ID) FROM {self.log_table} "
            f"WHERE TS >= TIMESTAMP('{lit}')",
        )
        if rows[0][0] is None:
            return self._log_position_spi()
        return int(rows[0][0]) - 1

    def _schema_signature_spi(self) -> list[str]:
        return list(self.columns)  # static — L6 probing unsupported here

    def _schema_drift_spi(self, old_sig):
        return None, list(self.columns)

    def _refresh_capture_spi(self) -> None:  # pragma: no cover
        raise NotImplementedError(
            "jdbc trigger dialect: re-run install_capture after DDL"
        )
