"""MVCC transactions over the quad store (TDB2 / jena-dboe-transaction).

Reference (paths relative to /root/reference): the transaction engine
under ``jena-db/jena-dboe-transaction/.../transaction/txn/
TransactionCoordinator.java`` (MRSW: any number of readers run
concurrently with at most ONE writer, each against an immutable
committed state), the ``Transactional`` begin/commit/abort/end
lifecycle (``jena-arq/.../sparql/core/Transactional.java``), the
``Txn.executeRead/executeWrite`` convenience wrappers
(``jena-base/.../system/Txn.java``), and TDB2's version-swap commit
(``jena-db/jena-tdb2/.../store/storage/StorageTDB.java`` posture).

Spark-first design, not a port: Jena's coordinator journals B+Tree
page states; here a committed version IS an immutable DataFrame plan
(or a parquet snapshot directory when the store is durable), so

* snapshot isolation is structural — a read transaction pins the
  version current at ``begin()`` and can never observe later writes
  because DataFrames are immutable;
* a write transaction is Connection-verb rebinding against a private
  frame — nothing is visible until commit;
* ``commit()`` is an atomic pointer swap: the in-memory current
  version rebinds under the coordinator lock, and a durable store
  additionally writes a fresh ``v{n}`` parquet directory and swaps the
  ``_CURRENT`` pointer file (the same crash-safe pointer protocol the
  streaming canonical-maintenance loop uses —
  ``streaming/ingest.py:apply_canonical_batch``).

Coordination scope: like Jena's in-process ``TransactionCoordinator``
this serializes writers within ONE driver (``threading.Lock``).
Multi-driver coordination needs an external lock/catalog service
(Iceberg/Hive metastore commit protocols) — out of scope, documented
honestly rather than faked.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

from jena_spark.pipeline.api import Connection

READ = "read"
WRITE = "write"


class TransactionError(RuntimeError):
    """JenaTransactionException analog."""


class Transaction:
    """One ``Transactional`` lifecycle: begin -> (verbs) ->
    commit/abort -> end. Read verbs delegate to a :class:`Connection`
    pinned to the begin-time version; write verbs rebind the private
    connection and raise outside a WRITE transaction (same error
    Jena's ``TransactionalBase`` raises)."""

    def __init__(self, store: "TransactionalStore", mode: str, conn: Connection):
        self._store = store
        self.mode = mode
        self._conn = conn
        self._state = "active"

    # --- read surface -------------------------------------------------------
    @property
    def connection(self) -> Connection:
        """The pinned-version Connection (full verb surface)."""
        self._check_active()
        return self._conn

    def query(self, sparql: str, flat: bool = True) -> DataFrame:
        self._check_active()
        return self._conn.query(sparql, flat=flat)

    def dataset(self) -> DataFrame:
        self._check_active()
        return self._conn.dataset

    # --- write surface ------------------------------------------------------
    def update(self, request: str) -> None:
        self._check_write()
        self._conn = self._conn.update(request)

    def put(self, triples: DataFrame, graph: str | None = None) -> None:
        self._check_write()
        self._conn = self._conn.put(triples, graph)

    def load(self, triples, graph: str | None = None, **kw) -> None:
        self._check_write()
        self._conn = self._conn.load(triples, graph, **kw)

    def delete(self, graph: str | None = None) -> None:
        self._check_write()
        self._conn = self._conn.delete(graph)

    # --- lifecycle ----------------------------------------------------------
    def commit(self) -> None:
        self._check_active()
        if self.mode == WRITE:
            self._store._install(self._conn.quads)
            self._store._release_writer(self)
        self._state = "committed"

    def abort(self) -> None:
        self._check_active()
        if self.mode == WRITE:
            self._store._release_writer(self)
        self._state = "aborted"

    def end(self) -> None:
        """Close the transaction. Like Jena, ``end()`` on a write
        transaction that is still active (neither committed nor
        aborted) aborts it AND raises — silently dropping writes is
        the bug this protocol exists to prevent."""
        if self._state == "active" and self.mode == WRITE:
            self.abort()
            raise TransactionError(
                "write transaction ended without commit() or abort()")
        self._state = "ended"

    def _check_active(self) -> None:
        if self._state != "active":
            raise TransactionError(f"transaction is {self._state}")

    def _check_write(self) -> None:
        self._check_active()
        if self.mode != WRITE:
            raise TransactionError(
                "update inside a READ transaction (begin(write=True) — "
                "transaction promotion is not supported)")

    # context-manager sugar: commit on clean exit of a write txn,
    # abort on exception (Txn.executeWrite semantics)
    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._state == "active":
            if exc_type is not None:
                self.abort()
            elif self.mode == WRITE:
                self.commit()
            else:
                self._state = "ended"
        return False


class TransactionalStore:
    """MRSW transactional quad store (``TransactionCoordinator``
    analog). ``path=None`` keeps versions as in-memory DataFrame
    plans; a path makes commits durable (parquet version directories
    + the atomic ``_CURRENT`` pointer)."""

    def __init__(self, spark: SparkSession,
                 quads: DataFrame | None = None,
                 path: str | None = None):
        self.spark = spark
        self.path = path
        self._lock = threading.Lock()        # guards pointer + writer slot
        self._writer: Transaction | None = None
        self._version = 0
        if path is not None:
            from jena_spark.streaming.ingest import read_current_snapshot

            snap = read_current_snapshot(spark, path)
            if snap is not None:
                quads = snap
                self._version = self._read_version_number()
        self._current = Connection(spark, quads).quads

    # --- Transactional ------------------------------------------------------
    def begin(self, write: bool = False) -> Transaction:
        if not write:
            with self._lock:
                pinned = self._current
            return Transaction(self, READ, Connection(self.spark, pinned))
        with self._lock:
            if self._writer is not None:
                raise TransactionError(
                    "a write transaction is already active (MRSW: one "
                    "writer at a time)")
            txn = Transaction(self, WRITE, Connection(self.spark, self._current))
            self._writer = txn
            return txn

    def read(self) -> Transaction:
        return self.begin(write=False)

    def write(self) -> Transaction:
        return self.begin(write=True)

    @property
    def version(self) -> int:
        return self._version

    def dataset(self) -> DataFrame:
        """Autocommit-read view of the current version (like reading a
        TDB2 dataset outside an explicit transaction)."""
        with self._lock:
            return self._current

    # --- Txn.java helpers ---------------------------------------------------
    def execute_read(self, fn):
        txn = self.begin(write=False)
        try:
            return fn(txn)
        finally:
            if txn._state == "active":
                txn._state = "ended"

    def execute_write(self, fn):
        txn = self.begin(write=True)
        try:
            out = fn(txn)
        except BaseException:
            if txn._state == "active":
                txn.abort()
            raise
        if txn._state == "active":
            txn.commit()
        return out

    # --- internal -----------------------------------------------------------
    def _read_version_number(self) -> int:
        from jena_spark.streaming.ingest import current_version

        name = current_version(self.path) or ""
        return int(name[1:]) if name.startswith("v") else 0

    def _install(self, quads: DataFrame) -> None:
        from jena_spark.streaming.ingest import commit_pointer

        with self._lock:
            new_version = self._version + 1
            if self.path is not None:
                # durable commit: write the new version directory first,
                # swap the pointer last (crash between the two leaves the
                # old version live — the streaming loop's protocol)
                vdir = os.path.join(self.path, f"v{new_version}")
                quads.write.mode("overwrite").parquet(vdir)
                commit_pointer(self.path, f"v{new_version}")
                self._current = self.spark.read.parquet(vdir)
            else:
                # cut lineage per commit: without this, each version's
                # plan nests the previous version's unions/anti-joins
                # and a long-lived store pays unbounded analysis cost
                # (the durable path cuts it by re-reading parquet)
                self._current = quads.localCheckpoint(eager=False)
            self._version = new_version

    def _release_writer(self, txn: Transaction) -> None:
        with self._lock:
            if self._writer is txn:
                self._writer = None
