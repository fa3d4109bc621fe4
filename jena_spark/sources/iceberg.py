"""Iceberg table source/sink — the deployment-target storage layer.

The north rule names Iceberg-backed transcript tables; this sandbox
image has no Iceberg runtime jars, so everything here degrades to a
parquet layout (which is shaped like an Iceberg bucket-partitioned
table on purpose: `part_id = pmod(xxhash64(conv_id), n)` ≙ a
`bucket(n, conv_id)` partition transform). On a real cluster, set
the catalog configs below and the same code paths run against
Iceberg with ACID appends, snapshot time-travel for resume, and
metadata-level file pruning.

The fallback is no longer a bare ``mode("append")`` parquet dir:
:class:`IcebergLiteTable` reproduces Iceberg's ARCHITECTURE at the
metadata level so the API surface has real behavior to test against —

* **immutable data files + manifest**: each commit writes its data
  under a fresh ``data/s<n>/`` (``n`` never reused, even after
  ``expire_snapshots``) and appends a manifest entry listing
  the snapshot's FULL file set (an append lists the parent's files
  plus its own — old data is never rewritten, exactly Iceberg's
  manifest-list reuse);
* **snapshot log + current pointer**: ``_snapshots.json`` is the
  table metadata (snapshot id, parent, operation, file list) and
  ``_CURRENT`` the atomic head pointer (write-tmp + rename, the same
  crash-safe pointer protocol as ``pipeline/txn.py``) — a reader
  that opens the table mid-commit sees the previous snapshot,
  i.e. snapshot isolation;
* **time travel**: ``read(snapshot_id=...)`` / ``VERSION AS OF``
  semantics — any retained snapshot re-reads its exact file set
  (the resume posture the north rule asks for);
* **merge**: ``merge(updates, key)`` = MERGE INTO as a new overwrite
  snapshot (upsert by key), the row-level-operation analog;
* **expire_snapshots**: drops unreferenced data dirs, keeping the
  current chain — the maintenance op.

A commit onto a plain parquet dir (files but no manifest) is refused:
the new log would not list the existing files, and their rows would
vanish from reads.

Snapshot ids are md5 content hashes of (parent, operation, files) —
the repo's determinism rule (no uuid/now in pipeline paths); travel
is by snapshot id, not wall timestamp, for the same reason.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CONFS = {
    # documented deployment configs (need iceberg-spark-runtime on the CP)
    "spark.sql.extensions":
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "spark.sql.catalog.kg": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.kg.type": "hadoop",
}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_table(spark: SparkSession, identifier: str,
               snapshot_id: str | None = None) -> DataFrame:
    """``kg.db.table`` via the Iceberg catalog when present, else an
    :class:`IcebergLiteTable` directory (detected by its manifest) or
    a plain parquet path. ``snapshot_id`` = ``VERSION AS OF`` time
    travel on either real Iceberg or the lite table."""
    if iceberg_available(spark) and not identifier.startswith("/"):
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", snapshot_id)
        return r.load(identifier)
    if os.path.exists(os.path.join(identifier, IcebergLiteTable.MANIFEST)):
        df = IcebergLiteTable(spark, identifier).read(snapshot_id)
        if df is None:
            # a crash between the manifest write and the head-pointer
            # write of the first commit leaves no current snapshot
            raise ValueError(
                f"{identifier} has a snapshot manifest but no "
                f"{IcebergLiteTable.CURRENT} head pointer: no snapshot "
                "is committed; pass snapshot_id to read a logged one")
        return df
    if snapshot_id is not None:
        raise ValueError(
            "snapshot_id given but the path is a plain parquet dir "
            "(no snapshot manifest)")
    return spark.read.parquet(identifier)


def append_table(df: DataFrame, identifier: str) -> None:
    if iceberg_available(df.sparkSession) and not identifier.startswith("/"):
        df.writeTo(identifier).append()
        return
    IcebergLiteTable(df.sparkSession, identifier).append(df)


# --- snapshot-isolated parquet fallback (Iceberg metadata emulation) -------

class IcebergLiteTable:
    """Manifest-based snapshot table over plain parquet (module
    docstring for the architecture). All metadata operations are
    driver-side file writes; data reads/writes are fully distributed
    (``spark.read.parquet`` over the snapshot's file-dir list)."""

    MANIFEST = "_snapshots.json"
    CURRENT = "_CURRENT"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        os.makedirs(self.path, exist_ok=True)

    # -- metadata ---------------------------------------------------------

    def _manifest(self) -> list[dict]:
        p = os.path.join(self.path, self.MANIFEST)
        if not os.path.exists(p):
            return []
        with open(p, encoding="utf-8") as f:
            return json.load(f)

    def current_snapshot(self) -> str | None:
        p = os.path.join(self.path, self.CURRENT)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            return f.read().strip() or None

    def snapshots(self) -> list[dict]:
        """The snapshot log (id, parent, operation, file count) —
        ``table.snapshots()`` / the ``snapshots`` metadata table."""
        return [{"snapshot_id": s["snapshot_id"], "parent": s["parent"],
                 "operation": s["operation"], "n_dirs": len(s["files"])}
                for s in self._manifest()]

    def _entry(self, snapshot_id: str) -> dict:
        for s in self._manifest():
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"no such snapshot {snapshot_id!r}")

    def _atomic_write(self, name: str, text: str) -> None:
        tmp = os.path.join(self.path, name + ".tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, os.path.join(self.path, name))

    def _commit(self, operation: str, files: list[str]) -> str:
        parent = self.current_snapshot()
        sid = hashlib.md5(json.dumps(
            [parent, operation, sorted(files)]).encode()).hexdigest()[:16]
        log = self._manifest()
        log.append({"snapshot_id": sid, "parent": parent,
                    "operation": operation, "files": sorted(files)})
        # order matters for crash safety: data files already exist,
        # manifest next, head pointer LAST — a reader interleaved at
        # any point sees a complete previous snapshot
        self._atomic_write(self.MANIFEST, json.dumps(log, indent=1))
        self._atomic_write(self.CURRENT, sid)
        return sid

    def _write_data(self, df: DataFrame) -> str:
        """Write ``df`` under ``data/s<n>``, ``n`` one past the highest
        tag on disk. The newest commit's dir is never expired, so no
        past or live dir has that tag; a tag counted from the snapshot
        log's length would name a live dir once ``expire_snapshots``
        shortens the log."""
        data = os.path.join(self.path, "data")
        names = os.listdir(data) if os.path.isdir(data) else []
        used = [int(n[1:]) for n in names if n[:1] == "s" and n[1:].isdigit()]
        rel = f"data/s{max(used, default=-1) + 1}"
        df.write.mode("errorifexists").parquet(os.path.join(self.path, rel))
        return rel

    def _refuse_plain_parquet(self) -> None:
        """A commit onto a plain parquet dir (data files, no manifest)
        would start a snapshot log without them and hide their rows
        from every read: refuse it."""
        if self._manifest():
            return
        plain = [n for n in os.listdir(self.path)
                 if not n.startswith((".", "_")) and n != "data"]
        if plain:
            raise ValueError(
                f"{self.path} is a plain parquet dir, not a snapshot table; "
                "copy it into a new table (overwrite with its read_table "
                "contents) before committing to it")

    # -- operations -------------------------------------------------------

    def overwrite(self, df: DataFrame) -> str:
        """Replace the table contents (``writeTo(...).createOrReplace``
        / ``INSERT OVERWRITE``). Returns the new snapshot id."""
        self._refuse_plain_parquet()
        return self._commit("overwrite", [self._write_data(df)])

    def append(self, df: DataFrame) -> str:
        """ACID append: new files only; the snapshot's file set is the
        parent's plus this commit's (no rewrite of old data)."""
        self._refuse_plain_parquet()
        parent = self.current_snapshot()
        base = self._entry(parent)["files"] if parent else []
        return self._commit("append", base + [self._write_data(df)])

    def merge(self, updates: DataFrame, key: str | list[str]) -> str:
        """MERGE INTO by key (upsert: matched rows replaced, unmatched
        inserted) as a new overwrite snapshot — the row-level
        operation Iceberg runs with delete files; here the merged
        result is rewritten (copy-on-write posture)."""
        keys = [key] if isinstance(key, str) else list(key)
        self._refuse_plain_parquet()
        cur = self.read()
        kept = cur.join(updates.select(*keys).distinct(), keys,
                        "left_anti") if cur is not None else None
        merged = updates if kept is None else kept.unionByName(updates)
        return self._commit("merge", [self._write_data(merged)])

    def read(self, snapshot_id: str | None = None) -> DataFrame | None:
        """Current table, or ``VERSION AS OF snapshot_id`` time
        travel. None for an empty (never-committed) table."""
        sid = snapshot_id or self.current_snapshot()
        if sid is None:
            return None
        files = self._entry(sid)["files"]
        return self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in files])

    def expire_snapshots(self, keep: int = 1) -> list[str]:
        """Drop all but the last ``keep`` snapshots and delete data
        dirs no retained snapshot references (``expireSnapshots``).
        Returns the expired snapshot ids."""
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")
        log = self._manifest()
        if len(log) <= keep:
            return []
        kept, gone = log[-keep:], log[:-keep]
        live = {f for s in kept for f in s["files"]}
        for s in gone:
            for f in s["files"]:
                if f not in live:
                    shutil.rmtree(os.path.join(self.path, f),
                                  ignore_errors=True)
        self._atomic_write(self.MANIFEST, json.dumps(kept, indent=1))
        self._atomic_write(self.CURRENT, kept[-1]["snapshot_id"])
        return [s["snapshot_id"] for s in gone]
