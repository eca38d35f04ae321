"""Iceberg-shaped table layer on a partitioned-parquet directory layout.

The north rule stores documents/violations/verdicts in Iceberg tables and
keys resume on snapshot ids. This container has no Iceberg runtime jars, so
the engine talks to a thin :class:`Lakehouse` interface instead. This class
implements it on a directory layout: each ``append`` writes a ``snap-<id>``
data directory FIRST and only then commits it to ``_snapshots.json`` —
readers only see committed snapshots, giving the same atomic-append /
time-travel / incremental-scan semantics resume relies on.

A real catalog swaps in as another class with the same methods that passes
``tests/test_pipeline.py::test_lakehouse_interface_conformance``; its calls
map 1:1 onto ``df.writeTo(table).append()`` / ``spark.table`` / snapshot
metadata. The engine code above this interface stays the same: the swap is
a class, not a fork (SURVEY.md §7.3.5).

The log, ``<table>/_snapshots.json``, is a JSON list with one entry per
commit, oldest first: ``{"snapshot_id", "ts", "path", "meta"}``, plus
``"schema"`` (the appended DataFrame's ``schema.jsonValue()``) on the
commits that change the table's schema. The table's schema as of a commit
is the newest ``schema`` at or before it (Iceberg keeps schemas by id in
its table metadata, not per snapshot), so the log grows by a constant per
same-schema commit. Reads pass that schema to the parquet reader and never
infer one from file footers, which would cost a Spark job per read; a log
with no ``schema`` up to the read's last commit is read with inference.

Commits are read-modify-write of one log file: ONE writer per table (the
contract every pipeline in ``plans.pipeline`` and ``streaming.stream``
states). Two concurrent appenders can lose a commit.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType


class Lakehouse:
    """Iceberg-shaped table contract. A real Iceberg binding must implement
    exactly THREE methods with these semantics (the swap is mechanical —
    tests/test_pipeline.py::test_lakehouse_interface_conformance is the
    executable spec any implementation must pass):

    * ``append(table, df, meta=None) -> snapshot_id`` — atomic commit; the
      returned id names the commit; ``meta`` (e.g. the source cursor) rides
      the commit itself (Iceberg: snapshot summary properties via
      ``df.writeTo(t).option("snapshot-property.X", v).append()``), so a
      crash can never separate data from its provenance stamp; a
      ``Column``-valued entry is an aggregate over the appended rows, and
      the commit stores its value (Iceberg: ``added-records``);
    * ``read(table, as_of=None)`` — current state, or time-travel to a
      snapshot id (Iceberg: ``VERSION AS OF``), in the table's schema as of
      that snapshot: columns an older commit lacks read as NULL;
    * ``read_since(table, after, until=None) -> (df | None, cursor)`` —
      rows appended strictly after snapshot ``after`` up to and including
      ``until`` (Iceberg: incremental scan with ``start-snapshot-id`` /
      ``end-snapshot-id``), in the schema as of ``until``, plus the new
      cursor.

    ``snapshots``/``current_snapshot``/``snapshot_meta`` are derived
    conveniences over the same snapshot log (Iceberg: the ``.snapshots``
    metadata table); the incremental tick finds its cursor in
    ``snapshots``.

    This implementation keeps the log described in the module docstring:
    a commit records its schema only when it changes the table's, and
    ``read``/``read_since`` launch no Spark job (no footer inference)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- internals -----------------------------------------------------------
    def _meta_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def _load_meta(self, table: str) -> list[dict]:
        p = self._meta_path(table)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def _end(snaps: list[dict], snapshot_id: str | None) -> int:
        """Index one past ``snapshot_id`` in ``snaps`` (None: the end)."""
        if snapshot_id is None:
            return len(snaps)
        for i, s in enumerate(snaps):
            if s["snapshot_id"] == snapshot_id:
                return i + 1
        raise ValueError(f"unknown snapshot {snapshot_id}")

    @staticmethod
    def _schema(snaps: list[dict]) -> dict | None:
        """The newest ``schema`` in ``snaps`` (the table's schema as of the
        last of them), or None when no commit recorded one."""
        return next((s["schema"] for s in reversed(snaps) if "schema" in s),
                    None)

    def _scan(self, snaps: list[dict], window: list[dict]) -> DataFrame:
        """The data of ``window``, read in the schema as of the last entry
        of ``snaps`` (inferred from the files when the log has none)."""
        schema = self._schema(snaps)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*[s["path"] for s in window])

    def _commit(self, table: str, snaps: list[dict]) -> None:
        p = self._meta_path(table)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snaps, f)
        os.replace(tmp, p)  # atomic on POSIX

    # -- public (Iceberg-shaped) ---------------------------------------------
    def append(self, table: str, df: DataFrame,
               meta: dict | None = None) -> str:
        """Write data, then commit — readers never see a partial append.

        ``meta`` is stored ON the snapshot entry (Iceberg: snapshot summary
        properties), making the commit self-describing: an incremental
        writer stamps its source cursor here, and a crashed-then-rerun tick
        can detect an already-committed batch without a side channel.
        ``Column`` values (``{"rows": F.count(F.lit(1))}``) are observed on
        the write itself, so a commit's counts cost no extra job, and stored
        as their (JSON) values. The entry records ``df``'s schema when it
        differs from the table's current one."""
        meta = dict(meta or {})
        observed = {k: c for k, c in meta.items() if isinstance(c, Column)}
        if observed:
            obs = Observation()
            df = df.observe(obs, *[c.alias(k) for k, c in observed.items()])
        snapshot_id = f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:6]}"
        data_dir = os.path.join(self.root, table, snapshot_id)
        df.write.mode("overwrite").parquet(data_dir)
        if observed:
            meta.update(obs.get)
        snaps = self._load_meta(table)
        entry = {"snapshot_id": snapshot_id, "ts": time.time(),
                 "path": data_dir, "meta": meta}
        schema = df.schema.jsonValue()
        if schema != self._schema(snaps):
            entry["schema"] = schema
        snaps.append(entry)
        self._commit(table, snaps)
        return snapshot_id

    def read(self, table: str, as_of: str | None = None) -> DataFrame:
        """All committed snapshots, or time-travel up to ``as_of``."""
        snaps = self._load_meta(table)
        snaps = snaps[:self._end(snaps, as_of)]
        if not snaps:
            raise ValueError(f"table {table} has no committed snapshots")
        return self._scan(snaps, snaps)

    def read_since(self, table: str, after: str | None,
                   until: str | None = None
                   ) -> tuple[DataFrame | None, str | None]:
        """Incremental read: rows appended strictly AFTER snapshot ``after``
        (None ⇒ from the first commit) up to and including snapshot
        ``until`` (None ⇒ the current snapshot) — the snapshot-checkpoint
        primitive an incremental validation run keys on (Iceberg's
        incremental scan between ``start-snapshot-id`` and
        ``end-snapshot-id``): a resumed consumer validates only new
        appends, stamps the returned cursor on its output commits, and
        re-running from the same cursor re-reads nothing. ``until`` bounds
        the window so a consumer can redo exactly the window a crashed
        run had read.

        Returns ``(df, cursor)``; ``df`` is None when the window is empty,
        and ``cursor`` names the window's last snapshot (or ``after`` when
        the window is empty). An unknown ``after``/``until``, or an
        ``until`` older than ``after``, raises ``ValueError``.
        """
        snaps = self._load_meta(table)
        lo = 0 if after is None else self._end(snaps, after)
        hi = self._end(snaps, until)
        if hi < lo:
            raise ValueError(f"snapshot {until} precedes {after}")
        new = snaps[lo:hi]
        if not new:
            return None, after
        return self._scan(snaps[:hi], new), new[-1]["snapshot_id"]

    def snapshots(self, table: str) -> list[dict]:
        return self._load_meta(table)

    def current_snapshot(self, table: str) -> str | None:
        snaps = self._load_meta(table)
        return snaps[-1]["snapshot_id"] if snaps else None

    def snapshot_meta(self, table: str, snapshot_id: str | None = None) -> dict:
        """Commit metadata of ``snapshot_id`` (default: newest). Empty dict
        for an unknown/empty table — callers probe with this, never raise."""
        snaps = self._load_meta(table)
        if not snaps:
            return {}
        if snapshot_id is None:
            return snaps[-1].get("meta", {}) or {}
        for s in snaps:
            if s["snapshot_id"] == snapshot_id:
                return s.get("meta", {}) or {}
        return {}
