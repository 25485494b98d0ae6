"""Log-structured parquet storage for collections (durable CRUD).

Maps the reference's durability story — a log-structured payload store with
snapshot compaction (crates/velesdb-core/src/storage/log_payload.rs:83-363;
flush in collection/core/crud.rs:19-118) — onto Spark-native primitives:

- every mutation (upsert batch / delete tombstones) appends an immutable
  parquet LOG SEGMENT; nothing is rewritten in place
- a MANIFEST (JSON, atomically renamed into place) pins the live snapshot
  version and the ordered list of log segments; readers resolve a
  consistent view from whatever manifest they opened (snapshot isolation),
  and the manifest rename is the commit point
- read() = snapshot minus ids shadowed by the log, union the log's
  last-writer-wins survivors. The snapshot (the 100 TB side at scale) is
  never shuffled: shadowed ids are removed with a left_anti join against
  the log's key set, which stays small because compaction bounds the log —
  AQE broadcasts it
- compact() (the reference's flush/snapshot) folds the log into a new
  snapshot version and truncates the log atomically; superseded snapshot
  directories remain on disk until vacuum() so readers holding the
  previous manifest stay consistent

Single-writer by design, matching the reference's single-process log store.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_OP = "_veles_op"
_SEQ = "_veles_seq"


def read_manifest(path: str) -> dict:
    """Load a log-store manifest; empty-state default when absent. Shared
    by LogStore and the incremental BM25 postings log (functions/bm25.py
    IncrementalBm25Index), which follow the same segment/manifest/
    compaction protocol and the same vacuum_dir; a BM25 manifest also
    records its snapshot's ``term_buckets``."""
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"snapshot": None, "segments": [], "seq": 0}


def commit_manifest(path: str, m: dict) -> None:
    """Atomically rename the manifest into place — the commit point."""
    target = os.path.join(path, "MANIFEST.json")
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, target)  # atomic commit point


def vacuum_dir(path: str) -> None:
    """Delete the snapshot versions and log segments under ``path`` that
    its manifest no longer references."""
    m = read_manifest(path)
    snapdir = os.path.join(path, "snapshot")
    live_snap = os.path.basename(m["snapshot"]) if m["snapshot"] else None
    if os.path.isdir(snapdir):
        for v in os.listdir(snapdir):
            if v != live_snap:
                shutil.rmtree(os.path.join(snapdir, v))
    live_segs = {os.path.basename(s) for s in m["segments"]}
    logdir = os.path.join(path, "log")
    if not os.path.isdir(logdir):
        return
    for s in os.listdir(logdir):
        if s not in live_segs:
            seg = os.path.join(logdir, s)
            shutil.rmtree(seg) if os.path.isdir(seg) else os.remove(seg)


class LogStore:
    def __init__(self, spark: SparkSession, path: str, id_col: str = "id"):
        # NO filesystem side effects here: a store handle may be created
        # speculatively (Collection with a path that is later snapshotted
        # by other means); directories appear on first write
        self.spark = spark
        self.path = path
        self.id_col = id_col

    # ------------------------------------------------------------ manifest
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST.json")

    def _read_manifest(self) -> dict:
        return read_manifest(self.path)

    def _commit_manifest(self, m: dict) -> None:
        commit_manifest(self.path, m)

    def exists(self) -> bool:
        return os.path.exists(self._manifest_path)

    # ------------------------------------------------------------ writes
    def _append_segment(self, df: DataFrame, op: str) -> None:
        os.makedirs(os.path.join(self.path, "log"), exist_ok=True)
        m = self._read_manifest()
        seq = m["seq"] + 1
        seg = f"log/{seq:06d}.parquet"
        tagged = df.withColumn(_OP, F.lit(op)).withColumn(
            _SEQ, F.lit(seq).cast("long"))
        # parquet-native row-group bloom filter on the key column: point
        # lookups over the log prune row groups without an engine-side
        # structure
        tagged.write.mode("overwrite") \
            .option(f"parquet.bloom.filter.enabled#{self.id_col}", "true") \
            .parquet(os.path.join(self.path, seg))
        m["seq"] = seq
        m["segments"] = m["segments"] + [seg]
        self._commit_manifest(m)

    def append_upsert(self, df: DataFrame) -> None:
        """One immutable log segment per batch. Within a batch, ids are
        deduped (a batch is one logical write, like the reference's
        upsert_bulk); across batches, later segments win."""
        self._append_segment(df.dropDuplicates([self.id_col]), "upsert")

    def append_delete(self, ids: Sequence[int]) -> None:
        from velesdb_spark.functions.util import id_frame

        self._append_segment(id_frame(self.spark, ids, self.id_col), "delete")

    # ------------------------------------------------------------ reads
    def read(self) -> Optional[DataFrame]:
        """Last-writer-wins resolved view of snapshot + log.

        Plan shape at scale: the snapshot scan is untouched except one
        left_anti join against the (small) shadowed-id set; the window
        resolution runs on the log only, once. No full-table shuffle."""
        m = self._read_manifest()
        snap = None
        if m["snapshot"]:
            snap = self.spark.read.parquet(
                os.path.join(self.path, m["snapshot"]))
        if not m["segments"]:
            return snap
        log = (self.spark.read.option("mergeSchema", "true")
               .parquet(*[os.path.join(self.path, s) for s in m["segments"]]))
        w = Window.partitionBy(self.id_col).orderBy(F.desc(_SEQ))
        latest = (log.withColumn("_veles_rn", F.row_number().over(w))
                  .filter(F.col("_veles_rn") == 1).drop("_veles_rn"))
        survivors = latest.filter(F.col(_OP) != "delete").drop(_OP, _SEQ)
        if snap is None:
            return survivors
        # any log record for an id shadows its snapshot row: the window
        # is needed only to resolve the survivors
        shadowed = log.select(self.id_col)
        kept = snap.join(shadowed, on=self.id_col, how="left_anti")
        return kept.unionByName(survivors, allowMissingColumns=True)

    # ------------------------------------------------------------ maintenance
    def compact(self) -> None:
        """Fold the log into a new snapshot version and truncate the log
        (log_payload.rs:316-363 snapshot + compaction). The new snapshot is
        fully written before the manifest flips; old versions stay until
        vacuum()."""
        df = self.read()
        if df is None:
            return
        m = self._read_manifest()
        cur = int(m["snapshot"].rsplit("=", 1)[1]) if m["snapshot"] else 0
        new = f"snapshot/v={cur + 1}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, new))
        self._commit_manifest(
            {"snapshot": new, "segments": [], "seq": m["seq"]})

    def vacuum(self) -> None:
        """Remove snapshot versions and log segments no longer referenced
        by the manifest (safe once no reader holds an older manifest)."""
        vacuum_dir(self.path)
