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
- the write, not every read, resolves last-writer-wins: the store keeps
  each live segment's ids, learned once (a delete holds them, an upsert
  collects its batch ids in one job, a reopened store collects them once
  per manifest)
- read() = snapshot WHERE NOT id IN (all log ids), union the log half:
  each segment's rows WHERE NOT id IN (ids a later segment rewrites),
  deletes dropped. The id lists are literal shadow-id sets, which Spark
  hashes as InSet: the view has no window, no shuffle and no join, and
  the snapshot (the 100 TB side at scale) is only scanned. A set holds at
  most the log since the last compaction, the key set a broadcast anti
  join would collect to the driver on every read
- compact() (the reference's flush/snapshot) folds the log into a new
  snapshot version and truncates the log atomically; superseded snapshot
  directories remain on disk until vacuum() so readers holding the
  previous manifest stay consistent

This is the one log protocol of the package: the incremental BM25 index
(functions/bm25.py IncrementalBm25Index) keeps its postings log in a
LogStore keyed by ``_doc_id``, appends many rows per key through
``append`` and writes its bucketed snapshot through ``write_snapshot``.

Single-writer by design, matching the reference's single-process log store.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velesdb_spark.functions.sqlexpr import ident, in_sql

_OP = "_veles_op"
_SEQ = "_veles_seq"


def read_manifest(path: str) -> dict:
    """Load the manifest of the LogStore at ``path``; empty-state default
    when absent. A BM25 index's manifest also records its snapshot's
    ``term_buckets``."""
    try:
        with open(os.path.join(path, "MANIFEST.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"snapshot": None, "segments": [], "seq": 0}


class LogStore:
    def __init__(self, spark: SparkSession, path: str, id_col: str = "id"):
        # NO filesystem side effects here: a store handle may be created
        # speculatively (Collection with a path that is later snapshotted
        # by other means); directories appear on first write
        self.spark = spark
        self.path = path
        self.id_col = id_col
        # segment seq -> the ids it writes (None for a NULL id); entries
        # of segments a compaction dropped are pruned by read_log()
        self._seg_ids: dict[int, frozenset] = {}

    # ------------------------------------------------------------ manifest
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "MANIFEST.json")

    def _read_manifest(self) -> dict:
        return read_manifest(self.path)

    def _commit_manifest(self, m: dict) -> None:
        """Atomically rename the manifest into place — the commit point."""
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path)  # atomic commit point

    def exists(self) -> bool:
        return os.path.exists(self._manifest_path)

    # ------------------------------------------------------------ writes
    def _append_segment(self, df: DataFrame, op: str) -> int:
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
        return seq

    def append(self, df: DataFrame) -> list:
        """Write ``df`` as one immutable upsert segment, as is, and learn
        its ids: one job over the segment's key column (explicit schema,
        no inference job). The ids are returned, one per row. Every row
        of the segment belongs to its id's new version, so a key may have
        many rows (the BM25 postings log writes one per posting)."""
        from pyspark.sql.types import StructType

        seq = self._append_segment(df, "upsert")
        key = StructType([df.schema[self.id_col]])
        ids = [r[0] for r in self.spark.read.schema(key).parquet(
            os.path.join(self.path, f"log/{seq:06d}.parquet")).collect()]
        self._seg_ids[seq] = frozenset(ids)
        return ids

    def append_upsert(self, df: DataFrame) -> list:
        """One immutable log segment per batch. Within a batch, ids are
        deduped (a batch is one logical write, like the reference's
        upsert_bulk); across batches, later segments win. Returns the
        segment's ids (append): the write's shadow set, which the caller
        may hand on."""
        return self.append(df.dropDuplicates([self.id_col]))

    def append_delete(self, ids: Sequence[int]) -> None:
        from velesdb_spark.functions.util import id_frame

        ids = [int(i) for i in ids]
        seq = self._append_segment(id_frame(self.spark, ids, self.id_col),
                                   "delete")
        self._seg_ids[seq] = frozenset(ids)

    # ------------------------------------------------------------ reads
    def _segment_ids(self, log: DataFrame, seqs: list) -> list:
        """The ids each segment writes, in segment order. Segments this
        handle did not write (a reopened store) are collected once, in
        one job over the log's (id, seq) columns."""
        missing = [q for q in seqs if q not in self._seg_ids]
        if missing:
            found: dict = {q: set() for q in missing}
            rows = log.filter(F.col(_SEQ).isin(missing)) \
                .select(self.id_col, _SEQ).collect()
            for i, q in rows:
                found[q].add(i)
            self._seg_ids.update((q, frozenset(v)) for q, v in found.items())
        self._seg_ids = {q: self._seg_ids[q] for q in seqs}
        return [self._seg_ids[q] for q in seqs]

    def read_log(self, m: dict) -> tuple[Optional[DataFrame], set]:
        """The log half of manifest ``m``'s view: each segment's upsert
        rows minus the ids a later segment writes (all rows of an id's
        superseded version go), and the set of every id the log writes,
        which shadows the snapshot. ``(None, ∅)`` with no log.

        A NULL id is one key among log segments (the newest NULL-id row
        wins), but shadows no snapshot row, since NULL matches no id."""
        if not m["segments"]:
            self._seg_ids = {}
            return None, set()
        log = (self.spark.read.option("mergeSchema", "true")
               .parquet(*[os.path.join(self.path, s) for s in m["segments"]]))
        seqs = [int(os.path.basename(s).split(".")[0])
                for s in m["segments"]]
        later: set = set()
        shadowed = []
        for seq, ids in reversed(list(zip(seqs, self._segment_ids(log, seqs)))):
            gone = ids & later
            cond = in_sql(self.id_col, gone)
            if None in gone:
                cond = " OR ".join(filter(None, [
                    cond, f"{ident(self.id_col)} IS NULL"]))
            if cond:
                shadowed.append(f"({ident(_SEQ)} = {seq} AND ({cond}))")
            later |= ids
        keep = f"{ident(_OP)} <> 'delete'"
        if shadowed:
            keep += f" AND NOT ({' OR '.join(shadowed)})"
        return log.filter(keep).drop(_OP, _SEQ), later

    def read(self) -> Optional[DataFrame]:
        """Last-writer-wins resolved view of snapshot + log, from literal
        shadow-id sets: the snapshot minus every id the log writes, union
        the log half (read_log). Plan shape: filtered scans and a union —
        no window, no shuffle, no join. Each set holds at most the log
        since the last compaction."""
        m = self._read_manifest()
        snap = None
        if m["snapshot"]:
            snap = self.spark.read.parquet(
                os.path.join(self.path, m["snapshot"]))
        survivors, ids = self.read_log(m)
        if survivors is None:
            return snap
        if snap is None:
            return survivors
        cond = in_sql(self.id_col, ids)
        kept = snap.filter(f"NOT {cond}") if cond else snap
        return kept.unionByName(survivors, allowMissingColumns=True)

    # ------------------------------------------------------------ maintenance
    def write_snapshot(self, write: Callable[[str], None], **keys) -> None:
        """Write the next snapshot version through ``write(directory)`` and
        commit it with the log truncated (log_payload.rs:316-363 snapshot
        + compaction). The snapshot is fully written before the manifest
        flips; old versions stay until vacuum(). Manifest keys this store
        does not own are kept, and ``keys`` sets more (a BM25 index's
        ``term_buckets``). The handle's learned id sets go with the log."""
        m = self._read_manifest()
        cur = int(m["snapshot"].rsplit("=", 1)[1]) if m["snapshot"] else 0
        new = f"snapshot/v={cur + 1}"
        write(os.path.join(self.path, new))
        self._commit_manifest({**m, **keys, "snapshot": new, "segments": []})
        self._seg_ids = {}

    def compact(self) -> None:
        """Fold the log into a new snapshot version and truncate the log
        (write_snapshot)."""
        df = self.read()
        if df is None:
            return
        self.write_snapshot(df.write.mode("overwrite").parquet)

    def vacuum(self) -> None:
        """Remove snapshot versions and log segments no longer referenced
        by the manifest (safe once no reader holds an older manifest)."""
        m = self._read_manifest()
        snapdir = os.path.join(self.path, "snapshot")
        live_snap = os.path.basename(m["snapshot"]) if m["snapshot"] else None
        if os.path.isdir(snapdir):
            for v in os.listdir(snapdir):
                if v != live_snap:
                    shutil.rmtree(os.path.join(snapdir, v))
        live_segs = {os.path.basename(s) for s in m["segments"]}
        logdir = os.path.join(self.path, "log")
        if not os.path.isdir(logdir):
            return
        for s in os.listdir(logdir):
            if s not in live_segs:
                seg = os.path.join(logdir, s)
                shutil.rmtree(seg) if os.path.isdir(seg) else os.remove(seg)
