"""Snapshot-versioned parquet tables ("Iceberg-style" without the jars).

This container ships no Iceberg runtime, so the engine provides the three
Iceberg semantics the crawl loop needs on plain parquet:

- **snapshot isolation**: every write creates a new immutable data dir;
  readers resolve the snapshot through a manifest
- **atomic commit**: the manifest is replaced with ``os.replace`` (atomic on
  POSIX), so a crashed wave never exposes partial state
- **time travel / resumability**: old snapshot ids remain readable until
  expired; the wave checkpoint pins one snapshot id per table

Layout::

    root/<table>/d<k>/part-*.parquet     immutable data dirs
    root/<table>/_manifest.json          {"current": N, "snapshots":
                                          {"N": {"dirs": [...], ...}}}

At 100 TB scale this maps 1:1 onto a real Iceberg catalog (append =
AppendFiles, overwrite = ReplacePartitions, checkpoint = snapshot id); the
driver-side manifest JSON is the only piece Iceberg would replace.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # ------------------------------------------------------------ manifest
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "_manifest.json")

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"current": 0, "snapshots": {"0": {"dirs": []}}}

    def _commit_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix="_manifest", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)  # atomic commit

    # ------------------------------------------------------------ data io
    def _new_data_dir(self) -> str:
        return os.path.join(self.dir, f"d{uuid.uuid4().hex[:12]}")

    def current_snapshot(self) -> int:
        return int(self._read_manifest()["current"])

    def snapshot_dirs(self, snapshot: int | None = None) -> list:
        m = self._read_manifest()
        sid = str(m["current"] if snapshot is None else snapshot)
        snap = m["snapshots"].get(sid)
        return list(snap["dirs"]) if snap else []

    def read(self, spark: SparkSession, schema=None, snapshot: int | None = None) -> DataFrame:
        dirs = self.snapshot_dirs(snapshot)
        if not dirs:
            if schema is None:
                raise ValueError(f"table {self.name} is empty and no schema given")
            return spark.createDataFrame([], schema)
        if schema is not None:
            # a declared schema reads with no footer-inference job: fields
            # missing from a dir (added since it was written) read as NULL,
            # and the superset columns a multi-table append wrote
            # (append_many_partitioned) are not read
            return spark.read.schema(schema).parquet(*dirs)
        # mergeSchema across dirs: one snapshot can mix per-table and
        # superset dirs; without merging, spark picks an arbitrary sample
        # file's schema (footer-only metadata cost, and only paid on
        # multi-dir snapshots)
        reader = spark.read
        if len(dirs) > 1:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*dirs)

    #: Parquet codec for all table writes.  zstd compresses the text-heavy
    #: crawl tables (html/content/text columns) ~2x tighter than snappy for
    #: a negligible CPU cost — at 100 TB that halves the storage + shuffle-IO
    #: footprint, and in this sandbox it halves the per-wave write volume
    #: that competes with compute when the host IO-throttles.
    COMPRESSION = "zstd"

    def _write_dir(self, df: DataFrame) -> str:
        path = self._new_data_dir()
        df.write.mode("overwrite").option("compression", self.COMPRESSION).parquet(path)
        return path

    def append(self, df: DataFrame, base_snapshot: int | None = None) -> int:
        """Append files; new snapshot = base snapshot's dirs + new dir."""
        sid, _path = self.append_returning_dir(df, base_snapshot)
        return sid

    def append_returning_dir(self, df: DataFrame,
                             base_snapshot: int | None = None) -> tuple:
        """Append and also return the new data dir, so the caller can read
        back exactly this delta (incremental-scan analog).

        ``base_snapshot`` pins the parent snapshot: a resumed wave that
        re-appends after a crash builds on the last COMMITTED snapshot, so
        orphan dirs from the crashed attempt are never absorbed.
        """
        path = self._write_dir(df)
        m = self._read_manifest()
        base = str(m["current"] if base_snapshot is None else base_snapshot)
        dirs = list(m["snapshots"].get(base, {"dirs": []})["dirs"]) + [path]
        return self._commit(m, dirs), path

    def append_dir(self, path: str, base_snapshot: int | None = None) -> int:
        """Register an ALREADY-WRITTEN data dir as an append (no Spark
        job) — the AppendFiles half of a multi-table transaction whose
        files were produced by one shared write (append_many_partitioned)."""
        m = self._read_manifest()
        base = str(m["current"] if base_snapshot is None else base_snapshot)
        dirs = list(m["snapshots"].get(base, {"dirs": []})["dirs"]) + [path]
        return self._commit(m, dirs)

    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents in one new snapshot."""
        path = self._write_dir(df)
        m = self._read_manifest()
        return self._commit(m, [path])

    def merge(self, spark: SparkSession, source: DataFrame, key_cols: list,
              schema=None, base_snapshot: int | None = None) -> int:
        """MERGE INTO analog (upsert): source rows replace same-key rows
        of the base snapshot, unmatched source rows insert — the
        WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT shape.

        Physical form = copy-on-write MERGE, exactly what Iceberg
        compiles MERGE INTO to without position deletes: base snapshot
        ⟕ anti-join on the key set, union the source, one new snapshot.
        The anti-join's build side is the source key projection (wave
        deltas are small next to the table → broadcast), so the base
        scan stays map-only; at 100 TB Iceberg additionally prunes to
        touched files only, which changes IO, not this dataflow."""
        base = self.read(spark, schema=schema, snapshot=base_snapshot)
        src = source.select(*base.columns)
        kept = base.join(src.select(*key_cols).distinct(),
                         list(key_cols), "left_anti")
        return self.overwrite(kept.unionByName(src))

    # ------------------------------------------------------------ compaction
    def _dir_bytes(self, path: str) -> int:
        total = 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                if not f.startswith("_") and not f.endswith(".crc"):
                    total += os.path.getsize(os.path.join(root, f))
        return total

    def compact(self, spark: SparkSession, small_bytes: int = 64 << 20,
                target_bytes: int = 128 << 20, min_dirs: int = 4) -> int | None:
        """Bin-pack small data dirs into target-sized files (Iceberg
        ``rewrite_data_files`` analog).

        Per-wave appends leave one small dir per wave; at 10^10-URL scale
        that is millions of sub-row-group files whose open/footer cost
        dominates scans.  This rewrite touches ONLY dirs under
        ``small_bytes`` (cost proportional to small-file volume, never a
        full-table rewrite) and coalesces them to ``ceil(bytes /
        target_bytes)`` files.  Optimistic concurrency: if another commit
        lands while the rewrite runs, the compaction aborts (returns
        None) instead of publishing a stale view — the Iceberg
        validation-exception behavior.  Data dirs of the previous
        snapshot remain readable until expire_snapshots.
        """
        m = self._read_manifest()
        base_id = int(m["current"])
        dirs = list(m["snapshots"].get(str(base_id), {"dirs": []})["dirs"])
        sizes = {d: self._dir_bytes(d) for d in dirs}
        small = [d for d in dirs if sizes[d] < small_bytes]
        if len(small) < min_dirs:
            return None
        n_out = max(1, -(-sum(sizes[d] for d in small) // target_bytes))
        packed = self._write_dir(
            spark.read.option("mergeSchema", "true").parquet(*small)
            .repartition(n_out))
        m2 = self._read_manifest()
        if int(m2["current"]) != base_id:  # concurrent commit: abort
            import shutil
            shutil.rmtree(packed, ignore_errors=True)
            return None
        keep = [d for d in dirs if d not in set(small)]
        return self._commit(m2, keep + [packed])

    def expire_snapshots(self, keep_last: int = 1) -> None:
        """Drop old snapshot entries and delete data dirs no current
        snapshot references (Iceberg expire_snapshots analog)."""
        import shutil

        m = self._read_manifest()
        cur = int(m["current"])
        keep_ids = [str(i) for i in range(max(0, cur - keep_last + 1), cur + 1)]
        keep_dirs = set()
        for sid in keep_ids:
            for d in m["snapshots"].get(sid, {"dirs": []})["dirs"]:
                keep_dirs.add(d)
        drop = {d for sid, snap in m["snapshots"].items() if sid not in keep_ids
                for d in snap["dirs"]} - keep_dirs
        m["snapshots"] = {sid: m["snapshots"][sid] for sid in keep_ids
                          if sid in m["snapshots"]}
        self._commit_manifest(m)
        for d in drop:
            shutil.rmtree(d, ignore_errors=True)

    def _commit(self, manifest: dict, dirs: list) -> int:
        new_id = int(manifest["current"]) + 1
        manifest["snapshots"][str(new_id)] = {"dirs": dirs}
        manifest["current"] = new_id
        self._commit_manifest(manifest)
        return new_id


def append_many_partitioned(store: "TableStore", frames: dict,
                            bases: dict | None = None) -> dict:
    """Append several small per-wave deltas in ONE Spark job (multi-table
    transaction analog): union the frames with a ``__table`` discriminator
    over the superset of their columns, write once with
    ``partitionBy("__table")``, then register each table's partition
    subdir via ``append_dir`` — no per-table write jobs.

    Why: a crawl wave commits O(8) tiny table deltas; as separate writes
    each is a full Spark job whose cost is scheduling latency, not data —
    a wave-size-independent fixed cost that caps N→4N pipeline scaling.
    One shared job amortizes that latency across all tables (Iceberg
    analog: one transaction carrying several AppendFiles).

    ``frames``: {table_name: DataFrame}; ``bases``: {table_name: pinned
    base snapshot id}.  Tables whose frame produced no rows keep their
    base snapshot.  Readers project superset files back down via
    ``SnapshotTable.read(schema=...)``.
    """
    import functools

    from pyspark.sql import functions as F

    bases = bases or {}
    names = list(frames)
    tagged = [frames[n].withColumn("__table", F.lit(n)) for n in names]
    union = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)
    out_dir = os.path.join(store.root, "_multi", f"d{uuid.uuid4().hex[:12]}")
    (union.write.mode("overwrite")
     .option("compression", SnapshotTable.COMPRESSION)
     .partitionBy("__table").parquet(out_dir))
    snapshots = {}
    for n in names:
        sub = os.path.join(out_dir, f"__table={n}")
        base = bases.get(n)
        if os.path.isdir(sub):
            snapshots[n] = store.table(n).append_dir(sub, base_snapshot=base)
        else:  # empty delta: stay on the base snapshot
            snapshots[n] = (base if base is not None
                            else store.table(n).current_snapshot())
    return snapshots


class TableStore:
    """A directory of SnapshotTables plus an atomic crawl checkpoint.

    The checkpoint pins (wave, {table: snapshot_id}); a wave that crashes
    mid-write leaves the previous checkpoint intact, and resume simply reads
    the pinned snapshots (SURVEY.md §2.11 resumability contract).
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(self.root, name)

    @property
    def _checkpoint_path(self) -> str:
        return os.path.join(self.root, "_checkpoint.json")

    def read_checkpoint(self) -> dict | None:
        try:
            with open(self._checkpoint_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def commit_checkpoint(self, wave: int, snapshots: dict,
                          counters: dict | None = None) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, prefix="_ckpt", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"wave": wave, "snapshots": snapshots,
                       "counters": counters or {}}, f)
        os.replace(tmp, self._checkpoint_path)
