"""TableIO — atomic snapshot tables over Parquet directories ("Iceberg-lite").

The sandbox has no Iceberg runtime jar, so this seam supplies the semantics the
engine needs from a table format, with the same API shape an Iceberg catalog
would back in production (SURVEY §7.0):

- **atomic commit**: data is written to a staging directory, then a snapshot
  manifest JSON is atomically renamed into ``_snapshots/``; readers resolve the
  latest committed snapshot only. A crash mid-write leaves staging garbage but
  never a half-visible table (the reference gets this from "write then upload,
  verify names" — /root/reference/kg_obo/upload.py:94-149,432-445).
- **snapshot history**: every commit records parent snapshot id, row count, and
  user metadata — the lineage hook.
- **mutex lock**: ``O_CREAT|O_EXCL`` marker file, the analog of the reference's
  zero-byte S3 lock object (/root/reference/kg_obo/upload.py:38-91, checked
  before running at transform.py:765-784); a lock whose holder died on this
  host is taken over rather than left for a human to delete.
- **idempotent publish**: ``commit(..., if_absent=True)`` skips when a snapshot
  with the same user tag exists — upload.py:124-138's head_object-then-skip.

Metadata scaling (the 1e6-commit story — Iceberg's version-hint + manifest
list, VERDICT r2 missing #2): the COMMIT POINT is the atomic rename of the
``LATEST`` pointer file, which embeds the full manifest of the new snapshot.
``latest()``/``read()``/``commit()`` therefore open exactly ONE metadata file
regardless of table history — never a directory listing. Idempotent-tag
checks are O(1) marker-file stats under ``_snapshots/tags/``. Only the
history API (``snapshots()``, time-travel ``read(snapshot_id=...)``) lists the
manifest directory — history-sized work for history-sized questions.
Append-mode manifests accumulate one data dir per commit; ``compact()``
rewrites them into one dir so the manifest and the reader's path list stay
bounded (Iceberg's rewrite_data_files).

Two data writers, one commit point: ``commit`` takes a DataFrame, which
Spark writes, or driver rows as ``(pa.Table, StructType)``, which
``pyarrow.parquet`` writes as one file on the driver with no Spark job (the
lineage, tracking and node tables are bounded by the driver's own state).
Either way the data lands in a fresh ``data-<id>/`` and everything after it
is one code path: sequence claim, fence, manifest, ``LATEST`` rename, tag
marker. ``read`` returns a DataFrame of either kind of snapshot;
``read_arrow`` reads the same chain on the driver.

On a real cluster this module is replaced by an Iceberg catalog: commit ->
``writeTo(t).createOrReplace()``/append, lock -> optimistic commit conflict,
snapshots -> Iceberg metadata tables.
"""

from __future__ import annotations

import json
import os
import socket
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


class LockHeldError(RuntimeError):
    pass


class CommitConflictError(RuntimeError):
    """The table advanced past the snapshot a commit was computed from
    (Iceberg's validation failure on rewrite conflicts). Recompute and retry."""


def parquet_file_rows(data_dir: str) -> dict[str, int]:
    """{part-file name: row count} from the parquet footers under ``data_dir``
    (recursing into hive partition dirs) — the Iceberg manifest-stats analog:
    row counts come from metadata the write already produced, not a second
    scan of the data."""
    import pyarrow.parquet as pq

    rows = {}
    for base, _dirs, files in os.walk(data_dir):
        for fn in files:
            if fn.endswith(".parquet"):
                path = os.path.join(base, fn)
                rows[os.path.relpath(path, data_dir)] = pq.read_metadata(path).num_rows
    return rows


def _parquet_row_count(data_dir: str) -> int:
    return sum(parquet_file_rows(data_dir).values())


@dataclass
class Snapshot:
    snapshot_id: str
    parent_id: str | None
    data_dir: str
    row_count: int
    meta: dict
    sequence: int


def _read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


class Table:
    """One logical table under a root directory."""

    def __init__(self, root: str):
        self.root = root
        self._snap_dir = os.path.join(root, "_snapshots")
        self._latest_path = os.path.join(self._snap_dir, "LATEST")
        self._tags_dir = os.path.join(self._snap_dir, "tags")
        os.makedirs(self._snap_dir, exist_ok=True)

    # ----------------------------------------------------------- snapshots

    def snapshots(self) -> list[Snapshot]:
        """Full history — the only API that lists the manifest directory
        (O(total commits)); the hot paths (latest/read/commit) never call it."""
        snaps = []
        for fn in sorted(os.listdir(self._snap_dir)):
            if fn.endswith(".json"):
                snaps.append(Snapshot(**_read_json(os.path.join(self._snap_dir, fn))))
        snaps.sort(key=lambda s: s.sequence)
        return snaps

    def latest(self) -> Snapshot | None:
        """O(1): one read of the LATEST pointer, whose atomic rename IS the
        commit point (a manifest json without a LATEST successor was a crashed
        commit and is invisible, like an orphaned Iceberg metadata file).
        Tables written before the pointer existed fall back to a listing once;
        their next commit writes the pointer."""
        try:
            return Snapshot(**_read_json(self._latest_path))
        except FileNotFoundError:
            snaps = self.snapshots()  # legacy table layout
            return snaps[-1] if snaps else None

    def exists(self) -> bool:
        return self.latest() is not None

    def has_tag(self, tag: str) -> bool:
        """O(1) idempotent-publish probe: marker-file stat, not a history scan
        (upload.py:124-138's head_object-then-skip shape).

        Crash-window repair (ADVICE r3): the tag marker is written after the
        LATEST rename (the commit point), so a crash between the two leaves a
        committed snapshot with no marker. On marker miss, also check the head
        snapshot's own meta (still O(1) — in the single-writer replay pattern
        the tagged snapshot IS the head) and backfill the marker."""
        if not os.path.isdir(self._tags_dir):
            os.makedirs(self._tags_dir, exist_ok=True)
            if not os.path.exists(self._latest_path):
                # legacy table (pre-LATEST layout): migrate history tags to
                # marker files ONCE; every later probe is a single stat
                for s in self.snapshots():
                    tg = s.meta.get("tag")
                    if tg is not None:
                        self._write_tag_marker(tg, s)
        if os.path.exists(self._tag_path(tag)):
            return True
        head = self.latest()
        if head is not None and head.meta.get("tag") == tag:
            self._write_tag_marker(tag, head)  # repair the crashed marker
            return True
        return False

    def snapshot_by_tag(self, tag: str) -> Snapshot | None:
        """O(1) tag -> snapshot resolution (VERDICT r3 missing #3): the marker
        file stores (snapshot_id, sequence), which names the manifest file
        directly — no ``snapshots()`` history listing in the crash-replay
        path. Falls back to the head check / history scan only for legacy
        bare-id markers."""
        path = self._tag_path(tag)
        try:
            with open(path) as f:
                raw = f.read().strip()
        except FileNotFoundError:
            head = self.latest()
            if head is not None and head.meta.get("tag") == tag:
                self._write_tag_marker(tag, head)
                return head
            return None
        try:
            body = json.loads(raw)
            mf = os.path.join(
                self._snap_dir, f"{body['sequence']:012d}-{body['snapshot_id']}.json"
            )
            return Snapshot(**_read_json(mf))
        except (json.JSONDecodeError, KeyError, TypeError, FileNotFoundError):
            # legacy marker holds a bare snapshot_id: history-sized fallback
            return next((s for s in self.snapshots() if s.snapshot_id == raw), None)

    def _write_tag_marker(self, tag: str, snap: Snapshot) -> None:
        with open(self._tag_path(tag), "w") as f:
            f.write(json.dumps({"snapshot_id": snap.snapshot_id, "sequence": snap.sequence}))

    def _tag_path(self, tag: str) -> str:
        safe = "".join(c if (c.isalnum() or c in "._-") else f"%{ord(c):02x}" for c in tag)
        return os.path.join(self._tags_dir, safe)

    # -------------------------------------------------------------- commit

    def commit(
        self,
        df: DataFrame | tuple,
        meta: dict | None = None,
        mode: str = "overwrite",
        if_absent_tag: str | None = None,
        partition_by: list[str] | None = None,
        expected_parent_id: str | None = None,
        write_options: dict[str, str] | None = None,
    ) -> Snapshot | None:
        """Write ``df`` as a new committed snapshot.

        ``df`` is a DataFrame, written by Spark, or driver rows
        ``(pa.Table, StructType)`` (``session.arrow_rows``), written by
        ``pyarrow.parquet`` as one file with no Spark job; driver rows take
        neither ``partition_by`` nor ``write_options``.
        mode='overwrite' replaces visible data; mode='append' unions with the
        current snapshot at read time (manifest lists both data dirs).
        ``if_absent_tag``: skip (return None) if any snapshot carries this tag —
        the idempotent-publish semantics.
        ``partition_by``: hive-style directory partitioning — readers filtering
        on those columns get partition pruning (the Iceberg partition-spec
        analog; see test_tableio.py::test_partitioned_commit_prunes).
        ``write_options``: extra parquet writer options (e.g. per-column
        bloom filters: ``parquet.bloom.filter.enabled#id``) — the Iceberg
        write-properties analog."""
        base_meta = dict(meta or {})
        if if_absent_tag is not None:
            if self.has_tag(if_absent_tag):
                return None
            base_meta["tag"] = if_absent_tag
        if partition_by:
            base_meta["partition_by"] = partition_by
        snap_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.root, f"data-{snap_id}")
        if isinstance(df, tuple):
            if partition_by or write_options:
                raise ValueError("driver rows are written unpartitioned, with default options")
            import pyarrow.parquet as pq

            table, struct = df
            os.makedirs(data_dir)
            # the manifest records the schema, so the file needs no Arrow copy
            pq.write_table(
                table, os.path.join(data_dir, f"part-00000-{snap_id}.parquet"),
                store_schema=False,
            )
        else:
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            if write_options:
                writer = writer.options(**write_options)
            writer.parquet(data_dir)
            struct = df.schema
        # row count from parquet footers — metadata-only, never a second scan
        # of the data just written (the old read().count() re-read everything)
        n = _parquet_row_count(data_dir)
        schema_str = struct.simpleString()

        # optimistic concurrency (Iceberg's commit conflict): the metadata
        # build races other writers, so claim the next sequence number with an
        # O_CREAT|O_EXCL marker; a loser re-reads latest and retries against
        # the new parent. Only metadata is redone — the data dir write above
        # happens once. On an object store this marker is a conditional put.
        # time-based deadline, not a retry count: it must outlive the 60s
        # stale-marker window so a crashed claimer delays (not fails) others
        deadline = time.time() + 180
        while time.time() < deadline:
            prev = self.latest()
            if (
                prev is not None
                and not os.path.exists(self._latest_path)
                and self._claim_age(prev.sequence) < 60
            ):
                # no LATEST yet, so latest() listed the manifests, and the
                # head one was claimed under the current protocol moments ago:
                # that is the table's first commit, between its manifest and
                # its LATEST rename. Basing on it would let that rename land
                # after ours and move LATEST back, so wait for it.
                time.sleep(0.02)
                continue
            if expected_parent_id is not None and (
                prev.snapshot_id if prev else None
            ) != expected_parent_id:
                # the data this commit was computed from is no longer the
                # table head (e.g. an append landed during a compaction
                # rewrite) — overwriting now would silently drop it
                raise CommitConflictError(
                    f"{self.root}: head moved past {expected_parent_id}"
                )
            seq = (prev.sequence + 1) if prev else 0
            marker = os.path.join(self._snap_dir, f".seq-{seq:012d}")
            try:
                fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                # fence token (ADVICE r3 medium): ownership of the claim is the
                # token inside it, not the file's existence — a reaped-and-
                # reclaimed marker carries someone else's token, and the fenced
                # writer aborts instead of blindly renaming LATEST
                os.write(fd, snap_id.encode())
                os.close(fd)
            except FileExistsError:
                # another writer owns this sequence; wait for its LATEST to
                # land, then rebase (or fail fast on basis conflicts). A marker older than 60s with no manifest
                # behind it is a crashed claimer — reap it (the claimer writes
                # metadata immediately after claiming; its data was already
                # durable before the claim).
                import glob as _glob

                stale = self._claim_age(seq) > 60  # inf: released meanwhile
                if stale and not _glob.glob(
                    os.path.join(self._snap_dir, f"{seq:012d}-*.json")
                ):
                    try:
                        os.remove(marker)
                    except FileNotFoundError:
                        pass
                else:
                    time.sleep(0.02)
                continue
            import glob as _glob

            if _glob.glob(os.path.join(self._snap_dir, f"{seq:012d}-*.json")):
                # we claimed a reaped marker but a manifest already exists at
                # this sequence: the previous owner is mid-commit (its LATEST
                # rename is imminent, or it will clean up after being fenced).
                # Back off rather than writing a second seq-N manifest.
                os.remove(marker)
                time.sleep(0.02)
                continue
            if if_absent_tag is not None and self.has_tag(if_absent_tag):
                # tag race (ADVICE r3): another writer published this tag
                # between the pre-loop probe and our winning claim — release
                # the sequence and report the idempotent skip
                os.remove(marker)
                return None
            meta = dict(base_meta)
            meta["batch_rows"] = n
            meta["schema"] = schema_str
            dirs = [data_dir]
            total = n
            if mode == "append" and prev is not None:
                dirs = json.loads(prev.data_dir) + dirs
                total = prev.row_count + n
                # schema evolution marker: the dir chain now holds >1 parquet
                # schema, so readers must merge footers (see read())
                if (
                    prev.meta.get("schema", schema_str) != schema_str
                    or prev.meta.get("merged_schema")
                ):
                    meta["merged_schema"] = True
            if not partition_by and (
                len(dirs) == 1
                or ("read_schema" in prev.meta and not meta.get("merged_schema"))
            ):
                # every dir of the chain is unpartitioned and holds this one
                # schema: read() hands it to the reader instead of inferring
                # it from footers, a Spark job per dir
                meta["read_schema"] = struct.json()
            snap = Snapshot(
                snapshot_id=snap_id,
                parent_id=prev.snapshot_id if prev else None,
                data_dir=json.dumps(dirs),
                row_count=total,
                meta=meta,
                sequence=seq,
            )
            if not self._write_commit(snap, fence_path=marker, fence_token=snap_id):
                # fenced: our stalled claim was reaped and re-claimed by
                # another writer while we were building metadata — rebase
                # against the new head and retry (the data dir stays valid)
                continue
            if if_absent_tag is not None:
                os.makedirs(self._tags_dir, exist_ok=True)
                self._write_tag_marker(if_absent_tag, snap)
            return snap
        raise RuntimeError(f"commit conflict not resolved within deadline: {self.root}")

    def _claim_age(self, seq: int) -> float:
        """Seconds since sequence ``seq`` was claimed; infinite when it has
        no marker (a table written before sequence claims existed)."""
        try:
            return time.time() - os.path.getmtime(
                os.path.join(self._snap_dir, f".seq-{seq:012d}")
            )
        except FileNotFoundError:
            return float("inf")

    def _write_commit(
        self, snap: Snapshot, fence_path: str | None = None,
        fence_token: str | None = None,
    ) -> bool:
        """History manifest first, then the atomic LATEST rename = the commit
        point. A crash in between leaves an orphan manifest that latest()/read()
        never see (Iceberg orphan-metadata semantics).

        ``fence_path``/``fence_token`` (ADVICE r3 medium): immediately before
        the LATEST rename, re-read the sequence marker; if it no longer holds
        this writer's token the claim was reaped (stalled past the 60s window)
        and re-claimed — withdraw the manifest and return False instead of
        renaming LATEST over the new owner's commit (conditional-put
        semantics, not a blind rename)."""
        body = json.dumps(snap.__dict__)
        manifest = os.path.join(
            self._snap_dir, f"{snap.sequence:012d}-{snap.snapshot_id}.json"
        )
        tmp = os.path.join(self._snap_dir, f".tmp-{snap.snapshot_id}")
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, manifest)
        tmp2 = os.path.join(self._snap_dir, f".tmp-latest-{snap.snapshot_id}")
        with open(tmp2, "w") as f:
            f.write(body)
        if fence_path is not None:
            try:
                with open(fence_path) as f:
                    owner = f.read().strip()
            except FileNotFoundError:
                owner = None
            if owner != fence_token:
                os.remove(manifest)
                os.remove(tmp2)
                return False
        os.rename(tmp2, self._latest_path)
        return True

    def read(self, spark: SparkSession, snapshot_id: str | None = None) -> DataFrame:
        if snapshot_id is not None:
            # time travel: a history-sized question, pays the history listing
            snap = next(s for s in self.snapshots() if s.snapshot_id == snapshot_id)
        else:
            snap = self.latest()  # O(1) metadata
            if snap is None:
                raise FileNotFoundError(f"no committed snapshot in {self.root}")
        dirs = json.loads(snap.data_dir)
        reader = spark.read
        if snap.meta.get("read_schema"):
            # the commit recorded the schema of a plain, single-schema chain:
            # hand it to the reader, so no footer-inference job runs. Older
            # snapshots, merged-schema chains and partitioned layouts infer.
            from pyspark.sql.types import StructType

            reader = reader.schema(
                StructType.fromJson(json.loads(snap.meta["read_schema"]))
            )
        elif snap.meta.get("merged_schema"):
            # schema evolution: this snapshot's manifest records that the dir
            # chain holds more than one schema — pay the footer merge ONLY then
            # (Iceberg gets this from its schema registry; plain parquet needs
            # mergeSchema). Columns absent in older dirs read as null.
            reader = reader.option("mergeSchema", "true")
        if len(dirs) == 1:
            return reader.parquet(dirs[0])
        # append chain: read each data dir as its own root and union — a
        # single multi-path read cannot do hive partition discovery across
        # sibling roots (CONFLICTING_DIRECTORY_STRUCTURES for partitioned
        # commits). Catalyst pushes filters through the Union, so partition
        # pruning still reaches every scan. Latest-schema-wins: each dir's
        # columns are cast to the head snapshot's recorded types first, so a
        # type-widening append (int -> long on the same column) unions cleanly
        # instead of failing on the union's type check (the Iceberg rule:
        # the table schema is the newest commit's schema).
        from functools import reduce

        frames = [reader.parquet(d) for d in dirs]
        target = snap.meta.get("schema")
        if target:
            from pyspark.sql import functions as F
            from pyspark.sql.types import _parse_datatype_string

            # Iceberg's rule permits only WIDENING promotions (int->long,
            # float->double, decimal precision growth at fixed scale; spec
            # "Schema Evolution") — recursively, so array<int> -> array<long>
            # and struct-field promotions are legal too (r6 review: the
            # first cut compared top-level typeName only and rejected nested
            # widenings). A narrowing cast under Spark's non-ANSI default
            # silently overflows instead of failing (ADVICE r5 low), so
            # anything non-widening is a hard error here.
            from pyspark.sql.types import (
                ArrayType,
                DecimalType,
                MapType,
                StructType,
            )

            widening = {
                "byte": {"short", "integer", "long"},
                "short": {"integer", "long"},
                "integer": {"long"},
                "float": {"double"},
            }

            def _is_widening(src_t, dst_t) -> bool:
                if src_t == dst_t:
                    return True
                if dst_t.typeName() in widening.get(src_t.typeName(), ()):
                    return True
                if isinstance(src_t, DecimalType) and isinstance(dst_t, DecimalType):
                    return (
                        dst_t.scale == src_t.scale
                        and dst_t.precision >= src_t.precision
                    )
                if isinstance(src_t, ArrayType) and isinstance(dst_t, ArrayType):
                    return _is_widening(src_t.elementType, dst_t.elementType)
                if isinstance(src_t, MapType) and isinstance(dst_t, MapType):
                    return _is_widening(
                        src_t.keyType, dst_t.keyType
                    ) and _is_widening(src_t.valueType, dst_t.valueType)
                if isinstance(src_t, StructType) and isinstance(dst_t, StructType):
                    return [f.name for f in src_t.fields] == [
                        f.name for f in dst_t.fields
                    ] and all(
                        _is_widening(a.dataType, b.dataType)
                        for a, b in zip(src_t.fields, dst_t.fields)
                    )
                return False

            tgt = {f.name: f.dataType for f in _parse_datatype_string(target)}

            def _conform(fr):
                cols = []
                for c in fr.columns:
                    src_t = fr.schema[c].dataType
                    if c not in tgt or src_t == tgt[c]:
                        cols.append(F.col(c))
                    elif _is_widening(src_t, tgt[c]):
                        cols.append(F.col(c).cast(tgt[c]).alias(c))
                    else:
                        raise ValueError(
                            f"column {c!r}: {src_t.simpleString()} in an older "
                            f"commit cannot be narrowed to the head snapshot's "
                            f"{tgt[c].simpleString()} (only widening promotions "
                            f"are legal; rewrite the table to change types)"
                        )
                return fr.select(*cols)

            frames = [_conform(fr) for fr in frames]
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
        )

    def read_arrow(self, columns: list[str] | None = None):
        """The latest snapshot of an unpartitioned table as a ``pa.Table``,
        read on the driver with no Spark job.

        Each data dir of the chain is cast to the head snapshot's recorded
        schema (a column missing from an older dir reads as null): Spark
        writes timestamps as INT96, which pyarrow reads as zone-less
        nanoseconds, while driver-written dirs hold UTC microseconds, so a
        chain holding both kinds has two physical schemas for one table."""
        import pyarrow as pa
        import pyarrow.dataset as ds
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType, _parse_datatype_string

        snap = self.latest()
        if snap is None:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        if snap.meta.get("read_schema"):
            struct = StructType.fromJson(json.loads(snap.meta["read_schema"]))
        else:
            struct = _parse_datatype_string(snap.meta["schema"])
        target = to_arrow_schema(struct)
        if columns is not None:
            target = pa.schema([target.field(c) for c in columns])
        parts = []
        for d in json.loads(snap.data_dir):
            dataset = ds.dataset(d, format="parquet")
            part = dataset.to_table(
                columns=[f.name for f in target if f.name in dataset.schema.names]
            )
            parts.append(pa.Table.from_arrays(
                [
                    part.column(f.name).cast(f.type)
                    if f.name in part.column_names
                    else pa.nulls(part.num_rows, f.type)
                    for f in target
                ],
                schema=target,
            ))
        return pa.concat_tables(parts)

    def expire_snapshots(self, keep: int = 1) -> dict:
        """Drop history: keep the ``keep`` newest snapshots' manifests, delete
        older manifests, their sequence markers, and any data directory no
        surviving snapshot references (Iceberg expire_snapshots +
        remove_orphan_files). The live read path is untouched — it resolves
        through LATEST; only time travel to expired snapshots stops working.
        Returns {"manifests_removed": n, "data_dirs_removed": m}."""
        snaps = self.snapshots()
        if not snaps:
            return {"manifests_removed": 0, "data_dirs_removed": 0}
        survivors = snaps[-keep:] if keep > 0 else []
        keep_files = {
            f"{s.sequence:012d}-{s.snapshot_id}.json" for s in survivors
        }
        live_dirs: set[str] = set()
        for s in survivors:
            live_dirs.update(json.loads(s.data_dir))
        removed_m = 0
        for fn in os.listdir(self._snap_dir):
            full = os.path.join(self._snap_dir, fn)
            if fn.endswith(".json") and fn not in keep_files:
                os.remove(full)
                removed_m += 1
            elif fn.startswith(".seq-"):
                seq = int(fn[5:])
                if not survivors or seq < survivors[0].sequence:
                    os.remove(full)
        removed_d = 0
        import shutil as _shutil

        for fn in os.listdir(self.root):
            full = os.path.join(self.root, fn)
            if fn.startswith("data-") and os.path.isdir(full) and full not in live_dirs:
                _shutil.rmtree(full)
                removed_d += 1
        return {"manifests_removed": removed_m, "data_dirs_removed": removed_d}

    def compact(self, spark: SparkSession) -> Snapshot | None:
        """Rewrite the accumulated append dirs into ONE data dir and commit it
        as a full snapshot — bounds both the manifest size and the reader's
        path list after many small appends (Iceberg rewrite_data_files).
        No-op when the table is already a single dir."""
        prev = self.latest()
        if prev is None or len(json.loads(prev.data_dir)) <= 1:
            return None
        df = self.read(spark)
        # expected_parent_id: if an append lands while the rewrite runs, the
        # overwrite would silently drop it — fail with CommitConflictError
        # instead (Iceberg rewrite_data_files validation); caller retries
        snap = self.commit(
            df,
            mode="overwrite",
            meta={"compacted_dirs": len(json.loads(prev.data_dir))},
            expected_parent_id=prev.snapshot_id,
        )
        return snap


# -------------------------------------------------------------- bucketed layout


def save_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed metastore table (SURVEY §4.4 layout).

    Tables bucketed by the SAME columns and bucket count join WITHOUT a
    shuffle: Catalyst sees the matching output partitioning and plans a
    sort-merge join with zero Exchange operators on either side — the
    co-location contract for the mentions↔transcripts join family at 100 TB
    (both sides bucketed by conv_id once at write time, every downstream join
    free). Iceberg analog: ``bucket(N, conv_id)`` partition transform.
    Plan pinned by tests/test_plans.py::test_bucketed_join_has_no_exchange."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


# ------------------------------------------------------------------- lock


class Lock:
    """Exclusive run lock: an ``O_CREAT|O_EXCL`` marker file that records the
    holder's host, pid and a random token.

    A lock whose holder pid is dead on this host (a SIGKILLed or OOM-killed
    run never reaches its ``release``) is taken over: the contender moves the
    file aside under a name made from the dead holder's token, removes it and
    retries the create. The move is a hard link, which fails when the name
    exists (a rename would silently replace it), so exactly one contender
    takes over each stale lock. A lock from another host, a live holder, and
    a record without host, pid and token (written before locks carried them,
    or another run's file between its create and its write) are always left
    alone. ``release`` removes the file only while it still carries this
    holder's token."""

    def __init__(self, path: str):
        self.path = path
        self._token: str | None = None

    def held(self) -> bool:
        return os.path.exists(self.path)

    def acquire(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        token = uuid.uuid4().hex
        for _ in range(3):  # a lock file that vanished or was taken over: create again
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                if not self._take_over_stale():
                    break
                continue
            with os.fdopen(fd, "w") as f:
                f.write(json.dumps({
                    "host": socket.gethostname(), "pid": os.getpid(),
                    "token": token, "ts": time.time(),
                }))
            self._token = token
            return
        raise LockHeldError(f"lock already held: {self.path}")

    def release(self) -> None:
        token, self._token = self._token, None
        if token is not None and (_lock_record(self.path) or {}).get("token") == token:
            os.remove(self.path)

    def _take_over_stale(self) -> bool:
        """Remove the lock file iff its holder is dead on this host. True when
        the caller should retry the create."""
        rec = _lock_record(self.path)
        if rec is None:
            return True  # released since the create failed
        if not _holder_dead(rec):
            return False
        aside = f"{self.path}.stale-{rec['token']}"
        try:
            os.link(self.path, aside)
        except FileNotFoundError:
            return True  # removed since it was read
        except OSError:  # another contender is taking it over, or no hard links
            return False
        try:
            # the aside is whatever file the lock path held at link time; only
            # the contender holding this token's aside name removes that file
            if (_lock_record(aside) or {}).get("token") == rec["token"]:
                os.remove(self.path)
        finally:
            os.remove(aside)
        return True

    def __enter__(self) -> "Lock":
        self.acquire()
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def _lock_record(path: str) -> dict | None:
    """A lock file's holder record: None when there is no file, {} when it
    cannot be read as one."""
    try:
        with open(path) as f:
            rec = json.load(f)
    except FileNotFoundError:
        return None
    except (OSError, ValueError):
        return {}
    return rec if isinstance(rec, dict) else {}


def _holder_dead(rec: dict) -> bool:
    """True iff ``rec`` names a holder process on this host that is gone."""
    pid, token = rec.get("pid"), rec.get("token")
    if (
        rec.get("host") != socket.gethostname()
        or not isinstance(pid, int) or pid <= 0
        or not isinstance(token, str) or not token.isalnum()
    ):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except PermissionError:  # alive under another uid
        pass
    return False
