"""Snapshot-versioned table format on plain parquet.

The reference's storage core is Iceberg 1.8.1 on a Nessie REST catalog
(reference ``spark/Dockerfile:39-40``,
``airflow/dags/utils/init_spark.py:84-109``): every write is an atomic
snapshot commit, ``overwritePartitions()`` replaces exactly the
incoming partitions, and readers can time-travel to any retained
snapshot. No Iceberg/Delta jars exist in this environment (README
"Table formats"), so the engine provides the same *semantics* as a
thin metadata layer over parquet, following the published Iceberg table
spec's design (snapshot manifests listing immutable data files; a
commit is the atomic publication of a new manifest):

  <table>/data/<commit-uuid>/...           immutable parquet data files
  <table>/_manifests/v<N>.json             immutable snapshot manifests (main)
  <table>/_manifests/refs/<branch>/v<N>.json  branch manifest chains
                                           (git-like refs, shared data/)

A manifest enumerates the data files live in that snapshot (each with
its hive-style partition tuple), so:

- **Atomic commits** — data files land first; the snapshot becomes
  visible only when its manifest file appears. A writer crash before
  manifest publication leaves the previous snapshot intact (orphan
  data files are garbage-collected by :meth:`SnapshotTable.vacuum`).
- **Optimistic concurrency** — the manifest name encodes the snapshot
  ordinal; two writers racing on the same parent can publish only one
  ``v<N>.json`` (existence check + rename + read-back verification of
  the commit uuid). The loser raises :class:`CommitConflict`.
- **Time travel** — ``read(snapshot_id=...)`` / ``read(as_of_ms=...)``
  resolve an older manifest; ``rollback()`` re-publishes an old file
  set as a NEW snapshot (history is never rewritten, as in Iceberg).
- **Partition-scoped overwrite** — ``overwrite_partitions(df)`` keeps
  every parent file whose partition tuple is absent from the incoming
  data and adds the new files: the reference's
  ``writeTo(...).overwritePartitions()``, file-level and atomic.
- **Manifest-level pruning** — ``read(where={...})`` drops files by
  their manifest partition tuple before Spark ever lists them; the
  scan plan only contains matching files (Iceberg's metadata-pruning).

Scale posture: all manifest operations are control-plane — O(files),
never O(rows); data moves only through Spark jobs. File listing and
manifest IO go through the Hadoop FileSystem API, so any scheme the
cluster's Hadoop conf resolves works for *data*; the commit protocol's
atomic-publication step relies on atomic rename-without-overwrite,
which holds on local/HDFS but NOT on raw object stores — exactly why
Iceberg pairs S3 with a catalog CAS (the reference's Nessie). On an
object store, point ``_publish`` at a catalog; everything else is
unchanged.
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Sequence
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot ordinal first."""


def _stat_value(v):
    """JSON-safe, order-preserving encoding of a min/max stat value:
    numbers stay numeric; dates/timestamps become ISO strings (ISO
    order == chronological order); anything else goes through str()."""
    import datetime as _dt
    import decimal as _dec

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, _dec.Decimal):
        return float(v)
    return str(v)


class SnapshotTable:
    """A snapshot-versioned parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str,
                 partition_by: Sequence[str] = (),
                 stats_by: Sequence[str] = ()):
        """``stats_by`` names columns whose per-file min/max are
        harvested at commit time and stored in the manifest (Iceberg's
        column-stats metadata). ``read(range_filter=...)`` then skips
        files whose range cannot match — data skipping decided on
        control-plane metadata, no footer reads. Harvesting costs one
        aggregate scan of the NEWLY written files per commit (Iceberg
        collects the same stats inline during its write)."""
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_by = list(partition_by)
        self.stats_by = list(stats_by)
        # Nessie-style named ref: "main" is the default linear history;
        # branches keep their own manifest chain under
        # _manifests/refs/<name>/ while SHARING the table's data/ dir
        # (zero-copy fork — a branch commit writes new files, never
        # duplicates the parent's).
        self.ref = "main"
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(self.path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    # ------------------------------------------------------------------
    # commit operations
    # ------------------------------------------------------------------
    def create(self, df: DataFrame) -> int:
        """First snapshot (or full replace): the new file set IS the
        table. Reference S5 semantics (``writeTo(...).create()``)."""
        files = self._write_data(df)
        return self._commit("create", files, df.schema)

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """New snapshot = parent files + new files. No existing file is
        read or rewritten — append cost is O(incoming data).

        ``merge_schema=True`` permits ADD-COLUMN evolution (the safe
        subset of Iceberg schema evolution): columns new in ``df`` are
        appended to the table schema, and files from older snapshots
        read those columns as NULL (parquet scans fill columns missing
        from a file when given an explicit wider schema). Dropping or
        re-typing existing columns still requires a full ``create()``.
        """
        parent = self._require_current()
        if merge_schema:
            old = StructType.fromJson(json.loads(parent["schema"]))
            old_names = {f.name for f in old.fields}
            missing = old_names - set(df.columns)
            if missing:
                raise ValueError(
                    f"merge_schema append still requires every existing "
                    f"column; missing {sorted(missing)}"
                )
            merged = StructType(
                list(old.fields)
                + [f for f in df.schema.fields if f.name not in old_names]
            )
            files = self._write_data(df)
            return self._commit(
                "append", parent["files"] + files, None, parent=parent,
                schema_json=json.dumps(merged.jsonValue()),
            )
        self._check_schema(parent, df)
        files = self._write_data(df)
        return self._commit_append_with_retry(files, df.schema, parent)

    def _commit_append_with_retry(self, files: list[dict], schema,
                                  parent: dict, meta: dict | None = None,
                                  retries: int = 5,
                                  abort_if=None) -> int | None:
        """Append commits are ORDER-INDEPENDENT (new files union parent
        files), so a lost commit race is retryable without rewriting
        data: re-read the new current snapshot and re-point the same
        already-written files at it — exactly Iceberg's retryable
        commit path. Non-append operations (overwrite/merge/delete)
        derive their file set FROM the parent, so their conflicts
        surface to the caller instead."""
        for _ in range(retries):
            try:
                return self._commit("append", parent["files"] + files,
                                    schema, parent=parent, meta=meta)
            except CommitConflict:
                parent = self._require_current()
                # the winner may have made this commit redundant (e.g.
                # a racing instance of the same streaming batch)
                if abort_if is not None and abort_if():
                    return None
                # the winning commit may have evolved the schema; the
                # retry's data files carry the OLD column set, so only
                # an identical column set is safe to re-point
                cur_names = {
                    f["name"]
                    for f in json.loads(parent["schema"])["fields"]
                }
                if schema is not None and cur_names != set(schema.fieldNames()):
                    raise
        raise CommitConflict(
            f"append lost the commit race {retries} times in a row — "
            "pathological contention; retry externally"
        )

    def compact(self, target_files: int = 1) -> int:
        """Small-file compaction as a normal snapshot commit (the
        table-service `rewrite_data_files` every streaming sink needs:
        each micro-batch adds files; scan cost grows with file count,
        not data size). Rewrites the CURRENT file set into
        ``target_files`` files per partition tuple and publishes the
        result — readers switch atomically, and time travel to
        pre-compaction snapshots still works until they expire."""
        parent = self._require_current()
        schema = StructType.fromJson(json.loads(parent["schema"]))
        cur = self._scan(parent["files"], schema)
        if self.partition_by:
            if target_files <= 1:
                cur = cur.repartition(*self.partition_by)
            else:
                salt = F.pmod(
                    F.xxhash64(*[F.col(c) for c in cur.columns]),
                    F.lit(target_files),
                )
                cur = (cur.withColumn("__salt", salt)
                       .repartition(*self.partition_by, "__salt")
                       .drop("__salt"))
        else:
            cur = cur.repartition(target_files)
        files = self._write_data(cur)
        return self._commit("compact", files, None, parent=parent,
                            schema_json=parent["schema"])

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Replace exactly the partitions present in ``df`` — the
        reference's ``overwritePartitions()`` (S6), as a file-level
        metadata swap. The incoming partition set is harvested from the
        freshly written files (control-plane; no extra Spark job)."""
        if not self.partition_by:
            raise ValueError(
                "overwrite_partitions on an unpartitioned table would "
                "replace everything — use create() for a full refresh"
            )
        parent = self._require_current()
        self._check_schema(parent, df)
        files = self._write_data(df)
        incoming = {self._ptuple(f["partition"]) for f in files}
        kept = [f for f in parent["files"]
                if self._ptuple(f["partition"]) not in incoming]
        return self._commit("overwrite_partitions", kept + files, df.schema,
                            parent=parent)

    def merge(self, updates: DataFrame, keys: Sequence[str]) -> int:
        """MERGE INTO: rows matching ``keys`` are replaced, new keys
        inserted — Iceberg's ``MERGE`` compiled to copy-on-write, with
        the target read pruned to the partitions present in ``updates``
        at the MANIFEST level (the 100 TB posture: a daily upsert reads
        and rewrites one day, never the table).

        Contract (same as ``maintenance.merge_upsert``): a key's
        partition value must not change across upserts; the partition
        column must be present in ``updates``.
        """
        keys = list(keys)
        parent = self._require_current()
        self._check_schema(parent, updates)
        files = self._write_data(updates)
        incoming = {self._ptuple(f["partition"]) for f in files}
        kept = [f for f in parent["files"]
                if self._ptuple(f["partition"]) not in incoming]
        # survivors of the touched partitions: current rows whose key is
        # NOT being updated, rewritten alongside the updates
        touched = [f for f in parent["files"]
                   if self._ptuple(f["partition"]) in incoming]
        if touched:
            schema = StructType.fromJson(json.loads(parent["schema"]))
            cur = self._scan(touched, schema)
            survivors = cur.join(updates.select(*keys).distinct(), keys,
                                 "left_anti")
            files += self._write_data(survivors)
        return self._commit("merge", kept + files, updates.schema,
                            parent=parent)

    def read_incremental(self, from_id: int, to_id: int | None = None) -> DataFrame:
        """Rows in data files ADDED strictly after snapshot ``from_id``
        (up to ``to_id``, default current) — Iceberg's incremental
        append scan. The downstream consumer of a table that only ever
        receives appends can process deltas without re-reading history.
        Note: file-level semantics — an overwrite/merge commit's
        rewritten files count as added."""
        man_to = (self._manifest(to_id) if to_id is not None
                  else self._require_current())
        before = {f["path"] for f in self._manifest(from_id)["files"]}
        added = [f for f in man_to["files"] if f["path"] not in before]
        schema = StructType.fromJson(json.loads(man_to["schema"]))
        return self._scan(added, schema)

    def committed_batch_ids(self) -> set[int]:
        """Streaming-sink support: the set of micro-batch ids already
        committed (recorded in manifest metadata). A restarted
        foreachBatch query replays its last batch; checking membership
        here makes the sink exactly-once."""
        out = set()
        for sid in self._snapshot_ids():
            b = self._manifest(sid).get("batch_id")
            if b is not None:
                out.add(b)
        return out

    def append_batch(self, df: DataFrame, batch_id: int) -> int | None:
        """Idempotent micro-batch append: skips (returns None) if
        ``batch_id`` was already committed — the foreachBatch body for
        an exactly-once streaming sink over this table format."""
        if batch_id in self.committed_batch_ids():
            return None
        if self.current_snapshot_id() is None:
            files = self._write_data(df)
            return self._commit("append", files, df.schema,
                                meta={"batch_id": batch_id})
        parent = self._require_current()
        self._check_schema(parent, df)
        files = self._write_data(df)
        return self._commit_append_with_retry(
            files, df.schema, parent, meta={"batch_id": batch_id},
            # a racing instance of the SAME query may have committed
            # this very batch while we retried — that's success (skip),
            # not conflict; checked after every parent refresh so a
            # replayed batch can never double-append
            abort_if=lambda: batch_id in self.committed_batch_ids(),
        )

    def delete_where(
        self,
        condition,
        where: dict | None = None,
        range_filter: tuple | None = None,
    ) -> int:
        """Row-level DELETE compiled to copy-on-write (Iceberg's
        ``DELETE FROM``): only files that MIGHT hold matching rows are
        rewritten without them; every other file is carried into the
        new snapshot untouched. ``where`` (partition tuple) and
        ``range_filter`` (column-stats range, see :meth:`read`) bound
        the rewrite set at the manifest level — a delete scoped to one
        day rewrites one day. ``condition`` is a pyspark Column applied
        row-level inside the candidate files."""
        parent = self._require_current()
        candidates = parent["files"]
        if where:
            want = {k: (_HIVE_NULL if v is None else str(v))
                    for k, v in where.items()}
            candidates = [f for f in candidates
                          if all(f["partition"].get(k) == v
                                 for k, v in want.items())]
        if range_filter is not None:
            col, lo, hi = range_filter
            lo, hi = _stat_value(lo), _stat_value(hi)
            def _may(f):
                s = f.get("stats", {}).get(col)
                if not s or s[0] is None or s[1] is None:
                    return True
                return not ((lo is not None and s[1] < lo)
                            or (hi is not None and s[0] > hi))
            candidates = [f for f in candidates if _may(f)]
        cand_paths = {f["path"] for f in candidates}
        untouched = [f for f in parent["files"] if f["path"] not in cand_paths]
        files = list(untouched)
        if candidates:
            schema = StructType.fromJson(json.loads(parent["schema"]))
            # SQL DELETE semantics: only condition=TRUE rows go; a
            # NULL-evaluating condition KEEPS the row (a bare
            # ``~condition`` filter would silently drop it).
            survivors = self._scan(candidates, schema).where(
                ~F.coalesce(condition, F.lit(False))
            )
            files += self._write_data(survivors)
        return self._commit("delete", files, None, parent=parent,
                            schema_json=parent["schema"])

    def evolve_partitioning(self, new_partition_by: Sequence[str]) -> int:
        """Change the partition spec for FUTURE writes — Iceberg
        partition evolution: a metadata-only commit; no existing file
        is rewritten, old files keep their old layout, and
        ``read(where=...)`` prunes conservatively across specs (a file
        without the queried key is kept — see :meth:`read`). Re-opened
        instances should construct with ``current_partition_spec()``.
        """
        parent = self._require_current()
        self.partition_by = list(new_partition_by)
        return self._commit(
            "evolve_partitioning", parent["files"], None, parent=parent,
            schema_json=parent["schema"],
        )

    def current_partition_spec(self) -> list[str]:
        """The partition spec of the current snapshot (authoritative
        after :meth:`evolve_partitioning`; manifests record the spec
        active at each commit)."""
        return list(self._require_current().get("partition_by", []))

    def rollback(self, snapshot_id: int) -> int:
        """Publish snapshot ``snapshot_id``'s file set as a NEW
        snapshot (history stays append-only, as in Iceberg's
        rollback)."""
        parent = self._require_current()
        old = self._manifest(snapshot_id)
        return self._commit("rollback", old["files"], None, parent=parent,
                            schema_json=old["schema"])

    # ------------------------------------------------------------------
    # branches (the reference's Nessie catalog capability: git-like
    # refs over table state — SURVEY "Catalog/versioning",
    # docker-compose.yaml:284-308)
    # ------------------------------------------------------------------
    def _at_ref(self, ref: str) -> "SnapshotTable":
        t = SnapshotTable(self.spark, self.path,
                          partition_by=self.partition_by,
                          stats_by=self.stats_by)
        t.ref = ref
        return t

    def branches(self) -> list[str]:
        """Active branch names (refs with at least one manifest)."""
        root = self._Path(f"{self.path}/_manifests/refs")
        if not self._fs.exists(root):
            return []
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(root)
            if st.isDirectory()
        )

    def create_branch(self, name: str) -> "SnapshotTable":
        """Fork the current snapshot as branch ``name`` — ZERO data
        copy: the branch's v1 manifest references the same immutable
        files (Nessie's cheap ref creation). Returns a SnapshotTable
        bound to the branch; commits on it never move main."""
        if name == "main" or not re.fullmatch(r"[A-Za-z0-9_\-]+", name):
            raise ValueError(f"invalid branch name: {name!r}")
        if name in self.branches():
            raise ValueError(f"branch already exists: {name}")
        cur = self._require_current()
        br = self._at_ref(name)
        br._commit("branch_create", cur["files"], None,
                   schema_json=cur["schema"],
                   meta={"fork_source_sid": cur["snapshot_id"]})
        return br

    def branch(self, name: str) -> "SnapshotTable":
        if name not in self.branches():
            raise ValueError(f"no such branch: {name}")
        return self._at_ref(name)

    def merge_branch(self, name: str) -> int:
        """Fast-forward merge: publish the branch head's file set and
        schema as a new commit on main. Raises :class:`CommitConflict`
        if main advanced past the branch's fork point — Nessie's
        conflict-on-merge contract; rebase by re-branching. The merged
        commit records the branch and its head for lineage, and the
        branch ref is dropped afterwards (a merged branch can never
        advance main a second time)."""
        if self.ref != "main":
            raise ValueError("merge_branch must be called on main")
        br = self.branch(name)
        head = br._require_current()
        fork_sid = br._manifest(1).get("fork_source_sid")
        cur = self._require_current()
        if cur["snapshot_id"] != fork_sid:
            raise CommitConflict(
                f"main advanced past branch {name!r}'s fork point "
                f"(v{fork_sid} -> v{cur['snapshot_id']}); re-branch and "
                "replay the branch's changes"
            )
        sid = self._commit(
            "merge_branch", head["files"], None, parent=cur,
            schema_json=head["schema"],
            meta={"merged_branch": name,
                  "merged_head_sid": head["snapshot_id"]},
        )
        self.discard_branch(name)
        return sid

    def discard_branch(self, name: str) -> None:
        """Drop the branch ref. Data files written only by the branch
        become unreferenced and are reclaimed by :meth:`vacuum` (which
        scans every live ref, so an ACTIVE branch's files are never
        collected)."""
        if name not in self.branches():
            raise ValueError(f"no such branch: {name}")
        self._fs.delete(
            self._Path(f"{self.path}/_manifests/refs/{name}"), True
        )

    # ------------------------------------------------------------------
    # tags (Nessie's immutable named refs: pin a snapshot under a name
    # — release audits, reproducible training-data cuts)
    # ------------------------------------------------------------------
    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin ``snapshot_id`` (default: current) under ``name``.
        Tags are immutable — re-tagging a name raises — and a tagged
        snapshot survives :meth:`expire_snapshots`."""
        if not re.fullmatch(r"[A-Za-z0-9_\-.]+", name):
            raise ValueError(f"invalid tag name: {name!r}")
        sid = snapshot_id or self._require_current()["snapshot_id"]
        self._manifest(sid)  # must exist
        tdir = self._Path(f"{self.path}/_manifests/tags")
        self._fs.mkdirs(tdir)
        p = self._Path(f"{self.path}/_manifests/tags/{name}.json")
        out = self._fs.create(p, False)  # no-overwrite: immutability
        out.write(bytearray(json.dumps(
            {"name": name, "snapshot_id": sid}).encode("utf-8")))
        out.close()
        return sid

    def tags(self) -> dict[str, int]:
        tdir = self._Path(f"{self.path}/_manifests/tags")
        if not self._fs.exists(tdir):
            return {}
        out = {}
        for st in self._fs.listStatus(tdir):
            n = st.getPath().getName()
            if n.endswith(".json"):
                stream = self._fs.open(st.getPath())
                try:
                    # same JVM-side drain as _manifest (py4j arrays are
                    # pass-by-value; readFully can't fill a bytearray)
                    content = (
                        self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                            stream, "UTF-8"
                        )
                    )
                finally:
                    stream.close()
                data = json.loads(content)
                out[data["name"]] = data["snapshot_id"]
        return out

    def read_tag(self, name: str) -> DataFrame:
        tags = self.tags()
        if name not in tags:
            raise ValueError(f"no such tag: {name}")
        return self.read(snapshot_id=tags[name])

    def delete_tag(self, name: str) -> None:
        if name not in self.tags():
            raise ValueError(f"no such tag: {name}")
        self._fs.delete(
            self._Path(f"{self.path}/_manifests/tags/{name}.json"), False
        )

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------
    def read(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        where: dict | None = None,
        range_filter: tuple | None = None,
    ) -> DataFrame:
        """Materialize a snapshot as a DataFrame.

        ``snapshot_id`` / ``as_of_ms`` select an older snapshot (time
        travel); ``where`` is a partition-tuple filter applied at the
        MANIFEST level — non-matching files never reach the scan plan,
        the same metadata pruning an Iceberg reader does.
        ``range_filter=(col, lo, hi)`` (either bound may be None)
        skips files whose stored min/max range for a ``stats_by``
        column cannot intersect [lo, hi] — column-stats data skipping.
        Both prune FILES only; apply the matching row-level filter on
        the returned DataFrame (stats pruning keeps every file that
        MIGHT match, so surviving files still carry non-matching rows).
        """
        if snapshot_id is not None and as_of_ms is not None:
            raise ValueError("pass snapshot_id OR as_of_ms, not both")
        if as_of_ms is not None:
            snapshot_id = self._resolve_as_of(as_of_ms)
        man = (self._manifest(snapshot_id) if snapshot_id is not None
               else self._require_current())
        files = man["files"]
        if where:
            bad = set(where) - set(self.partition_by)
            if bad:
                raise ValueError(f"non-partition columns in where: {sorted(bad)}")
            want = {k: (_HIVE_NULL if v is None else str(v))
                    for k, v in where.items()}
            # partition-spec evolution (Iceberg semantics): a file
            # written under an older spec has no value for a newer
            # partition key — absence cannot prove exclusion, so such
            # files are KEPT and the caller's row-level filter decides.
            files = [
                f for f in files
                if all(k not in f["partition"] or f["partition"][k] == v
                       for k, v in want.items())
            ]
        if range_filter is not None:
            col, lo, hi = range_filter
            lo, hi = _stat_value(lo), _stat_value(hi)

            def _may_match(f: dict) -> bool:
                s = f.get("stats", {}).get(col)
                if not s or s[0] is None or s[1] is None:
                    return True  # no stats → cannot prove exclusion
                if lo is not None and s[1] < lo:
                    return False
                if hi is not None and s[0] > hi:
                    return False
                return True

            files = [f for f in files if _may_match(f)]
        schema = StructType.fromJson(json.loads(man["schema"]))
        return self._scan(files, schema)

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first: (snapshot_id, parent_id,
        operation, timestamp_ms, n_files)."""
        out = []
        for sid in self._snapshot_ids():
            m = self._manifest(sid)
            out.append({
                "snapshot_id": m["snapshot_id"],
                "parent_id": m["parent_id"],
                "operation": m["operation"],
                "timestamp_ms": m["timestamp_ms"],
                "n_files": len(m["files"]),
            })
        return out

    def current_snapshot_id(self) -> int | None:
        ids = self._snapshot_ids()
        return ids[-1] if ids else None

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the newest ``keep_last`` manifests (time travel
        to them ends), then vacuum unreferenced data files. Tagged
        snapshots are never expired — a tag is an immutable named pin
        (Nessie's tag ref). Returns the expired snapshot ids."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        ids = self._snapshot_ids()
        pinned = set(self.tags().values()) if self.ref == "main" else set()
        expired = [sid for sid in ids[:-keep_last] if sid not in pinned]
        for sid in expired:
            self._fs.delete(self._Path(self._manifest_path(sid)), False)
        self.vacuum()
        return expired

    def vacuum(self, min_age_s: float = 0.0) -> list[str]:
        """Delete data files referenced by NO retained manifest —
        failed-commit orphans and expired-snapshot leftovers. Live
        snapshots only ever reference immutable files, so referenced
        data is never touched.

        ``min_age_s``: skip unreferenced files younger than this. An
        IN-FLIGHT commit stages its data files before publishing its
        manifest, so a concurrent vacuum would see them as orphans —
        the same race Iceberg's remove-orphan-files action guards with
        an age threshold. Pass an hour or more when other writers may
        be active; the 0 default is for single-writer/test use."""
        import time as _time

        live: set[str] = set()
        for ref in ["main"] + self.branches():
            t = self._at_ref(ref)
            for sid in t._snapshot_ids():
                live.update(f["path"] for f in t._manifest(sid)["files"])
        deleted = []
        data_root = self._Path(f"{self.path}/data")
        if not self._fs.exists(data_root):
            return deleted
        cutoff_ms = (_time.time() - min_age_s) * 1000
        it = self._fs.listFiles(data_root, True)
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            if "/data/" not in p:
                continue
            rel = "data/" + p.split("/data/", 1)[1]
            if (rel not in live and not rel.endswith("_SUCCESS")
                    and st.getModificationTime() <= cutoff_ms):
                self._fs.delete(st.getPath(), False)
                deleted.append(rel)
        return deleted

    # ------------------------------------------------------------------
    # internals
    # ------------------------------------------------------------------
    def _scan(self, files: list[dict], schema: StructType) -> DataFrame:
        """DataFrame over an explicit manifest file list. One read per
        contributing commit directory: basePath anchors hive
        partition-value parsing for that commit's files; commits are
        bounded (control-plane), and unionByName of per-commit scans
        keeps partition columns typed + positioned by the stored
        schema (partition columns otherwise surface at the end)."""
        if not files:
            return self.spark.createDataFrame([], schema)
        by_base: dict[str, list[str]] = {}
        for f in files:
            base = f"{self.path}/data/{f['commit']}"
            by_base.setdefault(base, []).append(f"{self.path}/{f['path']}")
        out = None
        for base, paths in sorted(by_base.items()):
            part = (self.spark.read.schema(schema)
                    .option("basePath", base).parquet(*paths)
                    .select(*[f.name for f in schema.fields]))
            out = part if out is None else out.unionByName(part)
        return out

    def _write_data(self, df: DataFrame) -> list[dict]:
        """Write ``df`` into a fresh immutable commit directory and
        harvest the produced file list (path + partition tuple parsed
        from the hive-style directory names)."""
        missing = [c for c in self.partition_by if c not in df.columns]
        if missing:
            raise ValueError(
                f"partition columns {missing} not in DataFrame {df.columns}"
            )
        commit = uuid.uuid4().hex[:16]
        out = f"{self.path}/data/{commit}"
        w = df.write.mode("errorifexists")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(out)
        files = []
        it = self._fs.listFiles(self._Path(out), True)
        while it.hasNext():
            st = it.next()
            p = st.getPath().toString()
            name = p.rsplit("/", 1)[-1]
            if not name.endswith(".parquet"):
                continue
            rel_in_commit = p.split(f"/data/{commit}/", 1)[1]
            partition = {}
            for seg in rel_in_commit.split("/")[:-1]:
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    partition[unquote(k)] = unquote(v)
            files.append({
                "path": f"data/{commit}/{rel_in_commit}",
                "commit": commit,
                "partition": partition,
                "bytes": st.getLen(),
            })
        self._attach_stats(out, files)
        return files

    def _attach_stats(self, commit_dir: str, files: list[dict]) -> None:
        """Harvest per-file min/max for ``stats_by`` columns from the
        newly written files and attach them to the manifest entries.
        One distributed aggregate grouped by file name — O(new data),
        never O(table)."""
        cols = [c for c in self.stats_by if c not in self.partition_by]
        if not cols or not files:
            return
        df = self.spark.read.parquet(commit_dir)
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"__min_{c}"))
            aggs.append(F.max(c).alias(f"__max_{c}"))
        rows = (
            df.groupBy(F.input_file_name().alias("__file"))
            .agg(*aggs)
            .collect()  # control-plane: one row per new file
        )
        # key by path relative to the commit dir (basenames can repeat
        # across partition directories: one task writes the same
        # part-NNNN name into every partition it touches)
        marker = commit_dir.rstrip("/").rsplit("/", 1)[-1] + "/"
        by_rel = {}
        for r in rows:
            rel = r["__file"].split(marker, 1)[-1]
            by_rel[rel] = {
                c: [_stat_value(r[f"__min_{c}"]), _stat_value(r[f"__max_{c}"])]
                for c in cols
            }
        for f in files:
            rel = f["path"].split("/", 2)[-1]  # strip "data/<commit>/"
            stats = by_rel.get(rel)
            if stats is not None:
                f["stats"] = stats

    def _commit(self, operation: str, files: list[dict],
                schema: StructType | None, parent: dict | None = None,
                schema_json: str | None = None,
                meta: dict | None = None) -> int:
        import time as _time

        sid = (parent["snapshot_id"] + 1) if parent else 1
        if parent is None and self._snapshot_ids():
            # create() over an existing table = full replace from the
            # latest snapshot, keeping history linear.
            cur = self._require_current()
            sid = cur["snapshot_id"] + 1
            parent = cur
        token = uuid.uuid4().hex
        manifest = {
            **(meta or {}),
            "snapshot_id": sid,
            "parent_id": parent["snapshot_id"] if parent else None,
            "operation": operation,
            "timestamp_ms": int(_time.time() * 1000),
            "commit_token": token,
            "partition_by": self.partition_by,
            "schema": schema_json if schema_json is not None
            else json.dumps(schema.jsonValue()),
            "files": files,
        }
        self._publish(sid, manifest, token)
        return sid

    def _publish(self, sid: int, manifest: dict, token: str) -> None:
        """Atomic snapshot publication: full write to a temp name, then
        rename to ``v<sid>.json`` with existence check + read-back
        verification (rename-no-overwrite is atomic on local/HDFS; an
        object-store deployment swaps this one method for a catalog
        CAS — the reference's Nessie commit)."""
        final = self._Path(self._manifest_path(sid))
        mdir = self._Path(self._manifest_dir())
        self._fs.mkdirs(mdir)
        tmp = self._Path(f"{self._manifest_dir()}/.tmp-{token}.json")
        out = self._fs.create(tmp, False)
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
        out.close()
        try:
            if self._fs.exists(final) or not self._fs.rename(tmp, final):
                raise CommitConflict(
                    f"snapshot v{sid} was committed concurrently — "
                    "re-read the table and retry the write"
                )
            # read-back guard: local rename(2) CAN silently overwrite;
            # verify our token actually landed.
            if self._manifest(sid).get("commit_token") != token:
                raise CommitConflict(
                    f"lost the commit race for snapshot v{sid}"
                )
        finally:
            if self._fs.exists(tmp):
                self._fs.delete(tmp, False)

    def _manifest_dir(self) -> str:
        if self.ref == "main":
            return f"{self.path}/_manifests"
        return f"{self.path}/_manifests/refs/{self.ref}"

    def _manifest_path(self, sid: int) -> str:
        return f"{self._manifest_dir()}/v{sid}.json"

    def _snapshot_ids(self) -> list[int]:
        mdir = self._Path(self._manifest_dir())
        if not self._fs.exists(mdir):
            return []
        ids = []
        for st in self._fs.listStatus(mdir):
            m = _MANIFEST_RE.match(st.getPath().getName())
            if m:
                ids.append(int(m.group(1)))
        return sorted(ids)

    def _manifest(self, sid: int) -> dict:
        p = self._Path(self._manifest_path(sid))
        if not self._fs.exists(p):
            raise ValueError(f"snapshot {sid} does not exist (expired?)")
        stream = self._fs.open(p)
        try:
            # py4j arrays are pass-by-value (readFully into a Python
            # bytearray never fills it) — drain JVM-side instead.
            content = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        return json.loads(content)

    def _require_current(self) -> dict:
        sid = self.current_snapshot_id()
        if sid is None:
            raise ValueError(
                f"table at {self.path} has no snapshots — create() first"
            )
        return self._manifest(sid)

    def _resolve_as_of(self, as_of_ms: int) -> int:
        best = None
        for sid in self._snapshot_ids():
            if self._manifest(sid)["timestamp_ms"] <= as_of_ms:
                best = sid
        if best is None:
            raise ValueError(f"no snapshot at or before {as_of_ms}")
        return best

    def _check_schema(self, parent: dict, df: DataFrame) -> None:
        old = {f["name"] for f in json.loads(parent["schema"])["fields"]}
        new = set(df.columns)
        if old != new:
            raise ValueError(
                f"schema drift vs current snapshot: missing {sorted(old - new)}, "
                f"extra {sorted(new - old)} — evolve via create() (full replace)"
            )

    @staticmethod
    def _ptuple(partition: dict) -> tuple:
        return tuple(sorted(partition.items()))


# ---------------------------------------------------------------------------
# driver-certified demonstration query
# ---------------------------------------------------------------------------

from lambda_lakehouse_spark.registry import register  # noqa: E402
from lambda_lakehouse_spark.sources.readers import read_table  # noqa: E402


@register(
    "snapshot_time_travel",
    oracle="""
        SELECT n_nationkey, lower(n_name) AS n_name, n_regionkey
        FROM nation
        WHERE n_regionkey < 2 AND n_name <> lower(n_name)
    """,
    doc=(
        "Snapshot table format end-to-end: create v1 from nation "
        "(partitioned by n_regionkey), overwrite_partitions the "
        "regionkey<2 partitions with lowercased names (v2), then diff "
        "v2 against the time-traveled v1 — exactly the Iceberg commit/"
        "time-travel semantics the reference's storage core provides "
        "(reference utils/init_spark.py:84-109). The diff equals the "
        "modified rows, derivable in pure SQL from the input table."
    ),
    tags=("table_format", "time_travel"),
)
def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_demo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    nation = read_table(spark, sf_dir, "nation")
    t = SnapshotTable(spark, base, partition_by=["n_regionkey"])
    t.create(nation)
    t.overwrite_partitions(
        nation.where("n_regionkey < 2").withColumn("n_name", F.lower("n_name"))
    )
    v1 = t.read(snapshot_id=1)
    v2 = t.read()
    return v2.subtract(v1).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "snapshot_incremental_read",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation WHERE n_regionkey >= 2
    """,
    doc=(
        "Incremental append scan: after create(regionkey<2) + "
        "append(regionkey>=2), read_incremental(from v1) must return "
        "exactly the appended rows — the delta-consumption contract a "
        "downstream incremental processor relies on (Iceberg's "
        "incremental scan)."
    ),
    tags=("table_format", "incremental"),
)
def snapshot_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_inc_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    nation = read_table(spark, sf_dir, "nation")
    t = SnapshotTable(spark, base, partition_by=["n_regionkey"])
    t.create(nation.where("n_regionkey < 2"))
    t.append(nation.where("n_regionkey >= 2"))
    return t.read_incremental(from_id=1).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "snapshot_merge_changelog",
    oracle="""
        SELECT n_nationkey + 1000 AS n_nationkey, 'insert' AS change_type
        FROM nation WHERE n_regionkey = 2
        UNION ALL
        SELECT n_nationkey, 'update' AS change_type
        FROM nation WHERE n_regionkey = 2 AND reverse(n_name) <> n_name
    """,
    doc=(
        "MERGE INTO the snapshot table (copy-on-write upsert pruned to "
        "the touched partitions at the manifest level) followed by a "
        "CDC changelog between the pre- and post-merge snapshots via "
        "table_diff — the reference's Iceberg MERGE + change-feed "
        "capabilities on the engine's own table format. Updates reverse "
        "region-2 names; inserts add key+1000 twins; the changelog is "
        "derivable in pure SQL from the input."
    ),
    tags=("table_format", "merge", "cdc"),
)
def snapshot_merge_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from lambda_lakehouse_spark.sources.maintenance import table_diff

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_merge_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    nation = read_table(spark, sf_dir, "nation")
    t = SnapshotTable(spark, base, partition_by=["n_regionkey"])
    t.create(nation)
    r2 = nation.where("n_regionkey = 2")
    updates = r2.withColumn("n_name", F.reverse("n_name")).unionByName(
        r2.withColumn("n_nationkey", F.col("n_nationkey") + F.lit(1000))
    )
    t.merge(updates, keys=["n_nationkey"])
    return table_diff(t.read(snapshot_id=1), t.read(), keys=["n_nationkey"])


@register(
    "snapshot_delete_rollback",
    oracle="""
        SELECT 'deleted' AS stage, c_custkey, c_acctbal
        FROM customer WHERE NOT (c_acctbal < 0.0)
        UNION ALL
        SELECT 'rolled_back' AS stage, c_custkey, c_acctbal
        FROM customer
    """,
    doc=(
        "Copy-on-write DELETE (column-stats pruned: only files whose "
        "c_acctbal range intersects the predicate are rewritten) "
        "followed by snapshot rollback — the pre-delete state republished "
        "as a NEW snapshot, history append-only, exactly Iceberg's "
        "rollback semantics. The certified output stacks both table "
        "states, each derivable from the input in pure SQL."
    ),
    tags=("table_format", "delete", "rollback"),
)
def snapshot_delete_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_delrb_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    t = SnapshotTable(spark, base, partition_by=["c_mktsegment"])
    t.create(cust)
    t.delete_where(
        F.col("c_acctbal") < 0.0, range_filter=("c_acctbal", None, 0.0)
    )
    deleted = t.read()
    t.rollback(1)
    rolled = t.read()
    return (
        deleted.select(
            F.lit("deleted").alias("stage"), "c_custkey", "c_acctbal"
        )
        .unionAll(
            rolled.select(
                F.lit("rolled_back").alias("stage"), "c_custkey", "c_acctbal"
            )
        )
    )


@register(
    "snapshot_schema_evolution",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey,
               CAST(NULL AS BIGINT) AS name_len
        FROM nation WHERE n_regionkey < 2
        UNION ALL
        SELECT n_nationkey, n_name, n_regionkey,
               CAST(length(n_name) AS BIGINT) AS name_len
        FROM nation WHERE n_regionkey >= 2
    """,
    doc=(
        "ADD-COLUMN schema evolution on the snapshot table (Iceberg's "
        "safe evolution): append a batch carrying a NEW column with "
        "merge_schema=True, then read the whole table — pre-evolution "
        "files surface the added column as NULL without rewriting a "
        "byte (schema is manifest metadata, not data), post-evolution "
        "rows carry real values. Output derivable in pure SQL."
    ),
    tags=("table_format", "schema_evolution"),
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_evo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    t = SnapshotTable(spark, base, partition_by=["n_regionkey"])
    t.create(nation.where("n_regionkey < 2"))
    evolved = nation.where("n_regionkey >= 2").withColumn(
        "name_len", F.length("n_name").cast("bigint")
    )
    t.append(evolved, merge_schema=True)
    return t.read().select("n_nationkey", "n_name", "n_regionkey", "name_len")


@register(
    "snapshot_branch_merge",
    oracle="""
        SELECT n_nationkey,
               CASE WHEN n_regionkey < 2 THEN lower(n_name) ELSE n_name END
                 AS n_name,
               n_regionkey
        FROM nation
    """,
    doc=(
        "Git-like branch workflow on the snapshot table — the "
        "reference's Nessie catalog capability (SURVEY "
        "'Catalog/versioning', docker-compose.yaml:284-308): zero-copy "
        "branch fork, an overwrite commit on the branch (main "
        "untouched, verified by reading both refs), then fast-forward "
        "merge publishing the branch head onto main. Final main state "
        "derivable in pure SQL."
    ),
    tags=("table_format", "branch", "merge"),
)
def snapshot_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_branch_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    t = SnapshotTable(spark, base, partition_by=["n_regionkey"])
    t.create(nation)
    br = t.create_branch("etl")
    br.overwrite_partitions(
        nation.where("n_regionkey < 2").withColumn("n_name", F.lower("n_name"))
    )
    t.merge_branch("etl")  # branch isolation asserted in tests/test_staged.py
    return t.read().select("n_nationkey", "n_name", "n_regionkey")


def write_audit_publish(
    table: SnapshotTable,
    df: DataFrame,
    rules,
    branch: str = "wap",
) -> dict:
    """Write-Audit-Publish — THE Iceberg/Nessie staging workflow the
    branch refs exist for: stage the write on an isolated branch,
    audit the staged rows with the declarative DQ rules
    (operators/dq.py), and only a fully-clean batch is merged onto
    main; a dirty batch is discarded without main ever seeing a row.
    Readers of main observe either nothing or the complete, audited
    batch — no torn states, no cleanup job.

    Returns ``{"published": sid | None, "n_rows": int, "n_bad": int}``.
    The audit's one count() is the control-plane gate decision (the
    same cost a DQ dashboard query pays); the data itself moves only
    through the branch append's Spark job.
    """
    from lambda_lakehouse_spark.operators.dq import with_expectations

    br = table.create_branch(branch)
    try:
        br.append(df)
        staged = br.read_incremental(from_id=1)
        checked = with_expectations(staged, rules)
        n_rows = checked.count()
        n_bad = checked.where(~F.col("dq_pass")).count()
        if n_bad:
            return {"published": None, "n_rows": n_rows, "n_bad": n_bad}
        sid = table.merge_branch(branch)
        return {"published": sid, "n_rows": n_rows, "n_bad": 0}
    finally:
        if branch in table.branches():
            table.discard_branch(branch)


@register(
    "snapshot_wap_publish",
    oracle="""
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_acctbal >= 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, abs(c_acctbal) AS c_acctbal
        FROM customer WHERE c_acctbal < 0
    """,
    doc=(
        "Write-Audit-Publish on branch refs (the Iceberg/Nessie WAP "
        "staging pattern): a rule-violating batch stages on a branch, "
        "fails the declarative DQ audit, and is discarded with main "
        "untouched; the corrected batch passes and fast-forward-merges. "
        "Final main state derivable in pure SQL."
    ),
    tags=("table_format", "branch", "quality", "wap"),
    bench=True,
)
def snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_wap_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    t = SnapshotTable(spark, base, partition_by=["c_mktsegment"])
    t.create(cust.where("c_acctbal >= 0"))
    rules = {"acctbal_non_negative": F.col("c_acctbal") >= 0}

    bad = cust.where("c_acctbal < 0")
    r1 = write_audit_publish(t, bad, rules, branch="nightly")
    assert r1["published"] is None and r1["n_bad"] > 0

    fixed = bad.withColumn("c_acctbal", F.abs("c_acctbal"))
    r2 = write_audit_publish(t, fixed, rules, branch="nightly")
    assert r2["published"] is not None and r2["n_bad"] == 0

    return t.read().select("c_custkey", "c_mktsegment", "c_acctbal")


@register(
    "snapshot_partition_evolution",
    oracle="""
        SELECT n_nationkey, n_name, n_regionkey
        FROM nation WHERE n_regionkey = 1
    """,
    doc=(
        "Iceberg partition-spec evolution: table created unpartitioned, "
        "spec evolved to (n_regionkey), a new batch written under the "
        "new layout — then a partition-pruned read: files from the "
        "pre-evolution spec carry no value for the new key, so pruning "
        "keeps them conservatively and the row filter decides; the "
        "matching rows living ONLY in old-spec files is exactly the "
        "case naive pruning silently loses."
    ),
    tags=("table_format", "partition_evolution"),
)
def snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = os.path.join(
        tempfile.gettempdir(),
        f"llh_snapshot_pevo_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(base, ignore_errors=True)
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    t = SnapshotTable(spark, base)  # unpartitioned v1
    t.create(nation.where("n_regionkey < 3"))
    t.evolve_partitioning(["n_regionkey"])
    t.append(nation.where("n_regionkey >= 3"))  # hive layout from here on
    pruned = t.read(where={"n_regionkey": 1})
    return pruned.where(F.col("n_regionkey") == 1).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
