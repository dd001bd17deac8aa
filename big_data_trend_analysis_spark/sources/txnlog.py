"""Manifest-based parquet transaction log — the commit-log mechanic the
lakehouse trio was missing.

``merge_roundtrip`` (copy-on-write rewrite), ``mor_read_view`` (merge-
on-read) and ``compact_small_files`` demonstrate the table-format DATA
mechanics in stock parquet; what they lack is the TRANSACTION LOG: an atomic, versioned record of which
files constitute each table snapshot. Without it, readers discover
files by directory listing — so a concurrent rewrite is visible
half-applied (old and new files listed together: rows double-counted)
and there is no time travel. This module supplies the log, Delta-style
(Armbrust et al., "Delta Lake: High-Performance ACID Table Storage over
Cloud Object Stores", VLDB 2020 — public paper), reduced to its
load-bearing core:

- ``_txnlog/v{N}.json`` holds the COMPLETE file list of snapshot N
  (the shape of Delta's checkpoint files; production Delta interleaves
  JSON deltas with periodic checkpoints — at the manifest sizes here,
  every commit is its own checkpoint) plus the add/remove delta for
  audit.
- **Atomic commit with optimistic concurrency**: the manifest is
  staged to a temp file and published with ``os.link`` — a POSIX
  create-exclusive: if another writer already committed version N the
  link fails and the loser rebases (exactly Delta's mutual-exclusion
  contract on the log object; on S3 this is a put-if-absent).
  Readers see version N fully or not at all — never a partial file
  list.
- **Snapshot isolation / time travel**: a reader pins a version and
  reads exactly that manifest's files. Files removed by a later
  rewrite remain on disk (until a vacuum) but are invisible to the
  pinned snapshot — and stale files from SUPERSEDED versions are
  invisible to the latest one, which is the property the gate query
  proves (a directory-listing read would double-count them).

Scale posture: manifests are O(files) KB-sized JSON handled on the
driver — the same driver-side-commit-log role Delta's log plays; data
files never move through the driver. Readers hand Spark the explicit
file list (what Delta's file index does), so planning cost is
O(manifest), not O(directory listing).
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

#: Explicit "store absent" marker for ``commit(schema_json=…/
#: partition_spec=…)``. ``None`` means "inherit the parent's value"
#: (what ordinary writers want), so a faithful ``restore()`` of an
#: unpartitioned / schema-less target needs a distinct way to say
#: "write None into the manifest" (review finding: restore of an
#: unpartitioned target onto a partitioned current kept the CURRENT
#: spec, misreporting the restored table as partitioned).
CLEAR_METADATA = object()

#: Subdirectories: versioned manifests, and per-commit data file sets.
LOG_DIR = "_txnlog"
DATA_DIR = "data"


class TxnLog:
    """Versioned manifest log over a directory of parquet data files."""

    def __init__(self, root: str):
        self.root = root
        self.log_path = os.path.join(root, LOG_DIR)
        os.makedirs(self.log_path, exist_ok=True)

    # -- log inspection -------------------------------------------------

    def _manifest_file(self, version: int) -> str:
        return os.path.join(self.log_path, f"v{version}.json")

    #: Committed manifests are EXACTLY ``v<int>.json`` — anything else
    #: in the log dir (staged temp files, editor artifacts, checkpoint
    #: sidecars) must be ignored, not parsed.
    _MANIFEST_RE = re.compile(r"^v(\d+)\.json$")

    #: ``committed_at`` stamps must be exactly this shape so they order
    #: lexicographically == chronologically (version_at depends on it).
    _STAMP_RE = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}$")

    def latest_version(self) -> int:
        """Highest committed version, or -1 for an empty log."""
        versions = self._versions()
        return max(versions, default=-1)

    def earliest_version(self) -> int:
        """Lowest still-readable version (vacuum compacts the chain
        from the front), or -1 for an empty log."""
        versions = self._versions()
        return min(versions, default=-1)

    def version_at(self, ts: str) -> int:
        """Resolve a timestamp to a version — Delta's ``timestampAsOf``:
        the LATEST retained version whose ``committed_at`` ≤ ``ts``.

        ``ts`` and the stamps are ISO-8601 ``YYYY-MM-DDTHH:MM:SS``
        strings, which order lexicographically — no parsing, no
        timezone ambiguity (``commit`` validates the format and
        monotonicity at write time, so max(eligible) is sound).
        O(versions) manifest reads, the same log-sized driver work
        every other log inspection does (the log is
        version-count-sized by design, never data-sized).

        Raises ``ValueError`` if ``ts`` precedes the earliest
        RETAINED stamp (after a vacuum the answer would silently
        change — the CDF retention contract), if ``ts`` is AFTER the
        latest commit stamp (Delta's 'timestamp after latest commit'
        error — a future timestamp resolving to 'latest' would pin a
        different snapshot on every replay; pass the exact last stamp
        or read latest by version instead), or if no retained
        manifest carries a stamp at all.
        """
        stamped = [
            (v, at)
            for v in sorted(self._versions())
            if (at := self.manifest(v).get("committed_at")) is not None
        ]
        if not stamped:
            raise ValueError(
                "no commit timestamps in the transaction log; "
                "time travel needs committed_at on commits"
            )
        eligible = [v for v, at in stamped if at <= ts]
        if not eligible:
            raise ValueError(
                f"timestamp {ts} precedes the earliest retained commit "
                f"({stamped[0][1]}); that history was never written or "
                f"was vacuumed"
            )
        if ts > stamped[-1][1]:
            raise ValueError(
                f"timestamp {ts} is after the latest commit "
                f"({stamped[-1][1]}); time travel cannot pin a snapshot "
                f"in the log's future — read the latest version by "
                f"number instead"
            )
        return max(eligible)

    def _versions(self) -> list[int]:
        return [
            int(m.group(1))
            for name in os.listdir(self.log_path)
            if (m := self._MANIFEST_RE.match(name))
        ]

    def manifest(self, version: int) -> dict:
        try:
            with open(self._manifest_file(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            earliest = self.earliest_version()
            raise ValueError(
                f"version {version} is not in the transaction log "
                f"(vacuumed or never committed); readable range is "
                f"[{earliest}, {self.latest_version()}]"
            ) from None

    def snapshot_files(
        self,
        version: int | None = None,
        partition_filter: dict[str, str] | None = None,
        range_filter: dict[str, tuple] | None = None,
    ) -> list[str]:
        """Absolute paths of the files constituting a snapshot
        (``None`` = latest).

        ``partition_filter`` ({col: value}) prunes by the manifest's
        per-file partition values — a file is SKIPPED only when it
        recorded a value for the filter column and that value
        differs. Files written under a spec that did not include the
        column have no recorded value and are conservatively kept
        (Iceberg's spec-evolution rule: old-spec files cannot be
        pruned on a new spec's column — pruning is a superset
        guarantee, row-level filtering still applies). Driver-side
        O(manifest), the same cost class as reading the manifest.

        ``range_filter`` ({col: (lo, hi)}, either bound ``None`` for
        open) prunes by the manifest's per-file column MIN/MAX stats
        (``write_commit(collect_stats=...)`` records them from the
        parquet footers) — the Iceberg zone-map mechanic: a file is
        skipped only when its recorded [min, max] interval provably
        misses the queried range; files without stats for the column
        are conservatively kept. Same superset guarantee: the caller
        still applies the row-level predicate."""
        if version is None:
            version = self.latest_version()
        if version < 0:
            return []
        m = self.manifest(version)
        rels = m["files"]
        if partition_filter:
            fp = m.get("file_partitions") or {}
            rels = [
                rel
                for rel in rels
                if all(
                    fp.get(rel, {}).get(col) is None
                    or fp.get(rel, {}).get(col) == str(val)
                    for col, val in partition_filter.items()
                )
            ]
        if range_filter:
            fs = m.get("file_stats") or {}

            def _keep(rel: str) -> bool:
                for col, (lo, hi) in range_filter.items():
                    rec = fs.get(rel, {}).get(col)
                    if rec is None:
                        continue  # no stats -> conservative keep
                    fmin, fmax = rec
                    if lo is not None and fmax < lo:
                        return False
                    if hi is not None and fmin > hi:
                        return False
                return True

            rels = [rel for rel in rels if _keep(rel)]
        return [os.path.join(self.root, rel) for rel in rels]

    def partition_spec(self, version: int | None = None) -> list[str] | None:
        """The identity-partition column list in force at a version
        (``None`` column list = unpartitioned)."""
        if version is None:
            version = self.latest_version()
        return self.manifest(version).get("partition_spec")

    # -- commit ---------------------------------------------------------

    def commit(
        self,
        add: list[str],
        remove: list[str] = (),
        expected_version: int | None = None,
        schema_json: str | None | object = None,
        partition_spec: list[str] | None | object = None,
        file_partitions: dict[str, dict[str, str]] | None = None,
        file_stats: dict[str, dict[str, list]] | None = None,
        committed_at: str | None = None,
    ) -> int:
        """Publish snapshot ``expected_version + 1`` atomically.

        ``committed_at`` (ISO-8601 ``YYYY-MM-DDTHH:MM:SS``, caller-
        supplied so tests and replays stay deterministic — a
        production writer passes its wall clock) stamps the manifest
        for timestamp-based time travel: ``version_at`` resolves
        Delta's ``timestampAsOf`` against these stamps. ``None``
        leaves the version resolvable only by number.

        ``add``/``remove`` are root-relative file paths. The new
        manifest's file list is the parent snapshot's minus ``remove``
        plus ``add``. Raises ``FileExistsError`` if another writer
        committed the same version first (optimistic-concurrency
        loser: re-read and rebase — ``commit_retry`` is that loop).

        ``schema_json`` (a StructType JSON) makes the schema part of
        the SAME atomic commit — Delta's metadata-update mechanic: a
        column add lands with the first files that carry it, readers
        of version N use version N's schema (older files surface the
        new column as null), and pre-evolution versions keep reading
        under THEIR pinned schema. ``None`` inherits the parent's;
        ``CLEAR_METADATA`` stores an explicit absence (restore's
        faithful-revert path — same for ``partition_spec``).

        ``partition_spec`` (identity-transform column names) and
        ``file_partitions`` (per added file, the partition values it
        was written under) are the Iceberg-style partition metadata:
        the spec is versioned table metadata a commit can CHANGE
        (``evolve_partition_spec`` is the pure-metadata form), while
        every file permanently keeps the values of the spec it was
        WRITTEN under — carried forward commit over commit, so
        ``snapshot_files(partition_filter=...)`` can prune old-spec
        and new-spec files each by their own recorded values.
        ``None`` inherits the parent's spec / carries its values.
        """
        if expected_version is None:
            expected_version = self.latest_version()
        version = expected_version + 1
        parent = (
            self.manifest(expected_version) if expected_version >= 0 else None
        )
        # Stamp hygiene at WRITE time (ADVICE r9): a malformed or
        # backwards stamp would make version_at's max(eligible) return
        # a snapshot containing commits stamped after the asked-for ts.
        # Delta solves this by adjusting commit timestamps to be
        # monotonic; a caller-stamped log must refuse instead.
        if committed_at is not None:
            if not self._STAMP_RE.match(committed_at):
                raise ValueError(
                    f"committed_at {committed_at!r} is not ISO-8601 "
                    f"YYYY-MM-DDTHH:MM:SS; mixed formats break the "
                    f"lexicographic == chronological stamp order "
                    f"time travel relies on"
                )
            # walk back to the nearest STAMPED ancestor, not just the
            # direct parent (review finding: evolve_partition_spec /
            # restore / compact commit unstamped by default, so one
            # unstamped intermediate would let a backwards stamp
            # through and break version_at's max(eligible) soundness)
            parent_at = None
            v = expected_version
            while v >= 0:
                try:
                    anc = parent if v == expected_version else self.manifest(v)
                except ValueError:
                    break  # vacuumed past the retention horizon
                parent_at = anc.get("committed_at")
                if parent_at is not None:
                    break
                v -= 1
            if parent_at is not None and committed_at < parent_at:
                raise ValueError(
                    f"committed_at {committed_at} precedes the nearest "
                    f"stamped ancestor's stamp {parent_at}; "
                    f"non-monotonic stamps make timestamp time travel "
                    f"ambiguous (Delta adjusts, this log refuses)"
                )
        prev = parent["files"] if parent else []
        removed = set(remove)
        missing = removed - set(prev)
        if missing:
            raise ValueError(f"cannot remove files not in snapshot: {missing}")
        files = [f for f in prev if f not in removed] + list(add)
        # per-file partition values: parent's (minus removed) + added
        carried = dict(parent.get("file_partitions") or {}) if parent else {}
        carried = {f: v for f, v in carried.items() if f not in removed}
        carried.update(file_partitions or {})
        # per-file column stats (Iceberg zone-map analog): carried
        # forward exactly like partition values — a file keeps the
        # stats it was written with for its whole manifest life
        stats = dict(parent.get("file_stats") or {}) if parent else {}
        stats = {f: v for f, v in stats.items() if f not in removed}
        stats.update(file_stats or {})
        body = {
            "version": version,
            "files": files,
            "added": list(add),
            "removed": sorted(removed),
            "schema": None
            if schema_json is CLEAR_METADATA
            else (
                schema_json
                if schema_json is not None
                else (parent.get("schema") if parent else None)
            ),
            "partition_spec": None
            if partition_spec is CLEAR_METADATA
            else (
                partition_spec
                if partition_spec is not None
                else (parent.get("partition_spec") if parent else None)
            ),
            "file_partitions": carried,
            "file_stats": stats or None,
            "committed_at": committed_at,
        }
        staged = os.path.join(self.log_path, f".tmp-{uuid.uuid4().hex}.json")
        with open(staged, "w") as f:
            json.dump(body, f)
        try:
            # POSIX create-exclusive: the atomic CAS on the version slot.
            os.link(staged, self._manifest_file(version))
        finally:
            os.unlink(staged)
        return version

    def commit_retry(
        self,
        add: list[str],
        remove: list[str] = (),
        max_attempts: int = 10,
        **kwargs,
    ) -> int:
        """Optimistic-concurrency rebase loop (Delta's winning-writer
        protocol): CAS on the next version slot; on losing the race,
        re-read the log and re-validate against the NEW parent.

        A pure append always rebases cleanly (Delta's blind-append
        rule). A ``remove`` set that a concurrent winner already
        removed fails ``commit``'s snapshot validation with
        ``ValueError`` — the analog of ConcurrentDeleteDelete: the
        caller's pre-images are gone, so the caller must recompute,
        not blindly retry. Raises ``RuntimeError`` if the slot is
        still contended after ``max_attempts`` (pathological herd)."""
        for _ in range(max_attempts):
            try:
                return self.commit(
                    add,
                    remove,
                    expected_version=self.latest_version(),
                    **kwargs,
                )
            except FileExistsError:
                continue
        raise RuntimeError(
            f"commit lost the version CAS {max_attempts} times; "
            "raise max_attempts or reduce writer contention"
        )

    #: Partition directories are ``_pt_<col>=<value>`` — the partition
    #: column stays IN the data files (the dir key is a duplicate), so
    #: explicit-file-list reads need no basePath path reconstruction
    #: and commits written under DIFFERENT specs coexist in one scan.
    _PT_PREFIX = "_pt_"
    _PT_SEG_RE = re.compile(r"^_pt_([A-Za-z_][A-Za-z0-9_]*)=(.*)$")

    def write_commit(
        self,
        df: DataFrame,
        remove: list[str] = (),
        n_files: int = 1,
        expected_version: int | None = None,
        partition_by: list[str] | None = None,
        collect_stats: list[str] | None = None,
        committed_at: str | None = None,
    ) -> int:
        """Land ``df`` as a new file set and commit it in one step.

        The data files go to a fresh per-commit directory (never
        overwriting a live file — commits only ever ADD paths, the
        manifest decides liveness), then the manifest publishes them
        together with the ``remove`` list.

        ``expected_version`` pins the optimistic-concurrency CAS: pass
        the version the caller READ before computing ``df`` so a
        concurrent commit surfaces as ``FileExistsError`` (rebase and
        retry) instead of silently stacking on top of a peer's append
        — a lost update. Defaults to latest-at-entry, which is only
        safe single-writer.

        ``partition_by`` (identity-transform column names) writes the
        commit hive-partitioned on DUPLICATED ``_pt_<col>`` keys — the
        real column stays in the file — records each file's partition
        values in the manifest, and stamps the commit's spec. One
        shuffle on the partition columns gives exactly one file per
        live partition value (``n_files`` is ignored); the recorded
        values drive ``snapshot_files(partition_filter=...)``
        manifest-side pruning.

        ``collect_stats`` (column names) records each written file's
        MIN/MAX for those columns in the manifest — read straight
        from the parquet footers' row-group statistics (already paid
        for by the write), so the commit gains Iceberg-style
        zone-map pruning (``snapshot_files(range_filter=...)``)
        with zero extra data scans. Driver-side O(files) footer
        reads, never row reads.
        """
        if expected_version is None:
            expected_version = self.latest_version()
        commit_id = uuid.uuid4().hex[:12]
        rel_dir = os.path.join(DATA_DIR, f"c{commit_id}")
        out = os.path.join(self.root, rel_dir)
        if partition_by:
            from pyspark.sql import functions as F

            pt_cols = [self._PT_PREFIX + c for c in partition_by]
            staged = df
            for c in partition_by:
                staged = staged.withColumn(self._PT_PREFIX + c, F.col(c))
            # one task per partition value -> one file per value
            staged.repartition(*partition_by).write.mode("error").partitionBy(
                *pt_cols
            ).parquet(out)
        else:
            df.repartition(n_files).write.mode("error").parquet(out)
        add = []
        file_partitions: dict[str, dict[str, str]] = {}
        for dirpath, _, names in os.walk(out):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, name), self.root)
                add.append(rel)
                if partition_by:
                    vals = {}
                    for seg in rel.split(os.sep):
                        if m := self._PT_SEG_RE.match(seg):
                            # Spark hive-escapes path-hostile chars as %XX
                            from urllib.parse import unquote

                            vals[m.group(1)] = unquote(m.group(2))
                    file_partitions[rel] = vals
        add.sort()
        file_stats = (
            {
                rel: st
                for rel in add
                if (st := self._footer_stats(rel, collect_stats))
            }
            if collect_stats
            else None
        )
        return self.commit(
            add=add,
            remove=remove,
            expected_version=expected_version,
            schema_json=df.schema.json(),
            partition_spec=list(partition_by) if partition_by else None,
            file_partitions=file_partitions or None,
            file_stats=file_stats,
            committed_at=committed_at,
        )

    def _footer_stats(
        self, rel: str, cols: list[str]
    ) -> dict[str, list] | None:
        """Per-file [min, max] for ``cols`` from the parquet footer's
        row-group statistics — no row reads. Columns whose stats the
        footer does not carry (or whose values do not round-trip
        through JSON: only int/float/str/bool are recorded) are
        omitted, which ``range_filter`` treats as conservative-keep."""
        import pyarrow.parquet as pq

        md = pq.ParquetFile(os.path.join(self.root, rel)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        out: dict[str, list] = {}
        for col in cols:
            if col not in idx:
                continue
            mn = mx = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                if st is None or not st.has_min_max:
                    mn = mx = None
                    break
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
            if (
                mn is not None
                and isinstance(mn, (int, float, str, bool))
                and isinstance(mx, (int, float, str, bool))
            ):
                out[col] = [mn, mx]
        return out or None

    def evolve_partition_spec(
        self, partition_by: list[str], expected_version: int | None = None
    ) -> int:
        """Change the table's partition spec in a PURE METADATA commit
        (no data movement — Iceberg's ``ALTER TABLE ... WRITE
        PARTITIONED BY``): files already written keep the values of
        the spec they were written under; only FUTURE writes use the
        new spec. The commit is the same atomic CAS as any other, so
        a spec change serializes with concurrent data commits."""
        return self.commit(
            add=[],
            remove=[],
            expected_version=expected_version,
            partition_spec=list(partition_by),
        )

    # -- read -----------------------------------------------------------

    def read_snapshot(
        self,
        spark: SparkSession,
        version: int | None = None,
        partition_filter: dict[str, str] | None = None,
        range_filter: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Read a pinned snapshot: exactly the manifest's file list —
        stale/superseded files on disk are never touched.

        If the manifest pins a schema (any ``write_commit`` since the
        log was created does), the read uses THAT version's schema:
        files written before a column-add commit surface the added
        column as null, and a pre-evolution version keeps ITS
        narrower schema — transactional schema evolution without
        mergeSchema's footer-union scan.

        ``partition_filter`` prunes the file list manifest-side (see
        ``snapshot_files``) — a SUPERSET guarantee: the caller still
        applies the row-level predicate; pruning only shrinks the
        scan.
        """
        if version is None:
            version = self.latest_version()
        files = self.snapshot_files(version, partition_filter, range_filter)
        if not files:
            raise ValueError("empty transaction log")
        schema_json = self.manifest(version).get("schema")
        reader = spark.read
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(*files)

    # -- maintenance ------------------------------------------------------

    def vacuum(self, retain_versions: int = 1) -> dict:
        """Age out unreferenced data files and compact the version
        chain (Delta VACUUM + log checkpointing, folded into one op
        since every manifest here is already a complete snapshot).

        Keeps the newest ``retain_versions`` manifests; any data file
        referenced by none of them is deleted, and older manifests are
        dropped — after which those versions are unreadable BY
        CONTRACT (``manifest()`` raises with the readable range). The
        latest snapshot's bytes are untouched: vacuum only ever
        removes files the retained manifests do not list. Driver-side
        O(retained manifests + directory listing), no data movement.

        Change-feed consequence (ADVICE r8): the earliest retained
        version's PRE-IMAGE (``removed``) files live in the dropped
        ``horizon-1`` snapshot, so they are aged out with it — that
        version's ``read_changes`` feed becomes unreadable and raises
        the documented "was vacuumed" error. Versions strictly after
        the horizon keep a complete feed: their remove-sets are
        subsets of retained snapshots' file lists. Retain K ≥ 2 to
        keep a usable change window across a vacuum.
        """
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        latest = self.latest_version()
        if latest < 0:
            return {
                "data_files_removed": 0,
                "manifests_removed": 0,
                "earliest_retained": -1,
            }
        horizon = max(latest - retain_versions + 1, self.earliest_version())
        keep: set[str] = set()
        for v in range(horizon, latest + 1):
            keep |= set(self.manifest(v)["files"])
        data_root = os.path.join(self.root, DATA_DIR)
        files_removed = 0
        for dirpath, _, names in os.walk(data_root, topdown=False):
            for name in names:
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.root)
                if rel not in keep and name.endswith(".parquet"):
                    os.unlink(full)
                    files_removed += 1
            # drop commit dirs that now hold only write sidecars
            # (_SUCCESS/.crc); surviving dirs (any parquet left) and
            # the data root itself stay untouched
            rest = os.listdir(dirpath)
            if dirpath != data_root and all(
                os.path.isfile(os.path.join(dirpath, n))
                and not n.endswith(".parquet")
                for n in rest
            ):
                for n in rest:
                    os.unlink(os.path.join(dirpath, n))
                os.rmdir(dirpath)
        manifests_removed = 0
        for v in range(self.earliest_version(), horizon):
            try:
                os.unlink(self._manifest_file(v))
                manifests_removed += 1
            except FileNotFoundError:
                pass
        return {
            "data_files_removed": files_removed,
            "manifests_removed": manifests_removed,
            "earliest_retained": horizon,
        }

    def restore(self, version: int, committed_at: str | None = None) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF`` — roll the
        table state back to ``version`` as a NEW commit on top of the
        chain (never by rewinding the log: history is immutable, so
        audits and time travel keep seeing the bad interval and the
        restore itself).

        The new manifest's file list, schema, partition spec and
        per-file partition values are the target version's, expressed
        as add/remove deltas against the current snapshot (files
        present in both move with zero data I/O — restore is a
        METADATA operation; Delta behaves the same way). Change-feed
        consumers see the restore as remove(current-only files) +
        add(target-only files), which is exactly the row-level
        inverse of the undone commits.

        Raises ``ValueError`` if ``version`` was vacuumed away or is
        the current version (a no-op restore is a caller bug).
        Returns the new version number.
        """
        latest = self.latest_version()
        if version == latest:
            raise ValueError(
                f"restore target {version} IS the current version; "
                f"a no-op restore hides a caller bug"
            )
        target = self.manifest(version)  # raises if vacuumed/unknown
        current = self.manifest(latest)
        cur_files = set(current["files"])
        tgt_files = list(target["files"])
        add = [f for f in tgt_files if f not in cur_files]
        remove = [f for f in current["files"] if f not in set(tgt_files)]
        tgt_parts = target.get("file_partitions") or {}
        # the manifest stores RESOLVED metadata, so a None here means
        # the target genuinely had none — restore must CLEAR, not
        # inherit the current version's value
        tgt_schema = target.get("schema")
        tgt_spec = target.get("partition_spec")
        return self.commit(
            add=add,
            remove=remove,
            expected_version=latest,
            schema_json=tgt_schema if tgt_schema is not None else CLEAR_METADATA,
            partition_spec=tgt_spec if tgt_spec is not None else CLEAR_METADATA,
            file_partitions={f: tgt_parts[f] for f in add if f in tgt_parts}
            or None,
            committed_at=committed_at,
        )

    def compact(
        self,
        spark: SparkSession,
        target_files: int = 1,
        committed_at: str | None = None,
    ) -> dict:
        """Delta ``OPTIMIZE`` (bin-packing compaction): rewrite the
        current snapshot's small files into ``target_files`` per
        partition-value group, committed as one atomic
        add+remove — readers of the old version keep their file
        list (the rewritten bytes land in a fresh commit directory,
        never overwriting), time travel still resolves every prior
        version, and the data is bit-identical because compaction
        only re-buckets rows.

        Partitioned tables compact WITHIN each recorded partition
        value group (never across — that would break manifest-side
        pruning); unpartitioned tables compact the whole snapshot.
        Files already meeting the target count are left in place —
        groups with ≤ ``target_files`` files are skipped, so a
        second compact is a cheap no-op (Delta's idempotence
        contract).

        Returns ``{"version", "files_before", "files_after",
        "files_rewritten"}``; ``version`` is -1 when nothing needed
        rewriting (no commit is made).
        """
        latest = self.latest_version()
        man = self.manifest(latest)
        files = list(man["files"])
        fparts = man.get("file_partitions") or {}
        groups: dict[tuple, list[str]] = {}
        for f in files:
            key = tuple(sorted((fparts.get(f) or {}).items()))
            groups.setdefault(key, []).append(f)
        add: list[str] = []
        remove: list[str] = []
        new_parts: dict[str, dict[str, str]] = {}
        commit_id = uuid.uuid4().hex[:12]
        schema_json = man.get("schema")
        n_group = 0
        for key, members in sorted(groups.items()):
            if len(members) <= target_files:
                continue
            reader = spark.read
            if schema_json:
                from pyspark.sql.types import StructType

                reader = reader.schema(
                    StructType.fromJson(json.loads(schema_json))
                )
            df = reader.parquet(
                *[os.path.join(self.root, f) for f in members]
            )
            rel_dir = os.path.join(DATA_DIR, f"c{commit_id}", f"g{n_group}")
            n_group += 1
            out = os.path.join(self.root, rel_dir)
            df.repartition(target_files).write.mode("error").parquet(out)
            for dirpath, _, names in os.walk(out):
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    rel = os.path.relpath(
                        os.path.join(dirpath, name), self.root
                    )
                    add.append(rel)
                    if key:
                        new_parts[rel] = dict(key)
            remove.extend(members)
        if not add:
            return {
                "version": -1,
                "files_before": len(files),
                "files_after": len(files),
                "files_rewritten": 0,
            }
        add.sort()
        version = self.commit(
            add=add,
            remove=remove,
            expected_version=latest,
            file_partitions=new_parts or None,
            committed_at=committed_at,
        )
        return {
            "version": version,
            "files_before": len(files),
            "files_after": len(files) - len(remove) + len(add),
            "files_rewritten": len(remove),
        }


    def history(self, spark: SparkSession) -> DataFrame:
        """Delta ``DESCRIBE HISTORY`` analog: one row per RETAINED
        version — (version, committed_at, n_files, n_added,
        n_removed, partition_spec, schema_evolved). Driver-side
        O(manifests) like every other log inspection; the result is
        version-count-sized, never data-sized.

        ``schema_evolved`` marks commits whose pinned schema differs
        from their parent's (a vacuumed-away parent reads as False —
        the retained chain cannot know). The operations audit a
        table owner runs before trusting time travel or CDF ranges.
        """
        rows = []
        versions = sorted(self._versions())
        prev_schema = None
        for i, v in enumerate(versions):
            m = self.manifest(v)
            evolved = (
                i > 0
                and m.get("schema") is not None
                and m.get("schema") != prev_schema
            )
            rows.append(
                (
                    v,
                    m.get("committed_at"),
                    len(m["files"]),
                    len(m.get("added") or []),
                    len(m.get("removed") or []),
                    ",".join(m.get("partition_spec") or []) or None,
                    bool(evolved),
                )
            )
            prev_schema = m.get("schema")
        return spark.createDataFrame(
            rows,
            "version int, committed_at string, n_files int, "
            "n_added int, n_removed int, partition_spec string, "
            "schema_evolved boolean",
        )


    # -- change data feed -------------------------------------------------

    def read_changes(
        self,
        spark: SparkSession,
        key_cols: list[str],
        from_version: int | None = None,
        to_version: int | None = None,
    ) -> DataFrame:
        """Delta-CDF-style change feed derived from the log itself.

        For each commit k in the range, reads ONLY that commit's
        added/removed file sets — O(touched files) per version, never
        O(snapshot) — and diffs them on ``key_cols``: a key only in
        the added side is an ``insert``, only in the removed side a
        ``delete``, in both with a different payload an ``update``
        (post-image emitted; deletes carry the pre-image). Rows a
        rewrite copied verbatim (same key, same payload on both
        sides) are no-ops and dropped, so the feed equals the
        semantic snapshot-k-vs-k-1 diff while never re-reading
        untouched files. Output columns: the table's columns plus
        ``_change_type`` and ``_commit_version`` — what a downstream
        incremental consumer (``upsert_scd1``/``merge_roundtrip``)
        subscribes to.

        **CDF retention contract** (ADVICE r8): ``vacuum`` retains
        only the files the retained manifests LIST as live — the
        pre-image (``removed``) files of the earliest retained
        rewrite commit are aged out, so that version's change feed is
        no longer derivable even though its snapshot is. The range
        check alone would pass and the job would die mid-scan on a
        missing path; instead every version's add/remove file sets
        are existence-checked up front (driver-side, O(range ×
        manifest) — the same cost class as reading the manifests) and
        a vacuumed feed raises the Delta-style contract error naming
        the first still-derivable version. Delta draws the same line:
        VACUUM deletes pre-images and ``table_changes`` beyond
        retention fails loudly rather than returning a partial feed.
        """
        from pyspark.sql import functions as F

        lo = self.earliest_version() if from_version is None else from_version
        hi = self.latest_version() if to_version is None else to_version
        if lo < self.earliest_version() or hi > self.latest_version() or lo > hi:
            raise ValueError(
                f"change range [{lo}, {hi}] outside readable log range "
                f"[{self.earliest_version()}, {self.latest_version()}]"
            )
        vacuumed = None  # latest version in range with aged-out inputs
        for v in range(lo, hi + 1):
            m = self.manifest(v)
            for rel in (*m["added"], *m["removed"]):
                if not os.path.exists(os.path.join(self.root, rel)):
                    vacuumed = v
        if vacuumed is not None:
            raise ValueError(
                f"version {vacuumed}'s change feed was vacuumed "
                f"(pre-image files aged out); "
                + (
                    f"change-feed-readable range is "
                    f"[{vacuumed + 1}, {hi}]"
                    if vacuumed < hi
                    else "no change feed is readable at the current "
                    "retention"
                )
            )

        def _read(rel_files: list[str], schema_json: str | None) -> DataFrame:
            reader = spark.read
            if schema_json:
                from pyspark.sql.types import StructType

                reader = reader.schema(
                    StructType.fromJson(json.loads(schema_json))
                )
            return reader.parquet(
                *[os.path.join(self.root, rel) for rel in rel_files]
            )

        parts: list[DataFrame] = []
        for v in range(lo, hi + 1):
            m = self.manifest(v)
            added, removed = m["added"], m["removed"]
            if not added and not removed:
                continue  # pure metadata commit
            schema_json = m.get("schema")
            ver = F.lit(v).alias("_commit_version")
            if not removed:
                df = _read(added, schema_json)
                parts.append(
                    df.select(
                        *df.columns,
                        F.lit("insert").alias("_change_type"),
                        ver,
                    )
                )
                continue
            if not added:
                df = _read(removed, schema_json)
                parts.append(
                    df.select(
                        *df.columns,
                        F.lit("delete").alias("_change_type"),
                        ver,
                    )
                )
                continue
            a_df = _read(added, schema_json)
            r_df = _read(removed, schema_json)
            payload = [c for c in a_df.columns if c not in key_cols]
            a_s = a_df.select(*key_cols, F.struct(*payload).alias("_after"))
            r_s = r_df.select(*key_cols, F.struct(*payload).alias("_before"))
            j = r_s.join(a_s, list(key_cols), "full_outer")
            op = (
                F.when(F.col("_before").isNull(), F.lit("insert"))
                .when(F.col("_after").isNull(), F.lit("delete"))
                .when(
                    ~F.col("_before").eqNullSafe(F.col("_after")),
                    F.lit("update"),
                )
            )
            img = F.coalesce(F.col("_after"), F.col("_before"))
            parts.append(
                j.select(
                    *key_cols,
                    *[img.getField(c).alias(c) for c in payload],
                    op.alias("_change_type"),
                    ver,
                ).filter(F.col("_change_type").isNotNull())
            )
        if not parts:
            raise ValueError("no data commits in the requested range")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
