"""Versioned-table lifecycle: create / append / delete / evolve / time-travel.

This is the Spark-native re-expression of the reference's core surface
(`IcebergTableGenerator.java`): multi-snapshot table histories with
merge-on-read deletes, schema evolution, and partition-spec evolution.

Two backends:

- `IcebergTable` (preferred): real Iceberg v2 via Spark SQL DML — one DML
  statement = one snapshot, positional deletes from
  `write.delete.mode=merge-on-read`, `ALTER TABLE` evolution.  Activated
  only when the iceberg-spark-runtime jar is present
  (`session.iceberg_runtime_available()`), which it is not in this
  container — the class is the documented scale path.
- `ParquetSnapshotTable`: the same semantics on plain Parquet — each commit
  appends an immutable snapshot entry to a JSON metadata log; deletes are
  merge-on-read delete files keyed on Iceberg's own positional tuple
  (file_path, pos), synthesized at read time from the scan's `_metadata`
  pseudo-column and applied with an anti-join; schema evolution reconciles
  via unionByName(allowMissingColumns); time travel = reading an older
  snapshot's file list.  This keeps every lifecycle scenario runnable and
  testable with zero connector dependencies.

Semantics mapping (reference → here):
- `Transaction.commitTransaction()` → one `_commit()` JSON entry
  (`IcebergTableGenerator.java:367-379`)
- positional delete file (path, pos, row) → delete-file parquet keyed by
  `__row_id` (`IcebergTableGenerator.java:237-245`)
- equality delete (field values) → predicate-computed delete file; identical
  row-visibility semantics (`IcebergTableGenerator.java:288-365`, SURVEY §7)
- `updateSchema().addColumn/deleteColumn` → `add_column`/`drop_column`
  (`Main.java:440-443`)
- `updateSpec().addField/removeField` → `set_partition_fields`
  (`IcebergTableGenerator.java:94-101`)

Scale posture: data/delete files are plain columnar Parquet readable by any
executor count; the metadata log is O(snapshots) JSON (driver-side, tiny);
reads are `spark.read.parquet(*files)` + one broadcast anti-join per delete
kind (positional, and each equality-column set); delete files are small
relative to data, as in Iceberg MoR.  Per-file sequence numbers come from
the snapshot log as literal map lookups, and every file is read with a
declared schema (each data-file entry records its write schema as DDL), so
building a read launches no Spark job: no driver-built relation to
broadcast, no aggregate, no footer inference.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

ROW_ID = "__row_id"
# MERGE's match marker on the target side of `source LEFT JOIN target`
_MATCHED = "__matched"

# The positional-delete key, exactly Iceberg's delete-file tuple
# (file_path, pos) — `IcebergTableGenerator.java:237-245`.  Synthesized at
# READ time from the parquet reader's `_metadata` pseudo-column, never
# stored in data files: globally unique by construction (files are
# immutable), stable across retries (unlike monotonically_increasing_id,
# which can renumber rows when a task is speculatively re-executed), and
# free for externally registered files (S5 add_files).
ROW_ID_TYPE = "struct<file:string,pos:bigint>"


@dataclass
class Snapshot:
    snapshot_id: int
    operation: str
    # data file entries: [path, sequence_number, schema DDL] — `path` is an
    # individual parquet FILE (Iceberg manifests track files, not
    # directories; files from every snapshot share one `data/<partition>/`
    # tree so the scan is a single leaf-file read).  An externally
    # registered PARTITIONED root (add_files) stays a directory entry —
    # its partition values need per-root inference.  The sequence is the
    # committing snapshot id, which is what equality deletes compare
    # against (Iceberg's data-sequence-number rule).  The schema DDL is
    # the file's write schema (`_schema_ddl`): the scan declares it, so no
    # footer-inference job runs and hive partition columns read back as
    # written, and groups files by it so same-schema files share one
    # multi-path read; cross-schema type coercion (int→bigint etc.)
    # happens through unionByName across O(distinct schemas) groups.
    data_files: list = field(default_factory=list)
    # delete file entries: [path, sequence_number, mode, equality_columns]
    # mode 'positional' → file holds __row_id (file, pos) tuples, applied
    #   to every data file (ids are globally unique);
    # mode 'equality'   → file holds distinct equality-column value rows,
    #   applied only to rows whose data file has sequence < the delete's
    #   (`IcebergTableGenerator.java:288-365`, equality ids at :336).
    delete_files: list = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)
    timestamp_ms: int = 0
    # column name -> Spark simpleString type, recorded at append time so an
    # empty (snapshot-0 / fully-deleted) read can build a correctly typed
    # DataFrame instead of fabricating all-string columns.
    column_types: dict[str, str] = field(default_factory=dict)
    # Iceberg-style TBLPROPERTIES; the write.parquet.* layout knobs are
    # honored by append/compact (E3, `Main.java:186-191`).
    properties: dict[str, str] = field(default_factory=dict)


# table property -> parquet-mr writer option (the plain-parquet equivalent
# of Iceberg's physical layout TBLPROPERTIES; parquet-mr flushes a row
# group each time the buffered size passes block.size, checking every 100
# rows — so row-group-size-bytes=1 forces 100-row row groups exactly as in
# the reference, `Main.java:363-368`)
_LAYOUT_PROPS = {
    "write.parquet.row-group-size-bytes": "parquet.block.size",
    "write.parquet.page-size-bytes": "parquet.page.size",
    "write.parquet.dict-size-bytes": "parquet.dictionary.page.size",
}


class ConcurrentCommitError(RuntimeError):
    """Another writer committed between read and commit (optimistic CAS)."""


def _local_path(file_path: Column) -> Column:
    """The absolute path the metadata log records, from a scan's file path.
    The reader reports a URI (`file:/...`) quoted the way java.net.URI
    quotes a path: a space or `%` is percent-encoded, a `+` is not.  So
    strip the scheme, protect `+` from URL decoding, and decode."""
    uri_path = F.regexp_replace(file_path, r"^file:/+", "/")
    return F.url_decode(F.replace(uri_path, F.lit("+"), F.lit("%2B")))


def _file_lookup(values: dict[str, int], file_path: Column) -> Column:
    """Per-file attribute (a sequence number) for a scan's file path: one
    `element_at` over a literal path → value map built from the snapshot
    log, keyed by absolute path.  Constant plan size and no extra
    relation, so no join and no broadcast job; the map holds one entry
    per file, Iceberg-manifest-sized state."""
    by_path = {os.path.abspath(k): v for k, v in values.items()}
    lookup = F.create_map(*[F.lit(x) for kv in sorted(by_path.items()) for x in kv])
    return F.element_at(lookup, _local_path(file_path))


def _schema_ddl(schema: StructType) -> str:
    """A write schema as DDL, ROW_ID excluded and fields ordered by name:
    what the scan declares for a file, and the key that batches
    same-schema files into one read (parquet resolves columns by name, so
    column order inside a group is irrelevant)."""
    return ", ".join(
        f"`{f.name.replace('`', '``')}` {f.dataType.simpleString()}"
        for f in sorted(schema.fields, key=lambda f: f.name)
        if f.name != ROW_ID
    )


def _entry_files(path: str) -> list[str]:
    """Expand a metadata entry to its parquet files (directory entries —
    external partitioned roots, delete-file dirs — list their tree;
    driver-side, the same scale class as Iceberg's manifest planning)."""
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [path]


def _footer_column_bounds(meta) -> dict[str, list]:
    """Per-column [min, max] across a file's row groups, from the parquet
    footer only — the same lower/upper bounds Iceberg persists per DataFile
    in its manifests (`lower_bounds`/`upper_bounds`).  Restricted to types
    whose Python ordering matches SQL ordering (ints, floats, ASCII-safe
    strings, dates as ISO strings); anything else is simply not recorded,
    which can only cost pruning opportunity, never correctness."""
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            if "." in name:  # nested field: no top-level bound
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes):
                try:
                    lo, hi = lo.decode(), hi.decode()
                except UnicodeDecodeError:
                    continue
            import datetime

            if isinstance(lo, datetime.datetime):
                continue  # timestamps: µs/ns physical-type ambiguity, skip
            if isinstance(lo, datetime.date):
                lo, hi = lo.isoformat(), hi.isoformat()
            if not isinstance(lo, (int, float, str)) or isinstance(lo, bool):
                continue
            if name in mins:
                mins[name] = min(mins[name], lo)
                maxs[name] = max(maxs[name], hi)
            else:
                mins[name], maxs[name] = lo, hi
    return {c: [mins[c], maxs[c]] for c in mins}


_CONJUNCT_RE = re.compile(
    r"^\s*`?(\w+)`?\s*(<=|>=|==|=|<|>)\s*"
    r"(?:'([^']*)'|\"([^\"]*)\"|(-?\d+(?:\.\d+)?))\s*$"
)


def _skippable_conjuncts(where: str) -> list[tuple[str, str, object]]:
    """Decompose a predicate into (col, op, literal) conjuncts usable for
    file skipping — the binding step of Iceberg's
    `InclusiveMetricsEvaluator`.  Conservative by construction: only
    top-level AND is split (a top-level OR disables skipping entirely) and
    a conjunct that doesn't match the simple comparison shape contributes
    no pruning.  The full predicate is ALWAYS also applied as a row filter,
    so this analysis affects which files are scanned, never the answer."""
    if re.search(r"\bOR\b", where, flags=re.IGNORECASE):
        return []
    out = []
    for part in re.split(r"\bAND\b", where, flags=re.IGNORECASE):
        m = _CONJUNCT_RE.match(part)
        if not m:
            continue
        col, op = m.group(1), m.group(2)
        lit: object = (
            m.group(3)
            if m.group(3) is not None
            else m.group(4)
            if m.group(4) is not None
            else float(m.group(5))
            if "." in m.group(5)
            else int(m.group(5))
        )
        out.append((col, "=" if op == "==" else op, lit))
    return out


def _partition_may_match(partition_value: str, conjuncts: list) -> bool:
    """Match equality conjuncts against a file's hive partition path
    ('grp=0/day=2020-01-01').  Partition columns never have footer bounds
    (hive layout drops them from the file), so this is the manifest-level
    counterpart of Iceberg's partition-predicate evaluation.  Only `=` is
    evaluated (partition values are strings; range ops on them would need
    type knowledge) — anything else can't exclude a file."""
    if not partition_value:
        return True
    parts = dict(seg.split("=", 1) for seg in partition_value.split("/") if "=" in seg)
    for col, op, lit in conjuncts:
        if op == "=" and col in parts and parts[col] != str(lit):
            return False
    return True


def _bounds_may_match(bounds: dict[str, list], conjuncts: list) -> bool:
    """InclusiveMetricsEvaluator verdict for one file: False only when some
    conjunct PROVABLY excludes every row given the file's [min,max].  A
    column with no recorded bounds (or a type mismatch with the literal)
    can't exclude anything."""
    for col, op, lit in conjuncts:
        b = bounds.get(col)
        if b is None:
            continue
        lo, hi = b
        num_stats = isinstance(lo, (int, float))
        if num_stats != isinstance(lit, (int, float)):
            continue  # incomparable: never skip on it
        if (
            (op == "=" and (lit < lo or lit > hi))
            or (op == "<" and lo >= lit)
            or (op == "<=" and lo > lit)
            or (op == ">" and hi <= lit)
            or (op == ">=" and hi < lit)
        ):
            return False
    return True


def _partition_cols_of(dir_path: str) -> tuple[str, ...]:
    """Physical partition layout of a data directory (the hive-style
    `col=value` nesting), probed from the directory tree — one listdir
    per level, driver-side, the same scale class as Iceberg's manifest
    planning."""
    cols: list[str] = []
    d = dir_path
    while True:
        try:
            subs = [
                x
                for x in os.listdir(d)
                if "=" in x and os.path.isdir(os.path.join(d, x))
            ]
        except (FileNotFoundError, NotADirectoryError):
            break
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0])
        d = os.path.join(d, subs[0])
    return tuple(cols)


class ParquetSnapshotTable:
    """Merge-on-read versioned table over plain Parquet files."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._meta_path = os.path.join(path, "metadata.json")

    # -- metadata -----------------------------------------------------------
    def _load(self) -> list[Snapshot]:
        with open(self._meta_path) as f:
            return [Snapshot(**s) for s in json.load(f)]

    def _save(self, snaps: list[Snapshot]) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([vars(s) for s in snaps], f, indent=1)
        os.replace(tmp, self._meta_path)  # atomic commit, HadoopTableOperations-style

    # -- refs (Iceberg branches & tags) -------------------------------------
    # Stored beside the snapshot log (refs.json, an ARRAY of {name,
    # snapshot_id, type} records), never inside it — both the log and the
    # refs file stay plain JSON arrays that the metadata-table oracles
    # read directly with DuckDB `read_json(format='array')`.  Until the
    # first create_branch/create_tag the file doesn't exist and `main` is
    # implicitly the log tail (zero overhead for unbranched tables).
    @property
    def _refs_path(self) -> str:
        return os.path.join(self.path, "refs.json")

    def _load_refs(self) -> dict | None:
        if not os.path.exists(self._refs_path):
            return None
        with open(self._refs_path) as f:
            return {
                r["name"]: {"snapshot_id": r["snapshot_id"], "type": r["type"]}
                for r in json.load(f)
            }

    def _save_refs(self, refs: dict) -> None:
        tmp = self._refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                [{"name": n, **v} for n, v in sorted(refs.items())], f, indent=1
            )
        os.replace(tmp, self._refs_path)

    # -- per-file stats sidecar (Iceberg manifest record_count/partition) ---
    # Files are immutable, so their stats are table-level facts: one array
    # entry per data file ever committed ({file_path, record_count,
    # partition_value}), accumulated once per file — the snapshot log stays
    # O(1) in file count per commit (Iceberg keeps these in shared manifest
    # files for the same reason).  On a cluster the write tasks would
    # return (path, record_count, partition) with the commit — the
    # driver-side parquet-footer read below stands in for that on local
    # filesystems (a footer read is metadata-only, no row data touched).
    @property
    def _stats_path(self) -> str:
        return os.path.join(self.path, "file_stats.json")

    def _load_stats(self) -> dict[str, dict]:
        if not os.path.exists(self._stats_path):
            return {}
        with open(self._stats_path) as f:
            return {r["file_path"]: r for r in json.load(f)}

    def _record_new_file_stats(self, entries: list) -> None:
        stats = self._load_stats()
        new = False
        for e in entries:
            path = e[0]
            if path in stats or not os.path.isfile(path):
                continue  # dir-registered external roots: inferred at read
            import pyarrow.parquet as pq

            parts = [
                seg
                for seg in os.path.relpath(path, self.path).split(os.sep)
                if "=" in seg
            ]
            meta = pq.ParquetFile(path).metadata
            stats[path] = {
                "file_path": path,
                "record_count": meta.num_rows,
                "partition_value": "/".join(parts),
                "bounds": _footer_column_bounds(meta),
            }
            new = True
        if not new:
            return
        tmp = self._stats_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([stats[k] for k in sorted(stats)], f, indent=1)
        os.replace(tmp, self._stats_path)

    def _prune_entries(self, entries: list, where: str | None) -> list:
        """Manifest-level file selection for a predicate: drop entries whose
        footer [min,max] bounds or hive partition value PROVABLY exclude
        every row.  Entries without stats (external roots) always survive.
        Pruning is an optimization contract only — callers still apply the
        full predicate to rows."""
        if not where:
            return entries
        conjuncts = _skippable_conjuncts(where)
        if not conjuncts:
            return entries
        stats = self._load_stats()
        kept = []
        for e in entries:
            st = stats.get(e[0])
            if st is None:
                kept.append(e)
                continue
            if not _partition_may_match(st.get("partition_value", ""), conjuncts):
                continue
            if st.get("bounds") and not _bounds_may_match(st["bounds"], conjuncts):
                continue
            kept.append(e)
        return kept

    def _refs(self, snaps: list[Snapshot] | None = None) -> dict:
        """Named refs; before the first branch or tag, `main` alone, at the
        log tail."""
        refs = self._load_refs()
        if refs is None:
            tail = (snaps or self._load())[-1].snapshot_id
            refs = {"main": {"snapshot_id": tail, "type": "branch"}}
        return refs

    def snapshot(
        self,
        version: int | None = None,
        ref: str | None = None,
        as_of_timestamp_ms: int | None = None,
    ) -> Snapshot:
        """The snapshot VERSION AS OF `version`, the head of branch or tag
        `ref` (Iceberg's VERSION AS OF 'name'), or the last one committed at
        or before `as_of_timestamp_ms` (FOR TIMESTAMP AS OF).  Default: the
        main branch head (the log tail until refs exist)."""
        if sum(x is not None for x in (version, ref, as_of_timestamp_ms)) > 1:
            raise ValueError("pass at most one of version / as_of_timestamp_ms / ref")
        snaps = self._load()
        if as_of_timestamp_ms is not None:
            eligible = [s for s in snaps if s.timestamp_ms <= as_of_timestamp_ms]
            if not eligible:
                raise ValueError(
                    f"no snapshot at or before {as_of_timestamp_ms} "
                    f"(oldest is {snaps[0].timestamp_ms})"
                )
            return eligible[-1]
        if version is None:
            named = self._refs(snaps).get(ref or "main")
            if named is None:
                raise ValueError(f"unknown ref {ref!r}")
            version = named["snapshot_id"]
        for s in snaps:
            if s.snapshot_id == version:
                return s
        raise ValueError(
            f"no snapshot {version}; table has versions 0..{snaps[-1].snapshot_id}"
        )

    def _head(self, branch: str = "main") -> tuple[Snapshot, int]:
        """(head snapshot of `branch`, next global snapshot id).  Snapshot
        ids stay globally monotonic across branches (Iceberg allocates
        snapshot ids table-wide; refs just point into the log)."""
        snaps = self._load()
        ref = self._refs(snaps).get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"{branch!r} is not a branch")
        return self.snapshot(version=ref["snapshot_id"]), snaps[-1].snapshot_id + 1

    def _commit(
        self,
        op: str,
        expected_parent: int | None = None,
        branch: str = "main",
        **changes,
    ) -> Snapshot:
        """Append one snapshot and advance `branch` to it.  `expected_parent`
        enables optimistic concurrency (Iceberg's commit model): if another
        writer committed to this branch since the caller read it, the
        parent id no longer matches and the commit raises instead of
        silently clobbering — the caller re-reads and retries, exactly
        like HadoopTableOperations CAS."""
        prev, next_id = self._head(branch)
        if expected_parent is not None and prev.snapshot_id != expected_parent:
            raise ConcurrentCommitError(
                f"concurrent commit detected: expected parent snapshot "
                f"{expected_parent}, branch {branch!r} is now at {prev.snapshot_id}"
            )
        snap = Snapshot(
            snapshot_id=next_id,
            operation=op,
            data_files=changes.get("data_files", list(prev.data_files)),
            delete_files=changes.get("delete_files", list(prev.delete_files)),
            columns=changes.get("columns", list(prev.columns)),
            partition_by=changes.get("partition_by", list(prev.partition_by)),
            timestamp_ms=int(time.time() * 1000),
            column_types=changes.get("column_types", dict(prev.column_types)),
            properties=changes.get("properties", dict(prev.properties)),
        )
        self._record_new_file_stats(snap.data_files)
        snaps = self._load()
        snaps.append(snap)
        self._save(snaps)
        refs = self._load_refs()
        if refs is not None:
            refs[branch]["snapshot_id"] = snap.snapshot_id
            self._save_refs(refs)
        return snap

    def create_branch(self, name: str, version: int | None = None) -> None:
        """Iceberg `CREATE BRANCH`: a named, writable head.  Materializes
        refs.json on first use with `main` pinned to the current tail."""
        self._create_ref(name, version, "branch")

    def create_tag(self, name: str, version: int | None = None) -> None:
        """Iceberg `CREATE TAG`: an immutable named snapshot pointer
        (commits to a tag are refused)."""
        self._create_ref(name, version, "tag")

    def _create_ref(self, name: str, version: int | None, kind: str) -> None:
        refs = self._refs()
        at = refs["main"]["snapshot_id"] if version is None else version
        refs[name] = {"snapshot_id": at, "type": kind}
        self._save_refs(refs)

    def fast_forward(self, branch: str, to: str) -> None:
        """Iceberg `fast_forward(branch, to)` — the publish step of
        write-audit-publish: move `branch` to `to`'s head after the audit
        passes.  Metadata-only; the staged snapshots were committed (and
        readable via the audit branch) all along."""
        refs = self._load_refs()
        if refs is None or branch not in refs or to not in refs:
            raise ValueError(f"both {branch!r} and {to!r} must exist as refs")
        if refs[branch]["type"] != "branch":
            raise ValueError(f"{branch!r} is a tag; tags are immutable")
        refs[branch]["snapshot_id"] = refs[to]["snapshot_id"]
        self._save_refs(refs)

    # -- lifecycle ----------------------------------------------------------
    def create(
        self,
        columns: list[str],
        partition_by: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> "ParquetSnapshotTable":
        """S2: create (drop-if-exists).  `columns` excludes the row-id.
        `properties` are Iceberg-style TBLPROPERTIES; the
        `write.parquet.*` layout knobs take effect on every append."""
        if os.path.exists(self.path):
            import shutil

            shutil.rmtree(self.path)  # drop-with-purge semantics
        os.makedirs(self.path)
        self._save(
            [
                Snapshot(
                    snapshot_id=0,
                    operation="create",
                    columns=list(columns),
                    partition_by=list(partition_by or []),
                    timestamp_ms=int(time.time() * 1000),
                    properties=dict(properties or {}),
                )
            ]
        )
        return self

    def append(
        self,
        df: DataFrame,
        num_files: int | None = None,
        sort_by: list[str] | None = None,
        branch: str = "main",
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """S3/S4: append one batch of rows as a new snapshot.

        Row ids are NOT written: `read()` derives the (file, pos) key from
        the scan's `_metadata` pseudo-column, so appends carry zero id
        bookkeeping and stay correct under task retries (a stored
        monotonically_increasing_id can renumber rows when a task is
        speculatively re-executed).  `num_files` controls the physical
        file count (the reference's files-per-append knob,
        `IcebergTableGenerator.java:103-127`).

        `sort_by` is Iceberg's write sort order (`write.sort-order`):
        range-partition + sort-within-partitions clusters the data so
        parquet row-group min/max stats become tight, disjoint ranges —
        the reader then prunes row groups on sorted-column predicates
        instead of scanning every file.  At 100 TB this is the difference
        between a point-lookup touching one row group and touching all of
        them."""
        cur, sid = self._head(branch)
        entries = self._write_data_files(df, cur, sid, num_files=num_files, sort_by=sort_by)
        new_cols, new_types = self._evolved_schema(cur, df.schema)
        changes: dict = dict(
            data_files=cur.data_files + entries,
            columns=new_cols,
            column_types=new_types,
        )
        if properties:
            # Snapshot-carried properties (Iceberg snapshot summary /
            # TBLPROPERTIES update in the same commit) — e.g. the streaming
            # sink's epoch marker, which must be atomic with the data.
            changes["properties"] = {**cur.properties, **properties}
        return self._commit(
            "append",
            expected_parent=cur.snapshot_id,
            branch=branch,
            **changes,
        )

    def _write_data_files(
        self,
        df: DataFrame,
        cur: Snapshot,
        sid: int,
        num_files: int | None = None,
        sort_by: list[str] | None = None,
        name_prefix: str = "snap",
    ) -> list[list]:
        """Write a batch as data files and publish them into the shared
        `data/<partition>/` tree (Iceberg's write-then-commit: files land
        uncommitted in a staging dir, then move — same-filesystem rename —
        into the table layout; only the subsequent metadata commit makes
        them visible).  All snapshots share one partition-dir tree, so the
        whole table scans as a single leaf-file parquet read with
        `basePath` partition discovery.  Returns the published files' log
        entries, [path, sid, schema DDL]."""
        out = df.drop(ROW_ID)  # ids are positional; rewritten rows get new ones
        if sort_by:
            out = out.repartitionByRange(num_files or 4, *sort_by).sortWithinPartitions(
                *sort_by
            )
        elif num_files:
            out = out.repartition(num_files)
        elif (
            cur.properties.get("write.distribution-mode") == "hash"
            and cur.partition_by
        ):
            # Iceberg write.distribution-mode=hash: shuffle rows to their
            # partition before writing, so each append produces ONE file
            # per partition value instead of one per (task × partition) —
            # at 1000 executors the difference between P files and 1000×P
            # small files per commit.
            out = out.repartition(*[F.col(c) for c in cur.partition_by])
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex[:8]}")
        writer = out.write.mode("overwrite")
        for prop, option in _LAYOUT_PROPS.items():
            if prop in cur.properties:
                writer = writer.option(option, cur.properties[prop])
        if cur.partition_by:
            writer = writer.partitionBy(*cur.partition_by)
        writer.parquet(stage)
        data_dir = os.path.join(self.path, "data")
        ddl = _schema_ddl(out.schema)
        published: list[list] = []
        for f in sorted(glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True)):
            rel = os.path.relpath(os.path.dirname(f), stage)
            dest_dir = data_dir if rel == "." else os.path.join(data_dir, rel)
            os.makedirs(dest_dir, exist_ok=True)
            dest = os.path.join(dest_dir, f"{name_prefix}-{sid}-{os.path.basename(f)}")
            os.rename(f, dest)
            published.append([dest, sid, ddl])
        shutil.rmtree(stage, ignore_errors=True)
        return published

    def _write_delete_file(
        self, df: DataFrame, sid: int, mode: str, cols: list[str] = ()
    ) -> list:
        """Write `df` as one delete file (a directory of parquet parts)
        and return its log entry, [path, sid, mode, equality columns]."""
        path = os.path.join(self.path, "deletes", f"snap-{sid}-{uuid.uuid4().hex[:8]}")
        df.write.mode("overwrite").parquet(path)
        return [path, sid, mode, list(cols)]

    @staticmethod
    def _evolved_schema(
        cur: Snapshot, schema: StructType
    ) -> tuple[list[str], dict[str, str]]:
        """Table columns and types after committing files of `schema`: new
        columns append, every written column takes its written type."""
        fields = [f for f in schema.fields if f.name != ROW_ID]
        new_cols = cur.columns + [f.name for f in fields if f.name not in cur.columns]
        new_types = {
            **cur.column_types,
            **{f.name: f.dataType.simpleString() for f in fields},
        }
        return new_cols, new_types

    def add_files(self, file_dirs: list[str]) -> Snapshot:
        """S5: register pre-made external parquet files as a new snapshot
        WITHOUT rewriting them (Iceberg's `add_files` procedure; reference
        `IcebergTableGenerator.java:148-175` registers a pre-built file the
        same way).  Because row ids are derived from (file, pos) at read
        time, externally produced files participate in positional deletes
        with zero preparation.  The claimed-record-count corruption half of
        the reference scenario is a survey-declared non-goal."""
        cur, sid = self._head()
        schema = self.spark.read.parquet(*file_dirs).schema
        new_cols, new_types = self._evolved_schema(cur, schema)
        # Unpartitioned externals register per-FILE (uniform with native
        # entries); a hive-partitioned external root stays one directory
        # entry so its partition values get per-root discovery at read.
        ddl = _schema_ddl(schema)
        entries: list[list] = []
        for d in file_dirs:
            if os.path.isdir(d) and _partition_cols_of(d):
                entries.append([os.path.abspath(d), sid, ddl])
            else:
                entries.extend([os.path.abspath(f), sid, ddl] for f in _entry_files(d))
        return self._commit(
            "add-files",
            expected_parent=cur.snapshot_id,
            data_files=cur.data_files + entries,
            columns=new_cols,
            column_types=new_types,
        )

    def delete_where(
        self,
        condition: str,
        mode: str = "equality",
        equality_columns: list[str] | None = None,
        branch: str = "main",
    ) -> Snapshot:
        """D1/D2: merge-on-read delete — writes a delete FILE, never
        rewrites data; visible rows = data anti-join deletes at read time.

        mode='positional': the file holds the (file, pos) row ids matching
        `condition` right now — Iceberg's positional delete
        (`IcebergTableGenerator.java:237-245`).

        mode='equality' with `equality_columns`: a TRUE equality-delete
        file — it stores the distinct equality-column value tuples of the
        matching rows, and readers apply it to any row of an EARLIER data
        sequence with those values (`IcebergTableGenerator.java:288-365`;
        equality ids at `:336`).  Rows appended later with the same values
        stay visible, exactly the Iceberg sequence-number rule.

        mode='equality' without `equality_columns` degrades to the
        row-visibility-equivalent positional file (the r1 behavior)."""
        cur, sid = self._head(branch)
        matching = self.read(ref=branch).filter(condition)
        if mode == "equality" and equality_columns:
            values = matching.select(*equality_columns).distinct()
            entry = self._write_delete_file(values, sid, "equality", equality_columns)
        else:
            entry = self._write_delete_file(matching.select(ROW_ID), sid, "positional")
        return self._commit(
            f"delete-{mode}",
            expected_parent=cur.snapshot_id,
            branch=branch,
            delete_files=cur.delete_files + [entry],
        )

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched_update: dict[str, str] | str | None = "*",
        when_matched_delete: str | None = None,
        when_not_matched_insert: bool = True,
    ) -> Snapshot:
        """Iceberg MERGE INTO with conditional clauses, composed from the
        MoR primitives and committed as ONE snapshot (exactly Iceberg's
        merge-on-read MERGE: the equality-delete file and the new data
        files appear atomically — a reader never observes matched keys
        deleted but not yet replaced, and a crash before the metadata
        commit leaves the table untouched).

        Clauses (SQL-side semantics of `MERGE INTO t USING s ON keys`):
        - `when_matched_update="*"`: WHEN MATCHED THEN UPDATE SET * —
          matched rows take the source row wholesale.
        - `when_matched_update={col: expr, ...}`: UPDATE SET col = expr —
          each expr is a SQL string over aliases `t` (target row) and `s`
          (source row), e.g. ``{"v": "t.v + s.v"}``; unlisted columns keep
          the target value.
        - `when_matched_delete="cond"`: WHEN MATCHED AND cond THEN DELETE
          (evaluated over `t`/`s`; takes precedence over the update for
          rows satisfying it, as in SQL clause order DELETE-first).
        - `when_not_matched_insert`: WHEN NOT MATCHED THEN INSERT *.

        A matched row whose DELETE condition is NULL is not deleted: as in
        SQL, it falls through to the UPDATE clause.

        Mechanics: one equality-delete file on the key columns removes the
        old version of every matched-and-affected row (sequence rule: only
        EARLIER data sequences); updated survivors and inserts land as new
        data files with this snapshot's sequence, so they stay visible.
        Data files are never rewritten, and the target is scanned once:
        with an UPDATE clause every matched row is affected, so the delete
        file holds the distinct SOURCE keys (deleting a key no visible row
        has is a no-op under the sequence rule), and the new row versions
        come from one `source LEFT JOIN target` with a match marker.
        Duplicate keys in `source` are the caller's responsibility (real
        MERGE raises on multiple matches; here each source row contributes
        a row version, and k matched target rows give k versions)."""
        cur, sid = self._head()
        target = self.read(with_row_id=False)
        s = source.drop(ROW_ID).alias("s")
        t = target.withColumn(_MATCHED, F.lit(True)).alias("t")
        on = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
        joined = s.join(t, on, "left" if when_not_matched_insert else "inner")
        matched = F.col(f"t.{_MATCHED}").isNotNull()
        # a NULL condition is not satisfied (SQL clause semantics)
        deleted = (
            F.coalesce(F.expr(when_matched_delete), F.lit(False))
            if when_matched_delete
            else F.lit(False)
        )
        # key columns carry the common type of target and source keys, so
        # the delete file reads back as the type the commit records
        key_cols = {k: F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")) for k in keys}
        key_types = {
            f.name: f.dataType.simpleString()
            for f in joined.select(*[v.alias(k) for k, v in key_cols.items()]).schema
        }
        if when_matched_update is None:
            victims = joined.filter(matched & deleted).select(
                *[v.alias(k) for k, v in key_cols.items()]
            )
        else:
            victims = s.select(
                *[F.col(f"s.{k}").cast(key_types[k]).alias(k) for k in keys]
            )
        # new row versions: updated survivors + inserts
        if when_matched_update == "*":
            out_cols = [key_cols.get(c, F.col(f"s.{c}")).alias(c) for c in s.columns]
        else:
            updates = when_matched_update or {}

            def matched_value(c: str) -> Column:
                if c in updates:
                    return F.expr(updates[c])
                return key_cols.get(c, F.col(f"t.{c}"))

            out_cols = [
                F.when(matched, matched_value(c))
                .otherwise(F.col(f"s.{c}") if c in s.columns else F.lit(None))
                .alias(c)
                for c in target.columns
            ] + [F.col(f"s.{c}").alias(c) for c in s.columns if c not in target.columns]
        keep = F.when(
            matched, ~deleted if when_matched_update is not None else F.lit(False)
        ).otherwise(F.lit(when_not_matched_insert))
        new_rows: DataFrame | None = None
        if when_matched_update is not None or when_not_matched_insert:
            new_rows = joined.filter(keep).select(*out_cols)
        # write both files BEFORE the single metadata commit
        delete = self._write_delete_file(victims.distinct(), sid, "equality", keys)
        data_entries: list[list] = []
        new_cols, new_types = list(cur.columns), dict(cur.column_types)
        if new_rows is not None:
            data_entries = self._write_data_files(new_rows, cur, sid)
            new_cols, new_types = self._evolved_schema(cur, new_rows.schema)
        new_types.update(key_types)
        return self._commit(
            "merge",
            expected_parent=cur.snapshot_id,
            data_files=cur.data_files + data_entries,
            delete_files=cur.delete_files + [delete],
            columns=new_cols,
            column_types=new_types,
        )

    def update_where(
        self, condition: str, set_exprs: dict[str, str], branch: str = "main"
    ) -> Snapshot:
        """UPDATE ... SET col = expr ... WHERE condition, merge-on-read:
        the matched rows' exact (file, pos) ids go into a positional
        delete file and the updated row versions append as new data files
        — both recorded in ONE atomic snapshot, data files never
        rewritten.  `set_exprs` values are SQL over the row's columns
        (e.g. ``{"qty": "qty + 1"}``)."""
        cur, sid = self._head(branch)
        matched = self.read(ref=branch).filter(condition)
        updated = matched.select(
            *[
                F.expr(set_exprs[c]).alias(c) if c in set_exprs else F.col(c)
                for c in cur.columns
            ]
        )
        delete = self._write_delete_file(matched.select(ROW_ID), sid, "positional")
        return self._commit(
            "update",
            expected_parent=cur.snapshot_id,
            branch=branch,
            data_files=cur.data_files + self._write_data_files(updated, cur, sid),
            delete_files=cur.delete_files + [delete],
        )

    def add_column(self, name: str) -> Snapshot:
        """E2: ALTER TABLE ADD COLUMN (null-filled for existing rows)."""
        cur = self._load()[-1]
        return self._commit("add-column", columns=cur.columns + [name])

    def drop_column(self, name: str) -> Snapshot:
        """E2: ALTER TABLE DROP COLUMN (projection-level; files untouched,
        exactly like Iceberg's metadata-only drop)."""
        cur = self._load()[-1]
        return self._commit("drop-column", columns=[c for c in cur.columns if c != name])

    def set_partition_fields(self, partition_by: list[str]) -> Snapshot:
        """E1: partition-spec evolution — old files keep their layout, new
        appends use the new spec (Iceberg REPLACE PARTITION FIELD)."""
        return self._commit("replace-partition-field", partition_by=list(partition_by))

    def compact(self, target_files: int = 4, where: str | None = None) -> Snapshot:
        """Compaction (Iceberg `rewrite_data_files` + delete-file
        elimination): materialize the current visible rows into
        `target_files` fresh files and drop every delete file from the new
        snapshot.  Read amplification from accumulated MoR delete files
        resets to zero; older snapshots still reference the original files,
        so time travel is unaffected.

        With `where`, only the FILES whose partition value / footer bounds
        may match are rewritten (Iceberg `rewrite_data_files(where =>
        ...)`) — whole files, not just matching rows, exactly as Iceberg
        selects FileScanTasks.  Untouched files keep their entries, and
        every delete file is retained for them; rewritten rows can't be
        re-deleted because their new data sequence exceeds every existing
        delete's (the same sequence-number rule that protects re-inserts).
        This is how compaction runs at 100 TB: per partition, bin-packing
        small files, never a table-wide rewrite."""
        cur, sid = self._head()
        selected = self._prune_entries(cur.data_files, where)
        if len(selected) == len(cur.data_files):
            # visible rows, deletes applied; positional ids are NOT carried
            # over (rewritten rows get fresh (file, pos) keys, as in
            # Iceberg rewrites)
            rows = self.read(with_row_id=False)
            return self._replace("compact", rows, cur, sid, num_files=target_files)
        sel_paths = {e[0] for e in selected}
        sel_files = {f for p in sel_paths for f in _entry_files(p)}
        # visible rows OF THE SELECTED FILES ONLY (deletes applied); the row
        # id's file field is the scan's file path
        rows = (
            self.read()
            .filter(_local_path(F.col(f"{ROW_ID}.file")).isin(*sorted(sel_files)))
            .drop(ROW_ID)
        )
        return self._replace(
            "compact",
            rows,
            cur,
            sid,
            num_files=target_files,
            kept=[e for e in cur.data_files if e[0] not in sel_paths],
            delete_files=cur.delete_files,
        )

    def overwrite(
        self,
        df: DataFrame,
        num_files: int | None = None,
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """INSERT OVERWRITE: `df`'s rows replace every row of the table in
        one snapshot, which keeps no earlier data or delete file.
        `properties` commit with it, as in `append`."""
        cur, sid = self._head()
        return self._replace(
            "overwrite", df, cur, sid, num_files=num_files, properties=properties
        )

    def _replace(
        self,
        op: str,
        rows: DataFrame,
        cur: Snapshot,
        sid: int,
        num_files: int | None = None,
        kept: list = (),
        delete_files: list = (),
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """The commit of every rewrite (compact, rewrite_zorder,
        overwrite): `rows` become data files named `{op}-{sid}-…` beside
        the `kept` entries, and `delete_files` are the only delete files
        left."""
        entries = self._write_data_files(
            rows, cur, sid, num_files=num_files, name_prefix=op
        )
        new_cols, new_types = self._evolved_schema(cur, rows.schema)
        return self._commit(
            op,
            expected_parent=cur.snapshot_id,
            data_files=list(kept) + entries,
            delete_files=list(delete_files),
            columns=new_cols,
            column_types=new_types,
            properties={**cur.properties, **(properties or {})},
        )

    def remove_orphan_files(self) -> list[str]:
        """Iceberg `remove_orphan_files`: delete files under the table
        location referenced by NO snapshot — debris from crashed writes
        (staged-but-uncommitted data a failed job left behind).  Never
        touches referenced files, externally registered roots (outside the
        table location), or the metadata itself."""
        snaps = self._load()
        live: set[str] = set()
        for s in snaps:
            for e in s.data_files + s.delete_files:
                live.add(e[0])
                live.update(_entry_files(e[0]))
        removed: list[str] = []
        for f in glob.glob(os.path.join(self.path, "**", "*.parquet"), recursive=True):
            if f not in live:
                os.remove(f)
                removed.append(f)
        for stage in glob.glob(os.path.join(self.path, ".stage-*")):
            shutil.rmtree(stage, ignore_errors=True)
            removed.append(stage)
        return sorted(removed)

    def rewrite_zorder(
        self, cols: list[str], target_files: int = 8, bits: int = 8
    ) -> Snapshot:
        """Iceberg `rewrite_data_files(strategy => 'sort', sort_order =>
        'zorder(...)')`: rewrite the visible rows clustered on the Morton
        interleave of `cols`, so every rewritten file carries tight footer
        min/max bounds on ALL the clustered columns and `read(where=)`
        prunes files for predicates on any of them.  Like `compact`, the
        rewrite applies accumulated delete files and resets read
        amplification; older snapshots keep the original files."""
        from iceberg_table_generator_spark.operators.zorder import Z_COL, with_zorder

        cur, sid = self._head()
        current = with_zorder(self.read(with_row_id=False), cols, bits=bits)
        # range-partition on the z-value then drop it: clustering lives in
        # the file layout (and its footer stats), not in a stored column
        arranged = (
            current.repartitionByRange(target_files, Z_COL)
            .sortWithinPartitions(Z_COL)
            .drop(Z_COL)
        )
        return self._replace("zorder", arranged, cur, sid)

    def rollback_to(self, version: int) -> Snapshot:
        """Iceberg `rollback_to_snapshot`: a NEW snapshot that points back
        at an older snapshot's file lists — history is append-only, the
        rollback itself is recorded, and the rolled-past snapshots stay
        time-travelable."""
        target = self.snapshot(version=version)
        return self._commit(
            "rollback",
            data_files=list(target.data_files),
            delete_files=list(target.delete_files),
            columns=list(target.columns),
            partition_by=list(target.partition_by),
            column_types=dict(target.column_types),
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Iceberg `expire_snapshots`: drop all but the last `keep_last`
        snapshot entries and DELETE data/delete files referenced only by
        the expired history (orphan cleanup).  Time travel to expired
        versions becomes impossible — that is the point: bounded metadata
        and storage.  Returns the removed paths."""
        snaps = self._load()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        # snapshots pinned by a branch or tag never expire (Iceberg refuses
        # to expire ref-reachable snapshots)
        pinned = {r["snapshot_id"] for r in self._refs(snaps).values()}
        keep = [
            s
            for i, s in enumerate(snaps)
            if i >= len(snaps) - keep_last or s.snapshot_id in pinned
        ]
        keep_ids = {s.snapshot_id for s in keep}
        expired = [s for s in snaps if s.snapshot_id not in keep_ids]
        if not expired:
            return []
        live: set[str] = set()
        for s in keep:
            live.update(e[0] for e in s.data_files)
            live.update(e[0] for e in s.delete_files)
        dead: set[str] = set()
        for s in expired:
            dead.update(e[0] for e in s.data_files)
            dead.update(e[0] for e in s.delete_files)
        orphans = sorted(dead - live)
        for path in orphans:
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
                os.remove(path)
        self._save(keep)
        return orphans

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental changelog scan (Iceberg's CDC read): the rows that
        became visible ('insert') or stopped being visible ('delete')
        between two snapshots, tagged with a `_change_type` column.

        Computed as a row-id diff of the two versions' visible sets — the
        (file, pos) key makes this exact with two broadcast-able
        anti-joins, no per-snapshot log replay.  Caveat (same as Iceberg's
        changelog over rewrites): a compaction rewrites every surviving
        row's physical id, so a diff spanning a compact snapshot reports
        the physical churn; consume changelogs between data commits, or
        compact downstream of the CDC consumer."""
        old = self.read(version=from_version)
        new = self.read(version=to_version)
        inserted = new.join(old.select(ROW_ID), ROW_ID, "left_anti").withColumn(
            "_change_type", F.lit("insert")
        )
        deleted = old.join(new.select(ROW_ID), ROW_ID, "left_anti").withColumn(
            "_change_type", F.lit("delete")
        )
        return inserted.unionByName(deleted, allowMissingColumns=True)

    def read_changes_all(self) -> DataFrame:
        """Full-history changelog: the per-version `read_changes` stream for
        EVERY consecutive snapshot pair, tagged with `_version`, with each
        version's visible set materialized exactly once.

        Calling `read_changes(v-1, v)` in a loop reads every interior
        version twice (as the new side of one diff and the old side of the
        next) — 2V-1 table scans for V versions.  Here the V version reads
        union into ONE relation tagged `_v`, one groupBy over the row
        identity collects each row's visibility set {v : visible at v},
        and every insert/delete event derives IN-ROW from that set
        (insert at v ⟺ visible at v but not v-1; delete symmetric) — the
        same row-id diff semantics as the pairwise anti-joins, computed
        with a single exchange instead of 2(V-1) anti-joins (each of
        which cost a broadcast-build job) and V DISK_ONLY persists.
        A row's identity is its FULL column tuple including the physical
        row id: a (file, pos) within one immutable file always carries
        the same payload, so grouping by all columns equals grouping by
        row id, and rewritten rows (compaction) group separately exactly
        as the pairwise diff reports them.  Iceberg's native equivalent
        walks manifests per-commit (O(Δ) per step); this is the
        parquet-snapshot approximation of that consumer-side pattern."""
        n = len(self._load()) - 1
        tagged = [
            self.read(version=v).withColumn("_v", F.lit(v))
            for v in range(1, n + 1)
        ]
        allv = tagged[0]
        for t in tagged[1:]:
            allv = allv.unionByName(t, allowMissingColumns=True)
        cols = [c for c in allv.columns if c != "_v"]
        g = allv.groupBy(*cols).agg(F.collect_set("_v").alias("_vs"))
        # Per row: walk versions 1..n once, emitting the change events its
        # visibility set implies (contains(0) is vacuously false, so v=1
        # needs no special case and can never emit a delete).
        present = lambda v: F.array_contains("_vs", v)  # noqa: E731
        events = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.lit(n)),
                lambda v: F.struct(
                    F.when(present(v) & ~present(v - 1), F.lit("insert"))
                    .when(~present(v) & present(v - 1), F.lit("delete"))
                    .alias("_change_type"),
                    v.alias("_version"),
                ),
            ),
            lambda e: e["_change_type"].isNotNull(),
        )
        return g.select(*cols, F.explode(events).alias("_e")).select(
            *cols,
            F.col("_e._change_type").alias("_change_type"),
            F.col("_e._version").alias("_version"),
        )

    # -- reads --------------------------------------------------------------
    def snapshots(self) -> list[Snapshot]:
        return self._load()

    # -- metadata tables (Iceberg's `table.snapshots` / `history` /
    #    `files` relations, SURVEY §1.1) ------------------------------------
    # Built from the JSON metadata log via createDataFrame: the log is
    # driver-sized by design (same as Iceberg, whose metadata tables are
    # computed from manifests, not from a distributed scan).
    def snapshots_table(self) -> DataFrame:
        """One row per snapshot: id, committed_at, operation, file counts —
        Iceberg's `SELECT * FROM tbl.snapshots`."""
        rows = [
            (
                s.snapshot_id,
                s.timestamp_ms,
                s.operation,
                len(s.data_files),
                len(s.delete_files),
            )
            for s in self._load()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, committed_at_ms bigint, operation string, "
            "n_data_files int, n_delete_files int",
        )

    def snapshot_summary_table(self) -> DataFrame:
        """Per-snapshot write metrics — Iceberg's snapshot `summary` map
        (`added-data-files`, `added-records`, `total-records`) as columns,
        computed from the metadata log joined with the per-file stats
        sidecar (manifest record counts).  `added` = file entries whose
        data sequence equals the snapshot id (committed by that snapshot);
        `total` = all live data-file rows (file-level, before MoR delete
        application — exactly Iceberg's total-records semantics).
        External dir-registered roots carry no sidecar stats and count 0
        records here, mirroring their excluded-from-partitions caveat."""
        stats = self._load_stats()

        def rec(e) -> int:
            st = stats.get(e[0])
            return int(st["record_count"]) if st else 0

        rows = [
            (
                s.snapshot_id,
                s.operation,
                sum(1 for e in s.data_files if int(e[1]) == s.snapshot_id),
                sum(rec(e) for e in s.data_files if int(e[1]) == s.snapshot_id),
                len(s.data_files),
                sum(rec(e) for e in s.data_files),
            )
            for s in self._load()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, operation string, added_files int, "
            "added_records bigint, total_files int, total_records bigint",
        )

    def history_table(self) -> DataFrame:
        """Snapshot lineage — Iceberg's `tbl.history`.  The log is linear
        (rollback appends a NEW snapshot pointing at old file lists), so
        every logged snapshot is an ancestor of the current one."""
        rows = [
            (
                s.timestamp_ms,
                s.snapshot_id,
                None if s.snapshot_id == 0 else s.snapshot_id - 1,
                True,
            )
            for s in self._load()
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms bigint, snapshot_id int, parent_id int, "
            "is_current_ancestor boolean",
        )

    def files_table(self, version: int | None = None) -> DataFrame:
        """Live file entries of one snapshot (default: current) — Iceberg's
        `tbl.files` + `tbl.delete_files` in one relation.  `content` is
        'data' or the delete mode; `sequence_number` is what equality
        deletes compare against."""
        snap = self.snapshot(version=version)
        rows = [("data", e[0], int(e[1])) for e in snap.data_files] + [
            (e[2], e[0], int(e[1])) for e in snap.delete_files
        ]
        return self.spark.createDataFrame(
            rows, "content string, file_path string, sequence_number int"
        )

    def all_files_table(self) -> DataFrame:
        """Every snapshot's live file entries (snapshot_id, content, path,
        sequence) — the audit view of how the file set evolved commit by
        commit (Iceberg's `all_data_files`/`all_delete_files`)."""
        rows = []
        for s in self._load():
            rows += [
                (s.snapshot_id, "data", e[0], int(e[1])) for e in s.data_files
            ]
            rows += [
                (s.snapshot_id, e[2], e[0], int(e[1])) for e in s.delete_files
            ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id int, content string, file_path string, sequence_number int",
        )

    def files_stats_table(
        self, version: int | None = None, ref: str | None = None
    ) -> DataFrame:
        """Iceberg `tbl.files` at the stats level: one row per live DATA
        file of the chosen snapshot (default current; `ref` resolves a
        branch/tag first) with its manifest record_count and partition
        tuple — the reference collects exactly these metrics at write time
        (`IcebergTableGenerator.java:420`) and Iceberg answers `tbl.files`
        from manifests the same way: no data rows are touched."""
        snap = self.snapshot(version=version, ref=ref)
        stats = self._load_stats()
        rows = []
        for e in snap.data_files:
            st = stats.get(e[0]) or {}
            rows.append(
                (
                    e[0],
                    str(st.get("partition_value", "")),
                    int(st.get("record_count", 0)),
                )
            )
        return self.spark.createDataFrame(
            rows, "file_path string, partition_value string, record_count bigint"
        )

    def refs_table(self) -> DataFrame:
        """Named refs — Iceberg's `tbl.refs` (branches and tags with the
        snapshot each points at).  Before any branch/tag exists, `main` is
        reported implicitly at the log tail, mirroring what `read()`
        resolves."""
        rows = [
            (name, v["type"], v["snapshot_id"])
            for name, v in sorted(self._refs().items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id int"
        )

    def partitions_table(self, version: int | None = None) -> DataFrame:
        """Per-partition file/record counts of one snapshot (default:
        current) — Iceberg's `tbl.partitions`, fed by the per-file stats
        sidecar exactly as Iceberg's is fed by manifest entries
        (record_count + partition tuple per DataFile), so it answers
        "which partitions are skewed / fragmented" without touching a
        single data row.  Dir-registered external roots (partitioned
        add_files) carry no per-file stats and are excluded; their
        partition values are discovered at scan time instead."""
        snap = self.snapshot(version=version)
        stats = self._load_stats()
        agg: dict[str, list[int]] = {}
        for e in snap.data_files:
            st = stats.get(e[0])
            if st is None:
                continue
            a = agg.setdefault(st["partition_value"], [0, 0])
            a[0] += 1
            a[1] += int(st["record_count"])
        rows = [(p, n, rc) for p, (n, rc) in sorted(agg.items())]
        return self.spark.createDataFrame(
            rows, "partition_value string, file_count int, record_count bigint"
        )

    def read(
        self,
        version: int | None = None,
        with_row_id: bool = True,
        as_of_timestamp_ms: int | None = None,
        ref: str | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Current (or VERSION AS OF / TIMESTAMP AS OF / named-ref) visible
        rows: union data files with schema reconciliation, anti-join the
        accumulated delete files.  `as_of_timestamp_ms` selects the last
        snapshot committed at or before the given wall-clock (Iceberg's
        FOR TIMESTAMP AS OF); `ref` reads a branch head or tag (Iceberg's
        VERSION AS OF 'name').  Default = the main branch head (the log
        tail until refs exist).

        `where` is a Spark SQL predicate applied to the visible rows — and,
        first, evaluated against the per-file [min,max] bounds in the stats
        sidecar to SKIP whole files before the scan is even planned, the way
        Iceberg's InclusiveMetricsEvaluator prunes DataFiles from manifests.
        At 100 TB this manifest-level pruning (not the row filter) is what
        bounds scan cost: a selective predicate on a write-sorted column
        touches O(matching) files instead of O(table).  The row filter is
        always applied too, so unparseable/partial predicates only lose
        pruning, never correctness; partition-column conjuncts additionally
        prune hive directories through the pushed-down scan filter."""
        snap = self.snapshot(
            version=version, ref=ref, as_of_timestamp_ms=as_of_timestamp_ms
        )
        scan_entries = self._prune_entries(snap.data_files, where)
        if not scan_entries:
            # Empty table (or every file pruned by the predicate): honor the
            # recorded column types (append-time schema); columns never
            # appended yet fall back to string.
            fields = [
                f"`{c}` {snap.column_types.get(c, 'string')}" for c in snap.columns
            ] + ([f"`{ROW_ID}` {ROW_ID_TYPE}"] if with_row_id else [])
            return self.spark.createDataFrame([], ", ".join(fields))
        seq_col = "__seq"
        # Scan plan is FLAT in commit count — the previous form built one
        # union node per data dir and one anti-join per equality-delete
        # commit, so Catalyst analysis cost grew O(snapshots) (the
        # reference's flagship scenario is a 100-delete-commit table).
        # Native files all live in one shared `data/<partition>/` tree:
        # group leaf files by partition spec (distinct specs only exist
        # after spec evolution) and write schema, and scan each group as
        # ONE parquet read with `basePath` partition discovery —
        # partition-column filters prune directories exactly as on a
        # static partitioned table.  Each group declares its recorded
        # schema, so no footer is read to infer one and partition columns
        # take their written types, not types guessed from directory names
        # ("grp=0" is a string if it was written as one).  An external
        # partitioned root (add_files) scans alone.  unionByName reconciles
        # column evolution across schema groups.
        data_dir = os.path.join(os.path.abspath(self.path), "data")
        file_groups: dict[tuple, list[str]] = {}
        for path, _seq, ddl in scan_entries:
            if os.path.isdir(path):
                file_groups[(None, path, ddl)] = [path]
                continue
            comps = os.path.relpath(os.path.abspath(path), data_dir).split(os.sep)[:-1]
            cols = tuple(c.split("=", 1)[0] for c in comps if "=" in c)
            key = (data_dir if cols else None, cols, ddl)
            file_groups.setdefault(key, []).append(path)
        row_id = F.struct(
            F.col("_metadata.file_path").alias("file"),
            F.col("_metadata.row_index").alias("pos"),
        )
        parts = []
        for (base, _layout, ddl), paths in file_groups.items():
            rd = self.spark.read.schema(ddl)
            if base:
                rd = rd.option("basePath", base)
            parts.append(rd.parquet(*paths).withColumn(ROW_ID, row_id))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        eq_entries = [e for e in snap.delete_files if e[2] == "equality"]
        if eq_entries:
            # Data sequence numbers (what equality deletes compare against)
            # attach as one map lookup on the row id's file — the row id
            # is a plain column that survives unions, where `_metadata`
            # itself resolves only directly on a scan relation.
            df = df.withColumn(
                seq_col,
                _file_lookup(
                    {
                        f: int(e[1])
                        for e in scan_entries
                        for f in _entry_files(e[0])
                    },
                    F.col(f"{ROW_ID}.file"),
                ),
            )
        # Positional deletes: one union of (file, pos) tuples, one broadcast
        # anti-join — ids are globally unique, no sequence check needed.
        # Delete files are small relative to data (MoR invariant) —
        # broadcast so the data side never shuffles.  Every delete file is
        # read with a declared schema: no footer-inference job.
        pos_files = [e[0] for e in snap.delete_files if e[2] == "positional"]
        if pos_files:
            deletes = self.spark.read.schema(f"`{ROW_ID}` {ROW_ID_TYPE}").parquet(
                *pos_files
            )
            df = df.join(F.broadcast(deletes), ROW_ID, "left_anti")
        # Equality deletes: a row is deleted iff SOME delete file over the
        # same column set contains its value tuple with a delete sequence
        # GREATER than the row's data sequence (Iceberg's sequence-number
        # rule — later re-inserts of the same values stay visible).  The
        # anti-join condition states exactly that, so all delete files
        # sharing a column set coalesce into ONE broadcast anti-join
        # regardless of how many delete commits produced them; the key
        # columns take the snapshot's recorded types, so files written
        # before a type widening (int → bigint) read as the widened type.
        by_cols: dict[tuple, list] = {}
        for path, del_seq, _mode, eq_cols in eq_entries:
            by_cols.setdefault(tuple(eq_cols), []).append((path, del_seq))
        for eq_cols, entries in by_cols.items():
            schema = ", ".join(
                f"`{c}` {snap.column_types.get(c, 'string')}" for c in eq_cols
            )
            vals = (
                self.spark.read.schema(schema)
                .parquet(*[p for p, _ in entries])
                .withColumn(
                    "__del_seq",
                    _file_lookup(
                        {f: int(s) for p, s in entries for f in _entry_files(p)},
                        F.col("_metadata.file_path"),
                    ),
                )
            )
            cond = [df[c].eqNullSafe(vals[c]) for c in eq_cols]
            cond.append(df[seq_col] < vals["__del_seq"])
            df = df.join(F.broadcast(vals), cond, "left_anti")
        cols = [c for c in snap.columns if c in df.columns]
        out = df.select(*cols, *([ROW_ID] if with_row_id else []))
        return out.filter(where) if where else out


class IcebergTable:
    """Real Iceberg v2 lifecycle via Spark SQL — the scale path, active when
    iceberg-spark-runtime is on the classpath (see session.get_spark, which
    registers the `itg` hadoop catalog).

    Cites: create+v2 props (`IcebergTableGenerator.java:71-88`), MoR deletes
    (`:177-286`), spec evolution (`:94-101`), schema evolution
    (`Main.java:440-443`)."""

    def __init__(self, spark: SparkSession, name: str, catalog: str = "itg"):
        from iceberg_table_generator_spark.session import iceberg_runtime_available

        if not iceberg_runtime_available():
            raise RuntimeError(
                "iceberg-spark-runtime jar not available in this environment; "
                "use ParquetSnapshotTable (same semantics on plain parquet)"
            )
        self.spark = spark
        self.full_name = f"{catalog}.{name}"

    def create(self, schema_ddl: str, partition_by: str | None = None,
               props: dict[str, str] | None = None) -> "IcebergTable":
        self.spark.sql(f"DROP TABLE IF EXISTS {self.full_name} PURGE")
        parts = f" PARTITIONED BY ({partition_by})" if partition_by else ""
        tbl_props = {"format-version": "2", "write.delete.mode": "merge-on-read"}
        tbl_props.update(props or {})
        props_sql = ", ".join(f"'{k}'='{v}'" for k, v in tbl_props.items())
        self.spark.sql(
            f"CREATE TABLE {self.full_name} ({schema_ddl}) USING iceberg{parts} "
            f"TBLPROPERTIES ({props_sql})"
        )
        return self

    def append(self, df: DataFrame, num_files: int | None = None) -> None:
        (df.repartition(num_files) if num_files else df).writeTo(self.full_name).append()

    def delete_where(self, condition: str) -> None:
        self.spark.sql(f"DELETE FROM {self.full_name} WHERE {condition}")

    def add_column(self, name: str, type_ddl: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.full_name} ADD COLUMN {name} {type_ddl}")

    def drop_column(self, name: str) -> None:
        self.spark.sql(f"ALTER TABLE {self.full_name} DROP COLUMN {name}")

    def replace_partition_field(self, old: str, new: str) -> None:
        self.spark.sql(
            f"ALTER TABLE {self.full_name} REPLACE PARTITION FIELD {old} WITH {new}"
        )

    def read(self, version: int | None = None) -> DataFrame:
        if version is not None:
            return self.spark.read.option("versionAsOf", version).table(self.full_name)
        return self.spark.table(self.full_name)

    def snapshots(self) -> DataFrame:
        return self.spark.sql(f"SELECT * FROM {self.full_name}.snapshots")
