"""Committed-snapshot table format — the Iceberg-semantics layer the north
rule's checkpoint story runs on ("resumable from the last committed
snapshot checkpoint").

This is a from-scratch minimal implementation of the *semantics* Apache
Iceberg gives a Spark pipeline (public design: the Iceberg spec's
snapshot/manifest/optimistic-commit model), not the Iceberg file spec: the
sandbox has no Iceberg runtime jars, and the pipeline only relies on four
properties, all delivered here and proven in tests/test_icetable.py:

1. **Atomic commits.** Data files are written first (distributed, by
   executors) and are INVISIBLE until a snapshot manifest listing them is
   committed. Spark-written files go through one staging path: a fresh
   ``data/<uuid>`` directory (``_staging_dir``), one ``df.write.parquet``
   (``_write_staged``, shaped by ``_stage_table_write`` for the table's
   partition spec and sort order or ``_stage_group_rewrite`` for a
   maintenance rewrite), and one manifest-entry builder
   (``_entries_for_files``, also used for the DataSource writers' and the
   extraction sink's task files), which deletes 0-row part files instead
   of committing them. A reader concurrent with a crashed or in-flight
   writer sees exactly the previous snapshot.
2. **Optimistic concurrency.** A commit creates ``metadata/snap-N.json``
   with a hard-link CAS — two writers racing for the same N: one wins,
   the other gets ``CommitConflict`` and retries against the new head
   (data files are already safe, only the cheap metadata step re-runs).
   Every main-namespace commit runs this loop in ``_commit_snapshot``.
   This is the Iceberg commit protocol in miniature.
3. **Time travel.** Every snapshot is immutable and keeps its full file
   list; ``read(..., snapshot_id=k)`` reconstructs any historical state,
   ``rollback`` makes an old state current by committing a NEW snapshot
   that points at the old file list (history is never rewritten).
4. **Lineage.** Each snapshot carries an operation, a parent pointer, a
   summary (run_id, row/file counts) and optional per-partition lineage
   rows — the metrics contract of SURVEY.md §7.4 at the table layer.

Scale shape: the data path is 100% distributed (executors write parquet
part files; nothing rows-shaped ever moves through the driver). The commit
is a driver-side metadata operation — one directory listing of the new
files plus one JSON write — which is exactly how Iceberg commits work on a
1000-executor cluster. Snapshot JSONs grow with file count, not row count;
at 10^12 rows / ~10^6 files a manifest is ~100 MB of JSON, which is the
point where real Iceberg splits manifests into a manifest *list* — noted
in ``append``'s docstring as the production extension.

On a real cluster the same jobs run against actual Iceberg (see job.py
header); this module is the sandbox's working stand-in with the same
commit semantics, not a toy: crash-atomicity, CAS conflicts, time travel
and resume-from-snapshot are all exercised end-to-end in the tests.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_META = "metadata"
_DATA = "data"
_HINT = "version-hint.text"


class CommitConflict(Exception):
    """Another writer committed the snapshot id this commit targeted."""


class NoSuchSnapshot(Exception):
    pass


class PreconditionFailed(Exception):
    """An append's validation rejected the commit against the current head
    (Iceberg's conflict-validation analog): nothing was committed; the
    already-written data files remain invisible orphans."""


class SchemaConflict(Exception):
    """A writer's column type contradicts the table schema. Add/drop is
    schema EVOLUTION and allowed (union-by-name, like Iceberg); silently
    re-typing an existing column is not."""


def _meta_dir(path: str) -> str:
    return os.path.join(path, _META)


def _snap_path(path: str, sid: int) -> str:
    return os.path.join(_meta_dir(path), f"snap-{sid:011d}.json")


def current_snapshot_id(path: str) -> int:
    """Head snapshot id (0 = empty/uncreated table). The version hint is a
    fast path; the directory scan is the source of truth so a crash between
    snapshot write and hint update still resolves to the committed head."""
    best = 0
    try:
        for name in os.listdir(_meta_dir(path)):
            if name.startswith("snap-") and name.endswith(".json"):
                try:
                    best = max(best, int(name[5:-5]))
                except ValueError:
                    continue
    except FileNotFoundError:
        return 0
    return best


# Two-level metadata (Iceberg's manifest list): a snapshot stores REFS to
# immutable manifest-segment files (metadata/man-*.json) instead of the
# full file list inline. A commit then writes O(delta) metadata — one new
# segment + one snapshot of refs — instead of re-serializing every entry:
# at 10^6 files per 10^12 rows that is the difference between a ~100 MB
# and a ~1 KB snapshot write per tick. Unchanged segments are SHARED
# across snapshots (time travel and rollback are ref copies); rewrites
# (compact/delete/merge) rewrite only the segments they touch. Loaded
# snapshots are MATERIALIZED (full "manifest" reconstructed, segment
# cache-backed), so every consumer keeps the flat-entry view.

_SEGMENT_CACHE: dict[str, list] = {}


def _load_segment(path: str, ref: dict[str, Any]) -> list[dict[str, Any]]:
    full = os.path.normpath(os.path.join(path, ref["path"]))
    ent = _SEGMENT_CACHE.get(full)
    if ent is None:
        with open(full) as f:
            ent = json.load(f)
        if len(_SEGMENT_CACHE) > 512:  # segments are immutable; bound only
            _SEGMENT_CACHE.clear()
        _SEGMENT_CACHE[full] = ent
    return ent


def _write_segment(path: str, entries: list[dict[str, Any]]) -> dict[str, Any]:
    os.makedirs(_meta_dir(path), exist_ok=True)
    rel = os.path.join(_META, f"man-{uuid.uuid4().hex}.json")
    full = os.path.join(path, rel)
    tmp = f"{full}.tmp"
    with open(tmp, "w") as f:
        json.dump(entries, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, full)
    return {
        "path": rel,
        "n_files": len(entries),
        "n_rows": sum(e["rows"] for e in entries),
    }


def _materialize(path: str, snap: dict[str, Any]) -> dict[str, Any]:
    """Reconstruct the flat entry list from the manifest list (no-op for
    legacy inline-manifest snapshots). ``_segments`` keeps the per-segment
    grouping so rewrites can reuse untouched segments by reference."""
    if "manifest_list" not in snap:
        return snap
    segs = [(ref, _load_segment(path, ref)) for ref in snap["manifest_list"]]
    snap["manifest"] = [e for _, ents in segs for e in ents]
    snap["_segments"] = segs
    return snap


def _segments_minus_plus(
    path: str,
    parent: dict[str, Any] | None,
    removed_paths: set[str],
    new_entries: list[dict[str, Any]],
) -> list[dict[str, Any]]:
    """Manifest-list refs for (parent's entries − removed) + new:
    untouched segments are reused BY REFERENCE (zero metadata I/O);
    segments containing a removed entry are rewritten filtered; the new
    entries become one new segment. A legacy inline-manifest parent is
    converted to one synthetic segment on the way through."""
    refs: list[dict[str, Any]] = []
    if parent:
        segs = parent.get("_segments")
        if segs is None:
            segs = [(None, parent.get("manifest", []))]
        for ref, entries in segs:
            if removed_paths and any(
                e["path"] in removed_paths for e in entries
            ):
                kept = [e for e in entries if e["path"] not in removed_paths]
                if kept:
                    refs.append(_write_segment(path, kept))
            elif ref is None:
                if entries:
                    refs.append(_write_segment(path, entries))
            else:
                refs.append(ref)
    if new_entries:
        refs.append(_write_segment(path, new_entries))
    return refs


def snapshot(path: str, sid: int | None = None) -> dict[str, Any]:
    sid = sid if sid is not None else current_snapshot_id(path)
    try:
        with open(_snap_path(path, sid)) as f:
            return _materialize(path, json.load(f))
    except FileNotFoundError:
        raise NoSuchSnapshot(f"{path}: snapshot {sid}")


def history(path: str) -> list[dict[str, Any]]:
    """All retained snapshots, oldest first (summaries only, no file lists
    — the audit view). Snapshots dropped by ``expire_snapshots`` are
    simply absent, like Iceberg's history after expiry."""
    out = []
    for sid in range(1, current_snapshot_id(path) + 1):
        try:
            s = snapshot(path, sid)
        except NoSuchSnapshot:  # expired
            continue
        out.append(
            {
                "snapshot_id": s["snapshot_id"],
                "parent_id": s["parent_id"],
                "timestamp_ms": s["timestamp_ms"],
                "operation": s["operation"],
                "n_files": len(s["manifest"]),
                "n_rows": sum(e["rows"] for e in s["manifest"]),
                "summary": s.get("summary", {}),
            }
        )
    return out


def _summary_watermark(path: str, key: str) -> int:
    """The largest integer ``key`` in any retained snapshot summary — the
    watermark an incremental job records in its own output table's
    commits (0 when no snapshot carries it, or the table does not exist
    yet)."""
    last = 0
    for h in history(path):
        s = h["summary"].get(key)
        if s is not None:
            last = max(last, int(s))
    return last


def _cas_write(path: str, target: str, snap: dict[str, Any], what: str) -> None:
    """Create the metadata file ``target`` holding ``snap`` iff it does
    not exist yet (CommitConflict otherwise): a hard-link CAS, so the
    target appears fully written in one atomic step (no empty-file window
    a concurrent reader could observe)."""
    os.makedirs(_meta_dir(path), exist_ok=True)
    if "manifest_list" in snap:  # two-level: never persist the flat view
        snap = {
            k: v for k, v in snap.items() if k not in ("manifest", "_segments")
        }
    tmp = f"{target}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(snap, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, target)
    except FileExistsError:
        raise CommitConflict(f"{path}: {what} already committed") from None
    finally:
        os.unlink(tmp)


def _commit(path: str, snap: dict[str, Any]) -> int:
    """Atomically create snap-N.json (CAS on N), then move the version
    hint forward. The hint write is a same-filesystem rename, so readers
    never observe a torn pointer."""
    sid = snap["snapshot_id"]
    _cas_write(path, _snap_path(path, sid), snap, f"snapshot {sid}")
    hint_tmp = os.path.join(_meta_dir(path), f".{_HINT}.{uuid.uuid4().hex}")
    with open(hint_tmp, "w") as f:
        f.write(str(sid))
    os.replace(hint_tmp, os.path.join(_meta_dir(path), _HINT))
    return sid


def _stat_value(v: Any) -> Any:
    """JSON-storable, order-preserving form of a parquet footer stat:
    numbers stay numbers; datetimes become ISO strings (lexicographic
    order == chronological order for a fixed-format ISO rendering);
    strings stay strings. Anything else is unprunable -> None."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, str):
        return v
    return None


def _file_column_stats(meta) -> dict[str, list[Any]]:
    """Per-column [min, max] over all row groups of one parquet file,
    from footer statistics only. Parquet writers truncate long string
    stats conservatively (min keeps a prefix <= true min; max is
    truncate-and-increment >= true max), so these are always valid
    PRUNING bounds even when inexact. Columns with any stat-less or
    non-orderable chunk are omitted — absence of stats means 'cannot
    prune', never 'can drop'."""
    stats: dict[str, list[Any]] = {}
    dead: set[str] = set()
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name in dead:  # nested leaves: not prunable
                continue
            s = col.statistics
            if s is None or not s.has_min_max:
                dead.add(name)
                stats.pop(name, None)
                continue
            lo, hi = _stat_value(s.min), _stat_value(s.max)
            if lo is None or hi is None:
                dead.add(name)
                stats.pop(name, None)
                continue
            if name in stats:
                stats[name][0] = min(stats[name][0], lo)
                stats[name][1] = max(stats[name][1], hi)
            else:
                stats[name] = [lo, hi]
    return stats


def _entries_for_files(
    table_path: str, rels: list[str], partition: str = ""
) -> list[dict[str, Any]]:
    """The one manifest-entry builder, for freshly staged (uncommitted)
    parquet files given by table-relative path: one entry per file with
    row count + byte size + per-column min/max stats (footer-only reads —
    the driver never touches row data; the stats are what manifest-level
    file skipping prunes on, Iceberg's lower_bounds/upper_bounds) + the
    partition subpath (what keeps maintenance rewrites from destroying the
    clustering). Paths are table-relative so a table directory is
    relocatable as a unit. A 0-row file (Spark's writer opens one for an
    empty write partition) is deleted and gets no entry: it would add
    nothing but a file every later read opens."""
    import pyarrow.parquet as pq

    entries = []
    for rel in rels:
        full = os.path.join(table_path, rel)
        meta = pq.read_metadata(full)
        if meta.num_rows == 0:
            os.remove(full)
            continue
        entries.append(
            {
                "path": rel,
                "rows": meta.num_rows,
                "bytes": os.path.getsize(full),
                "stats": _file_column_stats(meta),
                "partition": partition,
            }
        )
    return entries


def _staging_dir(path: str) -> str:
    """A fresh directory under data/ for one operation's staged files:
    invisible until a snapshot naming them commits."""
    return os.path.join(path, _DATA, uuid.uuid4().hex)


def _write_staged(
    path: str,
    df: DataFrame,
    out_dir: str,
    pcols: list[str] | tuple = (),
    partition: str = "",
) -> list[dict[str, Any]]:
    """The one Spark write of staged data files: write ``df`` as parquet
    under ``out_dir`` (Hive-style subdirs per ``pcols``) and return the
    manifest entries of what it wrote. The directory is walked
    recursively; each file's partition is ``partition`` joined with its
    subdirectory under ``out_dir``."""
    df.write.partitionBy(*pcols).parquet(out_dir, mode="errorifexists")
    entries = []
    for root, dirs, names in os.walk(out_dir):
        dirs.sort()
        sub = os.path.normpath(
            os.path.join(partition, os.path.relpath(root, start=out_dir))
        )
        entries += _entries_for_files(
            path,
            [
                os.path.relpath(os.path.join(root, n), start=path)
                for n in sorted(names)
                if n.endswith(".parquet")
            ],
            "" if sub == "." else sub,
        )
    return entries


def _stage_table_write(
    path: str,
    df: DataFrame,
    out_dir: str,
    partition_by: list[str] | None,
    sort_by: list[str] | None,
) -> list[dict[str, Any]]:
    """Stage ``df`` under the table's partition spec and sort order (the
    write of ``append``, ``branch_append`` and ``merge_by_key``'s
    inserts)."""
    pcols: list[str] = []
    if partition_by:
        df, pcols = _partition_columns(df, partition_by)
    if sort_by:
        df = _apply_sort_order(df, sort_by, pcols)
    return _write_staged(path, df, out_dir, pcols)


def _stage_group_rewrite(
    spark: SparkSession,
    path: str,
    snap: dict[str, Any],
    group: list[dict[str, Any]],
    root: str,
    part: str,
    keep=None,
    target_bytes: int = 512 << 20,
    zorder_by: list[str] | None = None,
) -> list[dict[str, Any]]:
    """Stage the rewrite of one partition group of ``snap``'s files into
    ``root``/``part``: their rows (``keep(df)`` = the survivors) as
    ~``target_bytes`` files that keep the table sort order, or a z-order
    over ``zorder_by``. The rewrite of ``compact``, ``delete_where``,
    ``rewrite_deletes`` and ``merge_by_key``'s survivors. Rows are read
    under the snapshot schema: files may predate an add-column evolution,
    and the rewritten ones must carry the full column set."""
    df = _read_files(
        spark, snap, [os.path.join(path, e["path"]) for e in group]
    )
    if keep is not None:
        df = keep(df)
    sort_order = snap.get("sort_order") or []
    n = max(1, -(-sum(e["bytes"] for e in group) // target_bytes))
    if zorder_by:
        # Z-order rewrite (Iceberg's rewrite_data_files sort strategy
        # with a z-order): multi-column clustering so manifest-stat
        # pruning is selective on EVERY z-ordered column at once —
        # a linear sort gives a point lookup one selective dimension,
        # a z-order gives a d-dimensional box query ~O(files^(1-1/d))
        df = df.withColumn("_z", _zvalue_col(df, zorder_by)).repartitionByRange(
            n, "_z"
        ).sortWithinPartitions("_z").drop("_z")
    elif sort_order:  # a rewrite must not undo the table sort order
        df = df.repartitionByRange(n, *sort_order).sortWithinPartitions(
            *sort_order
        )
    else:
        df = df.repartition(n)
    out_dir = os.path.join(root, part) if part else root
    return _write_staged(path, df, out_dir, partition=part)


def _prune_entries(
    entries: list[dict[str, Any]], where: dict[str, tuple] | None
) -> list[dict[str, Any]]:
    """Manifest-level file skipping: keep entries whose [min, max] range
    intersects every requested column range. ``where`` maps column ->
    (lo, hi) (either bound None = unbounded; datetime bounds allowed).
    A file without stats for a requested column is KEPT — pruning is an
    optimization, never a correctness filter; the caller still applies
    the real predicate to the scanned rows."""
    if not where:
        return entries
    bounds = {
        c: (_stat_value(lo), _stat_value(hi)) for c, (lo, hi) in where.items()
    }
    kept = []
    for e in entries:
        stats = e.get("stats") or {}
        drop = False
        for c, (lo, hi) in bounds.items():
            if c not in stats:
                continue
            fmin, fmax = stats[c]
            try:
                if (hi is not None and fmin > hi) or (
                    lo is not None and fmax < lo
                ):
                    drop = True
                    break
            except TypeError:  # bound/stat type mismatch: cannot prune
                continue
        if not drop:
            kept.append(e)
    return kept


def _partition_columns(df: DataFrame, spec: list[str]):
    """Hidden-partitioning transforms (Iceberg's partition spec): each
    spec entry is ``col`` (identity), ``days(col)`` or ``bucket(N, col)``.
    Returns (df with derived ``p_*`` columns appended, derived names).
    The derived columns exist ONLY as directory names — Spark's
    partitionBy removes them from the data files, and reads never select
    them (reads plan against the snapshot schema) — while the ORIGINAL
    columns stay in the files, so a partitioned table reads identically
    to an unpartitioned one. The win is layout: files become
    single-partition-value, which turns the footer-stats file skipping
    from "nothing prunable" (every file spans every value) into
    "skip everything outside the requested value/window"."""
    import re

    from pyspark.sql import functions as F

    names = []
    for s in spec:
        m = re.fullmatch(r"\s*days\(\s*(\w+)\s*\)\s*", s)
        if m:
            name = f"p_{m.group(1)}_day"
            df = df.withColumn(
                name, F.date_format(F.col(m.group(1)), "yyyy-MM-dd")
            )
            names.append(name)
            continue
        m = re.fullmatch(r"\s*bucket\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*", s)
        if m:
            n, col = int(m.group(1)), m.group(2)
            name = f"p_{col}_b{n}"
            df = df.withColumn(name, F.pmod(F.xxhash64(F.col(col)), F.lit(n)))
            names.append(name)
            continue
        m = re.fullmatch(r"\s*(\w+)\s*", s)
        if not m:
            raise ValueError(f"unsupported partition transform: {s!r}")
        name = f"p_{m.group(1)}"
        df = df.withColumn(name, F.col(m.group(1)))
        names.append(name)
    return df, names


def _evolve_schema(table_schema, writer_schema):
    """Union-by-name schema evolution (Iceberg's add-column semantics):
    the committed table schema keeps every existing column in place and
    appends the writer's NEW columns (nullable — older files read as
    null for them). A writer may omit columns (its files read as null
    there) but may not re-type one: that raises SchemaConflict, because
    the union'd files would no longer be readable under one schema."""
    from pyspark.sql.types import StructField, StructType

    by_name = {f.name: f for f in table_schema.fields}
    for f in writer_schema.fields:
        have = by_name.get(f.name)
        if have is not None and have.dataType != f.dataType:
            raise SchemaConflict(
                f"column '{f.name}': table has {have.dataType.simpleString()}"
                f", writer has {f.dataType.simpleString()}"
            )
    new = [
        StructField(f.name, f.dataType, nullable=True)
        for f in writer_schema.fields
        if f.name not in by_name
    ]
    return StructType(list(table_schema.fields) + new)


def _apply_sort_order(df: DataFrame, sort_by: list[str], pcols: list[str]):
    """Range-cluster the written files on the table sort order (Iceberg's
    write sort-order): rows are range-partitioned on (partition columns,
    sort columns) and sorted within each task, so each data file covers a
    narrow, near-disjoint slice of the sort key. That is what turns the
    manifest min/max stats from "every file spans the whole key space —
    nothing prunable" into "a key-range read or merge touches ONE file per
    range" at 10^12 rows. Costs one extra exchange per write (the range
    partitioner's sample pass is how Spark's own sorted writes work)."""
    cols = [c for c in pcols] + [c for c in sort_by if c not in pcols]
    # explicit partition count: an implicit one is subject to AQE
    # post-shuffle coalescing, which can fold every range into one file
    # and silently destroy the disjoint-ranges property this exists for
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)


def _schema(snap: dict[str, Any]):
    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(snap["schema_json"]))


def _evolved_schema_json(snap: dict[str, Any] | None, writer_schema) -> str:
    """The schema a commit of ``writer_schema``'s rows on top of ``snap``
    records: the snapshot's schema evolved by the writer's, or the
    writer's own over an empty or schemaless snapshot."""
    if snap and snap.get("schema_json"):
        return _evolve_schema(_schema(snap), writer_schema).json()
    return writer_schema.json()


def _table_state(snap: dict[str, Any]) -> dict[str, Any]:
    """The table-describing header fields a snapshot carries forward."""
    return {
        "schema_json": snap.get("schema_json", ""),
        "partition_spec": snap.get("partition_spec", []),
        "sort_order": snap.get("sort_order", []),
    }


def _commit_snapshot(
    path: str,
    operation: str,
    own: dict[str, Any],
    added: list[dict[str, Any]] = (),
    removed: set[str] = frozenset(),
    check=None,
    header=None,
    base: dict[str, Any] | None = None,
    inherit: bool = True,
    keep_seq: bool = False,
    lineage: list[dict[str, Any]] | None = None,
    retries: int = 3,
) -> dict[str, Any]:
    """The one commit loop of the main namespace (Iceberg's optimistic
    commit). Each attempt reads the head, validates it, stamps the new
    entries' sequence number, builds the snapshot and CASes it in with
    ``_commit``. Only ``_commit``'s own CommitConflict (the head moved)
    is retried, against the new head; the data files were staged before
    the loop, so a retry re-runs only the metadata step. A validation
    failure raised inside an attempt propagates at once.

    - ``removed``: paths the snapshot drops from ``base``. Each must still
      be in the head, else CommitConflict: a rival removed a file this
      operation rewrote, and committing would resurrect replaced rows.
    - ``check(parent, head)``: the operation's own validation; raises.
    - ``added``: new entries, stamped ``seq`` = the new snapshot id — the
      data sequence number (Iceberg's data_sequence_number) that lets an
      equality delete mask only files that pre-date it. ``keep_seq``
      leaves a pre-stamped seq alone (compaction).
    - ``header(head)``: the schema_json/partition_spec/sort_order fields
      that differ from the head's.
    - ``base``: the snapshot whose manifest is edited (default the head;
      ``{}`` starts from an empty one).
    - ``own``: the summary; with ``inherit`` the head's state keys are
      carried forward (``_inherited_summary``).

    Returns the committed snapshot."""
    last: Exception | None = None
    for _ in range(max(retries, 1)):
        parent = current_snapshot_id(path)
        head = snapshot(path, parent) if parent else None
        if removed and not removed <= {e["path"] for e in head["manifest"]}:
            raise CommitConflict(
                f"{path}: {operation} candidates no longer in head {parent}"
            )
        if check is not None:
            check(parent, head)
        if not keep_seq:
            for e in added:
                e["seq"] = parent + 1
        snap = {
            "snapshot_id": parent + 1,
            "parent_id": parent,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            **_table_state(head or {}),
            **(header(head) if header is not None else {}),
            # O(delta) metadata: untouched segments are shared by ref,
            # the new entries become ONE segment (re-written per attempt)
            "manifest_list": _segments_minus_plus(
                path, head if base is None else base, removed, added
            ),
            "summary": _inherited_summary(head or {}, own) if inherit else own,
        }
        if lineage is not None:
            snap["lineage"] = lineage
        try:
            _commit(path, snap)
            return snap
        except CommitConflict as e:  # head moved: rebuild metadata, retry
            last = e
    raise last  # type: ignore[misc]


def append(
    df: DataFrame,
    path: str,
    operation: str = "append",
    summary: dict[str, Any] | None = None,
    lineage: list[dict[str, Any]] | None = None,
    retries: int = 3,
    precondition=None,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """Write ``df``'s rows as new data files and commit them as a new
    snapshot; returns the committed snapshot id.

    ``partition_by``: optional hidden-partitioning spec (see
    ``_partition_columns`` — ``col`` / ``days(col)`` / ``bucket(N, col)``)
    clustering the written files by partition value. The spec is recorded
    in the snapshot and INHERITED by later appends that do not pass one
    (Iceberg's table-level spec: a corpus tick appending to a
    days(warc_ts)-partitioned pages table keeps the dump layout without
    knowing about it). Maintenance rewrites preserve the clustering by
    grouping on each file's recorded partition.

    operation='append' unions the new files with the parent manifest;
    operation='overwrite' makes the new files the whole table. Data files
    are written exactly once — a CAS conflict retries only the metadata
    step against the new head (Iceberg's optimistic retry). At production
    file counts the flat ``manifest`` list becomes a manifest-list tree
    (Iceberg's two-level layout); the commit protocol is unchanged.

    ``precondition``: optional ``(path, parent_sid) -> bool`` validated
    against the head IMMEDIATELY before each commit attempt and
    re-validated on every CAS retry — since the hard-link CAS succeeds
    only if NO snapshot intervened after the check, a commit that lands
    is guaranteed to satisfy the precondition against its true parent
    (Iceberg's validate-on-conflict). On failure raises
    PreconditionFailed; nothing is committed, the written data files stay
    invisible orphans (same crash semantics as a dead writer).
    """
    if operation == "append" and (partition_by is None or sort_by is None):
        head_now = current_snapshot_id(path)
        if head_now:
            head_snap = snapshot(path, head_now)
            if partition_by is None:  # table-level spec inheritance
                partition_by = head_snap.get("partition_spec")
            if sort_by is None:  # table-level sort-order inheritance
                sort_by = head_snap.get("sort_order")
    new_files = _stage_table_write(
        path, df, _staging_dir(path), partition_by, sort_by
    )
    return _commit_new_files(
        path,
        new_files,
        df.schema,
        operation=operation,
        summary=summary,
        lineage=lineage,
        retries=retries,
        precondition=precondition,
        partition_by=partition_by,
        sort_by=sort_by,
    )


def _commit_new_files(
    path: str,
    new_files: list[dict[str, Any]],
    writer_schema,
    operation: str = "append",
    summary: dict[str, Any] | None = None,
    lineage: list[dict[str, Any]] | None = None,
    retries: int = 3,
    precondition=None,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """The metadata half of ``append``: commit already-written (staged,
    invisible) data files as a new snapshot through ``_commit_snapshot``.
    Shared by ``append``, the ice extraction sink and the Python
    DataSource writers (``ice_datasource``), whose executors write the
    files and ship their paths back as commit messages — the same split
    Iceberg's Spark writer uses (tasks write, the driver commits); build
    ``new_files`` with ``_entries_for_files``. 'append' adds to the head's
    files and evolves its schema; any other operation makes ``new_files``
    the whole table under ``writer_schema``. The summary is ``summary``
    plus ``n_new_files``/``n_new_rows``, nothing inherited."""

    def check(parent: int, _head) -> None:
        if precondition is not None and not precondition(path, parent):
            raise PreconditionFailed(
                f"{path}: append precondition failed at head {parent}"
            )

    def header(head) -> dict[str, Any]:
        return {
            "schema_json": _evolved_schema_json(head, writer_schema)
            if operation == "append"
            else writer_schema.json(),
            "partition_spec": partition_by or [],
            "sort_order": sort_by or [],
        }

    own = dict(summary or {}, n_new_files=len(new_files),
               n_new_rows=sum(e["rows"] for e in new_files))
    return _commit_snapshot(
        path, operation, own, added=new_files, check=check, header=header,
        base=None if operation == "append" else {}, inherit=False,
        lineage=lineage, retries=retries,
    )["snapshot_id"]


def overwrite(df: DataFrame, path: str, **kw: Any) -> int:
    return append(df, path, operation="overwrite", **kw)


def rollback(path: str, to_snapshot_id: int) -> int:
    """Commit a NEW snapshot whose file list equals an old snapshot's —
    the table's current state moves back without rewriting history."""
    old = snapshot(path, to_snapshot_id)
    # time travel shares segments: a rollback is a ref copy
    return _commit_snapshot(
        path, "rollback", {"rolled_back_to": to_snapshot_id}, base=old,
        header=lambda _head: _table_state(old), inherit=False,
    )["snapshot_id"]


def read(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    asof_ms: int | None = None,
    where: dict[str, tuple] | None = None,
) -> DataFrame:
    """Committed-state read: exactly the files in the chosen snapshot's
    manifest — uncommitted/orphaned data files are invisible by
    construction. ``snapshot_id`` / ``asof_ms`` select historical states
    (time travel).

    ``where`` — optional column->(lo, hi) ranges for MANIFEST-LEVEL file
    skipping (Iceberg's scan planning against lower_bounds/upper_bounds):
    files whose footer min/max cannot intersect the range are dropped
    driver-side, before Spark ever lists them — at 10^12 rows the
    difference between 'scan one crawl window' and 'open every file's
    footer'. Pruning is conservative (stat-less files are kept); callers
    still apply the real row predicate — parquet footer pushdown then
    handles the kept files' row groups."""
    if asof_ms is not None:
        sid = 0
        for h in history(path):
            if h["timestamp_ms"] <= asof_ms:
                sid = h["snapshot_id"]
        if sid == 0:
            raise NoSuchSnapshot(f"{path}: no snapshot at or before {asof_ms}")
        snapshot_id = sid
    snap = snapshot(path, snapshot_id)
    return _scan_entries(spark, path, snap, where)


def _read_files(spark: SparkSession, snap: dict[str, Any], files: list[str]):
    """Scan data files under the SNAPSHOT's schema (Iceberg reads plan
    against the table schema, not a sampled file's): after add-column
    evolution, older files yield null for the new columns; after a writer
    omitted a column, its files yield null there — without this, Spark
    infers the schema from one arbitrary file and silently drops the
    others' columns."""
    if snap.get("schema_json"):
        return spark.read.schema(_schema(snap)).parquet(*files)
    return spark.read.parquet(*files)


def _empty_read(spark: SparkSession, snap: dict[str, Any]) -> DataFrame:
    """A read of no rows under the snapshot's schema."""
    schema = _schema(snap) if snap.get("schema_json") else "url string"
    return spark.createDataFrame([], schema)


def read_incremental(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    where: dict[str, tuple] | None = None,
    skip_delete_snapshots: bool = False,
) -> DataFrame:
    """Incremental append scan (Iceberg's ``incremental read``): exactly
    the rows committed AFTER ``from_snapshot_id`` up to and including
    ``to_snapshot_id`` (default: current head).

    This is how a recurring crawl-processing job tails the pages table:
    each run records the snapshot it processed through, and the next run
    reads only the delta — at 10^12 rows the difference between re-scanning
    the corpus and scanning one crawl's worth of new files. The delta is
    computed driver-side per snapshot (metadata only, no data I/O), then
    read as a plain distributed parquet scan of just the new files.

    Semantics match Iceberg's incremental append scan: the delta is the
    union of each APPEND snapshot's own added files over the range —
    NOT a set-difference of the endpoint manifests. A 'replace' snapshot
    (compaction — row-preserving rewrite) adds no logical rows and is
    skipped, so routine table maintenance never breaks a tailing job; the
    rewritten-away small files stay on disk until ``expire_snapshots``
    drops the appends that reference them, which keeps this scan valid
    over any un-expired range. overwrite/rollback in the range change row
    membership, so the scan raises ValueError rather than return a wrong
    delta (Iceberg refuses those ranges too).

    ``skip_delete_snapshots`` (Iceberg's Spark streaming option
    ``streaming-skip-delete-snapshots``): a 'delete' snapshot in the
    range is SKIPPED instead of refused — nothing it added is delivered
    (an equality/positional delete adds only a mask file; a COW delete or
    fold adds only rewritten copies of already-delivered rows), so the
    delta stays exactly the appended rows. Without this, one takedown on
    a pages table permanently halts every tailing consumer whose
    watermark predates it. The semantic trade is explicit: a tailing
    consumer never RETRACTS rows it already processed — downstream
    deletion propagation is ``read_changelog``'s job, not the append
    tail's.
    """
    head = current_snapshot_id(path)
    to_sid = head if to_snapshot_id is None else to_snapshot_id
    if from_snapshot_id > to_sid:
        raise NoSuchSnapshot(
            f"{path}: from {from_snapshot_id} is after to {to_sid}"
        )
    files: list[str] = []
    for sid in range(from_snapshot_id + 1, to_sid + 1):
        snap = snapshot(path, sid)
        op = snap["operation"]
        if op == "replace":
            continue
        if op == "delete" and skip_delete_snapshots:
            continue
        if op != "append":
            raise ValueError(
                f"{path}: snapshot {sid} is '{op}' — incremental scan is "
                "only defined over append/replace history"
                + (
                    " (pass skip_delete_snapshots=True to tail across "
                    "takedowns without re-delivery)"
                    if op == "delete"
                    else ""
                )
            )
        parent_paths = (
            {e["path"] for e in snapshot(path, snap["parent_id"])["manifest"]}
            if snap["parent_id"]
            else set()
        )
        added = [e for e in snap["manifest"] if e["path"] not in parent_paths]
        files.extend(
            os.path.join(path, e["path"])
            for e in _prune_entries(added, where)
        )
    to_snap = snapshot(path, to_sid)
    if not files:
        return _empty_read(spark, to_snap)
    return _read_files(spark, to_snap, files)


def read_changelog(
    spark: SparkSession,
    path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Row-level change-data-capture scan (Iceberg's changelog view):
    every LOGICAL row change committed after ``from_snapshot_id`` up to
    ``to_snapshot_id``, as the table's columns plus ``_change_type``
    ('insert' | 'delete') and ``_commit_snapshot_id``. Unlike
    ``read_incremental`` (append-only, refuses membership changes), this
    reads through deletes, merges, and overwrites — the feed a downstream
    index or derived corpus uses to stay in sync without re-scanning.

    Per snapshot, the diff is computed over TOUCHED FILES only (delta-
    sized, never table-sized): inserts = added-files rows exceptAll
    removed-files rows; deletes = the reverse — so a merge emits the old
    row versions as deletes and the new as inserts, while rewritten-but-
    unchanged survivor rows cancel out. Physical row movement emits
    nothing: compaction ('replace') and ``rewrite_deletes`` (masks were
    already reported) are skipped. A merge-on-read ``delete_keys``
    snapshot emits exactly the parent-state rows its keys masked (stacked
    deletes of an already-masked key re-report nothing, because the
    parent read already applies earlier masks).
    """
    from pyspark.sql import functions as F

    head = current_snapshot_id(path)
    to_sid = head if to_snapshot_id is None else to_snapshot_id
    if from_snapshot_id > to_sid:
        raise NoSuchSnapshot(
            f"{path}: from {from_snapshot_id} is after to {to_sid}"
        )
    parts: list[DataFrame] = []

    def _tag(df: DataFrame, kind: str, sid: int) -> DataFrame:
        return df.withColumn("_change_type", F.lit(kind)).withColumn(
            "_commit_snapshot_id", F.lit(sid)
        )

    for sid in range(from_snapshot_id + 1, to_sid + 1):
        snap = snapshot(path, sid)
        summary = snap.get("summary", {})
        op = snap["operation"]
        if op in ("replace", "branch") or "folded_delete_files" in summary:
            continue
        parent_snap = (
            snapshot(path, snap["parent_id"]) if snap["parent_id"] else None
        )
        if op == "delete" and "delete_key" in summary:
            # MOR equality delete: masked rows = parent logical state
            # semi-joined with the new delete file's keys (every parent
            # entry pre-dates this delete by construction)
            key = summary["delete_key"]
            parent_files = (
                {e["path"] for e in parent_snap["manifest"]}
                if parent_snap
                else set()
            )
            new_dels = [
                e
                for e in _split_entries(snap["manifest"])[1]
                if e["path"] not in parent_files
            ]
            if not new_dels or parent_snap is None:
                continue
            keys_df = spark.read.parquet(
                *[os.path.join(path, e["path"]) for e in new_dels]
            ).select(key).distinct()
            masked = _scan_entries(spark, path, parent_snap, None).join(
                F.broadcast(keys_df), key, "left_semi"
            )
            parts.append(_tag(masked, "delete", sid))
            continue
        if op == "delete" and "n_pos_deletes" in summary:
            # MOR positional delete: masked rows = the named files' rows
            # at the masked ordinals. scrub_where never re-masks an
            # already-masked position, so these are exactly the rows
            # visible in the parent state.
            parent_files = (
                {e["path"] for e in parent_snap["manifest"]}
                if parent_snap
                else set()
            )
            new_dels = [
                e
                for e in _split_entries(snap["manifest"])[1]
                if e["path"] not in parent_files
            ]
            if not new_dels or parent_snap is None:
                continue
            named = sorted(_pos_named_files(new_dels))
            pos_df = spark.read.parquet(
                *[os.path.join(path, e["path"]) for e in new_dels]
            ).select(
                F.col("file_path").alias("_rel"), F.col("pos").alias("_pos")
            ).distinct()
            raw = _read_files(
                spark, snap, [os.path.join(path, p) for p in named]
            )
            cols = raw.columns
            masked = (
                _with_file_pos(raw)
                .join(F.broadcast(pos_df), ["_rel", "_pos"], "left_semi")
                .select(*cols)
            )
            parts.append(_tag(masked, "delete", sid))
            continue
        parent_data = (
            _split_entries(parent_snap["manifest"])[0] if parent_snap else []
        )
        child_data = _split_entries(snap["manifest"])[0]
        parent_paths = {e["path"] for e in parent_data}
        child_paths = {e["path"] for e in child_data}
        removed = [e for e in parent_data if e["path"] not in child_paths]
        added = [e for e in child_data if e["path"] not in parent_paths]
        rm_df = (
            _read_files(
                spark, snap, [os.path.join(path, e["path"]) for e in removed]
            )
            if removed
            else None
        )
        ad_df = (
            _read_files(
                spark, snap, [os.path.join(path, e["path"]) for e in added]
            )
            if added
            else None
        )
        if rm_df is not None and ad_df is not None:
            parts.append(_tag(ad_df.exceptAll(rm_df), "insert", sid))
            parts.append(_tag(rm_df.exceptAll(ad_df), "delete", sid))
        elif ad_df is not None:
            parts.append(_tag(ad_df, "insert", sid))
        elif rm_df is not None:
            parts.append(_tag(rm_df, "delete", sid))
    if not parts:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        to_snap = snapshot(path, to_sid) if to_sid else None
        fields = (
            _schema(to_snap).fields
            if to_snap and to_snap.get("schema_json")
            else []
        )
        return spark.createDataFrame(
            [],
            StructType(
                list(fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_snapshot_id", LongType()),
                ]
            ),
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def propagate_takedowns(
    spark: SparkSession,
    src_table: str,
    dst_table: str,
    key: str = "url",
    run_id: str = "propagate0",
) -> dict[str, Any]:
    """Propagate row deletions from ``src_table`` to a DERIVED table —
    the downstream half of the takedown flow (a GDPR erasure on the pages
    table must also erase the extractions/kept-corpus rows built from
    those pages, which ``skip_delete_snapshots`` tailing intentionally
    does not do).

    Incremental and exactly-once-per-deletion: the destination's own
    snapshot summaries record the source snapshot propagated through
    (``takedown_source_snapshot_id``); each run diffs only the 'delete'
    snapshots committed since — equality takedowns, positional scrubs,
    and COW ``delete_where`` all propagate (their deleted rows come from
    per-snapshot ``read_changelog`` diffs, delta-sized), while merges /
    overwrites / folds are excluded by construction (a recrawl upsert
    must NOT take down the url downstream, and a fold re-reports
    nothing). The deletions land on the derived table as ONE merge-on-
    read ``delete_keys`` commit carrying the advanced watermark —
    O(metadata) on a 100 TB derived table, folded later by its own
    ``rewrite_deletes``/``--maintain``.
    """
    from pyspark.sql import functions as F

    head = current_snapshot_id(src_table)
    last = _summary_watermark(dst_table, "takedown_source_snapshot_id")
    noop = {
        "propagated_keys": 0,
        "source_snapshot_id": last,
        "snapshot_id": None,
    }
    if head <= last:
        return noop
    del_sids = []
    for sid in range(last + 1, head + 1):
        try:
            snap = snapshot(src_table, sid)
        except NoSuchSnapshot:  # expired: its deletions are unrecoverable
            continue
        if snap["operation"] == "delete" and "folded_delete_files" not in snap.get(
            "summary", {}
        ):
            del_sids.append(sid)
    if not del_sids:
        return noop
    keys_df = None
    for sid in del_sids:  # per-snapshot diffs: each is delta-sized
        try:
            part = (
                read_changelog(spark, src_table, sid - 1, sid)
                .where(F.col("_change_type") == "delete")
                .select(key)
            )
        except NoSuchSnapshot:  # parent expired: diff unrecoverable
            continue
        keys_df = part if keys_df is None else keys_df.unionByName(part)
    if keys_df is None:
        return noop
    s = delete_keys(
        spark,
        dst_table,
        keys_df.distinct(),
        key=key,
        summary={
            "run_id": run_id,
            "takedown_source_table": src_table,
            "takedown_source_snapshot_id": head,
        },
    )
    # None only for a destination without snapshots or an empty staged key
    # file; keys that match no destination row still commit a delete snapshot
    if s is None:
        return noop
    return {
        "propagated_keys": s["n_delete_keys"],
        "source_snapshot_id": head,
        "snapshot_id": s["snapshot_id"],
    }


def _branch_referenced_files(path: str) -> set[str]:
    """Data files referenced by any LIVE branch snapshot — staged,
    unpublished work that vacuum/expiry must never reclaim (a dropped
    branch's files do become orphans; that's ``drop_branch``'s contract)."""
    referenced: set[str] = set()
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        return referenced
    for fn in names:
        if not (fn.startswith("branch-") and fn.endswith(".json")):
            continue
        try:
            with open(os.path.join(_meta_dir(path), fn)) as f:
                snap = _materialize(path, json.load(f))
        except (OSError, ValueError):
            continue
        for e in snap.get("manifest", []):
            referenced.add(os.path.normpath(os.path.join(path, e["path"])))
    return referenced


def _branch_referenced_segments(path: str) -> set[str]:
    """Manifest-segment files any live branch snapshot references."""
    refs: set[str] = set()
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        return refs
    for fn in names:
        if not (fn.startswith("branch-") and fn.endswith(".json")):
            continue
        try:
            with open(os.path.join(_meta_dir(path), fn)) as f:
                raw = json.load(f)
        except (OSError, ValueError):
            continue
        for ref in raw.get("manifest_list", []):
            refs.add(os.path.normpath(os.path.join(path, ref["path"])))
    return refs


def _referenced_segments(path: str) -> set[str]:
    """Manifest-segment files any retained snapshot (main or branch)
    references — everything else under metadata/man-*.json is garbage
    from aborted commit retries."""
    refs: set[str] = set()
    for sid in range(1, current_snapshot_id(path) + 1):
        try:
            raw_refs = snapshot(path, sid).get("manifest_list", [])
        except NoSuchSnapshot:
            continue
        for ref in raw_refs:
            refs.add(os.path.normpath(os.path.join(path, ref["path"])))
    return refs | _branch_referenced_segments(path)


def _referenced_files(path: str) -> set[str]:
    """Every data file any RETAINED snapshot (main or branch) references
    (normalized absolute paths)."""
    referenced: set[str] = set()
    for sid in range(1, current_snapshot_id(path) + 1):
        try:
            snap = snapshot(path, sid)
        except NoSuchSnapshot:  # expired
            continue
        for e in snap["manifest"]:
            referenced.add(os.path.normpath(os.path.join(path, e["path"])))
    return referenced | _branch_referenced_files(path)


def orphan_data_files(path: str) -> list[str]:
    """Data files no retained snapshot references (crashed writers, aborted
    commits, expired history) — the vacuum candidate list. Safe to delete
    once no reader can still hold the head they were staged under."""
    referenced = _referenced_files(path)
    orphans = []
    data_root = os.path.join(path, _DATA)
    for root, _dirs, names in os.walk(data_root):
        for n in names:
            full = os.path.normpath(os.path.join(root, n))
            if n.endswith(".parquet") and full not in referenced:
                orphans.append(full)
    return sorted(orphans)


# --------------------------- table maintenance -----------------------------
#
# The corpus production loop appends one small batch per tick; at 10^12
# rows the read side dies of the small-files problem long before anything
# else. These three are the Iceberg maintenance triad (public API analogs:
# rewrite_data_files, expire_snapshots, remove_orphan_files) expressed on
# this layer's commit protocol — compaction is just another optimistic
# commit, so it is safe to run concurrently with live writers.


def _sample_boundaries(df: DataFrame, col: str, n_cuts: int) -> list[Any]:
    """Evenly spaced cut points for ``col`` from a bounded driver-side
    sample (the RangePartitioner recipe: reservoir-size sample, sort,
    pick quantiles) — works for any orderable type, strings included,
    where ``approxQuantile`` is numeric-only."""
    from pyspark.sql import functions as F

    total = df.count()
    if total == 0:
        return []
    frac = min(1.0, 65536.0 / total)
    vals = sorted(
        r[0]
        for r in df.select(col).where(F.col(col).isNotNull())
        .sample(False, frac, seed=7).collect()
    )
    if not vals:
        return []
    cuts = []
    for i in range(1, n_cuts + 1):
        v = vals[min(len(vals) - 1, (i * len(vals)) // (n_cuts + 1))]
        if not cuts or v > cuts[-1]:
            cuts.append(v)
    return cuts


def _zvalue_col(df: DataFrame, cols: list[str], bits: int = 8):
    """Z-order (Morton) value over ``cols``: each column is mapped to a
    ``bits``-bit bucket id by sampled quantile boundaries (rank-space
    normalization, so skew and type don't matter), then the bucket bits
    are interleaved. Entirely codegen expressions — the per-row cost is
    a literal-array fold plus shifts, no Python, no shuffle."""
    from pyspark.sql import functions as F

    n = len(cols)

    def _bucket(c: str):
        bnds = _sample_boundaries(df, c, (1 << bits) - 1)
        if not bnds:
            return F.lit(0)
        arr = F.array(*[F.lit(v) for v in bnds])
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, x: acc + F.when(F.col(c) >= x, 1).otherwise(0),
        )

    buckets = [_bucket(c) for c in cols]
    z = F.lit(0).cast("long")
    for k in range(bits):
        for i, b in enumerate(buckets):
            bit = F.shiftright(b, k).bitwiseAND(F.lit(1)).cast("long")
            z = z + F.shiftleft(bit, k * n + i)
    return z


def compact(
    spark: SparkSession,
    path: str,
    target_bytes: int = 512 << 20,
    small_bytes: int | None = None,
    retries: int = 3,
    zorder_by: list[str] | None = None,
) -> dict[str, Any] | None:
    """Rewrite the head snapshot's small data files (< ``small_bytes``,
    default ``target_bytes``) into ~``target_bytes`` files and commit the
    swap as a row-preserving 'replace' snapshot (Iceberg's
    rewrite_data_files). Returns the commit summary, or None when fewer
    than two files qualify (nothing to gain).

    Concurrency: the rewrite is read+write on the candidate files only;
    the commit re-bases onto whatever head exists at commit time, keeping
    every file the candidates' snapshot did not cover — a concurrent
    append's files survive untouched. If a rival writer REMOVED a
    candidate (overwrite/rollback/another compaction), the commit aborts
    with CommitConflict instead of resurrecting replaced rows. Readers are
    never disturbed: time travel to pre-compaction snapshots still works
    because the small files stay on disk until ``expire_snapshots``.

    The replace snapshot INHERITS the parent head's state-describing
    summary keys (everything compaction does not itself set): a
    row-preserving rewrite leaves the logical table state unchanged, so
    state carried in summaries — e.g. the corpus loop's
    ``source_snapshot_id`` watermark — must survive it. Without this, a
    compaction followed by ``expire_snapshots(keep_last=1)`` would drop
    every watermark-bearing snapshot and a tailing consumer would rewind
    to genesis.
    """
    if current_snapshot_id(path) == 0:
        return None
    base_snap = snapshot(path)
    small = small_bytes if small_bytes is not None else target_bytes
    # bin-pack WITHIN each partition (Iceberg's rewrite keeps the spec):
    # merging across partition values would destroy the clustering that
    # makes file skipping selective. With pending equality deletes,
    # additionally only files with the SAME applicable-delete-set merge
    # (the rewrite is delete-OBLIVIOUS — masked rows are copied and stay
    # masked because the compacted file inherits the group's sequence;
    # mixing sets would change which deletes apply to whose rows).
    # Delete files themselves are never compaction candidates.
    data_entries, dels = _split_entries(base_snap["manifest"])
    eq_dels, pos_dels = _eq_pos(dels)
    # positional deletes address rows by (file, ordinal): rewriting a
    # named file would silently invalidate the addresses, so pos-masked
    # files are never compaction candidates (fold with rewrite_deletes
    # first — compaction picks them up afterwards)
    pos_named = _pos_named_files(pos_dels)
    groups: dict[tuple[str, tuple[str, ...]], list[dict[str, Any]]] = {}
    for e in data_entries:
        if e["bytes"] < small and e["path"] not in pos_named:
            gkey = (e.get("partition", ""), _applicable_deletes(eq_dels, e))
            groups.setdefault(gkey, []).append(e)
    groups = {g: es for g, es in groups.items() if len(es) >= 2}
    if not groups:
        return None
    cand = [e for es in groups.values() for e in es]
    cand_paths = {e["path"] for e in cand}
    n_rows_in = sum(e["rows"] for e in cand)
    data_dir = _staging_dir(path)
    new_files: list[dict[str, Any]] = []
    for gi, ((part, _app), es) in enumerate(sorted(groups.items())):
        listed = _stage_group_rewrite(
            spark, path, base_snap, es, os.path.join(data_dir, f"g{gi:04d}"),
            part, target_bytes=target_bytes, zorder_by=zorder_by,
        )
        # the merged file inherits the group's OLDEST sequence: safe
        # because members share an applicable-delete-set (no existing
        # delete distinguishes them) and future deletes post-date all
        gseq = min(int(e.get("seq", 0)) for e in es)
        for le in listed:
            le["seq"] = gseq
        new_files.extend(listed)
    n_rows_out = sum(e["rows"] for e in new_files)
    if n_rows_out != n_rows_in:  # row-preservation invariant, pre-commit
        raise RuntimeError(
            f"{path}: compaction rewrote {n_rows_in} rows into {n_rows_out}"
        )
    own = {
        "compacted_files": len(cand),
        "compacted_bytes": sum(e["bytes"] for e in cand),
        "n_new_files": len(new_files),
        "n_new_rows": 0,  # row-preserving: no logical rows added
        "rewritten_rows": n_rows_out,
    }
    if zorder_by:
        own["zorder_by"] = list(zorder_by)
    snap = _commit_snapshot(
        path, "replace", own, added=new_files, removed=cand_paths,
        keep_seq=True, retries=retries,
    )
    return snap["summary"] | {"snapshot_id": snap["snapshot_id"]}


# summary keys that DESCRIBE AN OPERATION rather than table state: they
# must never inherit into later snapshots. Inheriting them poisons every
# consumer that dispatches on a snapshot's own keys — most concretely,
# read_changelog would skip every delete committed after the first fold
# (inherited "folded_delete_files") and misroute positional deletes to
# the equality branch (inherited "delete_key").
_OP_SUMMARY_KEYS = frozenset({
    "n_new_files", "n_new_rows",
    "compacted_files", "compacted_bytes", "rewritten_rows", "zorder_by",
    "deleted_rows", "rewritten_files", "condition",
    "delete_key", "n_delete_keys",
    "n_pos_deletes", "pos_files",
    "folded_delete_files",
    "merge_key", "replaced_rows", "inserted_rows",
    "dropped_stale_delta_rows",
    "writer", "stream_batch_id", "stream_query",
    "published_branch", "published_seq",
})


def _inherited_summary(head: dict[str, Any], own: dict[str, Any]) -> dict[str, Any]:
    """STATE-describing summary keys carried forward through an operation
    that preserves them (compaction preserves all state; deletion removes
    rows but e.g. a tailing watermark still holds) — operation-describing
    keys (``_OP_SUMMARY_KEYS``) never inherit. Own keys win."""
    return {
        k: v
        for k, v in head.get("summary", {}).items()
        if k not in own and k not in _OP_SUMMARY_KEYS
    } | own


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str,
    prune: dict[str, tuple] | None = None,
    retries: int = 3,
) -> dict[str, Any] | None:
    """Copy-on-write row deletion (Iceberg's COW DELETE — the corpus
    takedown primitive: URL removal requests, PII scrub orders): rewrite
    the files containing matching rows WITHOUT them and commit the swap as
    a 'delete' snapshot. ``condition`` is a SQL boolean expression over
    the table's columns; ``prune`` optionally narrows the candidate files
    via manifest stats (e.g. ``{"url": (u, u)}`` for a single-url takedown
    touches only files whose url range covers it) — files outside the
    prune ranges provably hold no matches and are left byte-untouched.

    Returns the commit summary, or None when nothing matched (no commit —
    a no-op takedown leaves no snapshot noise). Time travel to pre-delete
    snapshots still shows the rows (takedown COMPLETION is ``expire_
    snapshots`` + ``vacuum`` of the pre-delete history — same as Iceberg).
    Incremental scans refuse ranges containing a delete, as row membership
    changed. The commit re-bases over concurrent appends like compaction
    and aborts with CommitConflict if a rival removed a candidate file.
    """
    if current_snapshot_id(path) == 0:
        return None
    base_snap = snapshot(path)
    _pending_delete_guard(path, base_snap, "delete_where")
    cand = _prune_entries(base_snap["manifest"], prune)
    if not cand:
        return None
    cand_paths = {e["path"] for e in cand}
    rows_in = sum(e["rows"] for e in cand)
    from pyspark.sql import functions as F

    data_dir = _staging_dir(path)
    groups: dict[str, list[dict[str, Any]]] = {}
    for e in cand:  # rewrite within partitions: clustering survives
        groups.setdefault(e.get("partition", ""), []).append(e)
    # DELETE WHERE semantics: a NULL condition keeps the row (only TRUE
    # deletes), hence the coalesce before negation
    deleted = F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
    new_files: list[dict[str, Any]] = []
    # "" (root) sorts first: its walk of data_dir lists only its own files
    # because no partition subdirectory has been written yet
    for part, es in sorted(groups.items()):
        new_files += _stage_group_rewrite(
            spark, path, base_snap, es, data_dir, part,
            keep=lambda df: df.where(~deleted),
        )
    rows_out = sum(e["rows"] for e in new_files)
    if rows_out == rows_in:  # nothing matched: drop the staged copy
        for e in new_files:
            os.remove(os.path.join(path, e["path"]))
        return None
    if rows_out > rows_in:
        raise RuntimeError(
            f"{path}: delete rewrote {rows_in} rows into {rows_out}"
        )
    own = {
        "deleted_rows": rows_in - rows_out,
        "rewritten_files": len(cand),
        "n_new_files": len(new_files),
        "n_new_rows": 0,
        "condition": condition,
    }
    snap = _commit_snapshot(
        path, "delete", own, added=new_files, removed=cand_paths,
        retries=retries,
    )
    return snap["summary"] | {"snapshot_id": snap["snapshot_id"]}


# ------------------------ merge-on-read deletes ----------------------------
#
# Equality-delete files (Iceberg v2 MOR): a takedown of K urls on a 100 TB
# table writes ONE tiny parquet of key values and commits in O(metadata) —
# no data file is rewritten. Readers anti-join the delete keys against the
# data files the delete post-dates; ``rewrite_deletes`` is the maintenance
# fold that materializes the deletes copy-on-write and drops the delete
# files. Applicability follows Iceberg's sequence-number rule: a delete
# with sequence d masks rows only in data files with sequence < d, so an
# append AFTER the takedown can legitimately re-add a key. Entries written
# before this feature carry no "seq" and read as 0 (they pre-date every
# possible delete — correct). Branch-staged entries carry seq -1 ("newer
# than any committed delete") until publish re-stamps them with the
# publish commit's id.

_EQ_DELETES = "eq-deletes"
_POS_DELETES = "pos-deletes"
_DELETE_KINDS = (_EQ_DELETES, _POS_DELETES)
# table-relative path of a scanned file, derived from whatever URI/path
# rendering the executor's filesystem produces — the LAST '/data/' wins,
# so masking never depends on how the caller spelled the table path (and
# survives relocating the table directory)
_REL_FROM_URI = r"^.*/(data/.*)$"


def _split_entries(
    manifest: list[dict[str, Any]],
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    data = [e for e in manifest if e.get("content") not in _DELETE_KINDS]
    dels = [e for e in manifest if e.get("content") in _DELETE_KINDS]
    return data, dels


def _eq_pos(
    dels: list[dict[str, Any]],
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    eq = [d for d in dels if d["content"] == _EQ_DELETES]
    pos = [d for d in dels if d["content"] == _POS_DELETES]
    return eq, pos


def _pos_named_files(pos_dels: list[dict[str, Any]]) -> set[str]:
    named: set[str] = set()
    for d in pos_dels:
        named.update(d.get("files", []))
    return named


def _with_file_pos(df: DataFrame) -> DataFrame:
    """Attach (_rel, _pos) row-address columns to a parquet-scan
    DataFrame: the table-relative data-file path and the row's ordinal in
    it (Spark's ``_metadata`` hidden columns — free, no shuffle)."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "_rel", F.regexp_extract(F.col("_metadata.file_path"), _REL_FROM_URI, 1)
    ).withColumn("_pos", F.col("_metadata.row_index"))


def _apply_pos_mask(
    spark: SparkSession, path: str, df: DataFrame, pos_paths
) -> DataFrame:
    """Anti-join a scan against positional delete files on the (file,
    row-ordinal) address — the merge-on-read application of Iceberg v2
    position deletes. Broadcast: delete files are tiny by construction."""
    from pyspark.sql import functions as F

    pos_df = spark.read.parquet(
        *[os.path.join(path, p) for p in pos_paths]
    ).select(
        F.col("file_path").alias("_rel"), F.col("pos").alias("_pos")
    ).distinct()
    cols = df.columns
    return (
        _with_file_pos(df)
        .join(F.broadcast(pos_df), ["_rel", "_pos"], "left_anti")
        .select(*cols)
    )


def _entry_seq(e: dict[str, Any]) -> float:
    s = e.get("seq", 0)
    return float("inf") if s == -1 else s


def _applicable_deletes(
    dels: list[dict[str, Any]], e: dict[str, Any]
) -> tuple[str, ...]:
    """Paths of the delete files that mask rows of data entry ``e``
    (sorted tuple — usable as a grouping key)."""
    es = _entry_seq(e)
    return tuple(sorted(d["path"] for d in dels if es < d["seq"]))


def _ranges_intersect(a: list[Any] | None, b: list[Any] | None) -> bool:
    """Conservative [min,max] intersection: missing stats = may intersect."""
    if not a or not b:
        return True
    try:
        return not (a[1] < b[0] or b[1] < a[0])
    except TypeError:
        return True


def _scan_entries(
    spark: SparkSession,
    path: str,
    snap: dict[str, Any],
    where: dict[str, tuple] | None,
) -> DataFrame:
    """Delete-aware snapshot scan shared by ``read`` and ``read_branch``:
    prune DATA entries by manifest stats (delete files are never pruned —
    dropping one would resurrect rows), group data files by their
    applicable delete set, anti-join each group against the broadcast
    union of its delete keys. With no pending deletes this is exactly the
    plain multi-file scan. Scale shape: the anti-join is a broadcast hash
    join (takedown lists are small by construction — ``delete_keys``
    repartitions them to one file); grouping adds no shuffle."""
    data, dels = _split_entries(snap["manifest"])
    data = _prune_entries(data, where)
    if not dels:
        files = [os.path.join(path, e["path"]) for e in data]
        return _read_files(spark, snap, files) if files else _empty_read(spark, snap)
    from pyspark.sql import functions as F

    eq_dels, pos_dels = _eq_pos(dels)
    key = eq_dels[0]["key"] if eq_dels else ""
    pos_by_file: dict[str, tuple[str, ...]] = {}
    for d in pos_dels:
        for f in d.get("files", []):
            pos_by_file[f] = tuple(
                sorted(set(pos_by_file.get(f, ())) | {d["path"]})
            )
    groups: dict[tuple[tuple[str, ...], tuple[str, ...]], list[str]] = {}
    for e in data:
        gkey = (
            _applicable_deletes(eq_dels, e),
            pos_by_file.get(e["path"], ()),
        )
        groups.setdefault(gkey, []).append(os.path.join(path, e["path"]))
    if not groups:
        return _empty_read(spark, snap)
    parts = []
    for (dpaths, ppaths), files in sorted(groups.items()):
        df = _read_files(spark, snap, files)
        if ppaths:  # position masks first: addresses are raw-file ordinals
            df = _apply_pos_mask(spark, path, df, ppaths)
        if dpaths:
            keys_df = spark.read.parquet(
                *[os.path.join(path, p) for p in dpaths]
            ).select(key).distinct()
            df = df.join(F.broadcast(keys_df), key, "left_anti")
        parts.append(df)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def _pending_delete_guard(path: str, snap: dict[str, Any], op: str) -> None:
    if any(e.get("content") in _DELETE_KINDS for e in snap["manifest"]):
        raise ValueError(
            f"{path}: {op} over pending equality-delete files would "
            "re-stamp rewritten rows past the deletes and resurrect "
            "masked keys — run rewrite_deletes() first"
        )


def delete_keys(
    spark: SparkSession,
    path: str,
    keys,
    key: str = "url",
    retries: int = 3,
    summary: dict[str, Any] | None = None,
) -> dict[str, Any] | None:
    """Merge-on-read equality delete (Iceberg v2's equality-delete file) —
    the FAST takedown primitive: commit a snapshot that masks every row
    whose ``key`` is in ``keys`` WITHOUT rewriting any data file. ``keys``
    is a list of values or a single-column DataFrame. At 10^12 rows this
    is the difference between a takedown that finishes in seconds (one
    tiny parquet + one metadata commit) and one that rewrites every file
    whose key range matches (``delete_where``, the COW path — still the
    right call when the match fraction is large).

    The mask applies to data files committed BEFORE this delete (sequence
    rule); later appends/merges of the same key are visible — takedown
    does not ban the key forever, it removes the rows that existed. All
    pending deletes on a table must share one key column. Readers pay one
    broadcast anti-join until ``rewrite_deletes`` folds the mask in;
    ``compact`` preserves masks (it groups by applicable-delete-set);
    ``delete_where``/``merge_by_key`` refuse while masks are pending.
    Incremental scans refuse ranges containing the delete (membership
    changed), same as COW deletes. Returns the commit summary, or None
    for an empty key set or an empty table.
    """
    if current_snapshot_id(path) == 0:
        return None

    def check(_parent: int, head: dict[str, Any]) -> None:
        eq_pend, pos_pend = _eq_pos(_split_entries(head["manifest"])[1])
        if pos_pend:
            raise ValueError(
                f"{path}: positional deletes are pending — one delete kind "
                "at a time (run rewrite_deletes() first)"
            )
        for d in eq_pend:
            if d["key"] != key:
                raise ValueError(
                    f"{path}: pending deletes use key {d['key']!r}; a table "
                    f"holds one equality-delete key at a time (got {key!r})"
                )

    base = snapshot(path)
    check(0, base)
    if isinstance(keys, DataFrame):
        if key not in keys.columns:
            raise ValueError(f"delete_keys DataFrame lacks column {key!r}")
        keys_df = keys.select(key).distinct()
    else:
        keys = list(keys)
        if not keys:
            return None
        from pyspark.sql.types import StructField, StructType

        if base.get("schema_json"):
            field = _schema(base)[key]
            schema = StructType([StructField(key, field.dataType, True)])
        else:
            schema = f"{key} string"
        keys_df = spark.createDataFrame([(k,) for k in keys], schema).distinct()
    # one file: the reader broadcast-joins it, never shuffles on it
    listed = _write_staged(path, keys_df.coalesce(1), _staging_dir(path))
    if not listed:
        return None
    n_keys = sum(e["rows"] for e in listed)
    for e in listed:
        e["content"] = _EQ_DELETES
        e["key"] = key
        e["n_keys"] = e["rows"]
        e["rows"] = 0  # logical table rows: a delete file adds none
    own = dict(summary or {}) | {
        "delete_key": key,
        "n_delete_keys": n_keys,
        "n_new_files": 0,
        "n_new_rows": 0,
    }
    snap = _commit_snapshot(
        path, "delete", own, added=listed, check=check, retries=retries
    )
    return snap["summary"] | {"snapshot_id": snap["snapshot_id"]}


def scrub_where(
    spark: SparkSession,
    path: str,
    condition: str,
    prune: dict[str, tuple] | None = None,
    retries: int = 3,
) -> dict[str, Any] | None:
    """Merge-on-read POSITIONAL delete (Iceberg v2's position-delete
    file): mask every row matching ``condition`` by its (data file, row
    ordinal) address — one tiny (file_path, pos) parquet + one metadata
    commit, no data file rewritten. The row-level scrub primitive when
    there is no key to delete by (``delete_keys`` needs one): 'remove the
    rows a PII audit flagged', whatever their urls.

    Addresses come from Spark's ``_metadata`` hidden columns (file path +
    row ordinal — free at scan time, no shuffle); the identifying scan is
    stats-prunable with ``prune`` like ``delete_where``. Rows already
    masked by a pending positional delete are never re-masked (stacked
    scrubs compose; the changelog reports each row once). Unlike equality
    deletes no sequence rule is needed — addresses name immutable files,
    so later appends are untouched by construction — but the two kinds
    are mutually exclusive while pending (one fold semantics at a time):
    ``delete_keys`` and ``scrub_where`` each refuse while the other kind
    pends. Readers pay one broadcast anti-join on (file, pos) until
    ``rewrite_deletes`` folds the mask; ``compact`` skips pos-masked
    files (rewriting one would invalidate its addresses);
    ``delete_where``/``merge_by_key`` refuse while masks pend. NULL
    conditions keep the row (SQL DELETE semantics). Returns the commit
    summary, or None when nothing matches.
    """
    if current_snapshot_id(path) == 0:
        return None
    from pyspark.sql import functions as F

    def no_eq_pending(snap: dict[str, Any]) -> None:
        if _eq_pos(_split_entries(snap["manifest"])[1])[0]:
            raise ValueError(
                f"{path}: equality deletes are pending — one delete kind "
                "at a time (run rewrite_deletes() first)"
            )

    base = snapshot(path)
    no_eq_pending(base)
    data, dels = _split_entries(base["manifest"])
    pos_pend = _eq_pos(dels)[1]
    cand = _prune_entries(data, prune)
    if not cand:
        return None
    df = _read_files(
        spark, base, [os.path.join(path, e["path"]) for e in cand]
    )
    matched = (
        _with_file_pos(df)
        .filter(condition)
        .select(
            F.col("_rel").alias("file_path"), F.col("_pos").alias("pos")
        )
    )
    if pos_pend:  # stacked scrubs never re-mask an already-masked row
        prev = spark.read.parquet(
            *[os.path.join(path, d["path"]) for d in pos_pend]
        ).select("file_path", "pos")
        matched = matched.join(prev, ["file_path", "pos"], "left_anti")
    # one file: readers broadcast it, never shuffle on it
    listed = _write_staged(path, matched.coalesce(1), _staging_dir(path))
    if not listed:
        return None
    n_pos = sum(e["rows"] for e in listed)
    # exact named-file set, recorded in the entry for O(metadata) read
    # planning (which data files pay the mask) and compaction exclusion
    named = sorted(
        r.file_path
        for r in spark.read.parquet(
            *[os.path.join(path, e["path"]) for e in listed]
        ).select("file_path").distinct().collect()
    )
    for e in listed:
        e["content"] = _POS_DELETES
        e["n_pos"] = e["rows"]
        e["rows"] = 0  # logical table rows: a delete file adds none
        e["files"] = named
    base_pos = {d["path"] for d in pos_pend}

    def check(parent: int, head: dict[str, Any]) -> None:
        no_eq_pending(head)
        data, dels = _split_entries(head["manifest"])
        # a rival rewrite (compact/overwrite/fold) of a named file would
        # invalidate the recorded addresses — abort instead of masking
        # the wrong rows
        if not set(named) <= {e["path"] for e in data}:
            raise CommitConflict(
                f"{path}: scrub-addressed files no longer in head {parent}"
            )
        # a rival scrub landing since our scan makes the stacked-mask
        # anti-join stale (positions could double-mask and the changelog
        # would re-report them) — lose the race cleanly
        if {d["path"] for d in _eq_pos(dels)[1]} != base_pos:
            raise CommitConflict(
                f"{path}: a rival positional delete landed at head {parent}"
            )

    own = {
        "n_pos_deletes": n_pos,
        "pos_files": len(named),
        "n_new_files": 0,
        "n_new_rows": 0,
    }
    snap = _commit_snapshot(
        path, "delete", own, added=listed, check=check, retries=retries
    )
    return snap["summary"] | {"snapshot_id": snap["snapshot_id"]}


def rewrite_deletes(
    spark: SparkSession,
    path: str,
    retries: int = 3,
) -> dict[str, Any] | None:
    """Materialize pending merge-on-read deletes copy-on-write (Iceberg's
    rewrite of MOR deletes back to pure data files): rewrite each affected
    data file without its masked rows, drop every delete file from the
    manifest, commit as one 'delete' snapshot. For EQUALITY deletes,
    affected = files the sequence rule says a delete applies to AND whose
    key-range stats intersect that delete's key range (stats pruning — on
    a url-clustered table a 10-url takedown folds by rewriting only the
    files that can hold those urls); for POSITIONAL deletes
    (``scrub_where``), affected = exactly the files the delete names.
    After this, readers pay nothing and ``delete_where``/``merge_by_key``
    are unblocked, and pos-masked files become compaction candidates
    again. Returns the commit summary, or None when no deletes are
    pending."""
    if current_snapshot_id(path) == 0:
        return None
    base_snap = snapshot(path)
    data, dels = _split_entries(base_snap["manifest"])
    if not dels:
        return None
    from pyspark.sql import functions as F

    eq_dels, pos_dels = _eq_pos(dels)
    key = eq_dels[0]["key"] if eq_dels else ""
    by_path = {d["path"]: d for d in dels}
    pos_by_file: dict[str, tuple[str, ...]] = {}
    for d in pos_dels:
        for f in d.get("files", []):
            pos_by_file[f] = tuple(
                sorted(set(pos_by_file.get(f, ())) | {d["path"]})
            )
    affected: list[tuple[dict[str, Any], tuple[str, ...], tuple[str, ...]]] = []
    for e in data:
        app = tuple(
            p
            for p in _applicable_deletes(eq_dels, e)
            if _ranges_intersect(
                (e.get("stats") or {}).get(key),
                (by_path[p].get("stats") or {}).get(key),
            )
        )
        pos_app = pos_by_file.get(e["path"], ())
        if app or pos_app:
            affected.append((e, app, pos_app))
    removed_paths = {e["path"] for e, _, _ in affected} | set(by_path)
    rows_in = sum(e["rows"] for e, _, _ in affected)
    data_dir = _staging_dir(path)
    groups: dict[
        tuple[str, tuple[str, ...], tuple[str, ...]], list[dict[str, Any]]
    ] = {}
    for e, app, pos_app in affected:
        groups.setdefault((e.get("partition", ""), app, pos_app), []).append(e)
    new_files: list[dict[str, Any]] = []
    for gi, ((part, app, pos_app), es) in enumerate(sorted(groups.items())):

        def keep(df: DataFrame, app=app, pos_app=pos_app) -> DataFrame:
            if pos_app:  # position masks first: raw-file ordinals
                df = _apply_pos_mask(spark, path, df, pos_app)
            if app:
                keys_df = spark.read.parquet(
                    *[os.path.join(path, p) for p in app]
                ).select(key).distinct()
                df = df.join(F.broadcast(keys_df), key, "left_anti")
            return df

        new_files += _stage_group_rewrite(
            spark, path, base_snap, es, os.path.join(data_dir, f"g{gi:04d}"),
            part, keep=keep,
        )
    rows_out = sum(e["rows"] for e in new_files)
    if rows_out > rows_in:
        raise RuntimeError(
            f"{path}: rewrite_deletes grew {rows_in} rows into {rows_out}"
        )
    own = {
        "deleted_rows": rows_in - rows_out,
        "folded_delete_files": len(dels),
        "rewritten_files": len(affected),
        "n_new_files": len(new_files),
        "n_new_rows": 0,
    }
    # post-fold: no pending deletes remain, so the new files' seq is moot
    snap = _commit_snapshot(
        path, "delete", own, added=new_files, removed=removed_paths,
        retries=retries,
    )
    return snap["summary"] | {"snapshot_id": snap["snapshot_id"]}


# ------------------------------ branches -----------------------------------
#
# Branch refs + write-audit-publish (Iceberg's branching / WAP pattern):
# a corpus tick STAGES its output on a branch, audits run against the
# branch head (decontamination counts, CER metrics, row budgets), and only
# an explicit publish fast-forwards main — a bad tick is dropped without
# ever having been visible to consumers. Branch snapshots live in their own
# metadata namespace (``branch-<name>-NNN.json``), so every main-path
# operation (reads, appends, maintenance, tailing) is oblivious to staged
# work; the same hard-link CAS protects per-branch commits.


def _branch_path(path: str, name: str, seq: int) -> str:
    return os.path.join(_meta_dir(path), f"branch-{name}-{seq:011d}.json")


def _check_branch_name(name: str) -> None:
    import re

    if not re.fullmatch(r"[A-Za-z0-9_.-]+", name):
        raise ValueError(f"invalid branch name {name!r}")


def branch_head_seq(path: str, name: str) -> int:
    """Latest branch sequence number (0 = branch does not exist)."""
    best = 0
    prefix = f"branch-{name}-"
    try:
        for fn in os.listdir(_meta_dir(path)):
            if fn.startswith(prefix) and fn.endswith(".json"):
                try:
                    best = max(best, int(fn[len(prefix):-5]))
                except ValueError:
                    continue
    except FileNotFoundError:
        return 0
    return best


def branch_snapshot(path: str, name: str, seq: int | None = None) -> dict[str, Any]:
    seq = seq if seq is not None else branch_head_seq(path, name)
    try:
        with open(_branch_path(path, name, seq)) as f:
            return _materialize(path, json.load(f))
    except FileNotFoundError:
        raise NoSuchSnapshot(f"{path}: branch {name!r} seq {seq}")


def _branch_commit(path: str, name: str, snap: dict[str, Any]) -> int:
    """Hard-link CAS on the branch's own sequence namespace — two writers
    racing for the same branch seq: one wins, the other retries."""
    seq = snap["branch_seq"]
    _cas_write(path, _branch_path(path, name, seq), snap,
               f"branch {name!r} seq {seq}")
    return seq


def create_branch(
    path: str, name: str, at_snapshot_id: int | None = None
) -> int:
    """Create a branch at the current (or given) MAIN snapshot. The branch
    starts with that snapshot's exact state; main never sees anything
    committed to it until ``publish_branch``."""
    _check_branch_name(name)
    if branch_head_seq(path, name):
        raise ValueError(f"{path}: branch {name!r} already exists")
    base_sid = (
        at_snapshot_id if at_snapshot_id is not None else current_snapshot_id(path)
    )
    base = snapshot(path, base_sid) if base_sid else None
    snap = {
        "branch": name,
        "branch_seq": 1,
        "base_snapshot_id": base_sid,
        "timestamp_ms": int(time.time() * 1000),
        "operation": "branch",
        "schema_json": base.get("schema_json", "") if base else "",
        "partition_spec": base.get("partition_spec", []) if base else [],
        "sort_order": base.get("sort_order", []) if base else [],
        "manifest_list": _segments_minus_plus(path, base, set(), []),
        "summary": {"created_from": base_sid},
    }
    return _branch_commit(path, name, snap)


def branch_append(
    df: DataFrame,
    path: str,
    name: str,
    summary: dict[str, Any] | None = None,
    lineage: list[dict[str, Any]] | None = None,
    retries: int = 3,
) -> int:
    """Append to a BRANCH head: identical write path to ``append`` (data
    files distributed, inherited partition spec, union-by-name schema
    evolution, optimistic CAS), but the commit lands in the branch
    namespace — invisible to main readers until publish."""
    if not branch_head_seq(path, name):
        raise NoSuchSnapshot(f"{path}: branch {name!r} does not exist")
    head = branch_snapshot(path, name)
    new_files = _stage_table_write(
        path, df, _staging_dir(path),
        head.get("partition_spec"), head.get("sort_order"),
    )
    for e in new_files:
        e["seq"] = -1  # staged: newer than any committed delete; publish re-stamps
    last: Exception | None = None
    for _ in range(max(retries, 1)):
        parent = branch_snapshot(path, name)
        snap = {
            "branch": name,
            "branch_seq": parent["branch_seq"] + 1,
            "base_snapshot_id": parent["base_snapshot_id"],
            "timestamp_ms": int(time.time() * 1000),
            "operation": "append",
            "schema_json": _evolved_schema_json(parent, df.schema),
            "partition_spec": parent.get("partition_spec", []),
            "sort_order": parent.get("sort_order", []),
            "manifest_list": _segments_minus_plus(
                path, parent, set(), new_files
            ),
            "summary": dict(
                # state-describing keys accumulate along the branch so the
                # branch HEAD carries them into publish (watermarks, run ids)
                _inherited_summary(parent, dict(summary or {})),
                n_new_files=len(new_files),
                n_new_rows=sum(e["rows"] for e in new_files),
            ),
        }
        if lineage is not None:
            snap["lineage"] = lineage
        try:
            return _branch_commit(path, name, snap)
        except CommitConflict as e:
            last = e
    raise last  # type: ignore[misc]


def read_branch(
    spark: SparkSession,
    path: str,
    name: str,
    where: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read a branch head — the audit view of staged, unpublished work.
    Same snapshot-schema scan, manifest-stats pruning, and equality-delete
    application as ``read`` (a branch created over a head with pending
    deletes must audit the MASKED view; the branch's own staged entries
    carry seq -1 = newer than every committed delete, so nothing masks
    them)."""
    snap = branch_snapshot(path, name)
    return _scan_entries(spark, path, snap, where)


def publish_branch(
    path: str,
    name: str,
    rebase: bool = False,
    retries: int = 3,
    precondition=None,
) -> dict[str, Any]:
    """Fast-forward main to the branch head — the 'publish' of WAP. The
    branch must be append-only (its history is 'branch' + 'append' ops;
    content rewrites can't fast-forward). If main has NOT moved since the
    branch base, main's new head is exactly the branch head. If main HAS
    moved: refused with PreconditionFailed unless ``rebase=True``, which
    re-applies the branch's ADDED files on top of the current main head
    (Iceberg's cherry-pick for append snapshots — sound because appends
    commute). Either way the published snapshot commits as an ordinary
    'append' (membership only grew), so tailing incremental consumers see
    the published rows as one normal delta. The branch ref is left in
    place; ``drop_branch`` removes it.

    ``precondition``: like ``append``'s — ``(path, parent_sid) -> bool``
    validated immediately before each commit attempt (the WAP race guard:
    e.g. "no other tick has published this source window"). The published
    summary inherits main-head state keys, then the BRANCH head's state
    keys (its watermarks/run ids describe the published content), then the
    publish's own bookkeeping."""
    b = branch_snapshot(path, name)
    for seq in range(1, b["branch_seq"] + 1):
        op = branch_snapshot(path, name, seq)["operation"]
        if op not in ("branch", "append"):
            raise ValueError(
                f"{path}: branch {name!r} has non-append op {op!r} — "
                "cannot fast-forward"
            )
    base_sid = b["base_snapshot_id"]
    base_paths = (
        {e["path"] for e in snapshot(path, base_sid)["manifest"]}
        if base_sid
        else set()
    )
    # COPIES: segment entry dicts are cache-shared; and the published
    # entries get the publish commit's sequence (they become ordinary
    # main data — committed NOW, so only deletes after the publish apply)
    added = [dict(e) for e in b["manifest"] if e["path"] not in base_paths]

    def check(parent: int, _head) -> None:
        if parent != base_sid and not rebase:
            raise PreconditionFailed(
                f"{path}: main moved {base_sid} -> {parent} since branch "
                f"{name!r} was created; publish with rebase=True or re-audit"
            )
        if precondition is not None and not precondition(path, parent):
            raise PreconditionFailed(
                f"{path}: publish precondition failed at head {parent}"
            )

    def header(head) -> dict[str, Any]:
        schema_json = b.get("schema_json", "")
        if rebase and head is not None and head.get("schema_json"):
            schema_json = _evolved_schema_json(
                head, _schema(b if schema_json else head)
            )
        return dict(_table_state(head or b), schema_json=schema_json)

    own = {
        "published_branch": name,
        "published_seq": b["branch_seq"],
        "n_new_files": len(added),
        "n_new_rows": sum(e["rows"] for e in added),
    }
    # main-head state keys < branch-head state keys < publish's own
    snap = _commit_snapshot(
        path, "append", _inherited_summary(b, dict(own)), added=added,
        check=check, header=header, retries=retries,
    )
    return own | {"snapshot_id": snap["snapshot_id"]}


def drop_branch(path: str, name: str) -> int:
    """Delete a branch's metadata. Its staged-only data files become
    orphans and are reclaimed by ``vacuum`` after the grace window — the
    'audit failed, throw the tick away' path of WAP."""
    n = 0
    for seq in range(1, branch_head_seq(path, name) + 1):
        p = _branch_path(path, name, seq)
        if os.path.exists(p):
            os.remove(p)
            n += 1
    return n


def list_branches(path: str) -> list[str]:
    import re

    names = set()
    try:
        for fn in os.listdir(_meta_dir(path)):
            m = re.fullmatch(r"branch-(.+)-\d{11}\.json", fn)
            if m:
                names.add(m.group(1))
    except FileNotFoundError:
        pass
    return sorted(names)


# -------------------------------- tags -------------------------------------
#
# Immutable named snapshot refs (Iceberg's tags): "corpus-v1" pins the
# exact table state a training run consumed — the reproducibility
# primitive for data releases. A tag is a pointer, not a copy (zero data
# I/O); ``expire_snapshots`` retains tagged snapshots (and therefore the
# files they reference) until the tag is dropped, so a release stays
# readable forever while routine expiry prunes everything around it.


def _tag_path(path: str, name: str) -> str:
    return os.path.join(_meta_dir(path), f"tag-{name}.json")


def create_tag(path: str, name: str, at_snapshot_id: int | None = None) -> int:
    """Tag a committed MAIN snapshot (default: the head). Immutable: a
    second create with the same name raises — drop and re-create to move
    it, so a release pointer can never drift silently."""
    _check_branch_name(name)
    sid = at_snapshot_id if at_snapshot_id is not None else current_snapshot_id(path)
    snapshot(path, sid)  # must exist (raises NoSuchSnapshot otherwise)
    os.makedirs(_meta_dir(path), exist_ok=True)
    try:
        fd = os.open(_tag_path(path, name), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ValueError(f"{path}: tag {name!r} already exists") from None
    with os.fdopen(fd, "w") as f:
        json.dump(
            {"tag": name, "snapshot_id": sid,
             "timestamp_ms": int(time.time() * 1000)},
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    return sid


def tag_snapshot_id(path: str, name: str) -> int:
    try:
        with open(_tag_path(path, name)) as f:
            return int(json.load(f)["snapshot_id"])
    except FileNotFoundError:
        raise NoSuchSnapshot(f"{path}: tag {name!r} does not exist") from None


def read_tag(
    spark: SparkSession,
    path: str,
    name: str,
    where: dict[str, tuple] | None = None,
) -> DataFrame:
    """Read the exact state a tag pins — same scan as ``read`` at that
    snapshot (stats pruning, equality-delete application as of then)."""
    return read(spark, path, snapshot_id=tag_snapshot_id(path, name), where=where)


def list_tags(path: str) -> dict[str, int]:
    import re

    tags: dict[str, int] = {}
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        return tags
    for fn in names:
        m = re.fullmatch(r"tag-([A-Za-z0-9_.-]+)\.json", fn)
        if m:
            try:
                tags[m.group(1)] = tag_snapshot_id(path, m.group(1))
            except NoSuchSnapshot:
                continue
    return tags


def drop_tag(path: str, name: str) -> None:
    """Remove the tag pointer. The snapshot it pinned becomes expirable
    again (and its exclusively-referenced files vacuumable after expiry)."""
    try:
        os.remove(_tag_path(path, name))
    except FileNotFoundError:
        raise NoSuchSnapshot(f"{path}: tag {name!r} does not exist") from None


def _tagged_sids(path: str) -> set[int]:
    return set(list_tags(path).values())


def metadata_table(
    spark: SparkSession,
    path: str,
    kind: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Queryable metadata views (Iceberg's ``table$snapshots`` /
    ``$files`` / ``$partitions``): the audit surface a corpus operator
    uses to answer "what did tick 37 commit", "which files hold the
    2026-01 crawl window", "how skewed are my language partitions" —
    without touching a single data row.

    Driver-built from snapshot manifests (metadata scales with FILE
    count, not row count — the same envelope as Iceberg's metadata
    tables, which plan from manifest lists); returned as DataFrames so
    audits compose with the rest of the query surface (joins, filters,
    spark.sql over a temp view).

    - ``snapshots`` — one row per retained snapshot: id, parent, commit
      timestamp, operation, file/row totals, summary JSON (lineage,
      watermarks, run ids).
    - ``files`` — one row per data file in the chosen snapshot (default
      head): path, partition, rows, bytes, per-column min/max stats JSON.
    - ``partitions`` — per-partition rollup of ``files``: file/row/byte
      totals — the skew audit.
    - ``refs`` — one row per named ref (Iceberg's ``$refs``): branches
      with their head sequence and base snapshot, tags with the snapshot
      they pin — the release/staging audit.
    """
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if kind == "snapshots":
        schema = StructType(
            [
                StructField("snapshot_id", LongType()),
                StructField("parent_id", LongType()),
                StructField("timestamp_ms", LongType()),
                StructField("operation", StringType()),
                StructField("n_files", LongType()),
                StructField("n_rows", LongType()),
                StructField("summary", StringType()),
            ]
        )
        rows = [
            (
                h["snapshot_id"],
                h["parent_id"],
                h["timestamp_ms"],
                h["operation"],
                h["n_files"],
                h["n_rows"],
                json.dumps(h["summary"], sort_keys=True),
            )
            for h in history(path)
        ]
        return spark.createDataFrame(rows, schema)
    if kind in ("files", "partitions"):
        schema = StructType(
            [
                StructField("path", StringType()),
                StructField("partition", StringType()),
                StructField("rows", LongType()),
                StructField("bytes", LongType()),
                StructField("stats", StringType()),
                StructField("content", StringType()),
                StructField("seq", LongType()),
            ]
        )
        manifest = (
            snapshot(path, snapshot_id)["manifest"]
            if current_snapshot_id(path)
            else []
        )
        rows = [
            (
                e["path"],
                e.get("partition", ""),
                e["rows"],
                e["bytes"],
                json.dumps(e.get("stats") or {}, sort_keys=True),
                e.get("content", "data"),
                int(e.get("seq", 0)),
            )
            for e in manifest
        ]
        files_df = spark.createDataFrame(rows, schema)
        if kind == "files":
            return files_df
        from pyspark.sql import functions as F

        # partitions = the DATA skew audit; delete files carry no rows
        return files_df.where(F.col("content") == "data").groupBy("partition").agg(
            F.count("*").alias("n_files"),
            F.sum("rows").alias("n_rows"),
            F.sum("bytes").alias("n_bytes"),
        )
    if kind == "refs":
        schema = StructType(
            [
                StructField("name", StringType()),
                StructField("type", StringType()),
                StructField("snapshot_id", LongType()),
                StructField("branch_seq", LongType()),
            ]
        )
        rows = []
        for name in list_branches(path):
            seq = branch_head_seq(path, name)
            b = branch_snapshot(path, name, seq)
            rows.append((name, "branch", int(b["base_snapshot_id"]), seq))
        for name, sid in sorted(list_tags(path).items()):
            rows.append((name, "tag", sid, None))
        return spark.createDataFrame(rows, schema)
    raise ValueError(
        f"unknown metadata table {kind!r} "
        "(snapshots | files | partitions | refs)"
    )


# ----------------------------- table stats ---------------------------------
#
# Per-file HLL sketches (Iceberg's Puffin NDV blobs + compute_table_stats):
# ``analyze`` attaches a distinct-count sketch per (data file, column) as a
# metadata sidecar; ``approx_distinct`` then answers "how many distinct
# urls in this snapshot / this crawl window" by merging register arrays
# DRIVER-SIDE — zero row I/O at query time. Sketches are keyed by data
# file path, and data files are immutable, so one sketch stays valid for
# every snapshot that references the file; ``analyze`` is incremental
# (only files without a sketch are scanned — per tick, one delta's worth).


def _stats_paths(path: str) -> list[str]:
    try:
        return sorted(
            os.path.join(_meta_dir(path), fn)
            for fn in os.listdir(_meta_dir(path))
            if fn.startswith("stats-") and fn.endswith(".json")
        )
    except FileNotFoundError:
        return []


def _load_stats(path: str) -> dict[str, dict[str, str]]:
    """file relpath -> column -> base64 HLL registers (later files win)."""
    out: dict[str, dict[str, str]] = {}
    for full in _stats_paths(path):
        try:
            with open(full) as f:
                blob = json.load(f)
        except (OSError, ValueError):
            continue
        for rel, cols in blob.get("files", {}).items():
            out.setdefault(rel, {}).update(cols)
    return out


def analyze(
    spark: SparkSession,
    path: str,
    cols: list[str] | tuple[str, ...] = ("url",),
    snapshot_id: int | None = None,
) -> dict[str, Any]:
    """Compute per-file NDV sketches for ``cols`` over the chosen
    snapshot's data files that don't have one yet (Iceberg's
    compute_table_stats). Scale shape: hashing is JVM-side
    (``xxhash64``), register folding is one MAP-ONLY Arrow stage emitting
    per-(batch, file, col) partial sketches (no shuffle — partials merge
    by max), and only batch-count-sized rows reach the driver. NULLs hash
    like any value (one NDV slot), matching Spark's xxhash64 semantics."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from ..kernels import hll

    snap = snapshot(path, snapshot_id)
    data_entries, _ = _split_entries(snap["manifest"])
    existing = _load_stats(path)
    todo = [
        e
        for e in data_entries
        if e["rows"] > 0
        and any(c not in existing.get(e["path"], {}) for c in cols)
    ]
    if not todo:
        return {"analyzed_files": 0, "cols": list(cols)}
    abs_to_rel = {
        os.path.normpath(os.path.join(path, e["path"])): e["path"] for e in todo
    }
    df = _read_files(
        spark, snap, [os.path.join(path, e["path"]) for e in todo]
    ).select(
        F.input_file_name().alias("_f"),
        *[F.xxhash64(c).alias(f"_h_{i}") for i, c in enumerate(cols)],
    )
    n_cols = len(cols)
    out_schema = "f string, c long, b64 string"

    def fold(batches):
        import numpy as _np

        for batch in batches:
            farr = _np.asarray(batch.column(0).to_pylist())
            for fname in _np.unique(farr):
                mask = farr == fname
                rows_f, rows_c, rows_b = [], [], []
                for i in range(n_cols):
                    h = batch.column(1 + i).to_numpy(zero_copy_only=False)[mask]
                    regs = hll.registers_from_hashes(h)
                    rows_f.append(str(fname))
                    rows_c.append(i)
                    rows_b.append(hll.to_b64(regs))
                yield pa.RecordBatch.from_pydict(
                    {"f": rows_f, "c": rows_c, "b64": rows_b}
                )

    from urllib.parse import unquote, urlparse

    partials = df.mapInArrow(fold, out_schema).collect()
    merged: dict[tuple[str, int], Any] = {}
    for r in partials:
        # input_file_name returns a URI (file:/..., hdfs://..., s3a://...)
        # or a bare path depending on the filesystem; normalize to a path
        parsed = urlparse(r.f)
        fpath = unquote(parsed.path) if parsed.scheme else r.f
        rel = abs_to_rel.get(os.path.normpath(fpath))
        if rel is None:
            continue
        k = (rel, r.c)
        regs = hll.from_b64(r.b64)
        merged[k] = hll.merge(merged[k], regs) if k in merged else regs
    files_blob: dict[str, dict[str, str]] = {}
    for (rel, ci), regs in merged.items():
        files_blob.setdefault(rel, {})[cols[ci]] = hll.to_b64(regs)
    os.makedirs(_meta_dir(path), exist_ok=True)
    full = os.path.join(_meta_dir(path), f"stats-{uuid.uuid4().hex}.json")
    tmp = f"{full}.tmp"
    with open(tmp, "w") as f:
        json.dump({"files": files_blob}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, full)
    return {"analyzed_files": len(files_blob), "cols": list(cols)}


def approx_distinct(
    path: str,
    col: str = "url",
    snapshot_id: int | None = None,
    where: dict[str, tuple] | None = None,
) -> dict[str, Any]:
    """Merge the per-file sketches of the chosen snapshot's data files
    (optionally narrowed by manifest-stats ``where`` pruning — e.g. one
    crawl window of a days(warc_ts)-partitioned table) into one NDV
    estimate, entirely driver-side. Returns the estimate plus coverage
    (files/rows with sketches vs total): a partially-analyzed table
    reports honestly instead of under-counting silently. Estimates are
    over PHYSICAL rows — pending merge-on-read masks are not applied
    (planning stats, not exact counts — same contract as Iceberg NDV)."""
    from ..kernels import hll

    snap = snapshot(path, snapshot_id)
    data_entries, _ = _split_entries(snap["manifest"])
    data_entries = _prune_entries(data_entries, where)
    stats = _load_stats(path)
    regs = None
    covered_files = covered_rows = 0
    total_rows = 0
    n_nonempty = 0
    for e in data_entries:
        if e["rows"] == 0:
            continue
        n_nonempty += 1
        total_rows += e["rows"]
        b64 = stats.get(e["path"], {}).get(col)
        if b64 is None:
            continue
        r = hll.from_b64(b64)
        regs = r if regs is None else hll.merge(regs, r)
        covered_files += 1
        covered_rows += e["rows"]
    return {
        "ndv": hll.estimate(regs) if regs is not None else 0.0,
        "covered_files": covered_files,
        "total_files": n_nonempty,
        "covered_rows": covered_rows,
        "total_rows": total_rows,
    }


def merge_by_key(
    spark: SparkSession,
    path: str,
    delta_df: DataFrame,
    key: str = "url",
    latest_by: str | None = None,
    retries: int = 3,
) -> dict[str, Any] | None:
    """Copy-on-write MERGE (Iceberg's ``MERGE INTO`` in its COW form) —
    the recrawl-upsert primitive: fold a new crawl's captures into the
    pages table so each url keeps exactly one current row.

    Semantics per ``key`` (default ``url``):

    - ``latest_by=None`` — plain upsert: every delta row is inserted and
      every existing row sharing a delta key is replaced (WHEN MATCHED
      THEN UPDATE / WHEN NOT MATCHED THEN INSERT).
    - ``latest_by="warc_ts"`` — newest-capture-wins: the delta first
      collapses to its newest row per key, then a delta row only replaces
      existing rows when its ``latest_by`` is >= their max (ties favor the
      delta); a STALE delta capture is dropped and the existing rows stay
      byte-untouched. This is Common Crawl recrawl semantics: replaying an
      old dump into a newer table is a no-op.

    Scale shape: the delta's key range is ONE tiny aggregate (two scalars
    to the driver); candidate files are pruned by manifest key stats, so
    on a url-clustered table a merge touches only the files whose key
    range intersects the delta — never a full-table rewrite. Matching is
    a distributed hash join between the candidate-file scan and the delta
    (executor-side; nothing rows-shaped crosses the driver). Survivor
    files are rewritten WITHIN their partitions (clustering survives,
    like ``delete_where``) and the resolved delta is written under the
    table's inherited partition spec (like ``append``).

    Commit honesty: if NO existing row was replaced (pure insert — every
    delta key is new, or every matched delta row was stale) the commit is
    an ordinary 'append' snapshot (candidates stay byte-untouched, staged
    survivor copies are discarded), so a tailing ``read_incremental``
    consumer keeps working. Only a merge that actually replaced rows
    commits as 'merge', which incremental scans refuse — row membership
    changed, same as delete. Returns the commit summary, or None for an
    empty delta / fully-stale delta against unchanged candidates.
    """
    from pyspark.sql import functions as F

    if latest_by is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(F.col(latest_by).desc())
        delta1 = (
            delta_df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        delta1 = delta_df
    head_sid = current_snapshot_id(path)
    if head_sid == 0:
        if delta1.isEmpty():
            return None
        sid = append(delta1, path, summary={"merge_key": key})
        s = snapshot(path, sid)
        return {
            "snapshot_id": sid,
            "replaced_rows": 0,
            "inserted_rows": s["summary"]["n_new_rows"],
            "dropped_stale_delta_rows": 0,
            "rewritten_files": 0,
        }
    base_snap = snapshot(path, head_sid)
    _pending_delete_guard(path, base_snap, "merge_by_key")
    bounds = delta1.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:  # empty delta
        return None
    cand = _prune_entries(
        base_snap["manifest"], {key: (bounds["lo"], bounds["hi"])}
    )
    cand_paths = {e["path"] for e in cand}
    rows_in = sum(e["rows"] for e in cand)
    delta1 = delta1.persist()
    resolved = delta1
    try:
        # resolve the delta against the existing matched rows
        if cand and latest_by is not None:
            existing_all = _read_files(
                spark, base_snap, [os.path.join(path, e["path"]) for e in cand]
            )
            ex_max = existing_all.groupBy(key).agg(
                F.max(latest_by).alias("_ex_max")
            )
            resolved = (
                delta1.join(ex_max, key, "left")
                .where(
                    F.col("_ex_max").isNull()
                    | (F.col(latest_by) >= F.col("_ex_max"))
                )
                .drop("_ex_max")
                .persist()
            )
        else:
            resolved = delta1
        data_dir = _staging_dir(path)
        keys_df = resolved.select(key)
        groups: dict[str, list[dict[str, Any]]] = {}
        for e in cand:  # rewrite within partitions: clustering survives
            groups.setdefault(e.get("partition", ""), []).append(e)
        surv_files: list[dict[str, Any]] = []
        for part, es in sorted(groups.items()):  # "" first, as in delete_where
            surv_files += _stage_group_rewrite(
                spark, path, base_snap, es,
                os.path.join(data_dir, "_survivors"), part,
                keep=lambda df: df.join(F.broadcast(keys_df), key, "left_anti"),
            )
        ins_files = _stage_table_write(
            path, resolved, os.path.join(data_dir, "_inserts"),
            base_snap.get("partition_spec"), base_snap.get("sort_order"),
        )
        rows_out = sum(e["rows"] for e in surv_files)
        inserted = sum(e["rows"] for e in ins_files)
        n_delta = delta1.count()
    finally:
        if resolved is not delta1:
            resolved.unpersist()
        delta1.unpersist()
    if rows_out > rows_in:
        raise RuntimeError(
            f"{path}: merge rewrote {rows_in} rows into {rows_out}"
        )
    replaced = rows_in - rows_out
    if inserted == 0 and replaced == 0:  # fully-stale delta: no commit
        for e in surv_files + ins_files:
            os.remove(os.path.join(path, e["path"]))
        return None
    if replaced == 0:  # pure insert: honest append, candidates untouched
        for e in surv_files:
            os.remove(os.path.join(path, e["path"]))
        surv_files, cand_paths = [], set()
    own = {
        "merge_key": key,
        "replaced_rows": replaced,
        "inserted_rows": inserted,
        "dropped_stale_delta_rows": n_delta - inserted,
        "rewritten_files": len(cand_paths),
        "n_new_files": len(surv_files) + len(ins_files),
        "n_new_rows": inserted,
    }
    operation = "merge" if replaced else "append"
    base_paths = {e["path"] for e in base_snap["manifest"]}

    def check(parent: int, head: dict[str, Any]) -> None:
        if operation != "merge":
            return
        # Iceberg's validate-no-conflicting-appends: a rival commit
        # may have added files whose key range intersects the delta —
        # rows this merge should have replaced but never saw. Abort
        # rather than commit duplicate keys (stat-less new files are
        # conservatively conflicting).
        rival = [
            e
            for e in head["manifest"]
            if e["path"] not in base_paths and e["rows"] > 0
        ]
        if _prune_entries(rival, {key: (bounds["lo"], bounds["hi"])}):
            raise CommitConflict(
                f"{path}: concurrent commit added files intersecting "
                f"the merge key range at head {parent}"
            )

    def header(_head) -> dict[str, Any]:  # evolved from the merge's base
        return {"schema_json": _evolved_schema_json(base_snap, delta_df.schema)}

    snap = _commit_snapshot(
        path, operation, own, added=surv_files + ins_files,
        removed=cand_paths, check=check,
        header=header if base_snap.get("schema_json") else None,
        retries=retries,
    )
    return snap["summary"] | {"snapshot_id": snap["snapshot_id"]}


def expire_snapshots(
    path: str,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
) -> dict[str, Any]:
    """Drop old snapshots and delete the data files only they referenced
    (Iceberg's expire_snapshots). The head always survives, and so does
    any TAGGED snapshot (a "corpus-v1" release stays time-travelable until
    its tag is dropped); otherwise a snapshot expires when it falls
    outside ``keep_last`` most-recent AND (if given) is older than
    ``older_than_ms``. Time travel and incremental reads into the expired
    range stop working — by design, that is what bounds metadata and
    storage growth on a forever-appending table."""
    head = current_snapshot_id(path)
    tagged = _tagged_sids(path)
    sids = [
        s
        for s in range(1, head + 1)
        if os.path.exists(_snap_path(path, s))
    ]
    expired = []
    for sid in sids:
        if sid == head or sid in tagged:
            continue
        if keep_last is not None and sid > head - keep_last:
            continue
        if older_than_ms is not None:
            if snapshot(path, sid)["timestamp_ms"] >= older_than_ms:
                continue
        expired.append(sid)
    # files referenced ONLY by expiring snapshots become deletable —
    # unless a live branch still stages them
    keep_refs = {
        os.path.normpath(os.path.join(path, e["path"]))
        for sid in sids
        if sid not in set(expired)
        for e in snapshot(path, sid)["manifest"]
    } | _branch_referenced_files(path)
    # manifest SEGMENTS referenced only by expiring snapshots are metadata
    # garbage too (Iceberg's expire deletes unreachable manifest files)
    keep_segs = {
        os.path.normpath(os.path.join(path, ref["path"]))
        for sid in sids
        if sid not in set(expired)
        for ref in snapshot(path, sid).get("manifest_list", [])
    } | _branch_referenced_segments(path)
    deleted_files = 0
    dead_segs: set[str] = set()
    for sid in expired:
        snap = snapshot(path, sid)
        for e in snap["manifest"]:
            full = os.path.normpath(os.path.join(path, e["path"]))
            if full not in keep_refs and os.path.exists(full):
                os.remove(full)
                deleted_files += 1
        for ref in snap.get("manifest_list", []):
            full = os.path.normpath(os.path.join(path, ref["path"]))
            if full not in keep_segs:
                dead_segs.add(full)
    for sid in expired:  # metadata last: crash mid-way leaves extra files,
        os.remove(_snap_path(path, sid))  # never a snapshot missing files
    for full in dead_segs:  # segments after the snapshots that used them
        if os.path.exists(full):
            os.remove(full)
        _SEGMENT_CACHE.pop(full, None)
    return {
        "expired_snapshots": expired,
        "deleted_files": deleted_files,
        "deleted_manifests": len(dead_segs),
    }


def vacuum(path: str, grace_ms: int = 24 * 3600 * 1000) -> dict[str, Any]:
    """Delete orphan data files older than ``grace_ms`` (Iceberg's
    remove_orphan_files). The grace period is the correctness guard: a
    LIVE writer's staged-but-uncommitted files look exactly like orphans
    until its commit lands, so only files old enough that no sane commit
    is still in flight are removed."""
    cutoff = time.time() - grace_ms / 1000.0
    deleted = []
    for full in orphan_data_files(path):
        try:
            if os.path.getmtime(full) <= cutoff:
                os.remove(full)
                deleted.append(full)
        except FileNotFoundError:  # racing vacuum — already gone
            continue
    # orphan manifest segments (aborted commit retries) age out the same
    # way — a live writer's staged segment looks orphaned until it commits
    seg_refs = _referenced_segments(path)
    deleted_manifests = 0
    try:
        names = os.listdir(_meta_dir(path))
    except FileNotFoundError:
        names = []
    for fn in names:
        if not (fn.startswith("man-") and fn.endswith(".json")):
            continue
        full = os.path.normpath(os.path.join(_meta_dir(path), fn))
        try:
            if full not in seg_refs and os.path.getmtime(full) <= cutoff:
                os.remove(full)
                _SEGMENT_CACHE.pop(full, None)
                deleted_manifests += 1
        except FileNotFoundError:
            continue
    # NDV stats sidecars: drop sketch entries whose data file is gone
    # (the sketch is keyed by immutable file path — once the file is
    # reclaimed the entry can never be read again); empty sidecars go too
    pruned_stats = 0
    for full in _stats_paths(path):
        try:
            with open(full) as f:
                blob = json.load(f)
        except (OSError, ValueError):
            continue
        files = blob.get("files", {})
        kept = {
            rel: colmap
            for rel, colmap in files.items()
            if os.path.exists(os.path.join(path, rel))
        }
        if len(kept) == len(files):
            continue
        pruned_stats += len(files) - len(kept)
        if kept:
            tmp = f"{full}.tmp"
            with open(tmp, "w") as f:
                json.dump({"files": kept}, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, full)
        else:
            os.remove(full)
    return {
        "deleted_files": len(deleted),
        "paths": deleted,
        "deleted_manifests": deleted_manifests,
        "pruned_stats_entries": pruned_stats,
    }
