"""Per-partition lineage + checkpoint-resume (north_rule: "Every stage
checkpoints per-partition lineage and counters so the job resumes mid-run").

Design (SURVEY.md §4.2 Resume): the url space is split into K work units
(``part_id = pmod(xxhash64(url), K)``). Each unit runs the pipeline on its
slice once and persists its triples, so the triples sink and the edges
derived from them share one computation. Each sink writes
``<table>/part_id=<k>/`` idempotently (overwrite), reads it back for its
checksum, appends a manifest row (rows in/out, checksum, timestamp) to
``_lineage`` and commits a snapshot. That protocol is :func:`commit_part`,
the one commit path of every sink part: these units, ingested slices, the
copy-on-write rewrites of ``incremental`` and the streaming micro-batches.

A job reads the manifest once, at start (not at all for a fresh
``out_dir``): that start state lists every stage's completed parts, which
are skipped, so a crashed run resumes exactly where it stopped. The closing
heal compares each snapshot with start state ∪ this job's appends. Hence
ONE writer per ``out_dir``: another job's appends are not in that state.

At 100 TB scale K is sized so one unit ≈ a few hundred GB (K ~ 10k); units
are embarrassingly parallel across job submissions too.

The counters use ``df.observe`` (SURVEY §2.1 S4) so they ride the action
instead of re-scanning.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
from collections import defaultdict
from collections.abc import Sequence

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

LINEAGE_COLS = ["stage", "part_id", "rows_in", "rows_out", "checksum", "completed_at"]

#: current table_checksum recipe epoch (see write_snapshot); bump whenever
#: the checksum recipe changes incompatibly
CHECKSUM_VER = 2


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    path = _manifest_path(out_dir)
    if not os.path.exists(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return None
    return spark.read.parquet(path)


def _manifest_parts(spark: SparkSession, out_dir: str) -> dict[str, set[int]]:
    """{stage: completed part ids} from one manifest read (no Spark job
    when ``out_dir`` has no manifest yet)."""
    m = read_manifest(spark, out_dir)
    parts: dict[str, set[int]] = defaultdict(set)
    rows = m.select("stage", "part_id").distinct().collect() if m is not None else []
    for r in rows:
        parts[r.stage].add(r.part_id)
    return parts


def completed_parts(spark: SparkSession, out_dir: str, stage: str) -> set[int]:
    return _manifest_parts(spark, out_dir)[stage]


def _latest_manifest_rows(spark: SparkSession, out_dir: str, table: str) -> list:
    """(part_id, rows_out, checksum) of each part's latest manifest row."""
    m = read_manifest(spark, out_dir)
    if m is None:
        return []
    return (
        m.filter(F.col("stage") == table)
        .groupBy("part_id")
        .agg(F.max(F.struct("completed_at", "rows_out", "checksum")).alias("last"))
        .select("part_id", "last.rows_out", "last.checksum")
        .collect()
    )


def append_manifest(spark: SparkSession, out_dir: str, row: dict) -> None:
    pdf = pd.DataFrame([row], columns=LINEAGE_COLS)
    spark.createDataFrame(pdf).write.mode("append").parquet(_manifest_path(out_dir))


def table_checksum(df: DataFrame) -> tuple[int, str]:
    """(row_count, order-insensitive checksum) of ANY sink DataFrame —
    xor of per-row xxhash64, computed distributed (no collect). Float and
    double columns enter integer-stabilized (e6 fixed point) so resumed
    units cannot silently drift in confidence/weight/score (ADVICE r1).
    Same recipe as the historical triples checksum (schema column order,
    e6 conf stabilization) — but note it hashes EVERY column of the frame
    it is given: the unit commit feeds it the written part read back, which
    carries the part_id column, so checksums recorded by round-3 code are
    not comparable to manifests written before the multi-sink change."""
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.expr(f"CAST(ROUND(`{f.name}` * 1e6) AS BIGINT)")
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f.name)
        for f in df.schema.fields
    ]
    h = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count("h").alias("n"),
        F.expr("bit_xor(h)").alias("s"),  # order-insensitive, overflow-free
    ).collect()[0]
    return int(h["n"]), format((int(h["s"] or 0)) & 0xFFFFFFFFFFFFFFFF, "016x")


def commit_part(spark: SparkSession, out_dir: str, table: str, pid: int,
                df: DataFrame, *, rows_in: int | None = None,
                superseded: Sequence[int] = (), snapshot: bool = True,
                n_parts: int | None = None, retain: int | None = None,
                lock=contextlib.nullcontext()) -> dict:
    """The part-commit protocol every sink writer goes through: write
    ``df`` as part ``pid`` of ``table`` (idempotent overwrite at the
    table's layout, see :func:`_table_base`), read it back for
    :func:`table_checksum`, then append the part's manifest row and one
    tombstone row per ``superseded`` part (copy-on-write: the latest
    manifest row per part wins in the heal path, and zero-row parts never
    reach the reader).

    With ``snapshot`` the part also commits an ``add_part`` snapshot
    (``n_parts``, ``retain``); a copy-on-write pass passes False and
    commits one snapshot per table after all its parts, so an update is
    atomic for time travel. ``lock`` serializes the manifest append and
    the snapshot only — the part write, read-back and checksum run outside
    it, so overlapped units do not serialize their writes. ``rows_in``
    defaults to the rows written. Returns the part's manifest row."""
    base, prefix = _table_base(out_dir, table)
    part_path = os.path.join(base, f"{prefix}={pid}")
    if prefix == "part_id":
        # batch sinks carry part_id as a data column; a root-layout table
        # (the stream) carries its partition value in the dir name only
        df = df.withColumn("part_id", F.lit(pid))
    df.write.mode("overwrite").parquet(part_path)
    back = spark.read.parquet(part_path)
    n, checksum = table_checksum(back)
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    row = {"stage": table, "part_id": pid,
           "rows_in": n if rows_in is None else rows_in, "rows_out": n,
           "checksum": checksum, "completed_at": now}
    with lock:
        append_manifest(spark, out_dir, row)
        for old in superseded:
            append_manifest(spark, out_dir, {
                "stage": table, "part_id": old, "rows_in": 0, "rows_out": 0,
                "checksum": f"superseded-by:{pid}",
                "completed_at": now + dt.timedelta(microseconds=1)})
        if snapshot:
            if prefix not in back.columns:
                # schema as a table read sees it: Spark's partition-value
                # inference types <prefix>=N dirs as int
                back = back.withColumn(prefix, F.lit(pid).cast("int"))
            write_snapshot(spark, out_dir, n_parts, table=table,
                           schema_json=back.schema.json(),
                           add_part={"part_id": pid, "rows": n,
                                     "checksum": checksum},
                           retain=retain)
    return row


class _Writer:
    """One job, the sole writer of ``out_dir``: its start state (completed
    parts per stage, one manifest read), shared dictionary state, the rows
    it appended and the lock serializing its manifest + snapshot commits.
    Refuses an ``out_dir`` whose committed snapshots it cannot extend."""

    def __init__(self, spark: SparkSession, out_dir: str, alias_pdf: pd.DataFrame,
                 n_parts: int | None, weights_map: dict | None, retain: int | None):
        from .pipeline import build_dictionary_state

        # fail-loud on a unit-count change: part_id = pmod(xxhash64(url), K),
        # so under a different K "completed" parts would silently cover the
        # WRONG url slices. EVERY table with a committed snapshot is checked:
        # an out_dir written with sinks=("edges",) carries its unit
        # assignment in metadata/edges/ only (ADVICE r3)
        for t in snapshot_tables(out_dir):
            snap = current_snapshot(out_dir, table=t)
            if snap is None:
                continue
            if snap.get("n_parts") not in (None, n_parts):
                raise ValueError(
                    f"{out_dir} ({t}) was written with n_parts="
                    f"{snap['n_parts']}; resuming with n_parts={n_parts} "
                    "would remap the url→unit assignment under the committed "
                    "parts. Re-run with the original n_parts, or start a fresh "
                    "output directory."
                )
            if snap.get("checksum_ver") != CHECKSUM_VER:
                raise ValueError(
                    f"{out_dir} ({t}) was written under checksum recipe "
                    f"v{snap.get('checksum_ver')} (pre-multi-sink); this "
                    f"code records v{CHECKSUM_VER} checksums, so resumed parts "
                    "could not be integrity-compared against the committed "
                    "manifest. Start a fresh output directory (or re-run the "
                    "whole job into it)."
                )
        self.spark, self.out_dir, self.alias_pdf = spark, out_dir, alias_pdf
        self.n_parts, self.weights_map, self.retain = n_parts, weights_map, retain
        self.start = _manifest_parts(spark, out_dir)
        self.dict_state = build_dictionary_state(spark, alias_pdf)  # unit-invariant
        self.written: list[dict] = []
        self._lock = threading.Lock()

    def todo(self, table: str, pid: int) -> bool:
        return pid not in self.start[table]

    def commit(self, table: str, pid: int, df: DataFrame, rows_in: int) -> None:
        self.written.append(commit_part(
            self.spark, self.out_dir, table, pid, df, rows_in=rows_in,
            n_parts=self.n_parts, retain=self.retain, lock=self._lock))

    def run_unit(self, pid: int, slice_df: DataFrame, tables: list[str]) -> None:
        """One pipeline run over the unit's slice; commits each of ``tables``
        the start state lacks for ``pid``."""
        from pyspark import StorageLevel

        from .pipeline import edges_from_triples, run_pipeline

        obs = Observation(f"pages_in_{pid}")
        slice_df = slice_df.observe(obs, F.count(F.lit(1)).alias("rows_in"))
        out = run_pipeline(self.spark, slice_df, self.alias_pdf,
                           dict_state=self.dict_state, weights_map=self.weights_map)
        # the edges sink aggregates the triples the triples sink writes:
        # persisting them runs extract_triples once per unit, not per sink
        triples = out["triples"].persist(StorageLevel.MEMORY_AND_DISK)
        frames = {"triples": triples, "edges": edges_from_triples(triples),
                  "mentions": out["mentions"]}
        try:
            for table in tables:
                # after a crash between a unit's sink commits, only the
                # missing siblings commit: re-committing a manifested one
                # would append duplicate manifest/snapshot rows
                if self.todo(table, pid):
                    self.commit(table, pid, frames[table], int(obs.get["rows_in"]))
        finally:
            # K~10k units would otherwise pile up cached blocks for the
            # whole session (ADVICE r1)
            out["mentions"].unpersist()
            triples.unpersist()

    def run_units(self, units: list[tuple[int, DataFrame]], tables: list[str],
                  max_inflight: int, fail_after: int | None) -> None:
        """Run (pid, slice) ``units`` serially or ``max_inflight`` at once
        (driver threads). ``fail_after`` forces the serial path, the only
        one where it is well-defined."""
        from concurrent.futures import ThreadPoolExecutor

        if max_inflight <= 1 or fail_after is not None:
            for i, (pid, slice_df) in enumerate(units):
                if fail_after is not None and i >= fail_after:
                    raise RuntimeError(f"injected failure before part {pid}")
                self.run_unit(pid, slice_df, tables)
        else:
            with ThreadPoolExecutor(max_workers=max_inflight) as pool:
                # list() re-raises the first failure
                list(pool.map(lambda u: self.run_unit(*u, tables), units))

    def heal(self, tables: tuple[str, ...]) -> None:
        """Converge each snapshot to the manifest (start state ∪ this
        job's appends): a crash between append_manifest and write_snapshot
        leaves the pointer behind, and readers would silently drop the
        committed part."""
        for table in tables:
            done = self.start[table] | {
                r["part_id"] for r in self.written if r["stage"] == table}
            snap = current_snapshot(self.out_dir, table=table)
            if snap is None or set(snap["completed"]) != done:
                write_snapshot(self.spark, self.out_dir, self.n_parts,
                               table=table, retain=self.retain)

    def rows(self) -> list[dict]:
        return sorted(self.written, key=lambda r: (r["stage"], r["part_id"]))


def run_partitioned(
    spark: SparkSession,
    pages: DataFrame,
    alias_pdf: pd.DataFrame,
    out_dir: str,
    n_parts: int = 4,
    fail_after: int | None = None,
    weights_map: dict | None = None,
    max_inflight: int | None = None,
    sinks: tuple[str, ...] = ("triples",),
    retain: int | None = None,
) -> list[dict]:
    """Run the pipeline per work unit with resume. ``fail_after`` injects a
    crash after that many units (tests); ``weights_map`` (lang → params)
    runs inference from stored weights. Returns manifest rows written
    (sorted by (stage, part_id) — overlapped completion order is not
    semantic).

    Per the module rules: triples are computed once per unit (the edges
    sink aggregates the persisted triples), the manifest is read once per
    job, the closing heal uses start state ∪ this job's appends, and
    ``out_dir`` takes one writer at a time.

    ``max_inflight`` > 1 overlaps work units: up to that many units run as
    concurrent Spark jobs (driver threads; Spark's scheduler interleaves
    their stages), so the cluster never idles between a unit's final write
    and the next unit's first scan — at K ~ 10k units the serial loop's
    per-unit ramp-down/ramp-up gap is the dominant waste. The default
    (None) overlaps automatically — min(4, n_parts) once there are ≥3
    units; pass 1 to force the serial loop. Manifest append and snapshot
    commit stay serialized under a lock (commit protocol is still linear
    history); unit payloads are disjoint by construction
    (pmod(xxhash64(url))), so data writes never race.

    ``sinks`` selects the materialized tables: per-unit sinks
    ("triples", "edges", "mentions") write part_id=<pid>/ each unit and
    commit their own snapshot line (metadata/<table>/); the unit-invariant
    "entities" sink (dictionary ⋈ canonical map — identical whatever unit
    computes it) writes once as part_id=0 after the units. ``retain``
    bounds snapshot history per table (see expire_snapshots)."""
    per_unit = [s for s in sinks if s != "entities"]
    unknown = set(sinks) - {"triples", "edges", "mentions", "entities"}
    if unknown:
        raise ValueError(f"unknown sinks: {sorted(unknown)}")
    os.makedirs(out_dir, exist_ok=True)
    w = _Writer(spark, out_dir, alias_pdf, n_parts, weights_map, retain)
    staged = pages.withColumn(
        "part_id", F.pmod(F.xxhash64("url"), F.lit(n_parts)).cast("int")
    )
    pending = [
        (pid, staged.filter(F.col("part_id") == pid).drop("part_id"))
        for pid in range(n_parts)
        if any(w.todo(s, pid) for s in per_unit)
    ]
    if max_inflight is None:
        max_inflight = 1 if len(pending) < 3 else min(4, len(pending))
    w.run_units(pending, per_unit, max_inflight, fail_after)
    if "entities" in sinks and w.todo("entities", 0):
        # unit-invariant dimension: dict_state's canonical map ⋈ alias names
        from .pipeline import entities_table

        w.commit("entities", 0,
                 entities_table(spark, alias_pdf, w.dict_state["canon"]),
                 rows_in=len(alias_pdf))
    w.heal(sinks)
    return w.rows()


# ---------------------------------------------------------------------------
# Iceberg-style snapshot metadata: every commit appends snapshot-N.json (the
# manifest list at that point: completed parts + checksums + schema
# fingerprint) and flips the `current` pointer atomically (rename). Readers
# resolve the pointer and read exactly the files a committed snapshot covers
# — the shape a real catalog (Iceberg/Delta) would slot into behind the same
# module boundary.
# ---------------------------------------------------------------------------


def snapshot_tables(out_dir: str) -> list[str]:
    """Tables with a committed snapshot pointer in ``out_dir`` — the flat
    ``metadata/`` location is the triples table; each ``metadata/<name>/``
    subdirectory with a ``current`` pointer is another sink."""
    meta = os.path.join(out_dir, "metadata")
    out = ["triples"] if os.path.exists(os.path.join(meta, "current")) else []
    # _snapshots/ holds the root-layout tables (stream)
    for root in (meta, os.path.join(out_dir, "_snapshots")):
        if os.path.isdir(root):
            out += [d for d in sorted(os.listdir(root))
                    if os.path.exists(os.path.join(root, d, "current"))]
    return out


def _snapshot_dir(out_dir: str, table: str = "triples") -> str:
    """Per-table snapshot metadata. The triples (flagship) table keeps the
    historical flat ``metadata/`` location; every other sink namespaces
    under ``metadata/<table>/`` — except tables whose DATA lives at the
    out_dir root (the streaming sink): their metadata hides under
    ``_snapshots/<table>/``, because Spark's partition discovery over
    ``batch_id=*`` treats any non-underscore sibling directory as a
    conflicting partition root."""
    under = os.path.join(out_dir, "_snapshots", table)
    # route by layout — or by an existing _snapshots pointer, so every
    # table snapshot_tables() can discover also RESOLVES through here
    # (generic discovery + name-hardcoded routing would silently skip the
    # resume guards for any future root-layout table)
    if _TABLE_LAYOUT.get(table, (table,))[0] == "" \
            or os.path.exists(os.path.join(under, "current")):
        return under
    meta = os.path.join(out_dir, "metadata")
    return meta if table == "triples" else os.path.join(meta, table)


#: physical layout per table: (data subdir under out_dir, partition-dir
#: prefix). Batch sinks live at out_dir/<table>/part_id=N; the streaming
#: sink kept its historical layout (out_dir/batch_id=N, the partition key
#: IS the micro-batch id) when it joined the snapshot machinery in round 4.
_TABLE_LAYOUT: dict[str, tuple[str, str]] = {"stream_triples": ("", "batch_id")}


def _table_base(out_dir: str, table: str) -> tuple[str, str]:
    """(data base dir, partition-dir prefix) for a snapshotted table."""
    sub, prefix = _TABLE_LAYOUT.get(table, (table, "part_id"))
    return (os.path.join(out_dir, sub) if sub else out_dir), prefix


def write_snapshot(spark: SparkSession, out_dir: str, n_parts: int | None,
                   schema_json: str | None = None,
                   add_part: dict | None = None,
                   table: str = "triples",
                   retain: int | None = None) -> int:
    """Append snapshot-N.json + point `current` at it; returns N.

    With ``add_part`` the new snapshot is the previous manifest list plus
    that one entry — O(1) per commit, no Spark job under the commit lock
    (at K ~ 10k units, re-aggregating the whole manifest per commit is
    O(K²) total and serializes the overlapped units). Without it, the list
    is rebuilt from the ``_lineage`` manifest — the heal/bootstrap path.

    ``retain``: after committing, expire all but the newest ``retain``
    snapshot files (the new current is always kept) — without expiry, K
    commits each carrying the full manifest list cost O(K²) metadata
    bytes on disk at K ~ 10k."""
    import hashlib

    meta = _snapshot_dir(out_dir, table)
    os.makedirs(meta, exist_ok=True)
    prev = current_snapshot(out_dir, table=table)
    # next id = max EXISTING file + 1, not pointer + 1: after a crash between
    # writing snapshot-N.json and flipping `current` (pointer still N-1),
    # pointer+1 would silently REWRITE snapshot-N.json — snapshots are
    # immutable history (time-travel readers may pin N)
    existing = _snapshot_ids(meta)
    n = (existing[-1] + 1) if existing else 0
    if add_part is not None:
        base = prev["manifest"] if prev else []
        parts = sorted(
            [p for p in base if p["part_id"] != add_part["part_id"]] + [add_part],
            key=lambda p: p["part_id"],
        )
    else:
        parts = sorted(
            ({"part_id": int(r.part_id), "rows": int(r.rows_out), "checksum": r.checksum}
             for r in _latest_manifest_rows(spark, out_dir, table)),
            key=lambda p: p["part_id"],
        )
    if schema_json is None and prev is not None:
        schema_json = prev.get("schema_json")
    snap = {
        "snapshot_id": n,
        "table": table,
        # checksum recipe epoch: 2 = table_checksum hashes EVERY column of
        # the written part including part_id (the round-3 multi-sink
        # change). Snapshots written before the tag (or by pre-round-3
        # code) are not checksum-comparable; resume fails loud on them
        # instead of silently trusting incomparable digests.
        "checksum_ver": CHECKSUM_VER,
        "n_parts": n_parts,
        "parent_id": prev["snapshot_id"] if prev else None,
        "completed": [p["part_id"] for p in parts],
        "manifest": parts,
        "schema_json": schema_json,
        "schema_fingerprint": hashlib.sha256(
            (schema_json or "").encode()
        ).hexdigest()[:16],
    }
    with open(os.path.join(meta, f"snapshot-{n}.json"), "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    tmp = os.path.join(meta, "current.tmp")
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, os.path.join(meta, "current"))
    if table == "triples":
        # keep the legacy flat summary too (round-1 surface)
        with open(os.path.join(out_dir, "snapshot.json"), "w") as f:
            json.dump({"table": "triples", "n_parts": n_parts,
                       "completed": snap["completed"]}, f, indent=1, sort_keys=True)
    if retain is not None:
        expire_snapshots(out_dir, table=table, keep_last=retain)
    return n


def expire_snapshots(out_dir: str, table: str = "triples",
                     keep_last: int = 10) -> list[int]:
    """Delete all but the newest ``keep_last`` snapshot files (the current
    pointer's target is always kept). Returns the expired ids.

    Each snapshot carries the full manifest list, so K unexpired commits
    cost O(K²) metadata bytes — Iceberg's expire_snapshots exists for the
    same reason. Time-travel reads older than the retained window fail
    loudly afterwards (current_snapshot → None), never silently re-read."""
    meta = _snapshot_dir(out_dir, table)
    if not os.path.isdir(meta):
        return []
    ids = _snapshot_ids(meta)
    keep = set(ids[-max(keep_last, 1):])
    ptr = os.path.join(meta, "current")
    if os.path.exists(ptr):
        keep.add(_read_record(ptr, int))
    expired = [i for i in ids if i not in keep]
    for i in expired:
        os.remove(os.path.join(meta, f"snapshot-{i}.json"))
    return expired


def compact_table(spark: SparkSession, out_dir: str, table: str = "triples",
                  target_files: int = 1) -> dict[int, tuple[int, int]]:
    """Small-file compaction for a snapshotted sink: rewrite each committed
    part's many shuffle-task files as ``target_files`` coalesced files.

    At K ~ 10k work units each leaving shuffle_partitions-many small
    parquet files, scan planning and file-open overhead dominate reads —
    the standard lakehouse fix is an idempotent rewrite. Protocol per
    part: write the coalesced copy to ``_compact_tmp/<part>/`` (an
    underscore-prefixed sibling, so readers and ``<prefix>=*`` globs never
    see half-written or crash-orphaned copies — a bare ``<part>.compact.
    tmp`` at a root-layout table's data root would match the partition
    glob and double-read), verify its checksum equals the live part's,
    then swap. A crash between the swap's remove and rename leaves the
    tmp dir with the verified content; the next call heals it before
    compacting further. Checksums (and therefore the manifest and every
    snapshot) are invariant — compaction changes file layout, never
    content. Returns {part_id: (files_before, files_after)} for the parts
    rewritten. A part the snapshot records as NON-empty but whose
    directory is missing raises — silently skipping it would report a
    healthy compaction over lost data."""
    import shutil

    snap = current_snapshot(out_dir, table=table)
    parts = snap["completed"] if snap else []
    rows_by_part = {
        p["part_id"]: p.get("rows", 1) for p in (snap or {}).get("manifest", [])
    }
    base, prefix = _table_base(out_dir, table)
    stats: dict[int, tuple[int, int]] = {}
    for pid in parts:
        part = os.path.join(base, f"{prefix}={pid}")
        tmp = os.path.join(base, "_compact_tmp", f"{prefix}={pid}")
        # migrate pre-round-4 crash orphans at the legacy sibling location
        # ('<part>.compact.tmp'): heal a missing part from a verified copy,
        # remove a stale pre-verify orphan (it matches '<prefix>=*' globs)
        legacy = part + ".compact.tmp"
        if os.path.isdir(legacy):
            if not os.path.isdir(part) and not os.path.isdir(tmp):
                os.rename(legacy, part)
            else:
                shutil.rmtree(legacy)
        if not os.path.isdir(part) and not os.path.isdir(tmp):
            if rows_by_part.get(pid, 1) > 0:
                raise FileNotFoundError(
                    f"{table} part {pid}: snapshot records "
                    f"{rows_by_part.get(pid)} rows but {part} is missing — "
                    "data loss, refusing to report a clean compaction"
                )
            continue  # zero-row part (e.g. an empty replayed micro-batch)
        if not os.path.isdir(part) and os.path.isdir(tmp):
            os.rename(tmp, part)  # heal the crash window (content verified
            # before the interrupted swap began)
        elif os.path.isdir(tmp):
            shutil.rmtree(tmp)  # stale tmp from a pre-verify crash
        files = [f for f in os.listdir(part) if f.endswith(".parquet")]
        if len(files) <= target_files:
            continue
        live = spark.read.parquet(part)
        before = table_checksum(live)
        live.coalesce(target_files).write.mode("overwrite").parquet(tmp)
        after = table_checksum(spark.read.parquet(tmp))
        if after != before:
            shutil.rmtree(tmp)
            raise RuntimeError(
                f"compaction checksum mismatch for {table} part {pid}: "
                f"{before} != {after}; live part left untouched"
            )
        shutil.rmtree(part)
        os.rename(tmp, part)
        n_after = len(
            [f for f in os.listdir(part) if f.endswith(".parquet")]
        )
        stats[pid] = (len(files), n_after)
    return stats


def _read_record(path: str, parse):
    """``parse`` (int for a `current` pointer, json.loads for a snapshot
    file) of a commit-record file; a truncated or unparsable one raises a
    ValueError naming it."""
    with open(path) as f:
        text = f.read()
    try:
        return parse(text)
    except ValueError as e:  # json.JSONDecodeError is a ValueError
        raise ValueError(f"damaged commit record {path}: {e}") from e


def _snapshot_ids(meta: str) -> list[int]:
    return sorted(
        int(f[len("snapshot-"):-len(".json")])
        for f in os.listdir(meta)
        if f.startswith("snapshot-") and f.endswith(".json")
    )


def current_snapshot(out_dir: str, snapshot_id: int | None = None,
                     table: str = "triples") -> dict | None:
    """Resolve the `current` pointer (or a pinned id — time travel). A
    truncated or unparsable pointer or snapshot file raises ValueError
    naming the file."""
    meta = _snapshot_dir(out_dir, table)
    ptr = os.path.join(meta, "current")
    if snapshot_id is None:
        if not os.path.exists(ptr):
            return None
        snapshot_id = _read_record(ptr, int)
    path = os.path.join(meta, f"snapshot-{snapshot_id}.json")
    if not os.path.exists(path):
        return None
    return _read_record(path, json.loads)


def read_table(spark: SparkSession, out_dir: str, table: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Read any snapshotted sink via its pointer (pin ``snapshot_id`` for
    time travel); falls back to a directory glob when no snapshot exists.
    Zero-row parts are skipped — a copy-on-write tombstone's directory
    stays on disk for older snapshots, and an empty part's directory may
    be gone (gc_orphan_parts reclaims it), so neither path may reach the
    reader."""
    base, prefix = _table_base(out_dir, table)
    snap = current_snapshot(out_dir, snapshot_id, table=table)
    if snap is None and snapshot_id is not None:
        # an explicitly pinned snapshot that no longer resolves must fail
        # loud: the directory-glob fallback below would silently read a
        # DIFFERENT table state — after a copy-on-write rewrite it would
        # even double-read superseded part directories kept for time travel
        raise FileNotFoundError(
            f"{table} snapshot {snapshot_id} not found under {out_dir} "
            "(expired or never written); time travel past the retention "
            "window is unreadable by design"
        )
    if snap is not None:
        if snap.get("manifest"):
            parts = [p["part_id"] for p in snap["manifest"]
                     if p.get("rows", 1) > 0]
        else:
            parts = snap["completed"]
        paths = [os.path.join(base, f"{prefix}={p}") for p in parts]
        if not paths:
            # nothing readable on disk (e.g. every micro-batch replayed to
            # empty) — the snapshot's recorded schema builds the typed
            # empty frame; a parquet read of the bare base dir would fail
            # schema inference for root-layout tables
            if snap.get("schema_json"):
                from pyspark.sql.types import StructType

                return spark.createDataFrame(
                    [], StructType.fromJson(json.loads(snap["schema_json"]))
                )
            return spark.read.option("basePath", base).parquet(base).limit(0)
        return spark.read.option("basePath", base).parquet(*paths)
    return spark.read.option("basePath", base).parquet(
        os.path.join(base, f"{prefix}=*")
    )


def read_triples(spark: SparkSession, out_dir: str,
                 snapshot_id: int | None = None) -> DataFrame:
    return read_table(spark, out_dir, "triples", snapshot_id)


def read_edges(spark: SparkSession, out_dir: str,
               snapshot_id: int | None = None) -> DataFrame:
    """Global edge graph from the per-unit ``edges`` sink.

    The sink stores each work unit's PARTIAL aggregation (resume-friendly,
    idempotent per part — an edge whose supporting triples span units
    appears once per unit with a partial weight), so total weights require
    this re-aggregation on read. Reading ``out_dir/edges`` directly gives
    partials; use this helper for the graph the pre-multi-sink tool used
    to materialize."""
    e = read_table(spark, out_dir, "edges", snapshot_id)
    return e.groupBy("src", "dst", "rel").agg(F.sum("weight").alias("weight"))


def gc_orphan_parts(spark: SparkSession, out_dir: str,
                    table: str = "triples") -> list[int]:
    """Delete part directories no retained snapshot references — Iceberg's
    ``remove_orphan_files`` for this facade.

    Copy-on-write rewrites (:func:`~char_ner_spark.incremental.
    apply_dictionary_update`) leave each superseded part directory on disk
    because older snapshots still reference it for time travel; once those
    snapshots expire (:func:`expire_snapshots`), the directory is
    unreachable through any pointer and only wastes scan-planning time and
    storage. A part is LIVE (never collected) if any retained snapshot
    file lists it with rows > 0, or the lineage manifest's LATEST row for
    it has rows_out > 0 — the manifest is the heal-path source of truth,
    so a part whose snapshot commit crashed mid-window must survive GC for
    the heal to resurrect it. Returns the part ids removed."""
    import shutil

    meta = _snapshot_dir(out_dir, table)
    if not os.path.isdir(meta):
        return []
    live: set[int] = set()
    for i in _snapshot_ids(meta):
        snap = _read_record(os.path.join(meta, f"snapshot-{i}.json"), json.loads)
        if snap.get("manifest"):
            live |= {p["part_id"] for p in snap["manifest"]
                     if p.get("rows", 1) > 0}
        else:
            live |= set(snap.get("completed", []))
    live |= {int(r.part_id) for r in _latest_manifest_rows(spark, out_dir, table)
             if int(r.rows_out) > 0}
    base, prefix = _table_base(out_dir, table)
    if not os.path.isdir(base):
        return []
    removed: list[int] = []
    for d in sorted(os.listdir(base)):
        if not d.startswith(f"{prefix}="):
            continue
        try:
            pid = int(d[len(prefix) + 1:])
        except ValueError:
            continue
        if pid not in live:
            shutil.rmtree(os.path.join(base, d))
            removed.append(pid)
    return removed


#: ingested corpus slices take part ids from here: disjoint from the
#: original unit range [0, n_parts) and from the COW rewrite ranges, and
#: deterministic per (ingest_id, unit) so a crashed ingest RESUMES instead
#: of duplicating (pid = base + ingest_id * stride + unit)
INGEST_PID_BASE = 1 << 20
INGEST_PID_STRIDE = 1 << 10
#: highest permitted ingest_id: every ingest pid must stay below the
#: batch copy-on-write rewrite range (incremental._BATCH_REWRITE_PID_BASE
#: = 1 << 28) — a pid that crossed into it could collide with a rewrite
INGEST_MAX_ID = ((1 << 28) - INGEST_PID_BASE) // INGEST_PID_STRIDE - 1


def ingest_pages(
    spark: SparkSession,
    pages: DataFrame,
    alias_pdf: pd.DataFrame,
    out_dir: str,
    ingest_id: int,
    n_units: int = 1,
    weights_map: dict | None = None,
    fail_after: int | None = None,
    retain: int | None = None,
) -> list[dict]:
    """Append a NEW corpus slice to an existing batch output — the batch
    layout's corpus-delta path (the streaming sink covers continuous
    ingest; this covers 'a new crawl slice arrived for an out_dir built
    by run_partitioned').

    Contract: the slice's urls are disjoint from everything already in
    ``out_dir`` (same invariant the original unit partitioning guarantees
    between units — a repeated url would duplicate its triples; dedupe
    upstream). Part ids are allocated DETERMINISTICALLY as
    ``INGEST_PID_BASE + ingest_id * INGEST_PID_STRIDE + unit``, so:

    * they never collide with the original units, another ingest_id, or
      the COW-rewrite ranges;
    * re-running the same (ingest_id, pages) after a crash resumes —
      committed units are found in the manifest and skipped, exactly like
      run_partitioned (``fail_after`` injects a crash for tests);
    * the resume guard is untouched: snapshots keep the ORIGINAL n_parts,
      and a later run_partitioned over the original pages is still a
      no-op.

    Sinks follow what the out_dir already materializes (triples and, when
    present, edges/mentions); the unit-invariant entities dimension is
    dictionary-side and unchanged by a corpus delta. Units commit through
    the same per-unit path as run_partitioned (one pipeline run, one
    manifest read per call), serially. Returns the manifest rows written."""
    if not (0 <= ingest_id <= INGEST_MAX_ID) or not (
            1 <= n_units <= INGEST_PID_STRIDE):
        raise ValueError(
            f"0 <= ingest_id <= {INGEST_MAX_ID} and 1 <= n_units <= "
            f"{INGEST_PID_STRIDE} required (ids above the bound would "
            "collide with the copy-on-write rewrite range)")
    present = [t for t in snapshot_tables(out_dir)
               if t in ("triples", "edges", "mentions")]
    if not present:
        raise ValueError(
            f"{out_dir} has no batch sinks to ingest into (found "
            f"{snapshot_tables(out_dir)}); run run_partitioned first")
    snaps = [current_snapshot(out_dir, table=t) for t in present]
    n_parts_orig = next((s.get("n_parts") for s in snaps if s is not None), None)
    w = _Writer(spark, out_dir, alias_pdf, n_parts_orig, weights_map, retain)
    base_pid = INGEST_PID_BASE + ingest_id * INGEST_PID_STRIDE
    staged = pages.withColumn(
        "unit", F.pmod(F.xxhash64("url"), F.lit(n_units)).cast("int"))
    pending = [
        (base_pid + u, staged.filter(F.col("unit") == u).drop("unit"))
        for u in range(n_units)
        if any(w.todo(t, base_pid + u) for t in present)
    ]
    w.run_units(pending, present, max_inflight=1, fail_after=fail_after)
    return w.rows()
