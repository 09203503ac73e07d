"""Snapshot-versioned catalog on parquet — the Iceberg seam.

The reference persists its discover output to ``catalog.csv`` and
re-reads it in every later stage (SURVEY.md S12, /root/reference/
earth_data_kit/stitching/classes/dataset.py:279-284, 370-385); its
EDKDataset JSON (S13) is a hand-rolled snapshot index.  The proper
table-format semantics are Iceberg's; the sandbox has no Iceberg jar,
so this module provides the same contract on parquet + an atomically
replaced manifest (``os.replace``):

  * every write is a new immutable snapshot directory,
  * the manifest names the current snapshot + full history,
  * readers pin a snapshot (time travel) or follow current,
  * rollback = manifest pointer move,
  * per-file column ranges harvested from parquet footers at commit
    (``stats_cols``) → ``scan()`` skips files before Spark lists
    them — Iceberg's manifest-stats data skipping.

Swap-to-Iceberg: replace write()/read() bodies with
``df.writeTo(table)`` / ``spark.read.table(table)`` — the call sites
don't change (SURVEY.md §7.4-6).
"""

from __future__ import annotations

import fcntl
import json
import os
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def _stat_value(v, direction: int = 0):
    """JSON-storable form of a parquet min/max, or None if the type
    has no faithful, comparison-preserving JSON encoding.  datetimes/
    dates become ISO strings (lexicographic == chronological, so
    scan()'s interval test still works against ISO-string ranges);
    bytes and anything exotic drop to None → the file is kept
    conservatively rather than mis-pruned.

    ``direction`` keeps Decimal stats CONSERVATIVE under the float
    conversion: nearest-rounding can shrink a stored max (or inflate
    a min), letting scan()'s ``fmax < lo`` test prune a file that
    actually contains matching rows.  Pass -1 for a min (round toward
    -inf) / +1 for a max (round toward +inf) so the stored range is
    always a superset of the true one (advisor r3, medium)."""
    import datetime
    import decimal
    import math

    if isinstance(v, bool) or v is None:
        return None  # boolean ranges are useless for pruning
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)  # round-half-even: may land on either side
        if not math.isfinite(f):
            return None
        if direction < 0 and decimal.Decimal(f) > v:
            f = math.nextafter(f, -math.inf)
        elif direction > 0 and decimal.Decimal(f) < v:
            f = math.nextafter(f, math.inf)
        return f
    return None


def _collect_file_stats(snap_dir: Path, cols: list[str]) -> dict:
    """Per-file [min, max] for ``cols`` from parquet FOOTERS — no data
    pages are read (pyarrow exposes the row-group statistics the
    writer already embedded).  Driver-side loop over the snapshot's
    files: bounded by file count, not rows — the same work an Iceberg
    writer does when it builds its manifest.  Values are sanitized to
    JSON-storable forms HERE (inside the commit's try block) so a
    non-serializable stat can never fail the commit after the
    snapshot rename."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for f in sorted(snap_dir.glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        file_stats: dict[str, list] = {}
        for col in cols:
            ci = names.get(col)
            if ci is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            lo, hi = _stat_value(lo, direction=-1), _stat_value(hi, direction=1)
            if ok and lo is not None and hi is not None:
                file_stats[col] = [lo, hi]
        out[f.name] = file_stats
    # fail HERE (caller's try block cleans the in-flight dir) rather
    # than after the snapshot rename if anything slipped through
    json.dumps(out)
    return out


class SnapshotConflict(RuntimeError):
    """A commit's base snapshot was superseded before it could flip
    the manifest (optimistic-concurrency abort; the caller retries)."""


class Catalog:
    def __init__(self, base_dir: str):
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)

    def _manifest_path(self, table: str) -> Path:
        return self.base / table / "manifest.json"

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not p.exists():
            return {"current": None, "history": []}
        return json.loads(p.read_text())

    @contextmanager
    def _commit_lock(self, table: str):
        """Serializes manifest read-modify-write across WRITERS (flock
        on a sidecar file — released on close even if the holder
        dies).  Readers never take it: they read one immutable
        manifest state via the atomic os.replace, Iceberg's
        snapshot-isolation contract."""
        d = self.base / table
        d.mkdir(parents=True, exist_ok=True)
        fd = os.open(str(d / ".commit.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            os.close(fd)  # releases the flock

    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "replace",
        stats_cols: list[str] | None = None,
    ) -> int:
        """Commit a new snapshot; returns its id.

        Concurrency-safe commit protocol (the Iceberg analog): BOTH
        modes write their data into a uniquely named in-flight
        directory WITHOUT any lock (the long part).  A snapshot is a
        LIST of immutable data dirs; ``append`` is O(delta) — it
        never reads or rewrites existing data, it resolves the
        current snapshot's dir list AT LOCK TIME and adds its own
        dir, so interleaved appends compose instead of dropping each
        other.  Only the manifest flip (rename in-flight dir, extend
        history, move current) serializes under the table's flock —
        Iceberg's optimistic-append commit shape.  ``stats_cols``
        harvests per-file column ranges into the snapshot's stats
        sidecar (appends merge the parent sidecar) for ``scan()``
        data skipping.

        A writer dying mid-commit leaks only a ``.snap-inflight-*``
        directory; the failure path removes it eagerly and every
        locked commit sweeps leftovers older than an hour."""
        return self._commit_data(df, table, mode, stats_cols=stats_cols)

    _INFLIGHT_TTL_S = 3600.0

    def _sweep_inflight(self, table: str) -> None:
        """Remove crash-orphaned in-flight dirs / manifest temps older
        than the TTL (called only under the commit lock, so nothing
        swept can belong to a live commit that has reached the lock;
        a still-WRITING commit older than the TTL would lose its
        in-flight data and fail at rename — acceptable for a stale
        hour-old writer)."""
        import shutil

        now = time.time()
        for p in (self.base / table).glob(".snap-inflight-*"):
            if now - p.stat().st_mtime > self._INFLIGHT_TTL_S:
                shutil.rmtree(p, ignore_errors=True)
        for p in (self.base / table).glob("manifest.json.tmp-*"):
            if now - p.stat().st_mtime > self._INFLIGHT_TTL_S:
                p.unlink(missing_ok=True)

    def _commit_data(
        self,
        df: DataFrame,
        table: str,
        mode: str,
        stats_cols: list[str] | None = None,
        require_base: int | None = None,
    ) -> int:
        """O(delta) commits: the data write (the long part) happens
        OUTSIDE the lock for BOTH modes — append never reads or
        rewrites existing data.  A snapshot is a LIST of immutable
        data dirs: replace starts a fresh list; append takes the
        current snapshot's list AT LOCK TIME (so interleaved appends
        compose instead of dropping each other) and adds its own dir.
        Only the manifest flip serializes — Iceberg's optimistic-
        append shape."""
        import shutil

        inflight = self.base / table / f".snap-inflight-{uuid.uuid4().hex}"
        schema_map = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        try:
            df.write.mode("overwrite").parquet(str(inflight))
            new_stats = _collect_file_stats(inflight, stats_cols) if stats_cols else None
        except BaseException:
            shutil.rmtree(inflight, ignore_errors=True)
            raise

        with self._commit_lock(table):
            man = self._load_manifest(table)
            if mode == "append" and man["current"] is not None:
                # schema compatibility: the dir-list append never unions,
                # so validate explicitly (unionByName used to raise here);
                # mixed-schema dirs would otherwise read back silently
                # wrong (missing columns null, extras dropped)
                cur = next(h for h in man["history"] if h["id"] == man["current"])
                if cur["schema"] != schema_map:
                    shutil.rmtree(inflight, ignore_errors=True)
                    raise ValueError(
                        f"append schema mismatch for {table!r}: "
                        f"table has {cur['schema']}, append brings {schema_map}"
                    )
            if require_base is not None and man["current"] != require_base:
                # optimistic-concurrency validation (compact): the
                # snapshot this commit was derived from is no longer
                # current — abort, caller retries against the new base
                shutil.rmtree(inflight, ignore_errors=True)
                raise SnapshotConflict(
                    f"base snapshot {require_base} superseded by {man['current']}"
                )
            self._sweep_inflight(table)
            snap_id = int(time.time() * 1000)
            if man["history"] and snap_id <= man["history"][-1]["id"]:
                snap_id = man["history"][-1]["id"] + 1
            own_dir = f"snap-{snap_id}"
            os.replace(inflight, self.base / table / own_dir)
            dirs = [own_dir]
            stats = {f"{own_dir}/{k}": v for k, v in (new_stats or {}).items()}
            if mode == "append" and man["current"] is not None:
                parent = next(h for h in man["history"] if h["id"] == man["current"])
                dirs = parent["dirs"] + dirs
                parent_sidecar = self.base / table / f"snap-{man['current']}.stats.json"
                if parent_sidecar.exists():
                    stats = {**json.loads(parent_sidecar.read_text()), **stats}
            if stats:
                # Iceberg-manifest analog: per-file column ranges in an
                # immutable per-snapshot sidecar (relative-path keys),
                # written before the manifest flip
                (self.base / table / f"snap-{snap_id}.stats.json").write_text(
                    json.dumps(stats)
                )
            man["history"].append(
                {
                    "id": snap_id,
                    "committed_at": time.time(),
                    "mode": mode,
                    "dirs": dirs,
                    "schema": schema_map,
                }
            )
            man["current"] = snap_id
            self._replace_manifest(table, man)
            return snap_id

    def _replace_manifest(self, table: str, man: dict) -> None:
        tmp = self._manifest_path(table).with_suffix(f".json.tmp-{uuid.uuid4().hex}")
        tmp.parent.mkdir(parents=True, exist_ok=True)
        tmp.write_text(json.dumps(man))
        os.replace(tmp, self._manifest_path(table))  # atomic commit

    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        _, dirs = self._resolve_snapshot(table, snapshot)
        return spark.read.parquet(*[str(self.base / table / d) for d in dirs])

    def _resolve_snapshot(self, table: str, snapshot: int | None) -> tuple[int, list[str]]:
        man = self._load_manifest(table)
        snap = snapshot if snapshot is not None else man["current"]
        if snap is None:
            raise FileNotFoundError(f"catalog table {table!r} has no snapshots")
        entry = next((h for h in man["history"] if h["id"] == snap), None)
        if entry is None:
            ids = sorted(h["id"] for h in man["history"])
            raise KeyError(f"unknown snapshot {snap} for {table!r} (have {ids})")
        return snap, entry["dirs"]

    def scan(
        self,
        spark: SparkSession,
        table: str,
        ranges: dict[str, tuple[float, float]],
        snapshot: int | None = None,
    ) -> DataFrame:
        """Stats-pruned read — Iceberg's data-skipping contract.

        ``ranges`` maps column → (lo, hi) inclusive.  Files whose
        manifest-recorded [min, max] (parquet footer stats harvested
        at commit, zero data read) don't intersect EVERY range are
        dropped from the listing before Spark ever sees them — at
        10^12 rows this is the difference between listing a handful
        of files and scanning a table.  The range predicates are
        ALSO applied to the surviving rows, so the result equals
        ``read().where(...)`` exactly; a file with no recorded stats
        for a column is conservatively kept.  Requires the snapshot
        to have been written with ``stats_cols`` covering the range
        columns (falls back to a plain filtered read otherwise).
        Timestamp/date stats are stored as ISO strings (lexicographic
        order == chronological) — pass ISO strings as that column's
        (lo, hi)."""
        from pyspark.sql import functions as F

        snap, dirs = self._resolve_snapshot(table, snapshot)
        tdir = self.base / table
        stats_p = tdir / f"snap-{snap}.stats.json"

        def _with_filters(df: DataFrame) -> DataFrame:
            for col, (lo, hi) in ranges.items():
                df = df.where((F.col(col) >= lo) & (F.col(col) <= hi))
            return df

        missing = [d for d in dirs if not (tdir / d).is_dir()]
        if missing:
            # a concurrently-expired snapshot must FAIL like read()
            # would, not silently return the surviving dirs' subset
            raise FileNotFoundError(
                f"snapshot {snap} of {table!r} lost data dirs {missing} (expired?)"
            )
        all_dirs = [str(tdir / d) for d in dirs]
        if not stats_p.exists():
            return _with_filters(spark.read.parquet(*all_dirs))
        stats: dict[str, dict[str, list]] = json.loads(stats_p.read_text())
        # walk the snapshot's actual file listing; a file the sidecar
        # doesn't know (e.g. appended without stats_cols) is KEPT —
        # pruning must only ever drop provably-out-of-range files
        keep = []
        for d in dirs:
            for f in sorted((tdir / d).glob("*.parquet")):
                cols = stats.get(f"{d}/{f.name}")
                ok = True
                if cols is not None:
                    for col, (lo, hi) in ranges.items():
                        rng = cols.get(col)
                        if rng is None:
                            continue  # no stats for this column → keep
                        fmin, fmax = rng
                        if fmin is None or fmax is None:
                            continue
                        if fmax < lo or fmin > hi:
                            ok = False
                            break
                if ok:
                    keep.append(str(f))
        if not keep:
            # empty result with the right schema
            return _with_filters(spark.read.parquet(*all_dirs)).limit(0)
        return _with_filters(spark.read.parquet(*keep))

    def history(self, table: str) -> list[dict]:
        return self._load_manifest(table)["history"]

    def compact(
        self,
        table: str,
        spark: SparkSession,
        stats_cols: list[str] | None = None,
        max_retries: int = 3,
    ) -> int:
        """Rewrite the current snapshot's dir list into ONE fresh dir
        — the maintenance pass a long append chain needs; history
        keeps the old snapshots for time travel until
        expire_snapshots drops them.

        Compaction is a read-modify-write whose data pass runs
        outside the lock, so it validates its BASE snapshot at lock
        time (``require_base``): a replace/append committed while the
        rewrite ran supersedes the base, the commit aborts with
        SnapshotConflict and the rewrite retries against the new
        current — Iceberg's validate-and-retry rewrite, which is what
        keeps a concurrent append's rows from being silently dropped.
        """
        if max_retries < 1:
            raise ValueError("max_retries must be >= 1")
        last: SnapshotConflict | None = None
        for _ in range(max_retries):
            base, _dirs = self._resolve_snapshot(table, None)
            df = self.read(spark, table, snapshot=base)
            try:
                return self._commit_data(
                    df, table, "replace", stats_cols=stats_cols, require_base=base
                )
            except SnapshotConflict as exc:
                last = exc
        raise last  # type: ignore[misc]

    def expire_snapshots(self, table: str, keep_last: int = 1) -> list[int]:
        """Garbage collection: drop all but the last ``keep_last``
        history entries (the current snapshot is always kept), then
        delete data dirs and stats sidecars no retained snapshot
        references.  Dirs are SHARED across append chains, so
        deletion is computed from the retained entries' dir lists —
        never from snapshot ids.  Returns the expired snapshot ids."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (current is always retained)")
        with self._commit_lock(table):
            man = self._load_manifest(table)
            hist = man["history"]
            if len(hist) <= keep_last:
                return []
            keep_entries = hist[-keep_last:]
            if man["current"] is not None and all(
                h["id"] != man["current"] for h in keep_entries
            ):
                keep_entries = [
                    next(h for h in hist if h["id"] == man["current"])
                ] + keep_entries
            keep_ids = {h["id"] for h in keep_entries}
            expired = [h["id"] for h in hist if h["id"] not in keep_ids]
            referenced = {d for h in keep_entries for d in h["dirs"]}
            for h in hist:
                if h["id"] in keep_ids:
                    continue
                for d in h["dirs"]:
                    if d not in referenced:
                        shutil.rmtree(self.base / table / d, ignore_errors=True)
                (self.base / table / f"snap-{h['id']}.stats.json").unlink(missing_ok=True)
            man["history"] = [h for h in hist if h["id"] in keep_ids]
            self._replace_manifest(table, man)
            return expired

    def rollback(self, table: str, snapshot: int) -> None:
        with self._commit_lock(table):
            man = self._load_manifest(table)
            if snapshot not in {h["id"] for h in man["history"]}:
                raise KeyError(f"unknown snapshot {snapshot}")
            man["current"] = snapshot
            self._replace_manifest(table, man)
