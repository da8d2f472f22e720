"""Iceberg-layout checkpointed, resumable, snapshot-isolated writer.

No Iceberg runtime jar exists in this sandbox (BASELINE.md), so this
implements the *protocol* Iceberg provides — MVCC snapshot isolation
via an atomic metadata pointer over immutable data, per-partition
manifests with lineage + metrics, idempotent partition rewrites —
over partitioned Parquet:

    <root>/data/part=<p>/snapv=<v>/*.parquet   (immutable once committed)
    <root>/deletes/delv=<v>/part=<p>/*.parquet (merge-on-read delete files)
    <root>/metadata/manifest-<p>-v<v>.json     (files, stats, lineage per part version)
    <root>/metadata/snapshot-<n>.json          (maps part -> version)
    <root>/metadata/CURRENT                    (atomic pointer, tmp+rename)

**MVCC**: a rewrite of partition p writes a NEW ``snapv`` directory and
the new snapshot points at it; the previous version's files are
untouched, so a reader that resolved an older snapshot keeps reading
consistent data for as long as it runs (until ``expire_snapshots``
garbage-collects). This is what in-place dynamic overwrite cannot
give — there, the old snapshot's "committed" partition is deleted
mid-rewrite under the reader.

**Metadata protocol**, one rule each:

- *Claims*: data versions, schemas and partition specs are ids claimed
  by creating ``metadata/<kind>-<n>`` exclusively (O_EXCL), so two
  writers never share an id and no claimed file is ever overwritten.
  Versions are their own namespace and start at the next snapshot id,
  so a version id is never issued twice.
- *Commits*: every commit is a change (parts to set, parts to drop)
  plus the checks the writer's work rests on (base part versions,
  merge-on-read row state, schema id, application keys), applied under
  the commit lock to the LATEST snapshot. A failed check raises
  :class:`ConcurrentWriteConflict`; whatever else landed meanwhile is
  kept.
- *GC*: a file set (a version's directory and manifest, or a delete-file
  directory) that no kept snapshot references is removed when an
  expired snapshot referenced it (``expire_snapshots``), or when its
  newest file is older than a grace period (``remove_orphans``). A
  schema or partition-spec file goes by the grace period alone, once
  no kept snapshot and no kept manifest names its id. A writer between
  its write and its commit is referenced by nothing, so only the grace
  period can take its files — never an expiry.

Resume: a killed run leaves data files but no snapshot for its
partitions; the next run lists committed partitions from CURRENT's
snapshot, recomputes ONLY the missing ones into a freshly claimed
version, and commits. The killed run's files are orphans for
``remove_orphans``. Readers only ever follow CURRENT → committed
versions.

Time travel: ``read_tier(spark, snapshot_id=n)`` reads the exact
partition-version set snapshot n committed.

**One read path**: every read (``read_tier`` with or without a prune,
``read_parts``, ``read_changes``, the DML and compaction rewrites) is
one plan over manifest file lists — never a directory listing or a
footer inference — and one scan per written schema. ``plan_files``
returns the exact data files of each base version and each
merge-on-read ``adds`` version, minus those whose stats cannot meet a
prune; the scan reads them under the registered schema's DDL with the
partition column as ``bigint`` (writers refuse non-integer partition
columns). Layouts this reader does not serve — list-form snapshot
parts (pre-MVCC loose files), manifests without a file list or a
schema id, snapshots with parts but no schema — raise ``ValueError``.

**Schema evolution** (field-id based, the Iceberg model): the table
schema is a list of ``{id, name, type}`` fields stored in immutable
``metadata/schema-<n>.json`` files; each snapshot carries its
``schema_id`` and each manifest records the schema its files were
WRITTEN under. Reads map written columns to the target snapshot's
schema **by field id** — so ``rename_column`` is a metadata-only
commit (zero data rewritten, old files keep serving under the new
name), ``add_column`` back-fills NULL on pre-existing files,
``widen_column`` (int→bigint chain, float→double) casts at read time,
and ``drop_column`` projects the column away without touching data
(re-adding the same name later mints a NEW field id, so dropped data
never resurrects). Writes auto-merge genuinely new columns into a new
schema version; incompatible type changes are refused. Evolution
commits are validated against the base schema id under the commit
lock, so two concurrent evolutions conflict instead of silently
clobbering each other.

Where a real Iceberg catalog exists this module is replaced by
``df.writeTo(table).overwritePartitions()`` — the pipeline code only
depends on ``write_tier``/``overwrite_parts``/``read_tier``.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from zoneinfo import ZoneInfo


class ConcurrentWriteConflict(RuntimeError):
    """Another writer rewrote a partition this commit also writes,
    after this writer's base snapshot was read (Iceberg's commit
    validation failure). The losing writer's data files are orphans in
    their own ``snapv`` directory — committed data is untouched."""

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

DEFAULT_PART_SECONDS = 7 * 86400  # weekly time partitions (spec 0)


_STAT_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "string", "date", "timestamp", "timestamp_ntz",
)


def _stat_form(v, dtype: str, zone):
    """A footer bound in the manifest's form: numbers and strings as
    they are, dates and timestamps as Spark's CAST(... AS STRING)."""
    if v is None or dtype not in ("date", "timestamp", "timestamp_ntz"):
        return v
    if dtype == "date":
        return v.isoformat()
    if dtype == "timestamp":
        if zone is None:
            return None
        v = v.astimezone(zone).replace(tzinfo=None)
    frac = f".{v.microsecond:06d}".rstrip("0") if v.microsecond else ""
    return v.isoformat(" ", "seconds") + frac


def _footer_metrics(path: str, stat_types: dict[str, str], zone) -> dict:
    """Row count and per-column [min, max] of one parquet file, read
    from its footer. A column with no footer bounds on a row group that
    holds non-null values (INT96 timestamps, over-long strings) records
    [None, None], which plan_files keeps as unprunable."""
    md = pq.read_metadata(path)
    index = {md.schema.column(i).path: i for i in range(md.num_columns)}
    stats = {}
    for c, dtype in stat_types.items():
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            s = rg.column(index[c]).statistics
            if s is not None and s.has_min_max:
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            elif s is None or s.null_count != rg.num_rows:
                lo = hi = None
                break
        stats[c] = [_stat_form(v, dtype, zone) for v in (lo, hi)]
    return {"rows": md.num_rows, "stats": stats}


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _read_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _meta_id(name: str, prefix: str, suffix: str = ".json") -> int | None:
    """The id ``n`` of a ``<prefix>-<n><suffix>`` metadata file name,
    else None."""
    n = name[len(prefix) + 1 : len(name) - len(suffix)]
    if name.startswith(f"{prefix}-") and name.endswith(suffix) and n.isdigit():
        return int(n)
    return None


# metadata files a snapshot references by id: (file prefix, snapshot key)
_META_SETS = (("schema", "schema_id"), ("part-spec", "part_spec_id"))


def _listdir(path: str) -> list[str]:
    return sorted(os.listdir(path)) if os.path.isdir(path) else []


def _newest(paths: list[str]) -> float:
    """The newest mtime among ``paths`` (files, and the top-level
    entries of directories); 0 when there is none."""
    times = [0.0]
    for path in paths:
        if os.path.isdir(path):
            times += [os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)]
        elif os.path.exists(path):
            times.append(os.path.getmtime(path))
    return max(times)


class IcebergLayoutTable:
    DEFAULT_SORT_ORDER = ("url", "bucket_s")

    def __init__(
        self,
        root: str,
        sort_order: tuple[str, ...] | None = None,
        cluster_writes: bool = True,
        branch: str = "main",
    ):
        # ``branch``: every read and commit on this handle resolves
        # through the named branch ref instead of CURRENT ("main").
        # Branch handles enable write-audit-publish: stage commits on
        # a branch (main readers never see them), validate, then
        # ``publish_branch`` fast-forwards main atomically.
        self.root = root
        self.branch = branch
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")
        # cluster_writes=False keeps the caller's partitioning (files
        # land as tasks emit them — the small-file regime compact_parts
        # exists for, and what streaming micro-batches produce)
        self.cluster_writes = cluster_writes
        # write clustering (Iceberg's write.distribution-mode=hash +
        # sort-order analog): columns present in the frame are used to
        # sort rows WITHIN each output file, after a REBALANCE shuffle
        # on the partition column. Without it, tier data arrives
        # url-hash-partitioned and partitionBy(part) scatters every
        # task across every partition directory — file count grows as
        # tasks x parts (100k+ files per write on a 1000-executor
        # cluster); with it, files per part are bounded by AQE's
        # rebalance (1 for normal parts, split only when skewed) and
        # row groups are url-clustered (RLE/dict encoding + min/max
        # pruning for per-url reads).
        # sort_order=None resolves lazily: explicit arg > the value
        # persisted in the current snapshot (commits record it, so a
        # fresh handle — e.g. the maintenance CLI — compacts/stats the
        # same columns the writer clustered) > the tier default.
        self._sort_order = tuple(sort_order) if sort_order else None
        os.makedirs(self.meta_dir, exist_ok=True)

    @property
    def sort_order(self) -> tuple[str, ...]:
        if self._sort_order:
            return self._sort_order
        snap = self.current_snapshot() or {}
        persisted = snap.get("sort_order")
        return tuple(persisted) if persisted else self.DEFAULT_SORT_ORDER

    # ------------------------------------------------------------ metadata
    def _ref_path(self, branch: str | None = None) -> str:
        b = self.branch if branch is None else branch
        return os.path.join(
            self.meta_dir, "CURRENT" if b == "main" else f"branch-{b}.json"
        )

    def current_snapshot(self) -> dict | None:
        cur = _read_json(self._ref_path())
        if not cur:
            if self.branch != "main":
                raise FileNotFoundError(
                    f"no branch {self.branch!r} in {self.meta_dir} — "
                    "create_branch first"
                )
            return None
        return self.snapshot(None, cur["snapshot"])

    def snapshot(self, snapshot_id: int | None, name: str | None = None) -> dict | None:
        if name is None:
            name = f"snapshot-{snapshot_id}.json"
        snap = _read_json(os.path.join(self.meta_dir, name))
        if snap and isinstance(snap.get("parts"), list):
            self._refuse_layout(name, "lists its parts without versions", "pre-MVCC")
        if snap and snap["parts"] and snap.get("schema_id") is None:
            self._refuse_layout(name, "has parts but no schema_id", "schema-less")
        return snap

    def _refuse_layout(self, name: str, what: str, layout: str):
        raise ValueError(
            f"{self.root}: {name} {what} — the {layout} table layout is not "
            "read; rewrite the table with a current writer"
        )

    # ------------------------------------------------------------ branches
    def create_branch(self, name: str, from_snapshot: int | None = None) -> dict:
        """Create a branch ref pointing at ``from_snapshot`` (default:
        the current head of THIS handle's branch). Writes through an
        ``IcebergLayoutTable(root, branch=name)`` handle then chain
        snapshots on the branch — main readers never see them until
        :meth:`publish_branch` (the write-audit-publish pattern)."""
        if name == "main":
            raise ValueError("'main' is the default ref — cannot create it")
        if from_snapshot is None:
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError("empty table: nothing to branch from")
            from_snapshot = snap["snapshot_id"]
        ref = self._ref_path(name)
        sname = f"snapshot-{from_snapshot}.json"
        if self.snapshot(None, sname) is None:
            raise FileNotFoundError(f"no snapshot {from_snapshot} to branch from")
        with self._commit_lock():
            if os.path.exists(ref):
                raise ConcurrentWriteConflict(f"branch {name!r} already exists")
            _atomic_write_json(ref, {"snapshot": sname})
        return {"branch": name, "snapshot_id": from_snapshot}

    def list_branches(self) -> dict[str, int]:
        """All refs (including main) → their head snapshot ids."""
        out = {}
        for f in sorted(os.listdir(self.meta_dir)):
            if f == "CURRENT":
                b = "main"
            elif f.startswith("branch-") and f.endswith(".json"):
                b = f[len("branch-"):-len(".json")]
            else:
                continue
            ref = _read_json(os.path.join(self.meta_dir, f))
            if ref:
                out[b] = _meta_id(ref["snapshot"], "snapshot")
        return out

    def publish_branch(self, name: str) -> dict:
        """Fast-forward main to the branch head — the atomic PUBLISH
        of write-audit-publish. Valid only when main's current head is
        an ancestor of the branch head (walked via parent pointers);
        if main advanced since the branch was cut, raises
        :class:`ConcurrentWriteConflict` — re-branch and replay, the
        same rule as Iceberg's fast-forward. The branch ref survives
        (now pointing at main's head); ``drop_branch`` removes it."""
        with self._commit_lock():
            ref = _read_json(self._ref_path(name))
            if ref is None:
                raise FileNotFoundError(f"no branch {name!r} in {self.meta_dir}")
            cur = _read_json(os.path.join(self.meta_dir, "CURRENT"))
            main_id = (
                self.snapshot(None, cur["snapshot"])["snapshot_id"]
                if cur else None
            )
            head = self.snapshot(None, ref["snapshot"])
            head_id = head["snapshot_id"]
            if main_id is not None and all(
                s["snapshot_id"] != main_id for s in self._ancestry(head)
            ):
                raise ConcurrentWriteConflict(
                    f"main advanced past branch {name!r}'s base "
                    f"(main={main_id}, not an ancestor of branch head "
                    f"{head_id}) — re-branch from current main and replay"
                )
            _atomic_write_json(
                os.path.join(self.meta_dir, "CURRENT"), dict(ref)
            )
        return {"branch": name, "published_snapshot_id": head_id}

    def drop_branch(self, name: str) -> None:
        """Delete a branch ref; its unpublished snapshots become
        expirable by :meth:`expire_snapshots` / orphan GC."""
        with contextlib.suppress(OSError):
            os.remove(self._ref_path(name))

    def snapshot_as_of(self, ts: float) -> dict:
        """Timestamp time travel (``FOR SYSTEM_TIME AS OF``): the
        newest snapshot on THIS ref's history whose commit time is
        ≤ ``ts`` (epoch seconds), found by walking parent pointers
        from the head — never a snapshot from another branch."""
        for node in self._ancestry(self.current_snapshot()):
            if node.get("committed_at", 0) <= ts:
                return node
        raise FileNotFoundError(
            f"no snapshot at or before ts={ts} on branch {self.branch!r}"
        )

    def _ancestry(self, snap: dict | None):
        """``snap`` and its ancestors, newest first, along the parent
        pointers (up to the first one expired)."""
        while snap is not None:
            yield snap
            parent = snap.get("parent")
            snap = self.snapshot(parent) if parent is not None else None

    def _resolve(self, snapshot_id: int | None, required: bool = False) -> dict | None:
        """Snapshot ``snapshot_id`` (None = this ref's head); with
        ``required``, a missing one raises FileNotFoundError."""
        snap = self.current_snapshot() if snapshot_id is None else self.snapshot(snapshot_id)
        if snap is None and required:
            raise FileNotFoundError(
                f"no snapshot {'CURRENT' if snapshot_id is None else snapshot_id} "
                f"in {self.meta_dir}"
            )
        return snap

    def committed_parts(self, snapshot_id: int | None = None) -> set[str]:
        snap = self._resolve(snapshot_id)
        return set(snap["parts"]) if snap else set()

    def part_versions(self, snapshot_id: int | None = None) -> dict[str, int]:
        snap = self._resolve(snapshot_id)
        return dict(snap["parts"]) if snap else {}

    def lineage(self) -> list[dict]:
        """Manifests of every live data-file set (base versions plus
        merge-on-read appended versions). Row counts are PHYSICAL —
        merge-on-read deletes are not subtracted until compaction."""
        snap = self.current_snapshot()
        if not snap:
            return []
        return [self._manifest(p, v) for p, v in sorted(self._version_pairs(snap))]

    def _ids(self, prefix: str, suffix: str = ".json") -> list[int]:
        """The ids of the ``<prefix>-<n><suffix>`` files in metadata/,
        ascending. Snapshot ids are one namespace across every branch."""
        ids = (_meta_id(f, prefix, suffix) for f in os.listdir(self.meta_dir))
        return sorted(n for n in ids if n is not None)

    def _next_id(self, prefix: str) -> int:
        return max(self._ids(prefix), default=-1) + 1

    def _claim(self, prefix: str, body: dict | None = None, floor: int = 0) -> int:
        """Claim the lowest free id from max(next ``prefix`` id,
        ``floor``) up by creating its file exclusively (O_EXCL):
        ``<prefix>-<n>.json`` holding ``body``, or an empty
        ``<prefix>-<n>.claim`` marker without one. Concurrent claimers
        get distinct ids and no claimed file is overwritten; an id whose
        commit loses its race is an orphan.

        Data versions are claimed as markers from the next snapshot id
        (``floor``): concurrent writers land in DISTINCT ``snapv``
        directories, and a marker dropped below that id can never be
        claimed again."""
        n = max(self._next_id(prefix), floor)
        suffix = ".claim" if body is None else ".json"
        while True:
            try:
                fd = os.open(
                    os.path.join(self.meta_dir, f"{prefix}-{n}{suffix}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
            except FileExistsError:
                n += 1
                continue
            with os.fdopen(fd, "w") as f:
                if body is not None:
                    json.dump(body, f, indent=1, sort_keys=True)
                    f.flush()
                    os.fsync(f.fileno())
            return n

    @contextlib.contextmanager
    def _commit_lock(self, timeout_s: float = 30.0, stale_s: float = 120.0):
        """Filesystem mutex for the read-validate-write commit section
        (the CAS primitive a real Iceberg catalog provides). Stale
        locks (a writer that died mid-commit) are broken after
        ``stale_s``."""
        path = os.path.join(self.meta_dir, "COMMIT.lock")
        t0 = time.time()
        while True:
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{os.getpid()} {time.time()}".encode())
                os.close(fd)
                break
            except FileExistsError:
                if time.time() - t0 > timeout_s:
                    raise TimeoutError(f"commit lock busy > {timeout_s}s: {path}")
                # judge staleness by the timestamp the holder wrote
                # INTO the lock (falls back to mtime for empty/corrupt
                # locks) — the same identity the break path below uses
                # to decide whether it stole a fresh lock, so a
                # restored lock is never immediately re-broken
                try:
                    try:
                        with open(path) as fh:
                            born = float(fh.read().split()[1])
                    except (IndexError, ValueError):
                        born = os.path.getmtime(path)
                    age = time.time() - born
                except OSError:
                    continue  # raced with a release — retry
                if age > stale_s:
                    # break the stale lock by ATOMIC RENAME, not bare
                    # remove: with remove, two waiters can both judge
                    # the lock stale, the first deletes + re-creates,
                    # and the second's remove then deletes the FRESH
                    # lock — two writers in the commit section. Rename
                    # moves exactly one inode, so exactly one breaker
                    # wins; any lock created after the rename is
                    # respected by the O_EXCL create above.
                    grave = os.path.join(
                        self.meta_dir,
                        f"COMMIT.lock.stale-{os.getpid()}-{time.monotonic_ns()}",
                    )
                    try:
                        os.rename(path, grave)
                    except OSError:
                        continue  # someone broke/released it first
                    # narrow residual race: if the inode we moved was
                    # actually a FRESH lock re-created in the
                    # getmtime→rename window, put it back (os.link is
                    # atomic-exclusive — it refuses if a newer lock
                    # already took the path)
                    try:
                        with open(grave) as fh:
                            born = float(fh.read().split()[1])
                        stolen_fresh = time.time() - born <= stale_s
                    except (OSError, IndexError, ValueError):
                        stolen_fresh = False
                    if stolen_fresh:
                        with contextlib.suppress(OSError):
                            os.link(grave, path)
                    with contextlib.suppress(OSError):
                        os.remove(grave)
                    continue
                time.sleep(0.05)
        try:
            yield
        finally:
            with contextlib.suppress(OSError):
                os.remove(path)

    # snapshot-level application state (e.g. the exactly-once
    # applied-delta ledger) and the current schema pointer must survive
    # maintenance commits like compaction — these keys carry forward
    # unless explicitly replaced
    CARRIED_EXTRA_KEYS = (
        "applied_deltas", "pending", "schema_id", "applied_upserts",
        "part_spec_id",
    )

    # sentinel: "don't validate the schema pointer at commit time"
    _SCHEMA_UNCHECKED = object()

    def _commit(
        self,
        extra: dict,
        update: dict[str, int] | None = None,
        base_versions: dict[str, int] | None = None,
        expect_schema=_SCHEMA_UNCHECKED,
        add_deletes: dict[str, list[dict]] | None = None,
        add_adds: dict[str, list[int]] | None = None,
        expect_row_state: dict[str, tuple] | None = None,
        remove: set[str] | None = None,
        expect_extra: dict | None = None,
    ) -> dict:
        """Commit a new snapshot: under the commit lock, re-read the
        LATEST snapshot, run the checks the caller's work rests on (no
        partition in ``update`` or ``remove`` changed since
        ``base_versions``; ``expect_row_state``, ``expect_schema``,
        ``expect_extra`` unchanged — else raise
        :class:`ConcurrentWriteConflict`, Iceberg's commit validation),
        then set ``update`` on and drop ``remove`` from the latest parts
        map. Everything else a concurrent commit landed is kept, so
        writers to disjoint partitions all land."""
        with self._commit_lock():
            prev = self.current_snapshot() or {}
            for k, v in (expect_extra or {}).items():
                # generic metadata CAS (same shape as the schema check
                # below): the committer derived its work from prev[k]
                # == v; a concurrent commit moving that pointer means
                # this commit would silently clobber it
                if prev.get(k) != v:
                    raise ConcurrentWriteConflict(
                        f"{k} changed since base: expected {v!r}, "
                        f"found {prev.get(k)!r}"
                    )
            if expect_schema is not self._SCHEMA_UNCHECKED and (
                prev.get("schema_id") != expect_schema
            ):
                # a concurrent writer/evolver moved the schema pointer
                # after this writer derived its schema from it —
                # committing would clobber that evolution (Iceberg's
                # metadata-version CAS failure). The already-written
                # schema file / data files are orphans; retry re-derives.
                raise ConcurrentWriteConflict(
                    f"schema evolved since base: expected schema_id="
                    f"{expect_schema}, found {prev.get('schema_id')}"
                )
            latest = prev.get("parts", {})
            if base_versions is not None:
                changed = {
                    p: latest.get(p)
                    for p in (*(update or {}), *(remove or ()))
                    if latest.get(p) != base_versions.get(p)
                }
                if changed:
                    raise ConcurrentWriteConflict(
                        f"partitions rewritten since base snapshot: "
                        f"{sorted(changed)}"
                    )
            parts = {**latest, **(update or {})}
            for p in remove or ():
                parts.pop(p, None)
            if expect_row_state is not None:
                # serializable row-state validation (Iceberg's
                # validateNoConflicting{Deletes,AppendedData}): a MOR
                # merge's equality deletes assume the partition's row
                # set it read; another add/delete landing in between
                # would be silently clobbered for shared keys
                now = self._row_state(prev, expect_row_state)
                for p, state in expect_row_state.items():
                    if now[p] != state:
                        raise ConcurrentWriteConflict(
                            f"row state of partition {p!r} changed since "
                            f"base snapshot (concurrent merge/delete)"
                        )
            n = self._next_id("snapshot")
            carried = {k: prev[k] for k in self.CARRIED_EXTRA_KEYS if k in prev}
            # merge-on-read delete files and appended data files
            # survive a commit only while their partition's BASE data
            # version is unchanged: every rewrite path (CoW
            # merge/delete, compaction, refresh) reads with deletes and
            # adds APPLIED, so the new version has them materialized
            # and the descriptors must drop with it
            row_files = {}
            for key, added in (("deletes", add_deletes), ("adds", add_adds)):
                kept = {
                    p: list(xs)
                    for p, xs in (prev.get(key) or {}).items()
                    if p in parts and parts[p] == latest.get(p)
                }
                for p, xs in (added or {}).items():
                    kept[p] = kept.get(p, []) + list(xs)
                if kept:
                    row_files[key] = kept
            new = {
                "snapshot_id": n,
                "parts": parts,
                # persist the clustering contract so any fresh handle
                # (CLI maintenance, a reader in another process)
                # resolves the same sort/stat/zorder columns
                "sort_order": (
                    list(self._sort_order)
                    if self._sort_order
                    else prev.get("sort_order", list(self.DEFAULT_SORT_ORDER))
                ),
                "committed_at": time.time(),
                # parent pointer: the commit lineage publish_branch
                # walks to prove a branch head fast-forwards main
                "parent": prev.get("snapshot_id"),
                **({"branch": self.branch} if self.branch != "main" else {}),
                **carried,
                **row_files,
                **extra,
            }
            name = f"snapshot-{n}.json"
            _atomic_write_json(os.path.join(self.meta_dir, name), new)
            _atomic_write_json(self._ref_path(), {"snapshot": name})
            return new

    # -------------------------------------------------------------- schema
    # integer widening chain + float→double, the Iceberg-allowed
    # promotions (a wider read type can always represent narrower
    # written values exactly)
    _WIDEN_RANK = {
        "tinyint": ("tinyint", 1), "smallint": ("tinyint", 2),
        "int": ("tinyint", 3), "bigint": ("tinyint", 4),
        "float": ("float", 1), "double": ("float", 2),
    }

    @classmethod
    def _can_widen(cls, narrow: str, wide: str) -> bool:
        a, b = cls._WIDEN_RANK.get(narrow), cls._WIDEN_RANK.get(wide)
        return a is not None and b is not None and a[0] == b[0] and a[1] <= b[1]

    def schema(self, schema_id: int | None = None) -> dict | None:
        """The table schema (``{"schema_id", "fields", "last_field_id"}``)
        — current snapshot's by default, or any historical id. ``None``
        while the table has none (no write has landed yet)."""
        if schema_id is None:
            snap = self.current_snapshot()
            schema_id = snap.get("schema_id") if snap else None
            if schema_id is None:
                return None
        s = _read_json(os.path.join(self.meta_dir, f"schema-{schema_id}.json"))
        if s is not None:
            s["schema_id"] = schema_id
        return s

    def _ensure_write_schema(self, df: DataFrame, part_col: str):
        """Resolve the schema this write lands under. Returns
        ``(schema_id, expect_schema)`` for :meth:`_commit` —
        ``expect_schema`` is the base schema id to CAS-validate when
        this write minted a new schema, or the unchecked sentinel when
        it reuses the current one (reuse is always safe: manifests
        record the written id, so field-id mapping stays correct even
        if the current pointer moves concurrently).

        Every writer passes through here before it writes a data file,
        so this is where a non-integer partition column is refused:
        reads type ``part_col`` as bigint, and the part prune, retention
        drops and refresh part math all treat partition values as
        integers."""
        ptype = dict(df.dtypes).get(part_col)
        if ptype not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"partition column {part_col!r} must be tinyint, smallint, "
                f"int or bigint, got {ptype}"
            )
        snap = self.current_snapshot()
        cur_sid = snap.get("schema_id") if snap else None
        cur = self.schema(cur_sid) if cur_sid is not None else None
        data_fields = [
            (c, t) for c, t in df.dtypes if c not in (part_col, "snapv")
        ]
        if cur is None:
            # first schema for this table, derived from the write
            fields = [
                {"id": i + 1, "name": c, "type": t}
                for i, (c, t) in enumerate(data_fields)
            ]
            body = {"fields": fields, "last_field_id": len(fields)}
            return self._claim("schema", body), cur_sid
        by_name = {f["name"]: f for f in cur["fields"]}
        out = [dict(f) for f in cur["fields"]]
        last = cur["last_field_id"]
        evolved = False
        for c, t in data_fields:
            f = by_name.get(c)
            if f is None:
                # auto-merge: a genuinely new column gets a fresh id
                last += 1
                out.append({"id": last, "name": c, "type": t})
                evolved = True
            elif f["type"] != t:
                if self._can_widen(f["type"], t):
                    # data wider than table → widen the table type
                    next(x for x in out if x["id"] == f["id"])["type"] = t
                    evolved = True
                elif self._can_widen(t, f["type"]):
                    pass  # data narrower — read-time cast widens it
                else:
                    raise TypeError(
                        f"incompatible write for column {c!r}: table type "
                        f"{f['type']}, data type {t} (only "
                        f"tinyint→smallint→int→bigint and float→double "
                        f"promotions are allowed)"
                    )
        if not evolved:
            return cur["schema_id"], self._SCHEMA_UNCHECKED
        body = {"fields": out, "last_field_id": last}
        return self._claim("schema", body), cur_sid

    def _evolve(self, mutate, desc: str) -> dict:
        """Apply a metadata-only schema change: derive the new field
        list from the current schema, register it, and commit it onto
        the latest snapshot — CAS-validated against the base schema id,
        so a concurrent evolution conflicts and a concurrent data
        commit is kept."""
        cur = self.schema()
        if cur is None:
            raise FileNotFoundError(
                "table has no schema yet — write data first (the first "
                "write registers schema 0 from the written columns)"
            )
        fields, last = mutate([dict(f) for f in cur["fields"]], cur["last_field_id"])
        sid = self._claim("schema", {"fields": fields, "last_field_id": last})
        snap = self.current_snapshot() or {}
        return self._commit(
            {
                "input_snapshot": f"schema-evolution:{desc}",
                "new_parts": [],
                "part_col": snap.get("part_col", "part"),
                "schema_id": sid,
            },
            expect_schema=cur["schema_id"],
        )

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only rename: no data file is touched; old files
        keep serving under the new name via field-id mapping."""
        def mutate(fields, last):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            tgt = [f for f in fields if f["name"] == old]
            if not tgt:
                raise KeyError(f"no column {old!r} in current schema")
            tgt[0]["name"] = new
            return fields, last
        return self._evolve(mutate, f"rename {old}->{new}")

    def add_column(self, name: str, dtype: str) -> dict:
        """Add a column (fresh field id): pre-existing files read as
        NULL for it. Re-adding a previously dropped name never
        resurrects old data — the id is new."""
        def mutate(fields, last):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} already exists")
            fields.append({"id": last + 1, "name": name, "type": dtype})
            return fields, last + 1
        return self._evolve(mutate, f"add {name}:{dtype}")

    def drop_column(self, name: str) -> dict:
        """Drop a column from the schema — data files untouched,
        reads project it away."""
        def mutate(fields, last):
            kept = [f for f in fields if f["name"] != name]
            if len(kept) == len(fields):
                raise KeyError(f"no column {name!r} in current schema")
            return kept, last
        return self._evolve(mutate, f"drop {name}")

    def widen_column(self, name: str, dtype: str) -> dict:
        """Promote a column's type (int chain / float→double); written
        files keep their narrow physical type and are cast at read."""
        def mutate(fields, last):
            tgt = [f for f in fields if f["name"] == name]
            if not tgt:
                raise KeyError(f"no column {name!r} in current schema")
            if not self._can_widen(tgt[0]["type"], dtype):
                raise TypeError(
                    f"cannot widen {name}: {tgt[0]['type']} -> {dtype}"
                )
            tgt[0]["type"] = dtype
            return fields, last
        return self._evolve(mutate, f"widen {name}:{dtype}")

    # ------------------------------------------------- partition spec
    # Iceberg's partition-spec evolution, adapted to this layout's
    # single-level time partitioning: the table carries a current
    # `part-spec-<n>.json` ({bucket_col, part_seconds}); `with_part`
    # derives the partition value from it, so writers pick up a new
    # granularity without code changes. Unlike Iceberg (where old
    # files keep their old spec forever), the refresh machinery's
    # part math (incremental.py) requires ONE spec across all live
    # partitions — so evolving a non-empty table REWRITES it into the
    # new spec in one atomic commit (rewrite=True), and the metadata-
    # only form is allowed only while the table is empty. Time travel
    # to pre-evolution snapshots still sees the old layout.

    def part_spec(self, spec_id: int | None = None) -> dict:
        """Current (or requested) partition spec. Spec 0 is the
        implicit default (weekly buckets of ``bucket_s``) for tables
        created before specs existed."""
        if spec_id is None:
            snap = self.current_snapshot() or {}
            spec_id = snap.get("part_spec_id", 0)
        if spec_id == 0:
            return {
                "spec_id": 0,
                "bucket_col": "bucket_s",
                "part_seconds": DEFAULT_PART_SECONDS,
            }
        s = _read_json(os.path.join(self.meta_dir, f"part-spec-{spec_id}.json"))
        if s is None:
            raise FileNotFoundError(f"no part-spec-{spec_id}.json in {self.meta_dir}")
        s["spec_id"] = spec_id
        return s

    def with_part(self, df: DataFrame) -> DataFrame:
        """Derive the partition column from the table's CURRENT spec —
        the spec-aware form of the module-level :func:`with_part`."""
        spec = self.part_spec()
        return with_part(
            df, bucket_col=spec["bucket_col"], part_seconds=spec["part_seconds"]
        )

    def evolve_partitioning(
        self,
        part_seconds: int,
        bucket_col: str = "bucket_s",
        spark: SparkSession | None = None,
        rewrite: bool = False,
    ) -> dict:
        """Change the partition granularity for this table.

        Empty table: metadata-only commit of the new spec. Non-empty:
        requires ``rewrite=True`` (and ``spark``) — the committed rows
        are re-bucketed under the new spec and land as one atomic
        replace-all commit (old partitions leave the parts map; MVCC
        readers on prior snapshots are unaffected, and time travel
        still serves the old layout). The single-spec invariant keeps
        every partition-math consumer (incremental refresh, retention,
        chunk recompression) correct without per-part spec lookups.
        """
        cur = self.part_spec()
        snap = self.current_snapshot()
        if (
            cur["part_seconds"] == part_seconds
            and cur["bucket_col"] == bucket_col
        ):
            return snap or {}
        base_spec_id = (snap or {}).get("part_spec_id")
        part_col = (snap or {}).get("part_col", "part")
        # spec 0 is the implicit default: claimed specs start at 1
        sid = self._claim(
            "part-spec",
            {
                "bucket_col": bucket_col,
                "part_seconds": int(part_seconds),
                "parent_spec_id": cur["spec_id"],
            },
            floor=1,
        )
        label = f"partition-evolution:{part_seconds}s"
        old_parts = dict((snap or {}).get("parts", {}))
        if not old_parts:
            # metadata-only only while the table stays empty: a write
            # landing before this commit fails it (CAS on the parts map)
            return self._commit(
                {
                    "input_snapshot": label,
                    "new_parts": [],
                    "part_col": part_col,
                    "part_spec_id": sid,
                },
                expect_extra={
                    "part_spec_id": base_spec_id,
                    "parts": (snap or {}).get("parts"),
                },
            )
        if not rewrite:
            raise ValueError(
                "table has committed partitions — pass rewrite=True "
                "(and spark=) to re-bucket them under the new spec; "
                "mixed-width partitions would break refresh/retention "
                "part math"
            )
        if spark is None:
            raise ValueError("rewrite=True needs spark=")
        rows = self.read_tier(spark, snapshot_id=snap["snapshot_id"]).drop(part_col)
        df = with_part(rows, bucket_col=bucket_col, part_seconds=part_seconds)
        new_parts = self._parts_of(df, part_col)
        # the rewrite carries every current row: a merge-on-read change
        # landing after the read must fail it, not be undone by it
        return self._write_and_commit(
            df, new_parts, part_col, label, {"part_spec_id": sid},
            base_versions=old_parts,
            remove=set(old_parts) - set(new_parts),
            expect_row_state=self._row_state(snap, old_parts),
            expect_extra={"part_spec_id": base_spec_id},
        )

    @staticmethod
    def _normalize_to_schema(
        df: DataFrame, written: dict, target: dict, part_col: str
    ) -> DataFrame:
        """Project ``df`` (read with its written column names/types)
        onto ``target``: rename by field id, cast widened types, NULL-
        fill fields the written schema lacks, drop fields the target
        dropped. Pure projection — stays in whole-stage codegen."""
        cols = [
            F.col(c)
            for c in (part_col, "snapv", "_file", "_pos")
            if c in df.columns
        ]
        wrote_by_id = {f["id"]: f for f in written["fields"]}
        for f in target["fields"]:
            wf = wrote_by_id.get(f["id"])
            src = wf["name"] if wf else None
            if src is not None and src in df.columns:
                cols.append(F.col(src).cast(f["type"]).alias(f["name"]))
            else:
                cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
        return df.select(*cols)

    # ----------------------------------------------------------------- IO
    def write_tier(
        self,
        df: DataFrame,
        part_col: str = "part",
        input_snapshot: str = "",
        extra: dict | None = None,
    ) -> dict:
        """Write all not-yet-committed partitions of ``df``; resumable.

        ``df`` must carry ``part_col`` as an integer column. The
        missing partitions are pinned to the snapshot they were found
        missing in, so a concurrent writer committing one of them
        conflicts. Returns the committed snapshot dict.
        """
        snap = self.current_snapshot() or {}
        done = snap.get("parts", {})
        missing = [p for p in self._parts_of(df, part_col) if p not in done]
        return self.overwrite_parts(
            df, missing, part_col, input_snapshot, extra, base_snapshot=snap
        )

    def overwrite_parts(
        self,
        df: DataFrame,
        parts: list[str],
        part_col: str = "part",
        input_snapshot: str = "",
        extra: dict | None = None,
        base_snapshot: dict | None = None,
        cluster: bool | None = None,
        expect_extra: dict | None = None,
    ) -> dict:
        """Force-rewrite the given partitions (committed or not) —
        the incremental-refresh primitive. MVCC: the rewrite lands in
        a fresh ``snapv`` directory, so readers holding the previous
        snapshot keep a consistent view; only the new snapshot points
        at the new version.

        ``base_snapshot``: the snapshot the caller's ``df`` was READ
        from. When given, commit validation pins the rewritten parts'
        versions AND row state (MOR add/delete files) to that
        snapshot, so a concurrent commit landing in the read→commit
        window raises :class:`ConcurrentWriteConflict` instead of
        being silently overwritten — the copy-on-write DML paths all
        pass it. When None (the incremental-refresh force-rewrite
        form), versions are validated only against commit-time state:
        last-writer-wins by design, the caller orchestrates."""
        parts = sorted({str(p) for p in parts})
        if base_snapshot is not None:
            base = {
                p: base_snapshot.get("parts", {}).get(p) for p in parts
            }
            row_state = self._row_state(base_snapshot, parts)
        else:
            base = self.part_versions()
            row_state = None
        return self._write_and_commit(
            df, parts, part_col, input_snapshot, extra,
            base_versions=base, expect_row_state=row_state,
            expect_extra=expect_extra, cluster=cluster,
        )

    def _write_and_commit(
        self,
        df: DataFrame,
        parts: list[str],
        part_col: str,
        label: str,
        extra: dict | None,
        base_versions: dict[str, int],
        remove: set[str] | None = None,
        expect_row_state: dict[str, tuple] | None = None,
        expect_extra: dict | None = None,
        cluster: bool | None = None,
    ) -> dict:
        """The data write behind write_tier, overwrite_parts and the
        partitioning rewrite: check the write schema, claim a version,
        write ``parts`` of ``df`` under it, and commit them (dropping
        ``remove``) validated against ``base_versions``."""
        schema_id, expect_schema = self._ensure_write_schema(df, part_col)
        version = self._claim("version", floor=self._next_id("snapshot"))
        self._write_parts(
            df, parts, version, part_col, label, schema_id, cluster=cluster
        )
        return self._commit(
            {
                "input_snapshot": label,
                "new_parts": parts,
                "part_col": part_col,
                "schema_id": schema_id,
                **(extra or {}),
            },
            update={p: version for p in parts},
            base_versions=base_versions,
            remove=remove,
            expect_schema=expect_schema,
            expect_row_state=expect_row_state,
            expect_extra=expect_extra,
        )

    def commit_metadata(
        self,
        input_snapshot: str = "",
        extra: dict | None = None,
        expect_extra: dict | None = None,
    ) -> dict:
        """Metadata-only commit: same partition versions, new snapshot
        carrying updated application state (e.g. clearing a pending
        refresh marker after downstream tables committed).

        Like every commit it applies to the LATEST snapshot under the
        commit lock, so a data commit landing between this caller's
        read and its commit is never rolled back.
        ``expect_extra`` CASes application-state keys the caller
        derived its update from (e.g. the pending marker it is
        clearing) — a concurrent mover raises ConcurrentWriteConflict
        instead of being clobbered."""
        snap = self.current_snapshot() or {}
        return self._commit(
            {
                "input_snapshot": input_snapshot,
                "new_parts": [],
                "part_col": snap.get("part_col", "part"),
                **(extra or {}),
            },
            expect_extra=expect_extra,
        )

    def _write_parts(
        self,
        df: DataFrame,
        missing: list[str],
        version: int,
        part_col: str,
        input_snapshot: str,
        schema_id: int | None = None,
        cluster: bool | None = None,
    ) -> None:
        if not missing:
            return
        if schema_id is None:  # a bare call: the schema the write resolves to
            schema_id = self._ensure_write_schema(df, part_col)[0]
        t0 = time.time()
        # snapv as a STRING literal: codegen inlines an int literal into
        # the generated Java, so each version would compile new classes;
        # a string one is passed by reference and the write's code is
        # reused from version to version. The directory name
        # (snapv=<v>) is the same either way, and snapv is no data column.
        pending = df.where(F.col(part_col).cast("string").isin(missing)).withColumn(
            "snapv", F.lit(str(version))
        )
        dtypes = dict(pending.dtypes)
        data_cols = [c for c in dtypes if c not in (part_col, "snapv")]
        sort_cols = [c for c in self.sort_order if c in dtypes]
        # cluster the write: REBALANCE co-locates each partition's rows
        # (AQE splits a skewed part across tasks instead of one-task-
        # per-part), then an in-task sort clusters row groups on the
        # table sort order — content is unchanged (lineage hashes are
        # order-insensitive bit_xor)
        cluster = self.cluster_writes if cluster is None else cluster
        if cluster:
            pending = pending.hint("rebalance", part_col)
        # lineage value_hash, observed inside the write job (no read-
        # back): one conditional bit_xor(xxhash64(data cols in file
        # order)) per part; maps/structs hash in a stable JSON form. It
        # sits after the rebalance (result stage: counted once per
        # task) and below the sort (the write keeps its ordering).
        obs = Observation()
        pending = (
            pending.withColumns({
                "__lineage_p": F.col(part_col).cast("string"),
                "__lineage_h": F.xxhash64(*[
                    F.to_json(c) if dtypes[c].startswith(("map", "struct", "array"))
                    else F.col(c) for c in data_cols
                ]),
            })
            .observe(obs, *[
                F.bit_xor(
                    F.when(F.col("__lineage_p") == p, F.col("__lineage_h"))
                ).alias(f"h{i}")
                for i, p in enumerate(missing)
            ])
            .drop("__lineage_p", "__lineage_h")
        )
        if cluster and sort_cols:
            pending = pending.sortWithinPartitions(part_col, *sort_cols)
        # dynamic overwrite touches only (part, snapv=version) dirs —
        # never any committed version: version ids are CLAIMED
        # exclusively (_claim), so no two writers ever share a snapv
        # dir; a crashed attempt's files become unreferenced orphans
        # (remove_orphans GCs them) and the retry lands in a fresh
        # version -> still idempotent end-state
        (
            pending.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col, "snapv")
            .parquet(self.data_dir)
        )
        wall = time.time() - t0
        hashes = obs.get
        # Iceberg-manifest column stats: per-FILE rows and min/max of
        # the sort-order columns from the footers just written (like
        # Iceberg's writer-collected DataFile metrics). They feed
        # plan_files() scan pruning: per-url or time-range reads skip
        # whole files before Spark ever lists them.
        stat_types = {
            c: dtypes[c] for c in sort_cols
            if c in data_cols and dtypes[c] in _STAT_TYPES
        }
        try:
            zone = ZoneInfo(df.sparkSession.conf.get("spark.sql.session.timeZone"))
        except (KeyError, ValueError):
            zone = None  # not an IANA zone: timestamp bounds stay unknown
        for i, p in enumerate(missing):
            d = self._version_dir(p, version, part_col)
            names = sorted(os.listdir(d)) if os.path.isdir(d) else []
            files = [
                {"path": os.path.relpath(os.path.join(d, f), self.data_dir),
                 **_footer_metrics(os.path.join(d, f), stat_types, zone)}
                for f in names
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            ]
            files = [fr for fr in files if fr["rows"]]
            _atomic_write_json(
                self._manifest_path(p, version),
                {
                    "part": p,
                    "version": version,
                    "schema_id": schema_id,
                    "rows": sum(fr["rows"] for fr in files),
                    "value_hash": int(hashes[f"h{i}"] or 0),
                    "files": files,
                    "wall_time_share_s": wall / len(missing),
                    "input_snapshot": input_snapshot,
                    "written_at": time.time(),
                },
            )

    def _version_dir(self, part: str, version: int, part_col: str = "part") -> str:
        return os.path.join(self.data_dir, f"{part_col}={part}", f"snapv={version}")

    def _manifest_path(self, part: str, version: int) -> str:
        return os.path.join(self.meta_dir, f"manifest-{part}-v{version}.json")

    # file identity for position deletes: everything after the LAST
    # "/data/" — stable across "file://" vs bare paths and across a
    # relocated table root (the same normalization the manifest writer
    # uses for lineage file paths)
    @staticmethod
    def _rel_file_expr():
        return F.substring_index(F.col("_metadata.file_path"), "/data/", -1)

    @staticmethod
    def _delete_descs(snap: dict, parts: list[str]) -> list[dict]:
        """The snapshot's merge-on-read delete descriptors for ``parts``."""
        want = set(parts)
        dels = snap.get("deletes") or {}
        return [d for p, ds in dels.items() if p in want for d in ds]

    @staticmethod
    def _version_pairs(snap: dict, parts=None) -> list[tuple[str, int]]:
        """All (part, version) data-file sets of a snapshot: the base
        version plus any merge-on-read appended versions (``adds``)."""
        ps = snap.get("parts", {})
        adds = snap.get("adds", {})
        sel = list(ps) if parts is None else [str(p) for p in parts]
        out = []
        for p in sel:
            if p in ps:
                out.append((p, ps[p]))
            out += [(p, v) for v in adds.get(p, [])]
        return out

    def _with_pos(self, df: DataFrame) -> DataFrame:
        """Project the hidden parquet ``_metadata`` columns into the
        stable (_file, _pos) row identity. Must run directly on a file
        source (the metadata struct does not survive a select)."""
        return df.withColumn("_file", self._rel_file_expr()).withColumn(
            "_pos", F.col("_metadata.row_index")
        )

    def _apply_deletes(
        self, spark: SparkSession, df: DataFrame, descs: list[dict]
    ) -> DataFrame:
        """Anti-join out the rows named by the delete files — the read
        half of merge-on-read. The delete side is O(deleted rows);
        Spark's planner broadcasts it when small (the common case: a
        GDPR-sized delete against a petabyte partition).

        Position deletes (kind=pos) remove exact ``(_file, _pos)``
        rows. Equality deletes (kind=eq, written by MOR merge) remove
        rows whose key matches AND whose data version (``snapv``)
        predates the delete's sequence number — so a merge's own
        appended rows survive its delete, and a later merge's delete
        supersedes an earlier merge's rows (last-writer-wins by
        sequence, Iceberg v2 semantics).

        A delete file the snapshot names but the disk lacks fails the
        scan, naming its path: skipping it would serve deleted rows."""
        pos = [
            os.path.join(self.root, d["path"])
            for d in descs if d.get("kind", "pos") == "pos"
        ]
        eqs = [
            (os.path.join(self.root, d["path"]), d)
            for d in descs if d.get("kind") == "eq"
        ]
        # explicit read schemas: delete sets on a stacked-DML table are
        # MANY small files (hundreds per merge wave); footer inference
        # over them dominated plan-build time. Columns absent from a
        # file read as null, extras are ignored, so naming only the
        # columns the anti-join consumes is robust across versions.
        dtypes = dict(df.dtypes)
        if pos:
            dd = (
                spark.read.schema("_file string, _pos bigint")
                .parquet(*pos)
                .select("_file", "_pos")
                .distinct()
            )
            df = df.join(dd, ["_file", "_pos"], "left_anti")
        if eqs:
            # one anti-join per distinct key set; within it, delete
            # files group by their commit SEQUENCE — all of one
            # commit's per-partition delete files share a seq, so they
            # read as ONE multi-path scan with a literal seq column.
            # (Reading per-FILE planned O(partitions x stacked merges)
            # separate scans: a stacked-DML table paid seconds of plan
            # build before the first task; grouped, it's O(merges)
            # scans — 3 stacked merges = 3 scans however many
            # partitions each touched.)
            by_keys: dict[tuple, dict[int, list[str]]] = {}
            for p, d in eqs:
                by_keys.setdefault(tuple(d["keys"]), {}).setdefault(
                    int(d["seq"]), []
                ).append(p)
            for keys, by_seq in by_keys.items():
                # key types come from the data side being filtered —
                # always current-schema (monotone widening ⇒ an older,
                # narrower delete file upcasts at scan)
                ddl = ", ".join(f"`{k}` {dtypes[k]}" for k in keys)
                dd = None
                for seq, paths in sorted(by_seq.items()):
                    one = spark.read.schema(ddl).parquet(*paths).select(
                        *[F.col(k).alias(f"__dk_{k}") for k in keys],
                        F.lit(seq).alias("__dseq"),
                    )
                    dd = one if dd is None else dd.unionByName(one)
                cond = F.col("snapv") < F.col("__dseq")
                for k in keys:
                    cond = cond & (F.col(k) == F.col(f"__dk_{k}"))
                df = df.join(dd, cond, "left_anti")
        return df

    @staticmethod
    def _schema_ddl(schema: dict, part_col: str) -> str:
        """Spark DDL for the files written under ``schema``: its fields
        (stored as ``df.dtypes`` simple strings, which ARE DDL) plus the
        partition-directory columns `` `<part_col>` bigint, snapv int``.
        Partition values are integers (``_ensure_write_schema`` refuses
        anything else), so ``part_col`` is bigint on every read — never
        the type Spark would discover from the ``part=<p>`` names seen
        by one read. Passing it to ``spark.read.schema`` skips parquet
        footer inference — the metadata-not-footers contract real
        Iceberg has: plan building stops scaling with file count (a
        52-file benchmark table spent ~1.3 s/read inferring; explicit
        schema is ~5x faster, and the gap grows with partitions). Files
        written NARROWER than their registered schema (the allowed
        int→bigint / float→double promotions) upcast at scan (verified
        on Spark 4)."""
        return ", ".join(
            [f"`{f['name']}` {f['type']}" for f in schema["fields"]]
            + [f"`{part_col}` bigint", "snapv int"]
        )

    def _manifest(self, p: str, v: int) -> dict:
        """The manifest of one (part, version) data-file set: its exact
        file list with per-file stats and the schema the files were
        written under. A manifest lacking either is an old layout and
        is refused."""
        path = self._manifest_path(p, v)
        name = os.path.basename(path)
        m = _read_json(path)
        if m is None:
            self._refuse_layout(name, "is missing", "pre-MVCC")
        if "files" not in m:
            self._refuse_layout(name, "has no file list", "stat-less manifest")
        if m.get("schema_id") is None:
            self._refuse_layout(name, "records no schema_id", "schema-less")
        return m

    @staticmethod
    def _normalize_prune(prune: dict) -> dict[str, tuple]:
        out = {}
        for c, rng in prune.items():
            if isinstance(rng, (tuple, list)):
                out[c] = (rng[0], rng[1])
            else:
                out[c] = (rng, rng)
        return out

    @staticmethod
    def _lt(a, b) -> bool | None:
        """a < b with type reconciliation: manifest stats for
        non-numeric dtypes are stored as strings, so numeric prune
        bounds against (say) timestamp-column stats hit str-vs-int.
        Coerce both sides to float when directly incomparable; if that
        fails too, return None = "unknown" (caller must keep the
        file — pruning stays sound, never crashes a read)."""
        try:
            return a < b
        except TypeError:
            try:
                return float(a) < float(b)
            except (TypeError, ValueError):
                return None

    @staticmethod
    def _overlaps(stats: dict, prune: dict[str, tuple]) -> bool:
        for c, (lo, hi) in prune.items():
            if c not in stats:
                continue  # no stats for this column → cannot skip
            mn, mx = stats[c]
            if mn is None or mx is None:
                continue
            if lo is not None and IcebergLayoutTable._lt(mx, lo):
                return False
            if hi is not None and IcebergLayoutTable._lt(hi, mn):
                return False
        return True

    def plan_files(
        self,
        snapshot_id: int | None = None,
        prune: dict | None = None,
    ) -> dict:
        """Iceberg scan planning over manifest file lists: the exact
        data files of each base version and each merge-on-read
        ``adds`` version of the snapshot, minus every file whose
        per-file min/max ranges (recorded at write time for the table
        sort-order columns) cannot overlap ``prune`` — metadata-only,
        no Spark job. Every table read scans what this returns.

        ``prune``: ``{col: (lo, hi)}`` inclusive ranges (``None`` bound
        = open) or ``{col: value}`` for equality. Unknown columns and
        files without stats for a column are kept (never unsound).

        Planning cost is O(committed parts) small-JSON reads on the
        driver — the same shape as Iceberg's driver-side planning over
        manifest files. Weekly parts put 10^12 rows at ~10^3–10^4
        manifests (years of data), well under a second; a part-value
        prune short-circuits before the manifest read, so time-ranged
        plans touch only the overlapping weeks' manifests.

        Returns ``{"files", "files_by_schema", "parts", "total_files",
        "skipped_files", "skipped_parts", "part_col"}``; ``parts`` is
        the set of partitions with at least one kept file.
        """
        return self._plan(self._resolve(snapshot_id, required=True), None, prune)

    def _plan(self, snap: dict, parts, prune: dict | None) -> dict:
        """:meth:`plan_files` over ``snap``, limited to ``parts``
        (default: every partition)."""
        part_col = snap.get("part_col", "part")
        rng = self._normalize_prune(prune or {})
        tsid = snap.get("schema_id")
        name_maps: dict[int, dict[str, str]] = {}
        files: list[str] = []
        files_by_schema: dict[int, list[str]] = {}
        kept_parts: set[str] = set()
        total = skipped = skipped_parts = 0
        for p, v in sorted(self._version_pairs(snap, parts)):
            part_prune = dict(rng)
            if part_col in part_prune:
                # short-circuits BEFORE the manifest read: time-ranged
                # plans only open the overlapping weeks' manifests
                lo, hi = part_prune.pop(part_col)
                bound = lo if lo is not None else hi
                try:  # compare in the bound's type (parts are strings)
                    pv = type(bound)(p) if bound is not None else p
                except (TypeError, ValueError):
                    pv = None  # incomparable → keep the part
                if pv is not None and (
                    (lo is not None and pv < lo) or (hi is not None and pv > hi)
                ):
                    skipped_parts += 1
                    continue
            m = self._manifest(p, v)
            frs, wsid = m["files"], m["schema_id"]
            if part_prune and wsid != tsid:
                # stats are keyed by WRITTEN column names; after a
                # rename the caller prunes with the current name — map
                # it back via field ids so old files still skip
                nm = name_maps.get(wsid)
                if nm is None:
                    by_id = {f["id"]: f["name"] for f in self.schema(wsid)["fields"]}
                    nm = {
                        f["name"]: by_id.get(f["id"], f["name"])
                        for f in self.schema(tsid)["fields"]
                    }
                    name_maps[wsid] = nm
                part_prune = {nm.get(c, c): b for c, b in part_prune.items()}
            # frs == [] means a committed-empty part: nothing to read
            total += len(frs)
            kept = [
                fr for fr in frs if self._overlaps(fr.get("stats", {}), part_prune)
            ]
            skipped += len(frs) - len(kept)
            if not kept:
                skipped_parts += 1
            paths = [os.path.join(self.data_dir, fr["path"]) for fr in kept]
            files += paths
            if paths:
                files_by_schema.setdefault(wsid, []).extend(paths)
                kept_parts.add(p)
        return {
            "files": files,
            "files_by_schema": files_by_schema,
            "parts": kept_parts,
            "total_files": total,
            "skipped_files": skipped,
            "skipped_parts": skipped_parts,
            "part_col": part_col,
        }

    def _current_rows(
        self,
        spark: SparkSession,
        snap: dict,
        parts=None,
        schema_of: dict | None = None,
        with_pos: bool = False,
        prune: dict | None = None,
    ) -> DataFrame:
        """The current rows of ``parts`` (default: every partition) in
        ``snap`` — the one table reader, behind DML, compaction,
        :meth:`read_tier`, :meth:`read_parts` and :meth:`read_changes`.

        One plan (:meth:`_plan`: the exact files of each base version
        and each merge-on-read ``adds`` version that ``prune`` can
        match) and one scan per written schema: the files under that
        schema's DDL with ``part_col`` bigint, normalized by field id
        to the schema of ``schema_of`` (default: ``snap`` itself, so
        time travel to a pre-rename snapshot sees the old names), then
        the snapshot's delete files applied. Nothing to scan gives the
        empty frame in the target schema's shape, with no Spark job."""
        parts = list(snap["parts"]) if parts is None else [str(p) for p in parts]
        part_col = snap.get("part_col", "part")
        sid = (schema_of or snap).get("schema_id")
        target = self.schema(sid) if sid is not None else {"fields": []}
        plan = self._plan(snap, parts, prune)
        # only the kept parts' delete files: a delete names rows of its
        # own partition (position deletes name files; MOR merge keys
        # determine the partition), so a skipped part's deletes match
        # nothing that is read
        deletes = self._delete_descs(snap, plan["parts"])
        need_pos = with_pos or any(d.get("kind", "pos") == "pos" for d in deletes)
        scans = []
        for wsid, paths in sorted(plan["files_by_schema"].items()):
            written = self.schema(wsid)
            df = (
                spark.read.option("basePath", self.data_dir)
                .schema(self._schema_ddl(written, part_col))
                .parquet(*paths)
            )
            if need_pos:
                df = self._with_pos(df)
            scans.append(self._normalize_to_schema(df, written, target, part_col))
        if not scans:
            # zero rows in the target's shape: LIMIT 0 plans as an empty
            # local relation, so neither building nor collecting it runs
            # a Spark job
            cols = [(part_col, "bigint")]
            if with_pos:
                cols += [("_file", "string"), ("_pos", "bigint")]
            cols += [(f["name"], f["type"]) for f in target["fields"]]
            return spark.range(1).select(
                *[F.lit(None).cast(t).alias(c) for c, t in cols]
            ).limit(0)
        out = scans[0]
        for df in scans[1:]:
            out = out.unionByName(df)
        if deletes:
            out = self._apply_deletes(spark, out, deletes)
        if need_pos and not with_pos:
            out = out.drop("_file", "_pos")
        return out.drop("snapv")

    def read_parts(
        self,
        spark: SparkSession,
        parts,
        snapshot_id: int | None = None,
    ) -> DataFrame | None:
        """Public pruned-partition read: the current rows of exactly the
        requested partitions — the same rows :meth:`read_tier` returns
        for them (merge-on-read adds and deletes applied, schema
        normalized) — or None if none of them exist. Consumers
        (incremental refresh, the persisted ANN index) use this instead
        of reaching into the private version plumbing."""
        snap = self._resolve(snapshot_id)
        want = sorted({str(p) for p in parts} & set((snap or {}).get("parts", {})))
        if not want:
            return None
        return self._current_rows(spark, snap, want)

    def read_tier(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        prune: dict | None = None,
        with_pos: bool = False,
        as_of: float | None = None,
    ) -> DataFrame:
        """Snapshot-isolated view: the current rows of exactly the
        partition versions the (current or time-travel) snapshot
        committed, read as the manifests' exact file lists — immune to
        concurrent rewrites of newer versions. Time travel by id
        (``snapshot_id``) or commit timestamp (``as_of`` epoch
        seconds, resolved on this ref's parent chain).

        ``prune`` ({col: (lo, hi)} or {col: value}) additionally skips
        data files via manifest column stats (:meth:`plan_files`) and
        applies the same range as a residual WHERE — exact results,
        with IO proportional to the files that can match. The
        partition column reads as bigint; a table with no data reads
        as zero rows in its registered schema's shape."""
        if as_of is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR as_of, not both")
            snapshot_id = self.snapshot_as_of(as_of)["snapshot_id"]
        snap = self._resolve(snapshot_id, required=True)
        out = self._current_rows(spark, snap, with_pos=with_pos, prune=prune)
        # residual predicate: stats pruning is IO-elision only; the
        # range itself is enforced on the surviving rows (Iceberg's
        # residual evaluation), so results are exact even where stats
        # are missing or coarse. The bounds stay literals, which codegen
        # inlines (a class per bound): only a literal reaches the
        # parquet scan as a pushed filter for row-group pruning.
        for c, (lo, hi) in self._normalize_prune(prune or {}).items():
            if c not in out.columns:
                continue
            if lo is not None:
                out = out.where(F.col(c) >= F.lit(lo))
            if hi is not None:
                out = out.where(F.col(c) <= F.lit(hi))
        return out

    # ----------------------------------------------------------- changes
    def changed_parts(self, from_snapshot: int, to_snapshot: int | None = None) -> dict:
        """Metadata-only diff of two snapshots: which partitions were
        added / rewritten / removed between them (Iceberg incremental-
        scan planning). No Spark job."""
        a = self.snapshot(from_snapshot)
        b = self._resolve(to_snapshot)
        if a is None or b is None:
            raise FileNotFoundError(
                f"snapshot missing: {from_snapshot} or {to_snapshot} in {self.meta_dir}"
            )
        pa, pb = a["parts"], b["parts"]
        da, db = a.get("deletes") or {}, b.get("deletes") or {}
        aa, ab = a.get("adds") or {}, b.get("adds") or {}
        return {
            "added": sorted(p for p in pb if p not in pa),
            # merge-on-read commits change a partition's ROWS without
            # changing its base data version — the delete-descriptor
            # and appended-version sets are part of the partition's
            # identity for change detection
            "rewritten": sorted(
                p for p in pb
                if p in pa and (
                    pb[p] != pa[p]
                    or da.get(p) != db.get(p)
                    or aa.get(p) != ab.get(p)
                )
            ),
            "removed": sorted(p for p in pa if p not in pb),
            "from_parts": pa,
            "to_parts": pb,
            "from_snapshot_obj": a,
            "to_snapshot_obj": b,
            "from_deletes": da,
            "to_deletes": db,
            "part_col": b.get("part_col", a.get("part_col", "part")),
        }

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot: int,
        to_snapshot: int | None = None,
        change_col: str = "_change",
    ) -> DataFrame:
        """Row-level changes between two snapshots as a DataFrame with
        ``_change`` ∈ {insert, delete} (an update = delete + insert).

        IO and shuffle are bounded by the CHANGED partitions only —
        unchanged partitions (same version in both snapshots) are never
        read, so a delta that touched 3 of 50,000 weekly parts diffs 3.
        Within a rewritten partition the row diff is two ``exceptAll``
        passes (new∖old = inserts, old∖new = deletes), which is exact
        under duplicate rows. This is the no-jar analog of Iceberg's
        ``incremental read`` / changelog scan."""
        ch = self.changed_parts(from_snapshot, to_snapshot)
        to = ch["to_snapshot_obj"]
        # each side applies ITS snapshot's merge-on-read deletes and
        # adds, so a MOR-only commit diffs as exactly its row changes;
        # both are normalized to the TO-snapshot's schema so the row
        # diff compares like with like across a schema evolution (a
        # metadata-only rename yields zero row changes, as it should)
        new = self._current_rows(spark, to, ch["added"] + ch["rewritten"])
        old = self._current_rows(
            spark, ch["from_snapshot_obj"], ch["removed"] + ch["rewritten"],
            schema_of=to,
        )
        # map columns are not comparable in set ops → diff on sorted
        # entry arrays (deterministic), restore the map type after
        map_cols = [c for c, t in new.dtypes if t.startswith("map<")]
        for c in map_cols:
            srt = F.sort_array(F.map_entries(F.col(c)))
            new = new.withColumn(c, srt)
            old = old.withColumn(c, srt)
        inserts = new.exceptAll(old).withColumn(change_col, F.lit("insert"))
        deletes = old.exceptAll(new).withColumn(change_col, F.lit("delete"))
        out = inserts.unionByName(deletes)
        for c in map_cols:
            out = out.withColumn(c, F.map_from_entries(F.col(c)))
        return out

    # ------------------------------------------------------ row-level ops
    # Each DML verb is one ROW CHANGE on the partitions it touches: the
    # rows that leave and the rows that arrive.
    #
    #   DELETE  leave: rows where coalesce(predicate, false)  arrive: -
    #   UPDATE  leave: the same rows            arrive: their SET images
    #   MERGE   leave: rows whose key is in the delta   arrive: the delta
    #
    # ``mode`` picks how _commit_change stores it; both strategies give
    # the same rows (Iceberg v2 row-level deletes draw the same line):
    #
    # - ``copy-on-write`` (default): the touched partitions are
    #   rewritten as their current rows minus the leaving rows plus the
    #   arriving ones, in a fresh version (overwrite_parts). Reads of
    #   the new snapshot pay nothing; best for dense changes.
    # - ``merge-on-read``: the arriving rows APPEND as new data files
    #   (the snapshot's ``adds``) and the leaving rows are written as
    #   one delete-file set — position deletes ``(_file, _pos)`` for
    #   DELETE/UPDATE, equality deletes on the merge keys for MERGE. No
    #   base file is rewritten, so write cost is O(changed rows) —
    #   deleting a few rows from a petabyte partition costs kilobytes.
    #   Readers anti-join the deletes out (_apply_deletes); an equality
    #   delete spares rows written at or after its sequence number, so
    #   a merge keeps its own rows and stacked merges are last-writer-
    #   wins. compact_parts / rewrite_deletes materialize them.
    #
    # MVCC as usual: readers on the prior snapshot are unaffected.
    _DML_MODES = ("copy-on-write", "merge-on-read")

    def _check_mode(self, mode: str) -> None:
        # every verb refuses an unknown mode before it reads or writes
        if mode not in self._DML_MODES:
            raise ValueError(f"mode must be one of {self._DML_MODES}, got {mode!r}")

    @staticmethod
    def _row_state(snap: dict, parts) -> dict[str, tuple]:
        """Per partition, the merge-on-read row state of ``snap`` (its
        appended versions and delete descriptors) — what a commit pins
        when its change assumes the partition's row set."""
        return {
            p: (
                snap.get("adds", {}).get(p, []),
                (snap.get("deletes") or {}).get(p, []),
            )
            for p in parts
        }

    def _write_deletes(
        self, rows: DataFrame, v: int, part_col: str, keys: list[str] | None
    ) -> dict[str, list[dict]]:
        """Write the leaving ``rows`` as one delete-file set under
        ``deletes/delv=<v>``, one directory per partition, and return
        each partition's descriptor: position deletes (``rows`` carries
        ``_file, _pos``; the count comes from the written footers) or,
        with ``keys``, equality deletes on those columns."""
        rel = f"deletes/delv={v}"
        out = os.path.join(self.root, rel)
        rows = (
            rows.select(part_col, *keys).distinct() if keys
            else rows.select(part_col, "_file", "_pos")
        )
        rows.write.partitionBy(part_col).parquet(out)
        descs: dict[str, list[dict]] = {}
        for d in sorted(os.listdir(out)):
            if not d.startswith(f"{part_col}="):
                continue
            desc = {"path": f"{rel}/{d}", "seq": v}
            if keys:
                desc.update(kind="eq", keys=list(keys))
            else:
                names = os.listdir(os.path.join(out, d))
                desc.update(kind="pos", rows=sum(
                    pq.read_metadata(os.path.join(out, d, f)).num_rows
                    for f in names if f.endswith(".parquet")
                ))
            descs[d.split("=", 1)[1]] = [desc]
        if not descs:  # nothing left: leave no trace
            shutil.rmtree(out, ignore_errors=True)
        return descs

    def _commit_change(
        self,
        snap: dict,
        mode: str,
        leave: DataFrame,
        rewrite,
        label: str,
        arrive: DataFrame | None = None,
        keys: list[str] | None = None,
        extra: dict | None = None,
        expect_extra: dict | None = None,
    ) -> dict:
        """Commit one row change on ``snap``. ``leave``: the leaving
        rows (with ``_file, _pos``, or the merge ``keys``); ``arrive``:
        the arriving rows; ``rewrite``: partitions -> their new content,
        the copy-on-write form of the change. A change that moves no
        row reads no data file (see _no_change)."""
        if mode == "merge-on-read":
            return self._commit_mor(snap, leave, label, arrive, keys, extra, expect_extra)
        # copy-on-write pins the versions AND row state of the parts it
        # rewrites (overwrite_parts with base_snapshot)
        part_col = snap.get("part_col", "part")
        parts = self._parts_of(leave, part_col)
        if not parts:
            return self._no_change(snap, label, extra, expect_extra)
        return self.overwrite_parts(
            rewrite(parts), parts, part_col=part_col, input_snapshot=label,
            extra=extra, base_snapshot=snap, expect_extra=expect_extra,
        )

    def _no_change(self, snap: dict, label: str, extra: dict | None,
                   expect_extra: dict | None) -> dict:
        """A change that moves no row: commit only the state it CASes
        (a tagged merge's idempotency ledger) as one metadata-only
        commit, else nothing."""
        if not expect_extra:
            return snap
        return self.commit_metadata(
            label, {k: extra[k] for k in expect_extra}, expect_extra
        )

    @staticmethod
    def _parts_of(rows: DataFrame, part_col: str) -> list[str]:
        return sorted(str(r[0]) for r in rows.select(part_col).distinct().collect())

    def _commit_mor(
        self, snap: dict, leave: DataFrame, label: str,
        arrive: DataFrame | None, keys: list[str] | None,
        extra: dict | None, expect_extra: dict | None,
    ) -> dict:
        """The merge-on-read writer: the arriving rows append under a
        new version through _write_parts (manifests and file stats like
        any data, so scan pruning sees them; a brand-new partition's
        files are its base) and the leaving rows become one delete-file
        set, in one commit."""
        part_col = snap.get("part_col", "part")
        if keys is not None:
            # a merge knows its partitions before it claims anything
            parts = self._parts_of(leave, part_col)
            if not parts:
                return self._no_change(snap, label, extra, expect_extra)
        schema_id, expect_schema = None, self._SCHEMA_UNCHECKED
        if arrive is not None:
            # before anything is written: a refused delta leaves no trace
            schema_id, expect_schema = self._ensure_write_schema(arrive, part_col)
        v = self._claim("version", floor=self._next_id("snapshot"))
        if keys is None:
            # position deletes land in exactly the partitions holding
            # leaving rows, so their write also finds the partitions
            dels = self._write_deletes(leave, v, part_col, None)
            parts = existing = sorted(dels)
            if not parts:
                return self._no_change(snap, label, extra, expect_extra)
        else:
            existing = [p for p in parts if p in snap["parts"]]
            # equality deletes only where base rows exist to supersede
            dels = self._write_deletes(
                leave.where(F.col(part_col).cast("string").isin(existing)),
                v, part_col, keys,
            ) if existing else {}
        if arrive is not None:
            self._write_parts(arrive, parts, v, part_col, label, schema_id)
        return self._commit(
            {
                "input_snapshot": label,
                "new_parts": [p for p in parts if p not in snap["parts"]],
                "part_col": part_col,
                **({} if arrive is None else {
                    "add_parts": existing, "schema_id": schema_id,
                }),
                **({} if keys else {"delete_parts": sorted(dels)}),
                **(extra or {}),
            },
            update={p: snap["parts"].get(p, v) for p in parts},
            base_versions={p: snap["parts"].get(p) for p in parts},
            expect_schema=expect_schema,
            add_deletes=dels,
            add_adds={p: [v] for p in existing} if arrive is not None else None,
            expect_extra=expect_extra,
            # a change that appends rows pins the row state it read: a
            # concurrent delete would see its rows resurrected (update)
            # or clobbered for shared keys (merge). A pure delete pins
            # versions only — its positions stay valid while the base
            # files do, so concurrent deletes on one part all land
            expect_row_state=(
                self._row_state(snap, existing) if arrive is not None else None
            ),
        )

    def _matches(self, spark: SparkSession, predicate: str, prune: dict | None):
        """``(snap, hit, rows)``: the current snapshot, the SQL
        three-valued match ``coalesce(predicate, false)`` and the
        matching current rows with their ``(_file, _pos)`` — one
        manifest-stat-pruned scan (``prune`` skips files by sort-order
        ranges). The scan applies the snapshot's deletes, so stacked
        deletes never duplicate positions."""
        snap = self._resolve(None, required=True)
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        scan = self.read_tier(
            spark, snapshot_id=snap["snapshot_id"], prune=prune, with_pos=True
        )
        return snap, hit, scan.where(hit)

    @staticmethod
    def _set_images(rows: DataFrame, sets: dict[str, str], hit=None) -> DataFrame:
        """``rows`` with the SET expressions applied (only where ``hit``
        holds, when given), each cast to its column's type — UPDATE
        never retypes a column."""
        types = dict(rows.dtypes)

        def image(c):
            e = F.expr(sets[c]).cast(types[c])
            return (e if hit is None else F.when(hit, e).otherwise(F.col(c))).alias(c)

        return rows.select(*[image(c) if c in sets else F.col(c) for c in rows.columns])

    def merge_rows(
        self,
        delta: DataFrame,
        keys: list[str],
        part_col: str | None = None,
        mode: str = "copy-on-write",
        idempotency_tag: str | None = None,
    ) -> dict:
        """Keyed upsert — ``MERGE INTO t USING delta ON keys WHEN
        MATCHED THEN UPDATE * WHEN NOT MATCHED THEN INSERT *`` with
        whole-row replacement: every delta row replaces the current
        rows sharing its key; unseen keys insert. Only partitions
        present in ``delta`` are touched, so merging a day's
        corrections into years of history costs one bounded key-join
        (copy-on-write; AQE broadcasts the key side when the delta is
        small) or O(delta) appends (merge-on-read).

        Keys must be unique within ``delta`` per intended output row
        (duplicate-key delta rows all land — same as Iceberg merge
        with multiple matches on the source side being an error left
        to the caller).

        PRECONDITION — keys must functionally determine the partition:
        only partitions present in ``delta`` are read and rewritten
        (that bounded read IS the O(delta) design), so if a key can
        have base rows in a partition the delta doesn't touch, those
        rows survive as silent duplicates. ``keys`` must therefore
        contain ``part_col`` or a column it is derived from (the tier
        tables satisfy this: ``part`` is a function of ``bucket_s``
        and every caller merges on ``(url, bucket_s)``). Merging on a
        key that can move between partitions (e.g. ``url`` alone on a
        time-partitioned table) is out of contract — same as Iceberg,
        where a MERGE touching rows outside the pruned partition set
        must read them. Equality-delete key columns are pinned to the
        CURRENT schema names; compact before renaming merge-key
        columns.

        ``idempotency_tag`` makes replays exactly-once for a
        single-writer feed (the streaming-upsert sink): a tag already
        in the snapshot's ``applied_upserts`` ledger returns the
        current snapshot without touching anything. (MOR merge replays
        are convergent even WITHOUT the tag — the replay's higher
        sequence supersedes the original rows — but the ledger makes
        them free and keeps the CDC changelog clean.)"""
        self._check_mode(mode)
        snap = self.current_snapshot()
        if idempotency_tag is not None and snap is not None:
            if idempotency_tag in snap.get("applied_upserts", []):
                return snap
        ledger = (
            {}
            if idempotency_tag is None
            else {"applied_upserts": (
                list((snap or {}).get("applied_upserts", []))
                + [idempotency_tag]
            )[-100:]}
        )
        # CAS the ledger this writer extended: a concurrent tagged
        # merge moving applied_upserts in the read->commit window
        # would otherwise have its entry silently dropped (lost
        # update), breaking exactly-once on ITS next replay
        ledger_cas = (
            None
            if idempotency_tag is None
            else {"applied_upserts": (snap or {}).get("applied_upserts")}
        )
        part_col = part_col or (snap.get("part_col", "part") if snap else "part")
        if part_col not in delta.columns:
            raise ValueError(f"delta must carry the partition column {part_col!r}")
        if snap is None:
            return self.write_tier(
                delta, part_col=part_col, input_snapshot="merge", extra=ledger
            )
        spark = delta.sparkSession
        return self._commit_change(
            snap, mode, delta,
            lambda parts: self._current_rows(spark, snap, parts)
            .join(delta.select(*keys).distinct(), keys, "left_anti")
            .unionByName(delta, allowMissingColumns=True),
            "merge", arrive=delta, keys=list(keys),
            extra={"merge_keys": list(keys), **ledger}, expect_extra=ledger_cas,
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str,
        prune: dict | None = None,
        mode: str = "copy-on-write",
    ) -> dict:
        """Row-level delete, keeping rows where the predicate is false
        **or NULL** (SQL DELETE three-valued semantics). ``prune``
        skips files by their sort-order ranges in the scan that finds
        the matches. No match commits nothing. Merge-on-read suits
        sparse deletes (GDPR erasure, late corrections) and stacked
        small deletes."""
        self._check_mode(mode)
        snap, hit, rows = self._matches(spark, predicate, prune)
        return self._commit_change(
            snap, mode, rows,
            lambda parts: self._current_rows(spark, snap, parts).where(~hit),
            f"delete:{predicate}",
        )

    def update_where(
        self,
        spark: SparkSession,
        predicate: str,
        set: dict[str, str],
        prune: dict | None = None,
        mode: str = "copy-on-write",
    ) -> dict:
        """Row-level UPDATE — ``UPDATE t SET col = expr WHERE pred`` —
        completing the DML triad with :meth:`merge_rows` and
        :meth:`delete_where`. Rows where the predicate is false or
        NULL are untouched (SQL three-valued semantics); ``set`` maps
        column names to SQL expressions evaluated against the row.
        Copy-on-write applies ``CASE WHEN pred THEN expr ELSE col END``
        in one pass over the touched partitions; merge-on-read deletes
        the matched positions and appends their images in one commit,
        so readers flip atomically from old to new images."""
        self._check_mode(mode)
        snap, hit, rows = self._matches(spark, predicate, prune)
        part_col = snap.get("part_col", "part")
        if part_col in set:
            raise ValueError(f"cannot SET the partition column {part_col!r}")
        cols = [c for c in rows.columns if c not in (part_col, "_file", "_pos")]
        unknown = sorted(c for c in set if c not in cols)
        if unknown:
            raise ValueError(f"unknown SET columns {unknown}; the table has {cols}")
        return self._commit_change(
            snap, mode, rows,
            lambda parts: self._set_images(
                self._current_rows(spark, snap, parts), set, hit
            ),
            f"update:{predicate}",
            arrive=self._set_images(rows.drop("_file", "_pos"), set),
        )

    # -------------------------------------------------------- maintenance
    def compact_parts(
        self,
        spark: SparkSession,
        parts: list[str] | None = None,
        target_files: int = 1,
        order: str = "linear",
    ) -> dict:
        """Rewrite partitions into ``target_files`` files each
        (Iceberg's rewrite_data_files): reads the committed version,
        coalesces, lands as a NEW version via :meth:`overwrite_parts` —
        so readers on the old snapshot are untouched and the rewrite
        is crash-safe. Row content is byte-identical (verified by the
        lineage value_hash carrying over). Files written under older
        schemas are normalized to the CURRENT schema on the way through
        — compaction doubles as schema materialization, like Iceberg's
        rewrite_data_files.

        ``order="zorder"`` (with ``target_files > 1``) rewrites each
        partition into files covering narrow RECTANGLES of the sort-
        order key space instead of hash-salted slices: rows range-
        partition on (part, interleaved-bit z-value) and sort by z
        in-task, so the per-file min/max manifest stats become
        selective on EVERY sort dimension at once (Iceberg
        zorder / Delta OPTIMIZE ZORDER BY). Linear keeps leading-
        column locality; zorder trades a little of it for pruning on
        the trailing dimensions — pick per table read pattern."""
        if order not in ("linear", "zorder"):
            raise ValueError(f"unknown compaction order {order!r}")
        if order == "zorder" and target_files <= 1:
            raise ValueError(
                "zorder compaction needs target_files > 1 — with one "
                "file per part there are no file boundaries to cluster"
            )
        snap = self._resolve(None, required=True)
        todo = sorted(snap["parts"]) if parts is None else sorted(
            {str(p) for p in parts} & set(snap["parts"])
        )
        part_col = snap.get("part_col", "part")
        df = self._current_rows(spark, snap, todo)
        # the overwrite commit drops the materialized parts' delete
        # descriptors (version changed ⇒ deletes no longer apply) —
        # compaction doubles as Iceberg's rewrite_position_delete_files
        if target_files <= 1:
            if not self.cluster_writes:
                # no rebalance on the write path (cluster_writes=False
                # is the streaming/foreign-writer regime) — put each
                # partition wholly into one task so exactly one file
                # lands per part (hash-partitioning by part_col never
                # splits a part across tasks)
                df = df.repartition(max(1, len(todo)), F.col(part_col))
                sort_cols = [c for c in self.sort_order if c in df.columns]
                if sort_cols:
                    df = df.sortWithinPartitions(part_col, *sort_cols)
            # with cluster_writes=True the write's REBALANCE + in-task
            # sort already lands one file per partition
            return self.overwrite_parts(
                df, todo, part_col=part_col, input_snapshot="compaction",
                base_snapshot=snap,
            )
        if order == "zorder":
            from lambdo_spark.rollup.zorder import zvalue_expr

            zcols = [c for c in self.sort_order if c in df.columns]
            if not zcols:
                raise ValueError(
                    "zorder compaction needs sort-order columns in the frame"
                )
            zv, _ = zvalue_expr(df, zcols)
            ranged = df.withColumn("_zv", zv).repartitionByRange(
                max(1, len(todo)) * target_files, F.col(part_col), F.col("_zv")
            )
            # in-task z sort clusters row groups; the projection after
            # the sort (drop _zv) preserves in-partition order
            ranged = ranged.sortWithinPartitions(part_col, "_zv").drop("_zv")
            return self.overwrite_parts(
                ranged, todo, part_col=part_col, input_snapshot="compaction",
                base_snapshot=snap, cluster=False,
            )
        # target_files > 1: a deterministic in-partition salt splits
        # each part across exactly ≤ target_files tasks; the write
        # must NOT re-cluster (the rebalance hint would re-shuffle and
        # pick its own file count), so cluster=False for this write.
        salt_src = [c for c in self.sort_order if c in df.columns] or df.columns
        salted = df.repartition(
            max(1, len(todo)) * target_files,
            F.col(part_col),
            F.pmod(F.xxhash64(*salt_src), F.lit(target_files)),
        )
        sort_cols = [c for c in self.sort_order if c in df.columns]
        if sort_cols:
            salted = salted.sortWithinPartitions(part_col, *sort_cols)
        return self.overwrite_parts(
            salted, todo, part_col=part_col, input_snapshot="compaction",
            base_snapshot=snap, cluster=False,
        )

    def rewrite_deletes(
        self, spark: SparkSession, min_files: int = 1, target_files: int = 1
    ) -> dict:
        """Targeted merge-on-read maintenance (Iceberg's
        rewrite_position_delete_files as a policy): compact ONLY the
        partitions whose MOR read tax — delete files plus appended
        file sets — has reached ``min_files``. Partitions below the
        threshold keep their cheap O(delta) state; partitions above it
        fold everything back into clean base files in one bounded
        rewrite. Run periodically next to a streaming upsert sink so
        the anti-join side stays broadcast-sized. Returns the commit
        snapshot, or the current one when nothing qualifies."""
        snap = self._resolve(None, required=True)
        tax: dict[str, int] = {}
        for p, ds in (snap.get("deletes") or {}).items():
            tax[p] = tax.get(p, 0) + len(ds)
        for p, vs in (snap.get("adds") or {}).items():
            tax[p] = tax.get(p, 0) + len(vs)
        todo = sorted(p for p, n in tax.items() if n >= min_files)
        if not todo:
            return snap
        return self.compact_parts(spark, parts=todo, target_files=target_files)

    def remove_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """Delete the file sets no existing snapshot references —
        leftovers of crashed attempts and lost optimistic-concurrency
        races (Iceberg's remove_orphan_files): version directories with
        their manifests, delete-file directories, and the schema and
        partition-spec files of lost evolutions. ``older_than_s``
        protects in-flight writers: a set is only an orphan once its
        newest file is older than the grace period. Also drops
        version-claim markers strictly below the next snapshot id — ids
        no future claim starts at or below. Returns the deleted
        directories."""
        snaps = [s for s in map(self.snapshot, self._ids("snapshot")) if s]
        deleted = self._gc(snaps, older_than_s=older_than_s)
        floor = self._next_id("snapshot")
        for n in self._ids("version", ".claim"):
            if n < floor:
                with contextlib.suppress(OSError):
                    os.remove(os.path.join(self.meta_dir, f"version-{n}.claim"))
        return deleted

    def _file_sets(self, snap: dict) -> dict[tuple, list[str]]:
        """The file sets ``snap`` references, each with its paths: a
        (part, version) set is its ``snapv`` directory and manifest, a
        delete set its ``deletes/delv=<v>/<part_col>=<p>`` directory."""
        pc = snap.get("part_col", "part")
        out = {
            ("data", p, v): [self._version_dir(p, v, pc), self._manifest_path(p, v)]
            for p, v in self._version_pairs(snap)
        }
        for ds in (snap.get("deletes") or {}).values():
            for d in ds:
                out[("deletes", d["path"])] = [os.path.join(self.root, d["path"])]
        return out

    def _file_sets_on_disk(self) -> dict[tuple, list[str]]:
        """Every file set on disk, referenced or not, keyed as in
        :meth:`_file_sets`, plus each ``schema-<n>.json`` and
        ``part-spec-<n>.json`` as ``(prefix, n)``. A ``delv=`` directory
        with no subdirectory (a delete that wrote no partition) is a set
        of its own; one still holding Spark's ``_temporary`` is being
        written."""
        out: dict[tuple, list[str]] = {}
        for pdir in _listdir(self.data_dir):
            if "=" not in pdir:
                continue
            p = pdir.split("=", 1)[1]
            for vdir in _listdir(os.path.join(self.data_dir, pdir)):
                if vdir.startswith("snapv="):
                    out.setdefault(("data", p, int(vdir[len("snapv="):])), []).append(
                        os.path.join(self.data_dir, pdir, vdir)
                    )
        for f in _listdir(self.meta_dir):
            for prefix, _ in _META_SETS:
                n = _meta_id(f, prefix)
                if n is not None:
                    out[(prefix, n)] = [os.path.join(self.meta_dir, f)]
            if not (f.startswith("manifest-") and f.endswith(".json")):
                continue
            p, _, v = f[len("manifest-"):-len(".json")].rpartition("-v")
            if v.isdigit():
                out.setdefault(("data", p, int(v)), []).append(
                    os.path.join(self.meta_dir, f)
                )
        for vdir in _listdir(os.path.join(self.root, "deletes")):
            if not vdir.startswith("delv="):
                continue
            subs = self._subdirs(f"deletes/{vdir}")
            rels = [f"deletes/{vdir}/{d}" for d in subs if "=" in d]
            for rel in rels if subs else [f"deletes/{vdir}"]:
                out[("deletes", rel)] = [os.path.join(self.root, rel)]
        return out

    def _subdirs(self, rel: str) -> list[str]:
        path = os.path.join(self.root, rel)
        return [d for d in _listdir(path) if os.path.isdir(os.path.join(path, d))]

    def _gc(
        self,
        kept: list[dict],
        expired: list[dict] = (),
        older_than_s: float | None = None,
    ) -> list[str]:
        """The one GC rule (the module docstring's): a file set no
        ``kept`` snapshot references is removed when an ``expired``
        snapshot referenced it, or, with ``older_than_s`` (the orphan
        pass), when its newest file is at least that old. A schema or
        partition-spec file is live while a kept snapshot or one of
        their manifests names its id; expiry alone never removes one. A
        ``delv=`` directory goes with its last partition. Returns the
        removed directories."""
        live = set()
        for snap in kept:
            live.update(self._file_sets(snap))
            live.update((prefix, snap.get(key)) for prefix, key in _META_SETS)
        # kept files are read under the schema they were written under
        kept_versions = [k[1:] for k in live if k[0] == "data"]
        for p, v in kept_versions:
            live.add(("schema", (_read_json(self._manifest_path(p, v)) or {}).get("schema_id")))
        doomed: dict[tuple, list[str]] = {}
        for snap in expired:
            doomed.update(self._file_sets(snap))
        if older_than_s is not None:
            now = time.time()
            for key, paths in self._file_sets_on_disk().items():
                if key not in doomed and now - _newest(paths) >= older_than_s:
                    doomed[key] = paths
        removed = []
        for key in sorted(set(doomed) - live):
            for path in doomed[key]:
                if os.path.isdir(path):
                    shutil.rmtree(path)
                    removed.append(path)
                elif os.path.exists(path):
                    os.remove(path)
            vdir = os.path.dirname(key[1]) if key[0] == "deletes" else ""
            if vdir.startswith("deletes/delv=") and not self._subdirs(vdir):
                shutil.rmtree(os.path.join(self.root, vdir), ignore_errors=True)
        return removed

    # ------------------------------------------------------------ expire
    def drop_parts_older_than(self, cutoff: int) -> dict:
        """Age-based data retention as a METADATA-ONLY commit (the
        drop_chunks / ALTER TABLE DROP PARTITION idiom): partitions
        whose time-bucket value is < ``cutoff`` leave the new
        snapshot's parts map — zero data files are read, rewritten, or
        deleted, so retention on a 100 TB table costs one JSON write.
        Older snapshots still time-travel to the dropped data;
        :meth:`expire_snapshots` later reclaims the bytes. Commit
        validation rejects a concurrent rewrite of a partition being
        dropped (the rewrite would otherwise resurrect under GC)."""
        snap = self._resolve(None, required=True)
        part_col = snap.get("part_col", "part")
        try:
            doomed = sorted(p for p in snap["parts"] if int(p) < cutoff)
        except ValueError as e:
            raise ValueError(
                f"drop_parts_older_than needs numeric {part_col!r} "
                f"partition values (time buckets)"
            ) from e
        if not doomed:
            return snap
        return self._commit(
            {
                "input_snapshot": f"drop:{part_col}<{cutoff}",
                "new_parts": [],
                "dropped_parts": doomed,
                "part_col": part_col,
            },
            base_versions={p: snap["parts"][p] for p in doomed},
            remove=set(doomed),
        )

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Expire every snapshot older than the ``keep_last`` most
        recent, then remove the file sets only they referenced — and
        nothing no expired snapshot referenced, so a writer between its
        write and its commit keeps its files. Returns the deleted
        directories. CURRENT and the kept snapshots stay fully readable
        (Iceberg's expire_snapshots)."""
        ids = self._ids("snapshot")
        # every ref head (main + branches) stays readable regardless of
        # age — an unpublished audit branch must survive maintenance —
        # and so does each branch's own commit chain (branch-tagged
        # snapshots, down to the fork into main history), or
        # publish_branch's ancestry walk would break
        refs = self.list_branches()
        heads = set(refs.values())
        keep = set(ids[-keep_last:]) | heads
        for b, h in refs.items():
            if b == "main":
                continue
            for s in self._ancestry(self.snapshot(h)):
                if not (s.get("branch") or s["snapshot_id"] in heads):
                    break
                keep.add(s["snapshot_id"])
        snaps = [s for s in map(self.snapshot, ids) if s]
        expired = [s for s in snaps if s["snapshot_id"] not in keep]
        for s in expired:
            os.remove(os.path.join(self.meta_dir, f"snapshot-{s['snapshot_id']}.json"))
        return self._gc([s for s in snaps if s["snapshot_id"] in keep], expired)


def with_part(
    df: DataFrame,
    bucket_col: str = "bucket_s",
    part_seconds: int = DEFAULT_PART_SECONDS,
) -> DataFrame:
    """Derive the partition value (weekly by default) from the bucket."""
    return df.withColumn(
        "part",
        (F.floor(F.col(bucket_col) / F.lit(part_seconds)) * F.lit(part_seconds)).cast(
            "long"
        ),
    )
