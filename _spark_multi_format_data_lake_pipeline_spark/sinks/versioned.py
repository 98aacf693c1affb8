"""Versioned parquet tables: snapshot manifests, time travel, atomic
commit — the table-format mechanism (Iceberg/Delta's core ideas) built
jar-free on plain parquet + JSON manifests.

The reference targets Iceberg format-version 2 (reference
utils/spark_write_iceberg.py:10-84: snapshots, SHOW TABLES audit); this
sandbox has no Iceberg jars (PLANS.md environment probes r4-r6), so the
production writer degrades to ``saveAsTable``. This module closes the
CONCEPTUAL half of that gap with the minimal honest implementation of
what a table format actually is:

- data files are immutable parquet files under ``<path>/data/``, each
  written once under a UUID name and never rewritten;
- a snapshot is a JSON manifest under ``<path>/_manifests/v{N}.json``
  resolving to exactly the data files (+ row count, schema) visible at
  version N.  The metadata plane is LOG-STRUCTURED, the Delta-log /
  Iceberg-manifest-list shape: most commits are DELTA manifests
  (files added/removed + their per-file stats/blooms/bases — commit
  bytes scale with the CHANGED files, never the table), every
  ``_CHECKPOINT_INTERVAL``-th version is a full checkpoint bounding the
  resolution chain, and readers resolve checkpoint + tail once per
  version (memoized).  Pre-delta tables (every manifest full) read
  unchanged, and ``vacuum`` re-anchors any retained delta whose base it
  drops;
- a commit is the CREATION of the next manifest — staged to a temp name
  and atomically renamed with O_EXCL semantics, so of two concurrent
  committers exactly one wins and the loser gets a clean
  ``ConcurrentCommitError`` to retry on (optimistic concurrency, the
  Delta/Iceberg protocol); readers never see a partial commit because
  they only ever list files through a manifest that exists;
- time travel = reading through an older manifest; rollback = COMMITTING
  a new version whose file list equals the old one (history is never
  destroyed — same as Iceberg rollback);
- appends add files, overwrites start a fresh file list; either way old
  versions stay readable until an explicit ``vacuum`` drops files no
  retained manifest references.

Manifests also carry per-file column min/max stats (harvested from the
parquet footers at commit time — the Iceberg manifest-writer role), and
``read_version_pruned`` skips whole files whose range can't satisfy a
predicate BEFORE Spark ever lists them — the zone-map/data-skipping
half of the table-format story.  Files without stats for the probed
column are conservatively kept, so pruning is always correctness-safe.
Appends may ADD columns (``_merge_schemas``; readers see NULL for
pre-evolution files via explicit committed-schema scans) and, with
``allow_type_widening=True``, WIDEN them along the safe
byte→short→int→long / float→double lattices (Delta type widening —
old files keep their narrow physical type, the reader upcasts
exactly), and ``compact`` is the
OPTIMIZE half of maintenance: rewrite the current snapshot into fewer
files as a new version, history intact until vacuum.

Row-level operations are first-class: ``versioned_upsert`` /
``versioned_delete`` are COPY-ON-WRITE — the manifest zone maps prove
which files the change set can touch and only those are rewritten, the
rest carry into the new snapshot verbatim (the jar-free analog of the
reference's Iceberg format-version 2 choice, reference
config/spark_config.py:82 + utils/merge_utils.py:70-82).  Writes may be
Hive-partitioned (``partition_by``); per-file partition values join the
zone maps, so partition pruning and file pruning are one mechanism.
``read_changes`` is the change-data-feed surface (row-level I/U/D
between any two versions), and ``compact`` size-bins its rewrite from
manifest-recorded file sizes.

Row-level DELETE offers BOTH physical strategies, the Delta/Iceberg
copy-on-write vs merge-on-read choice: ``strategy="cow"`` rewrites the
candidate files, ``strategy="dv"`` writes DELETION VECTORS — (file,
row-position) side files under ``_deletes/`` keyed by scan lineage
(``_metadata.file_path``/``row_index``) — and commits with every data
file carried verbatim, so a tiny delete against a huge table costs
O(matched rows), not a rewrite.  Every reader applies the vectors with
one (broadcast while small) anti-join; ``compact()``/overwrite
materializes them back to plain files.

``bucket_by=(col, n)`` adds the HASH-BUCKET layout (Iceberg's
``bucket(n, col)`` partition transform): every write materializes a
hidden ``__bucket = pmod(hash(col), n)`` partition column, committed
into the same zone maps as a [b, b] range.  ``read_version_keyed``
point lookups and keyed upserts/CDC applies then confine themselves to
the touched buckets — the prune that works when keys are uniformly
distributed and min/max ranges span every file.  ``bloom_by=[cols]``
adds the third pruning tier: per-file bloom bitmasks for point/IN
lookups (``read_version_bloom``) on columns the layout does NOT
cluster — the manifest carries an O(40 B) content-addressed sidecar
reference per file (``_manifests/blooms/``), probes load masks lazily.

``clone_table`` is SHALLOW CLONE (metadata-only commit whose
``file_base`` reads the source's files in place; rewrites materialize
locally, ``compact`` completes the divorce) and ``create_tag`` /
``read_tag`` are Iceberg-style named snapshot refs that ``vacuum``
retention-protects.

Deliberate divergences from the real formats, documented: identity and
hash-bucket partition transforms only (no truncate/hour), delete
vectors are parquet (file, pos) pair lists rather than roaring bitmaps
(same semantics, simpler encoding; the anti-join replaces the bitmap
probe), stats cover primitive int/float/string/bool columns only, and
the atomic rename relies on a rename-if-absent filesystem primitive
(true on POSIX/HDFS; on S3 use a conditional-put or a commit service,
exactly as Delta-on-S3 does)."""

from __future__ import annotations

import hashlib
import json
import os
import threading
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — reread and retry."""


_SIDE_JOB_POOL = None
_SIDE_JOB_POOL_LOCK = threading.Lock()


def _side_job_pool():
    """Shared 2-worker pool for overlapping a commit's INDEPENDENT Spark
    write jobs (the CDF feed write vs the snapshot/DV write — disjoint
    output dirs, both must finish before the manifest commits).  Spark's
    scheduler runs concurrent driver jobs fine (guide §2.6: actions are
    only sequential because the driver calls them sequentially); a
    shared pool keeps the py4j-pinned JVM thread count bounded instead
    of leaking one per commit.  Two workers suffice: no commit ever has
    more than one side job in flight, and commit paths never nest pool
    submissions (no deadlock).  The lock makes the lazy creation
    race-free: two threads committing at once share one pool."""
    global _SIDE_JOB_POOL
    with _SIDE_JOB_POOL_LOCK:
        if _SIDE_JOB_POOL is None:
            from concurrent.futures import ThreadPoolExecutor

            _SIDE_JOB_POOL = ThreadPoolExecutor(
                max_workers=2, thread_name_prefix="versioned-side-job"
            )
    return _SIDE_JOB_POOL


def _manifest_dir(path: str) -> Path:
    return Path(path) / "_manifests"


def versions(path: str) -> list[int]:
    """Committed versions, ascending. Version numbers are the manifest
    file names — listing is one directory read, no file opens."""
    d = _manifest_dir(path)
    if not d.is_dir():
        return []
    out = []
    for f in d.iterdir():
        name = f.name
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


# --- manifest metadata plane: delta commits + periodic checkpoints ----
#
# A naive table format serializes the FULL file list (+ per-file stats,
# sizes, partition values, bloom masks) into every commit — O(table
# files) of JSON per commit, which at the module's 100 TB design point
# (~800k files at 128 MB) is hundreds of MB rewritten by an append of
# ONE file, and the streaming sink commits once per micro-batch.  This
# is exactly why Delta has a delta log + parquet checkpoints and
# Iceberg has manifest files + a manifest list.  Same shape here:
#
# - most commits are DELTA manifests: ``{"kind": "delta", "base": N-1,
#   "remove": [...], "append": [...], "entries": {file: per-file
#   metadata}}`` plus the O(columns) table-level keys (schema, specs,
#   constraints, row_count, mode, clock, txn) stored fully — commit
#   bytes scale with the CHANGED files, never the table;
# - every ``_CHECKPOINT_INTERVAL``-th version (and v1, and any commit
#   whose carried-file order a delta can't express) is a FULL
#   checkpoint: above ``_CHECKPOINT_PARQUET_MIN_FILES`` the file lists
#   + per-file plane move to a content-addressed PARQUET sidecar under
#   ``_manifests/plane/`` and the JSON keeps O(columns)
#   (``_encode_checkpoint`` — the Delta parquet-checkpoint / Iceberg
#   manifest-list shape); small tables keep the legacy inline form
#   (no "kind" key) and pre-delta tables read unchanged;
# - ``_read_manifest`` resolves checkpoint + delta tail into the full
#   snapshot dict every consumer already expects, memoized per
#   (path, version, file signature) so repeated reads cost O(1);
# - ``vacuum`` re-anchors any RETAINED delta whose base manifest is
#   being dropped by rewriting it as its resolved full form first
#   (bounded encoding preserved), and sweeps plane/bloom sidecars no
#   retained manifest references.
_CHECKPOINT_INTERVAL = 10

# How many consecutive lost commit races an APPEND re-validates and
# re-links through before giving up (each retry rebases onto the then-
# current head, so livelock needs a sustained faster writer).
_COMMIT_RETRIES = 5

# Per-file metadata plane keys (dicts keyed by data-file name) that are
# delta-encoded between commits; everything else in a manifest is
# O(columns)/O(1) and travels fully in every commit.
_PLANE_KEYS = (
    "file_stats",
    "file_meta",
    "bloom",
    "file_base",
    "dv_counts",
    # dv_covers is keyed by DELETE-VECTOR file name (the others key by
    # data-file name): the data files each DV parquet holds rows for,
    # recorded at DV-write time so later carries can drop vectors whose
    # covered files all left the table (dead weight otherwise — every
    # DV-applying read loads them for rows that can never match).
    # Legacy manifests without it carry every vector: correct, unpruned.
    "dv_covers",
    # per-file NDV register sidecar refs (ndv_by) — same shape as bloom
    "ndv",
)
_DELTA_ONLY_KEYS = ("kind", "base", "remove", "append", "entries")


def _file_entry(m: dict, f: str) -> dict:
    """The per-file metadata-plane view of one file: {plane key: value}
    for every plane dict that has an entry for ``f``."""
    e = {}
    for k in _PLANE_KEYS:
        d = m.get(k)
        if d and f in d:
            e[k] = d[f]
    return e


def _make_delta(prev: dict, state: dict) -> dict | None:
    """Encode snapshot ``state`` as a delta against ``prev``, or None
    when the carried files' ORDER deviates from the previous manifest
    (e.g. bucket-confined carries interleave) — the caller then writes
    a full checkpoint; correctness never depends on delta encoding.
    ``entries`` carries the per-file plane for appended files AND any
    carried file whose plane entry changed (a DV delete incrementing a
    file's deleted-row count is the canonical case)."""
    pf, nf = prev["files"], state["files"]
    ps, ns = set(pf), set(nf)
    removed = [f for f in pf if f not in ns]
    appended = [f for f in nf if f not in ps]
    if [f for f in pf if f in ns] + appended != nf:
        return None
    # the per-file plane also covers delete-vector parquet files (their
    # shallow-clone ``file_base`` entries live in the same dicts)
    prev_universe = ps | set(prev.get("dv_files") or [])
    universe = list(nf) + [
        f for f in (state.get("dv_files") or []) if f not in ns
    ]
    entries: dict[str, dict] = {}
    for f in universe:
        e = _file_entry(state, f)
        if f not in prev_universe:
            if e:
                entries[f] = e
        elif e != _file_entry(prev, f):
            entries[f] = e
    delta = {
        k: v
        for k, v in state.items()
        if k != "files" and k not in _PLANE_KEYS and k not in _DELTA_ONLY_KEYS
    }
    delta.update(
        {
            "kind": "delta",
            "base": prev["version"],
            "remove": removed,
            "append": appended,
            "entries": entries,
        }
    )
    return delta


def _apply_delta(base: dict, d: dict) -> dict:
    """Resolve a delta manifest against its (resolved) base into the
    full snapshot dict — the exact shape a full manifest carries."""
    removed = set(d["remove"])
    entries = d["entries"]
    files = [f for f in base["files"] if f not in removed] + d["append"]
    state = {k: v for k, v in d.items() if k not in _DELTA_ONLY_KEYS}
    state["files"] = files
    fileset = set(files)
    universe = files + [
        f for f in (state.get("dv_files") or []) if f not in fileset
    ]
    for k in _PLANE_KEYS:
        prev_d = base.get(k) or {}
        nd = {
            f: prev_d[f] for f in universe if f in prev_d and f not in entries
        }
        for f, e in entries.items():
            if k in e:
                nd[f] = e[k]
        if nd:
            state[k] = nd
    return state


# --- columnar checkpoints: the per-file plane leaves the JSON --------
#
# A FULL checkpoint used to serialize the whole per-file plane (stats,
# meta, bases, DV counts, bloom pointers) inline in v{N}.json — at the
# 100 TB design point (~800k files) that is a multi-hundred-MB JSON
# blob rewritten every _CHECKPOINT_INTERVAL-th commit and re-parsed by
# the driver on every uncached resolution.  Delta solves this with
# parquet checkpoints, Iceberg with avro manifest lists; same shape
# here: a checkpoint's v{N}.json keeps only the O(columns) table-level
# keys plus a pointer to a content-addressed PARQUET sidecar under
# _manifests/plane/ holding one row per file (name, kind, per-file
# plane entry as JSON).  Columnar + compressed + arrow-parsed: bounded
# driver bytes, no O(table) JSON.  Tables under the threshold keep the
# legacy inline form (zero extra files, and the legacy read path stays
# exercised); _read_manifest resolves both identically.
_CHECKPOINT_PARQUET_MIN_FILES = 64


def _plane_dir(path: str) -> Path:
    return _manifest_dir(path) / "plane"


def _encode_checkpoint(path: str, state: dict) -> dict:
    """Encode a FULL snapshot for commit: above the size threshold the
    per-file plane (and the file lists themselves) move to a
    content-addressed parquet sidecar and the returned manifest dict is
    O(columns); below it the state passes through unchanged (legacy
    inline checkpoint).  Content addressing makes the sidecar write
    idempotent — a commit-race retry or a concurrent identical
    checkpoint reuses the same file, so losers never corrupt winners."""
    files = list(state["files"])
    dvf = list(state.get("dv_files") or [])
    if len(files) + len(dvf) < _CHECKPOINT_PARQUET_MIN_FILES:
        return state
    import pyarrow as pa
    import pyarrow.parquet as pq

    names: list[str] = []
    kinds: list[str] = []
    entries: list[str] = []
    for kind, fl in (("data", files), ("dv", dvf)):
        for f in fl:
            names.append(f)
            kinds.append(kind)
            e = _file_entry(state, f)
            entries.append(
                json.dumps(e, sort_keys=True, default=dict) if e else ""
            )
    digest = hashlib.blake2b(digest_size=16)
    for n, kd, e in zip(names, kinds, entries):
        digest.update(n.encode())
        digest.update(kd.encode())
        digest.update(e.encode())
        digest.update(b"\x00")
    name = f"p-{digest.hexdigest()}.parquet"
    d = _plane_dir(path)
    d.mkdir(parents=True, exist_ok=True)
    target = d / name
    if not target.exists():
        tmp = d / f".tmp-{uuid.uuid4().hex}"
        pq.write_table(
            pa.table(
                {"name": names, "kind": kinds, "entry": entries}
            ),
            str(tmp),
            compression="zstd",
        )
        os.replace(tmp, target)  # same content under both racers
    raw = {
        k: v
        for k, v in state.items()
        if k not in _PLANE_KEYS and k not in ("files", "dv_files")
    }
    raw["kind"] = "checkpoint"
    raw["plane_file"] = name
    raw["n_files"] = len(files)
    return raw


def _load_checkpoint(path: str, raw: dict) -> dict:
    """Resolve a parquet-plane checkpoint into the full snapshot dict
    every consumer expects — the exact shape a legacy inline checkpoint
    carries, so downstream code cannot tell the forms apart (the
    resolution-equivalence contract)."""
    import pyarrow.parquet as pq

    t = pq.read_table(str(_plane_dir(path) / raw["plane_file"]))
    names = t.column("name").to_pylist()
    kinds = t.column("kind").to_pylist()
    entries = t.column("entry").to_pylist()
    state = {
        k: v
        for k, v in raw.items()
        if k not in ("kind", "plane_file", "n_files")
    }
    files: list[str] = []
    dvf: list[str] = []
    planes: dict[str, dict] = {k: {} for k in _PLANE_KEYS}
    for n, kd, e in zip(names, kinds, entries):
        (files if kd == "data" else dvf).append(n)
        if e:
            for k, v in json.loads(e).items():
                planes[k][n] = v
    state["files"] = files
    if dvf:
        state["dv_files"] = dvf
    for k, dd in planes.items():
        if dd:
            state[k] = dd
    return state


# Resolved-manifest memo: manifests are immutable once committed (the
# atomic link in ``_commit`` never overwrites), so (path, version) plus
# the manifest file's (mtime, size) signature — which changes on the two
# sanctioned in-place rewrites, vacuum's re-anchoring and test fixture
# surgery — is a safe cache key.  Re-anchoring ALSO invalidates the
# version's entries explicitly (``_uncache_version``); the key further
# carries a first-64KiB CONTENT fingerprint so a rewrite that somehow
# preserves both size and mtime_ns (coarse-clock filesystem, tar-style
# restore) still misses the cache — the fingerprint costs one small
# read per lookup, well under the JSON parse + delta resolution it can
# skip.
_RESOLVE_CACHE: dict[tuple, dict] = {}
_RESOLVE_CACHE_MAX = 512


def _uncache_version(path: str, version: int) -> None:
    """Drop every cached resolution of (path, version) — called by the
    sanctioned in-place manifest rewrite (vacuum re-anchoring)."""
    root = str(Path(path).resolve())
    for k in [k for k in _RESOLVE_CACHE if k[0] == root and k[1] == version]:
        del _RESOLVE_CACHE[k]


def _read_manifest(path: str, version: int) -> dict:
    from types import MappingProxyType

    p = _manifest_dir(path) / f"v{version}.json"
    st = p.stat()
    with open(p, "rb") as fh:
        head = fh.read(65536)
    fp = hashlib.blake2b(head, digest_size=8).hexdigest()
    key = (
        str(Path(path).resolve()),
        version,
        st.st_mtime_ns,
        st.st_size,
        fp,
    )
    state = _RESOLVE_CACHE.get(key)
    if state is None:
        raw = json.loads(p.read_text())
        if raw.get("kind") == "delta":
            state = _apply_delta(_read_manifest(path, raw["base"]), raw)
        elif raw.get("kind") == "checkpoint":
            state = _load_checkpoint(path, raw)
        else:
            state = raw
        # Freeze the per-file plane dicts before caching: the resolved
        # state is SHARED across cache hits and across versions (delta
        # resolution reuses the base's entries), so a caller writing
        # into e.g. ``m["file_stats"][f]`` would silently corrupt every
        # other reader's snapshot.  The read-only view turns that bug
        # class into an immediate TypeError at zero copy cost; writers
        # already build fresh dicts, and ``_commit`` serializes views
        # via ``default=dict``.
        for k in _PLANE_KEYS:
            v = state.get(k)
            if isinstance(v, dict):
                state[k] = MappingProxyType(v)
        if len(_RESOLVE_CACHE) >= _RESOLVE_CACHE_MAX:
            _RESOLVE_CACHE.clear()
        _RESOLVE_CACHE[key] = state
    # shallow copy: callers may rebind top-level keys on the result
    return dict(state)


# Minimum clock advance per commit when the wall clock stalls or steps
# back (Delta's in-commit-timestamp rule: max(prev + ε, now)).  1 ms —
# coarse enough to stay honest wall-clock, fine enough that a burst of
# clamped commits drifts the table clock by well under a second.
_COMMIT_CLOCK_EPS = 0.001


def _commit_state(path: str, state: dict, prev: dict | None) -> int:
    """Commit snapshot ``state`` (full resolved form) as either a delta
    against ``prev`` or a full checkpoint.  Checkpoint when there is no
    previous snapshot, on every ``_CHECKPOINT_INTERVAL``-th version (the
    Delta-log cadence — bounds the resolution chain), or when the delta
    encoding can't express the carried-file order.

    ``committed_at`` is clamped MONOTONE here (in-commit timestamps,
    Delta's rule: ``max(prev_committed_at + ε, now)``) — every commit
    verb stamps ``time.time()`` and every consumer of the table clock
    (``version_at_or_before`` / ``version_at_or_after``, TIMESTAMP AS
    OF, the stream's ``startingTimestamp``/``endingTimestamp``, the
    vacuum-gap proof) assumes commit clocks never step back, so an NTP
    step-back between commits must not be able to record a regressed
    stamp.  Centralized at the single commit choke point instead of at
    the ~15 stamp sites; legacy manifests without the field skip the
    clamp (their consumers already fall back to manifest mtime)."""
    version = state["version"]
    if prev is not None:
        pat = prev.get("committed_at")
        sat = state.get("committed_at")
        if pat is not None and sat is not None and float(sat) <= float(pat):
            state["committed_at"] = float(pat) + _COMMIT_CLOCK_EPS
    raw = None
    if prev is not None and version % _CHECKPOINT_INTERVAL != 0:
        raw = _make_delta(prev, state)
    if raw is None:
        raw = _encode_checkpoint(path, state)
    _commit(path, version, raw)
    return version


def _commit(path: str, version: int, manifest: dict) -> None:
    """Atomic commit: write to a temp name, link into place with
    fail-if-exists semantics. ``os.link`` (and the rename on the POSIX
    fallback) raises FileExistsError if a concurrent writer won."""
    d = _manifest_dir(path)
    d.mkdir(parents=True, exist_ok=True)
    tmp = d / f".tmp-{uuid.uuid4().hex}.json"
    # default=dict: plane values of manifests derived from a cached
    # resolution ({**m, ...}) are read-only mapping views
    tmp.write_text(json.dumps(manifest, indent=1, default=dict))
    target = d / f"v{version}.json"
    try:
        os.link(tmp, target)  # atomic, fails if target exists
    except FileExistsError as e:
        raise ConcurrentCommitError(
            f"version {version} of {path} was committed concurrently"
        ) from e
    finally:
        tmp.unlink(missing_ok=True)


def _ts_str(v) -> str:
    """Hive-partition-style string for a date/timestamp value — the
    SAME normal form Spark's ``partitionBy`` path-encodes, so
    footer-derived ranges and path-derived [v, v] ranges stay
    lexicographically comparable even when partition evolution mixes
    both sources for one column: space separator, fractional seconds
    stripped of trailing zeros (``.500000``→``.5``, ``.000000``→
    dropped).  ISO lexicographic order equals value order, which is
    what lets string zone maps prune time ranges exactly."""
    import datetime as _dt

    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        s = v.isoformat(sep=" ")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s
    return v.isoformat()


def _harvest_file_stats(path: str, files: list[str]) -> dict[str, dict]:
    """Per-file column (min, max) ranges from the parquet footers the
    write just produced — driver-side, but bounded by the COMMIT's file
    count (one footer read per task output, the same work an Iceberg
    manifest writer does), never by table size.  Primitive
    int/float/string/bool stats are kept typed; date/timestamp stats
    are kept as Hive-normal-form ISO strings (lexicographic order ==
    value order; ``_candidate_split`` coerces typed probes to the same
    form), so time-range file pruning — the dominant prune on
    time-series at scale — works from the same zone maps.  Anything
    else (decimals, nested) is skipped and those files simply never
    prune.

    A column's (min, max) is recorded only when EVERY row group of the
    file contributed usable stats for it: a statless (or undecodable)
    row group could hold rows outside the other groups' range, so a
    partially-covered range would under-cover the file and let
    ``read_version_pruned`` skip matching rows — the column is omitted
    instead and the file is conservatively kept."""
    stats, _meta = _harvest(path, files)
    return stats


def _harvest(
    path: str, files: list[str]
) -> tuple[dict[str, dict], dict[str, dict]]:
    """One footer read per file → (per-file column ranges, per-file
    {bytes, rows} metadata).  Sizes come from the filesystem, row counts
    from the parquet footer; both feed maintenance (size-binned
    compaction) and carried-file bookkeeping (upsert/delete row counts)
    without ever re-scanning data.

    ``meta[rel]["nulls"]`` additionally records per-column NULL counts
    (Delta's third data-skipping statistic) when every row group
    reports one: ``IS NULL`` skips files with zero nulls, ``IS NOT
    NULL`` skips all-null files — including files the min/max ranges
    can never prune because an all-null column has no range at all."""
    import datetime as _dt

    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    meta: dict[str, dict] = {}
    for rel in files:
        stats: dict[str, list] = {}
        covered: dict[str, int] = {}
        nulls: dict[str, int] = {}
        nulls_covered: dict[str, int] = {}
        try:
            meta[rel] = {"bytes": (Path(path) / rel).stat().st_size}
        except OSError:
            meta[rel] = {}
        try:
            md = pq.ParquetFile(str(Path(path) / rel)).metadata
        except Exception:  # unreadable footer → no stats, file always kept
            out[rel] = stats
            continue
        meta[rel]["rows"] = md.num_rows
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                col = row.column(ci)
                st = col.statistics
                if st is not None and st.has_null_count:
                    _n = col.path_in_schema
                    nulls[_n] = nulls.get(_n, 0) + st.null_count
                    nulls_covered[_n] = nulls_covered.get(_n, 0) + 1
                if st is None or not st.has_min_max:
                    continue
                try:
                    mn, mx = st.min, st.max
                except Exception:
                    # pyarrow can't decode stats for some physical
                    # types (e.g. decimal: ArrowNotImplementedError) —
                    # the column simply never prunes for this file
                    continue
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        continue
                # NTZ/MICROS timestamps carry datetime stats; legacy
                # INT96 (LTZ under Spark's old default) has none — the
                # session factory writes TIMESTAMP_MICROS so both
                # flavors prune
                if isinstance(mn, (_dt.date, _dt.datetime)) and isinstance(
                    mx, (_dt.date, _dt.datetime)
                ):
                    mn, mx = _ts_str(mn), _ts_str(mx)
                if not (
                    isinstance(mn, (bool, int, float, str))
                    and isinstance(mx, (bool, int, float, str))
                ):
                    continue
                name = col.path_in_schema
                covered[name] = covered.get(name, 0) + 1
                if name in stats:
                    stats[name] = [min(stats[name][0], mn), max(stats[name][1], mx)]
                else:
                    stats[name] = [mn, mx]
        out[rel] = {
            k: v for k, v in stats.items() if covered[k] == md.num_row_groups
        }
        # only fully-covered counts: a statless row group could hide
        # nulls (or non-nulls), so partial coverage would mis-skip
        full_nulls = {
            k: v
            for k, v in nulls.items()
            if nulls_covered[k] == md.num_row_groups
        }
        if full_nulls:
            meta[rel]["nulls"] = full_nulls
    return out, meta


_INT_TYPES = ("byte", "short", "integer", "long")


def _column_mapping(manifest: dict) -> dict:
    """The table's logical→physical column-name map (Delta column
    mapping, name mode).  Physical names are what parquet files, path
    components, zone-map/bloom plane keys and DV lineage carry; the
    committed schema, layout specs, constraints and every user-facing
    API speak logical names.  Only columns whose two names differ have
    entries (a never-renamed table maps identically and costs nothing);
    ``rename_column`` adds entries without touching a single data file."""
    return manifest.get("column_mapping") or {}


def _phys(manifest: dict, col: str) -> str:
    """Physical name of a logical column (identity when unmapped)."""
    return _column_mapping(manifest).get(col, col)


def _partition_values(
    rel: str, schema_json: dict | None, cmap: dict | None = None
) -> dict:
    """Typed partition values parsed from a data file's ``k=v`` path
    components (Hive layout, as ``partitionBy`` writes them).  Values
    are coerced through the committed schema (int/float/bool); anything
    else — including dates — stays the ISO string the writer emitted,
    whose lexicographic order matches the value order, so [v, v] string
    ranges in the zone maps still prune correctly.  The Hive null
    sentinel maps to Python ``None`` (no range is recorded for it, so
    null-partition files are conservatively kept).  Path components are
    PHYSICAL column names; with a column mapping the result is keyed by
    the LOGICAL name (types come from the committed schema, which is
    logical)."""
    import urllib.parse

    types = (
        {f["name"]: f["type"] for f in schema_json["fields"]}
        if schema_json
        else {}
    )
    rev = {v: k for k, v in (cmap or {}).items()}
    out: dict = {}
    for comp in rel.split("/")[:-1]:
        if "=" not in comp:
            continue
        name, raw = comp.split("=", 1)
        name = rev.get(name, name)
        raw = urllib.parse.unquote(raw)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[name] = None
            continue
        t = types.get(name)
        try:
            if t in _INT_TYPES:
                out[name] = int(raw)
            elif t in ("float", "double"):
                out[name] = float(raw)
            elif t == "boolean":
                out[name] = raw == "true"
            else:
                out[name] = raw
        except ValueError:
            out[name] = raw
    return out


_BUCKET_COL = "__bucket"

# Hidden row-tracking column (Delta 4.x row tracking): REWRITTEN files
# physically materialize each row's stable id under this name; files
# written by plain appends never carry it — their ids are implicit
# (file's base_row_id + row position), zero storage.  Never part of the
# committed schema; surfaced as ``_row_id`` by read_version_row_ids.
_ROWID_COL = "__row_id"

# Hidden row-commit-version column (Delta's defaultRowCommitVersion
# design): a row's last-modified version is its FILE's commit-version
# stamp (file_meta["v"]) unless the row carries a materialized
# override.  Rewrites materialize the OLD version for rows they merely
# CARRY (survivors, compacted rows — not logically modified), and
# leave the column NULL for rows they modify/insert, which therefore
# fall through to the new file's stamp: exact even under commit-race
# rebases, because the stamp is corrected to the version that actually
# commits.  Surfaced as ``_row_commit_version``.
_ROWCV_COL = "__row_cv"

# Per-file bloom-filter index defaults: m bits per (file, column), k
# probe positions per value (Kirsch-Mitzenmacher double hashing).  At
# m=8192 / k=3 a file with 1000 distinct values has ~3% false-positive
# rate and the manifest carries a fixed 2 KB hex mask per file/column —
# metadata stays O(files), never O(rows).
_BLOOM_M = 8192
_BLOOM_K = 3


def _bloom_positions(col: str, m: int, k: int):
    """The k bloom bit positions of a column value: double hashing
    ``(h1 + i*h2) mod m`` from the two independent JVM hashes Spark
    ships (xxhash64 + murmur3) — deterministic across sessions, so the
    writer's committed bits and a reader's probe bits always agree.
    NULL values hash to the functions' SEED constants (Spark's
    ``hash(NULL)``/``xxhash64(NULL)`` return the seed, they do not
    propagate NULL), so NULL-bearing rows set one fixed bit pattern per
    column at build time; readers filter NULL probe values out
    (``IN`` never matches NULL), so those bits can only ever cost a
    false-positive file open, never a wrong row."""
    from pyspark.sql import functions as F

    c = F.col(col)
    h1 = F.pmod(F.xxhash64(c), F.lit(m))
    h2 = F.lit(1) + F.pmod(F.hash(c), F.lit(m - 1))
    return F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m)) for i in range(k)])


def _build_blooms(
    spark: SparkSession,
    path: str,
    new_files: list[str],
    spec: dict,
    cmap: dict | None = None,
) -> dict[str, str]:
    """Commit-time bloom construction over the NEW data files only: one
    scan per bloom column, keyed by scan lineage (``_metadata.
    file_path``), reducing each file to its distinct bit positions
    (map-side-combined collect_set — at most m=8k ints per file reach
    the driver, regardless of row count).  The {file: {col: hex
    bitmask}} masks land in a content-addressed SIDECAR file under
    ``_manifests/blooms/`` (one per commit) and the returned plane
    values are {file: sidecar name} — an O(40 B) pointer per file, so
    manifests and checkpoints never re-serialize mask bytes.  Mask
    keys inside the sidecar are PHYSICAL column names (the files'
    names — what probes translate to at consult time); probes load
    sidecars lazily via :func:`_bloom_masks_for`."""
    from pyspark.sql import functions as F

    cols, m, k = spec["cols"], int(spec["m"]), int(spec["k"])
    out: dict[str, dict[str, str]] = {}
    src = spark.read.option("mergeSchema", "true").parquet(
        *[str(Path(path) / f) for f in new_files]
    )
    src = _attach_lineage(src, path)
    for lc in cols:
        c = (cmap or {}).get(lc, lc)
        if c not in src.columns:
            continue  # pre-evolution commit: files without the column
        rows = (
            src.select(
                F.col("__dv_file").alias("f"),
                F.explode(_bloom_positions(c, m, k)).alias("p"),
            )
            .groupBy("f")
            .agg(F.collect_set("p").alias("ps"))
            .collect()
        )
        for r in rows:
            mask = 0
            for p in r["ps"]:
                mask |= 1 << p
            out.setdefault(r["f"], {})[c] = format(mask, "x")
    if not out:
        return {}
    side = _write_bloom_sidecar(path, out)
    return {f: side for f in out}


# Per-file index sidecars (bloom masks, NDV registers): the manifest
# plane stores an O(40 B) content-addressed reference per file, the
# payload bytes live in one sidecar per commit under _manifests/<sub>/.
# A sidecar lives under the same root as the files whose entries it
# holds (written together at commit time; copied together by deep
# clone / merge_branch), so it resolves through the file's own
# ``file_base`` entry — shallow clones read the source's sidecars
# exactly like the source's data files.
_SIDECAR_SUBDIRS = ("blooms", "ndv")


def _bloom_dir(path: str) -> Path:
    return _manifest_dir(path) / "blooms"


def _sidecar_dir(path: str, sub: str) -> Path:
    return _manifest_dir(path) / sub


def _write_sidecar(path: str, sub: str, payload: dict) -> str:
    """Persist one commit's per-file index payload as a content-
    addressed sidecar JSON ({file: per-file entry}) and return its file
    name.  Content addressing makes the write idempotent (a commit-race
    retry with identical content reuses the same sidecar) and lets any
    number of later manifests reference it without copying bytes."""
    body = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    name = (
        "b-" + hashlib.blake2b(body.encode(), digest_size=16).hexdigest()
        + ".json"
    )
    d = _sidecar_dir(path, sub)
    d.mkdir(parents=True, exist_ok=True)
    target = d / name
    if not target.exists():
        tmp = d / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(body)
        os.replace(tmp, target)  # same content under both racers
    return name


def _write_bloom_sidecar(path: str, masks: dict[str, dict[str, str]]) -> str:
    return _write_sidecar(path, "blooms", masks)


# Loaded sidecars, memoized by absolute path: a probe over K candidate
# files opens at most the distinct sidecars those files reference, and
# repeated probes cost zero I/O.  Sidecars are immutable once written
# (content-addressed), so the cache never invalidates.
_SIDECAR_CACHE: dict[str, dict] = {}
_SIDECAR_CACHE_MAX = 256


def _sidecar_entry_for(
    path: str, m: dict, f: str, plane_key: str, sub: str
):
    """One data file's per-file index entry, resolving the manifest
    plane in either form: a STRING value is a sidecar reference (loaded
    lazily, memoized); anything else is a legacy inline entry."""
    v = (m.get(plane_key) or {}).get(f)
    if v is None:
        return None
    if not isinstance(v, str):
        return v  # legacy inline entry
    base = (m.get("file_base") or {}).get(f, path)
    abs_p = str(Path(base) / "_manifests" / sub / v)
    side = _SIDECAR_CACHE.get(abs_p)
    if side is None:
        try:
            side = json.loads(Path(abs_p).read_text())
        except OSError:
            return None  # sidecar vacuumed away → conservative keep
        if len(_SIDECAR_CACHE) >= _SIDECAR_CACHE_MAX:
            _SIDECAR_CACHE.clear()
        _SIDECAR_CACHE[abs_p] = side
    return side.get(f)


def _bloom_masks_for(
    path: str, m: dict, f: str
) -> dict[str, str] | None:
    """The {physical col: hex mask} dict for one data file."""
    return _sidecar_entry_for(path, m, f, "bloom", "blooms")


# NDV register precision: 2^p registers per (file, column).  p=12 →
# 4096 registers, ~1.6% standard error, at most 4096 integer rows per
# file/column reaching the driver at build time and ~8 KB of sidecar
# JSON — the Iceberg puffin-sketch shape (theta/HLL sketches in sidecar
# files keyed from table metadata).
_NDV_P = 12


def _build_ndv(
    spark: SparkSession,
    path: str,
    new_files: list[str],
    spec: dict,
    cmap: dict | None = None,
) -> dict[str, str]:
    """Commit-time NDV register construction over the NEW data files
    only: the oracle-reproducible HLL register scheme of
    ``functions/sketches.py`` (sha256 hex-prefix hash, max-rho per
    bucket — cross-engine deterministic integers, mergeable by MAX),
    keyed by scan lineage so each file gets its own register table.
    Registers land in a content-addressed sidecar
    (``_manifests/ndv/``); the returned plane values are {file:
    sidecar name}.  Register keys are PHYSICAL column names."""
    from pyspark.sql import functions as F

    from ..functions.sketches import hll_register_partials

    src = spark.read.option("mergeSchema", "true").parquet(
        *[str(Path(path) / f) for f in new_files]
    )
    src = _attach_lineage(src, path)
    out: dict[str, dict[str, dict[str, int]]] = {}
    for lc in spec["cols"]:
        c = (cmap or {}).get(lc, lc)
        if c not in src.columns:
            continue  # pre-evolution commit: files without the column
        rows = hll_register_partials(
            src.filter(F.col(c).isNotNull()),  # NDV ignores NULL
            c,
            F.col("__dv_file"),
            p=int(spec["p"]),
        ).collect()
        for r in rows:
            out.setdefault(r["partial"], {}).setdefault(c, {})[
                str(r["bucket"])
            ] = r["rho"]
    if not out:
        return {}
    side = _write_sidecar(path, "ndv", out)
    return {f: side for f in out}


def _bucket_expr(col: str, n: int):
    """The bucket-transform expression: ``pmod(hash(col), n)`` with
    Spark's built-in murmur3 hash — deterministic across sessions and
    executors, so the same key always lands in the same bucket and a
    reader/upserter can recompute membership without reading data.
    The Iceberg ``bucket(n, col)`` partition transform, computed
    JVM-side as a column (never a Python UDF)."""
    from pyspark.sql import functions as F

    return F.pmod(F.hash(F.col(col)), F.lit(n))


def _attach_bucket(df: DataFrame, bb: tuple[str, int]) -> DataFrame:
    if _BUCKET_COL in df.columns:
        return df
    return df.withColumn(_BUCKET_COL, _bucket_expr(bb[0], int(bb[1])))


def _write_snapshot(
    df: DataFrame,
    path: str,
    mode: str,
    txn_id: str | None = None,
    partition_by: list[str] | None = None,
    carry_files: list[str] | None = None,
    bucket_by: tuple[str, int] | None = None,
    bloom_by: list[str] | None = None,
    evolve_partitioning: bool = False,
    allow_type_widening: bool = False,
    generated_columns: dict[str, str] | None = None,
    identity_columns: dict[str, dict] | None = None,
    cluster_by: list[str] | None = None,
    read_range: tuple | None = None,
    content_independent: bool = False,
    cdf_files: list[str] | None = None,
    cdf_feed=None,  # DataFrame, or an already-submitted Future[list]
    cdf_cmap: dict | None = None,
    ndv_by: list[str] | None = None,
    row_ids_consumed: int = 0,
    max_records_per_file: int | None = None,
) -> int:
    """Shared body of every versioned write (append / overwrite /
    compact / upsert / delete): write the data files, list them, combine
    with the carried-over portion of the previous manifest's file list,
    commit the next version.  One code path so file-listing / row-count /
    stats semantics can never diverge between entry points.

    ``carry_files`` is the copy-on-write contract: upsert/delete pass
    the previous snapshot's UNTOUCHED files explicitly and this function
    keeps their manifest entries (stats, sizes, rows) verbatim — only
    the rewritten portion costs I/O.  ``append`` is the degenerate case
    carry=all, ``overwrite``/``compact`` carry=none.

    ``partition_by`` (Hive-layout ``partitionBy`` on the data write —
    the reference's partition hook, reference
    utils/spark_write_iceberg.py:72-75) defaults to the table's existing
    spec so one partitioned create keeps the table partitioned; pass
    ``[]`` to explicitly stop partitioning on an overwrite.  Partition
    values are recorded in the manifest zone maps as [v, v] ranges, so
    partition pruning and file pruning are one mechanism.

    ``bucket_by=(col, n)`` is the HASH-bucket layout (Iceberg's
    ``bucket(n, col)`` transform, the jar-free ``bucketBy``): every
    write materializes ``__bucket = pmod(hash(col), n)`` and lays files
    out partitioned by it, so the manifest zone maps carry each file's
    bucket as a [b, b] range.  Point lookups and keyed upserts then
    confine themselves to |touched buckets|/n of the files EVEN WHEN
    the key is uniformly distributed — exactly the workload where
    min/max zone maps prune nothing.  Inherited like the partition
    spec; attached here (the single write choke point) so compaction,
    CDC applies and streaming appends can never drop the layout."""
    if mode not in (
        "append",
        "overwrite",
        "compact",
        "upsert",
        "delete",
        "update",
    ):
        raise ValueError(f"versioned snapshot write: unknown mode {mode!r}")
    # CDF feed handed as a FRAME: its parquet write is independent of the
    # snapshot write (disjoint output dirs, shared pinned inputs), so it
    # runs as a concurrent side job and is joined right before the
    # manifest needs the file list — one commit pays max(feed, snapshot)
    # wall-clock instead of feed + snapshot (guide §2.6 overlapping
    # independent jobs).  Callers pass either cdf_files (already
    # written) or cdf_feed, never both.
    cdf_future = None
    if cdf_feed is not None:
        if cdf_files is not None:
            raise ValueError(
                "_write_snapshot: pass cdf_files or cdf_feed, not both"
            )
        from concurrent.futures import Future

        # a caller that has eager work of its own between building the
        # feed and committing (the row-id chain) submits the side job
        # early and hands the Future down
        cdf_future = (
            cdf_feed
            if isinstance(cdf_feed, Future)
            else _side_job_pool().submit(
                _write_cdf, cdf_feed, path, dict(cdf_cmap or {})
            )
        )
    try:
        vs = versions(path)
        prev = (
            _read_manifest(path, vs[-1])
            if vs
            else {"files": [], "row_count": 0}
        )
        # Column DEFAULTS (add_column ... DEFAULT): a write whose frame
        # OMITS a defaulted column materializes the default into the new
        # files (Delta's INSERT-without-the-column rule), so only
        # pre-evolution files ever need the read-time fill; a frame that
        # carries the column keeps its values — an explicit NULL stays NULL.
        cdefaults = dict(prev.get("column_defaults") or {})
        df = _materialize_defaults(df, prev)
        prev_bb = tuple(prev["bucket_by"]) if prev.get("bucket_by") else None
        if bucket_by is None:
            bb = prev_bb
        else:
            bb = (str(bucket_by[0]), int(bucket_by[1])) if bucket_by else None
            if mode == "append" and vs and bb != prev_bb:
                raise ValueError(
                    f"append bucket spec {bb} != table spec {prev_bb}; "
                    "changing the spec requires an overwrite"
                )
        prev_bloom_spec = prev.get("bloom_by")
        if bloom_by is None:
            bspec = prev_bloom_spec
        else:
            bspec = (
                {"cols": list(bloom_by), "m": _BLOOM_M, "k": _BLOOM_K}
                if bloom_by
                else None
            )
            if mode == "append" and vs and bspec != prev_bloom_spec:
                raise ValueError(
                    f"append bloom spec {bspec} != table spec "
                    f"{prev_bloom_spec}; changing the spec requires an "
                    "overwrite"
                )
        prev_ndv_spec = prev.get("ndv_by")
        if ndv_by is None:
            nspec = prev_ndv_spec
        else:
            nspec = {"cols": list(ndv_by), "p": _NDV_P} if ndv_by else None
            if mode == "append" and vs and nspec != prev_ndv_spec:
                raise ValueError(
                    f"append ndv spec {nspec} != table spec "
                    f"{prev_ndv_spec}; changing the spec requires an "
                    "overwrite"
                )
        if partition_by is None:
            pb = prev.get("partition_by") or []
            pb = [c for c in pb if c != _BUCKET_COL]
        else:
            pb = list(partition_by)
            prev_pb = [
                c for c in (prev.get("partition_by") or []) if c != _BUCKET_COL
            ]
            if (
                mode == "append"
                and vs
                and pb != prev_pb
                and not evolve_partitioning
            ):
                raise ValueError(
                    f"append partition spec {pb} != table spec "
                    f"{prev_pb}; changing the spec requires an overwrite "
                    "or an explicit evolve_partitioning=True append "
                    "(Iceberg partition-spec evolution: existing files "
                    "keep their layout, new files use the new spec)"
                )
        # LIQUID-CLUSTERING-STYLE AUTO-LAYOUT (Delta liquid clustering's
        # write-path half): ``cluster_by=[cols]`` is a table property that
        # rides the manifest like the bucket/bloom specs — EVERY write
        # z-orders its NEW files along the Morton curve of the clustering
        # columns (operators/layout.py, one tiny agg + one range shuffle of
        # the new data only), so multi-dim zone-map pruning
        # (read_version_pruned_multi) works without ever running an
        # explicit OPTIMIZE ZORDER; ``compact`` re-clusters by the spec by
        # default, healing the cross-file overlap incremental appends
        # accumulate.  Like Delta, clustering REPLACES partitioning: it
        # cannot combine with partition_by or bucket_by (they would shred
        # the curve into per-directory fragments).  Changing the spec on a
        # later write is allowed and applies to that write's files onward —
        # old files keep their old layout, their committed zone maps stay
        # exact (Iceberg spec-evolution semantics).
        prev_cb = prev.get("cluster_by") or None
        if cluster_by is None:
            cb_spec = prev_cb
        else:
            cb_spec = [str(c) for c in cluster_by] if cluster_by else None
        if cb_spec and (pb or bb):
            raise ValueError(
                "cluster_by cannot combine with partition_by or bucket_by "
                "(clustering replaces partitioning — Delta's rule)"
            )
        # GENERATED COLUMNS (Delta generated columns): the spec rides the
        # manifest like constraints and generation is AUTHORITATIVE — the
        # engine always (re)computes each generated column from its SQL
        # expression over the same row, so the invariant holds by
        # construction on every write path (append, upsert survivors+changes,
        # UPDATE of a source column, CDC apply), a caller-supplied value is
        # simply overwritten, and no write-time validation scan is needed.
        # Computed BEFORE bucket attach / partitionBy so generated columns
        # can drive the layout (Delta's generated-column partitioning, the
        # date_trunc pattern).
        gen = (
            dict(generated_columns)
            if generated_columns is not None
            else prev.get("generated_columns", {})
        )
        if gen:
            from pyspark.sql import functions as F

            for n, e in gen.items():
                df = df.withColumn(n, F.expr(e))
        # IDENTITY columns (Delta GENERATED BY DEFAULT AS IDENTITY): rows
        # arriving with NULL in an identity column get fresh ids from the
        # manifest's high-water mark; non-NULL values pass through — which
        # is exactly what carried-row rewrites, upsert survivors and UPDATE
        # pre-images produce, so every write path composes for free and
        # only genuinely NEW rows consume ids.  Assignment is DETERMINISTIC
        # (ids = start + step × running count, ranked by the spec's
        # ``order_by`` key within the commit) and fully parallel — the
        # range-partition prefix-sum numbering of
        # ``operators/ids.py::assign_contiguous_ids``, never a global
        # ROW_NUMBER funnel.  Like Delta, BY DEFAULT does not police
        # uniqueness of user-supplied values.
        ident = (
            {k: dict(v) for k, v in identity_columns.items()}
            if identity_columns is not None
            else {k: dict(v) for k, v in prev.get("identity_columns", {}).items()}
        )
        if ident:
            from pyspark.sql import functions as F

            if bad := sorted(set(ident) & set(gen)):
                raise ValueError(
                    f"identity column(s) {bad} are also generated columns; "
                    "generation would overwrite every assigned id"
                )
            for name, sp in ident.items():
                ob = sp.get("order_by")
                if not ob:
                    raise ValueError(
                        f"identity column {name!r}: spec needs 'order_by' "
                        "(a unique key among inserted rows) — deterministic "
                        "assignment is the contract"
                    )
                start = int(sp.get("start", 1))
                step = int(sp.get("step", 1))
                if step == 0:
                    raise ValueError(f"identity column {name!r}: step must be nonzero")
                assigned = int(sp.get("assigned", 0))
                if name not in df.columns:
                    df = df.withColumn(name, F.lit(None).cast("long"))
                else:
                    df = df.withColumn(name, F.col(name).cast("long"))
                need = df.filter(F.col(name).isNull())
                from ..operators.ids import assign_contiguous_ids

                # the numbering's own per-partition count collect reports
                # n_null (with_count) — one job less per identity commit
                # than the old separate need.count() pre-flight
                ranked, n_null = assign_contiguous_ids(
                    need.drop(name),
                    list(ob),
                    id_col="__ident_rank",
                    with_count=True,
                )
                if n_null:
                    numbered = ranked.withColumn(
                        name,
                        (
                            F.lit(start)
                            + F.lit(step)
                            * (F.lit(assigned) + F.col("__ident_rank"))
                        ).cast("long"),
                    ).drop("__ident_rank")
                    df = df.filter(F.col(name).isNotNull()).unionByName(
                        numbered.select(*df.columns)
                    )
                    sp["assigned"] = assigned + n_null
                ident[name] = {
                    "start": start,
                    "step": step,
                    "order_by": list(ob),
                    "assigned": sp.get("assigned", assigned),
                }
        # Narrow arrival on a hash-indexed column (int data appended to a
        # committed-long column, the legal type-widening dual): bloom masks
        # and bucket ids hash the PHYSICAL type, and Spark's murmur3 hashes
        # int and long of the same value differently — left as-is, a reader
        # probing with the committed wide type would silently MISS the new
        # files (false negatives).  Zone maps compare values and stay
        # exact; the hashed layouts need writer and reader to hash the same
        # type, so incoming hashed columns are UPCAST to the committed type
        # before bucket attach / write.  Only the narrow→wide direction is
        # cast here: a WIDER arrival is left alone so the widening guard
        # below still refuses it (a downcast would silently truncate).
        _will_carry = (
            carry_files
            if carry_files is not None
            else (prev["files"] if mode == "append" else [])
        )
        if _will_carry and prev.get("schema"):
            from pyspark.sql import functions as F

            _committed = {
                f["name"]: f["type"]
                for f in prev["schema"]["fields"]
                if isinstance(f["type"], str)
            }
            _hashed = set(bspec["cols"] if bspec else []) | (
                {bb[0]} if bb else set()
            )
            for _fld in df.schema.fields:
                _t = _committed.get(_fld.name)
                _in = _fld.dataType.jsonValue()
                if (
                    _fld.name in _hashed
                    and _t is not None
                    and _in != _t
                    and _widened(_t, _in) == _t
                ):
                    df = df.withColumn(_fld.name, F.col(_fld.name).cast(_t))
        if bb:
            df = _attach_bucket(df, bb)
            pb = pb + [_BUCKET_COL]
        if bspec:
            bad = [c for c in bspec["cols"] if c in pb]
            if bad:
                raise ValueError(
                    f"bloom_by columns {bad} are partition/bucket columns — "
                    "their [v, v] zone-map ranges already prune exactly"
                )
        if carry_files is None:
            carry_files = prev["files"] if mode == "append" else []
        constraints = prev.get("constraints", {})
        if constraints:
            # persisted CHECK constraints gate every commit's NEW rows
            # (carried files were validated when they were new)
            _validate_constraints(df, constraints, f"{mode} write")
        if cb_spec and mode != "compact":
            # compact manages its own layout (it z-orders the selected
            # rows by the spec already, with the bin count it chose) —
            # re-clustering here would just repeat the range shuffle
            from ..operators.layout import zorder_by

            df = zorder_by(df, cb_spec)
        # Column mapping (Delta name-mode): data files, path components and
        # the stats/bloom planes speak PHYSICAL names; everything above
        # this point spoke logical.  The mapping is a table property that
        # rides every commit like constraints.  A column re-added after a
        # ``drop_column`` gets a FRESH physical name — old files still hold
        # dead data under the tombstoned one, which must read as NULL, not
        # as resurrected values.
        cmap = dict(prev.get("column_mapping") or {})
        dropped = list(prev.get("dropped_physical") or [])
        if cmap or dropped:
            prev_names = {
                f["name"] for f in (prev.get("schema") or {}).get("fields", [])
            }
            taken = set(cmap.values())
            for fld in df.schema.fields:
                if fld.name in cmap or fld.name in prev_names:
                    continue
                # a NEW logical column whose identity physical name is a
                # tombstone (re-add after drop) or another column's
                # physical (its logical name was renamed away) — either way
                # old files hold UNRELATED data under that name
                if fld.name in dropped or fld.name in taken:
                    cmap[fld.name] = f"{fld.name}_r{uuid.uuid4().hex[:8]}"
        if cmap:
            from pyspark.sql import functions as F

            df_w = df.select(
                [F.col(c).alias(cmap.get(c, c)) for c in df.columns]
            )
            pb_w = [cmap.get(c, c) for c in pb]
        else:
            df_w, pb_w = df, pb
        data_dir = Path(path) / "data" / uuid.uuid4().hex
        writer = df_w.write.mode("error")
        if max_records_per_file:
            # write-time file sizing (the other half of the small-files
            # problem compaction fixes after the fact): cap rows per file
            # so one wide task can't emit a multi-GB file
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        if pb_w:
            writer = writer.partitionBy(*pb_w)
        writer.parquet(str(data_dir))
        new_files = sorted(
            str(p.relative_to(path))
            for p in data_dir.rglob("*.parquet")
            if p.is_file()
        )
        files = list(carry_files) + new_files
        schema = df.schema.jsonValue()
        # the hidden materialized-row-id column never joins the committed
        # schema (it IS in the parquet of rewrite-written files; readers
        # add it explicitly via keep_row_ids)
        materialized_ids = _ROWID_COL in df.columns
        if (
            materialized_ids or _ROWCV_COL in df.columns
        ) and not _row_tracking_on(prev):
            raise ValueError(
                f"{_ROWID_COL!r}/{_ROWCV_COL!r} are reserved column names "
                "(row tracking); rename the column"
            )
        if materialized_ids:
            schema = {
                **schema,
                "fields": [
                    f
                    for f in schema["fields"]
                    if f["name"] not in (_ROWID_COL, _ROWCV_COL)
                ],
            }
        if carry_files and prev.get("schema"):
            schema = _merge_schemas(
                prev["schema"], schema, allow_type_widening=allow_type_widening
            )
            # a widened column's committed bloom masks / bucket assignments
            # hash the NARROW physical values — Spark hashes int and long of
            # the same value differently, so a widened probe would silently
            # MISS files (false negatives).  Zone maps compare values, not
            # hashes, and stay exact; the hash-indexed layouts must refuse.
            changed = {
                f["name"]
                for f, p in zip(schema["fields"], prev["schema"]["fields"])
                if f["name"] == p["name"] and f["type"] != p["type"]
            }
            if changed:
                hashed = set(bspec["cols"] if bspec else []) | (
                    {bb[0]} if bb else set()
                )
                bad = sorted(changed & hashed)
                if bad:
                    raise ValueError(
                        f"type widening refused for {bad}: the column(s) "
                        "back a hash-indexed layout (bloom index / hash "
                        "buckets) whose committed masks hash the narrow "
                        "type; rebuild via overwrite or compact first"
                    )
        new_stats, new_meta = _harvest(path, new_files)
        # The commit's new-row count comes from the parquet FOOTERS the
        # stats harvest just read (md.num_rows is authoritative) — not a
        # second Spark scan of everything the write produced; only an
        # unreadable footer (no "rows" entry) falls back to the re-read.
        if new_files and all("rows" in new_meta.get(f, {}) for f in new_files):
            n_new = sum(int(new_meta[f]["rows"]) for f in new_files)
        else:
            n_new = (
                df.sparkSession.read.parquet(str(data_dir)).count()
                if new_files
                else 0
            )
        # Stamp each new file's COMMIT VERSION into its meta entry: the
        # initial-default read path decides "file predates column C" by
        # comparing this against the default's since-version (files with no
        # stamp are legacy = pre-default by construction).  Kept exact
        # across commit races — the rebase bumps it to the version that
        # actually commits.
        for f in new_files:
            new_meta.setdefault(f, {})["v"] = (vs[-1] + 1) if vs else 1
        # Row tracking: append-written files get a base_row_id (implicit
        # ids, zero storage); rewrite-written files carry materialized ids
        # and the verb reports how many FRESH ids it drew (upsert inserts).
        track = _row_tracking_on(prev)
        rid_consumed = int(row_ids_consumed or 0)
        hw0 = int(prev.get("row_id_high_water") or 0) if track else 0
        if track and not materialized_ids:
            nb = hw0
            for f in new_files:
                new_meta[f]["brid"] = nb
                nb += int(new_meta[f].get("rows") or 0)
            rid_consumed = nb - hw0
        if pb:
            for rel in new_files:
                for name, v in _partition_values(rel, schema, cmap).items():
                    if v is not None:
                        new_stats.setdefault(rel, {})[
                            cmap.get(name, name)
                        ] = [v, v]
        prev_stats = prev.get("file_stats", {})
        prev_meta = prev.get("file_meta", {})
        file_stats = {
            **{f: prev_stats[f] for f in carry_files if f in prev_stats},
            **new_stats,
        }
        file_meta = {
            **{f: prev_meta[f] for f in carry_files if f in prev_meta},
            **new_meta,
        }
        # Bloom indexes ride per-file like stats: carried files keep their
        # committed masks verbatim, new files get one extra scan per bloom
        # column (NEW data only — the unchanged portion costs zero I/O here
        # too).  A false positive only costs an extra file open, and DV'd
        # rows staying in a mask is harmless for the same reason.
        prev_blooms = prev.get("bloom") or {}
        blooms = {f: prev_blooms[f] for f in carry_files if f in prev_blooms}
        if bspec and new_files:
            blooms.update(
                _build_blooms(df.sparkSession, path, new_files, bspec, cmap)
            )
        # NDV registers ride per-file exactly like bloom masks: carried
        # files keep their committed sidecar refs, new files get one extra
        # register scan (NEW data only)
        prev_ndv = prev.get("ndv") or {}
        ndv_plane = {f: prev_ndv[f] for f in carry_files if f in prev_ndv}
        if nspec and new_files:
            ndv_plane.update(
                _build_ndv(df.sparkSession, path, new_files, nspec, cmap)
            )
        # Shallow-clone lineage: carried files keep their source-table base
        # (zero-copy); every rewrite lands locally, so mutation gradually
        # materializes the clone and compact()/overwrite completes it.
        prev_fb = prev.get("file_base") or {}
        file_base = {f: prev_fb[f] for f in carry_files if f in prev_fb}
        # Delete vectors ride with the files they address: a carried file
        # keeps its DV'd positions (the DV parquet keys rows by immutable
        # (file, pos), so entries for rewritten/dropped files go dead
        # harmlessly); a commit that carries no DV'd file drops the DV set —
        # overwrite and compact therefore materialize outstanding deletes.
        prev_dv_counts = prev.get("dv_counts") or {}
        dv_counts = {
            f: prev_dv_counts[f] for f in carry_files if f in prev_dv_counts
        }
        dv_files_c, dv_covers_c = _carry_dv_files(prev, dv_counts)
        if dv_counts:  # carried DV parquet files keep their base too
            for f in dv_files_c:
                if f in prev_fb:
                    file_base[f] = prev_fb[f]
        carried_rows = (
            prev["row_count"]
            if mode == "append"
            else sum(
                _file_rows(path, f, prev_meta, prev_fb) for f in carry_files
            )
            - sum(dv_counts.values())
        )
    except BaseException:
        # a failure between submitting the feed side job and joining
        # it must not leave the job running against inputs the
        # caller unpersists, nor its output orphaned in _change_data/
        if cdf_future is not None:
            _abandon_cdf(cdf_future, path)
        raise

    import time

    if cdf_future is not None:
        # join the concurrent feed write; its file list rides the
        # manifest exactly as a pre-written cdf_files list would
        cdf_files = cdf_future.result()
    manifest = {
        "version": (vs[-1] + 1) if vs else 1,
        "mode": mode,
        "committed_at": time.time(),
        "files": files,
        "row_count": n_new + carried_rows,
        "schema": schema,
        "file_stats": file_stats,
        "file_meta": file_meta,
    }
    if dv_counts:
        manifest["dv_counts"] = dv_counts
        manifest["dv_files"] = dv_files_c
        if dv_covers_c:
            manifest["dv_covers"] = dv_covers_c
    if pb:
        manifest["partition_by"] = pb
    if bb:
        manifest["bucket_by"] = list(bb)
    if bspec:
        manifest["bloom_by"] = bspec
        if blooms:
            manifest["bloom"] = blooms
    if nspec:
        manifest["ndv_by"] = nspec
        if ndv_plane:
            manifest["ndv"] = ndv_plane
    if cb_spec:
        manifest["cluster_by"] = cb_spec
    if file_base:
        manifest["file_base"] = file_base
    if constraints:
        manifest["constraints"] = constraints
    if cdefaults:
        # Defaults can only leave with their column via drop_column
        # (which prunes column_defaults in its own metadata commit) — a
        # NARROWER overwrite frame never drops one, because
        # _materialize_defaults above re-adds every omitted defaulted
        # column before the write (Delta keeps defaults until an
        # explicit drop, too).  The schema filter here is therefore a
        # consistency guard, not a live narrowing path: it keeps a
        # default from outliving its column should a future verb commit
        # a schema that lost the column without routing through
        # materialization.
        live_cd = {
            c: spec
            for c, spec in cdefaults.items()
            if any(f["name"] == c for f in schema["fields"])
        }
        if live_cd:
            manifest["column_defaults"] = live_cd
    if _cdf_on(prev):  # the feed property rides every commit
        manifest["change_data_feed"] = True
    if cdf_files:  # THIS commit's materialized change rows (never carried)
        manifest["cdf_files"] = cdf_files
        manifest["cdf_file_meta"] = _cdf_file_meta(path, cdf_files)
    if track:
        manifest["row_tracking"] = True
        manifest["row_id_high_water"] = hw0 + rid_consumed
    if gen:
        manifest["generated_columns"] = gen
    if ident:
        manifest["identity_columns"] = ident
    if cmap:
        manifest["column_mapping"] = cmap
    if dropped:
        manifest["dropped_physical"] = dropped
    if txn_id is not None:
        manifest["txn_id"] = txn_id
    # Optimistic-concurrency conflict resolution (the Delta/Iceberg
    # commit protocol): the loser of a version race re-reads the new
    # head, re-VALIDATES its commit against it, and re-links at head+1.
    #
    # APPENDs always rebase — an append's read set is empty, so two
    # writers landing disjoint file sets both commit whatever the
    # interleaving (Delta's append-vs-append rule).  ROW-LEVEL REWRITES
    # (upsert/delete/update/compact) rebase iff the rebased result
    # equals SOME serial order of the two commits — write
    # serializability, Delta's default isolation level and the
    # semantics Iceberg's optimistic commits give the reference's MERGE
    # (/root/reference/utils/merge_utils.py:70-82):
    #
    # - winner was a PURE APPEND → serial order "loser first, winner
    #   second": an append is a blind write, so it lands identically on
    #   top of the loser's output.  Valid unconditionally — even when
    #   the appended rows would have matched the loser's predicate (in
    #   that serial order they arrived after the rewrite; Delta's
    #   WriteSerializable accepts the same reordering).
    # - winner REWROTE or DV'd rows → serial order "winner first, loser
    #   second": valid iff the loser's decisions would have been
    #   identical over the head — its READ SET (the candidate files it
    #   rewrote) must be untouched (no file removed, no deletion vector
    #   added: ``_rebase_read_set`` disjointness), and the winner's
    #   ADDED files must be provably outside the loser's read predicate
    #   (``read_range``) by the head's zone maps, else the loser should
    #   have read them.  ``content_independent=True`` (compact) skips
    #   the added-file check: compaction moves rows without deciding on
    #   them, so a file it didn't select is merely left uncompacted.
    # - anything else — overlapping rewrites, spec changes underfoot,
    #   no read predicate to prove added-file disjointness with —
    #   refuses deterministically and the caller re-runs against the
    #   new head (the conservative Delta/Iceberg overlapping-rewrite
    #   rule).
    #
    # OVERWRITE never rebases: it replaces the whole table, so no
    # serial order preserves both commits' effects.
    #
    # Every rebase re-checks what the head could have changed
    # underfoot: layout specs must be unchanged, concurrently-added
    # CHECK constraints re-validate the new rows, schemas re-merge, a
    # concurrent widening of a hash-indexed column refuses (our
    # committed masks hash the narrow type), and concurrent
    # identity-id consumption refuses (assigned ranges would collide).
    _norm = lambda v: json.loads(json.dumps(v, default=dict))  # noqa: E731
    _rebaseable = ("append", "upsert", "delete", "update", "compact")
    # the files this commit READ and rewrote (decisions were made over
    # their rows): fixed at entry — later rebase iterations keep
    # comparing against the files actually read, not the moving head
    _read_set = set(prev.get("files") or []) - set(carry_files)
    for _ in range(_COMMIT_RETRIES):
        try:
            return _commit_state(path, manifest, prev if vs else None)
        except ConcurrentCommitError as e:
            if mode not in _rebaseable:
                raise ConcurrentCommitError(
                    f"{mode} at {path} lost a commit race for version "
                    f"{manifest['version']}: an overwrite replaces the "
                    "whole table, so no serial order preserves both "
                    "commits — re-run against the new head"
                ) from e
            head_vs = versions(path)
            head = _read_manifest(path, head_vs[-1])
            for k in (
                "partition_by",
                "bucket_by",
                "bloom_by",
                "ndv_by",
                "cluster_by",
                "generated_columns",
                "column_mapping",
                "dropped_physical",
                "row_tracking",
                # a concurrently-added column DEFAULT refuses: this
                # commit's frame never materialized it, so in the
                # "winner first" serial order its new files would
                # wrongly read NULL where the default belongs
                "column_defaults",
            ):
                if _norm(head.get(k)) != _norm(manifest.get(k)):
                    raise ConcurrentCommitError(
                        f"{mode} at {path} lost a commit race and the "
                        f"winner changed the table's {k} spec "
                        f"({_norm(manifest.get(k))!r} -> "
                        f"{_norm(head.get(k))!r}); cannot rebase"
                    ) from e
            # identity watermark: compare the head against the spec the
            # loser STARTED from (prev), not its output spec — both
            # racers advance 'assigned' identically from the same base,
            # so output specs can agree while the assigned id RANGES
            # collide.  Any concurrent consumption refuses.
            if _norm(head.get("identity_columns")) != _norm(
                prev.get("identity_columns")
            ):
                raise ConcurrentCommitError(
                    f"{mode} at {path} lost a commit race and the "
                    "winner consumed identity-column ids; the ids "
                    "assigned here would collide — re-run"
                ) from e
            prev_files = set(prev.get("files") or [])
            winner_removed = prev_files - set(head["files"])
            winner_added = [
                f for f in head["files"] if f not in prev_files
            ]
            prev_dvc = prev.get("dv_counts") or {}
            head_dvc = head.get("dv_counts") or {}
            if mode != "append":
                if conflicted := sorted(
                    (winner_removed & _read_set)
                    | {
                        f
                        for f in _read_set
                        if head_dvc.get(f, 0) != prev_dvc.get(f, 0)
                    }
                ):
                    raise ConcurrentCommitError(
                        f"{mode} at {path} lost a commit race and the "
                        f"winner rewrote or deleted rows in file(s) "
                        f"{conflicted} this {mode} read and decided "
                        "rows over — overlapping rewrites cannot "
                        "rebase; re-run against the new head"
                    ) from e
                pure_append = not winner_removed and _norm(
                    head.get("dv_counts")
                ) == _norm(prev.get("dv_counts"))
                if (
                    not pure_append
                    and not content_independent
                    and winner_added
                ):
                    # serial order must be "winner first": the winner's
                    # added files count as rows the loser SHOULD have
                    # read unless the head zone maps prove them outside
                    # its read predicate
                    if read_range is None:
                        raise ConcurrentCommitError(
                            f"{mode} at {path} lost a commit race to a "
                            "row-level rewrite and read the whole "
                            "table (no prune range) — cannot prove the "
                            "winner's added files disjoint; re-run "
                            "against the new head"
                        ) from e
                    may, _skip = _candidate_split(
                        {
                            "files": winner_added,
                            "file_stats": head.get("file_stats") or {},
                            "schema": head.get("schema"),
                            "column_mapping": head.get("column_mapping"),
                        },
                        *read_range,
                    )
                    if may:
                        raise ConcurrentCommitError(
                            f"{mode} at {path} lost a commit race and "
                            f"the winner's added file(s) {may} may "
                            "hold rows inside this rewrite's read "
                            f"range {read_range!r} — re-run against "
                            "the new head"
                        ) from e
            ours = manifest.get("constraints") or {}
            extra = {
                n: x
                for n, x in (head.get("constraints") or {}).items()
                if ours.get(n) != x
            }
            if extra and new_files:
                _validate_constraints(
                    df,
                    extra,
                    f"{mode} rebase (constraint added concurrently)",
                )
            merged = _merge_schemas(
                head["schema"],
                schema,
                allow_type_widening=allow_type_widening,
            )
            hashed = set(bspec["cols"] if bspec else []) | (
                {bb[0]} if bb else set()
            )
            mine = {f["name"]: f["type"] for f in schema["fields"]}
            for fld in merged["fields"]:
                if (
                    fld["name"] in hashed
                    and fld["name"] in mine
                    and fld["type"] != mine[fld["name"]]
                ):
                    raise ConcurrentCommitError(
                        f"{mode} at {path} lost a commit race and the "
                        f"winner widened hash-indexed column "
                        f"{fld['name']!r}; our committed masks hash "
                        "the narrow type — re-run"
                    ) from e
            new_blooms = {f: blooms[f] for f in new_files if f in blooms}
            head_blooms = head.get("bloom") or {}
            new_ndv = {f: ndv_plane[f] for f in new_files if f in ndv_plane}
            head_ndv = head.get("ndv") or {}
            head_meta = head.get("file_meta") or {}
            head_fb = head.get("file_base") or {}
            if mode == "append":
                rebase_carry = list(head["files"])
                carried_rows_rb = head["row_count"]
                carried_dvc = dict(head_dvc)
            else:
                # winner-first serial order: the head minus the files
                # this commit read (their rows live in new_files now)
                rebase_carry = [
                    f for f in head["files"] if f not in _read_set
                ]
                carried_dvc = {
                    f: head_dvc[f] for f in rebase_carry if f in head_dvc
                }
                carried_rows_rb = sum(
                    _file_rows(path, f, head_meta, head_fb)
                    for f in rebase_carry
                ) - sum(carried_dvc.values())
            head_stats = head.get("file_stats") or {}
            rebase_fb = {
                f: head_fb[f] for f in rebase_carry if f in head_fb
            }
            carried_dvf, carried_cov = _carry_dv_files(head, carried_dvc)
            for f in carried_dvf:
                if f in head_fb:
                    rebase_fb[f] = head_fb[f]
            # keep the commit-version stamp exact under the rebase (the
            # initial-default read path compares it to since-versions)
            new_meta = {
                f: {**e, "v": head["version"] + 1}
                for f, e in new_meta.items()
            }
            if track:
                head_hw = int(head.get("row_id_high_water") or 0)
                if head_hw != hw0:
                    if materialized_ids and rid_consumed:
                        raise ConcurrentCommitError(
                            f"{mode} at {path} lost a commit race and "
                            "the winner consumed row-tracking ids; the "
                            "fresh ids materialized into this commit's "
                            "files would collide — re-run against the "
                            "new head"
                        ) from e
                    # implicit base ids are pure metadata: re-deal them
                    # from the head's watermark, no file rewritten
                    nb = head_hw
                    for f in new_files:
                        if "brid" in new_meta.get(f, {}):
                            new_meta[f] = {**new_meta[f], "brid": nb}
                            nb += int(new_meta[f].get("rows") or 0)
                    hw0 = head_hw
            manifest = {
                **manifest,
                "version": head["version"] + 1,
                "committed_at": time.time(),
                "files": rebase_carry + new_files,
                "row_count": carried_rows_rb + n_new,
                "schema": merged,
                "file_stats": {
                    **{
                        f: head_stats[f]
                        for f in rebase_carry
                        if f in head_stats
                    },
                    **new_stats,
                },
                "file_meta": {
                    **{
                        f: head_meta[f]
                        for f in rebase_carry
                        if f in head_meta
                    },
                    **new_meta,
                },
            }
            for k, v in (
                ("dv_counts", carried_dvc),
                ("dv_files", carried_dvf),
                ("dv_covers", carried_cov),
                (
                    "bloom",
                    {
                        **{
                            f: head_blooms[f]
                            for f in rebase_carry
                            if f in head_blooms
                        },
                        **new_blooms,
                    },
                ),
                (
                    "ndv",
                    {
                        **{
                            f: head_ndv[f]
                            for f in rebase_carry
                            if f in head_ndv
                        },
                        **new_ndv,
                    },
                ),
                ("file_base", rebase_fb),
                ("constraints", head.get("constraints")),
            ):
                if v:
                    manifest[k] = v
                else:
                    manifest.pop(k, None)
            if track:
                manifest["row_id_high_water"] = hw0 + rid_consumed
            prev, vs = head, head_vs
    raise ConcurrentCommitError(
        f"{mode} at {path} lost {_COMMIT_RETRIES} consecutive commit "
        "races; giving up (retry externally)"
    )


def _materialize_defaults(df: DataFrame, manifest: dict) -> DataFrame:
    """Fill each committed column DEFAULT into ``df`` when the frame
    OMITS that column entirely (Delta's INSERT-without-the-column
    rule).  Frames that carry the column keep their values — an
    explicit NULL stays NULL.  Applied to every snapshot write and,
    separately, to row-change sets BEFORE they union with survivors
    (the union would otherwise NULL-fill the column and hide that the
    change set omitted it)."""
    cd = manifest.get("column_defaults") or {}
    if not cd or not manifest.get("schema"):
        return df
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    t = StructType.fromJson(manifest["schema"])
    for c, spec in cd.items():
        if c not in df.columns and c in t.fieldNames():
            df = df.withColumn(c, F.lit(spec["value"]).cast(t[c].dataType))
    return df


def _carry_dv_files(m: dict, carried_dvc: dict) -> tuple[list, dict]:
    """The DV parquet files worth carrying into a commit whose
    surviving DV'd data files are ``carried_dvc``'s keys, plus their
    pruned coverage map.  With recorded coverage (``dv_covers``) a
    vector whose covered files ALL dropped out of the carried read set
    is dead weight — reads stay correct without it (DV rows key by
    immutable file name and never match), but the manifest and every
    DV-applying read would keep loading it forever.  Coverage lists
    prune to the carried files: a data file that left the table can
    never return (file names are write-UUID unique), so its coverage
    entry is permanently dead.  DV files without a coverage entry
    (legacy manifests) always carry — correct, just unpruned."""
    if not carried_dvc:
        return [], {}
    covers = m.get("dv_covers") or {}
    kept = [
        d
        for d in (m.get("dv_files") or [])
        if d not in covers or any(f in carried_dvc for f in covers[d])
    ]
    return kept, {
        d: [f for f in covers[d] if f in carried_dvc]
        for d in kept
        if d in covers
    }


def _file_rows(
    path: str, rel: str, meta: dict[str, dict], file_base: dict | None = None
) -> int:
    """Row count of a carried file: the manifest's recorded count when
    present, else one footer read (legacy manifests) — never a scan."""
    rows = meta.get(rel, {}).get("rows")
    if rows is not None:
        return rows
    import pyarrow.parquet as pq

    base = (file_base or {}).get(rel)
    return pq.ParquetFile(str(Path(base or path) / rel)).metadata.num_rows


# Candidate-pin threshold for the cow+CDF delete (bytes): below it the
# feed and survivor consumers share one persisted candidate scan; above
# it caching O(candidate bytes) is the guide-§5 anti-pattern and the two
# scans stay (overlapped by the concurrent feed write).  Parameterised
# for production (SPARK_GRAFT_DELETE_PIN_MB); 256 MB default is safely
# inside one executor's storage fraction at any deployment size.
_DELETE_PIN_BYTES = (
    int(os.environ.get("SPARK_GRAFT_DELETE_PIN_MB", "256")) * 1024 * 1024
)


def _files_bytes(m: dict, files: list[str]) -> int:
    """Total manifest-recorded bytes of ``files``; a file with no
    recorded size counts as unbounded (disables size-gated pins)."""
    meta = m.get("file_meta") or {}
    total = 0
    for f in files:
        b = meta.get(f, {}).get("bytes")
        if b is None:
            return 1 << 62
        total += int(b)
    return total


# Safe type-widening lattices (Delta 4.x type widening): values written
# at the narrow type re-read EXACTLY at the wide one (parquet vectorized
# upcast, probed on this Spark build).  Narrowing is never allowed — a
# narrow read of wide data silently truncates (int 70000 read as short
# becomes 4464, no error).
_WIDEN_INT = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_WIDEN_FLOAT = {"float": 0, "double": 1}


def _widened(a: str, b: str) -> str | None:
    """The wider of two primitive types along a safe lattice, or None
    when they aren't widening-compatible."""
    for fam in (_WIDEN_INT, _WIDEN_FLOAT):
        if a in fam and b in fam:
            return a if fam[a] >= fam[b] else b
    return None


def _merge_schemas(
    prev_json: dict, new_json: dict, allow_type_widening: bool = False
) -> dict:
    """Schema evolution for appends: the snapshot schema is the union of
    the previous schema and the appended frame's (new columns ADD; a
    shared name with a different type is refused — no implicit type
    widening, the same conservative rule as Delta's default).  Readers
    see added columns as NULL for pre-evolution files (explicit
    committed-schema reconciliation in ``read_version``).

    ``allow_type_widening=True`` is Delta's TYPE WIDENING: a shared
    name whose two types sit on a safe widening lattice (byte→short→
    int→long, float→double) resolves to the WIDER type — whether the
    new data widens the column or merely arrives narrower than the
    committed type.  Old files are never rewritten; every reader scans
    with the committed (wide) schema and the parquet reader upcasts
    narrow physical values exactly.  Incompatible pairs still refuse."""
    prev_fields = {f["name"]: f for f in prev_json["fields"]}
    merged = list(prev_json["fields"])
    for f in new_json["fields"]:
        old = prev_fields.get(f["name"])
        if old is None:
            merged.append(f)
        elif old["type"] != f["type"]:
            w = (
                _widened(old["type"], f["type"])
                if allow_type_widening
                and isinstance(old["type"], str)
                and isinstance(f["type"], str)
                else None
            )
            if w is None:
                hint = (
                    "types not widening-compatible"
                    if allow_type_widening
                    else "pass allow_type_widening=True for safe "
                    "byte/short/int/long and float/double widening"
                )
                raise ValueError(
                    f"schema evolution: column {f['name']!r} type "
                    f"changed ({old['type']!r} -> {f['type']!r}); {hint}"
                )
            if w != old["type"]:
                merged = [
                    {**mf, "type": w} if mf["name"] == f["name"] else mf
                    for mf in merged
                ]
    return {**prev_json, "fields": merged}


def versioned_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    bucket_by: tuple[str, int] | None = None,
    bloom_by: list[str] | None = None,
    evolve_partitioning: bool = False,
    allow_type_widening: bool = False,
    generated_columns: dict[str, str] | None = None,
    identity_columns: dict[str, dict] | None = None,
    cluster_by: list[str] | None = None,
    ndv_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> int:
    """Write ``df`` as the next snapshot of the table at ``path``;
    returns the committed version (1-based). ``mode="append"`` keeps the
    previous snapshot's files and adds new ones; ``mode="overwrite"``
    starts a fresh file list (old files stay on disk for time travel
    until ``vacuum``). Raises ``ConcurrentCommitError`` if another
    writer commits the same version first — callers retry by re-invoking
    (the data files written by the losing attempt are orphans that
    ``vacuum`` collects; they were never visible).

    ``partition_by`` lays the data files out Hive-style (the reference's
    partition hook, reference utils/spark_write_iceberg.py:72-75) and
    records each file's partition values in the manifest zone maps, so
    ``read_version_pruned`` on a partition column opens only matching
    partitions and ``versioned_upsert``/``versioned_delete`` confine
    rewrites to touched partitions.  Omit it on later writes — the
    table's committed spec is inherited; an append with a DIFFERENT
    explicit spec is refused UNLESS ``evolve_partitioning=True``, which
    is Iceberg PARTITION-SPEC EVOLUTION: the new spec applies to THIS
    and later writes only, existing files keep their old layout
    forever (no rewrite — the headline Iceberg property Hive tables
    lack), and every reader reconstructs each file by its OWN layout
    (path-encoded values re-attached per file; a column that moved
    between path and data is read from wherever that file put it).
    Zone-map pruning keeps working across the boundary because
    partition values were recorded per file as [v, v] ranges when each
    file was committed; ``compact()`` rewrites everything under the
    current spec, completing the migration when wanted.

    ``bucket_by=(col, n)`` hash-buckets the layout (Iceberg's
    ``bucket(n, col)`` transform): files carry ``pmod(hash(col), n)``
    as a hidden partition value, so ``read_version_keyed`` point
    lookups and keyed upserts open only the touched buckets even for
    uniformly-distributed keys where min/max zone maps cannot prune.
    Inherited on later writes exactly like the partition spec.

    ``bloom_by=[col, ...]`` commits a per-file BLOOM INDEX for each
    listed column (Delta/Iceberg bloom filter indexes): one fixed-size
    hex bitmask per file/column in the manifest, built from one scan of
    the new files at commit time.  ``read_version_bloom`` then prunes
    point/IN lookups on columns the layout does NOT cluster — the
    third pruning tier after zone-map ranges (sorted/z-ordered
    columns) and hash buckets (the bucket key).

    ``generated_columns={name: sql_expr, ...}`` persists GENERATED
    COLUMNS (Delta generated columns): the spec rides the manifest
    like constraints, and EVERY subsequent write — append, upsert,
    row-level UPDATE of a source column, CDC apply — (re)computes each
    generated column from its expression over the same row before any
    file is written.  Generation is authoritative: a caller-supplied
    value is overwritten, so the invariant holds by construction and
    an UPDATE touching a source column can never leave the generated
    column stale.  Combine with ``partition_by=[name]`` for Delta's
    generated-column partitioning (the ``date_trunc`` pattern: cheap
    hidden-partitioning on an expression of a data column, with
    partition pruning via the [v, v] zone-map ranges).  Pass ``{}`` to
    drop the spec.

    ``identity_columns={name: {"start": 1, "step": 1, "order_by":
    [cols]}}`` is Delta's GENERATED BY DEFAULT AS IDENTITY: rows
    arriving with NULL in the column get fresh ids continuing from the
    manifest's high-water mark (``assigned`` in the spec), rows with
    values keep them — so row-level rewrites/upserts/UPDATEs preserve
    ids for free and only NEW rows consume.  Assignment is
    deterministic (ranked by ``order_by``, which must be a unique key
    among the inserted rows) and fully parallel (range-partition
    prefix-sum numbering, no ROW_NUMBER funnel).  Spec inherited like
    the partition spec; pass ``{}`` to drop.

    ``max_records_per_file`` caps rows per written data file (Spark's
    ``maxRecordsPerFile``) — write-time file sizing for wide tasks, the
    preventive half of what ``compact()`` fixes after the fact."""
    return _write_snapshot(
        df,
        path,
        mode,
        partition_by=partition_by,
        bucket_by=bucket_by,
        bloom_by=bloom_by,
        ndv_by=ndv_by,
        evolve_partitioning=evolve_partitioning,
        allow_type_widening=allow_type_widening,
        generated_columns=generated_columns,
        identity_columns=identity_columns,
        cluster_by=cluster_by,
        max_records_per_file=max_records_per_file,
    )


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: the table AS OF ``version`` (default: latest).
    Reads exactly the manifest's file list — a half-finished writer is
    invisible because its files are in no manifest."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    return _read_files(spark, path, m["files"], m)


def _lineage_prefix(path: str) -> str:
    """The URI prefix Spark's ``_metadata.file_path`` carries for data
    files under this table root — stripping it yields the manifest's
    relative file names.  Local-filesystem form (``file:`` + absolute
    path); a table root needing URI-encoding (spaces etc.) would need
    the encoded form, noted rather than handled (test/lake roots are
    plain paths)."""
    return "file:" + str(Path(path).resolve()) + "/"


def _attach_lineage(
    df: DataFrame, path: str, extra_bases: tuple[str, ...] = ()
) -> DataFrame:
    """Add ``__dv_file`` (manifest-relative data file) and ``__dv_pos``
    (row position within that file) from the scan's ``_metadata``
    pseudo-column — the (file, position) identity that delete vectors
    address rows by, computed JVM-side at scan time.  ``extra_bases``
    are additional table roots to strip (shallow-cloned files live
    under their SOURCE table's root; stripping it yields the same
    manifest-relative name the clone's manifest keys by — uuid write
    dirs make cross-base collisions impossible in practice)."""
    from pyspark.sql import functions as F

    rel = F.col("_metadata.file_path")
    for b in [path, *dict.fromkeys(extra_bases)]:
        rel = F.replace(rel, F.lit(_lineage_prefix(b)), F.lit(""))
    # ``file_path`` is a URI: Hadoop percent-encodes path characters
    # (space→%20 and, crucially, the writer's own Hive-escape '%'→%25 —
    # a timestamp partition dir ``ts=.. 12%3A00`` arrives as
    # ``ts=..%2012%253A00``).  Manifests key files by their RAW
    # filesystem names, so decode back before anything joins on the
    # name.  ``url_decode`` is form-decoding ('+' would become a
    # space), so literal '+' is re-encoded first — the composition is
    # exact percent-decoding, JVM-side.
    rel = F.url_decode(F.replace(rel, F.lit("+"), F.lit("%2B")))
    return df.select(
        "*",
        rel.alias("__dv_file"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )


def _data_path(path: str, manifest: dict, f: str) -> str:
    """Absolute path of a manifest-listed file: the table root, unless
    the manifest's ``file_base`` maps it elsewhere (shallow clones
    reference their source table's files in place — zero copy)."""
    base = (manifest.get("file_base") or {}).get(f)
    return str(Path(base or path) / f)


# Broadcast the delete-vector side of the merge-on-read anti-join while
# its manifest-recorded row count stays under this bound; bigger DV sets
# fall back to a shuffled anti-join (and are a signal to compact()).
_DV_BROADCAST_ROWS = 4_000_000


def _apply_delete_vectors(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    manifest: dict,
    files: list[str],
) -> DataFrame:
    """Merge-on-read: drop the (file, pos) rows recorded in the
    manifest's delete vectors via a left-anti join on the lineage
    columns (which must already be attached).  The DV side is tiny in
    the common case (a targeted DELETE) and is broadcast whenever the
    manifest-recorded counts for the scanned files stay under
    ``_DV_BROADCAST_ROWS`` — the read-side cost is then one map-side
    hash probe per row, no shuffle.  DV rows addressing files outside
    this scan (time travel over rewritten files, pruned reads) simply
    never match."""
    from pyspark.sql import functions as F

    dv_files = manifest.get("dv_files") or []
    if not dv_files:
        return df
    dv = spark.read.parquet(
        *[_data_path(path, manifest, f) for f in dv_files]
    )
    dv = dv.select(
        F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
    )
    counts = manifest.get("dv_counts") or {}
    total = sum(counts.get(f, 0) for f in files)
    if total <= _DV_BROADCAST_ROWS:
        dv = F.broadcast(dv)
    return df.join(dv, ["__dv_file", "__dv_pos"], "left_anti")


def _read_files(
    spark: SparkSession,
    path: str,
    files: list[str],
    manifest: dict,
    keep_lineage: bool = False,
    keep_row_ids: bool = False,
) -> DataFrame:
    """Materialize a scan over an explicit manifest file list.

    Unpartitioned tables take the single-scan fast path (one parquet
    relation over the explicit committed schema — added columns read
    NULL from pre-evolution files, widened columns upcast from narrow
    physical values).  Partitioned tables plan ONE scan over every
    file plus a single broadcast join on the scan's file lineage
    (``_metadata.file_path``) that re-attaches each file's path-encoded
    partition values via ``coalesce(data, path_value)`` — explicit file
    lists bypass Spark's directory-based partition discovery, and
    values parsed through the COMMITTED schema are exact where
    re-inference could mangle types (a string partition value '01'
    would re-infer as the integer 1).  Plan width stays O(1) however
    many partition directories the snapshot holds; per-FILE coalesce
    also makes partition-spec evolution free at read time (a column is
    read from wherever each file put it — path or data).

    Delete vectors recorded in the manifest are ALWAYS applied — every
    reader (snapshot, pruned, time travel, copy-on-write rewrite) sees
    the merge-on-read row set, so a DV commit is indistinguishable from
    the equivalent rewrite except in I/O.  ``keep_lineage=True``
    additionally keeps the ``__dv_file``/``__dv_pos`` identity columns
    in the output (consumers: the DV writer itself)."""
    from pyspark.sql.types import StructType

    full = StructType.fromJson(manifest["schema"])
    target = full
    if manifest.get("bucket_by"):
        # the hash-bucket layout column is internal: committed (typed
        # partition re-attachment needs it in the schema) but hidden
        # from every reader's output
        target = StructType(
            [f for f in full.fields if f.name != _BUCKET_COL]
        )
    if not files:
        df = spark.createDataFrame([], target)
        from pyspark.sql import functions as F

        if keep_lineage:
            df = df.select(
                "*",
                F.lit(None).cast("string").alias("__dv_file"),
                F.lit(None).cast("long").alias("__dv_pos"),
            )
        if keep_row_ids:
            df = df.select(
                "*",
                F.lit(None).cast("long").alias(_ROWID_COL),
                F.lit(None).cast("long").alias(_ROWCV_COL),
            )
        return df
    dv_counts = manifest.get("dv_counts") or {}
    need_dv = keep_lineage or keep_row_ids or any(
        f in dv_counts for f in files
    )
    pb = manifest.get("partition_by") or []
    bases = tuple((manifest.get("file_base") or {}).values())
    from pyspark.sql import functions as F

    # Initial DEFAULTS (add_column ... DEFAULT): decided per FILE from
    # the commit-version stamp each file's meta carries vs the
    # default's since-version — files written before the column
    # existed read the default, later files keep their values (an
    # explicit NULL stays NULL; legacy files without a stamp predate
    # any default by construction).  When EVERY scanned file predates
    # the column a plain coalesce suffices; a mixed scan flags the
    # pre-files through one broadcast join on the scan lineage.
    defaults = manifest.get("column_defaults") or {}
    pre_by_col: dict[str, tuple[set, object]] = {}
    if defaults:
        fmeta = manifest.get("file_meta") or {}
        for dc, spec in defaults.items():
            if dc not in full.fieldNames():
                continue
            pre = {
                f
                for f in files
                if ((fmeta.get(f) or {}).get("v") or 0) < spec["since"]
            }
            if pre:
                pre_by_col[dc] = (pre, spec["value"])
    mixed_defaults = {
        c: pv for c, pv in pre_by_col.items() if len(pv[0]) < len(files)
    }

    def _apply_defaults(out: DataFrame) -> DataFrame:
        if not pre_by_col:
            return out
        if mixed_defaults:
            from pyspark.sql.types import BooleanType, StringType
            from pyspark.sql.types import StructField as _Df
            from pyspark.sql.types import StructType as _Dt

            cols = sorted(mixed_defaults)
            flagged = sorted(set().union(*[mixed_defaults[c][0] for c in cols]))
            fl = F.broadcast(
                spark.createDataFrame(
                    [
                        tuple([f] + [f in mixed_defaults[c][0] for c in cols])
                        for f in flagged
                    ],
                    _Dt(
                        [_Df("__deff", StringType(), False)]
                        + [
                            _Df(f"__def_{c}", BooleanType(), False)
                            for c in cols
                        ]
                    ),
                )
            )
            out = out.join(
                fl, F.col("__dv_file") == F.col("__deff"), "left"
            )
        for c, (pre, val) in pre_by_col.items():
            lit = F.lit(val).cast(full[c].dataType)
            if c in mixed_defaults:
                out = out.withColumn(
                    c,
                    F.when(
                        F.coalesce(F.col(f"__def_{c}"), F.lit(False))
                        & F.col(c).isNull(),
                        lit,
                    ).otherwise(F.col(c)),
                )
            else:
                out = out.withColumn(c, F.coalesce(F.col(c), lit))
        if mixed_defaults:
            out = out.drop(
                "__deff", *[f"__def_{c}" for c in sorted(mixed_defaults)]
            )
        return out

    def _attach_row_ids(out: DataFrame) -> DataFrame:
        """Resolve each row's stable id and last-modified version
        (requires lineage columns): the materialized hidden columns
        when the file carries them, else the file-level values — the
        id from base_row_id + row position, the version from the
        file's commit stamp — one coalesce each over one broadcast
        (file, brid, v) map."""
        if not keep_row_ids:
            return out
        fmeta = manifest.get("file_meta") or {}
        brids = [
            (
                f,
                (fmeta.get(f) or {}).get("brid"),
                (fmeta.get(f) or {}).get("v"),
            )
            for f in files
        ]
        from pyspark.sql.types import LongType, StringType
        from pyspark.sql.types import StructField as _Bf
        from pyspark.sql.types import StructType as _Bt

        bm = F.broadcast(
            spark.createDataFrame(
                brids,
                _Bt(
                    [
                        _Bf("__brid_file", StringType(), False),
                        _Bf("__brid", LongType(), True),
                        _Bf("__fv", LongType(), True),
                    ]
                ),
            )
        )
        out = out.join(
            bm, F.col("__dv_file") == F.col("__brid_file"), "left"
        )
        out = out.withColumn(
            _ROWID_COL,
            F.coalesce(
                F.col(_ROWID_COL), F.col("__brid") + F.col("__dv_pos")
            ),
        ).withColumn(
            _ROWCV_COL, F.coalesce(F.col(_ROWCV_COL), F.col("__fv"))
        )
        return out.drop("__brid_file", "__brid", "__fv")

    # Column mapping: files carry PHYSICAL names, so the scan schema is
    # the committed schema with fields renamed logical→physical, and
    # the result renames back right after the scan (after lineage
    # attach — a select would drop the _metadata pseudo-column).  A
    # rename therefore costs zero I/O and zero plan complexity: same
    # one scan, aliased projection.
    cmap = _column_mapping(manifest)
    from pyspark.sql.types import StructField as _Sf

    phys = StructType(
        [
            _Sf(cmap.get(f.name, f.name), f.dataType, True)
            for f in full.fields
        ]
    )
    if keep_row_ids:
        # hidden materialized id/commit-version columns: rewritten
        # files carry them, append-written files read NULL (their
        # values derive from the file-level brid / commit stamp)
        from pyspark.sql.types import LongType as _RlT

        phys = StructType(
            list(phys.fields)
            + [_Sf(_ROWID_COL, _RlT(), True), _Sf(_ROWCV_COL, _RlT(), True)]
        )

    def _to_logical(df: DataFrame) -> DataFrame:
        if not cmap:
            return df
        rev = {v: k for k, v in cmap.items()}
        return df.select(
            [F.col(c).alias(rev.get(c, c)) for c in df.columns]
        )

    # Partition evolution (Iceberg spec-evolution semantics) means the
    # CURRENT spec says nothing about how an OLD file is laid out: a
    # file written before the evolution may carry a current partition
    # column as ordinary parquet data, or path-encode a column the
    # current spec dropped.  Reconstruction is therefore per-FILE, not
    # per-spec: any file with Hive k=v path components routes through
    # the grouped scan, which re-attaches exactly the values its own
    # path encodes and lets everything else come from the data.
    grouped = bool(pb) or any(
        "=" in comp for f in files for comp in f.split("/")[:-1]
    )
    if not grouped:
        # explicit committed schema, never mergeSchema: pre-evolution
        # files surface added columns as NULL, and files written before
        # a type widening hold narrow physical values the vectorized
        # reader upcasts exactly (mergeSchema would refuse to merge an
        # int file with a long file at all)
        out = spark.read.schema(phys).parquet(
            *[_data_path(path, manifest, f) for f in files]
        )
        if not need_dv and not mixed_defaults:
            return _apply_defaults(_to_logical(out))
        out = _to_logical(_attach_lineage(out, path, bases))
        out = _apply_delete_vectors(spark, out, path, manifest, files)
        out = _apply_defaults(out)
        out = _attach_row_ids(out)
        return out if keep_lineage else out.drop("__dv_file", "__dv_pos")

    # ONE scan over every file with the committed schema, path-encoded
    # partition values re-attached via a single broadcast join on the
    # scan's file lineage.  Plan width stays O(1) however many
    # partition directories the snapshot holds — a per-directory union
    # would plan 100k relations on a 100k-partition table, a
    # driver-side bottleneck the 100 TB story can't afford.  A column
    # is read from wherever each FILE put it (partition evolution):
    # path-encoded files surface it as NULL under the explicit schema
    # and the coalesce takes the path value; data-carried files keep
    # their parquet value (a file never holds a column in both places).
    from pyspark.sql.types import StructField, StructType as _St

    per_file = {
        f: {
            c: v
            for c, v in _partition_values(
                f, manifest["schema"], cmap
            ).items()
            if c in full.fieldNames()
        }
        for f in files
    }
    path_cols = sorted({c for vals in per_file.values() for c in vals})
    out = spark.read.schema(phys).parquet(
        *[_data_path(path, manifest, f) for f in files]
    )
    out = _to_logical(_attach_lineage(out, path, bases))
    if path_cols:
        from pyspark.sql.types import StringType

        # _partition_values keeps date/timestamp/decimal values as the
        # ISO strings the writer path-encoded; createDataFrame's type
        # verification rejects str for those Spark types, so the __pv_
        # columns stay StringType here and the coalesce casts to the
        # committed type (ints/floats/bools arrive typed and round-trip
        # through the string cast unchanged).
        pv_schema = _St(
            [StructField("__pv_file", StringType(), False)]
            + [
                StructField(f"__pv_{c}", StringType(), True)
                for c in path_cols
            ]
        )
        pv_rows = [
            tuple(
                [f]
                + [
                    None if (v := per_file[f].get(c)) is None else str(v)
                    for c in path_cols
                ]
            )
            for f in files
        ]
        pv = F.broadcast(spark.createDataFrame(pv_rows, pv_schema))
        out = out.join(pv, F.col("__dv_file") == F.col("__pv_file"), "left")
        for c in path_cols:
            out = out.withColumn(
                c,
                F.coalesce(
                    F.col(c), F.col(f"__pv_{c}").cast(full[c].dataType)
                ),
            )
        out = out.drop("__pv_file", *[f"__pv_{c}" for c in path_cols])
    if need_dv:
        out = _apply_delete_vectors(spark, out, path, manifest, files)
    out = _apply_defaults(out)
    out = _attach_row_ids(out)
    # align to the committed schema: column order and evolved columns
    sel = [
        F.col(f.name).cast(f.dataType).alias(f.name)
        if f.name in out.columns
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in target.fields
    ]
    if keep_lineage:
        sel += [F.col("__dv_file"), F.col("__dv_pos")]
    if keep_row_ids:
        sel += [F.col(_ROWID_COL), F.col(_ROWCV_COL)]
    return out.select(*sel)


def read_version_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read with manifest-level file pruning: files whose
    committed (min, max) range for ``col`` cannot intersect [lo, hi]
    are dropped from the scan file list before Spark sees them — the
    zone-map skip Iceberg/Delta do from manifest stats, one tier above
    parquet row-group pruning.  The predicate is ALSO applied to the
    surviving rows, so the result is always exactly
    ``read_version(...).filter(lo <= col <= hi)`` — pruning only
    changes how many files get opened.  Files with no stats for
    ``col`` are conservatively kept.  Partition values are committed
    into the same zone maps as [v, v] ranges, so pruning on a partition
    column IS partition pruning — one mechanism, no special case."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    keep, _skipped = _candidate_split(m, col, lo, hi)
    # generated-column predicate rewriting: a monotone generated
    # (usually partition) column derives [f(lo), f(hi)] — prunes even
    # when ``col`` itself has no stats (decimal/nested/legacy files)
    keep, _ = _apply_derived_pruning(spark, m, col, lo, hi, keep, [])
    df = _read_files(spark, path, keep, m)
    if lo is not None:
        df = df.filter(F.col(col) >= F.lit(lo))
    if hi is not None:
        df = df.filter(F.col(col) <= F.lit(hi))
    return df


def read_version_pruned_multi(
    spark: SparkSession,
    path: str,
    ranges: dict[str, tuple],
    version: int | None = None,
) -> DataFrame:
    """AND-composed multi-column zone-map pruning: open only files
    whose committed (min, max) can intersect EVERY ``{col: (lo, hi)}``
    range (``None`` bounds are open-ended).  The natural reader over a
    Z-ORDERED table (``compact(zorder_cols=[...])``): Morton
    clustering gives every z-column a tight per-file range, so a
    conjunctive slice on k dims opens ~∏ selectivity of the files
    where single-column clustering prunes on one dim only.  The
    per-column semantics are :func:`read_version_pruned`'s (exact —
    the predicate is re-applied to surviving rows; statless files are
    conservatively kept), and this is its multi-column generalization
    the same way ``read_version_bloom_multi`` generalizes the bloom
    probe — ranges for clustered dims, blooms for unclustered
    needles."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    if not ranges:
        raise ValueError("read_version_pruned_multi: ranges must be non-empty")
    m = _read_manifest(path, v)
    keep = list(m["files"])
    for c, (lo, hi) in ranges.items():
        split, _ = _candidate_split(m, c, lo, hi)
        allowed = set(split)
        keep = [f for f in keep if f in allowed]
    df = _read_files(spark, path, keep, m)
    for c, (lo, hi) in ranges.items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df


def read_version_null_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    is_null: bool,
    version: int | None = None,
) -> DataFrame:
    """NULL-statistics file pruning (Delta's third data-skipping
    statistic): ``is_null=True`` opens only files whose committed
    null count for ``col`` is nonzero, ``is_null=False`` skips files
    that are ALL null — the case min/max ranges can never prune,
    because an all-null column has no range at all (sparse columns on
    append-heavy tables routinely produce whole all-null files).  The
    predicate is re-applied to surviving rows, so the result is always
    exactly ``read_version(...).filter(col IS [NOT] NULL)``; files
    without a committed null count (legacy commits, statless row
    groups, path-encoded partition columns) are conservatively kept."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    pc = _phys(m, col)
    fm_all = m.get("file_meta") or {}
    keep: list[str] = []
    for f in m["files"]:
        fm = fm_all.get(f) or {}
        n = (fm.get("nulls") or {}).get(pc)
        rows = fm.get("rows")
        if n is not None:
            if is_null and n == 0:
                continue
            if not is_null and rows is not None and n == rows:
                continue
        keep.append(f)  # unknown count → conservative keep
    df = _read_files(spark, path, keep, m)
    pred = F.col(col).isNull() if is_null else F.col(col).isNotNull()
    return df.filter(pred)


def versioned_count(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """``COUNT(*)`` answered from the manifest alone — Delta's
    metadata-only count: every commit path (append, copy-on-write
    rewrite, DV delete, conflict rebase) maintains ``row_count``
    exactly, already net of deletion vectors, so the count is one JSON
    field — zero data files opened, O(1) whatever the table size.  A
    100 TB fact table answers ``COUNT(*)`` in milliseconds, which is
    exactly why real formats keep this statistic transactional.
    Returned as a 1-row DataFrame so it composes with the rest of the
    query surface (and with time travel via ``version``)."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    return spark.createDataFrame(
        [(int(m["row_count"]),)], "count bigint"
    )


def versioned_min_max(
    spark: SparkSession,
    path: str,
    col: str | list[str] | tuple[str, ...],
    version: int | None = None,
) -> DataFrame:
    """``MIN(col)/MAX(col)`` answered from the manifest zone maps where
    provably exact, scanning only the files that could change the
    answer — the metadata-only aggregate Delta serves from its
    per-file stats:

    - a DV-FREE file's committed (min, max) is exact (footer-derived,
      every row present), so such files contribute metadata only;
    - a file carrying DELETION VECTORS may have lost its extreme rows,
      so it is scanned — but only when its range could actually beat
      the metadata bound (min below the proven min / max above the
      proven max); otherwise its surviving rows provably don't matter;
    - files with NO usable stats for ``col`` (legacy commits, statless
      row groups, pre-evolution files where the column reads NULL) are
      scanned — conservative, never wrong.  NULLs are ignored, SQL
      aggregate semantics.

    On a healthy table (stats present, deletes compacted away) this
    opens ZERO data files; in the worst case it degrades to the plain
    scan aggregate, never to a wrong answer.  Time-typed columns keep
    their stats as Hive-normal-form ISO strings (lexicographic ==
    value order), cast back to the committed type in the result.
    Result columns are ``min_<col>``/``max_<col>``.

    ``col`` may be a LIST of columns (r16): per-column metadata
    resolution is unchanged, but all columns needing a scan share ONE
    scan job over the union of their boundary files — SELECT MIN(a),
    MAX(a), MIN(b), MAX(b) scan sharing.  Scanning a file one column
    didn't strictly need is sound: its values lie within that file's
    committed range, so folding them in with least/greatest can never
    move the true extreme.  Result columns follow the list order."""
    from pyspark.sql import functions as F

    cols = [col] if isinstance(col, str) else list(col)
    if not cols:
        raise ValueError("versioned_min_max: col list must be non-empty")
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    ctypes: dict[str, str] = {}
    for c in cols:
        ctype = next(
            (
                f["type"]
                for f in (m.get("schema") or {}).get("fields", [])
                if f["name"] == c and isinstance(f["type"], str)
            ),
            None,
        )
        if ctype is None:
            raise ValueError(
                f"versioned_min_max: column {c!r} not in the committed "
                "schema (or not a primitive type)"
            )
        ctypes[c] = ctype
    stats = m.get("file_stats") or {}
    meta = m.get("file_meta") or {}
    dvc = m.get("dv_counts") or {}
    exact: dict[str, tuple] = {}  # col -> (min, max) or absent
    scan_for: dict[str, set[str]] = {c: set() for c in cols}
    for c in cols:
        pc = _phys(m, c)
        exact_min = exact_max = None
        dvd: list[tuple[str, object, object]] = []
        for f in m["files"]:
            if (meta.get(f) or {}).get("rows") == 0:
                continue  # empty file (range-partition edge): no stats
            rng = stats.get(f, {}).get(pc)
            if rng is None:
                scan_for[c].add(f)
                continue
            if f in dvc:
                dvd.append((f, rng[0], rng[1]))
                continue
            try:
                if exact_min is None or rng[0] < exact_min:
                    exact_min = rng[0]
                if exact_max is None or rng[1] > exact_max:
                    exact_max = rng[1]
            except TypeError:
                scan_for[c].add(f)  # incomparable stats → conservative
        for f, lo, hi in dvd:
            try:
                beats = (
                    exact_min is None
                    or exact_max is None
                    or lo < exact_min
                    or hi > exact_max
                )
            except TypeError:
                beats = True
            if beats:
                scan_for[c].add(f)
        if exact_min is not None:
            exact[c] = (exact_min, exact_max)
    scan = sorted(set().union(*scan_for.values()))
    scanned: dict[str, tuple] = {}
    if scan:
        got = (
            _read_files(spark, path, scan, m)
            .agg(
                *[
                    g
                    for c in cols
                    for g in (
                        F.min(c).alias(f"__lo_{c}"),
                        F.max(c).alias(f"__hi_{c}"),
                    )
                ]
            )
            .first()
        )
        for c in cols:
            if got[f"__lo_{c}"] is not None:
                scanned[c] = (got[f"__lo_{c}"], got[f"__hi_{c}"])

    def _fold(fn, cands):  # least/greatest need >= 2 args
        return cands[0] if len(cands) == 1 else fn(*cands)

    out_cols = []
    for c in cols:
        min_cands, max_cands = [], []
        if c in exact:
            min_cands.append(F.lit(exact[c][0]).cast(ctypes[c]))
            max_cands.append(F.lit(exact[c][1]).cast(ctypes[c]))
        if c in scanned:
            min_cands.append(F.lit(scanned[c][0]).cast(ctypes[c]))
            max_cands.append(F.lit(scanned[c][1]).cast(ctypes[c]))
        if not min_cands:
            min_cands = max_cands = [F.lit(None).cast(ctypes[c])]
        out_cols.append(_fold(F.least, min_cands).alias(f"min_{c}"))
        out_cols.append(_fold(F.greatest, max_cands).alias(f"max_{c}"))
    return spark.range(1).select(*out_cols)


def read_version_keyed(
    spark: SparkSession,
    path: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """Point lookup on a hash-bucketed table: the rows whose bucket
    column is IN ``values``, opening only the files in the touched
    buckets (composed with the min/max zone maps, which alone cannot
    prune a uniformly-distributed key).  The requested values are
    hashed by the SAME JVM expression the writer used — cast to the
    committed column type first, because murmur3 of an int32 and an
    int64 differ — so membership is exact, never probabilistic.  Result
    is always exactly ``read_version(...).filter(col IN values)``;
    pruning only changes how many files get opened.  The scan cost is
    O(|touched buckets| / n of the table) — the needle-in-100 TB read
    path."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    bb = m.get("bucket_by")
    if not bb:
        raise ValueError(
            f"table at {path} has no bucket_by layout; use "
            "read_version_pruned for zone-map range pruning"
        )
    col, n = bb[0], int(bb[1])
    vals = [x for x in values if x is not None]  # IN never matches NULL
    if not vals:
        return _read_files(spark, path, [], m)
    full = StructType.fromJson(m["schema"])
    vdf = spark.createDataFrame(
        [(x,) for x in vals],
        StructType([StructField(col, full[col].dataType)]),
    )
    touched = {
        r["b"]
        for r in vdf.select(_bucket_expr(col, n).alias("b"))
        .distinct()
        .collect()
    }
    keep, _ = _candidate_split(m, col, min(vals), max(vals))
    stats = m.get("file_stats", {})
    kept: list[str] = []
    for f in keep:
        b = stats.get(f, {}).get(_BUCKET_COL)
        if b is not None and b[0] == b[1] and b[0] not in touched:
            continue
        kept.append(f)  # no bucket stat → conservative keep
    return _read_files(spark, path, kept, m).filter(F.col(col).isin(vals))


def read_version_bloom(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """Point/IN lookup pruned by the manifest's per-file bloom indexes:
    opens only files whose committed bitmask could contain at least one
    requested value (all k probe bits set — double hashing recomputed
    by the same JVM expressions the writer used, on values cast to the
    committed column type).  Composed with the zone-map range split, so
    a sorted table prunes on BOTH structure and content.  Result is
    always exactly ``read_version(...).filter(col IN values)`` — a
    bloom false positive costs one extra file open, never a wrong row;
    files without a committed mask are conservatively kept.  This is
    the pruning tier for columns the layout does not cluster (the
    Delta/Iceberg bloom index contract): a needle lookup on a
    high-cardinality side column touches ~fpp of a 100 TB table's
    files instead of all of them.  The single-column case of
    :func:`read_version_bloom_multi`."""
    return read_version_bloom_multi(spark, path, {col: values}, version)


def versioned_ndv_registers(
    spark: SparkSession,
    path: str,
    col: str,
    version: int | None = None,
    allow_partial: bool = False,
) -> DataFrame:
    """The snapshot's MERGED NDV register table for ``col`` — (bucket,
    rho) rows, metadata-only: per-file registers committed by
    ``ndv_by`` (Iceberg's puffin-sketch shape) are max-merged across
    the live files without opening a single data file.  Registers use
    the oracle-reproducible scheme of ``functions/sketches.py`` (sha256
    hex-prefix hash), so another engine can rebuild the identical table
    from the rows.  Files without a committed register set (written
    before the spec, or the column predates them) make the estimate
    silently low, so they RAISE unless ``allow_partial=True`` —
    re-cover with ``compact()`` (rewrites carry fresh registers).

    DELETE-VECTOR staleness (the Iceberg puffin-sketch caveat, made
    loud): registers are per-FILE and a DV delete does not rewrite the
    file, so values surviving only in DV-deleted rows still count —
    when the snapshot carries outstanding delete vectors the merged
    estimate is an UPPER BOUND on the live rows' NDV, exact again once
    ``compact()`` materializes the deletes.  A ``UserWarning`` flags
    this; it never silently under-counts (deletes can only remove
    values)."""
    import warnings

    from pyspark.sql import functions as F  # noqa: F401

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    spec = m.get("ndv_by")
    if not spec or col not in spec["cols"]:
        raise ValueError(
            f"table at {path} has no NDV registers on {col!r}; "
            f"ndv_by covers {spec['cols'] if spec else []}"
        )
    phys = _phys(m, col)
    if m.get("dv_counts"):
        warnings.warn(
            f"versioned_ndv: snapshot v{v} at {path} carries "
            f"outstanding delete vectors over "
            f"{len(m['dv_counts'])} file(s); per-file registers still "
            f"count values that survive only in DV-deleted rows, so "
            f"the {col!r} estimate is an UPPER BOUND — compact() to "
            "materialize the deletes and make it exact",
            stacklevel=2,
        )
    merged: dict[int, int] = {}
    missing = 0
    for f in m["files"]:
        entry = _sidecar_entry_for(path, m, f, "ndv", "ndv")
        regs = (entry or {}).get(phys)
        if regs is None:
            missing += 1
            continue
        for b, r in regs.items():
            bi = int(b)
            if r > merged.get(bi, 0):
                merged[bi] = r
    if missing and not allow_partial:
        raise ValueError(
            f"versioned_ndv: {missing}/{len(m['files'])} live files "
            f"have no committed registers for {col!r} (written before "
            "the ndv_by spec, or the column predates them) — the "
            "estimate would be silently low; compact() to re-cover, "
            "or pass allow_partial=True"
        )
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("bucket", IntegerType(), False),
            StructField("rho", IntegerType(), False),
        ]
    )
    return spark.createDataFrame(
        sorted(merged.items()), schema
    )


def versioned_ndv(
    spark: SparkSession,
    path: str,
    col: str,
    version: int | None = None,
    allow_partial: bool = False,
) -> float:
    """Approximate COUNT(DISTINCT col) for a snapshot, served purely
    from the manifest's NDV registers (zero data files opened) —
    standard HLL estimate over :func:`versioned_ndv_registers`, ~1.6%
    standard error at the committed p=12.  The metadata sibling of
    ``versioned_count``/``versioned_min_max`` for the one aggregate
    zone maps structurally cannot answer.  Outstanding delete vectors
    make this an upper bound (warned, exact after ``compact()``) —
    see :func:`versioned_ndv_registers`."""
    from ..functions.sketches import hll_estimate_registers

    m = _read_manifest(
        path, versions(path)[-1] if version is None else version
    )
    rows = versioned_ndv_registers(
        spark, path, col, version=version, allow_partial=allow_partial
    ).collect()
    return hll_estimate_registers(rows, p=int(m["ndv_by"]["p"]))


def read_version_bloom_multi(
    spark: SparkSession,
    path: str,
    probes: dict[str, list],
    version: int | None = None,
) -> DataFrame:
    """AND-composed multi-column bloom lookup with batched probes:
    result is exactly ``read_version(...).filter(AND_c col_c IN
    vals_c)``, opening only files that pass EVERY probed column's
    bloom mask AND zone-map range — a conjunctive needle lookup
    (customer X AND clerk Y) multiplies the per-column false-positive
    rates, so the opened-file set shrinks toward fpp^n_cols of the
    table.  All columns' probe bit positions are computed in ONE JVM
    job (per-column frames cast to the committed types, unioned on a
    common (col, positions) shape, single collect) — n_cols × n_values
    probes never cost n jobs.  Per-column semantics match
    :func:`read_version_bloom`: NULL probe values drop (IN never
    matches NULL), an empty value list makes the conjunction
    empty-by-definition (zero files), maskless files are
    conservatively kept for that column."""
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    spec = m.get("bloom_by")
    if not probes:
        raise ValueError("read_version_bloom_multi: probes must be non-empty")
    for col in probes:
        if not spec or col not in spec["cols"]:
            raise ValueError(
                f"table at {path} has no bloom index on {col!r}; "
                f"bloom_by covers {spec['cols'] if spec else []}"
            )
    vals = {
        c: [x for x in pv if x is not None]  # IN never matches NULL
        for c, pv in probes.items()
    }
    if any(not pv for pv in vals.values()):
        return _read_files(spark, path, [], m)
    full = StructType.fromJson(m["schema"])
    bm, bk = int(spec["m"]), int(spec["k"])
    frames = [
        spark.createDataFrame(
            [(x,) for x in pv],
            StructType([StructField(c, full[c].dataType)]),
        ).select(
            F.lit(c).alias("c"), _bloom_positions(c, bm, bk).alias("ps")
        )
        for c, pv in vals.items()
    ]
    pos: dict[str, list] = {c: [] for c in vals}
    for r in reduce(lambda a, b: a.unionByName(b), frames).collect():
        pos[r["c"]].append(r["ps"])
    # zone-map range split per column, intersected (manifest order kept)
    keep = list(m["files"])
    for c, pv in vals.items():
        split, _ = _candidate_split(m, c, min(pv), max(pv))
        allowed = set(split)
        keep = [f for f in keep if f in allowed]
    def _passes(f: str, c: str) -> bool:
        hexmask = (_bloom_masks_for(path, m, f) or {}).get(_phys(m, c))
        if hexmask is None:
            return True  # no mask committed → conservative keep
        mask = int(hexmask, 16)
        return any(
            ps and all(p is not None and (mask >> p) & 1 for p in ps)
            for ps in pos[c]
        )

    kept = [f for f in keep if all(_passes(f, c) for c in vals)]
    pred = reduce(
        lambda a, b: a & b, [F.col(c).isin(pv) for c, pv in vals.items()]
    )
    return _read_files(spark, path, kept, m).filter(pred)


def _bucket_confine(
    manifest: dict,
    changes: DataFrame,
    candidates: list[str],
    untouched: list[str],
) -> tuple[list[str], list[str]]:
    """Hash-bucket confinement for copy-on-write verbs, composed WITH
    the range split: on a ``bucket_by`` table, the change set's touched
    buckets (a <= n-row collect of pmod hashes, computed by the same
    JVM expression the writer used) move every other-bucket candidate
    onto the carry-verbatim side.  This is the prune that still bites
    when keys are uniform and the change range spans every file — the
    exact workload bucket layouts exist for.  Files without a bucket
    stat stay candidates: correctness never depends on a prune."""
    bb = manifest.get("bucket_by")
    if not bb or not candidates:
        return candidates, untouched
    touched = {
        r["b"]
        for r in changes.select(_bucket_expr(bb[0], int(bb[1])).alias("b"))
        .distinct()
        .collect()
    }
    stats = manifest.get("file_stats", {})
    still: list[str] = []
    carried = list(untouched)
    for f in candidates:
        b = stats.get(f, {}).get(_BUCKET_COL)
        if b is not None and b[0] == b[1] and b[0] not in touched:
            carried.append(f)
        else:
            still.append(f)
    return still, carried


def _candidate_split(
    manifest: dict, col: str, lo, hi
) -> tuple[list[str], list[str]]:
    """Split a manifest's file list into (may-intersect, proven-
    disjoint) for the range [lo, hi] on ``col`` using the committed
    zone maps.  Shared by pruned reads (open only may-intersect) and
    copy-on-write upsert/delete (rewrite only may-intersect).  Files
    with no usable stats — including a type-mismatched comparison
    (e.g. a string-kept partition value probed with an int) — land on
    the may-intersect side: correctness never depends on a prune.
    ``col`` is the LOGICAL name; the stats plane keys by physical.
    Typed date/timestamp probes coerce to the Hive-normal-form ISO
    strings the stats plane stores for those columns, so time-range
    pruning is exact."""
    import datetime as _dt

    logical = col
    col = _phys(manifest, col)
    ctype = next(
        (
            f["type"]
            for f in (manifest.get("schema") or {}).get("fields", [])
            if f["name"] == logical and isinstance(f["type"], str)
        ),
        None,
    )

    def _coerce(v):
        if isinstance(v, _dt.datetime) and ctype == "date":
            # a DATE column's stats are day strings; a midnight
            # datetime probe must compare as its day, not as the
            # longer "YYYY-MM-DD 00:00:00" (which sorts AFTER the day)
            return v.date().isoformat()
        if (
            isinstance(v, _dt.date)
            and not isinstance(v, _dt.datetime)
            and ctype in ("timestamp", "timestamp_ntz")
        ):
            # the mirror edge: a TIMESTAMP column's stats carry the
            # ' 00:00:00' normal form, and the plain day string sorts
            # BEFORE it — probing hi=date(d) would falsely prune a file
            # whose min is exactly midnight of d, dropping valid rows
            # (the subsequent filter casts the date to that midnight)
            return _ts_str(_dt.datetime.combine(v, _dt.time()))
        if isinstance(v, (_dt.date, _dt.datetime)):
            return _ts_str(v)
        return v

    lo, hi = _coerce(lo), _coerce(hi)
    all_stats = manifest.get("file_stats", {})
    keep: list[str] = []
    skipped: list[str] = []
    for f in manifest["files"]:
        rng = all_stats.get(f, {}).get(col)
        if rng is not None:
            fmin, fmax = rng
            try:
                if lo is not None and fmax < lo:
                    skipped.append(f)
                    continue
                if hi is not None and fmin > hi:
                    skipped.append(f)
                    continue
            except TypeError:
                pass  # incomparable types → conservatively keep
        keep.append(f)
    return keep, skipped


def _derived_prune_bounds(
    spark: SparkSession, manifest: dict, col: str, lo, hi
) -> list[tuple[str, object, object]]:
    """Generated-column predicate rewriting (Delta's generated-column
    partition pruning): when a table carries a GENERATED column whose
    expression is a recognized MONOTONE function of the probed base
    column, a range [lo, hi] on the base column implies the range
    [f(lo), f(hi)] on the generated column — which is usually the
    PARTITION column, whose [v, v] path-derived zone maps are always
    present and exact.  This is the prune that still bites when the
    base column itself has no usable stats (DECIMAL and nested types
    are outside the stats plane; legacy commits may predate it): the
    classic ``partition by day generated from ts, query filters ts``
    pattern, plus decimal band layouts.

    Monotonicity is decided by a strict whitelist of expression shapes
    over EXACTLY the probed column (floor-division bands, date
    truncations, date casts, year, string prefixes); anything else
    derives nothing — correctness never depends on this prune.  The
    derived bounds are computed by EVALUATING the committed expression
    itself on the two literals (a 2-row driver-local plan, no table
    data touched), so the mapping can never drift from what the writer
    materialized."""
    import re

    gen = manifest.get("generated_columns") or {}
    if not gen or (lo is None and hi is None):
        return []
    c = re.escape(col)
    ident = rf"`?{c}`?"
    monotone = [
        rf"^cast\s*\(\s*floor\s*\(\s*{ident}\s*/\s*\d+(\.\d+)?\s*\)\s+as\s+(int|integer|bigint|long|smallint)\s*\)$",
        rf"^floor\s*\(\s*{ident}\s*/\s*\d+(\.\d+)?\s*\)$",
        rf"^date_trunc\s*\(\s*'(year|quarter|month|week|day|dd|hour|minute)'\s*,\s*{ident}\s*\)$",
        rf"^cast\s*\(\s*{ident}\s+as\s+date\s*\)$",
        rf"^to_date\s*\(\s*{ident}\s*\)$",
        rf"^year\s*\(\s*{ident}\s*\)$",
        rf"^substring\s*\(\s*{ident}\s*,\s*1\s*,\s*\d+\s*\)$",
        rf"^substr\s*\(\s*{ident}\s*,\s*1\s*,\s*\d+\s*\)$",
    ]
    hits = {
        g: e
        for g, e in gen.items()
        if any(
            re.match(p, " ".join(str(e).strip().split()), re.IGNORECASE)
            for p in monotone
        )
    }
    if not hits:
        return []
    ctype = next(
        (
            f["type"]
            for f in (manifest.get("schema") or {}).get("fields", [])
            if f["name"] == col and isinstance(f["type"], str)
        ),
        None,
    )
    if ctype is None:
        return []
    from pyspark.sql import functions as F

    gnames = list(hits)
    evald: dict[str, dict] = {}
    for k, v in (("lo", lo), ("hi", hi)):
        if v is None:
            continue
        evald[k] = (
            spark.range(1)
            .select(F.lit(v).cast(ctype).alias(col))
            .selectExpr(*[f"{hits[g]} AS {g}" for g in gnames])
            .first()
            .asDict()
        )
    out: list[tuple[str, object, object]] = []
    for g in gnames:
        glo = evald.get("lo", {}).get(g)
        ghi = evald.get("hi", {}).get(g)
        if glo is not None or ghi is not None:
            out.append((g, glo, ghi))
    return out


def _apply_derived_pruning(
    spark: SparkSession,
    manifest: dict,
    col: str,
    lo,
    hi,
    candidates: list[str],
    untouched: list[str],
) -> tuple[list[str], list[str]]:
    """Intersect a candidate split with every generated-column bound
    ``_derived_prune_bounds`` can prove from the same [lo, hi]: files
    the derived (usually partition-valued, always-present) zone maps
    rule out move to the carry-verbatim side.  No-op when the table
    has no monotone generated columns over ``col``."""
    for gcol, glo, ghi in _derived_prune_bounds(spark, manifest, col, lo, hi):
        allowed = set(_candidate_split(manifest, gcol, glo, ghi)[0])
        moved = [f for f in candidates if f not in allowed]
        if moved:
            untouched = untouched + moved
            candidates = [f for f in candidates if f in allowed]
    return candidates, untouched


def rollback(path: str, to_version: int) -> int:
    """Commit a NEW version whose visible state equals ``to_version`` —
    history is append-only, like Iceberg's rollback snapshot.

    The source manifest's ``txn_id`` is NOT carried into the rollback
    commit (it moves to ``rolled_back_txn_id`` for audit): a rollback
    changes the visible state, so a producer retrying that transaction
    afterwards must be allowed to land, not skipped by the one-deep
    ledger in ``versioned_write_txn``.

    ``committed_at`` is stamped FRESH (never inherited from the source
    manifest): the rollback became the table's state NOW, so a
    ``read_as_of`` probe at a time when some later version was current
    must keep resolving to that later version, not be shadowed by a
    rollback commit carrying the rolled-back-to snapshot's old clock."""
    import time

    m = dict(_read_manifest(path, to_version))
    txn = m.pop("txn_id", None)
    m.pop("cdf_files", None)  # per-commit key: the rollback did not
    m.pop("cdf_file_meta", None)
    # produce the source commit's change rows
    vs = versions(path)
    if m.get("row_tracking"):
        # ids assigned AFTER the rolled-back-to snapshot must never be
        # reused by post-rollback writes: keep the larger watermark
        cur_hw = int(
            _read_manifest(path, vs[-1]).get("row_id_high_water") or 0
        )
        m["row_id_high_water"] = max(
            int(m.get("row_id_high_water") or 0), cur_hw
        )
    nxt = vs[-1] + 1
    manifest = {
        **m,
        "version": nxt,
        "mode": f"rollback:{to_version}",
        "committed_at": time.time(),
    }
    if txn is not None:
        manifest["rolled_back_txn_id"] = txn
    return _commit_state(path, manifest, _read_manifest(path, vs[-1]))


def clone_table(
    src: str, dst: str, version: int | None = None, deep: bool = False
) -> int:
    """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``, Iceberg
    snapshot-ref semantics): commit ``dst`` v1 as a metadata-only copy
    of ``src``'s snapshot — the manifest carries every file entry
    (stats, blooms, buckets, delete vectors) verbatim plus a
    ``file_base`` mapping each file to the SOURCE table's root, so the
    clone reads the source's data files in place.  Cloning a 100 TB
    table costs one JSON write.

    The clone is immediately a first-class table: reads, pruned reads,
    time travel (its own history), upserts/deletes/CDC applies — every
    rewrite lands under ``dst`` and drops the rewritten files'
    ``file_base`` entries, so mutation gradually materializes the clone
    and ``compact()``/overwrite completes the divorce (no ``file_base``
    left).  The zero-copy caveat is Delta's, documented not hidden:
    ``vacuum`` on the SOURCE can reclaim files a live clone still
    references — vacuum sources only when their clones are
    materialized or disposable.

    ``deep=True`` is SNAPSHOT EXPORT (Delta ``DEEP CLONE``): the live
    file set — data files AND delete-vector parquet, each resolved
    through its current ``file_base`` — is COPIED under ``dst`` at the
    same relative paths (so every per-file manifest entry stays valid
    verbatim) and the committed manifest carries no ``file_base`` at
    all.  The export is a self-contained table on any root, including a
    different lake/filesystem: replication's escape hatch for the
    vacuum-on-source caveat above.  Files are copied BEFORE the commit
    (the manifest link stays the atomicity point — a crash mid-copy
    leaves no committed table, only reclaimable bytes), in a thread
    pool since the work is pure I/O.  This is the ONE deliberately
    byte-moving verb of the clone family — at warehouse scale it is
    DistCp-shaped (cost = snapshot bytes), which is exactly Delta's
    deep-clone economics; everything incremental should use
    ``read_changes`` ∘ ``versioned_apply_changes`` instead."""
    import time

    vs = versions(src)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {src}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    if versions(dst):
        raise ValueError(f"clone target {dst} already has commits")
    m = _read_manifest(src, v)
    src_abs = str(Path(src).resolve())
    file_base = dict(m.get("file_base") or {})  # clone-of-clone: keep
    for f in list(m["files"]) + list(m.get("dv_files") or []):
        file_base.setdefault(f, src_abs)
    manifest = {
        **m,
        "version": 1,
        "mode": (
            f"export:{src_abs}@v{v}" if deep else f"clone:{src_abs}@v{v}"
        ),
        "committed_at": time.time(),
        "file_base": file_base,
    }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    if deep:
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        def _cp(f: str) -> None:
            out = Path(dst) / f
            out.parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(Path(file_base[f]) / f, out)

        live = list(m["files"]) + list(m.get("dv_files") or [])
        with ThreadPoolExecutor(max_workers=16) as ex:
            list(ex.map(_cp, live))  # list() surfaces the first error
        # index sidecars (bloom masks, NDV registers) ride with the
        # files whose entries they hold (the export must probe
        # standalone): copy each referenced sidecar from its file's
        # root — tiny, the bytes manifests used to carry inline
        for pk, sub in (("bloom", "blooms"), ("ndv", "ndv")):
            pl = m.get(pk) or {}
            for name, base in sorted(
                {
                    (pl[f], file_base[f])
                    for f in m["files"]
                    if isinstance(pl.get(f), str)
                }
            ):
                outp = _sidecar_dir(dst, sub) / name
                outp.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(_sidecar_dir(base, sub) / name, outp)
        manifest.pop("file_base")
    _commit(dst, 1, _encode_checkpoint(dst, manifest))
    return 1


def create_branch(path: str, name: str, version: int | None = None) -> str:
    """Writable BRANCH (Iceberg branch semantics via the shallow-clone
    mechanism): a full versioned table under ``<path>/_branches/<name>``
    whose v1 zero-copy-references the parent snapshot.  Branch writes,
    upserts, compactions and tags are ordinary table operations on the
    returned path; the parent never sees them.  Unlike an external
    ``clone_table``, branches are VACUUM-SAFE: the parent's ``vacuum``
    scans its own branches and keeps every parent file a live branch
    manifest still references, so 'dev branch of prod' cannot be
    silently broken by parent retention.  Returns the branch root."""
    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid branch name {name!r}")
    dst = str(Path(path) / "_branches" / name)
    clone_table(path, dst, version=version)
    return dst


def list_branches(path: str) -> dict[str, str]:
    """{branch name: branch table root} for every branch of the table."""
    d = Path(path) / "_branches"
    if not d.is_dir():
        return {}
    return {
        p.name: str(p)
        for p in sorted(d.iterdir())
        if (p / "_manifests").is_dir()
    }


def _branch_base_version(branch_root: str) -> int | None:
    """The parent version a branch forked from, recorded in its v1
    clone-mode string (``clone:<parent>@v{N}``)."""
    vs = versions(branch_root)
    if not vs:
        return None
    mode = str(_read_manifest(branch_root, vs[0]).get("mode") or "")
    if "@v" not in mode:
        return None
    try:
        return int(mode.rsplit("@v", 1)[1])
    except ValueError:
        return None


def _merge_branch_diverged(
    spark: SparkSession,
    path: str,
    broot: str,
    name: str,
    base: int,
    keys: list[str],
    conflict: str,
) -> int:
    """Three-way keyed merge of a DIVERGED branch (``merge_branch``'s
    spark+keys path — see its docstring for the contract).  base =
    fork version; ours = parent head; theirs = branch head.  The apply
    set is the branch's keyed changes since the fork, minus identical
    both-sides changes, with conflicts resolved per policy."""
    from functools import reduce

    from pyspark.sql import functions as F

    from .cdc import table_diff

    if conflict not in ("fail", "ours", "theirs"):
        raise ValueError(
            f"merge_branch: unknown conflict policy {conflict!r} "
            "(expected 'fail', 'ours' or 'theirs')"
        )
    if base not in versions(path):
        raise ValueError(
            f"cannot three-way merge branch {name!r}: fork snapshot "
            f"v{base} of {path} was vacuumed — without the base, "
            "one-sided and both-sided changes are indistinguishable; "
            "reconcile manually with branch_diff + "
            "versioned_apply_changes"
        )
    base_df = read_version(spark, path, base)
    ours = read_version(spark, path)
    theirs = read_version(spark, broot)
    d_theirs = table_diff(base_df, theirs, keys)
    d_ours = table_diff(base_df, ours, keys)
    payload = [c for c in base_df.columns if c not in keys]
    t = d_theirs.select(
        *keys,
        F.col("op").alias("__t_op"),
        *[F.col(c).alias(f"__t_{c}") for c in payload],
    )
    o = d_ours.select(
        *keys,
        F.col("op").alias("__o_op"),
        *[F.col(c).alias(f"__o_{c}") for c in payload],
    )
    both = t.join(o, keys, "inner")
    same_payload = reduce(
        lambda a, b: a & b,
        [
            F.col(f"__t_{c}").eqNullSafe(F.col(f"__o_{c}"))
            for c in payload
        ],
        F.lit(True),
    )
    # two deletes of the same key are the same change whatever payload
    # each side last saw; anything else must match op AND payload
    identical = (F.col("__t_op") == F.col("__o_op")) & (
        same_payload | (F.col("__t_op") == F.lit("D"))
    )
    if conflict == "fail":
        sample = (
            both.filter(~identical).select(*keys).limit(5).collect()
        )
        if sample:
            ks = [tuple(r[k] for k in keys) for r in sample]
            raise ValueError(
                f"merge_branch: branch {name!r} and parent both "
                f"changed key(s) {ks} differently since fork v{base}; "
                "re-run with conflict='ours' or conflict='theirs'"
            )
        drop_keys = both.select(*keys)  # identical-only at this point
    elif conflict == "theirs":
        drop_keys = both.filter(identical).select(*keys)
    else:  # ours: any key the parent touched keeps the parent's change
        drop_keys = o.select(*keys)
    apply_set = d_theirs.join(drop_keys, keys, "left_anti")
    return versioned_apply_changes(apply_set, path, keys)


def merge_branch(
    path: str,
    name: str,
    *,
    spark: SparkSession | None = None,
    keys: list[str] | tuple[str, ...] | None = None,
    conflict: str = "fail",
) -> int:
    """FAST-FORWARD merge of a branch back into its parent (git's
    ``merge --ff-only``, the half of Iceberg branch semantics
    ``create_branch`` was missing): when the parent has NOT advanced
    past the branch's fork point, commit the branch's head state as
    the parent's next version and return it.

    Physical contract: files the branch still reads from the parent
    root stay zero-copy (they already live there); files the branch
    WROTE (its appends/rewrites/DV parquet) are COPIED into the parent
    root under the same relative names — so every per-file manifest
    entry (stats, blooms, buckets, DV counts) carries verbatim and the
    merged parent never depends on the branch directory existing
    (``delete`` the branch after merging is safe).  Cost is exactly
    the bytes the branch changed, the minimum any physical merge can
    move; the parent-carried portion of a 100 TB table costs zero.

    If the parent HAS advanced past the fork point, the default
    refuses (two diverged writable lineages — a fast-forward would
    silently drop the parent's commits).  Passing ``spark`` + ``keys``
    instead performs a one-call THREE-WAY KEYED MERGE (git merge with
    a declared key): diff the fork snapshot against both heads, apply
    the branch's I/U/D changes to the parent, and resolve keys BOTH
    sides changed differently by the ``conflict`` policy —

    - ``"fail"`` (default): raise listing sample conflicting keys
      (nothing committed) — the git stop-and-look discipline;
    - ``"theirs"``: the branch's change wins on conflicts;
    - ``"ours"``: the parent's change wins (the branch's conflicting —
      and only the conflicting — changes are dropped).

    Keys both sides changed IDENTICALLY are never conflicts and never
    re-applied.  The 3-way needs the fork snapshot readable: if vacuum
    dropped manifest v<fork> the merge refuses honestly (without the
    base, "changed on one side" cannot be distinguished from "changed
    on both").  Cost: two keyed diffs (one full-outer join each) + one
    ``versioned_apply_changes`` commit with its usual zone-map file
    confinement — never a table rewrite.  The commit rides the optimistic
    ``_commit_state``, so a parent writer racing the merge leaves
    exactly one winner; the LOSER is by definition diverged (the
    winner advanced the parent past the fork point), so it deletes
    the files it copied — minus any name the winner's commits now
    reference — and raises the same cannot-fast-forward error the
    up-front check gives, leaving zero orphans in the parent root."""
    import shutil
    import time
    from concurrent.futures import ThreadPoolExecutor

    branches = list_branches(path)
    if name not in branches:
        raise ValueError(
            f"no branch {name!r} at {path}; branches: {sorted(branches)}"
        )
    broot = branches[name]
    bvs = versions(broot)
    base = _branch_base_version(broot)
    pvs = versions(path)
    if not pvs:
        raise FileNotFoundError(f"no committed versions at {path}")
    if base is None:
        raise ValueError(
            f"branch {name!r} has no recorded fork point; cannot prove "
            "a fast-forward is safe"
        )
    if pvs[-1] != base:
        if spark is not None and keys:
            return _merge_branch_diverged(
                spark, path, broot, name, base, list(keys), conflict
            )
        raise ValueError(
            f"cannot fast-forward: parent advanced v{base} -> "
            f"v{pvs[-1]} since branch {name!r} forked; pass spark= and "
            "keys= for a one-call three-way merge (conflict="
            "'fail'/'ours'/'theirs'), or reconcile manually with "
            "branch_diff + versioned_apply_changes"
        )
    bh = _read_manifest(broot, bvs[-1])
    parent_abs = str(Path(path).resolve())
    fb = dict(bh.get("file_base") or {})
    live = list(bh["files"]) + list(bh.get("dv_files") or [])
    to_copy = [f for f in live if fb.get(f, broot) != parent_abs]

    def _cp(f: str) -> None:
        out = Path(path) / f
        out.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(Path(fb.get(f, broot)) / f, out)

    with ThreadPoolExecutor(max_workers=16) as ex:
        list(ex.map(_cp, to_copy))  # list() surfaces the first error
    # index sidecars (bloom masks, NDV registers) ride with the files
    # whose entries they hold: any sidecar a copied file references
    # lives under that file's root and must land in the parent's
    # _manifests/<sub> too (the merged parent must probe without the
    # branch directory existing)
    for pk, sub in (("bloom", "blooms"), ("ndv", "ndv")):
        pl = bh.get(pk) or {}
        side_copy = sorted(
            {
                (pl[f], fb.get(f, broot))
                for f in to_copy
                if isinstance(pl.get(f), str)
            }
        )
        for sname, sbase in side_copy:
            outp = _sidecar_dir(path, sub) / sname
            if not outp.exists():
                outp.parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(_sidecar_dir(sbase, sub) / sname, outp)
    # every live file now resolves against the parent root natively:
    # parent-based files were already there, everything else was just
    # copied under its same relative name — no file_base survives
    manifest = {
        **bh,
        "version": pvs[-1] + 1,
        "mode": f"merge_branch:{name}@v{bvs[-1]}",
        "committed_at": time.time(),
    }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    manifest.pop("file_base", None)
    try:
        return _commit_state(path, manifest, _read_manifest(path, pvs[-1]))
    except ConcurrentCommitError as e:
        # Lost the race → the parent advanced past the fork point →
        # this is now a diverged merge and must refuse like the
        # up-front check.  Clean up the files copied above so the
        # refusal leaves no orphans: copied names are branch-write
        # UUIDs no parent manifest referenced before this call, but a
        # concurrent merge of the SAME branch may have won with the
        # same relative names — keep anything a post-fork commit now
        # references.
        new_pvs = versions(path)
        referenced: set[str] = set()
        for v in new_pvs:
            if v <= base:
                continue
            hm = _read_manifest(path, v)
            referenced.update(hm["files"])
            referenced.update(hm.get("dv_files") or [])
        for f in to_copy:
            if f not in referenced:
                (Path(path) / f).unlink(missing_ok=True)
        raise ValueError(
            f"cannot fast-forward: a parent writer committed "
            f"v{new_pvs[-1] if new_pvs else '?'} while merging branch "
            f"{name!r} (forked at v{base}); copied branch files were "
            "cleaned up — reconcile with branch_diff + "
            "versioned_apply_changes"
        ) from e


def branch_diff(
    spark: SparkSession,
    path: str,
    name: str,
    key_cols: list[str] | tuple[str, ...],
) -> DataFrame:
    """The I/U/D change set that would turn the PARENT's head into the
    BRANCH's head (``sinks/cdc.py::table_diff`` keyed comparison) —
    the reconciliation surface for a diverged branch: inspect it, or
    feed it to ``versioned_apply_changes(path, ...)`` to merge by
    key with explicit conflict semantics."""
    from .cdc import table_diff

    branches = list_branches(path)
    if name not in branches:
        raise ValueError(
            f"no branch {name!r} at {path}; branches: {sorted(branches)}"
        )
    return table_diff(
        read_version(spark, path),
        read_version(spark, branches[name]),
        list(key_cols),
    )


def _branch_live_files(path: str) -> set[str]:
    """Parent-relative file names still referenced by ANY version of
    ANY branch (via their file_base mappings back to this root) —
    vacuum keeps these, making branches retention-safe."""
    root = str(Path(path).resolve())
    live: set[str] = set()
    for broot in list_branches(path).values():
        for v in versions(broot):
            m = _read_manifest(broot, v)
            fb = m.get("file_base") or {}
            for f in list(m["files"]) + list(m.get("dv_files") or []):
                if fb.get(f) == root:
                    live.add(f)
    return live


def _refs_dir(path: str) -> Path:
    return Path(path) / "_refs"


def create_tag(path: str, name: str, version: int | None = None) -> int:
    """Iceberg-style TAG: a named, immutable reference to a snapshot
    version, stored as one JSON under ``_refs/``.  Tagged versions are
    RETENTION-PROTECTED: ``vacuum`` keeps their manifests and data
    files regardless of ``keep_last``, so a ``release-2026-08`` tag
    keeps that snapshot readable forever (until ``delete_tag``).
    Creation is write-once (re-tagging a name requires deleting it
    first — tags never silently move, the audit property that makes
    them trustworthy)."""
    import json as _json
    import time

    if not name or "/" in name or name.startswith("."):
        raise ValueError(f"invalid tag name {name!r}")
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    _refs_dir(path).mkdir(parents=True, exist_ok=True)
    ref = _refs_dir(path) / f"{name}.json"
    if ref.exists():
        raise ValueError(f"tag {name!r} already exists (delete it first)")
    tmp = ref.with_suffix(".json.tmp")
    tmp.write_text(_json.dumps({"version": v, "created_at": time.time()}))
    tmp.rename(ref)
    return v


def delete_tag(path: str, name: str) -> None:
    ref = _refs_dir(path) / f"{name}.json"
    if not ref.exists():
        raise ValueError(f"no tag {name!r} at {path}")
    ref.unlink()


def list_tags(path: str) -> dict[str, int]:
    """{tag name: version} for every tag on the table."""
    d = _refs_dir(path)
    if not d.is_dir():
        return {}
    out: dict[str, int] = {}
    for p in sorted(d.glob("*.json")):
        out[p.stem] = json.loads(p.read_text())["version"]
    return out


def read_tag(spark: SparkSession, path: str, name: str) -> DataFrame:
    """Snapshot read AS OF a tag (``VERSION AS OF 'release-x'``)."""
    tags = list_tags(path)
    if name not in tags:
        raise ValueError(f"no tag {name!r} at {path}; tags: {sorted(tags)}")
    return read_version(spark, path, tags[name])


def vacuum(
    path: str,
    keep_last: int = 1,
    retain_hours: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Drop data files referenced by NO retained manifest (the last
    ``keep_last`` versions survive; earlier manifests are removed).
    Returns the deleted file list. The one deliberately destructive
    operation in the module — time travel before the retention horizon
    is gone after this, which is exactly Iceberg/Delta VACUUM.
    ``dry_run=True`` is Delta's ``VACUUM ... DRY RUN``: return exactly
    the data-file list a real run would delete, touching NOTHING — no
    file unlinked, no manifest dropped or re-anchored, no cache entry
    invalidated — so retention policy can be audited before the
    irreversible step.
    ``retain_hours`` is Delta's ``RETAIN N HOURS``: every version
    committed within the horizon is ALSO kept (commit clock, mtime
    fallback for legacy manifests), so time travel over the recent
    window survives an aggressive ``keep_last`` — the union of both
    policies is retained, never the intersection.
    TAGGED versions (``create_tag``) are always retained — manifest and
    files — whatever the policies say.  Files still referenced by a
    BRANCH of this table (``create_branch``) are also kept — branches
    are vacuum-safe; only EXTERNAL shallow clones are not visible here
    and do not protect it (the documented Delta caveat — see
    ``clone_table``)."""
    import time

    vs = versions(path)
    if not vs:
        return []
    keep = set(vs[-keep_last:] if keep_last > 0 else [])
    keep |= set(list_tags(path).values()) & set(vs)
    if retain_hours is not None:
        horizon = time.time() - retain_hours * 3600.0
        for v in vs:
            at = _read_manifest(path, v).get("committed_at")
            if at is None:
                try:
                    at = (_manifest_dir(path) / f"v{v}.json").stat().st_mtime
                except OSError:
                    continue
            if at >= horizon:
                keep.add(v)
    keep = sorted(keep)
    live: set[str] = set()
    for v in keep:
        m = _read_manifest(path, v)
        live.update(m["files"])
        live.update(m.get("dv_files") or [])
        live.update(m.get("cdf_files") or [])
    live |= _branch_live_files(path)
    if dry_run:
        would = []
        for root_name in ("data", "_deletes", "_change_data"):
            data_root = Path(path) / root_name
            if not data_root.is_dir():
                continue
            for p in sorted(data_root.rglob("*.parquet")):
                rel = str(p.relative_to(path))
                if rel not in live:
                    would.append(rel)
        return would
    # Re-anchor retained DELTA manifests whose base commit is being
    # dropped: rewrite them as their resolved full form (ascending, so
    # a kept chain re-anchors once at its earliest survivor and later
    # kept deltas keep chaining).  The one sanctioned in-place manifest
    # rewrite — same logical content, new physical encoding.  This runs
    # BEFORE anything is deleted: an unreadable kept manifest aborts
    # the whole vacuum with zero damage, instead of leaving a retained
    # delta pointing at an unlinked base.
    drop = set(vs) - set(keep)
    for v in keep:
        mp = _manifest_dir(path) / f"v{v}.json"
        raw = json.loads(mp.read_text())  # OSError → abort, nothing deleted
        if raw.get("kind") == "delta" and raw["base"] in drop:
            full = _encode_checkpoint(path, _read_manifest(path, v))
            tmp = mp.with_suffix(".json.reanchor")
            tmp.write_text(json.dumps(full, indent=1, default=dict))
            os.replace(tmp, mp)
            _uncache_version(path, v)
    deleted = []
    for root_name in ("data", "_deletes", "_change_data"):
        data_root = Path(path) / root_name
        if not data_root.is_dir():
            continue
        for p in sorted(data_root.rglob("*.parquet")):
            rel = str(p.relative_to(path))
            if rel not in live:
                p.unlink()
                deleted.append(rel)
        # Sweep the per-write UUID directories that no longer hold any
        # live data file: drop stray markers (_SUCCESS, .crc) and rmdir,
        # so a long-lived table doesn't accumulate empty directories.
        for d in sorted(data_root.iterdir()):
            if not d.is_dir():
                continue
            if any(str(p.relative_to(path)) in live for p in d.rglob("*.parquet")):
                continue
            for leftover in sorted(d.rglob("*"), reverse=True):
                if leftover.is_file():
                    leftover.unlink()
                elif leftover.is_dir():
                    leftover.rmdir()
            d.rmdir()
    for v in vs:
        if v not in keep:
            (_manifest_dir(path) / f"v{v}.json").unlink(missing_ok=True)
    # Sweep checkpoint plane parquets and bloom sidecars that no
    # retained manifest references (dropped checkpoints' planes, masks
    # of fully-vacuumed file sets) — the metadata analog of the data
    # sweep above, so a long-lived table's _manifests/ stays bounded.
    # A bloom ref counts as live when the referencing file resolves to
    # THIS root; branch manifests referencing parent-root files keep
    # the parent's sidecars (the same vacuum-safety as data files),
    # while EXTERNAL shallow clones are invisible here — the documented
    # clone caveat covers their sidecars exactly like their data.
    root = str(Path(path).resolve())
    live_planes: set[str] = set()
    live_sides: dict[str, set[str]] = {"blooms": set(), "ndv": set()}

    def _side_refs(m: dict, default_base: str) -> None:
        fb = m.get("file_base") or {}
        for pk, sub in (("bloom", "blooms"), ("ndv", "ndv")):
            for f, sv in (m.get(pk) or {}).items():
                if isinstance(sv, str) and fb.get(f, default_base) == root:
                    live_sides[sub].add(sv)

    for v in keep:
        try:
            raw = json.loads(
                (_manifest_dir(path) / f"v{v}.json").read_text()
            )
        except OSError:
            continue
        if raw.get("plane_file"):
            live_planes.add(raw["plane_file"])
        _side_refs(_read_manifest(path, v), root)
    for broot in list_branches(path).values():
        for bv in versions(broot):
            _side_refs(_read_manifest(broot, bv), "")
    for d, live_set in (
        (_plane_dir(path), live_planes),
        (_sidecar_dir(path, "blooms"), live_sides["blooms"]),
        (_sidecar_dir(path, "ndv"), live_sides["ndv"]),
    ):
        if d.is_dir():
            for p in sorted(d.iterdir()):
                if (
                    p.is_file()
                    and not p.name.startswith(".")
                    and p.name not in live_set
                ):
                    p.unlink()
    return deleted


def read_as_of(spark: SparkSession, path: str, ts: float) -> DataFrame:
    """Timestamp time travel: the table as of wall-clock ``ts`` (unix
    seconds) — the version that was CURRENT at ``ts``, i.e. the one with
    the greatest ``committed_at`` <= ts (version number breaks clock
    ties), the Iceberg/Delta ``TIMESTAMP AS OF`` contract.  Max-by-time
    rather than max-by-version matters once rollbacks exist: a rollback
    commit restores OLD data at a NEW time, and a probe between the
    original commit and the rollback must keep resolving to what was
    visible then.  Commits written before the ``committed_at`` field
    existed fall back to the manifest file's mtime (the commit IS the
    manifest's creation, so mtime is the commit clock) — upgraded tables
    keep timestamp travel over their pre-existing history.  A ts before
    the first commit raises — an honest 'no snapshot existed then'
    instead of silently serving the oldest."""
    return read_version(spark, path, version_at_or_before(path, ts))


def _commit_time(path: str, v: int) -> float | None:
    """A version's commit wall-clock: the manifest's ``committed_at``
    stamp, manifest-file mtime for legacy commits (the commit IS the
    manifest's creation), None only when both are unreadable."""
    at = _read_manifest(path, v).get("committed_at")
    if at is None:
        try:
            at = (_manifest_dir(path) / f"v{v}.json").stat().st_mtime
        except OSError:
            return None
    return at


def version_at_or_before(path: str, ts: float) -> int:
    """The version CURRENT at wall-clock ``ts`` — greatest
    ``committed_at`` <= ts, version number breaking clock ties (the
    Iceberg/Delta ``TIMESTAMP AS OF`` rule; see
    :func:`read_version_as_of` for why max-by-time, not max-by-version,
    matters under rollbacks).  This is also ``endingTimestamp``'s
    resolution for change feeds.  Raises when no snapshot existed at
    ``ts`` — never silently serves the oldest."""
    best: tuple[float, int] | None = None
    for v in versions(path):
        at = _commit_time(path, v)
        if at is not None and at <= ts and (best is None or (at, v) > best):
            best = (at, v)
    if best is None:
        raise ValueError(f"no snapshot of {path} existed at ts={ts}")
    return best[1]


def version_at_or_after(path: str, ts: float) -> int:
    """``startingTimestamp`` resolution (Delta's rule: "changes at or
    after this time"): the EARLIEST surviving version whose commit
    clock is >= ``ts``.  A ``ts`` past the head commit raises (Delta
    parity — there is nothing at or after it yet); a ``ts`` at or
    before the earliest SURVIVOR of an ever-vacuumed history raises
    the behind-retention error, because vacuumed versions may also
    postdate ``ts`` and their changes are unreconstructable."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    hits = [v for v in vs if (at := _commit_time(path, v)) is not None and at >= ts]
    if not hits:
        raise ValueError(
            f"startingTimestamp {ts} is past the head commit of {path} "
            f"(v{vs[-1]}) — no version was committed at or after it"
        )
    f = min(hits)
    # The resolution is only provable when f's immediate predecessor
    # SURVIVED: commit clocks are monotone, so every vacuumed version
    # below a surviving non-hit (clock < ts) also predates ts — but a
    # version vacuumed DIRECTLY below f (tag+vacuum gap, or the whole
    # pre-vs[0] history) has a clock between the previous survivor's
    # and f's, i.e. possibly >= ts: serving from f would silently omit
    # its changes.  f-1 == 0 means f is the first version ever.
    if f - 1 >= 1 and f - 1 not in vs:
        raise ValueError(
            f"startingTimestamp {ts} cannot be resolved at {path}: "
            f"version {f - 1}, vacuumed, may also have been committed "
            f"at or after it (earliest provable version is v{f}) — "
            "changes behind the retention horizon are "
            "unreconstructable"
        )
    return f


def compact(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    zorder_cols: list[str] | None = None,
    prune_col: str | None = None,
    lo=None,
    hi=None,
    max_file_bytes: int | None = None,
) -> int:
    """OPTIMIZE / bin-packing compaction: rewrite the CURRENT snapshot's
    rows into size-binned parquet files and commit the result as a new
    version (mode ``compact``) with an identical row set.  Streaming
    sinks commit one small file set per micro-batch; periodic compaction
    is how a real table format keeps the file count from eating the
    scan planner.

    The default bin count is derived from the snapshot's TOTAL BYTES
    (manifest-recorded file sizes, filesystem fallback for legacy
    commits): ``ceil(total / target_file_bytes)`` even bins via
    ``repartition`` — a 100 TB table compacts through ~800k parallel
    tasks at the 128 MB default, never through one.  Pass an explicit
    ``target_files`` (e.g. 1) only when you KNOW the table is small and
    want exact file-count control.  History is preserved —
    pre-compaction versions stay readable until ``vacuum`` reclaims
    their files — and the commit goes through the same optimistic
    ``_commit``, so a concurrent writer still gets exactly-one-winner
    semantics.  A partitioned table keeps its layout: rows repartition
    by the partition columns so each output bin writes into few
    partitions instead of every bin touching every partition.

    ``zorder_cols`` turns this into OPTIMIZE ZORDER: the rewrite
    re-clusters along the Morton curve of those columns
    (operators/layout.py), so the recommitted zone maps carry bounded
    per-file spans on EVERY z-column and subsequent pruned reads /
    copy-on-write candidate splits skip files on any of them.

    INCREMENTAL OPTIMIZE (``prune_col``/``lo``/``hi`` and/or
    ``max_file_bytes``) scopes the rewrite the way Delta's ``OPTIMIZE
    ... WHERE`` and its small-file threshold do: only files whose zone
    maps may intersect [lo, hi] on ``prune_col`` — partition-scoped
    when that is a partition column — and/or files SMALLER than
    ``max_file_bytes`` are rewritten; everything else carries verbatim
    (stats, blooms, deletion vectors intact).  This is the only form
    that stays feasible at scale: a 100 TB table is optimized one hot
    partition / small-file backlog at a time, paying O(selected
    bytes), never O(table).  Selecting nothing is a clean no-op (the
    current version returns, no empty commit).  Rewritten files
    materialize their outstanding deletion vectors; carried files keep
    theirs."""
    import math

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    meta = m.get("file_meta", {})

    def _bytes(f: str) -> int:
        b = meta.get(f, {}).get("bytes")
        if b is None:
            try:
                b = Path(_data_path(path, m, f)).stat().st_size
            except OSError:
                b = 0
        return b

    if m.get("cluster_by"):
        # clustered table (cluster_by spec): OPTIMIZE re-clusters by
        # the spec by default — Delta liquid clustering's OPTIMIZE
        # half; an explicit DIFFERENT zorder refuses (it would fight
        # the write-path clustering on the very next append)
        if zorder_cols is not None and list(zorder_cols) != list(
            m["cluster_by"]
        ):
            raise ValueError(
                f"table is clustered by {m['cluster_by']}; OPTIMIZE "
                "ZORDER by different columns would fight the "
                "write-path clustering — change the spec with a "
                "write, or compact without zorder_cols"
            )
        zorder_cols = list(m["cluster_by"])
    selected = list(m["files"])
    if prune_col is not None:
        selected, _ = _candidate_split(m, prune_col, lo, hi)
    if max_file_bytes is not None:
        selected = [f for f in selected if _bytes(f) < max_file_bytes]
    if not selected:
        return vs[-1]  # nothing to optimize — no-op, no empty commit
    chosen = set(selected)
    untouched = [f for f in m["files"] if f not in chosen]
    if target_files is None:
        total = sum(_bytes(f) for f in selected)
        target_files = max(1, math.ceil(total / target_file_bytes))
    df = _read_files(
        spark,
        path,
        selected,
        m,
        keep_row_ids=_row_tracking_on(m),  # OPTIMIZE re-clusters rows;
        # their stable ids materialize into the rewritten files
    )
    pb = m.get("partition_by") or []
    if zorder_cols:
        # OPTIMIZE ZORDER (the Delta verb): re-cluster along the Morton
        # curve of the given columns so the committed zone maps get
        # bounded per-file spans on EVERY z-column — pruned reads and
        # copy-on-write candidate splits then skip most files on any of
        # them, not just a sort leader. One range shuffle + in-partition
        # sort (operators/layout.py); bin count still from total bytes.
        from ..operators.layout import zorder_by

        df = zorder_by(df, list(zorder_cols), num_partitions=target_files)
    elif pb:
        from pyspark.sql import functions as F

        # the hidden bucket column is hidden from reads and re-attached
        # at write time, so it can't steer the pre-write repartition;
        # partitionBy still splits each bin into its buckets on disk
        vis = [c for c in pb if c != _BUCKET_COL]
        df = (
            df.repartition(target_files, *[F.col(c) for c in vis])
            if vis
            else df.repartition(target_files)
        )
    else:
        df = df.repartition(target_files)
    return _write_snapshot(
        df, path, "compact", carry_files=untouched, content_independent=True
    )


def _assign_fresh_row_ids(
    rows: DataFrame, keys: list[str], hw: int
) -> tuple[DataFrame, int]:
    """Fresh stable row ids for inserted keys: contiguous from the
    high-water mark via the range-partition prefix sum (operators/ids)
    — never a ROW_NUMBER funnel — returned as (rows + id column,
    ids consumed).  Callers guarantee the keyed rows are the INSERT
    side of a rewrite (every row draws one id).  The consumed count
    comes out of the numbering's own per-partition count collect
    (with_count) — no separate ``count()`` pass over the insert set."""
    from pyspark.sql import functions as F

    from ..operators.ids import assign_contiguous_ids

    numbered, n = assign_contiguous_ids(
        rows, keys, id_col="__rid_tmp", with_count=True
    )
    if not n:
        return rows.withColumn(_ROWID_COL, F.lit(None).cast("long")), 0
    return (
        numbered.withColumn(
            _ROWID_COL, (F.col("__rid_tmp") + F.lit(hw)).cast("long")
        ).drop("__rid_tmp"),
        n,
    )


def versioned_upsert(
    df: DataFrame,
    path: str,
    key_cols: list[str] | tuple[str, ...],
    prune_col: str | None = None,
    source_version: int | None = None,
) -> int:
    """Copy-on-write MERGE: rows of ``df`` REPLACE current rows with the
    same key (update) or are added (insert); every other row — and every
    FILE the change set provably can't touch — is carried into the new
    snapshot untouched.  The jar-free equivalent of why the reference
    pins Iceberg format-version 2 (reference config/spark_config.py:82,
    row-level ops executed via MERGE INTO at reference
    utils/merge_utils.py:70-82), built on this module's own primitives:

    1. the change set's [min, max] on ``prune_col`` (default: the first
       key column) is computed in one 1-row aggregate;
    2. the manifest zone maps split the current files into
       may-intersect candidates and proven-disjoint files
       (``_candidate_split`` — partition values participate, so a
       partitioned table confines the rewrite to touched partitions);
    3. ONLY the candidates are read; a left-anti join on the key drops
       superseded rows, the change set unions in (add-only schema
       evolution allowed, same rule as append);
    4. the rewrite commits through the optimistic ``_commit`` with the
       disjoint files carried verbatim (stats, sizes and row counts
       reused from the manifest — no I/O on the unchanged portion).

    Cost scales with the INTERSECTING data, not the table: a keyed
    upsert against a key-clustered 100 TB table (range-partitioned
    writes or partition_by) rewrites a handful of files.  Upsert into
    an empty/nonexistent table is the initial commit.  Anti-join ≡
    MERGE equivalence is the same proof as sinks/merge.py:72.  The
    semantics deliberately match ``apply_cdc_batch`` upserts
    (sinks/cdc.py): full-row replacement, last-writer-wins — ``df``
    must carry at most one row per key (enforced: raises on duplicate
    keys, the same constraint real MERGE imposes on its source)."""
    from pyspark.sql import functions as F

    keys = list(key_cols)
    if not keys:
        raise ValueError("versioned_upsert: key_cols must be non-empty")
    vs = versions(path)
    if not vs:
        return _write_snapshot(df, path, "upsert", carry_files=[])
    m = _read_manifest(path, vs[-1])
    pc = prune_col or keys[0]
    # Several downstream ACTIONS re-consume the change set (the stats
    # pass below, bucket confinement, the CDF feed write, the snapshot
    # write) — pin it so the caller's plan computes once, not once per
    # action (guide §5 caching-for-reuse).  Same for the narrow derived
    # key sets pinned further down.  All unpersisted in the finally.
    held: list[DataFrame] = []

    def _pin(d: DataFrame) -> DataFrame:
        p = d.persist()
        held.append(p)
        return p

    try:
        sl = df.storageLevel
        if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
            # pin only when the CALLER hasn't: persist() on an already-
            # persisted frame at a different level raises, and our
            # finally-unpersist would silently evict the caller's cache
            df = _pin(df)
        # ONE pass computes the duplicate-key guard AND the prune range
        # (guide §2.3 "aggregate before you shuffle" / §1.2 fewer
        # passes): previously the guard was its own groupBy job and the
        # range a second full scan of the change set — two jobs whose
        # map sides each read every change row.  The per-key partial
        # aggregation carries (count, min, max) in one shuffle; the
        # 1-row fold also answers "is the change set empty", replacing
        # the isEmpty() job.
        st = (
            df.groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.min(pc).alias("__lo"),
                F.max(pc).alias("__hi"),
            )
            .agg(
                F.max("__n").alias("max_n"),
                F.min("__lo").alias("lo"),
                F.max("__hi").alias("hi"),
                F.count(F.lit(1)).alias("n_keys"),
            )
            .first()
        )
        if st is None or st["n_keys"] == 0:
            return vs[-1]  # empty change set: nothing to commit
        if st["max_n"] > 1:
            # failure path only: re-run the per-key count to NAME one
            # offending key in the error (the happy path never pays it)
            dup = (
                df.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            raise ValueError(
                f"versioned_upsert: change set has multiple rows for "
                f"key {tuple(dup[0][k] for k in keys)}; collapse to one "
                "row per key first (e.g. latest-by-sequence)"
            )
        lo, hi = st["lo"], st["hi"]
        if source_version is not None:
            # point-in-time merge source (see versioned_apply_changes):
            # the change set was computed against an older snapshot —
            # refuse unless every intervening commit is provably disjoint
            _validate_merge_source_version(
                path, vs, source_version, (pc, lo, hi), False,
                verb="versioned_upsert",
            )
        spark = df.sparkSession
        candidates, untouched = _apply_derived_pruning(
            spark, m, pc, lo, hi, *_candidate_split(m, pc, lo, hi)
        )
        candidates, untouched = _bucket_confine(m, df, candidates, untouched)
        df = _materialize_defaults(df, m)  # an omitting change set fills,
        # BEFORE the union would NULL-fill it against the survivors
        cdf = None
        track = _row_tracking_on(m)
        rid_consumed = 0

        def _fresh_ids(rows: DataFrame, hw: int) -> tuple[DataFrame, int]:
            return _assign_fresh_row_ids(rows, keys, hw)

        if candidates:
            cur = _read_files(spark, path, candidates, m, keep_row_ids=track)
            dk = df.select(*keys).distinct()
            if track:
                # an updated key INHERITS the replaced row's id; inserted
                # keys draw fresh ones past the watermark.  The id map is
                # a candidate-file read consumed by the id-assignment
                # count AND the snapshot write — pin it (narrow).
                cur_ids = _pin(
                    cur.select(*keys, _ROWID_COL)
                    .groupBy(*keys)
                    .agg(F.min(_ROWID_COL).alias(_ROWID_COL))
                )
                dfi = df.join(cur_ids, keys, "left")
                ins, rid_consumed = _fresh_ids(
                    dfi.filter(F.col(_ROWID_COL).isNull()).drop(_ROWID_COL),
                    int(m.get("row_id_high_water") or 0),
                )
                df = dfi.filter(F.col(_ROWID_COL).isNotNull()).unionByName(
                    ins, allowMissingColumns=True
                )
            survivors = cur.join(dk, keys, "left_anti")
            out = survivors.unionByName(df, allowMissingColumns=True)
            if _cdf_on(m):
                # MERGE-shaped feed rows (Delta CDF): replaced current
                # rows are update_preimage, their replacements
                # update_postimage, new keys insert — key membership
                # decided over the candidates only (untouched files
                # provably hold no change-range keys, the same zone-map
                # argument as the rewrite).  The candidate key set backs
                # two feed branches — pin it so the candidate files are
                # read once for it, not once per branch/action.
                ck = _pin(cur.select(*keys).distinct())
                feed = (
                    cur.drop(_ROWID_COL, _ROWCV_COL)
                    .join(dk, keys, "left_semi")
                    .withColumn("_change_type", F.lit("update_preimage"))
                    .unionByName(
                        df.drop(_ROWID_COL)
                        .join(ck, keys, "left_semi")
                        .withColumn(
                            "_change_type", F.lit("update_postimage")
                        ),
                        allowMissingColumns=True,
                    )
                    .unionByName(
                        df.drop(_ROWID_COL)
                        .join(ck, keys, "left_anti")
                        .withColumn("_change_type", F.lit("insert")),
                        allowMissingColumns=True,
                    )
                )
                cdf = feed
        else:
            if track:
                df, rid_consumed = _fresh_ids(
                    df, int(m.get("row_id_high_water") or 0)
                )
            out = df
            if _cdf_on(m):
                cdf = df.drop(_ROWID_COL).withColumn(
                    "_change_type", F.lit("insert")
                )
        # the feed FRAME goes down as cdf_feed: its parquet write runs
        # concurrently with the snapshot write inside _write_snapshot
        # (guide §2.6) — one commit, two overlapped jobs
        return _write_snapshot(
            out,
            path,
            "upsert",
            carry_files=untouched,
            read_range=(pc, lo, hi),
            cdf_feed=cdf,
            cdf_cmap=_column_mapping(m),
            row_ids_consumed=rid_consumed,
        )
    finally:
        for p in held:
            p.unpersist()


def versioned_delete(
    spark: SparkSession,
    path: str,
    predicate: str,
    prune_col: str | None = None,
    lo=None,
    hi=None,
    strategy: str = "cow",
    source_version: int | None = None,
) -> int:
    """Row-level DELETE: commit a new snapshot without the rows
    matching ``predicate`` (a SQL boolean expression).  Same
    file-confinement contract as ``versioned_upsert``: when the caller
    supplies a prune range (``prune_col`` + ``lo``/``hi`` bounding
    where matching rows can live), the manifest zone maps carry every
    proven-disjoint file into the new snapshot untouched and only the
    may-intersect files are touched.  Without a range every file is a
    candidate — still correct, just not confined.

    ``strategy`` picks the physical delete, the Delta/Iceberg
    copy-on-write vs merge-on-read choice:

    - ``"cow"`` (default): rewrite the candidate files without the
      matching rows.  Read-optimized — snapshots stay plain parquet.
    - ``"dv"``: DELETION VECTORS — write only a (file, pos) side file
      under ``_deletes/`` addressing the matched rows by scan lineage
      (``_metadata.file_path``/``row_index``) and commit with EVERY
      data file carried verbatim.  Write cost is O(matched rows), not
      O(candidate bytes) — deleting 100 rows from a 100 TB table
      commits in seconds with zero data-file rewrite amplification.
      Readers apply the vectors with one anti-join (broadcast while
      the DV set is small — ``_apply_delete_vectors``); ``compact()``
      or any overwrite materializes them back to plain files, exactly
      Delta's ``REORG TABLE ... APPLY (PURGE)``.

    Both strategies are observationally identical to every reader —
    snapshot, pruned, time-travel, CDF, copy-on-write — differing only
    in where the I/O lands (write-side rewrite vs read-side join).

    SQL DELETE null semantics: rows where the predicate is NULL are
    KEPT (only provably-TRUE rows are removed).

    ``source_version`` declares the snapshot the predicate's decisions
    were computed against and refuses when an intervening commit may
    overlap the prune range — see ``versioned_apply_changes``."""
    from pyspark.sql import functions as F

    if strategy not in ("cow", "dv"):
        raise ValueError(f"versioned_delete: unknown strategy {strategy!r}")
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    if source_version is not None:
        # point-in-time source (see versioned_apply_changes): the
        # predicate's decisions were made against an older snapshot —
        # without a prune range, any intervening row change refuses
        _validate_merge_source_version(
            path,
            vs,
            source_version,
            (prune_col, lo, hi) if prune_col is not None else None,
            False,
            verb="versioned_delete",
        )
    if prune_col is not None:
        candidates, untouched = _apply_derived_pruning(
            spark,
            m,
            prune_col,
            lo,
            hi,
            *_candidate_split(m, prune_col, lo, hi),
        )
    else:
        candidates, untouched = list(m["files"]), []
    if not candidates:
        return vs[-1]  # no file can hold a matching row: nothing to do
    if strategy == "dv":
        return _delete_with_vectors(
            spark,
            path,
            predicate,
            m,
            vs,
            candidates,
            read_range=(
                (prune_col, lo, hi) if prune_col is not None else None
            ),
        )
    cur = _read_files(
        spark, path, candidates, m, keep_row_ids=_row_tracking_on(m)
    )
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    pinned = None
    if _cdf_on(m) and _files_bytes(m, candidates) <= _DELETE_PIN_BYTES:
        # CDF on: the feed (matched rows) and the snapshot (survivors)
        # each scan the candidates.  When the manifest bounds the
        # candidate bytes small, pin the candidate read so the two
        # consumers share ONE underlying scan (guide §5 reuse-only
        # caching; unpersisted below).  Past the threshold the pin
        # would cache O(candidate bytes) — the §5 anti-pattern — so
        # the two scans stay, overlapped by the concurrent feed write.
        pinned = cur.persist()
        cur = pinned
    try:
        survivors = cur.filter(~pred)  # tracked ids materialize with them
        cdf = (
            cur.filter(pred)
            .drop(_ROWID_COL, _ROWCV_COL)
            .withColumn("_change_type", F.lit("delete"))
            if _cdf_on(m)
            else None
        )
        # feed frame rides as cdf_feed: its write overlaps the snapshot
        # write inside _write_snapshot (guide §2.6)
        return _write_snapshot(
            survivors,
            path,
            "delete",
            carry_files=untouched,
            read_range=(
                (prune_col, lo, hi) if prune_col is not None else None
            ),
            cdf_feed=cdf,
            cdf_cmap=_column_mapping(m),
        )
    finally:
        if pinned is not None:
            pinned.unpersist()


def _delete_with_vectors(
    spark: SparkSession,
    path: str,
    predicate: str,
    m: dict,
    vs: list[int],
    candidates: list[str],
    read_range: tuple | None = None,
) -> int:
    """The merge-on-read half of ``versioned_delete``: scan ONLY the
    candidate files with lineage kept (existing vectors already applied,
    so a position can never be recorded twice), write the matched
    (file, pos) pairs as a new DV parquet, and commit a metadata-only
    manifest — same file list, stats and sizes verbatim, row_count
    decremented by the manifest-recorded per-file match counts."""
    import time

    from pyspark.sql import functions as F

    cur = _read_files(spark, path, candidates, m, keep_lineage=True)
    hit = cur.filter(F.coalesce(F.expr(predicate), F.lit(False)))
    # On a CDF table the matched set feeds TWO write actions (the feed
    # and the DV parquet), each of which would otherwise re-scan every
    # candidate file — pin it (O(deleted rows), not O(candidate
    # bytes)) so the candidates are scanned once.  Unpersisted below.
    pinned = hit.persist() if _cdf_on(m) else None
    if pinned is not None:
        hit = pinned
    matched = hit.select(
        F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
    )
    dv_rel = f"_deletes/{uuid.uuid4().hex}"
    cdf_files = None
    try:
        # the feed write and the (file, pos) DV write are independent
        # jobs over the SAME pinned matched set — run them concurrently
        # (guide §2.6): the commit pays max(feed, dv) instead of
        # feed + dv.  try/finally so the pin never outlives the verb
        # even when a write raises.
        cdf_fut = (
            _side_job_pool().submit(
                _write_cdf,
                hit.drop("__dv_file", "__dv_pos").withColumn(
                    "_change_type", F.lit("delete")
                ),
                path,
                _column_mapping(m),
            )
            if _cdf_on(m)
            else None
        )
        matched.write.mode("error").parquet(str(Path(path) / dv_rel))
        if cdf_fut is not None:
            cdf_files = cdf_fut.result()
    finally:
        if pinned is not None:
            pinned.unpersist()
    new_dv_files = sorted(
        str(p.relative_to(path))
        for p in (Path(path) / dv_rel).rglob("*.parquet")
        if p.is_file()
    )
    per_file = (
        spark.read.parquet(str(Path(path) / dv_rel))
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("count"),
            # which DV parquet part(s) hold this file's rows — recorded
            # as dv_covers so later carries can drop vectors whose
            # covered files all left the table (O(matched files) rows,
            # same bound as the count collect)
            F.collect_set(F.col("_metadata.file_name")).alias("dv_parts"),
        )
        .collect()
        if new_dv_files
        else []
    )
    dv_counts = dict(m.get("dv_counts") or {})
    total = 0
    ours: dict[str, int] = {}
    by_part = {Path(d).name: d for d in new_dv_files}
    covers_new: dict[str, set] = {d: set() for d in new_dv_files}
    for r in per_file:
        ours[r["file"]] = ours.get(r["file"], 0) + r["count"]
        dv_counts[r["file"]] = dv_counts.get(r["file"], 0) + r["count"]
        total += r["count"]
        for pn in r["dv_parts"]:
            covers_new[by_part[pn]].add(r["file"])

    def _mk(base: dict) -> dict:
        merged = dict(base.get("dv_counts") or {})
        for f, n in ours.items():
            merged[f] = merged.get(f, 0) + n
        out = {
            **base,
            "version": base["version"] + 1,
            "mode": "delete",
            "committed_at": time.time(),
            "row_count": base["row_count"] - total,
        }
        out.pop("txn_id", None)
        out.pop("cdf_file_meta", None)
        out.pop("cdf_files", None)
        if cdf_files:
            out["cdf_files"] = cdf_files
            out["cdf_file_meta"] = _cdf_file_meta(path, cdf_files)
        if merged:
            out["dv_counts"] = merged
            out["dv_files"] = (base.get("dv_files") or []) + new_dv_files
            cov = {
                **(base.get("dv_covers") or {}),
                **{d: sorted(covers_new[d]) for d in new_dv_files},
            }
            if cov:
                out["dv_covers"] = cov
        return out

    # Same write-serializability rebase as ``_write_snapshot``, for the
    # merge-on-read commit: the (file, pos) vectors address IMMUTABLE
    # rows, so a losing DV delete re-links on the head whenever its
    # candidate files are untouched there (present, DV state unchanged
    # — a winner's new vector could overlap ours and double-count) and
    # the winner's added files are provably outside the read range
    # (pure appends always: serial order delete-then-append).
    _norm = lambda v: json.loads(json.dumps(v, default=dict))  # noqa: E731
    base = m
    for _ in range(_COMMIT_RETRIES):
        try:
            return _commit_state(path, _mk(base), base)
        except ConcurrentCommitError as e:
            head_vs = versions(path)
            head = _read_manifest(path, head_vs[-1])
            for k in (
                "partition_by",
                "bucket_by",
                "bloom_by",
                "ndv_by",
                "cluster_by",
                "generated_columns",
                "column_mapping",
                "dropped_physical",
                "identity_columns",
                "row_tracking",
            ):
                if _norm(head.get(k)) != _norm(base.get(k)):
                    raise ConcurrentCommitError(
                        f"dv delete at {path} lost a commit race and "
                        f"the winner changed the table's {k} spec; "
                        "cannot rebase — re-run against the new head"
                    ) from e
            cand = set(candidates)
            base_dvc = base.get("dv_counts") or {}
            head_dvc = head.get("dv_counts") or {}
            removed = cand - set(head["files"])
            dv_changed = {
                f
                for f in cand
                if head_dvc.get(f, 0) != base_dvc.get(f, 0)
            }
            if conflicted := sorted(removed | dv_changed):
                raise ConcurrentCommitError(
                    f"dv delete at {path} lost a commit race and the "
                    f"winner rewrote or deleted rows in file(s) "
                    f"{conflicted} this delete scanned — overlapping "
                    "rewrites cannot rebase; re-run against the new "
                    "head"
                ) from e
            winner_added = [
                f for f in head["files"] if f not in set(base["files"])
            ]
            pure_append = set(base["files"]) <= set(
                head["files"]
            ) and _norm(head.get("dv_counts")) == _norm(
                base.get("dv_counts")
            )
            if not pure_append and winner_added:
                if read_range is None:
                    raise ConcurrentCommitError(
                        f"dv delete at {path} lost a commit race to a "
                        "row-level rewrite and read the whole table "
                        "(no prune range) — cannot prove the winner's "
                        "added files disjoint; re-run against the new "
                        "head"
                    ) from e
                may, _skip = _candidate_split(
                    {
                        "files": winner_added,
                        "file_stats": head.get("file_stats") or {},
                        "schema": head.get("schema"),
                        "column_mapping": head.get("column_mapping"),
                    },
                    *read_range,
                )
                if may:
                    raise ConcurrentCommitError(
                        f"dv delete at {path} lost a commit race and "
                        f"the winner's added file(s) {may} may hold "
                        "rows inside this delete's read range "
                        f"{read_range!r} — re-run against the new head"
                    ) from e
            base = head
    raise ConcurrentCommitError(
        f"dv delete at {path} lost {_COMMIT_RETRIES} consecutive "
        "commit races; giving up (retry externally)"
    )


def versioned_update(
    spark: SparkSession,
    path: str,
    set_exprs: dict[str, str],
    predicate: str,
    prune_col: str | None = None,
    lo=None,
    hi=None,
    source_version: int | None = None,
) -> int:
    """Row-level UPDATE (Delta/Iceberg ``UPDATE t SET ... WHERE ...``,
    the verb the MERGE/DELETE/apply-changes family was missing): commit
    a new snapshot where rows matching ``predicate`` have each
    ``set_exprs`` column replaced by its SQL expression, every other row
    byte-identical.  Copy-on-write with the same file-confinement
    contract as ``versioned_delete``: given a prune range
    (``prune_col`` + ``lo``/``hi`` bounding where matching rows can
    live), proven-disjoint files are carried into the new snapshot
    verbatim and only may-intersect candidates are read and rewritten.

    SQL UPDATE semantics, all three deliberate:

    - assignments are SIMULTANEOUS over the pre-update row — ``SET a =
      b, b = a`` swaps (every expression sees only original values);
    - a row whose predicate is NULL is KEPT UNCHANGED (only
      provably-TRUE rows update, mirroring DELETE's only-TRUE-removes);
    - each assignment is cast to the column's EXISTING type, so the
      table schema can never drift through an update (ANSI mode makes a
      lossy cast an error, not a silent corruption), and ``set_exprs``
      may only name existing columns — UPDATE never adds one.

    Outstanding delete vectors on candidate files are applied on read
    and materialized by the rewrite (same rule as every other rewrite
    commit); persisted CHECK constraints re-validate the rewritten rows
    pre-commit.  Cost scales with the intersecting files, not the
    table — the same argument as ``versioned_upsert``.
    ``source_version``: point-in-time validation, see
    ``versioned_apply_changes``."""
    from pyspark.sql import functions as F

    if not set_exprs:
        raise ValueError("versioned_update: set_exprs must be non-empty")
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    cols = [f["name"] for f in m["schema"]["fields"]]
    unknown = [c for c in set_exprs if c not in cols]
    if unknown:
        raise ValueError(
            f"versioned_update: SET columns {unknown} not in table "
            f"columns {cols}"
        )
    if source_version is not None:
        # point-in-time source (see versioned_apply_changes)
        _validate_merge_source_version(
            path,
            vs,
            source_version,
            (prune_col, lo, hi) if prune_col is not None else None,
            False,
            verb="versioned_update",
        )
    if prune_col is not None:
        candidates, untouched = _apply_derived_pruning(
            spark,
            m,
            prune_col,
            lo,
            hi,
            *_candidate_split(m, prune_col, lo, hi),
        )
    else:
        candidates, untouched = list(m["files"]), []
    if not candidates:
        return vs[-1]  # no file can hold a matching row: nothing to do
    cur = _read_files(
        spark, path, candidates, m, keep_row_ids=_row_tracking_on(m)
    )
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    out = cur.select(
        *(
            F.when(
                pred, F.expr(set_exprs[c]).cast(cur.schema[c].dataType)
            )
            .otherwise(F.col(c))
            .alias(c)
            if c in set_exprs
            else (
                # a MODIFIED row's last-modified version becomes this
                # commit: clear the carried override so it falls to the
                # rewritten file's stamp; survivors keep theirs
                F.when(pred, F.lit(None).cast("long"))
                .otherwise(F.col(c))
                .alias(c)
                if c == _ROWCV_COL
                else F.col(c)  # incl. the hidden row id: UPDATE keeps it
            )
            for c in cur.columns
        )
    )
    cdf = None
    hit = None
    try:
        if _cdf_on(m):
            # the matched-row set feeds BOTH feed branches (preimage
            # verbatim + postimage with assignments applied) — pin it so
            # the candidate files are scanned once for the feed, not
            # once per branch; it holds only the matched rows, so the
            # cache is O(updated rows), not O(candidate bytes)
            hit = cur.filter(pred).drop(_ROWID_COL, _ROWCV_COL).persist()
            upd = hit.select(
                *(
                    F.expr(set_exprs[c]).cast(cur.schema[c].dataType).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in hit.columns
                )
            )
            cdf = hit.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                upd.withColumn("_change_type", F.lit("update_postimage"))
            )
        # feed frame rides as cdf_feed: its write overlaps the snapshot
        # write inside _write_snapshot (guide §2.6)
        return _write_snapshot(
            out,
            path,
            "update",
            carry_files=untouched,
            read_range=(
                (prune_col, lo, hi) if prune_col is not None else None
            ),
            cdf_feed=cdf,
            cdf_cmap=_column_mapping(m),
        )
    finally:
        if hit is not None:
            hit.unpersist()


def _validate_merge_source_version(
    path: str,
    vs: list[int],
    source_version: int,
    read_range: tuple | None,
    whole_table: bool,
    verb: str = "versioned_apply_changes",
) -> None:
    """Point-in-time merge-source validation (see
    ``versioned_apply_changes``): refuse unless every commit in
    ``(source_version, head]`` is provably disjoint from the batch's
    read — metadata-only commits pass, row-touching commits must have
    all their added/removed/DV-changed files outside ``read_range`` by
    the zone maps.  O(intervening commits) manifest reads, zero data
    files."""
    head_v = vs[-1]
    if source_version not in vs:
        raise ValueError(
            f"{verb}: source_version {source_version} "
            f"not in {vs} — the snapshot the batch read was vacuumed "
            "(or never existed); its decisions cannot be validated"
        )
    missing = [
        g for g in range(source_version + 1, head_v + 1) if g not in vs
    ]
    if missing:
        raise ValueError(
            f"{verb}: version(s) {missing} between "
            f"source_version {source_version} and head {head_v} were "
            "vacuumed — an unverifiable range is a stale range"
        )
    prevm = _read_manifest(path, source_version)
    for v in range(source_version + 1, head_v + 1):
        mv = _read_manifest(path, v)
        pf, nf = set(prevm["files"]), set(mv["files"])
        added = [f for f in mv["files"] if f not in pf]
        removed = [f for f in prevm["files"] if f not in nf]
        pdv = prevm.get("dv_counts") or {}
        ndv = mv.get("dv_counts") or {}
        dv_changed = [
            f for f in nf if ndv.get(f, 0) != pdv.get(f, 0)
        ]
        prev_side, cur_side = prevm, mv
        prevm = mv
        if not (added or removed or dv_changed):
            continue  # metadata-only commit: no row changed
        if whole_table or read_range is None:
            raise ConcurrentCommitError(
                f"{verb}: batch computed against "
                f"v{source_version} but v{v} changed rows and this "
                "verb reads the whole table (by-source clauses / no "
                "prune range) — recompute against the head"
            )
        pc, lo, hi = read_range
        conflicts = []
        for src, fl in (
            (cur_side, added),
            (prev_side, removed + dv_changed),
        ):
            if not fl:
                continue
            may, _ = _candidate_split(
                {
                    "files": fl,
                    "file_stats": src.get("file_stats") or {},
                    "schema": src.get("schema"),
                    "column_mapping": src.get("column_mapping"),
                },
                pc,
                lo,
                hi,
            )
            conflicts.extend(may)
        if conflicts:
            raise ConcurrentCommitError(
                f"{verb}: batch computed against "
                f"v{source_version} is STALE — v{v} touched file(s) "
                f"{sorted(set(conflicts))} that may hold rows inside "
                f"the batch's key range {read_range!r}; recompute the "
                "batch against the head (Iceberg's "
                "validateNoConflictingDataFiles refusal)"
            )


def versioned_apply_changes(
    changes: DataFrame,
    path: str,
    key_cols: list[str] | tuple[str, ...],
    op_col: str = "op",
    seq_col: str | None = None,
    prune_col: str | None = None,
    matched_condition: str | None = None,
    not_matched_condition: str | None = None,
    matched_delete_condition: str | None = None,
    not_matched_by_source_delete: bool | str = False,
    not_matched_by_source_update: dict[str, str] | None = None,
    not_matched_by_source_update_condition: str | None = None,
    allow_schema_evolution: bool = False,
    source_version: int | None = None,
) -> int:
    """Full MERGE with delete clause: apply an I/U/D change batch
    (``sinks/cdc.py::apply_cdc_batch`` schema — the target's columns
    plus ``op_col`` ∈ I/U/D, optional ``seq_col`` ordering) to a
    versioned table as ONE copy-on-write commit.  The verb that makes a
    versioned table a CDC *target*, closing the loop with
    ``read_changes`` (a versioned table as CDC *source*): replicating
    table A into table B is
    ``versioned_apply_changes(read_changes(A, m, n), B, keys)``.

    Same file-confinement contract as ``versioned_upsert``: the change
    batch's key range splits the snapshot through the manifest zone
    maps, only may-intersect files re-run ``apply_cdc_batch``, the rest
    carry verbatim.  Deletes whose keys live in proven-disjoint files
    are therefore no-ops by construction — correct, since a delete
    targets existing rows.  Commits even when the batch changes nothing
    (a new version with the same rows), keeping version numbering
    aligned with batch application.

    ``matched_condition`` / ``not_matched_condition`` /
    ``matched_delete_condition`` are the per-clause predicates of full
    Iceberg/Delta MERGE (``WHEN MATCHED AND <cond> THEN UPDATE/DELETE``,
    ``WHEN NOT MATCHED AND <cond> THEN INSERT``) — SQL expressions over
    the unprefixed key columns plus ``t_<col>`` (current row) /
    ``s_<col>`` (incoming row); see ``sinks/cdc.py::apply_cdc_batch``.
    The reference's unconditional MERGE (utils/merge_utils.py:74-80) is
    the all-``None`` case; file confinement is unchanged — conditions
    only restrict which confined rows act.

    ``not_matched_by_source_delete`` / ``not_matched_by_source_update``
    (+ its condition) complete the merge grammar with Delta's ``WHEN
    NOT MATCHED BY SOURCE`` clauses — the standard sync job "make the
    target's key set equal the source's" is
    ``not_matched_by_source_delete=True``.  These clauses decide the
    fate of EVERY target row, including rows in files the change
    batch's key range provably misses, so file confinement is disabled
    for the commit (the whole snapshot re-runs the merge — the same
    full-table cost Delta pays for a by-source merge); see
    ``sinks/cdc.py::apply_cdc_batch`` for the clause semantics
    (conditions/assignments over unprefixed keys + ``t_<col>``).

    On a ``change_data_feed`` table the commit MATERIALIZES its feed
    rows (insert / update_preimage / update_postimage / delete) —
    emitted by the merge join itself (``with_feed``), so clause-fired
    is what's fed: a conditional update that fires with unchanged
    values still feeds pre+post (Delta rewrites and feeds it too), a
    clause that doesn't fire feeds nothing.  ``read_change_feed`` and
    the streaming ``readChangeFeed`` serve them like any other
    row-level commit.  On a ``row_tracking`` table ids persist through
    the merge: carried rows keep id and commit version, updated rows
    (matched or by-source) keep their id and re-stamp the version,
    inserted keys draw fresh ids past the high-water mark — the same
    contract as ``versioned_upsert``.

    ``source_version`` closes the read-modify-write loop (Iceberg's
    ``validateFromSnapshot`` + ``validateNoConflictingDataFiles``, the
    ``FOR SYSTEM_VERSION AS OF`` merge-source shape): declare the
    snapshot the change batch was COMPUTED against, and the apply
    validates that no intervening commit ``(source_version, head]``
    touched rows the batch's decisions could depend on — any commit
    whose added/removed/DV'd files may intersect the batch's key range
    (head zone maps; everything, for a by-source merge) raises
    ``ConcurrentCommitError`` instead of silently applying stale
    decisions; provably-disjoint intervening commits (appends or
    rewrites outside the range) apply cleanly.  A vacuumed intervening
    version refuses too — an unverifiable range is a stale range."""
    from .cdc import apply_cdc_batch

    keys = list(key_cols)
    if not keys:
        raise ValueError("versioned_apply_changes: key_cols must be non-empty")
    vs = versions(path)
    spark = changes.sparkSession
    from pyspark.sql import functions as F

    clause_kw = dict(
        matched_condition=matched_condition,
        not_matched_condition=not_matched_condition,
        matched_delete_condition=matched_delete_condition,
        not_matched_by_source_delete=not_matched_by_source_delete,
        not_matched_by_source_update=not_matched_by_source_update,
        not_matched_by_source_update_condition=(
            not_matched_by_source_update_condition
        ),
        allow_schema_evolution=allow_schema_evolution,
    )
    has_by_source = bool(not_matched_by_source_delete) or bool(
        not_matched_by_source_update
    )
    if not vs:
        # first commit: every change row is unmatched — route through
        # the same clause logic against an empty target so
        # not_matched_condition gates the initial inserts too
        target0 = changes.drop(
            op_col, *([seq_col] if seq_col else [])
        ).limit(0)
        out = apply_cdc_batch(
            target0, changes, keys, op_col=op_col, seq_col=seq_col, **clause_kw
        )
        return _write_snapshot(out, path, "upsert", carry_files=[])
    m = _read_manifest(path, vs[-1])
    cdf_on = _cdf_on(m)
    track = _row_tracking_on(m)
    # The merge itself classifies every surviving row (carry / update /
    # insert) and, on a feed-enabled table, emits its own Delta-CDF
    # rows — both selected off the single full-outer join, so CDF and
    # row tracking cost no extra shuffle.  Confinement makes the feed
    # exact: untouched files provably hold no change-range keys (the
    # zone-map argument), and by-source merges run unconfined anyway.
    # The feed write, the fresh-id count and the snapshot write all fan
    # out of the ONE merge join — persist shared sub-plans so the
    # candidate read + full-outer join computes once instead of once
    # per consuming action (a by-source merge reads the whole table;
    # 3-4 re-reads would be real money at 100 TB).  Three pins:
    # - the CHANGE BATCH itself (r17): the range/bucket probes and the
    #   merge join each re-run its plan, which for replication slices
    #   and branch merges is a whole feed read or two table diffs —
    #   skipped when the caller already persisted it,
    # - the JOIN itself when the table feeds CDF (the feed's four
    #   branches and the state chain otherwise each re-run it),
    # - the classified state when row tracking needs it twice (id
    #   assignment count + snapshot write).
    # MEMORY_AND_DISK, so a huge rewrite spills instead of failing;
    # all unpersisted post-commit.
    held: list[DataFrame] = []

    def _pin(d: DataFrame) -> DataFrame:
        p = d.persist()
        held.append(p)
        return p

    try:
        sl = changes.storageLevel
        if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
            changes = _pin(changes)
        if has_by_source:
            # by-source clauses touch rows no change-row key points at:
            # zone-map confinement on the batch's key range would leave
            # unmatched rows in carried files un-deleted/un-updated
            candidates, untouched = list(m["files"]), []
            rr = None
        else:
            pc = prune_col or keys[0]
            rng = changes.agg(
                F.min(pc).alias("lo"), F.max(pc).alias("hi")
            ).first()
            candidates, untouched = _bucket_confine(
                m, changes, *_candidate_split(m, pc, rng["lo"], rng["hi"])
            )
            rr = (pc, rng["lo"], rng["hi"])
        if source_version is not None:
            _validate_merge_source_version(
                path, vs, source_version, rr, has_by_source
            )
        cur = _read_files(spark, path, candidates, m, keep_row_ids=track)
        cur_data = cur.drop(_ROWID_COL, _ROWCV_COL) if track else cur
        res = apply_cdc_batch(
            cur_data,
            changes,
            keys,
            op_col=op_col,
            seq_col=seq_col,
            action_col="__act" if track else None,
            with_feed=cdf_on,
            join_hook=_pin if cdf_on else None,
            **clause_kw,
        )
        out, feed = res if cdf_on else (res, None)
        if track:
            out = _pin(out)
        return _apply_changes_commit(
            spark, path, m, keys, cur, out, feed, cdf_on, track,
            untouched, rr, pin=_pin,
        )
    finally:
        for p in held:
            p.unpersist()


def _apply_changes_commit(
    spark: SparkSession,
    path: str,
    m: dict,
    keys: list[str],
    cur: DataFrame,
    out: DataFrame,
    feed: DataFrame | None,
    cdf_on: bool,
    track: bool,
    untouched: list[str],
    rr: tuple | None,
    pin=None,
) -> int:
    """The write half of ``versioned_apply_changes``: materialize the
    feed, carry/deal row ids off the (persisted) merge state, commit.
    ``pin`` (optional) persists shared sub-plans; the caller owns
    unpersist."""
    from pyspark.sql import functions as F

    # the feed's parquet write runs concurrently with the row-id chain
    # and the snapshot write (guide §2.6): submitted HERE so the id
    # chain's eager jobs overlap it, then handed to _write_snapshot as
    # a Future — the feed selects off the pinned merge join, so the
    # overlap shares the pin, never re-runs the join
    cdf_fut = (
        _side_job_pool().submit(_write_cdf, feed, path, _column_mapping(m))
        if cdf_on
        else None
    )
    rid_consumed = 0
    if track:
        # carried rows keep id + commit version (not logically
        # modified); updated rows inherit the replaced row's id but
        # re-stamp their version; inserted keys draw fresh ids past the
        # watermark — exactly versioned_upsert's contract.  The id map
        # is its own candidate-file read consumed by BOTH the id-
        # assignment count and the snapshot write — pin it (narrow:
        # keys + two longs) so the candidate files are read once here.
        cur_ids = (
            cur.select(*keys, _ROWID_COL, _ROWCV_COL)
            .groupBy(*keys)
            .agg(
                F.min(_ROWID_COL).alias(_ROWID_COL),
                F.min(_ROWCV_COL).alias("__cv0"),
            )
        )
        if pin is not None:
            cur_ids = pin(cur_ids)
        outi = (
            out.join(cur_ids, keys, "left")
            .withColumn(
                _ROWCV_COL,
                F.when(F.col("__act") == "carry", F.col("__cv0")).cast(
                    "long"
                ),
            )
            .drop("__cv0", "__act")
        )
        ins, rid_consumed = _assign_fresh_row_ids(
            outi.filter(F.col(_ROWID_COL).isNull()).drop(_ROWID_COL),
            keys,
            int(m.get("row_id_high_water") or 0),
        )
        out = outi.filter(F.col(_ROWID_COL).isNotNull()).unionByName(
            ins, allowMissingColumns=True
        )
    return _write_snapshot(
        out,
        path,
        "upsert",
        carry_files=untouched,
        read_range=rr,
        cdf_feed=cdf_fut,
        row_ids_consumed=rid_consumed,
    )


def rename_column(path: str, old: str, new: str) -> int:
    """Delta column-mapping RENAME (name mode): change a column's
    LOGICAL name in a metadata-only commit — zero data files touched,
    however large the table.  The manifest's ``column_mapping`` records
    the logical→physical indirection: files keep their physical column
    names forever, every reader scans physical and aliases back, the
    stats/bloom planes stay keyed physical, and new files keep writing
    the ORIGINAL physical name so one scan covers pre- and post-rename
    files alike.  Layout specs (partition_by / bucket_by / bloom_by)
    and a generated column's own name follow the rename; a column
    REFERENCED inside a CHECK constraint or generated-column expression
    refuses (the stored SQL text would silently break — Delta refuses
    these too).  Renaming a column back to its physical name drops the
    mapping entry.  Time travel before the rename shows the old name,
    exactly like Delta."""
    import re
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    names = [f["name"] for f in m["schema"]["fields"]]
    if old not in names:
        raise ValueError(
            f"rename_column: no column {old!r} at {path} (have {names})"
        )
    if new in names or new == _BUCKET_COL:
        raise ValueError(f"rename_column: column {new!r} already exists")
    pat = re.compile(rf"\b{re.escape(old)}\b")
    refs = sorted(
        [
            f"constraint {n!r}"
            for n, e in (m.get("constraints") or {}).items()
            if pat.search(e)
        ]
        + [
            f"generated column {n!r}"
            for n, e in (m.get("generated_columns") or {}).items()
            if pat.search(e)
        ]
    )
    if refs:
        raise ValueError(
            f"rename_column: {old!r} is referenced by {refs}; drop and "
            "re-add those definitions around the rename"
        )
    cmap = dict(m.get("column_mapping") or {})
    physical = cmap.pop(old, old)
    if physical != new:
        cmap[new] = physical
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": f"rename-column:{old}->{new}",
        "committed_at": time.time(),
        "schema": {
            **m["schema"],
            "fields": [
                {**f, "name": new} if f["name"] == old else dict(f)
                for f in m["schema"]["fields"]
            ],
        },
    }
    if cmap:
        manifest["column_mapping"] = cmap
    else:
        manifest.pop("column_mapping", None)
    if old in (m.get("partition_by") or []):
        manifest["partition_by"] = [
            new if c == old else c for c in m["partition_by"]
        ]
    bb = m.get("bucket_by")
    if bb and bb[0] == old:
        manifest["bucket_by"] = [new, bb[1]]
    bs = m.get("bloom_by")
    if bs and old in bs["cols"]:
        manifest["bloom_by"] = {
            **bs, "cols": [new if c == old else c for c in bs["cols"]]
        }
    gen = m.get("generated_columns") or {}
    if old in gen:
        manifest["generated_columns"] = {
            (new if k == old else k): v for k, v in gen.items()
        }
    ident = m.get("identity_columns") or {}
    if ident:
        # identity specs follow the rename — both the column itself and
        # any order_by reference (plain column lists, safe to rewrite)
        manifest["identity_columns"] = {
            (new if k == old else k): {
                **sp,
                "order_by": [
                    new if c == old else c for c in sp.get("order_by", [])
                ],
            }
            for k, sp in ident.items()
        }
    cd = m.get("column_defaults") or {}
    if old in cd:  # a column's initial default follows its new name
        manifest["column_defaults"] = {
            (new if k == old else k): v for k, v in cd.items()
        }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


def drop_column(path: str, name: str) -> int:
    """Column-mapping DROP: remove a column from the committed schema
    in a metadata-only commit — data files keep the (now dead) bytes
    until compaction naturally rewrites them, readers simply never
    select the physical column again.  The physical name is TOMBSTONED
    in the manifest: re-adding a column with the same logical name
    later assigns a FRESH physical name, so old files read NULL for it
    instead of resurrecting the dropped values (the hazard Delta/
    Iceberg solve with field-ids).  Refuses while the column backs the
    layout (partition/bucket/bloom) or is referenced by a CHECK
    constraint or another generated column's expression; dropping a
    generated column removes its generation spec with it."""
    import re
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    names = [f["name"] for f in m["schema"]["fields"]]
    if name not in names:
        raise ValueError(
            f"drop_column: no column {name!r} at {path} (have {names})"
        )
    visible = [n for n in names if n != _BUCKET_COL]
    if len(visible) <= 1:
        raise ValueError("drop_column: cannot drop the last column")
    if name in (m.get("partition_by") or []):
        raise ValueError(
            f"drop_column: {name!r} is a partition column; re-layout "
            "via overwrite/evolve_partitioning first"
        )
    bb = m.get("bucket_by")
    if bb and bb[0] == name:
        raise ValueError(f"drop_column: {name!r} backs the bucket layout")
    bs = m.get("bloom_by")
    if bs and name in bs["cols"]:
        raise ValueError(f"drop_column: {name!r} backs a bloom index")
    pat = re.compile(rf"\b{re.escape(name)}\b")
    refs = sorted(
        [
            f"constraint {n!r}"
            for n, e in (m.get("constraints") or {}).items()
            if pat.search(e)
        ]
        + [
            f"generated column {n!r}"
            for n, e in (m.get("generated_columns") or {}).items()
            if n != name and pat.search(e)
        ]
    )
    if refs:
        raise ValueError(
            f"drop_column: {name!r} is referenced by {refs}; drop those "
            "definitions first"
        )
    ident = m.get("identity_columns") or {}
    bad_ident = sorted(
        k
        for k, sp in ident.items()
        if k != name and name in sp.get("order_by", [])
    )
    if bad_ident:
        raise ValueError(
            f"drop_column: {name!r} is an order_by key of identity "
            f"column(s) {bad_ident}; deterministic assignment needs it"
        )
    cmap = dict(m.get("column_mapping") or {})
    physical = cmap.pop(name, name)
    dropped = list(m.get("dropped_physical") or [])
    if physical not in dropped:
        dropped.append(physical)
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": f"drop-column:{name}",
        "committed_at": time.time(),
        "schema": {
            **m["schema"],
            "fields": [
                dict(f) for f in m["schema"]["fields"] if f["name"] != name
            ],
        },
        "dropped_physical": dropped,
    }
    if cmap:
        manifest["column_mapping"] = cmap
    else:
        manifest.pop("column_mapping", None)
    gen = m.get("generated_columns") or {}
    if name in gen:
        g2 = {k: v for k, v in gen.items() if k != name}
        if g2:
            manifest["generated_columns"] = g2
        else:
            manifest.pop("generated_columns", None)
    if name in ident:
        # dropping an identity column retires its spec (and watermark)
        i2 = {k: v for k, v in ident.items() if k != name}
        if i2:
            manifest["identity_columns"] = i2
        else:
            manifest.pop("identity_columns", None)
    cd = m.get("column_defaults") or {}
    if name in cd:  # the default dies with its column
        c2 = {k: v for k, v in cd.items() if k != name}
        if c2:
            manifest["column_defaults"] = c2
        else:
            manifest.pop("column_defaults", None)
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


def add_column(
    path: str,
    name: str,
    type_str: str,
    default=None,
) -> int:
    """``ALTER TABLE ADD COLUMN`` with an optional INITIAL DEFAULT
    (Delta default values / Iceberg initial-default): a metadata-only
    commit — zero data files touched, however large the table — after
    which the column exists in the committed schema.

    Without ``default``, pre-existing rows read NULL (plain schema
    evolution, same as an evolving append).  With ``default``:

    - rows written BEFORE the column existed read the default — decided
      per FILE from the commit-version stamp each file's meta entry
      carries, compared to the default's ``since`` version, so the fill
      is exact, never a blanket coalesce that would swallow genuine
      NULLs;
    - a later write whose frame OMITS the column materializes the
      default into its new files (Delta's INSERT-without-the-column
      rule);
    - a later write that CARRIES the column keeps its values — an
      explicit NULL stays NULL.

    The default value must be a plain JSON-representable literal of the
    column's type (int/float/str/bool) — expressions are the CHECK/
    generated-column machinery's job, not a default's."""
    import time

    from pyspark.sql.types import StructType as _St

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    names = [f["name"] for f in m["schema"]["fields"]]
    if name in names or name == _BUCKET_COL:
        raise ValueError(f"add_column: column {name!r} already exists")
    try:
        # DDL-style type names ("int", "string", "decimal(10,2)") —
        # normalized to the schema-JSON form the manifest speaks
        dt = _St.fromDDL(f"`{name}` {type_str}")[name].dataType
    except Exception as e:
        raise ValueError(
            f"add_column: invalid type {type_str!r} for {name!r}"
        ) from e
    field = {
        "name": name,
        "type": dt.jsonValue(),
        "nullable": True,
        "metadata": {},
    }
    if default is not None and not isinstance(
        default, (int, float, str, bool)
    ):
        raise ValueError(
            f"add_column: default must be a plain literal, got "
            f"{type(default).__name__}"
        )
    version = vs[-1] + 1
    manifest = {
        **m,
        "version": version,
        "mode": f"add-column:{name}",
        "committed_at": time.time(),
        "schema": {
            **m["schema"],
            "fields": [dict(f) for f in m["schema"]["fields"]] + [field],
        },
    }
    if default is not None:
        manifest["column_defaults"] = {
            **(m.get("column_defaults") or {}),
            name: {"value": default, "since": version},
        }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


class CheckConstraintViolation(ValueError):
    """A write contained rows violating a persisted CHECK constraint."""


def add_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> int:
    """Delta-style ``ALTER TABLE ADD CONSTRAINT``: persist a CHECK
    constraint (a SQL boolean expression) in the table's manifest.
    EXISTING data is validated first (one scan, as Delta does) and every
    subsequent write — append, overwrite, upsert, delete, apply-changes,
    streaming commit — re-validates its input rows before any data file
    is written, raising ``CheckConstraintViolation`` on the first
    offending row.  SQL CHECK semantics: a row passes when the
    expression is TRUE or NULL (unknown); only provably-FALSE rows
    violate.  The constraint set rides the manifest like the partition
    spec (carried across commits; the add itself is a metadata-only
    commit, mode ``add-constraint``), so time travel shows when each
    constraint appeared."""
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    _validate_constraints(
        _read_files(spark, path, m["files"], m), {name: expr}, "existing data"
    )
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": f"add-constraint:{name}",
        "committed_at": time.time(),
        "constraints": {**m.get("constraints", {}), name: expr},
    }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


# --- row tracking: stable row identifiers across rewrites ------------
#
# Delta 4.x row tracking, re-expressed on this module's primitives.
# Every row has a STABLE id that survives copy-on-write rewrites:
#
# - files written by APPENDS carry no id bytes at all — the manifest
#   records one ``base_row_id`` per file (file_meta["brid"]) and a
#   row's id is brid + its position in the file, computed at read from
#   the scan's ``_metadata.row_index`` (zero storage, the Delta "fresh
#   rows" optimization);
# - REWRITES (upsert survivors / UPDATE / DELETE survivors / compact)
#   read rows WITH their current ids and materialize them into the
#   rewritten files as the hidden ``__row_id`` column (excluded from
#   the committed schema), so ids ride any re-clustering;
# - upsert: an updated key INHERITS the replaced row's id, inserted
#   keys draw fresh ids from the manifest's ``row_id_high_water``
#   (contiguous range-partition assignment, never a ROW_NUMBER
#   funnel); the watermark only grows, so ids are never reused —
#   rollback keeps the max of both watermarks;
# - the read expression is ONE coalesce: materialized column if the
#   file has it, else brid + row position — no per-file branching.
#
# Ids are engine-assigned identifiers (like Delta's): stable and
# unique per table, meaningful for lineage/incremental consumers, not
# a user-facing sequence.


def _row_tracking_on(m: dict) -> bool:
    return bool(m.get("row_tracking"))


def enable_row_tracking(path: str) -> int:
    """Turn on stable row ids (metadata-only commit): every EXISTING
    file gets a ``base_row_id`` assigned cumulatively in manifest
    order (its rows' ids are base + position — including DV-deleted
    positions, whose ids simply retire with them), and the high-water
    mark starts past them.  O(files) metadata, zero data I/O — the
    Delta ALTER TABLE row-tracking backfill shape."""
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    if _row_tracking_on(m):
        return vs[-1]
    meta = dict(m.get("file_meta") or {})
    fb = m.get("file_base") or {}
    hw = 0
    for f in m["files"]:
        rows = _file_rows(path, f, meta, fb)
        meta[f] = {**(meta.get(f) or {}), "brid": hw}
        hw += rows
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": "enable-row-tracking",
        "committed_at": time.time(),
        "row_tracking": True,
        "row_id_high_water": hw,
        "file_meta": meta,
    }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


def read_version_row_ids(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Snapshot read with each row's STABLE id as ``_row_id`` and its
    LAST-MODIFIED version as ``_row_commit_version`` — the public face
    of row tracking.  Ids survive upsert/update/compact rewrites
    (materialized), updated keys keep the replaced row's id, inserts
    get fresh ones; two snapshots join on ``_row_id`` to track a
    physical row across arbitrary re-clustering — the primitive
    incremental consumers need when business keys are mutable.
    ``_row_commit_version`` is the version that last logically
    modified the row: its file's commit stamp unless a rewrite carried
    the row unmodified (survivors/compaction materialize the OLD
    version; rows modified by the rewrite fall to the new stamp —
    Delta's defaultRowCommitVersion design, exact under rebases).
    Rows of files written before commit stamping read NULL (unknown),
    never a wrong version."""
    from pyspark.sql import functions as F

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise ValueError(f"version {v} not in {vs}")
    m = _read_manifest(path, v)
    if not _row_tracking_on(m):
        raise ValueError(
            f"table at {path} has no row tracking at v{v}; "
            "enable_row_tracking first"
        )
    out = _read_files(spark, path, m["files"], m, keep_row_ids=True)
    return out.withColumnRenamed(_ROWID_COL, "_row_id").withColumnRenamed(
        _ROWCV_COL, "_row_commit_version"
    )


# --- change data feed: materialized per-commit change files ----------
#
# ``read_changes`` (above) diffs two SNAPSHOTS — always correct, but
# O(table) per call (two scans + a full-outer join).  Delta's CDF
# instead materializes each row-level commit's change rows into
# ``_change_data/`` files AT COMMIT TIME, so reading a version range
# costs O(changed rows); appends need no files (their new data files
# ARE the insert rows) and compaction emits nothing (row set
# unchanged).  Same architecture here: ``enable_change_data_feed``
# flips a table property; upsert/delete/update then write their
# insert / update_preimage / update_postimage / delete rows (physical
# column names, like data files) to a ``_change_data/<uuid>/`` dir
# listed in THAT commit's manifest under ``cdf_files`` — a per-commit
# key, never carried (every manifest-spreading verb pops it).
# ``read_change_feed`` serves a range; the streaming source's
# ``readChangeFeed`` option follows it live.  Vacuum keeps the cdf
# files of retained manifests and sweeps the rest.


def _cdf_on(m: dict) -> bool:
    return bool(m.get("change_data_feed"))


def enable_change_data_feed(path: str) -> int:
    """Delta ``TBLPROPERTIES (delta.enableChangeDataFeed = true)``:
    from the NEXT row-level commit on, upsert/delete/update materialize
    their change rows under ``_change_data/`` and ``read_change_feed``
    / the stream's ``readChangeFeed`` serve them at O(changed rows).
    Commits from BEFORE enablement have no change files — feed reads
    across them raise honestly (``read_changes`` still serves any
    range by snapshot diff).  Metadata-only commit."""
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    if _cdf_on(m):
        return vs[-1]
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": "enable-cdf",
        "committed_at": time.time(),
        "change_data_feed": True,
    }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


def disable_change_data_feed(path: str) -> int:
    """Stop materializing change rows (metadata-only commit); already-
    written feed files stay readable for their versions."""
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    if not _cdf_on(m):
        return vs[-1]
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": "disable-cdf",
        "committed_at": time.time(),
    }
    manifest.pop("change_data_feed", None)
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


def _cdf_file_meta(path: str, cdf_files: list[str]) -> dict[str, dict]:
    """Per-change-file sizes, same shape as file_meta's ``bytes``: the
    capped streaming walk (maxBytesPerTrigger) paces change-feed
    batches with these — data-file meta never keys cdf files.  The ONE
    place this shape is built (commit paths and the stream's
    legacy-manifest fallback all share it)."""
    cfm: dict[str, dict] = {}
    for f in cdf_files:
        try:
            cfm[f] = {"bytes": (Path(path) / f).stat().st_size}
        except OSError:
            cfm[f] = {}
    return cfm


def _write_cdf(feed: DataFrame, path: str, cmap: dict) -> list[str]:
    """Materialize one commit's change rows (payload columns +
    ``_change_type``) as parquet under ``_change_data/<uuid>/`` —
    PHYSICAL column names, exactly like data files, so renames stay
    zero-cost — and return the relative file list for the manifest."""
    from pyspark.sql import functions as F

    if cmap:
        feed = feed.select(
            [
                F.col(c).alias(cmap.get(c, c))
                for c in feed.columns
            ]
        )
    rel_dir = f"_change_data/{uuid.uuid4().hex}"
    try:
        feed.write.mode("error").parquet(str(Path(path) / rel_dir))
    except BaseException:
        import shutil

        shutil.rmtree(Path(path) / rel_dir, ignore_errors=True)
        raise
    return sorted(
        str(p.relative_to(path))
        for p in (Path(path) / rel_dir).rglob("*.parquet")
        if p.is_file()
    )


def _abandon_cdf(fut, path: str) -> None:
    """Settle the CDF side job of a commit that failed before joining
    it: cancel it if it has not started, else wait for it and remove
    the ``_change_data/`` directory it wrote.  Its own error is dropped
    — the commit's error is the one the caller re-raises."""
    import shutil

    if fut.cancel():
        return
    try:
        files = fut.result()
    except BaseException:  # noqa: BLE001 — _write_cdf cleans up itself
        return
    for d in {Path(f).parts[:2] for f in files}:
        shutil.rmtree(Path(path).joinpath(*d), ignore_errors=True)


def set_not_null(spark: SparkSession, path: str, column: str) -> int:
    """Delta ``ALTER TABLE ... ALTER COLUMN ... SET NOT NULL`` as
    first-class surface: a thin layer over the CHECK machinery — the
    committed constraint ``not_null_<col>`` is ``<col> IS NOT NULL``,
    which under SQL CHECK semantics can never leak a NULL through (the
    expression is FALSE for NULL, never unknown).  EXISTING data is
    validated first (one probe scan, exactly Delta's rule: you cannot
    declare NOT NULL over data that violates it) and every subsequent
    write path — append, overwrite, upsert, update, apply-changes,
    streaming commit — re-validates before any file lands, raising
    ``CheckConstraintViolation`` on the first NULL.  Dropping or
    renaming the column refuses while the constraint is set (the
    generic referenced-column rule) — ``drop_not_null`` first, then
    re-set under the new name."""
    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    names = [f["name"] for f in m["schema"]["fields"]]
    if column not in names:
        raise ValueError(
            f"set_not_null: no column {column!r} at {path} (have {names})"
        )
    cname = f"not_null_{column}"
    if cname in (m.get("constraints") or {}):
        raise ValueError(f"column {column!r} is already NOT NULL")
    return add_check_constraint(
        spark, path, cname, f"`{column}` IS NOT NULL"
    )


def drop_not_null(path: str, column: str) -> int:
    """Remove a ``set_not_null`` constraint (metadata-only commit)."""
    return drop_check_constraint(path, f"not_null_{column}")


def drop_check_constraint(path: str, name: str) -> int:
    """Remove a persisted CHECK constraint (metadata-only commit)."""
    import time

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    m = _read_manifest(path, vs[-1])
    cons = dict(m.get("constraints", {}))
    if name not in cons:
        raise ValueError(f"no constraint {name!r} on {path}")
    del cons[name]
    manifest = {
        **m,
        "version": vs[-1] + 1,
        "mode": f"drop-constraint:{name}",
        "committed_at": time.time(),
        "constraints": cons,
    }
    manifest.pop("txn_id", None)
    manifest.pop("cdf_files", None)
    manifest.pop("cdf_file_meta", None)
    return _commit_state(path, manifest, m)


def _validate_constraints(
    df: DataFrame, constraints: dict[str, str], what: str
) -> None:
    """Raise CheckConstraintViolation if any row of ``df`` provably
    violates any constraint.  One combined probe scan with an early
    limit(1) per constraint — short-circuits on the first offender."""
    from pyspark.sql import functions as F

    for name, expr in constraints.items():
        bad = df.filter(~F.coalesce(F.expr(expr), F.lit(True))).limit(1)
        row = bad.collect()
        if row:
            raise CheckConstraintViolation(
                f"CHECK constraint {name!r} ({expr}) violated by {what}; "
                f"first offender: {row[0].asDict()}"
            )


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per committed version — (version, mode,
    committed_at, row_count, n_files, total_bytes, txn_id) — read from
    the manifests alone (one JSON read per version, no data I/O), the
    Delta ``DESCRIBE HISTORY`` / Iceberg ``snapshots`` metadata-table
    surface.  ``total_bytes`` sums manifest-recorded file sizes and is
    NULL for pre-r8 commits that didn't record them (no filesystem
    fallback here — history must stay a metadata-only read)."""
    rows = []
    for v in versions(path):
        m = _read_manifest(path, v)
        meta = m.get("file_meta", {})
        sizes = [meta[f].get("bytes") for f in m["files"] if f in meta]
        rows.append(
            (
                v,
                m.get("mode"),
                float(m["committed_at"]) if m.get("committed_at") else None,
                m.get("row_count"),
                len(m["files"]),
                sum(sizes) if len(sizes) == len(m["files"]) else None,
                m.get("txn_id"),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, mode string, committed_at double, row_count bigint, "
        "n_files int, total_bytes bigint, txn_id string",
    )


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    key_cols: list[str] | tuple[str, ...] = (),
    op_col: str = "op",
    *,
    starting_timestamp: float | None = None,
    ending_timestamp: float | None = None,
) -> DataFrame:
    """Change-data-feed reader: the minimal I/U/D change set that
    transforms snapshot ``from_version`` into snapshot ``to_version`` —
    the Delta CDF / Iceberg changelog surface, computed from the two
    manifests' row sets with the same diff algebra as
    ``sinks/cdc.py::table_diff`` (q179).  Columns added by schema
    evolution between the versions appear as NULL on the older side, so
    an evolved append shows as U rows for pre-evolution keys only where
    values actually differ.  Round-trip law (property-tested):
    ``apply_cdc_batch(read_version(M), read_changes(M, N), keys)``
    equals ``read_version(N)`` — so the CDC apply family can consume a
    versioned table as a change SOURCE.

    Column renames between the versions are bridged through PHYSICAL
    identity (column mapping): the feed speaks ``to_version``'s logical
    names, a renamed column's values flow through unchanged (a pure
    rename between M and N emits an EMPTY feed — no rows changed), and
    ``key_cols`` are the NEW names.  Columns dropped by ``to_version``
    leave the feed (Delta CDF also serves the current schema); a
    re-added name compares as a brand-new column (fresh physical
    identity), so pre-drop values never leak into the diff.

    Scale shape: two manifest-listed scans + ONE full-outer join on the
    key; nothing global.  (A delete-vector format could serve file-level
    changes without the join; with copy-on-write commits the row diff
    is the honest contract.)"""
    from pyspark.sql import functions as F

    from .cdc import table_diff

    if not key_cols:
        raise ValueError("read_changes: key_cols must be non-empty")
    # Timestamp twins (snapshot-diff semantics, unlike the feed's
    # at-or-after rule): "what changed between ts1 and ts2" diffs the
    # snapshots CURRENT at each clock — version_at_or_before on both
    # sides, the TIMESTAMP AS OF rule.  Each is mutually exclusive
    # with its version twin.
    if starting_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "read_changes: from_version and starting_timestamp "
                "are mutually exclusive"
            )
        from_version = version_at_or_before(path, starting_timestamp)
    if ending_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "read_changes: to_version and ending_timestamp "
                "are mutually exclusive"
            )
        to_version = version_at_or_before(path, ending_timestamp)
    if from_version is None or to_version is None:
        raise ValueError(
            "read_changes: both ends need a version or a timestamp"
        )
    old = read_version(spark, path, from_version)
    new = read_version(spark, path, to_version)
    m_from = _read_manifest(path, from_version)
    m_to = _read_manifest(path, to_version)
    cf, ct = _column_mapping(m_from), _column_mapping(m_to)
    if cf or ct:
        phys_to_from = {
            cf.get(f["name"], f["name"]): f["name"]
            for f in m_from["schema"]["fields"]
        }
        renames = {}
        for f in m_to["schema"]["fields"]:
            src = phys_to_from.get(ct.get(f["name"], f["name"]))
            if src is not None and src != f["name"]:
                renames[src] = f["name"]
        if renames:
            old = old.withColumnsRenamed(renames)
    # drop_column between the versions: the feed serves to_version's
    # schema, so the vanished column leaves the comparison entirely
    dropped_cols = [c for c in old.columns if c not in new.columns]
    if dropped_cols:
        old = old.drop(*dropped_cols)
    for c in new.columns:
        if c not in old.columns:
            old = old.withColumn(
                c, F.lit(None).cast(new.schema[c].dataType)
            )
    return table_diff(old, new, list(key_cols), op_col=op_col)


def read_change_feed(
    spark: SparkSession,
    path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    *,
    starting_timestamp: float | None = None,
    ending_timestamp: float | None = None,
) -> DataFrame:
    """Delta-CDF-shaped change feed over (from_version, to_version]:
    table columns (the TO version's logical schema) plus
    ``_change_type`` ∈ insert / update_preimage / update_postimage /
    delete and ``_commit_version``.  Served from MATERIALIZED
    per-commit change files (``enable_change_data_feed``), so cost is
    O(changed rows) — never the O(table) snapshot diff
    ``read_changes`` pays (that reader stays available for any range,
    keyed, without feed files):

    - append commits serve their new data files directly as inserts
      (no change files written or needed — Delta's optimization);
    - upsert/delete(cow+dv)/update commits serve their ``cdf_files``;
    - overwrite serves delete-all (the previous snapshot) + insert-all
      (the new one) — O(table), the honest cost of an overwrite;
    - compact and metadata-only commits emit nothing (row set
      unchanged);
    - a row-level commit WITHOUT feed files (committed before
      enablement, or an unsupported verb) raises — a silent gap would
      be worse.

    Columns follow the TO version's logical names through physical
    identity (renames bridge, drops leave, later adds read NULL for
    earlier commits).

    Timestamp bounds (Delta's ``startingTimestamp`` /
    ``endingTimestamp``, unix seconds against each commit's
    ``committed_at`` clock): ``starting_timestamp`` includes every
    commit at-or-after it (:func:`version_at_or_after` — past the head
    raises, behind retention raises); ``ending_timestamp`` resolves to
    the version current at that time (:func:`version_at_or_before`).
    Each is mutually exclusive with its version twin.

    BRANCHES (``create_branch``) are full tables whose v1 is the fork
    clone, so the feed's fork semantics are the plain version algebra
    (pinned in tests/test_versioned.py): ``from_version=1`` serves
    CHANGES SINCE FORK (the branch's own commits only — the same
    change set ``branch_diff`` computes), ``from_version=0`` serves
    the full rebuild (fork snapshot as insert-all, then the branch
    commits), the parent's feed never sees branch commits, and CDF
    enablement is inherited through the fork clone."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType as _LongT
    from pyspark.sql.types import StringType, StructField, StructType

    vs = versions(path)
    if not vs:
        raise FileNotFoundError(f"no committed versions at {path}")
    if starting_timestamp is not None:
        if from_version is not None:
            raise ValueError(
                "read_change_feed: from_version and starting_timestamp "
                "are mutually exclusive"
            )
        from_version = version_at_or_after(path, starting_timestamp) - 1
    elif from_version is None:
        raise ValueError(
            "read_change_feed: one of from_version / "
            "starting_timestamp is required"
        )
    if ending_timestamp is not None:
        if to_version is not None:
            raise ValueError(
                "read_change_feed: to_version and ending_timestamp "
                "are mutually exclusive"
            )
        to_version = version_at_or_before(path, ending_timestamp)
    to_v = vs[-1] if to_version is None else to_version
    if to_v not in vs:
        raise ValueError(f"version {to_v} not in {vs}")
    if from_version >= to_v:
        raise ValueError(
            f"read_change_feed: need from_version < to_version, got "
            f"({from_version}, {to_v})"
        )
    if from_version != 0 and from_version not in vs:
        raise ValueError(
            f"read_change_feed: from_version {from_version} was "
            f"vacuumed (have {vs}); changes before the retention "
            "horizon are unreconstructable"
        )
    # Contiguity: tag+vacuum leaves GAPS mid-history (e.g. vs=[2,5,6]).
    # A vacuumed interior version's changes are just as unreconstructable
    # as a vacuumed from_version — and worse, the overwrite branch below
    # would diff against the wrong prev across the gap — so the feed
    # refuses the whole range rather than silently omitting commits
    # (the same contract as the from_version check above).
    missing = [g for g in range(from_version + 1, to_v + 1) if g not in vs]
    if missing:
        raise ValueError(
            f"read_change_feed: version(s) {missing} inside "
            f"({from_version}, {to_v}] were vacuumed (have {vs}); "
            "their changes are unreconstructable — read a gap-free "
            "sub-range or rebuild from a snapshot diff (read_changes)"
        )
    m_to = _read_manifest(path, to_v)
    ct = _column_mapping(m_to)
    to_t = StructType.fromJson(m_to["schema"])
    out_fields = [
        f for f in to_t.fields if f.name != _BUCKET_COL
    ]

    def _align(df: DataFrame, v: int) -> DataFrame:
        sel = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in out_fields
        ]
        return df.select(
            *sel,
            F.col("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    frames = []
    prev = (
        _read_manifest(path, from_version) if from_version in vs
        else {"files": []}
    )
    for v in [x for x in vs if from_version < x <= to_v]:
        m = _read_manifest(path, v)
        mode = str(m.get("mode", ""))
        same_rows = (
            m["files"] == prev.get("files")
            and (m.get("dv_files") or []) == (prev.get("dv_files") or [])
            and dict(m.get("dv_counts") or {})
            == dict(prev.get("dv_counts") or {})
        )
        cdf = m.get("cdf_files") or []
        if cdf:
            # physical names + _change_type, read under the TO schema's
            # physical types (widened columns upcast like data files)
            phys = StructType(
                [
                    StructField(
                        ct.get(f.name, f.name), f.dataType, True
                    )
                    for f in out_fields
                ]
                + [StructField("_change_type", StringType(), False)]
            )
            df = spark.read.schema(phys).parquet(
                *[str(Path(path) / f) for f in cdf]
            )
            rev = {ct.get(f.name, f.name): f.name for f in out_fields}
            df = df.select(
                [
                    F.col(c).alias(rev.get(c, c)) for c in df.columns
                ]
            )
            frames.append(_align(df, v))
        elif same_rows:
            pass  # metadata-only: no row changed
        elif mode == "append" or v == vs[0]:
            pf = set(prev.get("files") or [])
            new_files = [f for f in m["files"] if f not in pf]
            if new_files:
                df = _read_files(spark, path, new_files, m).withColumn(
                    "_change_type", F.lit("insert")
                )
                frames.append(_align(df, v))
        elif mode == "overwrite":
            old = read_version(spark, path, prev["version"]).withColumn(
                "_change_type", F.lit("delete")
            )
            new = read_version(spark, path, v).withColumn(
                "_change_type", F.lit("insert")
            )
            frames.append(_align(old, v))
            frames.append(_align(new, v))
        elif mode == "compact":
            pass  # row-preserving rewrite: the feed is empty
        else:
            raise ValueError(
                f"read_change_feed: version {v} is a {mode!r} commit "
                "with no materialized change files (committed before "
                "enable_change_data_feed, or an unsupported verb) — "
                "use read_changes(from, to, keys) for the snapshot-"
                "diff fallback"
            )
        prev = m
    if not frames:
        empty = StructType(
            list(out_fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", _LongT(), False),
            ]
        )
        return spark.createDataFrame([], empty)
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), frames)


def last_txn_id(path: str) -> str | None:
    """The app-level transaction id recorded by the most recent commit
    (None when the table is empty or the last commit carried none)."""
    vs = versions(path)
    if not vs:
        return None
    return _read_manifest(path, vs[-1]).get("txn_id")


def versioned_write_txn(
    df: DataFrame,
    path: str,
    txn_id: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
) -> int | None:
    """``versioned_write`` with an application transaction id — the
    Delta ``txn`` / Iceberg snapshot-property mechanism that makes
    at-least-once producers (foreachBatch replays!) exactly-once: the
    txn id is recorded in the committed manifest, and a write whose
    ``txn_id`` equals the LAST commit's id is skipped (returns None) —
    the replayed batch already landed. Only the latest id is checked:
    foreachBatch replays are always of the most recent batch (Spark
    never re-runs batch N after N+1 committed), so a one-deep ledger is
    sufficient and stays O(1). Concurrent-commit losers retry through
    the same check and discover their batch landed."""
    if not isinstance(txn_id, str) or not txn_id:
        # None == None against a ledger-less head manifest would silently
        # SKIP the write — refuse ambiguous ids outright
        raise ValueError("versioned_write_txn: txn_id must be a non-empty string")
    if last_txn_id(path) == txn_id:
        return None
    return _write_snapshot(
        df, path, mode, txn_id=txn_id, partition_by=partition_by
    )
