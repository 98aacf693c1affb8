"""Streaming source over versioned tables (``sinks/versioned.py``) —
the Delta "table as a stream" contract, jar-free.

``spark.readStream.format("versioned_changes").option("path", t)``
follows a versioned table's commit log: each micro-batch covers the
versions committed since the last offset, and its input partitions are
exactly the DATA FILES those commits added — planned driver-side from
the JSON manifests (metadata only), read executor-side with pyarrow.
Nothing is ever collected on the driver; a batch's cost is the new
files' bytes, however large the table is.

Semantics mirror Delta's streaming source: APPEND commits stream their
new rows; a commit that rewrites or logically deletes rows (upsert /
delete / compact / overwrite / DV commit) is refused with an error —
an append-only stream cannot represent it — unless
``skipChangeCommits=true``, which ignores those commits' file changes
and keeps streaming subsequent appends (Delta's ``skipChangeCommits``).
Offsets are plain ``{"version": N}`` dicts checkpointed by the engine;
replaying a (start, end] range re-plans the same manifests and re-reads
the same immutable files, which is the replayability contract
Structured Streaming requires.

Metadata-only commits (add/drop CHECK constraint — any commit whose
data-file list AND delete-vector state are unchanged) are no-ops: they
change what future writes must satisfy, not what rows exist, so the
stream passes over them without raising (and without needing
``skipChangeCommits``).  A checkpointed offset that has fallen behind
the vacuum retention horizon RAISES (Delta's offset-behind-retention
error): the trimmed manifests make the missed changes unreconstructable
and re-emitting the surviving snapshot would silently duplicate every
row the stream already delivered.  A FRESH stream (no checkpoint) on an
ever-vacuumed table instead bootstraps: it has delivered nothing, so
``initialOffset`` serves the earliest surviving snapshot as the initial
load (Delta's initial-snapshot behavior) via a marked offset that
replays batch 0 identically; ``startingVersion='earliest'`` requests
the same bootstrap explicitly.  ``startingTimestamp`` streams every
commit at or after a wall clock (past the head / behind retention
raise); ``endingVersion`` / ``endingTimestamp`` BOUND the stream — the
offset parks at the bound, so ``availableNow`` drains exactly through
it and stops (the backfill shape Delta's batch-only CDF options can't
express).

RATE LIMITING (Delta's ``maxFilesPerTrigger``/``maxBytesPerTrigger``):
with either option set, ``latestOffset`` walks the commit log from the
reader's cursor and stops at the cap, emitting SUB-COMMIT offsets
``{"version": V, "file_index": K}`` (K files of version V's committed
new-file list delivered) — one huge commit, or the initial snapshot,
then drains as a sequence of bounded micro-batches instead of one
table-sized one.  The byte cap is a soft max: every batch admits at
least one file.  Offsets slice the manifest's committed file-list
order, so a restart mid-commit replays the exact same split
(exactly-once).  The cursor is seeded eagerly at reader construction
(the Python DS API calls ``latestOffset`` before ``initialOffset`` and
passes no start offset); on a restarted query whose checkpoint is
ahead of the seed, ``partitions``' offset-order guards discard at most
one empty regressed batch and snap the cursor to the checkpoint — no
duplicate, no loss, at most one wasted trigger — PROVIDED the same
reader instance survives to serve the catch-up batch.  A second
restart (or clean stop) landing exactly on the regressed commit would
resume from a lying checkpoint; the reader therefore PERSISTS the
committed high-water offset via ``commit()`` and seeds fresh
instances AT the boundary — no regressed commits at all, caps hold
across restarts.  ON BY DEFAULT: the Python DS API hides the query's
checkpointLocation, so the floor defaults to a per-query-shape dir
under ``<table>/_stream_offsets/`` (see ``__init__`` for why sharing
one is loss/duplicate-free); ``offsetTrackingLocation`` overrides the
location (one dir per query, like ``checkpointLocation``) and
``offsetTrackingLocation=none`` opts out entirely.  A query whose
CHECKPOINT is behind an inherited floor (a second query with the same
option shape, or a deliberately reset checkpoint) gets the gap as ONE
batch the caps cannot bound — correctness requires the jump (capped
sub-floor ends would let the floor owner's engine log a regressed
offset, the double-restart duplicate window the floor closes), so
``floorJumpPolicy`` governs how loudly: ``warn`` (default) /
``error`` / ``silent``.  ``initialOffsetFromFloor=true`` makes a
FRESH query start AT the floor instead of replaying below it — for
explicit per-query tracking dirs that ARE the query's own delivery
record.  With
``Trigger.AvailableNow`` the engine snapshots ONE end offset per run,
so a capped stream drains exactly one capped batch per availableNow
run (re-run to continue — each run picks up where the checkpoint
left off); use a running ``processingTime`` trigger to drain a whole
backlog under the cap in one query, as Delta's admission-control
integration would.

Partition-column handling matches the batch reader: values are parsed
from the Hive path through the COMMITTED schema (never re-inferred) and
re-attached as constants; the hidden ``__bucket`` layout column stays
hidden.  Row emission is Arrow RecordBatches (file-at-a-time pyarrow
read, cast to the committed schema — zero per-row Python on the fast
path) with a tuple-per-row fallback for exotic types the cast path
can't bridge; the planning path is O(new files) either way.
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..sinks.versioned import (
    _BUCKET_COL,
    _cdf_file_meta,
    _partition_values,
    _read_manifest,
    versions,
)

# commit modes whose file additions are pure appends (the initial commit
# is append-like whatever verb created it: there were no prior rows to
# change)
_APPEND_MODES = ("append",)

# extra output fields of readChangeFeed mode (Delta streaming CDF)
_CDF_FIELDS = [
    {
        "name": "_change_type",
        "type": "string",
        "nullable": True,
        "metadata": {},
    },
    {
        "name": "_commit_version",
        "type": "long",
        "nullable": True,
        "metadata": {},
    },
]


class _FilePartition(InputPartition):
    def __init__(
        self,
        abs_path: str,
        part_values: dict,
        cmap: dict,
        rel_name: str = "",
        dv_paths: tuple[str, ...] = (),
    ):
        self.abs_path = abs_path
        self.part_values = part_values  # keyed by PHYSICAL column name
        self.cmap = cmap  # logical → physical (files carry physical)
        # Initial-snapshot bootstrap only: the earliest surviving
        # manifest may carry DELETION VECTORS for this file — the
        # snapshot batch must serve current table state (Delta
        # initial-snapshot semantics), so the DV parquet paths ride the
        # partition and ``read`` drops the recorded positions before
        # emitting.  ``rel_name`` is the manifest-relative name the DV
        # rows key this file by.
        self.rel_name = rel_name
        self.dv_paths = tuple(dv_paths)


def _visible_fields(schema_json: dict, has_buckets: bool) -> list[dict]:
    return [
        f
        for f in schema_json["fields"]
        if not (has_buckets and f["name"] == _BUCKET_COL)
    ]


class VersionedChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = _resolve_path_option(options)
        if not self.path:
            raise ValueError("versioned_changes: option 'path' is required")
        self.skip_change_commits = (
            str(options.get("skipChangeCommits", "false")).lower() == "true"
        )
        # readChangeFeed (Delta's streaming CDF): row-level commits no
        # longer refuse — their MATERIALIZED change files
        # (enable_change_data_feed) stream as update_preimage /
        # update_postimage / delete rows, appends stream their data
        # files as inserts, and every row carries _change_type +
        # _commit_version.  Contradicts skipChangeCommits (one ignores
        # changes, the other demands them).
        self.read_change_feed = (
            str(options.get("readChangeFeed", "false")).lower() == "true"
        )
        if self.read_change_feed and self.skip_change_commits:
            raise ValueError(
                "versioned_changes: readChangeFeed and skipChangeCommits "
                "are contradictory — one demands row changes, the other "
                "ignores them"
            )
        # Rate limiting (Delta's maxFilesPerTrigger/maxBytesPerTrigger):
        # cap each micro-batch's admitted data files / manifest-recorded
        # bytes.  ``latestOffset`` then returns SUB-COMMIT offsets
        # ``{"version": V, "file_index": K}`` ("K files of version V's
        # deterministic new-file list delivered"), so one huge commit —
        # or the initial snapshot — streams as many bounded batches
        # instead of one table-sized one.  The byte cap is a soft max:
        # every batch admits at least one file (Delta's rule — a single
        # file larger than the cap must still make progress).
        mft = options.get("maxFilesPerTrigger")
        mbt = options.get("maxBytesPerTrigger")
        self._max_files = int(mft) if mft is not None else None
        self._max_bytes = int(mbt) if mbt is not None else None
        if self._max_files is not None and self._max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if self._max_bytes is not None and self._max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        start = options.get("startingVersion", "0")
        st = options.get("startingTimestamp")
        # Timestamp options resolve at construction, but a RESOLUTION
        # FAILURE must not kill a RESTARTED query: the checkpoint, not
        # the option, governs a restart (Delta ignores starting options
        # once one exists), and vacuum can legitimately move the
        # horizon past a timestamp that resolved fine at first start.
        # The reader cannot know fresh-vs-restart here, so failures are
        # DEFERRED: recorded and raised from initialOffset — which the
        # engine only calls on a fresh stream.
        self._init_error: Exception | None = None
        if st is not None:
            # Delta's startingTimestamp: stream every commit at or
            # after this wall clock (resolution + the past-the-head /
            # behind-retention errors live in version_at_or_after).
            # Our start offset means "delivered through", so the first
            # qualifying version minus one is the seed.
            if options.get("startingVersion") is not None:
                raise ValueError(
                    "versioned_changes: startingVersion and "
                    "startingTimestamp are mutually exclusive"
                )
            from ..sinks.versioned import version_at_or_after

            try:
                self.start_version = (
                    version_at_or_after(self.path, float(st)) - 1
                )
            except (ValueError, FileNotFoundError) as e:
                self._init_error = e
                self.start_version = 0  # restart: checkpoint governs
            self.from_earliest = False
        elif str(start).strip().lower() == "earliest":
            # explicit "bootstrap from whatever survives" request
            self.start_version = 0
            self.from_earliest = True
        else:
            self.start_version = int(start)
            self.from_earliest = False
        # endingVersion / endingTimestamp: a BOUNDED stream — the
        # backfill shape ("drain the feed through v42 / through last
        # midnight, then stop").  latestOffset never advances past the
        # bound, so trigger(availableNow) terminates at it and a
        # continuous stream idles there.  Delta's batch CDF has these
        # options; giving them to the stream composes with availableNow
        # to make bounded replication a one-liner.
        ev_opt = options.get("endingVersion")
        et_opt = options.get("endingTimestamp")
        if ev_opt is not None and et_opt is not None:
            raise ValueError(
                "versioned_changes: endingVersion and endingTimestamp "
                "are mutually exclusive"
            )
        if et_opt is not None:
            from ..sinks.versioned import version_at_or_before

            try:
                self.end_version: int | None = version_at_or_before(
                    self.path, float(et_opt)
                )
            except (ValueError, FileNotFoundError) as e:
                # no surviving commit at/before the bound: a restarted
                # drained stream parks (nothing before the earliest
                # survivor may stream); a fresh stream raises below
                self._init_error = self._init_error or e
                vs0 = versions(self.path)
                self.end_version = (vs0[0] - 1) if vs0 else 0
        elif ev_opt is not None:
            self.end_version = int(ev_opt)
            if self.end_version < 1:
                raise ValueError(
                    "versioned_changes: endingVersion must be >= 1"
                )
        else:
            self.end_version = None
        if (
            self.end_version is not None
            and self.end_version <= self.start_version
            and self._init_error is None  # deferred failures park/raise
        ):
            raise ValueError(
                f"versioned_changes: endingVersion "
                f"{self.end_version} does not exceed the starting "
                f"offset v{self.start_version} — nothing to stream"
            )
        # the emitted field list is FIXED at stream start (the declared
        # schema): later schema evolution adds columns new files carry
        # but this stream does not emit — restart the stream to widen,
        # exactly Delta's behavior
        vs = versions(self.path)
        if not vs:
            raise FileNotFoundError(
                f"no committed versions at {self.path}"
            )
        m = _read_manifest(self.path, vs[-1])
        self._fields = _visible_fields(
            m["schema"], bool(m.get("bucket_by"))
        )
        if self.read_change_feed:
            self._fields = list(self._fields) + _CDF_FIELDS
        # column resolution pairs with the FIELD LIST's vintage, not
        # each planned commit's: physical names are stable forever, so
        # the construction-time logical->physical mapping locates every
        # live file's columns — a pre-rename file read under a
        # post-rename reader resolves through the NEW mapping (the old
        # manifest predates it and carries none)
        self._cmap = dict(m.get("column_mapping") or {})
        # Schema tracking (Delta's ``schemaTrackingLocation``): persist
        # the field-list vintage this reader emits under.  A restart
        # after a rename/drop then ADOPTS the new committed schema
        # (physical names are stable, so every live file still
        # resolves), updates the tracked copy, and surfaces a one-time
        # schema-changed marker (file + warning) recording old -> new —
        # the restart half of the mid-stream-evolution contract the
        # module docstring pins.  Without the option, behavior is
        # unchanged (the field list still re-derives from the head at
        # construction; nothing records that it changed).
        track = options.get("schemaTrackingLocation")
        if track:
            self._track_schema(str(track), vs[-1])
        # CURSOR: where the capped ``latestOffset`` walks from.  Seeded
        # EAGERLY with the stream's start offset — the engine calls
        # ``latestOffset`` before ``initialOffset`` on a fresh stream
        # (the Python DS API has no admission-control hook passing the
        # start in), so a lazy cursor would leave batch 0 — the initial
        # snapshot, the batch the cap exists for — unbounded.  On a
        # RESTARTED query the checkpoint may be ahead of this seed; the
        # engine's replay of an in-flight batch corrects it via
        # ``partitions`` before the first capped plan, and the
        # clean-boundary case degrades to at most one EMPTY regressed
        # batch (``partitions`` offset-order guard) before the cursor
        # snaps to the true position — never a duplicate row.
        self._cursor: dict = self._start_offset()
        self._regress_from: dict | None = None
        self._regress_to: dict | None = None
        # offsetTrackingLocation (restart-safe capped offsets): the
        # regression dance above keeps a capped restart exactly-once
        # only while the SAME reader instance survives to serve the
        # catch-up batch — the engine COMMITS the regressed end, so a
        # second restart (or a clean stop) landing on that boundary
        # resumes from a lying checkpoint and re-delivers.  The reader
        # therefore persists the engine's committed high-water offset
        # (``commit``) under a tiny state dir and a fresh instance
        # seeds its cursor AT the floor and never returns an offset
        # below it: no regressed commits, caps hold across restarts,
        # exactly-once without the dance.
        #
        # DEFAULT ON (r15): the Python DataSource API never tells the
        # reader its query's checkpointLocation, so with no explicit
        # option the floor lives under the TABLE at
        # ``<path>/_stream_offsets/<sha256(path + options)[:16]>`` —
        # one dir per query SHAPE.  Two concurrent queries only share a
        # floor when their full option sets match, and sharing is
        # loss/duplicate-free either way: the floor only ever RAISES an
        # end offset (each query's own checkpoint still governs what
        # was delivered), so a query lagging a shared floor merely gets
        # one larger-than-cap batch.  The persisted file is monotone
        # (``commit`` never lowers it) and a floor BEYOND the current
        # head is ignored as stale — the one way a floor can outlive
        # its table is the table being re-created underneath it, and
        # planning past the head would make the engine checkpoint
        # versions that don't exist yet (skipping their future rows).
        # ``offsetTrackingLocation=none`` opts out (in-memory floor
        # only — the pre-r15 documented divergence); an explicit
        # per-query location is strictly sharper.
        self._floor: dict | None = None
        self._track_offsets: Path | None = None
        ol = options.get("offsetTrackingLocation")
        if ol is not None and str(ol).strip().lower() in (
            "none", "off", "false",
        ):
            ol = None
        elif not ol:
            import hashlib as _hashlib
            import json as _json

            ident = _hashlib.sha256(
                _json.dumps(
                    [
                        str(Path(self.path).resolve()),
                        sorted(
                            (str(k).lower(), str(v))
                            for k, v in dict(options).items()
                            # tracking/policy options don't change WHAT
                            # the stream delivers, so they must not
                            # change which floor governs it
                            if str(k).lower()
                            not in (
                                "offsettrackinglocation",
                                "floorjumppolicy",
                                "initialoffsetfromfloor",
                            )
                        ),
                    ]
                ).encode()
            ).hexdigest()[:16]
            ol = str(Path(self.path) / "_stream_offsets" / ident)
        if ol:
            import json as _json

            self._track_offsets = Path(str(ol))
            try:
                floor = _json.loads(
                    (self._track_offsets / "cursor.json").read_text()
                )
            except (OSError, ValueError):
                floor = None
            if not (isinstance(floor, dict) and "version" in floor):
                floor = None  # corrupt/foreign file: ignore, heal below
            if floor is not None and floor.get("version", 0) > vs[-1]:
                # stale incarnation: the head only ever grows, so a
                # floor beyond it can only be a leftover of a table
                # re-created at the same path — drop the file so the
                # dir heals and future commits persist normally
                # (best-effort: a read-only dir just keeps ignoring it)
                floor = None
                try:
                    (self._track_offsets / "cursor.json").unlink(
                        missing_ok=True
                    )
                except OSError:
                    pass
            if (
                floor is not None
                and self.end_version is not None
                and self._okey(floor)
                > self._okey({"version": self.end_version})
            ):
                # a floor persisted by an UNBOUNDED sharer of this
                # (explicit) location may lie past this query's bound —
                # cap it, or the clamp would hand the engine an end
                # offset beyond the declared endingVersion
                floor = {"version": self.end_version}
            if floor is not None:
                self._floor = floor
                if self._okey(floor) > self._okey(self._cursor):
                    self._cursor = dict(floor)
        # The floor's one hazard: a DIFFERENT query with the same
        # option shape (or a deliberately reset checkpoint) inherits a
        # persisted floor that does not reflect ITS deliveries — its
        # first batch then jumps (checkpoint, floor] in ONE batch,
        # ignoring the rate caps.  Returning capped sub-floor ends
        # instead is NOT safe (the true floor owner's engine would
        # durably log a regressed offset — the double-restart duplicate
        # window the floor exists to close), so correctness keeps the
        # jump; ``floorJumpPolicy`` decides how loudly: "warn"
        # (default — planning a cap-exceeding floor jump warns with
        # remediation), "error" (refuse the batch; the user picks a
        # fresh offsetTrackingLocation, =none, or accepts the jump
        # explicitly), "silent".  ``initialOffsetFromFloor=true`` makes
        # a FRESH query (no engine checkpoint) START at the floor
        # instead of replaying from the beginning — correct exactly
        # when the tracking dir is this query's own delivery record
        # (an explicit per-query location, e.g. a drain/replicate
        # cursor beside its checkpoint, which those verbs advance).
        self._floor_seed = dict(self._floor) if self._floor else None
        pol = str(options.get("floorJumpPolicy", "warn")).strip().lower()
        if pol not in ("warn", "error", "silent"):
            raise ValueError(
                "versioned_changes: floorJumpPolicy must be one of "
                f"warn/error/silent, got {pol!r}"
            )
        self._floor_jump_policy = pol
        self._init_from_floor = (
            str(options.get("initialOffsetFromFloor", "false")).lower()
            == "true"
        )

    def _track_schema(self, track_dir: str, head_version: int) -> None:
        """Compare the committed field list against the tracked vintage
        under ``track_dir``; on change, adopt the new one (already in
        ``self._fields``), rewrite the tracked copy, and surface a
        one-time marker file + warning.  First run just records."""
        import json
        import os as _os
        import time
        import uuid as _uuid
        import warnings

        d = Path(track_dir)
        d.mkdir(parents=True, exist_ok=True)
        cur = {"fields": self._fields, "column_mapping": self._cmap}
        p = d / "schema.json"

        def _write(obj: dict) -> None:
            tmp = d / f".tmp-{_uuid.uuid4().hex}"
            tmp.write_text(json.dumps(obj, indent=1))
            _os.replace(tmp, p)

        if not p.exists():
            _write({**cur, "head_version": head_version})
            return
        prev = json.loads(p.read_text())
        if (
            prev.get("fields") == cur["fields"]
            and prev.get("column_mapping") == cur["column_mapping"]
        ):
            return
        marker = d / f"schema_change_at_v{head_version}.json"
        if not marker.exists():
            marker.write_text(
                json.dumps(
                    {
                        "old": {
                            k: prev.get(k)
                            for k in ("fields", "column_mapping", "head_version")
                        },
                        "new": {**cur, "head_version": head_version},
                        "at": time.time(),
                    },
                    indent=1,
                )
            )
        warnings.warn(
            f"versioned_changes: source schema at {self.path} changed "
            f"since the tracked vintage (see {marker}); this restart "
            "emits under the NEW committed schema",
            stacklevel=2,
        )
        _write({**cur, "head_version": head_version})

    @staticmethod
    def _okey(off: dict) -> tuple:
        """Total order over stream offsets: a version is past all its
        partial prefixes (``{"version": v}`` ≡ every file of v
        delivered, so it sorts after ``{"version": v, "file_index": k}``
        for any k)."""
        return (off["version"], off.get("file_index", float("inf")))

    def _start_offset(self) -> dict:
        vs = versions(self.path)
        if (
            vs
            and vs[0] > 1
            and (self.from_earliest or self.start_version == 0)
        ):
            return {"version": vs[0] - 1, "snapshot_start": True}
        return {"version": self.start_version}

    def initialOffset(self) -> dict:
        # A FRESH stream (no checkpoint — the engine only calls
        # initialOffset then) on an ever-vacuumed table has delivered
        # nothing, so serving the earliest surviving snapshot as the
        # initial load duplicates nothing — Delta's initial-snapshot
        # behavior.  The marked offset is checkpointed with batch 0 and
        # replays identically; genuinely checkpointed plain offsets
        # that fell behind retention still raise in ``partitions``.
        if self._init_error is not None:
            # a timestamp option failed to resolve and this IS a fresh
            # stream (restarts never reach here) — the option is live,
            # so the deferred error is the honest answer
            raise self._init_error
        off = self._start_offset()
        if (
            self._init_from_floor
            and self._floor is not None
            and self._okey(self._floor) > self._okey(off)
        ):
            # initialOffsetFromFloor: this fresh query's tracking dir
            # IS its delivery record — start at the boundary instead of
            # replaying everything below it (see __init__)
            return dict(self._floor)
        return off

    def _iter_new_files(self, lo: int, ev: int, vs: list[int]):
        """Walk versions in (lo, ev], yielding (v, manifest, files,
        is_first, kind) for each commit that contributes rows — the
        shared commit-follow logic of ``partitions`` (which builds
        input partitions from the yields) and the capped
        ``latestOffset`` (which only counts files/bytes).  ``kind`` is
        ``"data"`` (files are new DATA files — append rows / the
        bootstrap snapshot) or ``"cdf"`` (files are the commit's
        materialized CHANGE files, readChangeFeed mode).  Metadata-only
        commits are passed over; non-append change commits raise
        unless ``skipChangeCommits`` (ignored) or ``readChangeFeed``
        (streamed from their feed files; raising when a row-level
        commit carries none — a silent gap would be worse).  File
        lists follow the manifest's committed order, so slicing by a
        checkpointed ``file_index`` replays identically."""
        prev: dict | None = None
        any_planned = False
        last_v: int | None = None
        for v in vs:
            if v <= lo or v > ev:
                continue
            if self.read_change_feed:
                # CDF contiguity: each commit's feed files are
                # self-contained, so a vacuumed version in the walk is
                # a SILENT hole in the change stream (unlike the
                # append diff, which accumulates across survivors).
                # Tag+vacuum leaves such gaps mid-history — refuse
                # rather than omit (the batch read_change_feed raises
                # the matching error).
                exp = (last_v if last_v is not None else lo) + 1
                if v != exp:
                    raise ValueError(
                        "versioned_changes: readChangeFeed needs every "
                        f"version in ({lo}, {ev}] but "
                        f"v{exp}..v{v - 1} were vacuumed at "
                        f"{self.path} — their change rows are "
                        "unreconstructable; restart from a fresh "
                        "checkpoint past the gap or rebuild from a "
                        "snapshot diff"
                    )
                last_v = v
            m = _read_manifest(self.path, v)
            if prev is None:
                pm = [pv for pv in vs if pv < v]
                prev = (
                    _read_manifest(self.path, pm[-1]) if pm else {"files": []}
                )
            is_first = v == vs[0]
            pf = set(prev["files"])
            new_files = [f for f in m["files"] if f not in pf]
            removed = [f for f in prev["files"] if f not in set(m["files"])]
            dv_same = (m.get("dv_files") or []) == (
                prev.get("dv_files") or []
            ) and (m.get("dv_counts") or {}) == (prev.get("dv_counts") or {})
            prev = m
            any_planned = True
            if not is_first and not new_files and not removed and dv_same:
                # metadata-only commit (add/drop-constraint, or any
                # verb that touched neither data files nor delete
                # vectors): no rows changed — pass over it instead of
                # stalling the stream
                continue
            is_append = m.get("mode") in _APPEND_MODES or is_first
            if not is_append:
                if self.read_change_feed:
                    if m.get("mode") == "compact":
                        continue  # row-preserving rewrite: empty feed
                    cdf = m.get("cdf_files") or []
                    if not cdf:
                        raise ValueError(
                            f"versioned_changes: version {v} is a "
                            f"{m.get('mode')!r} commit with no "
                            "materialized change files — committed "
                            "before enable_change_data_feed, or an "
                            "unsupported verb; restart from a fresh "
                            "checkpoint past it or use the batch "
                            "read_changes fallback"
                        )
                    yield v, m, cdf, False, "cdf"
                    continue
                if not self.skip_change_commits:
                    raise ValueError(
                        f"versioned_changes: version {v} is a "
                        f"{m.get('mode')!r} commit — an append-only "
                        "stream cannot represent row changes; set "
                        "skipChangeCommits=true to ignore them, or "
                        "readChangeFeed=true to stream their "
                        "materialized change rows (Delta's contract)"
                    )
                continue
            yield v, m, new_files, is_first, "data"
        if not any_planned and ev > lo:
            # range referenced versions that no longer exist (vacuumed):
            # honest error beats silently streaming nothing
            raise ValueError(
                f"versioned_changes: no manifests in "
                f"({lo}, {ev}] at {self.path}"
            )

    def _cap_hit(self, files: int, nbytes: int) -> bool:
        return bool(
            (self._max_files is not None and files >= self._max_files)
            or (self._max_bytes is not None and nbytes >= self._max_bytes)
        )

    def latestOffset(self) -> dict:
        off = self._latest_offset()
        if self._floor is not None and self._okey(off) < self._okey(
            self._floor
        ):
            # never hand the engine an offset below a committed
            # boundary we know about — a regressed commit is a lying
            # checkpoint (see offsetTrackingLocation in __init__)
            return dict(self._floor)
        return off

    def _latest_offset(self) -> dict:
        vs = versions(self.path)
        if self.end_version is not None:
            # bounded stream: commits past the bound are invisible —
            # the offset parks at the bound and availableNow terminates
            vs = [v for v in vs if v <= self.end_version]
        if not vs:
            return {"version": self.start_version}
        head = {"version": vs[-1]}
        if self._max_files is None and self._max_bytes is None:
            return head
        cur = self._cursor
        sv = cur["version"]
        s_idx = cur.get("file_index")
        if sv >= vs[-1] and s_idx is None:
            return head  # caught up
        lo = sv - 1 if s_idx is not None else sv
        if lo < vs[0] - 1 and not cur.get("snapshot_start"):
            # cursor fell behind retention: let partitions raise the
            # honest behind-retention error on the engine's next plan
            return head
        if (
            s_idx is not None
            and sv > 1
            and sv - 1 not in vs
            and not cur.get("snapshot_start")
            and not (
                self.read_change_feed
                and sv in vs
                and sv != vs[0]
                and (_read_manifest(self.path, sv).get("cdf_files"))
            )
        ):
            # Partial cursor whose DIFF BASE manifest (sv-1) was
            # vacuumed: sv surviving is not enough — file_index indexes
            # the new-file list diffed against sv-1, and any other base
            # misaligns the slice (a CDF slice is exempt: it indexes the
            # commit's own self-contained cdf_files list — see
            # partitions' guard).  Return head and let partitions raise
            # the honest error.
            return head
        files = 0
        nbytes = 0
        mark = dict(cur)
        snap = bool(cur.get("snapshot_start"))
        for v, m, new_files, _is_first, _kind in self._iter_new_files(
            lo, vs[-1], vs
        ):
            if _kind == "cdf":
                # change files have their own size plane (file_meta only
                # keys DATA files — a cdf lookup there would read 0 and
                # void byte pacing); legacy manifests without it get one
                # stat per file, the same cost the commit now pays
                meta = m.get("cdf_file_meta")
                if meta is None:
                    meta = _cdf_file_meta(self.path, new_files)
            else:
                meta = m.get("file_meta") or {}
            skip = s_idx if (s_idx is not None and v == sv) else 0
            for i in range(skip, len(new_files)):
                if files and self._cap_hit(files, nbytes):
                    self._cursor = mark
                    return mark
                files += 1
                nbytes += (meta.get(new_files[i], {}) or {}).get(
                    "bytes", 0
                ) or 0
                if i + 1 < len(new_files):
                    mark = {"version": v, "file_index": i + 1}
                    if snap and v == vs[0]:
                        # Partial mark INSIDE the bootstrap snapshot
                        # version: its file_index slices the FULL
                        # surviving file list (prev is empty by
                        # design), not a diff against v-1 — tag it so
                        # the diff-base-vacuumed guard knows the slice
                        # base is the snapshot and stays replayable.
                        mark["snapshot_start"] = True
                else:
                    mark = {"version": v}
            mark = {"version": v}
        self._cursor = head
        return head

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        out: list[_FilePartition] = []
        vs = versions(self.path)
        if self._floor is None or self._okey(start) > self._okey(
            self._floor
        ):
            # the engine's start IS a committed boundary — raise the
            # in-memory floor even without offsetTrackingLocation
            self._floor = dict(start)
        # floor-jump detection (see __init__): the engine's checkpoint
        # start is BELOW the floor this reader inherited from disk, so
        # this one batch spans the whole gap and the rate caps cannot
        # bound it — measure it and apply floorJumpPolicy below
        jump = (
            self._floor_seed is not None
            and (self._max_files is not None or self._max_bytes is not None)
            and self._okey(start) < self._okey(self._floor_seed)
            and self._okey(end) >= self._okey(self._floor_seed)
        )
        planned_bytes = 0
        # Offset-order guards for the capped reader's restart dance
        # (see __init__): the eager cursor seed can trail a restarted
        # query's checkpoint, making the first capped end REGRESS
        # behind the engine's start — plan nothing (those rows were
        # delivered before the restart), snap the cursor to the start,
        # and REMEMBER the regressed end: the engine commits it as the
        # batch boundary, so the NEXT batch arrives with exactly that
        # stale start and must resume from the true position instead
        # (its prefix was delivered pre-restart).  The mapping is
        # exact — recorded only by an observed regression and consumed
        # by the one batch that starts at it — so genuinely-behind
        # checkpoints still reach the retention error below, and
        # replays/steady-state batches take the plain path untouched.
        if self._okey(end) <= self._okey(start):
            if self._okey(self._cursor) < self._okey(start):
                self._cursor = dict(start)
                self._regress_from = dict(end)
                self._regress_to = dict(start)
            return []
        if self._regress_from is not None and start == self._regress_from:
            start = self._regress_to
            self._regress_from = self._regress_to = None
        if self._okey(self._cursor) < self._okey(end):
            self._cursor = dict(end)  # every planned batch advances it
        sv = start["version"]
        s_idx = start.get("file_index")
        ev = end["version"]
        e_idx = end.get("file_index")
        if vs and ev > sv:
            # Offset behind the vacuum retention horizon: version
            # numbering starts at 1, so an offset sv needs manifest sv
            # (its diff base) unless sv==0 streams the never-vacuumed
            # full history.  When that base is gone the missed changes
            # are unreconstructable — treating the earliest survivor as
            # a pure append would silently re-emit the whole snapshot
            # as duplicates, so RAISE instead (Delta's
            # offset-behind-retention contract).
            # A snapshot-start offset (fresh stream bootstrapping an
            # ever-vacuumed table, produced by ``initialOffset``) is
            # valid exactly while it still points one below the
            # earliest survivor: the first version then plans against
            # an empty prev and emits the full surviving snapshot.  If
            # vacuum moved the horizon past it (between checkpoint and
            # replay), replay could no longer reproduce batch 0, so it
            # degrades to the same behind-retention error.
            snapshot_ok = start.get("snapshot_start") and sv == vs[0] - 1
            if not snapshot_ok and (
                (0 < sv < vs[0]) or (sv == 0 and vs[0] > 1)
            ):
                raise ValueError(
                    f"versioned_changes: checkpointed offset version "
                    f"{sv} predates the earliest surviving manifest "
                    f"v{vs[0]} at {self.path} — the intervening commits "
                    "were vacuumed and cannot be replayed; restart the "
                    "stream from a fresh checkpoint (rows before the "
                    "retention horizon must be reprocessed explicitly)"
                )
            if (
                sv > vs[0]
                and sv not in vs
                and not self.read_change_feed
            ):
                # Offset inside a tag+vacuum INTERIOR gap (vacuum keeps
                # tagged versions, so gaps happen mid-history): the
                # append walk would diff the next survivor against a
                # survivor BELOW the offset, re-delivering files
                # committed at or before it — duplicates.  Same honest
                # refusal as the behind-retention case.  (readChangeFeed
                # mode raises its own contiguity error in the walk.)
                raise ValueError(
                    f"versioned_changes: checkpointed offset version "
                    f"{sv} references a vacuumed manifest (have {vs}) "
                    f"at {self.path} — the delivered prefix cannot be "
                    "diffed against a surviving base without "
                    "re-emitting rows; restart the stream from a "
                    "fresh checkpoint"
                )
        # A PARTIAL start offset ({"version": V, "file_index": K}, laid
        # down by a capped latestOffset) means K files of V's new-file
        # list were already delivered — planning resumes INSIDE V, so
        # the walk opens one version earlier and the first yield is
        # sliced.  A partial END offset truncates the last yield the
        # same way.  Both slices index the manifest's committed
        # file-list order, so a restart mid-commit replays the exact
        # same file split (the checkpoint-restart contract).
        #
        # That contract needs the slice BASE to replay too: file_index
        # indexes V's new-file list AS DIFFED AGAINST MANIFEST V-1.  If
        # vacuum removed V-1 (V surviving is not enough — vacuum keeps
        # tagged versions, so gaps happen mid-history, and the
        # behind-retention guard above only catches sv < vs[0]), the
        # replay would diff V against an older survivor — or against
        # EMPTY when V is the earliest — yielding a LONGER list whose
        # K-th element is not the K-th element originally delivered:
        # already-delivered files re-emit, breaking exactly-once.  The
        # one sanctioned empty-prev slice is the bootstrap snapshot
        # (tagged ``snapshot_start`` by the capped walk): there the
        # full surviving file list IS the delivered list, and it
        # replays identically while vs[0] is unchanged (the guard
        # above catches vs[0] moving).  Anything else raises the same
        # honest behind-retention error.
        for off, role in ((start, "start"), (end, "end")):
            o_idx = off.get("file_index")
            ov = off["version"]
            if (
                vs
                and o_idx is not None
                and ov > 1
                and ov - 1 not in vs
                and not (off.get("snapshot_start") and ov == vs[0])
                # a CDF-mode slice indexes the commit's OWN cdf_files
                # list (self-contained in its manifest) — no diff base
                # needed, so a vacuumed V-1 is harmless for it
                and not (
                    self.read_change_feed
                    and ov in vs
                    and ov != vs[0]  # the earliest survivor replans as
                    # a bootstrap SNAPSHOT, not a cdf slice
                    and (_read_manifest(self.path, ov).get("cdf_files"))
                )
            ):
                raise ValueError(
                    f"versioned_changes: checkpointed partial {role} "
                    f"offset v{ov}+{o_idx} at {self.path} needs "
                    f"manifest v{ov - 1} as its diff base, but that "
                    "version was vacuumed — the delivered file split "
                    "cannot be replayed; restart the stream from a "
                    "fresh checkpoint (rows before the retention "
                    "horizon must be reprocessed explicitly)"
                )
        lo = sv - 1 if s_idx is not None else sv
        for v, m, new_files, is_first, kind in self._iter_new_files(
            lo, ev, vs
        ):
            indexed = list(enumerate(new_files))
            if s_idx is not None and v == sv:
                indexed = indexed[s_idx:]
            if e_idx is not None and v == ev:
                indexed = [p for p in indexed if p[0] < e_idx]
            if not indexed:
                continue
            if jump:
                meta = (
                    m.get("cdf_file_meta")
                    if kind == "cdf"
                    else m.get("file_meta")
                ) or {}
                planned_bytes += sum(
                    (meta.get(f, {}) or {}).get("bytes", 0) or 0
                    for _i, f in indexed
                )
            if kind == "cdf":
                # materialized change files: no hive partition values,
                # no DV interplay; _change_type rides IN the parquet,
                # _commit_version rides as a constant (readChangeFeed
                # guarantees the extra fields are in self._fields)
                for _i, f in indexed:
                    out.append(
                        _FilePartition(
                            str(Path(self.path) / f),
                            {"_commit_version": v},
                            m.get("column_mapping") or {},
                            rel_name=f,
                        )
                    )
                continue
            fb = m.get("file_base") or {}
            cmap = m.get("column_mapping") or {}
            # The bootstrap's first version serves a SNAPSHOT, not an
            # append: when the earliest surviving manifest carries
            # deletion vectors (a DV delete happened before the vacuum
            # that trimmed the history), the raw data files still hold
            # the deleted rows — ship each DV'd file's vector paths so
            # ``read`` filters them and the batch matches
            # ``read_version`` exactly (Delta initial-snapshot
            # semantics).  Non-first versions are true appends whose
            # new files can carry no vectors.
            dv_counts = (m.get("dv_counts") or {}) if is_first else {}
            dv_paths = tuple(
                str(Path(fb.get(d, self.path)) / d)
                for d in (m.get("dv_files") or [])
            ) if dv_counts else ()
            cdf_consts = (
                {"_change_type": "insert", "_commit_version": v}
                if self.read_change_feed
                else {}
            )
            for _i, f in indexed:
                out.append(
                    _FilePartition(
                        str(Path(fb.get(f, self.path)) / f),
                        {
                            **{
                                cmap.get(n, n): pv
                                for n, pv in _partition_values(
                                    f, m["schema"], cmap
                                ).items()
                            },
                            **cdf_consts,
                        },
                        cmap,
                        rel_name=f,
                        dv_paths=dv_paths if f in dv_counts else (),
                    )
                )
        if jump and self._floor_jump_policy != "silent":
            exceeds = (
                self._max_files is not None and len(out) > self._max_files
            ) or (
                self._max_bytes is not None
                and planned_bytes > self._max_bytes
                and len(out) > 1
            )
            if exceeds:
                msg = (
                    f"versioned_changes: this query's checkpoint "
                    f"(offset {start}) is BEHIND the persisted offset "
                    f"floor {self._floor_seed} at "
                    f"{self._track_offsets or '<in-memory>'} — the "
                    f"floor was inherited from another query with the "
                    f"same option shape (or a reset checkpoint), so "
                    f"this ONE batch spans the whole gap: {len(out)} "
                    f"files / ~{planned_bytes} bytes, exceeding "
                    f"maxFilesPerTrigger={self._max_files} / "
                    f"maxBytesPerTrigger={self._max_bytes}.  Give this "
                    f"query its own offsetTrackingLocation (or =none) "
                    f"to stream the backlog under the caps, or set "
                    f"floorJumpPolicy=silent to accept unbounded "
                    f"catch-up batches"
                )
                if self._floor_jump_policy == "error":
                    raise ValueError(msg)
                import warnings

                warnings.warn(msg, stacklevel=2)
        return out

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = self._fields
        table = pq.read_table(partition.abs_path)
        if partition.dv_paths:
            # initial-snapshot bootstrap with outstanding deletion
            # vectors: drop this file's DV'd positions (pos = row index
            # within the file; pyarrow preserves file row order) so the
            # snapshot batch serves current state, not resurrected rows
            import pyarrow.dataset as ds

            dv = ds.dataset(list(partition.dv_paths)).to_table(
                filter=ds.field("file") == partition.rel_name
            )
            dead = set(dv.column("pos").to_pylist())
            if dead:
                import numpy as np

                mask = np.ones(table.num_rows, dtype=bool)
                mask[list(dead)] = False
                table = table.filter(pa.array(mask))
        n = table.num_rows
        pv = partition.part_values
        try:
            # Arrow fast path: emit whole RecordBatches — column data
            # moves parquet → arrow → Spark with zero per-row Python.
            # Target arrow types come from the committed Spark schema
            # (the same conversion Spark's arrow ingest uses), partition
            # values become constant arrays, evolved-away columns nulls.
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            target = to_arrow_schema(
                StructType.fromJson({"type": "struct", "fields": fields})
            )
            arrays = []
            for i, f in enumerate(fields):
                name, at = f["name"], target.field(i).type
                phys = self._cmap.get(name, name)
                if phys in table.column_names:
                    arrays.append(
                        table.column(phys).combine_chunks().cast(at)
                    )
                elif phys in pv:
                    arrays.append(
                        pa.array([pv[phys]] * n).cast(at)
                    )
                else:
                    arrays.append(pa.nulls(n, at))  # pre-evolution file
            yield from pa.Table.from_arrays(
                arrays, schema=target
            ).to_batches()
        except Exception:
            # tuple fallback: exotic types the cast path can't bridge
            # still stream correctly, one row at a time
            series = []
            for f in fields:
                name = f["name"]
                phys = self._cmap.get(name, name)
                if phys in table.column_names:
                    series.append(table.column(phys).to_pylist())
                elif phys in pv:
                    series.append([pv[phys]] * n)
                else:
                    series.append([None] * n)
            yield from zip(*series)

    def commit(self, end: dict) -> None:
        # manifests are the log — nothing to clean up; but a committed
        # end is a delivery boundary: raise the floor (monotone — a
        # replayed batch's recommit never lowers it) and persist it
        # when offsetTrackingLocation is set, so a restarted instance
        # seeds at the boundary instead of dancing the regression
        # protocol (see __init__).
        if self._floor is not None and self._okey(end) <= self._okey(
            self._floor
        ):
            return
        self._floor = dict(end)
        if self._track_offsets is None:
            return
        import json as _json
        import os as _os
        import uuid as _uuid

        d = self._track_offsets
        # Persistence is an OPTIMIZATION over the in-memory floor (it
        # closes the double-restart window) — on a table root the
        # reader cannot write (read-only mount, another team's table),
        # the default-on location must DEGRADE to in-memory tracking
        # with a one-time warning, never kill the stream at its first
        # committed batch.
        try:
            d.mkdir(parents=True, exist_ok=True)
            # the FILE is monotone too: a second query sharing this
            # (default, per-query-shape) location that lags the first
            # must never lower the persisted boundary — a lowered floor
            # would re-open the regressed-commit window for the leader.
            # Plain read-compare-write (the race window is benign:
            # losing it can only persist a lower-but-valid floor, never
            # corrupt one).
            try:
                cur = _json.loads((d / "cursor.json").read_text())
                if self._okey(cur) >= self._okey(end):
                    return
            except (OSError, ValueError, TypeError, KeyError):
                pass  # unreadable/corrupt current floor: overwrite it
            tmp = d / f".tmp-{_uuid.uuid4().hex}"
            tmp.write_text(_json.dumps(end))
            _os.replace(tmp, d / "cursor.json")
        except OSError as e:
            import warnings

            self._track_offsets = None  # stop retrying every batch
            warnings.warn(
                f"versioned_changes: cannot persist the offset floor "
                f"at {d} ({e}); falling back to in-memory tracking — "
                "restarts of this query keep the documented "
                "single-restart protocol (set offsetTrackingLocation "
                "to a writable dir for the full guarantee)",
                stacklevel=2,
            )


def _resolve_path_option(options) -> str | None:
    """The table root from either addressing plane: ``path`` directly,
    or ``table`` (a ``db.table`` name) + ``catalogRoot`` (the
    VersionedCatalog registry root) — the name-addressed twin, so a
    stream can follow a registered table without knowing where it
    lives.  Both given must agree; ``table`` without ``catalogRoot``
    is an error (the registry cannot be guessed)."""
    path = options.get("path")
    name = options.get("table")
    if name:
        root = options.get("catalogRoot")
        if not root:
            raise ValueError(
                "versioned_changes: option 'table' needs 'catalogRoot' "
                "(the VersionedCatalog registry root) to resolve"
            )
        from ..catalog import VersionedCatalog

        resolved = VersionedCatalog(str(root)).resolve(str(name))
        if path and str(path) != resolved:
            raise ValueError(
                f"versioned_changes: 'path' ({path}) and 'table' "
                f"({name} -> {resolved}) disagree — pass one"
            )
        return resolved
    return path


class VersionedChangesDataSource(DataSource):
    """``spark.readStream.format("versioned_changes")
    .option("path", table_root).load()`` — or name-addressed:
    ``.option("table", "db.tbl").option("catalogRoot", registry_root)``
    (resolved through ``catalog.VersionedCatalog``)."""

    @classmethod
    def name(cls) -> str:
        return "versioned_changes"

    def schema(self):
        from pyspark.sql.types import StructType

        path = _resolve_path_option(self.options)
        if not path:
            raise ValueError("versioned_changes: option 'path' is required")
        vs = versions(path)
        if not vs:
            raise FileNotFoundError(f"no committed versions at {path}")
        m = _read_manifest(path, vs[-1])
        fields = _visible_fields(m["schema"], bool(m.get("bucket_by")))
        if str(self.options.get("readChangeFeed", "false")).lower() == (
            "true"
        ):
            fields = list(fields) + _CDF_FIELDS
        return StructType.fromJson(
            {**m["schema"], "fields": fields}
        )

    def streamReader(self, schema) -> VersionedChangesStreamReader:
        return VersionedChangesStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration (re-registering the same name is safe)."""
    spark.dataSource.register(VersionedChangesDataSource)


def _plan_append_slice(
    path: str,
    start: dict,
    tgt: int,
    vs: list[int],
    max_files: int | None,
    max_bytes: int | None,
    skip_change: bool,
) -> tuple[dict, list[tuple[dict, list[str]]]]:
    """One capped APPEND slice from the cursor offset ``start``: walk
    surviving manifests (append diffs accumulate across survivors, so
    tag+vacuum gaps are fine — the same walk the streaming source
    does), collecting each append commit's new data files in the
    manifest's order until a cap is reached.  The cap may close the
    slice INSIDE a commit: the end offset is then the stream reader's
    sub-commit form ``{"version": V, "file_index": K}`` (K of V's new
    files delivered), and a ``start`` of that form resumes after the
    K-th file.  The byte cap is soft — every slice takes at least one
    file.  Only a commit diffed against its direct predecessor ``V-1``
    is split, so every partial offset names a diff base a resume can
    re-read.  Metadata-only commits pass; non-append commits raise
    unless ``skip_change`` (the streaming source's contract).  Returns
    ``(end, [(manifest, files), ...])``."""
    sv = int(start["version"])
    skip = int(start.get("file_index") or 0)
    lo = sv - 1 if skip else sv
    prev_v = lo
    prev = _read_manifest(path, lo) if lo in vs else {"files": []}
    files = 0
    nbytes = 0
    end = {"version": lo}
    out: list[tuple[dict, list[str]]] = []
    capped = lambda: (max_files is not None and files >= max_files) or (
        max_bytes is not None and nbytes >= max_bytes
    )
    for v in [x for x in vs if lo < x <= tgt]:
        m = _read_manifest(path, v)
        pf = set(prev.get("files") or [])
        new = [f for f in m["files"] if f not in pf]
        removed = [f for f in prev.get("files") or [] if f not in set(m["files"])]
        dv_same = (m.get("dv_files") or []) == (
            prev.get("dv_files") or []
        ) and (m.get("dv_counts") or {}) == (prev.get("dv_counts") or {})
        is_first = v == vs[0]
        splittable = prev_v == v - 1
        prev, prev_v, end = m, v, {"version": v}
        if not is_first and not new and not removed and dv_same:
            continue  # metadata-only commit
        if not (m.get("mode") in _APPEND_MODES or is_first):
            if not skip_change:
                raise ValueError(
                    f"drain_versioned_changes: version {v} is a "
                    f"{m.get('mode')!r} commit — an append-only drain "
                    "cannot represent row changes; set "
                    "skip_change_commits=True to ignore them"
                )
            continue
        fm = m.get("file_meta") or {}
        take: list[str] = []
        out.append((m, take))
        for i in range(skip if v == sv else 0, len(new)):
            take.append(new[i])
            files += 1
            nbytes += (fm.get(new[i], {}) or {}).get("bytes", 0) or 0
            if splittable and i + 1 < len(new) and capped():
                return {"version": v, "file_index": i + 1}, out
        if capped():
            break
    return end, out


def _slice_tag(off: dict, start: bool) -> str:
    """The slice-name key of a cursor offset: a whole-version start
    names the first version it covers, a sub-commit offset its version
    and file index."""
    v = int(off["version"])
    k = off.get("file_index")
    if k is not None:
        return f"v{v:06d}f{int(k):06d}"
    return f"v{v + 1 if start else v:06d}"


def drain_versioned_changes(
    spark,
    path: str,
    sink_path: str,
    checkpoint: str,
    *,
    build=None,
    sink_format: str = "parquet",
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    skip_change_commits: bool = False,
    max_runs: int = 10000,
    extra_options: dict | None = None,
) -> int:
    """Drain a versioned table's FULL backlog in one call into
    ``sink_path`` — the semantics Delta gives
    ``trigger(availableNow=True)`` under admission control, run as
    batch jobs: no streaming query, no Python-worker read.  Slices are
    planned from the manifests alone (``_plan_append_slice``) and each
    is written by one batch job under deterministic file names
    (``slice-<start>-<end>-<i>``, keyed by the full start offset), then
    a cursor file beside ``checkpoint`` advances — a crash re-runs the
    slice into the same names and converges: exactly-once end to end.
    Returns the number of slices that landed rows.

    ``max_files_per_trigger`` / ``max_bytes_per_trigger`` cap a slice
    and may split a commit (the cursor then holds the stream reader's
    ``{"version": V, "file_index": K}`` sub-commit offset, which a
    later call resumes — also one a capped streaming drain left).  The
    byte cap is soft: every slice takes at least one file.  A fresh
    drain of an ever-vacuumed table first lands the earliest surviving
    snapshot, like the stream reader's bootstrap.  ``build`` runs per
    slice and must be a stateless projection/filter.

    ``extra_options={"readChangeFeed": "true"}`` lands the change feed
    (``read_change_feed`` rows: table columns plus ``_change_type`` and
    ``_commit_version``) instead of appended rows; change-feed slices
    are commit-granular (a commit larger than the cap forms one slice).
    ``readChangeFeed`` is the only option taken — the other reader
    options belong to ``spark.readStream.format("versioned_changes")``
    itself."""
    _refuse_metadata_sink(sink_path)
    change_feed = False
    for k, v in (extra_options or {}).items():
        if str(k).lower() != "readchangefeed":
            raise ValueError(
                f"drain_versioned_changes: option {k!r} is a streaming-"
                "reader option; read with spark.readStream.format("
                '"versioned_changes") to use it'
            )
        change_feed = str(v).lower() == "true"
    if change_feed and skip_change_commits:
        raise ValueError(
            "drain_versioned_changes: readChangeFeed and "
            "skip_change_commits are contradictory — one demands "
            "row changes, the other ignores them"
        )
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from ..sinks.versioned import _read_files, read_change_feed, read_version

    cur_dir = Path(checkpoint) / "_vc_cursor"

    def _write_slice(df, start: dict, end: dict) -> int:
        if build is not None:
            df = build(df)
        # leftovers clear by START offset only: a crash before the
        # cursor advance followed by new commits replans the same start
        # with a LARGER end, and an exact-range clear would orphan the
        # crashed attempt's files as duplicates — any file keyed by
        # this start is an attempt at THIS slice (slices partition the
        # offset axis as the cursor advances)
        tag = _slice_tag(start, True)
        return _land_slice(
            df,
            sink_path,
            sink_format,
            f"slice-{tag}-{_slice_tag(end, False)}-",
            clear_glob=f"slice-{tag}-v*",
        )

    def _align(df, fields, m: dict, head_cmap: dict):
        # resolve through PHYSICAL column identity (stable across
        # renames), exactly like the streaming reader: a pre-rename
        # file's column lands under the head's logical name instead of
        # silently reading NULL
        cmap = dict(m.get("column_mapping") or {})
        phys_to_local = {cmap.get(c, c): c for c in df.columns}
        sel = []
        for f in fields:
            src = phys_to_local.get(head_cmap.get(f.name, f.name))
            sel.append(
                F.col(src).cast(f.dataType).alias(f.name)
                if src is not None
                else F.lit(None).cast(f.dataType).alias(f.name)
            )
        return df.select(sel)

    runs = 0
    for _ in range(max_runs):
        vs = versions(path)
        if not vs:
            return runs
        tgt = vs[-1]
        cur = _cursor_read(cur_dir / "cursor.json") or {"version": 0}
        partial = cur.get("file_index") is not None
        if cur.get("snapshot_start") or (change_feed and partial):
            # a capped streaming run left an offset inside the bootstrap
            # snapshot or inside a change-feed commit: neither planner
            # slices those, and a whole re-delivery would duplicate the
            # prefix the sink already holds
            raise ValueError(
                "drain_versioned_changes: the checkpoint holds offset "
                f"{cur}, which the slice planner cannot resume; drain "
                "into a fresh sink and checkpoint"
            )
        lo = int(cur["version"])
        if lo >= tgt and not partial:
            return runs
        # emit every slice under the HEAD commit's visible schema (the
        # field-list vintage a fresh stream would declare)
        hm = _read_manifest(path, vs[-1])
        head_cmap = dict(hm.get("column_mapping") or {})
        fields = StructType.fromJson(
            {
                **hm["schema"],
                "fields": _visible_fields(
                    hm["schema"], bool(hm.get("bucket_by"))
                )
                + (_CDF_FIELDS if change_feed else []),
            }
        ).fields
        if lo == 0 and vs[0] > 1:
            # fresh drain of an ever-vacuumed table: the earliest
            # surviving snapshot is the initial load (in change-feed
            # mode as inserts at vs[0], the stream reader's bootstrap)
            snap = read_version(spark, path, vs[0])
            if change_feed:
                snap = snap.withColumn(
                    "_change_type", F.lit("insert")
                ).withColumn("_commit_version", F.lit(vs[0]).cast("long"))
            snap = _align(snap, fields, _read_manifest(path, vs[0]), head_cmap)
            end = {"version": vs[0]}
            runs += bool(_write_slice(snap, cur, end))
            _cursor_advance(cur_dir, end)
            continue
        base = lo - 1 if partial else lo
        if (0 < base and base not in vs) or (partial and lo not in vs):
            # a cursor whose own manifest (or, mid-commit, its diff
            # base) was vacuumed — below the earliest survivor OR inside
            # a tag+vacuum interior gap.  Either way the delivered
            # prefix is unreconstructable: diffing against an older
            # survivor would re-deliver files committed before the
            # cursor.
            raise ValueError(
                f"drain_versioned_changes: the drain cursor {cur} "
                f"references a vacuumed manifest (have {vs}) at "
                f"{path} — the delivered prefix is unreconstructable; "
                "restart from a fresh checkpoint"
            )
        if change_feed:
            hi, n_files = _plan_feed_slice(
                path, lo, tgt, vs,
                max_files_per_trigger, max_bytes_per_trigger,
                helper="drain_versioned_changes",
            )
            end = {"version": hi}
            frames = []
            if n_files:  # 0: metadata/compact-only commits, no rows
                frames.append(
                    _align(
                        read_change_feed(spark, path, lo, hi),
                        fields,
                        _read_manifest(path, hi),
                        head_cmap,
                    )
                )
        else:
            end, cms = _plan_append_slice(
                path, cur, tgt, vs, max_files_per_trigger,
                max_bytes_per_trigger, skip_change_commits,
            )
            frames = [
                _align(_read_files(spark, path, new, m), fields, m, head_cmap)
                for m, new in cms
                if new
            ]
        if frames:
            slice_df = reduce(lambda a, b: a.unionByName(b), frames)
            runs += bool(_write_slice(slice_df, cur, end))
        _cursor_advance(cur_dir, end)
    raise RuntimeError(
        f"drain_versioned_changes: backlog at {path} not drained in "
        f"{max_runs} slices (cap too small for the commit rate?)"
    )


def _okey_off(off: dict) -> tuple:
    return (off["version"], off.get("file_index", float("inf")))


def _cursor_read(cur_file: Path) -> dict | None:
    """The drain/replicate cursor file (the stream reader's offset-floor
    format): None for absent/corrupt."""
    import json as _json

    try:
        c = _json.loads(cur_file.read_text())
    except (OSError, ValueError):
        return None
    return c if isinstance(c, dict) and "version" in c else None


def _cursor_advance(cur_dir: Path, off: int | dict) -> None:
    """Atomically raise the cursor to ``off`` (a plain version or a
    full offset dict) — monotone, like the floor it shares a file
    with."""
    import json as _json
    import os as _os
    import uuid as _uuid

    cur = _cursor_read(cur_dir / "cursor.json")
    new = {"version": off} if isinstance(off, int) else dict(off)
    if cur is not None and _okey_off(cur) >= _okey_off(new):
        return
    cur_dir.mkdir(parents=True, exist_ok=True)
    tmp = cur_dir / f".tmp-{_uuid.uuid4().hex}"
    tmp.write_text(_json.dumps(new))
    _os.replace(tmp, cur_dir / "cursor.json")


def _land_slice(
    df,
    sink_path: str,
    sink_format: str,
    prefix: str,
    clear_glob: str | None = None,
) -> int:
    """Land one drained slice in the sink under DETERMINISTIC file
    names: write to a temp dir, delete leftovers matching
    ``clear_glob`` (default: same-prefix files — a previous attempt's
    partial slice), then move each file to ``<prefix><i><ext>``.  A
    re-run of the same slice after a crash rewrites the same names and
    converges: sink-side exactly-once without a ``_spark_metadata``
    transaction log (whose presence makes batch reads IGNORE files the
    log doesn't list — the reason the drain uses this layout instead
    of the streaming file sink).  Returns the number of files landed.
    Part files that hold no rows are dropped — Spark writes one
    zero-row part file for an empty frame — so an empty slice lands
    nothing and returns 0, without a separate ``isEmpty()`` job."""
    import os as _os
    import shutil
    import uuid as _uuid

    tmp = Path(sink_path) / f"_tmp-slice-{_uuid.uuid4().hex}"
    df.write.format(sink_format).mode("overwrite").save(str(tmp))
    dst = Path(sink_path)
    for old in dst.glob(clear_glob or (prefix + "*")):
        old.unlink()
    outs = sorted(
        p
        for p in tmp.iterdir()
        if p.is_file()
        and not p.name.startswith(("_", "."))
        and _has_rows(p, sink_format)
    )
    for i, f in enumerate(outs):
        _os.replace(f, dst / f"{prefix}{i:04d}{f.suffix}")
    shutil.rmtree(tmp, ignore_errors=True)
    return len(outs)


def _has_rows(part: Path, sink_format: str) -> bool:
    """Whether a written part file holds any row: the footer's row
    count for parquet/orc (no data read), else a non-empty file — the
    text formats write zero bytes for zero rows."""
    fmt = sink_format.lower()
    if fmt == "parquet":
        import pyarrow.parquet as pq

        return pq.ParquetFile(part).metadata.num_rows > 0
    if fmt == "orc":
        import pyarrow.orc as po

        return po.ORCFile(part).nrows > 0
    return part.stat().st_size > 0


def _refuse_metadata_sink(sink_path: str) -> None:
    """The drain writes slice-keyed plain files; a sink
    carrying a streaming file-sink ``_spark_metadata`` log would hide
    them from batch readers (reads through such a log IGNORE unlisted
    files) — refuse rather than land invisible rows."""
    if (Path(sink_path) / "_spark_metadata").exists():
        raise ValueError(
            f"drain_versioned_changes: {sink_path} carries a streaming "
            "file-sink _spark_metadata log (a pre-r16 drain landed "
            "here); batch readers of such a directory ignore files the "
            "log doesn't list, so newly drained slices would be "
            "invisible — drain into a fresh sink directory (or remove "
            "_spark_metadata after verifying no orphan part files)"
        )


def _plan_feed_slice(
    src: str,
    lo: int,
    tgt: int,
    vs: list[int],
    max_files: int | None,
    max_bytes: int | None,
    helper: str = "replicate_versioned_changes",
) -> tuple[int, int]:
    """One capped change-feed slice ``(lo, hi]``: walk the manifests —
    METADATA ONLY, O(versions in range) — accumulating each commit's
    change-bearing file count/bytes (cdf files for row-level commits,
    new data files for appends, old+new for overwrites, nothing for
    compact/metadata commits) and stop at the first version where a
    cap is reached.  Commit-granular: a single commit larger than the
    cap still forms a slice (the soft-cap rule — progress beats the
    bound), because ``read_change_feed(lo, hi)`` reads whole versions
    and a keyed apply collapses a slice per key.  Returns
    ``(hi, files)``; raises
    on a mid-range vacuum hole, naming the calling verb ``helper``
    (the feed contract — a silent gap would deliver wrong rows)."""
    missing = [g for g in range(lo + 1, tgt + 1) if g not in vs]
    if missing:
        raise ValueError(
            f"{helper}: version(s) {missing} inside ({lo}, {tgt}] were "
            f"vacuumed at {src} — their changes are unreconstructable; "
            "follow a gap-free range or rebuild the target from a "
            "snapshot"
        )
    prev = _read_manifest(src, lo) if lo in vs else {"files": []}
    files = 0
    nbytes = 0
    hi = lo
    for v in range(lo + 1, tgt + 1):
        m = _read_manifest(src, v)
        mode = str(m.get("mode", ""))
        cdf = m.get("cdf_files") or []
        same_rows = (
            m["files"] == prev.get("files")
            and (m.get("dv_files") or []) == (prev.get("dv_files") or [])
            and dict(m.get("dv_counts") or {})
            == dict(prev.get("dv_counts") or {})
        )
        if cdf:
            meta = m.get("cdf_file_meta")
            if meta is None:
                meta = _cdf_file_meta(src, cdf)
            f_n = len(cdf)
            f_b = sum(
                (meta.get(x, {}) or {}).get("bytes", 0) or 0 for x in cdf
            )
        elif same_rows or mode == "compact":
            f_n = f_b = 0
        elif mode == "append" or v == vs[0]:
            pf = set(prev.get("files") or [])
            fm = m.get("file_meta") or {}
            new = [x for x in m["files"] if x not in pf]
            f_n = len(new)
            f_b = sum(
                (fm.get(x, {}) or {}).get("bytes", 0) or 0 for x in new
            )
        elif mode == "overwrite":
            fm = m.get("file_meta") or {}
            pm = prev.get("file_meta") or {}
            f_n = len(m["files"]) + len(prev.get("files") or [])
            f_b = sum(
                (fm.get(x, {}) or {}).get("bytes", 0) or 0
                for x in m["files"]
            ) + sum(
                (pm.get(x, {}) or {}).get("bytes", 0) or 0
                for x in prev.get("files") or []
            )
        else:
            # row-level commit without feed files: read_change_feed
            # raises the honest error when the slice reads — count it
            # minimally so the slice still advances to the raise
            f_n, f_b = 1, 0
        prev = m
        hi = v
        files += f_n
        nbytes += f_b
        if (max_files is not None and files >= max_files) or (
            max_bytes is not None and nbytes >= max_bytes
        ):
            break
    return hi, files


def replicate_versioned_changes(
    spark,
    src: str,
    dst: str,
    checkpoint: str,
    key_cols: list[str] | tuple[str, ...],
    *,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    ending_version: int | None = None,
    guard_concurrent_target: bool = True,
    allow_schema_evolution: bool = False,
    catalog=None,
    max_runs: int = 10000,
) -> int:
    """END-TO-END CDC REPLICATION (Delta's "CDF → MERGE" pattern):
    follow ``src``'s change feed and apply it to the versioned table
    ``dst`` through ``versioned_apply_changes`` — the composed workload
    the two halves exist for: a versioned table as CDC *source* feeding
    a versioned table as CDC *target*, keyed, rate-capped, restart-safe,
    and bounded if asked.

    Runs as contiguous ``read_change_feed`` slices through a cursor
    file beside ``checkpoint`` — batch jobs only, no streaming query.
    Per slice: plan (``_plan_feed_slice``, a metadata-only walk; caps
    close at COMMIT granularity, so a commit larger than the cap forms
    one slice), read the feed, keyed apply as ONE commit, then durably
    advance the cursor.  ``update_preimage`` rows drop, the remaining
    feed rows map to I/U/D (insert / update_postimage / delete), and
    ``seq_col="_commit_version"`` collapses a multi-commit slice to the
    LAST change per key — so one slice spanning an update and a later
    delete of the same key applies the delete.  A crash between apply
    and advance re-applies one slice; re-applying a keyed I/U/D slice
    is state-idempotent on ``dst`` (an extra commit, never divergent
    rows), the guarantee level of Delta's own foreachBatch-merge
    replication recipe.  Every call resumes from the cursor, so
    re-invoking is the restart.  A fresh replica of an ever-vacuumed
    source bootstraps from the earliest surviving snapshot.

    ``guard_concurrent_target=True`` passes each apply
    ``source_version`` = the ``dst`` head it merged against, so a
    concurrent writer landing on ``dst`` between slices turns silent
    divergence into a clean ``ConcurrentCommitError`` (Iceberg's
    validateFromSnapshot applied to replication).

    ``ending_version`` bounds the replication — backfill ``dst``
    through a fixed ``src`` version and stop (the point-in-time clone
    shape); without it the call stops at ``src``'s head.  Returns the
    number of slices that applied changes (a slice whose commits carry
    no change files — metadata/compact-only — applies nothing and does
    not count).

    ``allow_schema_evolution=True`` lets the replica FOLLOW source
    schema evolution: feed slices read under the source's committed
    schema (pre-evolution change files read NULL for later columns,
    exactly like the batch reader), and each apply may add the new
    columns to ``dst``.  Without it, a widened slice refuses at the
    apply — the honest default, since silently dropping a new column
    would diverge the replica.

    ``catalog`` (a ``catalog.VersionedCatalog``) makes ``src``/``dst``
    NAME-addressable: a registered ``db.table`` resolves to its bound
    root; an UNREGISTERED ``dst`` name lands at the registry's default
    path and is registered once replication creates it (the same
    create-by-name contract as the W5 merge selector).  Strings that
    don't pass the registry's name validator stay plain paths; a bare
    relative path that happens to look like a name (``backup.v2``)
    would be taken as one — spell relative paths with a separator
    (``./backup.v2``).

    The cursor holds the stream reader's offset format: a
    ``file_index``/``snapshot_start`` offset a capped streaming run
    left re-delivers its whole commit (or snapshot) — idempotent."""
    dst_name: str | None = None
    if catalog is not None:
        src = catalog.try_resolve(src) or src
        resolved = catalog.try_resolve(dst)
        if resolved is not None:
            dst = resolved
        elif "/" not in dst and type(catalog).is_name(dst):
            # an unregistered db.table name (the registry's validator
            # is the gate, so 'my-dir.v2' falls through as a path):
            # create at the default path, register once replication has
            # created the table.  A bare relative path that HAPPENS to
            # validate ('backup.v2') is taken as a name — spell relative
            # destinations with a separator ('./backup.v2').
            dst_name, dst = dst, catalog.default_path(dst)
    from pyspark.sql import functions as F

    from ..sinks.versioned import (
        read_change_feed,
        read_version,
        versioned_apply_changes,
    )

    keys = list(key_cols)
    cur_dir = Path(checkpoint) / "_vc_cursor"

    def _apply(ch) -> None:
        # no isEmpty pre-flight: the planner only sends slices whose
        # commits carry change files (n_files > 0), so the extra Spark
        # job would re-prove what the manifests already say
        sv = None
        if guard_concurrent_target:
            dvs = versions(dst)
            sv = dvs[-1] if dvs else None
        ops = ch.filter(F.col("_change_type") != "update_preimage").withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", F.lit("D"))
            .when(F.col("_change_type") == "update_postimage", F.lit("U"))
            .otherwise(F.lit("I")),
        )
        versioned_apply_changes(
            ops.drop("_change_type"),
            dst,
            keys,
            op_col="op",
            seq_col="_commit_version",
            source_version=sv,
            allow_schema_evolution=allow_schema_evolution,
        )

    data_runs = 0
    for _ in range(max_runs):
        vs = versions(src)
        if not vs:
            break
        head = vs[-1]
        tgt = head if ending_version is None else min(ending_version, head)
        cur = _cursor_read(cur_dir / "cursor.json")
        if cur is not None and cur.get("snapshot_start"):
            # a capped STREAMING run left a partial bootstrap mark:
            # commit granularity redoes the whole snapshot (idempotent
            # keyed inserts — same converged state)
            cur = None
        if cur is None:
            lo = 0
        elif cur.get("file_index") is not None:
            # partial commit from a capped streaming run: delivered
            # through version-1 plus a prefix of version — re-deliver
            # the commit wholly (idempotent)
            lo = int(cur["version"]) - 1
        else:
            lo = int(cur["version"])
        if lo >= tgt:
            break
        if lo < vs[0] - 1 or (0 < lo < vs[0]):
            if lo == 0:
                # nothing delivered yet and the early history is
                # vacuumed: bootstrap from the earliest surviving
                # snapshot (Delta initial-snapshot semantics)
                boot = vs[0]
                if ending_version is not None and ending_version < boot:
                    raise ValueError(
                        f"replicate_versioned_changes: ending_version "
                        f"{ending_version} predates the earliest "
                        f"surviving snapshot v{boot} at {src}"
                    )
                snap = (
                    read_version(spark, src, boot)
                    .withColumn("_change_type", F.lit("insert"))
                    .withColumn(
                        "_commit_version", F.lit(boot).cast("long")
                    )
                )
                _apply(snap)
                data_runs += 1
                _cursor_advance(cur_dir, boot)
                continue
            raise ValueError(
                f"replicate_versioned_changes: the replication cursor "
                f"v{lo} predates the earliest surviving manifest "
                f"v{vs[0]} at {src} — the intervening commits were "
                "vacuumed and cannot be replayed; rebuild the replica "
                "from a snapshot"
            )
        hi, n_files = _plan_feed_slice(
            src, lo, tgt, vs, max_files_per_trigger, max_bytes_per_trigger
        )
        if n_files:  # 0: metadata/compact-only commits, no rows
            _apply(read_change_feed(spark, src, lo, hi))
            data_runs += 1
        _cursor_advance(cur_dir, hi)
    else:
        raise RuntimeError(
            f"replicate_versioned_changes: backlog at {src} not drained "
            f"in {max_runs} slices (cap too small for the commit rate?)"
        )
    if dst_name is not None and versions(dst):
        catalog.register(dst_name, dst)
    return data_runs


def replicate_database(
    spark,
    catalog,
    src_db: str,
    dst_db: str,
    checkpoint_root: str,
    key_cols: dict[str, list[str]] | None = None,
    *,
    max_files_per_trigger: int | None = None,
    max_bytes_per_trigger: int | None = None,
    ending_versions: dict[str, int] | None = None,
    guard_concurrent_target: bool = True,
    allow_schema_evolution: bool = False,
    max_runs: int = 10000,
) -> dict[str, dict]:
    """DATABASE-LEVEL CDC replication — the reference's actual merge
    topology (merge_to_minio.py:126-192 loops a catalog's tables into
    another catalog BY NAME) composed from r15/r16's pieces: enumerate
    ``src_db`` in the ``VersionedCatalog``, and for each table run
    ``replicate_versioned_changes(src_db.t → dst_db.t)`` with its own
    checkpoint dir under ``checkpoint_root`` and per-table ERROR
    ISOLATION (one broken feed never stops the sweep — the reference's
    per-table try/except contract, and ``run_merge``'s report shape).

    Re-invoking is the restart: every table resumes from its own
    durable cursor, caught-up tables are no-ops.  ``key_cols`` maps
    table name → merge keys; a missing entry auto-detects via the W6
    key finder (``sinks/merge.py::find_key_column``) against the
    source head — no detectable key is a per-table error, not a sweep
    failure.  ``ending_versions`` bounds individual tables (the
    point-in-time-clone shape); unlisted tables drain to their heads.

    Returns ``{table: {"runs": n, "final_rows": rows, "path": dst}}``
    per replicated table (``final_rows`` is ``None`` when the table
    was already caught up — a no-op restart never pays a replica
    scan) or ``{"error": msg}`` for isolated failures.
    """
    from ..sinks.versioned import read_version

    results: dict[str, dict] = {}
    for tbl in catalog.list_tables(src_db):
        src_name = f"{src_db}.{tbl}"
        dst_name = f"{dst_db}.{tbl}"
        try:
            keys = (key_cols or {}).get(tbl)
            if keys is None:
                from ..sinks.merge import find_key_column

                key = find_key_column(
                    read_version(spark, catalog.resolve(src_name))
                )
                if key is None:
                    raise ValueError(
                        f"no key column detected for {src_name}; pass "
                        "key_cols={...}"
                    )
                keys = [key]
            runs = replicate_versioned_changes(
                spark,
                src_name,
                dst_name,
                str(Path(checkpoint_root) / tbl),
                keys,
                max_files_per_trigger=max_files_per_trigger,
                max_bytes_per_trigger=max_bytes_per_trigger,
                ending_version=(ending_versions or {}).get(tbl),
                guard_concurrent_target=guard_concurrent_target,
                allow_schema_evolution=allow_schema_evolution,
                catalog=catalog,
                max_runs=max_runs,
            )
            path = catalog.resolve(dst_name)
            results[tbl] = {
                "runs": runs,
                # a caught-up no-op stays cheap: don't pay a full
                # replica scan just to report an unchanged count
                "final_rows": (
                    read_version(spark, path).count() if runs else None
                ),
                "path": path,
            }
        except Exception as e:  # noqa: BLE001 — per-table isolation,
            # the reference merge_to_minio.py:189-192 contract
            results[tbl] = {"error": str(e)[:200]}
    return results
