"""Manifest-versioned parquet tables: time travel, MOR deletes, MERGE,
schema evolution, stats-pruned reads, vacuum (SURVEY §2.A8 maintenance
tier; r11, hardened + extended r12).

A deliberately minimal member of the Delta/Iceberg/Hudi family (public
designs), built only on immutable parquet files + atomic manifest swaps:

* ``data/``: immutable parquet files, written once, NEVER rewritten or
  appended in place. Writers add files; only vacuum deletes them.
* ``manifests/v{N}.json``: snapshot N = the snapshot's SCHEMA (name,
  type pairs — add-column evolution allowed, type changes refused at
  commit) plus SEGMENT DESCRIPTORS ({path, seq}): TWO-LEVEL metadata
  (r12b, Iceberg's manifest-list/manifest split). The descriptor's
  ``seq`` is the COMMIT SEQUENCE of that segment's files — the thing
  that scopes row-level deletes.
* ``segments/seg-*.json``: one IMMUTABLE segment per commit, listing
  only THAT commit's new file entries ({path, stats}) — per-file
  column [min, max] captured from the parquet footer ONCE at write
  time, so pruned reads never touch footers again. Appends carry prior
  descriptors verbatim: commit metadata cost is O(new files) +
  O(#commits) descriptors, never O(table files).
* ``_latest``: one-line pointer to the newest version, atomic-swap
  (convenience only; the manifest files are the commit source of truth).

Why this shape survives 100 TB: a snapshot is O(#files) metadata, not
O(data), and a COMMIT is O(its own files), not O(table) — a15c's
per-micro-batch ingest commits stay constant-cost as the table ages;
appends commit without touching history; time travel is "read the old
file list"; file skipping is a manifest scan (zero per-query footer
I/O — the r12 a15f upgrade); and vacuum's reachability set is the
union of kept manifests' file lists plus an age grace window so
in-flight writers and time-travel readers are never raced. Segment
files are reaped by vacuum under the same reachability + grace rule.

CONCURRENCY (r12, closes the ADVICE lost-update race): every commit is
validated against the BASE version its caller read — `_commit` links
the new manifest at exactly ``base + 1`` with an atomic create-exclusive
``os.link``. Any commit that landed between the caller's read and its
own commit makes the link fail with :class:`CommitConflict` (Iceberg's
base-snapshot validation). The public writers (`snapshot_write`,
`snapshot_delete`, `snapshot_merge`, `commit_append_files`) write their
data files ONCE, then run a bounded re-read-and-retry loop over the
metadata commit only — two concurrent appenders both land, in some
serial order, with no lost files. `snapshot_compact` deliberately does
NOT auto-retry: its data files materialize a specific base snapshot, so
a conflict means the view is stale and the caller must re-compact.

ROW DELETES are MERGE-ON-READ and SEQUENCE-SCOPED (r12, closes the
ADVICE delete-then-reinsert wrong-answer): a delete commit at sequence
D adds a key file; readers anti-join its keys against ONLY data files
with sequence < D (Iceberg equality-delete semantics). Rows appended
AFTER the delete — including a re-insert of a deleted key, and the new
rows of the very MERGE commit that carries the delete — are untouched.
Data files stay byte-identical until a compaction rewrites them.

PARTITIONING (r13): ``snapshot_write(partition_by=[...])`` lays each
commit out one directory per partition tuple and records exact
per-entry transform values plus a distinct-tuple summary in the
segment descriptor — pruned reads skip whole segments UNLOADED, then
entries by exact value, before any min/max stats. Transforms:
identity, ``bucket(N, int_col)`` (pmod, driver-recomputable),
``truncate(W, col)`` (order-preserving → range-prunable),
``days(ts_col)``. Per-write and advisory: mixing partitioned and
unpartitioned commits stays sound.

POSITION DELETES (r13): ``snapshot_delete_where`` deletes rows WITHOUT
key identity by exact row address — (data file, ``_metadata.row_index``)
— written as a position-delete file readers anti-join. File-identity
scoped (later appends are new files, never suppressed), stale-address
validated at commit (a concurrent compact/overwrite refuses), folded
through metadata compaction verbatim, dropped by copy-on-write compact
like all MOR state. With this, both delete tiers of the real formats
(equality + position) are present.

NAMED REFS + RESTORE (r13): ``snapshot_tag`` pins a version under a
name (``refs/<name>.json``, create-exclusive like commits); tagged
versions are RETENTION ROOTS — vacuum keeps them and their files
however old (Iceberg tag semantics), which is what makes "the snapshot
training run X read" reproducible after arbitrary churn. Tags are
readable by name (``snapshot_read(..., 'tag')``, SQL ``VERSION AS OF
'tag'`` via catalog.resolve_time_travel, CLI ``table tag/tags``).
``snapshot_restore`` rolls the table back: a metadata-only commit
carrying the target snapshot's manifest verbatim — history-preserving,
zero data movement (Delta RESTORE / Iceberg rollback_to_snapshot).

CHECK CONSTRAINTS (r13): ``snapshot_set_constraint`` records named SQL
CHECK expressions in the manifest (validated against existing data at
add time, Delta's ADD CONSTRAINT rule); every row-adding writer
(write/merge/update) then validates its WRITTEN files in one
conditional-count pass and refuses the commit on violation
(:class:`ConstraintViolation`). Constraints survive overwrite, compact,
cluster, fold, and restore; the session-less raw path
(``commit_append_files``) refuses constraint-bearing tables unless the
caller declares the batch validated.

BRANCHES / WRITE-AUDIT-PUBLISH (r13): ``snapshot_branch`` forks a
separate manifest LINEAGE (``manifests-b-<name>/``) over the shared
data dir — branch writes (``snapshot_write(branch=...)``) are invisible
to main readers, auditable with ``snapshot_read(branch=...)``, and
``snapshot_publish`` fast-forwards main to the branch head with one
metadata-only commit whose base is the recorded fork point: the
create-exclusive link at fork+1 IS the WAP conflict check (main moved
since the fork → CommitConflict, nothing published). Live branches are
vacuum reachability roots; ``snapshot_drop_branch`` releases them.

CLUSTERED REWRITE (r13): ``snapshot_cluster`` is OPTIMIZE — it
re-materializes the view range-partitioned + sorted on chosen columns
(or on a two-column interleaved-bit Morton key, ``zorder=True``), so
the manifest's per-file min/max stats actually prune: an
ingest-ordered table has every file spanning the whole key range and
stats skip nothing, however good the pruning machinery is.
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_kinesis_replay_spark.operators.layout import (
    file_column_stats,
    file_overlaps,
)

# Count of read-path parquet-footer fallbacks (legacy entries without
# manifest stats), incremented under _FALLBACK_LOCK so concurrent pruned
# reads don't interleave half-written increments (ADVICE r12). The
# before/after-delta idiom is only sound single-threaded; concurrent
# callers should use snapshot_read_pruned's per-call ``counters`` out-dict
# instead — the a15f gate does.
FOOTER_FALLBACK_READS = 0
_FALLBACK_LOCK = threading.Lock()

# Default vacuum grace: unreachable data files younger than this are
# kept. Protects (a) a writer that has staged data files but not yet
# committed its manifest and (b) a time-travel reader mid-scan on a
# just-superseded snapshot (the similarity index's _EXPORT_REAP_GRACE_S
# discipline applied to the table tier). Tests that want immediate
# reaping pass min_age_s=0 explicitly.
VACUUM_GRACE_S = 3600.0

_COMMIT_RETRIES = 5


def _manifest_dir(root: str, branch: str | None = None) -> str:
    # a BRANCH (r13) is a separate manifest LINEAGE sharing the root's
    # data/ and segments/ — entry paths stay root-relative, so a branch
    # head's manifest can be published onto main verbatim
    if branch is None:
        return os.path.join(root, "manifests")
    return os.path.join(root, f"manifests-b-{branch}")


def _manifest_path(root: str, version: int, branch: str | None = None) -> str:
    return os.path.join(_manifest_dir(root, branch), f"v{version}.json")


def latest_version(root: str, branch: str | None = None) -> int:
    """Newest committed version (0 = empty table/branch). The MANIFEST
    FILES are the source of truth — each lands atomically via
    create-exclusive link, so a manifest's existence IS the commit. The
    ``_latest`` pointer is only a convenience marker (and the
    atomic-install done-flag for cached builds); deriving the version
    from it instead caused a real lost-write hazard (review r11)."""
    vs = versions(root, branch)
    return max(vs) if vs else 0


def versions(root: str, branch: str | None = None) -> list[int]:
    """All retained versions, ascending (gaps appear after vacuum)."""
    d = _manifest_dir(root, branch)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(
    root: str, version: int, branch: str | None = None
) -> dict:
    path = _manifest_path(root, version, branch)
    if not os.path.exists(path):
        where = f"branch {branch!r} of {root}" if branch else root
        raise FileNotFoundError(
            f"snapshot v{version} not found under {where} "
            f"(retained: {versions(root, branch)}) — vacuumed or never "
            "committed"
        )
    with open(path) as f:
        return json.load(f)


def _norm_entry(e) -> dict:
    """Normalize a manifest file entry. r11 manifests stored bare path
    strings; r12 entries are dicts {path, seq, stats}. A legacy entry
    has unknown sequence (None): deletes apply to it and it is affected
    by every delete — exactly the r11 whole-snapshot semantics — and it
    has no manifest stats, so pruning falls back to one footer read."""
    if isinstance(e, str):
        return {"path": e, "seq": None}
    return e


def _segment_dir(root: str) -> str:
    return os.path.join(root, "segments")


# Max distinct partition tuples summarized in a segment DESCRIPTOR. Past
# this the summary is omitted (the segment loads on every pruned read —
# stats still prune per-file); a summary that grew with partition count
# would re-inflate the manifest the two-level split exists to shrink.
_PARTITION_SUMMARY_CAP = 64


def _write_segment(root: str, entries: list[dict]) -> dict:
    """Write an IMMUTABLE metadata segment — the entry list of ONE
    commit's new files ({path, stats, partition?}; the sequence lives
    in the manifest's segment DESCRIPTOR, so a conflict retry re-links
    the same segment bytes under a new sequence). This is the two-level
    metadata that makes commits O(new files), not O(table): Iceberg's
    manifest-list/manifest split — the r12 flat manifest re-serialized
    every file entry on every commit, ~30 MB of JSON PER APPEND at a
    100k-file table. Returns the segment's DESCRIPTOR (path + entry
    count + partition-tuple summary when every entry carries one and
    the distinct count is bounded) — what pruned reads consult to skip
    loading the segment at all (r13, Iceberg's manifest-list
    partition-range skipping)."""
    os.makedirs(_segment_dir(root), exist_ok=True)
    # record per-entry file sizes (Iceberg's file_size_in_bytes, r14):
    # one stat call per fresh file at write time buys byte-based
    # planning (the a20b stream pacing cap) with zero read-time I/O
    for e in entries:
        if "bytes" not in e:
            try:
                e["bytes"] = os.path.getsize(os.path.join(root, e["path"]))
            except OSError:
                pass
    rel = os.path.join("segments", f"seg-{uuid.uuid4().hex[:12]}.json")
    tmp = os.path.join(root, rel + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"entries": entries}, f)
    os.replace(tmp, os.path.join(root, rel))
    desc: dict = {"path": rel, "n": len(entries)}
    if all("bytes" in e for e in entries):
        desc["bytes"] = sum(e["bytes"] for e in entries)
    if entries and all(e.get("partition") is not None for e in entries):
        tuples = {tuple(sorted(e["partition"].items())) for e in entries}
        if len(tuples) <= _PARTITION_SUMMARY_CAP:
            desc["partitions"] = [dict(t) for t in sorted(tuples)]
    return desc


def _load_segment(root: str, desc: dict) -> list[dict]:
    """Entries inherit the descriptor's sequence UNLESS they carry their
    own: a FOLDED segment (snapshot_fold_metadata) holds entries from
    many commits, each keeping its original sequence inline so delete
    scoping survives the fold."""
    with open(os.path.join(root, desc["path"])) as f:
        seg = json.load(f)
    seq = desc.get("seq")
    return [{"seq": seq, **e} for e in seg["entries"]]


def _entries(m: dict, root: str | None = None) -> list[dict]:
    """All data-file entries of a snapshot: inline ``files`` (legacy
    flat manifests, carried forward untouched) plus the entries of
    every referenced segment. ``root`` is only needed when the manifest
    references segments; accessors that predate segmentation pass the
    manifest alone and keep working on flat manifests."""
    out = [_norm_entry(e) for e in m.get("files", [])]
    for desc in m.get("segments", []):
        if root is None:
            raise ValueError(
                "segmented manifest requires root to load entries"
            )
        out.extend(_load_segment(root, desc))
    return out


def _delete_entries(m: dict, root: str | None = None) -> list[dict]:
    out = [_norm_entry(e) for e in m.get("delete_files", [])]
    for desc in m.get("delete_segments", []):
        if root is None:
            raise ValueError(
                "segmented manifest requires root to load entries"
            )
        out.extend(_load_segment(root, desc))
    return out


def _pos_delete_entries(m: dict, root: str | None = None) -> list[dict]:
    """Position-delete file entries (r13): each referenced parquet holds
    (file_path string, pos bigint) rows naming exact rows of exact data
    files. No sequence scoping needed — a position delete is scoped by
    FILE IDENTITY (later appends are new files, untouched by
    construction; Iceberg's position-delete rule)."""
    out = []
    for desc in m.get("pos_delete_segments", []):
        if root is None:
            raise ValueError(
                "segmented manifest requires root to load entries"
            )
        out.extend(_load_segment(root, desc))
    return out


def _paths(entries: list[dict]) -> list[str]:
    return [e["path"] for e in entries]


def _schema_of(df: DataFrame) -> list[list[str]]:
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _schema_ddl(schema: list[list[str]]) -> str:
    return ", ".join(f"`{n}` {t}" for n, t in schema)


def _merge_schema(
    prior: list[list[str]] | None, new: list[list[str]]
) -> list[list[str]]:
    """ADD-COLUMN schema evolution: the merged schema is the prior
    columns (their order preserved) plus any new columns appended.
    A type change on an existing column is REFUSED — silently coercing
    (or worse, letting two files disagree) is how tables corrupt; real
    formats version type promotions explicitly, and this one does too
    (r16): incoming data whose type is NARROWER-but-widenable to the
    recorded type is accepted and keeps the recorded (wide) type — the
    post-widening append path, exact because the pinned read schema
    up-casts the narrow physical bytes. Widening THROUGH an append is
    still refused; that is :func:`snapshot_widen_column`'s explicit
    verb."""
    if prior is None:
        return new
    prior_t = dict((n, t) for n, t in prior)
    for n, t in new:
        if n in prior_t and prior_t[n] != t and not _widenable(
            t, prior_t[n]
        ):
            raise ValueError(
                f"incompatible type change for column {n!r}: table has "
                f"{prior_t[n]}, incoming data has {t} — schema evolution "
                "supports ADDING columns, plus appends narrower than a "
                "recorded widening (ALTER COLUMN TYPE widens explicitly)"
            )
    prior_names = set(prior_t)
    return [list(c) for c in prior] + [
        [n, t] for n, t in new if n not in prior_names
    ]


class CdcRangeError(ValueError):
    """Row-level CDC cannot cover the requested version range — a
    provenance-losing commit (overwrite/restore), a legacy schema-less
    lineage, or a column-name reuse sits inside it. Subclasses
    ValueError for caller back-compat; exists so matview_refresh's
    full-recompute fallback catches EXACTLY these refusals instead of
    blanket ValueError, which silently converted genuine differential-
    path bugs into full recomputes forever (ADVICE r15)."""


class CommitConflict(RuntimeError):
    """Another writer committed on top of the base version this writer
    read — re-read the table state (the new latest manifest) and retry
    the commit on top of it (or use the built-in bounded retry of the
    public writers / :func:`snapshot_commit_retry`)."""


def snapshot_commit_retry(fn: Callable[[], int], retries: int = _COMMIT_RETRIES) -> int:
    """Run a commit-producing callable, retrying on CommitConflict up to
    ``retries`` times (bounded — a livelock under pathological contention
    surfaces as the final CommitConflict, never an infinite loop). The
    callable must re-read table state itself each attempt; the public
    writers already do, so this wrapper is for CUSTOM compositions.
    A short linearly-growing pause between attempts keeps N racing
    writers from re-colliding in lockstep (metadata commits are
    millisecond-scale, so tiny pauses suffice)."""
    import time

    for attempt in range(retries + 1):
        try:
            return fn()
        except CommitConflict:
            if attempt == retries:
                raise
            time.sleep(0.01 * (attempt + 1))
    raise AssertionError("unreachable")


def _carried_max_seq(*lists) -> int:
    """Largest integer sequence among segment descriptors (legacy
    None-seq descriptors ignored)."""
    mx = 0
    for descs in lists:
        for d in descs:
            s = d.get("seq")
            if isinstance(s, int) and s > mx:
                mx = s
    return mx


def _commit(
    root: str,
    base: int,
    op: str,
    carry_from: dict | None = None,
    new_segment: dict | None = None,
    new_delete_segment: dict | None = None,
    delete_key: str | None = None,
    schema: list[list[str]] | None = None,
    partition_spec: list[str] | None = None,
    new_pos_delete_segment: dict | None = None,
    pos_delete_carry: list[dict] | None = None,
    constraints: dict | None = None,
    branch: str | None = None,
    extra: dict | None = None,
) -> int:
    """Atomically commit manifest ``base + 1`` with BASE-SNAPSHOT
    VALIDATION (r12): ``base`` is the version the caller's prior-state
    read observed, and the manifest is published with ``os.link`` — an
    atomic create-EXCLUSIVE at exactly v = base + 1. If ANY commit
    landed since the caller's read, v already exists, the link fails,
    and the caller gets :class:`CommitConflict` instead of linking a
    fresh number whose manifest silently omits the interloper's files
    (the ADVICE r11 lost-update race: recomputing v = latest + 1 here
    validated nothing). The loser's correct move: re-read + retry.

    TWO-LEVEL METADATA (r12b): the manifest carries segment DESCRIPTORS
    ({path, seq}), not file entries — ``carry_from`` (the base
    manifest, or None for overwrite/compact) contributes its
    descriptors + any legacy inline entries verbatim; ``new_segment``
    is the pre-written immutable segment of this commit's new files.
    A commit therefore writes O(new files) segment bytes + O(#commits)
    descriptor bytes, never O(table files) — the flat r12 manifest
    re-serialized every entry per append."""
    os.makedirs(_manifest_dir(root, branch), exist_ok=True)
    v = base + 1
    import time

    manifest: dict = {
        "version": v,
        "base": base,
        "operation": op,
        # wall-clock commit time: what snapshot_as_of resolves against.
        # Advisory (single-FS deployment, no cross-host skew defense) —
        # version numbers stay the authoritative order.
        "committed_at": time.time(),
    }
    if extra:
        manifest.update(extra)  # branch bookkeeping (forked_from, ...)
    if schema is not None:
        manifest["schema"] = schema
    # partition spec: recorded when this commit's writer declared one,
    # carried forward otherwise. ADVISORY metadata (discoverability /
    # history) — pruning correctness derives from per-ENTRY partition
    # values, so mixed partitioned/unpartitioned lineages stay sound
    # (unpartitioned entries simply aren't partition-prunable).
    spec = (
        partition_spec
        if partition_spec is not None
        else (carry_from.get("partition_spec") if carry_from else None)
    )
    if spec is not None:
        manifest["partition_spec"] = spec
    # CHECK constraints (r13): table property, carried like the
    # partition spec — explicit (set/drop/carry-less ops) wins, else
    # the base's constraints survive the commit (Delta's rule: an
    # overwrite replaces data, never silently drops constraints)
    con = (
        constraints
        if constraints is not None
        else (carry_from.get("constraints") if carry_from else None)
    )
    if con:
        manifest["constraints"] = con
    # column name-mapping metadata (r15, rename/drop evolution): carried
    # like constraints — explicit (the rename/drop commit's own
    # ``extra``) wins, else the base's mapping survives; a carry-less
    # rewrite (compact/cluster) drops it because the fresh files carry
    # the current names. Names retired by a drop or rename-away still
    # live in OLD data files, so re-introducing one would make those
    # files' stale bytes answer for the new column — refuse until a
    # compact rewrites the files (the Iceberg field-id rule, expressed
    # with names + an explicit tombstone set).
    # column_defaults (r16, initial defaults) carries the same way: a
    # carry-less rewrite (compact) drops it because the fresh files
    # MATERIALIZED the default values through the ordinary read
    for k2 in ("column_renames", "retired_columns", "column_defaults"):
        if k2 not in manifest and carry_from and carry_from.get(k2):
            manifest[k2] = carry_from[k2]
    reserved: set = set(manifest.get("retired_columns") or [])
    for olds in (manifest.get("column_renames") or {}).values():
        reserved.update(olds)
    if manifest.get("schema") and reserved:
        clash = [n for n, _t in manifest["schema"] if n in reserved]
        if clash:
            raise ValueError(
                f"column name(s) {clash} were retired by a prior "
                "DROP/RENAME COLUMN and old data files still carry "
                "them — snapshot_compact first to rewrite files to the "
                "current schema before reusing the name"
            )
    # sequence allocation (r16 review): a new segment's sequence must
    # exceed EVERY carried descriptor's, not just equal the version.
    # On an ordinary lineage max(carried) == v-1, so seq == v exactly
    # as before (every existing manifest byte-identical); on a BRANCH
    # lineage the fork carries main's descriptors (seqs up to the fork
    # point) while branch versions restart at 1 — naively stamping
    # seq=v gave branch-written files sequences BELOW pre-fork
    # deletes, which then silently suppressed rows appended after the
    # fork (and mis-scoped sequence-gated column defaults the same
    # way). max(v, carried+1) keeps branch-added segments strictly
    # after everything they were forked over, verbatim through
    # publish, and the first post-publish main commit jumps past them.
    segs = list(carry_from.get("segments", [])) if carry_from else []
    dsegs0 = (
        list(carry_from.get("delete_segments", [])) if carry_from else []
    )
    psegs0 = (
        list(pos_delete_carry)
        if pos_delete_carry is not None
        else (
            list(carry_from.get("pos_delete_segments", []))
            if carry_from
            else []
        )
    )
    seq_val = max(v, _carried_max_seq(segs, dsegs0, psegs0) + 1)
    if new_segment is not None:
        segs.append({**new_segment, "seq": seq_val})
    if segs:
        manifest["segments"] = segs
    if carry_from and carry_from.get("files"):
        manifest["files"] = carry_from["files"]  # legacy inline, verbatim
    dsegs = dsegs0
    if new_delete_segment is not None:
        # same seq as this commit's data segment: a MERGE's tombstones
        # must not apply to its own files (strict > applicability)
        dsegs.append({**new_delete_segment, "seq": seq_val})
    if dsegs:
        manifest["delete_segments"] = dsegs
    # position-delete state (r13): carried from the base like delete
    # segments (or passed explicitly by fold, whose carry_from is None)
    psegs = psegs0
    if new_pos_delete_segment is not None:
        psegs.append({**new_pos_delete_segment, "seq": seq_val})
    if psegs:
        manifest["pos_delete_segments"] = psegs
    if carry_from and carry_from.get("delete_files"):
        manifest["delete_files"] = carry_from["delete_files"]
    key = (
        delete_key
        if delete_key is not None
        else (carry_from.get("delete_key") if carry_from else None)
    )
    if key is not None and (
        manifest.get("delete_segments") or manifest.get("delete_files")
    ):
        manifest["delete_key"] = key
    tmp = _manifest_path(root, v, branch) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    try:
        os.link(tmp, _manifest_path(root, v, branch))
    except FileExistsError:
        where = f"branch {branch!r} of {root}" if branch else root
        raise CommitConflict(
            f"v{v} was committed concurrently under {where} — re-read "
            "latest and retry"
        ) from None
    finally:
        os.unlink(tmp)
    if branch is None:  # the convenience pointer tracks MAIN only
        ptr_tmp = os.path.join(root, f"_latest.tmp-{uuid.uuid4().hex[:8]}")
        with open(ptr_tmp, "w") as f:
            f.write(str(v))
        os.replace(ptr_tmp, os.path.join(root, "_latest"))
    return v


def _write_data_files(
    df: DataFrame, root: str, prefix: str = "part"
) -> list[str]:
    """Write ``df`` once as immutable parquet under a fresh uuid part
    dir; returns the relative file paths. Separated from the commit so
    a CommitConflict retry re-attempts METADATA only — the data is
    never rewritten (a conflicted-away attempt's files are unreferenced
    and reaped by an age-graced vacuum)."""
    part = f"{prefix}-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(root, "data", part)
    df.write.mode("error").parquet(out_dir)
    return [
        os.path.join("data", part, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    ]


from functools import lru_cache


@lru_cache(maxsize=1024)  # called per entry in the pruning walk
def _parse_transform(spec: str) -> tuple[str, int | None, str]:
    """Partition-transform spec → (kind, param, source column).
    ``'col'`` = identity; ``'bucket(N, col)'`` = pmod(col, N) on integer
    keys; ``'truncate(W, col)'`` = floor-to-W (numeric) / W-char prefix
    (string); ``'days(col)'`` = calendar day of a timestamp/date."""
    import re

    s = spec.strip()
    m = re.fullmatch(r"(bucket|truncate)\(\s*(\d+)\s*,\s*(\w+)\s*\)", s)
    if m:
        return m.group(1), int(m.group(2)), m.group(3)
    m = re.fullmatch(r"days\(\s*(\w+)\s*\)", s)
    if m:
        return "days", None, m.group(1)
    if not re.fullmatch(r"\w+", s):
        raise ValueError(
            f"unrecognized partition transform {spec!r} — use a column "
            "name, bucket(N, col), truncate(W, col), or days(col)"
        )
    return "identity", None, s


def _transform_expr(df: DataFrame, spec: str):
    """The directory-encoded value of one transform, as a Column. The
    write side resolves type-dependent transforms (truncate) from the
    df schema so the read side only ever compares strings."""
    kind, p, col = _parse_transform(spec)
    c = F.col(col)
    if kind == "identity":
        return c
    dt = df.schema[col].dataType.simpleString()
    if kind == "bucket":
        # pmod on integer keys, NOT a murmur hash (Iceberg's choice):
        # driver-side pruning must recompute the transform of a
        # predicate value with zero Spark round-trips, and pmod is
        # transparent + spreads sequential keys perfectly. Integer-only.
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"bucket() partitions integer keys; {col!r} is {dt}"
            )
        return F.pmod(c.cast("long"), F.lit(p))
    if kind == "truncate":
        if dt == "string":
            return F.substring(c, 1, p)
        if dt in ("tinyint", "smallint", "int", "bigint"):
            return (F.floor(c.cast("long") / p) * p).cast("long")
        raise ValueError(
            f"truncate() partitions integer/string keys; {col!r} is {dt}"
        )
    # days
    if not dt.startswith(("timestamp", "date")):
        raise ValueError(f"days() partitions timestamps; {col!r} is {dt}")
    return F.date_format(c, "yyyy-MM-dd")


def _write_partitioned_data_files(
    df: DataFrame, root: str, partition_by: list[str], prefix: str = "part"
) -> list[dict]:
    """Write ``df`` once as immutable parquet, laid out one directory
    PER PARTITION VALUE TUPLE (Hive layout under a fresh uuid part
    dir). ``partition_by`` entries are transform SPECS (see
    :func:`_parse_transform`). Returns partial entries
    [{path, partition: {spec: str_value}}].

    Transform values are written as positional ``pt{i}__pv`` directory
    columns (specs contain characters paths shouldn't) and mapped back
    to their spec in the manifest entry; the ORIGINAL columns stay in
    the DATA FILES untouched — the read path (explicit file lists, no
    partition discovery, pinned schema) is byte-identical to
    unpartitioned tables. NULL transform values land in Hive's
    default-partition dir and read back intact from the data columns
    (never partition-pruned — NULL matches no [lo, hi] conservatively)."""
    part = f"{prefix}-{uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(root, "data", part)
    pv_names = {f"pt{i}__pv": spec for i, spec in enumerate(partition_by)}
    staged = df
    for name, spec in pv_names.items():
        staged = staged.withColumn(name, _transform_expr(df, spec))
    staged.write.mode("error").partitionBy(*pv_names).parquet(out_dir)
    from urllib.parse import unquote

    entries = []
    for dirpath, _dirs, files in os.walk(out_dir):
        vals: dict[str, str] = {}
        rel_dir = os.path.relpath(dirpath, out_dir)
        if rel_dir != ".":
            for comp in rel_dir.split(os.sep):
                k, _, raw = comp.partition("=")
                if k in pv_names:
                    vals[pv_names[k]] = unquote(raw)
        for f in files:
            if f.endswith(".parquet"):
                entries.append(
                    {
                        "path": os.path.relpath(
                            os.path.join(dirpath, f), root
                        ),
                        "partition": vals,
                    }
                )
    return entries


def _file_stats(root: str, rel_files: list[str]) -> dict[str, dict]:
    """One footer read per freshly written file NOW (write time, footer
    hot) so reads never pay it. Computed ONCE per write, outside the
    commit-retry loop — a conflict retry re-links metadata, it must not
    re-read footers."""
    return {p: file_column_stats(os.path.join(root, p)) for p in rel_files}


# ---- per-file key-hash indexes (r15, VERDICT r14 item 7) -----------
#
# min/max key stats prune equality-delete/CDC preimage candidates only
# when keys CLUSTER by range; high-cardinality keys with overlapping
# ranges defeat them (every file overlaps every delete). A per-file
# SORTED KEY-HASH INDEX over the table's row-identity column closes
# that: writers that know the delete key attach a sidecar of the
# file's distinct 64-bit key hashes, sorted (<data-file>.kidx, raw
# little-endian uint64 — 8 bytes per distinct key, ~1% of typical row
# width), and tag the entry {"kidx": {"col", "n"}}. Delete/CDC
# planners hash the commit's (small) key set once and probe each
# candidate with a sorted intersection — EXACT file skipping, no
# false-positive floor. (A bloom was the first draft; its per-key fpp
# compounds across a BATCH probe — 1000 delete keys × 6% fpp ≈ every
# file false-positives — so it can never skip under realistic batch
# deletes. Real engines reach the same conclusion: point lookups get
# blooms, batch deletes get indexes/deletion vectors.)
# Hash: splitmix64 for integer keys (numpy-vectorized at write),
# sha256-first-8-bytes for strings — both pure-Python-computable at
# probe time (the streaming runner has no JVM). Files without an
# index stay candidates (the usual conservatism); sidecars are reaped
# by vacuum's empty-dir sweep once their data file goes unreachable.
# At a 100 TB deployment the per-file hashing below moves into the
# write tasks; here it is one pyarrow pass per fresh file, key column
# only, footer-hot.

_U64 = (1 << 64) - 1


def _splitmix64_np(arr):
    import numpy as np

    x = arr.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _key_hash_py(value) -> int:
    """Probe-side scalar twin of the write-side hashing."""
    import hashlib

    if isinstance(value, bool) or not isinstance(value, int):
        return int.from_bytes(
            hashlib.sha256(str(value).encode()).digest()[:8], "little"
        )
    x = (value + 0x9E3779B97F4A7C15) & _U64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _U64
    return x ^ (x >> 31)


def _key_list(key) -> list[str]:
    """Normalize a row-identity spec — ``'k'`` or ``['k1', 'k2']`` —
    to an ORDERED column-name list (r16, VERDICT r15 item 2: the whole
    MOR/merge/CDC tier now takes composite keys; a single string stays
    the manifest wire format for one-column tables so every existing
    lineage and ledger hash is untouched)."""
    if isinstance(key, str):
        return [key]
    kl = [str(k) for k in key]
    if not kl:
        raise ValueError("row-identity key list is empty")
    if len(set(kl)) != len(kl):
        raise ValueError(f"row-identity key list repeats a column: {kl}")
    return kl


def _key_store(kl: list[str]):
    """The manifest representation: bare string for a single column
    (backward-compatible bytes), ordered list for a composite key."""
    return kl[0] if len(kl) == 1 else kl


def _mix2_py(a: int, b: int) -> int:
    """Order-sensitive combine of two 64-bit hashes (splitmix64 of the
    xor, with the rotated accumulator breaking symmetry)."""
    a = ((a << 1) | (a >> 63)) & _U64
    x = ((a ^ b) + 0x9E3779B97F4A7C15) & _U64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _U64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _U64
    return x ^ (x >> 31)


def _mix2_np(a, b):
    """Vectorized twin of :func:`_mix2_py` (element-wise uint64)."""
    import numpy as np

    with np.errstate(over="ignore"):
        a = (a << np.uint64(1)) | (a >> np.uint64(63))
        x = (a ^ b) + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _key_tuple_hash_py(vals) -> int:
    """Probe-side hash of one COMPOSITE key tuple: per-column scalar
    hashes folded left-to-right (column order is the identity's
    declared order, so (a, b) and (b, a) index differently)."""
    acc = _key_hash_py(vals[0])
    for v in vals[1:]:
        acc = _mix2_py(acc, _key_hash_py(v))
    return acc


def _hash_arrow_column(distinct):
    """uint64 hash array for one Arrow column (int → splitmix64 with
    the probe-consistent mod-2^64 wrap, string → sha256 first 8 bytes);
    None for types with no canonical hash."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    t = distinct.type
    if pa.types.is_integer(t):
        # safe=False: an unsigned-64 value above 2^63 wraps mod 2^64,
        # which is exactly what the probe-side _key_hash_py computes
        # from the python int — a safe cast would raise ArrowInvalid
        # and (pre-r16) crash the whole commit for an optional index
        return _splitmix64_np(
            distinct.cast(pa.int64(), safe=False).to_numpy(
                zero_copy_only=False
            )
        )
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return np.fromiter(
            (
                int.from_bytes(
                    hashlib.sha256(str(v).encode()).digest()[:8],
                    "little",
                )
                for v in distinct.to_pylist()
            ),
            dtype=np.uint64,
            count=len(distinct),
        )
    return None


def _file_key_hashes(root: str, rel_path: str, kl: list[str]):
    """One data file's DISTINCT key hashes as a sorted uint64 array
    (pyarrow, key columns only) — the computation behind the kidx
    sidecars, also used directly by the clause-merge conflict check
    when an interleaved commit's file has no sidecar. None when the
    keys cannot be hashed (column absent, exotic type)."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    try:
        tbl = pq.read_table(os.path.join(root, rel_path), columns=kl)
        if len(kl) > 1:
            tbl = tbl.drop_null().group_by(kl).aggregate([])
            hashes = None
            for k in kl:
                h = _hash_arrow_column(tbl.column(k).combine_chunks())
                if h is None:
                    return None
                hashes = h if hashes is None else _mix2_np(hashes, h)
        else:
            distinct = pc.unique(
                tbl.column(kl[0]).combine_chunks()
            ).drop_null()
            hashes = _hash_arrow_column(distinct)
            if hashes is None:
                return None
        return np.sort(hashes)
    except Exception:
        return None


def _write_key_indexes(
    root: str, rel_paths: list[str], key_cols
) -> dict[str, dict]:
    """Build per-file sorted key-hash index sidecars for freshly
    written data files (pyarrow, key columns only). ``key_cols`` is a
    column name or an ordered list (composite identity, r16 — the
    tuple hash is the per-column hashes folded in order; rows with a
    NULL in any key column are excluded, they can never equal a delete
    key under SQL equality). Returns {rel_path: {"col", "n"}} for
    files that got one; ``col`` is the bare name for single-column
    keys (pre-r16 sidecars unchanged) and the list for composites."""
    kl = _key_list(key_cols)
    out: dict[str, dict] = {}
    for p in rel_paths:
        # the index is OPTIONAL — any per-file failure (key column
        # absent in a pre-evolution shape, an exotic type, an unsigned
        # value above 2^63) skips THAT file only; it stays a permanent
        # candidate, it must not fail the commit or abandon the other
        # files' indexes (ADVICE r15)
        try:
            hashes = _file_key_hashes(root, p, kl)
            if hashes is None:
                continue  # no canonical hash for this type/shape
            side = os.path.join(root, p + ".kidx")
            tmp = side + ".tmp"
            hashes.astype("<u8").tofile(tmp)
            os.replace(tmp, side)
        except Exception:
            continue
        out[p] = {"col": _key_store(kl), "n": int(len(hashes))}
    return out


def _pa_row_key_hashes(paths: list[str], kl: list[str]):
    """Per-ROW (non-distinct) key hashes across parquet files, one
    pyarrow pass over the key columns only: returns
    ``(n_nonnull, n_null, hashes | None)`` where ``hashes`` covers the
    null-free key rows (None when the type has no canonical hash).
    Returns None when any file cannot be read — callers fall back to
    the Spark path. r17 (guide §5: the driver should do almost no data
    work, but a merge SOURCE is O(batch) by contract and its key
    columns are already being read here for the kidx sidecars)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        tbl = pa.concat_tables(
            [pq.read_table(p, columns=kl) for p in paths]
        )
        nonnull = tbl.drop_null()
        n_null = len(tbl) - len(nonnull)
        hashes = None
        for k in kl:
            h = _hash_arrow_column(nonnull.column(k).combine_chunks())
            if h is None:
                return len(nonnull), n_null, None
            hashes = h if hashes is None else _mix2_np(hashes, h)
        return len(nonnull), n_null, hashes
    except Exception:
        return None


def _pa_write_del_table(root: str, keys) -> list[str]:
    """Write one delete-key parquet file from an in-memory pyarrow
    table; returns the relative file list for the delete segment."""
    import pyarrow.parquet as pq

    part = f"del-{uuid.uuid4().hex[:12]}"
    os.makedirs(os.path.join(root, "data", part))
    rel = os.path.join(
        "data", part, f"part-00000-{uuid.uuid4().hex[:8]}.parquet"
    )
    pq.write_table(keys, os.path.join(root, rel))
    return [rel]


def _pa_write_key_file(
    root: str, paths: list[str], kl: list[str]
) -> list[str]:
    """Write a merge's delete-key file directly with pyarrow from the
    just-written data files' key columns — identical content to the old
    ``spark.read(...).select(keys).write`` round trip (every source
    row's keys, nulls included; readers drop nulls), without the Spark
    job. Returns the relative file list for the delete segment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = pa.concat_tables([pq.read_table(p, columns=kl) for p in paths])
    return _pa_write_del_table(root, keys)


def _clause_audit_del_fast(root: str, fam_dirs: list[str], kl: list[str]):
    """ONE pyarrow pass over the materialized clause-family files (r17,
    VERDICT r16 item 5): the partial-key audit and the distinct
    delete-key file both derive from the flat ``__mrgk_*`` key columns
    + the window-computed ``__n_tot`` that the family queries now
    materialize — replacing the old audit's SECOND full pass over the
    target (cur semi-join + groupBy + collect) and the Spark
    read-back+rewrite of the tombstone keys. Exact values end to end
    (pyarrow group_by, no hashing). Returns the delete-segment file
    list, or None to fall back to the Spark path; raises the same
    partial-key ValueError on a genuine violation."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    kcols = [f"__mrgk_{i}" for i in range(len(kl))]
    try:
        tables = []
        for d in fam_dirs:
            for f in os.listdir(d):
                if f.startswith("part-") and f.endswith(".parquet"):
                    tables.append(
                        pq.read_table(
                            os.path.join(d, f), columns=kcols + ["__n_tot"]
                        )
                    )
        if not tables:
            return []
        t = pa.concat_tables(tables)
        if len(t) == 0:
            return []
        # audit over null-free key rows only — mirrors the Spark
        # audit's inner join on key equality, which never compared
        # null-key groups
        nn = t.drop_null()
        if len(nn):
            g = nn.group_by(kcols).aggregate(
                [("__n_tot", "min"), ("__n_tot", "count")]
            )
            n_aff = pc.cast(g.column("__n_tot_count"), "int64")
            n_tot = pc.cast(g.column("__n_tot_min"), "int64")
            bad = pc.not_equal(n_aff, n_tot).to_pylist()
            if any(bad):
                i = bad.index(True)
                badkey = tuple(
                    g.column(c)[i].as_py() for c in kcols
                )
                raise ValueError(
                    f"merge clause affects {n_aff[i].as_py()} of "
                    f"{n_tot[i].as_py()} rows for key "
                    f"{badkey!r} — duplicate-key targets where a "
                    "condition splits a key's rows cannot be expressed "
                    "with key-granular tombstones; use predicate "
                    "UPDATE/DELETE WHERE instead"
                )
        keys = (
            t.select(kcols)
            .group_by(kcols)
            .aggregate([])
            .rename_columns(kl)
        )
        return _pa_write_del_table(root, keys)
    except ValueError:
        raise
    except Exception:
        return None


def _source_keys_clean_fast(paths: list[str], kl: list[str]) -> bool:
    """pyarrow FAST PATH for the MERGE source-uniqueness rule: True
    means PROVABLY clean (zero NULL keys and all per-row key hashes
    distinct — hash-distinct implies key-distinct); False means
    UNKNOWN (unreadable, unhashable type, or duplicate hashes — which
    may be a 2^-64 collision), in which case the caller must run the
    exact Spark aggregation. Replaces one Spark job per MERGE in the
    common clean-source case (r17, VERDICT r16 item 5: the live-drain
    entries pay one such job per micro-batch)."""
    import numpy as np

    res = _pa_row_key_hashes(paths, kl)
    if res is None:
        return False
    n_nonnull, n_null, hashes = res
    return (
        n_null == 0
        and hashes is not None
        and len(np.unique(hashes)) == n_nonnull
    )


def _kidx_hash_set(values):
    """Delete keys → sorted uint64 hash array (computed once per
    commit; keys are small by construction). Scalars are single-column
    keys; tuples/lists are composite keys (folded per-column hash,
    r16)."""
    import numpy as np

    return np.sort(
        np.fromiter(
            (
                _key_tuple_hash_py(v)
                if isinstance(v, (tuple, list))
                else _key_hash_py(v)
                for v in values
                if v is not None
                and not (
                    isinstance(v, (tuple, list)) and any(
                        x is None for x in v
                    )
                )
            ),
            dtype=np.uint64,
        )
    )


def _kidx_may_contain(root: str, entry: dict, key, probe) -> bool:
    """Probe one entry's key-hash index against the delete keys'
    sorted hash array. ``key`` is a column name or ordered list (it
    must match the columns the sidecar was built over). True
    (candidate) on any doubt: no index recorded, index over a
    different column set, or sidecar unreadable. Exact otherwise
    (64-bit hash collisions aside, ~2^-40 per probe)."""
    import numpy as np

    kb = entry.get("kidx")
    if (
        not kb
        or kb.get("col") is None
        or _key_list(kb["col"]) != _key_list(key)
        or probe is None
        or not len(probe)
    ):
        return True
    try:
        side = np.fromfile(
            os.path.join(root, entry["path"] + ".kidx"), dtype="<u8"
        )
    except OSError:
        return True
    if not len(side):
        return False  # indexed empty file: cannot hold a preimage
    idx = np.searchsorted(side, probe)
    idx[idx >= len(side)] = len(side) - 1
    return bool((side[idx] == probe).any())


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    mode: str = "append",
    retries: int = _COMMIT_RETRIES,
    partition_by: list[str] | None = None,
    branch: str | None = None,
) -> int:
    """Write ``df`` as new immutable data files and commit a snapshot.
    ``mode='append'``: new version = prior file list + the new files
    (history untouched); add-column schema evolution is allowed, type
    changes are refused. ``mode='overwrite'``: new version lists ONLY
    the new files; old files stay on disk, reachable through older
    manifests until vacuum. Data files are written ONCE; the metadata
    commit retries on concurrent-writer conflicts (bounded). Returns
    the committed version number.

    ``partition_by`` (r13): lay this write's files out one-directory-
    per-partition-tuple and record each entry's partition values in the
    manifest — ``snapshot_read_pruned`` then skips whole SEGMENTS whose
    descriptor summary excludes the predicate and whole entries by
    exact partition value, BEFORE any min/max stats test. Per-write and
    advisory: mixing partitioned and unpartitioned commits is sound
    (unpartitioned entries just aren't partition-prunable)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if branch is not None and latest_version(root, branch) == 0:
        raise ValueError(
            f"branch {branch!r} does not exist under {root} — "
            "snapshot_branch it first (write-audit-publish starts at a "
            "recorded fork point)"
        )
    if partition_by == "table":
        # follow the table's RECORDED spec (r16, spec evolution): the
        # SQL INSERT path and spec-following writers lay out under
        # whatever snapshot_evolve_partition_spec last recorded
        _b0 = latest_version(root, branch)
        partition_by = (
            _read_manifest(root, _b0, branch).get("partition_spec")
            if _b0
            else None
        ) or None
    if partition_by:
        partial = _write_partitioned_data_files(df, root, partition_by)
    else:
        partial = [{"path": p} for p in _write_data_files(df, root)]
    new_files = [e["path"] for e in partial]
    # CHECK constraints (r13): validated on the WRITTEN files (footer-
    # hot, one conditional-count pass), never by re-executing ``df`` —
    # a non-deterministic source would otherwise pass validation on
    # rows that differ from the ones committed. A refused write leaves
    # only unreferenced files for the age-graced vacuum.
    cons = table_constraints(root, branch=branch)
    if cons:
        _enforce_constraints(
            df.sparkSession.read.parquet(
                *[os.path.join(root, p) for p in new_files]
            ),
            cons,
            f"snapshot_write({mode}) into {root}",
        )
    new_stats = _file_stats(root, new_files)
    new_schema = _schema_of(df)
    # key blooms: only once the table has a row identity (delete_key)
    base0 = latest_version(root, branch)
    dkey = (
        _read_manifest(root, base0, branch).get("delete_key")
        if base0
        else None
    )
    kidxs = (
        _write_key_indexes(root, new_files, dkey) if dkey else {}
    )
    seg = _write_segment(
        root,
        [
            {
                **e,
                "stats": new_stats[e["path"]],
                **(
                    {"kidx": kidxs[e["path"]]}
                    if e["path"] in kidxs
                    else {}
                ),
            }
            for e in partial
        ],
    )

    validated = {"cons": cons}

    def attempt() -> int:
        base = latest_version(root, branch)
        pm = None
        prior = _read_manifest(root, base, branch) if base > 0 else None
        schema = new_schema
        # TOCTOU guard (review r13): a constraint added CONCURRENTLY
        # (between the pre-write validation and this commit attempt)
        # would otherwise be carried into a manifest whose own new rows
        # were never checked against it — validate against the delta
        # before committing under it.
        prior_cons = (prior or {}).get("constraints") or {}
        if prior_cons != validated["cons"]:
            _enforce_constraints(
                df.sparkSession.read.parquet(
                    *[os.path.join(root, p) for p in new_files]
                ),
                prior_cons,
                f"snapshot_write({mode}) into {root} (constraints "
                "changed concurrently)",
            )
            validated["cons"] = prior_cons
        if mode == "append" and prior is not None:
            pm = prior
            # appending to a LEGACY (schema-less) lineage: the prior
            # files' true schema is unknown here, so pinning the
            # incoming df's schema would silently drop legacy-only
            # columns from every future read AND skip the type-change
            # refusal (review r12). Commit schema-less — reads stay
            # inferred, the legacy status quo — until an overwrite or
            # compact establishes a recorded schema.
            schema = (
                _merge_schema(pm["schema"], new_schema)
                if pm.get("schema") is not None
                else None
            )
        return _commit(
            root,
            base,
            mode,
            carry_from=pm,
            new_segment=seg,
            schema=schema,
            partition_spec=list(partition_by) if partition_by else None,
            # overwrite replaces DATA, never the table's constraints
            # (carry_from is None there, so carry them explicitly)
            constraints=(prior or {}).get("constraints"),
            branch=branch,
            # every branch manifest re-records its fork point so
            # publish can validate WAP without walking the lineage
            extra=(
                {"forked_from": (prior or {}).get("forked_from")}
                if branch is not None
                else None
            ),
        )

    return snapshot_commit_retry(attempt, retries)


def commit_append_files(
    root: str,
    new_files: list[str],
    op: str,
    schema: list[list[str]],
    retries: int = _COMMIT_RETRIES,
    validated: bool = False,
) -> int:
    """Commit PRE-WRITTEN parquet files (relative paths) as an append
    snapshot — the streaming-ingest path (a15c), where the caller
    writes each micro-batch's files idempotently under a deterministic
    batch dir and tags the op (``append:b{batch_id}``). Same schema
    rules, stats capture, and bounded conflict retry as
    :func:`snapshot_write`. This raw path has no SparkSession to
    validate CHECK constraints with, so a constraint-bearing table
    REFUSES it unless the caller passes ``validated=True`` after
    checking the batch itself — silent unenforced appends would make
    the constraint a lie."""
    if not validated and table_constraints(root):
        raise ValueError(
            f"table {root} carries CHECK constraints "
            f"{sorted(table_constraints(root))} — validate the batch and "
            "pass validated=True (commit_append_files cannot check files "
            "itself)"
        )
    new_stats = _file_stats(root, new_files)
    seg = _write_segment(
        root, [{"path": p, "stats": new_stats[p]} for p in new_files]
    )

    def attempt() -> int:
        base = latest_version(root)
        pm = None
        merged = schema
        if base > 0:
            pm = _read_manifest(root, base)
            # legacy schema-less lineage: stay schema-less (see
            # snapshot_write) rather than silently adopting the
            # incoming schema over unknown prior columns
            merged = (
                _merge_schema(pm["schema"], schema)
                if pm.get("schema") is not None
                else None
            )
        return _commit(
            root,
            base,
            op,
            carry_from=pm,
            new_segment=seg,
            schema=merged,
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_convert(spark: SparkSession, root: str) -> int:
    """CONVERT an existing plain-parquet directory into a snapshot
    table IN PLACE (r16 — Delta's ``CONVERT TO DELTA parquet.`path```,
    the migration verb): commit a v1 manifest that references the
    directory's parquet files where they already sit — ZERO bytes
    rewritten, O(files) footer reads for stats. At 100 TB this is the
    difference between adopting the format today and a week-long
    rewrite. After converting, every verb works: time travel starts at
    the conversion, DML/MERGE/CDC/constraints/clone all apply.

    Hive-partitioned layouts (``day=.../part-*.parquet``) are REFUSED:
    their partition values live only in directory names, and this
    engine's explicit-file-list readers would silently drop the
    column — rewrite through CTAS with ``partition_by`` instead (which
    also records the spec for pruning). Schema is taken from Spark's
    merged read of all files; files with irreconcilable schemas fail
    that read loudly. Concurrent conversion attempts race on the v1
    commit; one wins (create-exclusive manifest link)."""
    if versions(root):
        raise ValueError(
            f"{root} already holds snapshots "
            f"(latest v{latest_version(root)}) — convert targets a "
            "plain parquet directory"
        )
    rel_files: list[str] = []
    for dirpath, dirs, files in os.walk(root):
        for d in list(dirs):
            if "=" in d:
                raise ValueError(
                    f"{root} is hive-partitioned ({os.path.join(dirpath, d)!r}) — "
                    "partition values live only in directory names, "
                    "which the explicit-file-list read path cannot "
                    "reproduce; CTAS with partition_by instead"
                )
        for f in files:
            if f.endswith(".parquet"):
                rel_files.append(
                    os.path.relpath(os.path.join(dirpath, f), root)
                )
    if not rel_files:
        raise ValueError(f"no parquet files under {root}")
    rel_files.sort()
    # mergeSchema (r16 review): without it Spark infers from ONE
    # arbitrary footer and silently drops columns the other files
    # carry — the recorded schema would make them unreadable forever
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(root, p) for p in rel_files]
    )
    schema = _schema_of(df)
    # retries=0 (r16 review): a CommitConflict means a concurrent
    # convert/create won the v1 race; a retry would APPEND this
    # walker's identical file list on top, double-counting every row
    return commit_append_files(root, rel_files, "convert", schema, retries=0)


def snapshot_create_table(
    spark: SparkSession, root: str, ddl: str
) -> int:
    """CREATE an EMPTY table with a declared schema (r16 — the
    ``CREATE TABLE t (col type, ...)`` form every SQL engine ships;
    this repo previously required CTAS). One metadata-only v1 commit
    recording the schema; the first INSERT/stream lands as v2. The
    schema is validated by building an empty frame from the DDL, so a
    bad type name fails here, loudly, not at first write."""
    if versions(root):
        raise ValueError(
            f"{root} already holds snapshots "
            f"(latest v{latest_version(root)})"
        )
    schema = _schema_of(spark.createDataFrame([], ddl))
    # NO retry (r16 review): a CommitConflict here means a concurrent
    # writer created/converted the table first — retrying would commit
    # a carry-less empty v2 on top, silently truncating the winner's
    # data. Surface the conflict; the loser must pick another root.
    return _commit(root, 0, "create", schema=schema)


# hidden row-address columns carried only through position-delete reads
_POS_FILE = "__skr_file"
_POS_IDX = "__skr_pos"


def _read_files(
    spark: SparkSession,
    root: str,
    paths: list[str],
    schema: list[list[str]] | None,
    with_positions: bool = False,
    renames: dict | None = None,
) -> DataFrame:
    """Read data files under the MANIFEST's schema: files written before
    an add-column evolution lack the new columns, and pinning the read
    schema makes Spark NULL-fill them per file — one scan, no
    mergeSchema footer sweep, stable column order. Type changes were
    refused at commit, so shared columns always agree.

    A LEGACY schema-less lineage (no recorded schema) reads with
    mergeSchema instead: without it Spark infers from ONE arbitrary
    file's footer and silently drops columns the other files carry
    (review r12 — the flake that motivated recorded schemas in the
    first place). The footer sweep is the legacy tax; every r12+ commit
    records a schema and never pays it.

    ``with_positions`` (r13): append each row's address — its data
    file's ROOT-RELATIVE path and its ``_metadata.row_index`` — as
    hidden columns. The path arrives from Spark as
    ``file:<absolute>``; joining the scan on realpath(root) makes the
    prefix strip exact (symlinked roots would otherwise disagree with
    what Spark reports, and snapshot_delete_where's containment check
    would catch it loudly)."""
    base = os.path.realpath(root) if with_positions else root
    reader = spark.read
    alias_of: dict[str, tuple[str, str]] = {}  # alias → (current, type)
    if schema is not None:
        read_schema = schema
        if renames:
            # RENAME evolution (r15): files written before a rename
            # carry the OLD name — extend the pinned read schema with
            # each alias (typed like its current column; renames never
            # change types) and coalesce the chain after the scan. A
            # file holds exactly ONE name of the chain (reusing retired
            # names is refused at commit), so coalesce is exact, still
            # one scan, no footer sweep.
            types = dict(schema)
            names = set(types)
            for cur_name, olds in renames.items():
                t = types.get(cur_name)
                if t is None:
                    continue  # mapping for a column not in this schema
                for o in olds:
                    if o not in names:
                        alias_of[o] = (cur_name, t)
            read_schema = [*schema, *[[o, t] for o, (_c, t) in alias_of.items()]]
        reader = reader.schema(_schema_ddl(read_schema))
    elif len(paths) > 1:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*[os.path.join(base, p) for p in paths])
    if with_positions:
        prefix = "file:" + os.path.realpath(root) + os.sep
        df = df.select(
            "*",
            F.expr(
                f"substring(_metadata.file_path, {len(prefix) + 1}) "
                f"AS {_POS_FILE}"
            ),
            F.col("_metadata.row_index").alias(_POS_IDX),
        )
    if alias_of:
        # AFTER the _metadata projection — metadata columns resolve on
        # the scan relation, not reliably through added projections
        chain: dict[str, list[str]] = {}
        for o, (cur_name, _t) in alias_of.items():
            chain.setdefault(cur_name, []).append(o)
        for cur_name, olds in chain.items():
            # newest alias first: renames[cur] is recorded oldest-first
            order = [o for o in reversed(renames[cur_name]) if o in olds]
            df = df.withColumn(
                cur_name,
                F.coalesce(F.col(cur_name), *[F.col(o) for o in order]),
            )
        df = df.drop(*alias_of)
    return df


def _empty_frame(
    spark: SparkSession, root: str, m: dict
) -> DataFrame:
    """Schema-preserving empty DataFrame for an empty candidate set."""
    schema = m.get("schema")
    if schema is not None:
        return spark.createDataFrame([], _schema_ddl(schema))
    ents = _entries(m, root)
    if not ents:
        raise ValueError(
            f"snapshot v{m['version']} is empty — no schema to preserve"
        )
    # legacy manifest: borrow one file's schema with an always-empty read
    return spark.read.parquet(
        os.path.join(root, ents[0]["path"])
    ).limit(0)


def _dflt_cols_for(m: dict, seq) -> tuple:
    """Columns of ``m``'s initial defaults that apply to a data file of
    sequence ``seq`` — those whose ADD COLUMN commit postdates the file
    (r16). Unknown (legacy) sequences keep the pre-default NULL-fill."""
    defaults = m.get("column_defaults") or {}
    if not defaults or seq is None:
        return ()
    types = dict(m.get("schema") or [])
    return tuple(
        sorted(
            c
            for c, d in defaults.items()
            if seq < d["seq"] and c in types
        )
    )


def _with_defaults(df: DataFrame, m: dict, cols: tuple) -> DataFrame:
    """Overwrite ``cols`` with their recorded default CONSTANTS —
    exact, not coalesce: the caller guarantees every underlying file
    predates the columns, so no stored value can be clobbered. The
    frozen declare-time value is used, not a re-evaluation of the SQL
    text (r16 review): an expression like CAST(current_date() AS
    STRING) passes the immediate double-eval determinism check yet
    drifts across days/timezones — re-evaluating would make the same
    pinned version return different bytes on different days and
    diverge from streaming CDC, which ships the frozen value."""
    defaults = m.get("column_defaults") or {}
    types = dict(m.get("schema") or [])
    for c in cols:
        d = defaults[c]
        df = df.withColumn(
            c,
            (
                F.lit(d["value"])
                if "value" in d
                else F.expr(d["sql"])  # pre-"value" manifests only
            ).cast(types[c]),
        )
    return df


def _assemble(
    spark: SparkSession,
    root: str,
    m: dict,
    entries: list[dict],
    with_positions: bool = False,
) -> DataFrame:
    """The read core shared by snapshot_read / snapshot_read_pruned:
    MERGE-ON-READ with SEQUENCE SCOPING. A delete file committed at
    sequence D applies to data files with sequence < D only (Iceberg
    equality-delete rule) — rows appended after the delete, and the
    data half of the MERGE commit that carried the delete, are never
    suppressed. Data files are grouped by their applicable-delete
    horizon (at most #delete-commits + 1 groups); each group is one
    scan anti-joined against the union of its applicable key files
    (broadcast — key files are tiny relative to data), then the groups
    union. Entries with unknown sequence (legacy) take every delete.

    POSITION deletes (r13) then anti-join on the row address
    (file, row_index) — file-identity-scoped, so they never need
    sequence bookkeeping; the hidden address columns are dropped unless
    the caller asked for them (``with_positions``, the delete-where
    write path)."""
    schema = m.get("schema")
    renames = m.get("column_renames")
    dels = _delete_entries(m, root)
    # initial defaults (r16): SEQUENCE-SCOPED like equality deletes —
    # a default declared at sequence D applies exactly to data files
    # with sequence < D (they physically predate the column; retired-
    # name reuse is refused, so no stored value can be misread as
    # 'absent'). Entries with unknown sequence (legacy) keep the
    # pre-default NULL-fill. Tables without defaults group identically
    # to before — same single scan, same plan.
    pos_dels = _pos_delete_entries(m, root)
    need_pos = with_positions or bool(pos_dels)

    def applicable(e: dict) -> tuple[str, ...]:
        es = e.get("seq")
        return tuple(
            sorted(
                d["path"]
                for d in dels
                if es is None or d.get("seq") is None or d["seq"] > es
            )
        )

    groups: dict[tuple, list[str]] = {}
    for e in entries:
        groups.setdefault(
            (applicable(e), _dflt_cols_for(m, e.get("seq"))), []
        ).append(e["path"])
    parts = []
    for app, dapp in sorted(groups):
        df = _with_defaults(
            _read_files(
                spark, root, groups[(app, dapp)], schema,
                with_positions=need_pos, renames=renames,
            ),
            m,
            dapp,
        )
        if app:
            dkl = _key_list(m["delete_key"])
            keys = (
                _read_files(spark, root, list(app), None)
                .select(*dkl)
                .distinct()
            )
            df = df.join(F.broadcast(keys), dkl, "left_anti")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        # a LEGACY schema-less lineage infers each horizon group
        # independently, so groups can carry different column sets —
        # NULL-fill the union instead of raising (ADVICE r12); with a
        # recorded schema every group was read pinned, columns agree,
        # and allowMissingColumns is inert.
        out = out.unionByName(p, allowMissingColumns=schema is None)
    if pos_dels:
        addrs = (
            spark.read.parquet(
                *[os.path.join(root, p) for p in _paths(pos_dels)]
            )
            .select(
                F.col("file_path").alias(_POS_FILE),
                F.col("pos").alias(_POS_IDX),
            )
            .distinct()
        )
        out = out.join(F.broadcast(addrs), [_POS_FILE, _POS_IDX], "left_anti")
    if need_pos and not with_positions:
        out = out.drop(_POS_FILE, _POS_IDX)
    return out


def snapshot_read(
    spark: SparkSession,
    root: str,
    version: int | str | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Read the table AS OF ``version`` (default: latest) — time travel
    is nothing but reading an older manifest's file list. A STRING
    version is a tag name (r13): resolved through :func:`resolve_ref`,
    so ``snapshot_read(spark, root, 'train-2026-08')`` reads the pinned
    snapshot however much the table churned since. ``branch`` reads a
    WAP branch's lineage instead of main (the audit step). Raises
    FileNotFoundError for a vacuumed/unknown version."""
    if isinstance(version, str):
        if branch is not None:
            # tags pin MAIN versions only; branch numbering restarts at
            # 1, so resolving a tag and reading that number out of a
            # branch lineage would silently return an unrelated snapshot
            # (ADVICE r13)
            raise ValueError(
                f"tag {version!r} cannot be combined with branch="
                f"{branch!r} — tags pin main-lineage versions only"
            )
        version = resolve_ref(root, version)
    v = latest_version(root, branch) if version is None else version
    m = _read_manifest(root, v, branch)
    ents = _entries(m, root)
    if not ents:
        if m.get("schema") is not None:
            # a declared-schema empty table (CREATE TABLE (cols), r16)
            # reads as a typed empty frame, like any SQL engine
            return _empty_frame(spark, root, m)
        raise ValueError(f"snapshot v{v} is empty")
    return _assemble(spark, root, m, ents)


def snapshot_vacuum(
    root: str,
    keep_last: int = 2,
    min_age_s: float = VACUUM_GRACE_S,
    dry_run: bool = False,
) -> dict:
    """Retention: drop all but the newest ``keep_last`` manifests — plus
    every TAGGED version (r13: a named ref is a retention root, so the
    snapshot a tag pins survives however old; Iceberg's tag-retention
    rule) — then delete every data file that is BOTH unreferenced by a
    retained manifest (the reachability rule) AND older than
    ``min_age_s`` (mtime). The age grace (r12, ADVICE) is what makes
    vacuum safe around concurrency: a writer that staged data files but
    has not yet committed, a conflicted commit attempt about to retry,
    and a time-travel reader mid-scan on a just-dropped snapshot all
    hold files that are unreachable-right-now but must survive; after
    the grace they are genuinely dead. Returns {'dropped_versions':
    [...], 'deleted_files': n, 'kept_files': n, 'skipped_young': n}.

    ``dry_run`` (r16 — Delta's VACUUM DRY RUN): run the identical
    reachability + age walk, report the identical counts, delete
    NOTHING — the preview an operator wants before releasing
    retention on a 100 TB table."""
    import time

    def _reap(path: str, rmdir: bool = False) -> None:
        if dry_run:
            return
        (os.rmdir if rmdir else os.remove)(path)

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = versions(root)
    if not vs:
        # review r11: with zero manifests the reachable set is empty and
        # the walk below would delete EVERY data file — refuse loudly
        # (lost manifests dir, wrong root, vacuum before first commit).
        raise ValueError(
            f"no manifests under {root} — refusing to vacuum (an empty "
            "reachable set would delete every data file)"
        )
    # tags pin their versions (dangling tags — pre-tag-era vacuums —
    # contribute nothing; intersecting with vs keeps the walk honest)
    pinned = {v for v in list_tags(root).values() if v in vs}
    keep_set = set(vs[-keep_last:]) | pinned
    keep = sorted(keep_set)
    drop = [v for v in vs if v not in keep_set]
    reachable: set[str] = set()
    reachable_meta: set[str] = set()
    def _mark(m: dict) -> None:
        reachable.update(_paths(_entries(m, root)))
        reachable.update(_paths(_delete_entries(m, root)))
        reachable.update(_paths(_pos_delete_entries(m, root)))
        reachable_meta.update(d["path"] for d in m.get("segments", []))
        reachable_meta.update(d["path"] for d in m.get("delete_segments", []))
        reachable_meta.update(
            d["path"] for d in m.get("pos_delete_segments", [])
        )

    for v in keep:
        _mark(_read_manifest(root, v))
    # live BRANCH lineages are reachability roots too (r13): their
    # staged-but-unpublished files must survive main's retention; a
    # dropped branch releases them to the ordinary age-graced reaping
    for d in os.listdir(root):
        if d.startswith("manifests-b-"):
            bname = d[len("manifests-b-"):]
            for v in versions(root, bname):
                _mark(_read_manifest(root, v, bname))
    deleted = 0
    skipped_young = 0
    now = time.time()

    def young(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) < min_age_s
        except OSError:
            return True  # vanished mid-walk: treat as not ours to reap

    # Drop manifests FIRST (review r12): a crash between file reaping
    # and manifest removal would leave a retained-looking manifest whose
    # segments/data are already gone — snapshot_read AND snapshot_history
    # (which walks every retained version) would raise until a later
    # vacuum re-dropped it. Removing the manifest first fails the safe
    # way: a crash leaves orphan FILES, which the next vacuum reaps.
    for v in drop:
        _reap(_manifest_path(root, v))
    # streaming-CDC plan sidecars (<root>/_cdcplan/v{v}-*.u64, r16):
    # tiny per-merge-commit verdict hash sets, keyed by version — reap
    # the ones whose version just left retention (a restarted stream
    # can no longer plan a dropped range anyway)
    plan_dir = os.path.join(root, "_cdcplan")
    if os.path.isdir(plan_dir):
        for f in os.listdir(plan_dir):
            mm = re.match(r"v(\d+)-", f)
            if mm and int(mm.group(1)) in set(drop):
                try:
                    _reap(os.path.join(plan_dir, f))
                except OSError:
                    pass
    data_root = os.path.join(root, "data")
    for dirpath, _dirs, files in os.walk(data_root, topdown=False):
        # separator-anchored prefix test (review r11: bare startswith let
        # reachable 'data/batch-10/...' shield dead 'data/batch-1/')
        rel_dir = os.path.relpath(dirpath, root)
        dir_reachable = any(r.startswith(rel_dir + os.sep) for r in reachable)
        for f in files:
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, root)
            if f.endswith(".parquet") and rel not in reachable:
                if young(full):
                    skipped_young += 1
                    continue
                _reap(full)
                deleted += 1
                # Hadoop local-FS checksum sibling of the deleted file
                crc = os.path.join(dirpath, f".{f}.crc")
                if os.path.exists(crc):
                    _reap(crc)
            elif (
                not f.endswith(".parquet")
                and not dir_reachable
                and dirpath != data_root
            ):
                # _SUCCESS/.crc markers of a fully-unreferenced part dir
                # (the walk's file list was snapshotted before the
                # parquet branch removed crc siblings — tolerate gone)
                if os.path.exists(full):
                    if young(full):
                        skipped_young += 1
                    else:
                        _reap(full)
        if dirpath != data_root and not os.listdir(dirpath):
            _reap(dirpath, rmdir=True)
    # metadata segments: same reachability + age-grace rule as data.
    # Non-.json names here are crash residue (a writer died between
    # _write_segment's dump and its os.replace) — unreferenced by
    # construction, reaped once old enough (review r12: the .json
    # filter used to skip them forever).
    seg_root = _segment_dir(root)
    if os.path.isdir(seg_root):
        for f in os.listdir(seg_root):
            rel = os.path.join("segments", f)
            full = os.path.join(seg_root, f)
            if rel in reachable_meta:
                continue
            if young(full):
                skipped_young += 1
            else:
                _reap(full)
    # manifest-dir / pointer crash residue: v{N}.json.tmp-* (a crash
    # between _commit's dump and its create-exclusive link — the
    # finally-unlink never ran) and _latest.tmp-* (between pointer write
    # and swap) — never referenced, reaped once old enough
    residue = [
        os.path.join(_manifest_dir(root), f)
        for f in os.listdir(_manifest_dir(root))
        if ".tmp-" in f or f.endswith(".tmp")
    ] + [
        os.path.join(root, f)
        for f in os.listdir(root)
        if f.startswith("_latest.tmp-")
    ] + (
        # refs-dir crash residue: a tagger that died between its dump
        # and the create-exclusive link (r13)
        [
            os.path.join(_refs_dir(root), f)
            for f in os.listdir(_refs_dir(root))
            if ".tmp-" in f
        ]
        if os.path.isdir(_refs_dir(root))
        else []
    )
    for full in residue:
        if young(full):
            skipped_young += 1
        else:
            _reap(full)
    return {
        "dropped_versions": drop,
        "deleted_files": deleted,
        "kept_files": len(reachable),
        "skipped_young": skipped_young,
    }


def snapshot_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """FILE-LEVEL change-data capture between two snapshots: the rows
    added between ``from_version`` and ``to_version``, read from ONLY
    the manifest file-list diff — for append commits this is exact
    row-level CDC with ZERO data diffing (the new files ARE the new
    rows; Delta's CDF for append-only workloads works the same way).
    Refuses non-append histories: after an overwrite, delete, or merge,
    a file diff is a layout diff, not a row diff — that case needs
    c2d's snapshot-diff (key-level compare), and silently returning it
    as 'changes' would be wrong-answer territory."""
    if to_version <= from_version:
        raise ValueError("to_version must be > from_version")
    m_to = _read_manifest(root, to_version)
    frm = set(_paths(_entries(_read_manifest(root, from_version), root)))
    for v in range(from_version + 1, to_version + 1):
        m = _read_manifest(root, v)
        # tagged appends ("append:b<batch_id>", the a15c idempotent
        # streaming commits) are appends for CDC purposes
        if not m["operation"].startswith("append"):
            raise ValueError(
                f"v{v} is '{m['operation']}', not append — file-diff CDC "
                "is only row-exact over append-only history; use a "
                "key-level snapshot diff instead"
            )
    added = sorted(set(_paths(_entries(m_to, root))) - frm)
    if not added:
        raise ValueError(
            f"no files added between v{from_version} and v{to_version}"
        )
    df = _read_files(spark, root, added, m_to.get("schema"))
    # A carried LEGACY delete file (seq None, committed at or before
    # from_version — anything later would have tripped the append-only
    # refusal above) suppresses keys in ALL data files including these
    # new appends, so rows matching its keys were never visible in any
    # snapshot of the range (ADVICE r12). Anti-join them out so CDC
    # emits exactly the rows a reader of to_version gained. Sequence-
    # scoped deletes need no handling: added files postdate them.
    legacy_dels = [
        d["path"]
        for d in _delete_entries(m_to, root)
        if d.get("seq") is None
    ]
    if legacy_dels:
        dkl = _key_list(m_to["delete_key"])
        keys = (
            _read_files(spark, root, legacy_dels, None)
            .select(*dkl)
            .distinct()
        )
        df = df.join(F.broadcast(keys), dkl, "left_anti")
    return df


def _read_key_values(root: str, rel_paths: list[str], key) -> list:
    """Non-null key values across the named key files (pyarrow, key
    columns only — bounded by the commit's own key files). A composite
    ``key`` (list) yields TUPLES in key order; rows with any NULL key
    column are skipped (they can never equal a live key under SQL
    equality)."""
    import pyarrow.parquet as pq

    kl = _key_list(key)
    vals: list = []
    for p in rel_paths:
        tbl = pq.read_table(os.path.join(root, p), columns=kl)
        if len(kl) == 1:
            vals.extend(tbl.column(kl[0]).drop_null().to_pylist())
        else:
            tbl = tbl.drop_null()
            cols = [tbl.column(k).to_pylist() for k in kl]
            vals.extend(zip(*cols))
    return vals


def _key_file_ranges(root: str, key_files: list[str], kl: list[str]):
    """Per-column (min, max) across equality-delete key files —
    {col: (lo, hi)}; a column with no comparable values maps to
    (None, None) (pruning disabled for that column). ONE pyarrow read
    of all key columns per file (review r16: the per-column wrapper
    re-opened every key file once per column)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict = {k: (None, None) for k in kl}
    try:
        for p in key_files:
            tbl = pq.read_table(os.path.join(root, p), columns=kl)
            for k in kl:
                col = tbl.column(k)
                if len(col) == 0 or col.null_count == len(col):
                    continue
                mm = pc.min_max(col).as_py()
                lo, hi = out[k]
                out[k] = (
                    mm["min"] if lo is None else min(lo, mm["min"]),
                    mm["max"] if hi is None else max(hi, mm["max"]),
                )
    except Exception:
        return {k: (None, None) for k in kl}  # pruning off, never wrong
    return out


def _stats_overlap_all(stats, ranges: dict) -> bool:
    """Conjunction of per-key-column range overlap: a file can hold a
    matching COMPOSITE key only if EVERY key column's recorded
    [min, max] overlaps that column's delete-key range — a necessary
    condition, so skipping on any disjoint column is exact."""
    for col, (lo, hi) in ranges.items():
        if not _stats_overlap((stats or {}).get(col), lo, hi):
            return False
    return True


def _stats_overlap(st, lo, hi) -> bool:
    """Can a file with recorded [min, max] ``st`` hold a key in
    [lo, hi]? True (candidate) when stats or bounds are absent or
    incomparable — pruning is an optimization, never a filter."""
    if lo is None or not (
        isinstance(st, list) and len(st) == 2
    ) or st[0] is None or st[1] is None:
        return True
    try:
        return not (st[1] < lo or st[0] > hi)
    except TypeError:
        return True


def snapshot_row_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """ROW-LEVEL change-data feed across NON-APPEND commits (r14,
    VERDICT item 7 — Delta CDF's row events, public design, synthesized
    at READ time from the MOR state instead of materialized CDC files):
    for every commit in (from_version, to_version], emit the table's
    rows with ``_change_type`` ∈ {insert, delete, update_preimage,
    update_postimage} and ``_commit_version``. Per-commit synthesis is
    a STATE DIFF against the predecessor manifest:

    * new data files only                  → ``insert`` (the new rows)
    * new equality-delete file only        → ``delete`` — preimage =
      the v-1 view semi-joined to the delete keys (the only O(scan)
      case; key filter is broadcast)
    * new position-delete file only        → ``delete`` — preimage =
      ONLY the addressed files, inner-joined on (file, row_index):
      O(files touched), never a table scan
    * new data + equality delete (MERGE)   → keys present on both
      sides split into ``update_preimage``/``update_postimage``;
      source-only keys are ``insert``
    * new data + position delete (UPDATE)  → all preimage rows
      ``update_preimage``, all new rows ``update_postimage``
    * row-preserving rewrites (compact / cluster / fold / metadata
      ops) → zero events, stream continues
    * overwrite / restore                  → refused: file provenance
      cannot say which ROWS changed (same rule snapshot_changes
      applies; Delta CDF without CDC files refuses these too)

    Output schema = to_version's recorded schema (earlier commits'
    rows NULL-fill columns added later) + the two change columns.
    Needs every manifest in [from_version, to_version] retained
    (vacuum raises FileNotFoundError). The append-only fast path
    stays :func:`snapshot_changes` (zero joins)."""
    if to_version <= from_version:
        raise ValueError("to_version must be > from_version")
    if from_version < 0:
        raise ValueError("from_version must be >= 0")
    m_to = _read_manifest(root, to_version)
    out_schema = m_to.get("schema")
    if out_schema is None:
        raise CdcRangeError(
            f"table {root} has no recorded schema (legacy lineage) — "
            "row-level CDC needs one; compact/overwrite once"
        )
    out_cols = [c for c, _t in out_schema]
    out_types = dict(out_schema)
    # rename mapping of the OUTPUT schema (r15): a pre-rename commit's
    # rows carry the old name — project them under the new one instead
    # of NULL-filling (newest alias wins, same rule as _read_files).
    # The mapping is the UNION across every manifest in the range, not
    # just to_version's: a compact inside the range clears the head's
    # mapping (carry-less commit) while earlier commits' rows still
    # carry old names (review r15 — to_version-only silently
    # NULL-filled them post-compact). A name REUSED for a different
    # logical column (dropped/renamed-away, then re-added after a
    # compact) makes old files' bytes answer for the new column — no
    # name-based mapping can disambiguate that, so it refuses loudly.
    out_renames: dict[str, list[str]] = {}
    union_retired: set[str] = set()
    for _v in range(max(from_version, 1), to_version + 1):
        try:
            _mv = _read_manifest(root, _v)
        except (FileNotFoundError, OSError):
            continue  # the main walk fails loudly on a vacuumed range
        for _new, _olds in (_mv.get("column_renames") or {}).items():
            acc = out_renames.setdefault(_new, [])
            for _o in _olds:
                if _o not in acc:
                    acc.append(_o)
        union_retired.update(_mv.get("retired_columns") or [])
    _alias_names = {o for olds in out_renames.values() for o in olds}
    _reused = [
        c
        for c in out_cols
        if c in union_retired
        or (c in _alias_names and c not in out_renames)
    ]
    if _reused:
        raise CdcRangeError(
            f"column name(s) {_reused} were retired/renamed-away and "
            "re-introduced within this CDC range — old files' bytes "
            "under that name belong to a DIFFERENT logical column, so "
            "row-level CDC cannot span the reuse; start the feed after "
            "the re-introduction"
        )

    def align(df: DataFrame, ctype: str, v: int) -> DataFrame:
        def col_expr(c: str):
            if c in df.columns:
                return F.col(c).cast(out_types[c])
            for a in reversed(out_renames.get(c, [])):
                if a in df.columns:
                    return F.col(a).cast(out_types[c])
            return F.lit(None).cast(out_types[c])

        return df.select(
            *[col_expr(c).alias(c) for c in out_cols],
            F.lit(ctype).alias("_change_type"),
            F.lit(v).cast("bigint").alias("_commit_version"),
        )

    parts: list[DataFrame] = []
    # from_version=0 = "from genesis" (Delta's startingVersion 0): the
    # predecessor is the empty table, so v1's commit diffs as pure
    # inserts — including a genesis OVERWRITE, which replaces nothing
    prev = {"version": 0} if from_version == 0 else _read_manifest(
        root, from_version
    )
    for v in range(from_version + 1, to_version + 1):
        m = _read_manifest(root, v)
        op = m["operation"]
        d_prev = {e["path"] for e in _entries(prev, root)}
        new_data = [
            e for e in _entries(m, root) if e["path"] not in d_prev
        ]
        removed = d_prev - {e["path"] for e in _entries(m, root)}
        del_prev = {e["path"] for e in _delete_entries(prev, root)}
        new_del = [
            d["path"]
            for d in _delete_entries(m, root)
            if d["path"] not in del_prev
        ]
        pdel_prev = {e["path"] for e in _pos_delete_entries(prev, root)}
        new_pdel = [
            d["path"]
            for d in _pos_delete_entries(m, root)
            if d["path"] not in pdel_prev
        ]
        if removed and not (new_data or new_del or new_pdel) or op in (
            "compact",
            "cluster",
            "compact_small",
        ):
            prev = m  # row-preserving rewrite: nothing to emit
            continue
        if (op in ("overwrite", "restore") and d_prev) or (
            removed and new_data
        ):
            # an overwrite/restore ONTO AN EMPTY predecessor replaces
            # nothing — it is insert-only and diffs fine (the genesis
            # case under from_version=0)
            raise CdcRangeError(
                f"v{v} is '{op}' — a rewrite that replaces files loses "
                "row provenance; row-level CDC covers append / delete / "
                "update / merge / publish commits only (restart the feed "
                "from a later version)"
            )
        post = (
            _read_files(
                spark, root, _paths(new_data), m.get("schema"),
                renames=m.get("column_renames"),
            )
            if new_data
            else None
        )
        if new_del:
            key = _key_list(m["delete_key"])
            keys = (
                _read_files(spark, root, new_del, None)
                .select(*key)
                .distinct()
            )
            # manifest-stats file skip (r14): only files whose recorded
            # [min, max] for EVERY key column overlaps that column's
            # delete-key range can hold a preimage row — the same
            # pruning the streaming CDC source applies; at 100 TB a
            # delete of recent keys reads recent files, not the whole
            # snapshot. Stats-less entries stay candidates (usual
            # conservatism); correctness is unchanged because skipped
            # files cannot match the semi-join keys by construction.
            ranges = _key_file_ranges(root, new_del, key)
            cand = [
                e
                for e in _entries(prev, root)
                if _stats_overlap_all(e.get("stats"), ranges)
            ]
            # key-hash-index skip (r15): min/max can't prune
            # overlapping high-cardinality key ranges; probe each
            # surviving candidate's sorted-hash sidecar against the
            # commit's key set (hashed once — keys are small by
            # construction; the probe is one sorted intersection per
            # file, exact). Composite keys probe the folded tuple hash.
            if any(
                (e.get("kidx") or {}).get("col") is not None
                and _key_list(e["kidx"]["col"]) == key
                for e in cand
            ):
                probe = _kidx_hash_set(_read_key_values(root, new_del, key))
                cand = [
                    e
                    for e in cand
                    if _kidx_may_contain(root, e, key, probe)
                ]
            pre_view = (
                _assemble(spark, root, prev, cand)
                if cand
                else _empty_frame(spark, root, prev)
            )
            pre = pre_view.join(F.broadcast(keys), key, "left_semi")
            if post is not None:
                # MERGE: keys on BOTH sides are updates; source-only
                # keys are inserts; tombstoned keys with NO postimage
                # row (a clause-form merge's matched/not-matched-by-
                # source DELETE, r15) are deletes. For the plain upsert
                # the postimage keys equal the tombstone keys, so
                # ex == pre keys and the delete leg is empty — the r14
                # classification unchanged.
                ex = (
                    pre.select(*key)
                    .distinct()
                    .join(F.broadcast(post.select(*key).distinct()),
                          key, "left_semi")
                )
                parts.append(
                    align(
                        pre.join(F.broadcast(ex), key, "left_semi"),
                        "update_preimage",
                        v,
                    )
                )
                parts.append(
                    align(
                        pre.join(F.broadcast(ex), key, "left_anti"),
                        "delete",
                        v,
                    )
                )
                parts.append(
                    align(
                        post.join(F.broadcast(ex), key, "left_semi"),
                        "update_postimage",
                        v,
                    )
                )
                parts.append(
                    align(
                        post.join(F.broadcast(ex), key, "left_anti"),
                        "insert",
                        v,
                    )
                )
            else:
                parts.append(align(pre, "delete", v))
        elif new_pdel:
            addrs = (
                spark.read.parquet(
                    *[os.path.join(root, p) for p in new_pdel]
                )
                .select("file_path", "pos")
                .distinct()
            )
            named = [
                r["file_path"]
                for r in addrs.select("file_path").distinct().collect()
            ]  # bounded: <= #data files the delete touched
            # initial defaults (r16): the preimage is 'the rows a
            # reader saw at v-1', so files predating an ADD COLUMN
            # DEFAULT surface the default here exactly as _assemble
            # does — era-grouped like the delete horizon
            seq_of = {
                e["path"]: e.get("seq") for e in _entries(prev, root)
            }
            eras: dict[tuple, list[str]] = {}
            for f in named:
                eras.setdefault(
                    _dflt_cols_for(prev, seq_of.get(f)), []
                ).append(f)
            era_parts = [
                _with_defaults(
                    _read_files(
                        spark, root, files, prev.get("schema"),
                        with_positions=True,
                        renames=prev.get("column_renames"),
                    ),
                    prev,
                    dapp,
                )
                for dapp, files in sorted(eras.items())
            ]
            pre_raw = era_parts[0]
            for p_ in era_parts[1:]:
                pre_raw = pre_raw.unionByName(p_)
            pre = (
                pre_raw
                .join(
                    F.broadcast(
                        addrs.select(
                            F.col("file_path").alias(_POS_FILE),
                            F.col("pos").alias(_POS_IDX),
                        )
                    ),
                    [_POS_FILE, _POS_IDX],
                    "inner",
                )
                .drop(_POS_FILE, _POS_IDX)
            )
            # replaceWhere (r16): no row identity links the removed
            # slice to its replacement — delete + insert, never update
            # pairs (Delta CDF classifies replaceWhere the same way)
            ctype = (
                "delete"
                if post is None or op == "overwrite_where"
                else "update_preimage"
            )
            parts.append(align(pre, ctype, v))
            if post is not None:
                parts.append(
                    align(
                        post,
                        "insert"
                        if op == "overwrite_where"
                        else "update_postimage",
                        v,
                    )
                )
        elif post is not None:
            parts.append(align(post, "insert", v))
        prev = m
    if not parts:
        return spark.createDataFrame(
            [],
            _schema_ddl(
                [*out_schema, ["_change_type", "string"],
                 ["_commit_version", "bigint"]]
            ),
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _is_num(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _pv_in_range(val: str, lo, hi) -> bool:
    """Directory-encoded partition value vs [lo, hi] predicate. Values
    arrive as strings (Hive layout); the PREDICATE's python types pick
    the comparison — numeric bounds compare numerically, string bounds
    lexically. Deciding by whether the string value PARSES as a number
    was a wrong-prune bug (review r13): a STRING column of digits
    ('94107') with string bounds must compare lexically, yet parsed and
    got numeric semantics. NULL/incomparable values stay candidates
    (same conservatism as stats)."""
    if val == _HIVE_NULL:
        return True  # unknown: stays a candidate (reads resolve it)
    if _is_num(lo) and _is_num(hi):
        try:
            return lo <= float(val) <= hi
        except ValueError:
            return True  # non-numeric dir value vs numeric bounds
    try:
        return lo <= val <= hi
    except TypeError:
        return True


def _day_str(x) -> str:
    """Calendar-day prefix of a predicate bound: datetime/date objects
    via isoformat, strings as-is — both yield 'YYYY-MM-DD...' whose
    first 10 chars compare lexically as days."""
    return (x.isoformat() if hasattr(x, "isoformat") else str(x))[:10]


def _transform_value_matches(spec: str, val: str, lo, hi) -> bool:
    """Can a source value in [lo, hi] live in the partition whose
    transform value is ``val``? Exact per transform (a partition value
    IS the transform of every row in the file): identity = range test;
    bucket = recompute the bucket of an EQUALITY predicate (a range
    can't constrain a modular bucket — conservative candidate);
    truncate = order-preserving, so the truncated bounds bracket it;
    days = the day-prefix of the bounds brackets it."""
    if val == _HIVE_NULL:
        return True  # unknown: stays a candidate (reads resolve it)
    kind, p, _col = _parse_transform(spec)
    if kind == "identity":
        return _pv_in_range(val, lo, hi)
    if kind == "bucket":
        if lo != hi:
            return True  # range over a modular bucket: no pruning power
        try:
            return int(val) == int(lo) % p
        except (TypeError, ValueError):
            return True
    if kind == "truncate":
        # the PREDICATE's types pick numeric vs prefix semantics (review
        # r13: a digit-string prefix like '941' must NOT be read as a
        # numeric width-p bucket when the bounds are strings)
        if _is_num(lo) and _is_num(hi):
            try:  # numeric form: file covers [T, T+W)
                t = float(val)
                return t <= hi and t + p > lo
            except ValueError:
                return True
        try:  # string form: prefix truncation is monotone
            return str(lo)[:p] <= val <= str(hi)[:p]
        except TypeError:
            return True
    # days: file covers one calendar day
    try:
        return _day_str(lo) <= val <= _day_str(hi)
    except TypeError:
        return True


def _partition_matches(part: dict, preds: dict[str, tuple]) -> bool:
    """True unless some predicate column is a partition SOURCE here AND
    no value in [lo, hi] could produce this partition's transform value
    — the pre-stats pruning test. Every transform whose source column
    is predicated must admit the range (multiple transforms of one
    column all constrain)."""
    for col, (lo, hi) in preds.items():
        for spec, val in part.items():
            if _parse_transform(spec)[2] != col:
                continue
            if not _transform_value_matches(spec, val, lo, hi):
                return False
    return True


def _entry_overlaps(
    root: str,
    e: dict,
    preds: dict[str, tuple],
    fallback_counter: list[int] | None = None,
) -> bool:
    """[lo, hi] overlap test for one manifest entry. Manifest stats
    (written at commit time) answer with ZERO I/O; a column missing
    from the stats keeps the file a candidate (stats-less conservatism,
    same rule as layout.file_overlaps). Only a LEGACY entry that
    predates manifest stats falls back to a footer read — counted in
    FOOTER_FALLBACK_READS (lock-guarded) and in the caller's per-call
    ``fallback_counter`` so the a15f gate can assert the hot path never
    pays it without racing concurrent reads."""
    part = e.get("partition")
    if part and not _partition_matches(part, preds):
        return False  # exact partition-value exclusion, zero I/O
    stats = e.get("stats")
    if stats is None:
        global FOOTER_FALLBACK_READS
        with _FALLBACK_LOCK:
            FOOTER_FALLBACK_READS += 1
        if fallback_counter is not None:
            fallback_counter[0] += 1
        return file_overlaps(os.path.join(root, e["path"]), preds)
    for col, (lo, hi) in preds.items():
        s = stats.get(col)
        if s is None:
            continue  # no stats for this column: stays a candidate
        cmin, cmax = s
        try:
            if cmax < lo or cmin > hi:
                return False
        except TypeError:
            continue  # incomparable types (str stats vs numeric pred)
    return True


def snapshot_read_pruned(
    spark: SparkSession,
    root: str,
    preds: dict[str, tuple],
    version: int | None = None,
    counters: dict | None = None,
) -> tuple[DataFrame, int, int]:
    """Time-travel read with MANIFEST-LEVEL FILE SKIPPING: the snapshot's
    file entries are pruned against [lo, hi] column predicates using the
    per-file min/max stats EMBEDDED IN THE MANIFEST at commit time (r12
    — Iceberg's manifest-stats discipline; r11 re-read parquet footers
    per query, O(files) driver I/O that a 100k-file table cannot pay).
    Only overlapping files are handed to Spark; the residual predicate
    is re-applied on the scan for row-level exactness; MOR delete keys
    still apply (sequence-scoped, same as snapshot_read). Returns
    (df, files_read, files_total); pass ``counters`` (a dict) to receive
    this CALL's observability, race-free under concurrent pruned reads
    (ADVICE r12): ``footer_fallbacks`` (legacy stats-less entries that
    cost a footer read), ``descriptor_visits`` (file entries actually
    overlap-tested) and ``segments_skipped`` (segments never even
    LOADED because their descriptor's partition summary excludes the
    predicate — r13: at 100k files, partition pruning must fire before
    the O(files) per-entry walk, so the a15l gate asserts
    descriptor_visits stays bounded by the matching partitions)."""
    v = latest_version(root) if version is None else version
    m = _read_manifest(root, v)
    # Segment-level partition skipping: a descriptor whose partition
    # summary excludes every predicate value contributes only its entry
    # COUNT (files_total bookkeeping) — its entries are never loaded or
    # visited. Descriptors without a summary (unpartitioned, legacy, or
    # over-cap cardinality) load as before.
    skipped_segments = 0
    total = 0
    cand: list[dict] = [_norm_entry(e) for e in m.get("files", [])]
    total += len(cand)
    for desc in m.get("segments", []):
        summ = desc.get("partitions")
        if summ is not None and not any(
            _partition_matches(p, preds) for p in summ
        ):
            skipped_segments += 1
            total += desc["n"]  # summary implies an r13 descriptor
            continue
        seg_entries = _load_segment(root, desc)
        total += len(seg_entries)
        cand.extend(seg_entries)
    if not total:
        # ADVICE r11: the empty-manifest state used to surface as an
        # opaque IndexError off m['files'][0]
        raise ValueError(f"snapshot v{v} is empty")
    fb = [0]
    keep = [e for e in cand if _entry_overlaps(root, e, preds, fb)]
    if counters is not None:
        counters["footer_fallbacks"] = fb[0]
        counters["descriptor_visits"] = len(cand)
        counters["segments_skipped"] = skipped_segments
    if not keep:
        df = _empty_frame(spark, root, m)
    else:
        df = _assemble(spark, root, m, keep)
    for col, (lo, hi) in preds.items():
        df = df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
    return df, len(keep), total


class ConstraintViolation(ValueError):
    """A write's rows violate the table's CHECK constraints; carries
    ``violations`` (constraint name → violating row count)."""

    def __init__(self, msg: str, violations: dict[str, int]):
        super().__init__(msg)
        self.violations = violations


def table_constraints(
    root: str, version: int | None = None, branch: str | None = None
) -> dict[str, str]:
    """name → SQL CHECK expression recorded on the snapshot (empty dict
    when none). Constraints live in the manifest like the schema."""
    v = latest_version(root, branch) if version is None else version
    if v == 0:
        return {}
    return dict(_read_manifest(root, v, branch).get("constraints", {}))


def _constraint_violations(df: DataFrame, constraints: dict[str, str]) -> dict[str, int]:
    """One aggregation pass over ``df`` counting rows per constraint
    whose expression is FALSE (SQL CHECK semantics: NULL/UNKNOWN
    passes — a NOT NULL intent must say ``col IS NOT NULL``). O(batch),
    fully JVM-side (F.expr + conditional count, no UDF)."""
    if not constraints:
        return {}
    row = df.agg(
        *(
            F.count(
                F.when(~F.coalesce(F.expr(e), F.lit(True)), 1)
            ).alias(f"__c{i}")
            for i, e in enumerate(constraints.values())
        )
    ).collect()[0]  # bounded: one row of counters
    return {
        name: int(row[f"__c{i}"])
        for i, name in enumerate(constraints)
        if row[f"__c{i}"]
    }


def _enforce_constraints(
    df: DataFrame, constraints: dict[str, str], ctx: str
) -> None:
    bad = _constraint_violations(df, constraints)
    if bad:
        raise ConstraintViolation(
            f"{ctx} violates CHECK constraint(s) "
            + ", ".join(
                f"{n!r} ({constraints[n]}): {c} row(s)"
                for n, c in bad.items()
            )
            + " — nothing was committed",
            bad,
        )


def snapshot_set_constraint(
    spark: SparkSession,
    root: str,
    name: str,
    expr: str,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """ADD a named CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT,
    public design): first validates the EXISTING table against ``expr``
    (one scan — a constraint that the current data already violates is
    refused, same as Delta), then commits metadata-only. From this
    version on, every writer that adds rows (snapshot_write, merge,
    update) validates its batch against the table's constraints and
    refuses the commit on violation — O(batch) enforcement, one
    conditional-count pass, never a second source execution (writers
    validate the files they just wrote). NULL semantics are SQL CHECK:
    only FALSE violates; express non-nullability as ``col IS NOT
    NULL``."""
    _validate_ref_name(name)
    base0 = latest_version(root)
    if base0 == 0:
        raise ValueError("cannot constrain an empty table")
    # name-collision check BEFORE the data scan (cheap refusal first;
    # attempt() re-checks under the commit race anyway)
    prior = _read_manifest(root, base0).get("constraints", {})
    if prior.get(name) not in (None, expr):
        raise ValueError(
            f"constraint {name!r} already exists with a different "
            f"expression ({prior[name]!r}) — drop it first"
        )
    _enforce_constraints(
        snapshot_read(spark, root, base0), {name: expr},
        f"existing data in {root}",
    )

    base0_paths = set(_paths(_entries(_read_manifest(root, base0), root)))

    def attempt() -> int:
        base = latest_version(root)
        m = _read_manifest(root, base)
        cons = dict(m.get("constraints", {}))
        if cons.get(name) not in (None, expr):
            raise ValueError(
                f"constraint {name!r} already exists with a different "
                f"expression ({cons[name]!r}) — drop it first"
            )
        if base != base0:
            # Concurrent-writer race (VERDICT r13): a writer that landed
            # in (base0, base] validated its batch against the
            # constraints AT ITS BASE — which did not yet include this
            # one — so its rows were never checked against ``expr``.
            # Validate exactly the files that appeared since base0,
            # read through _assemble so base's delete state applies
            # (a row appended then deleted within the window is not a
            # violation). O(delta) — the file diff IS the new data;
            # rewritten files (update/merge) appear here too, old files
            # are content-immutable, and deletes only remove rows.
            delta = [
                e for e in _entries(m, root)
                if e["path"] not in base0_paths
            ]
            if delta:
                _enforce_constraints(
                    _assemble(spark, root, m, delta), {name: expr},
                    f"data committed to {root} in v{base0 + 1}..v{base} "
                    "(after the existing-data validation began)",
                )
        cons[name] = expr
        return _commit(
            root, base, "set_constraint", carry_from=m,
            schema=m.get("schema"), constraints=cons,
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_drop_constraint(
    root: str, name: str, retries: int = _COMMIT_RETRIES
) -> int:
    """Remove a CHECK constraint (metadata-only commit)."""

    def attempt() -> int:
        base = latest_version(root)
        m = _read_manifest(root, base)
        cons = dict(m.get("constraints", {}))
        if name not in cons:
            raise ValueError(
                f"no constraint {name!r} on {root} "
                f"(have: {sorted(cons)})"
            )
        del cons[name]
        return _commit(
            root, base, "drop_constraint", carry_from=m,
            schema=m.get("schema"), constraints=cons,
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_add_column(
    spark: SparkSession,
    root: str,
    name: str,
    dtype: str,
    retries: int = _COMMIT_RETRIES,
    default: str | None = None,
) -> int:
    """ALTER TABLE ... ADD COLUMN (Delta/Iceberg add-column evolution,
    public design) as a METADATA-ONLY commit: extend the recorded
    schema with ``name dtype``; zero data files are touched. Readers
    pin the manifest schema, so files written before the evolution
    NULL-fill the new column per file (one scan, no footer sweep —
    the rule _read_files already applies); later writers may populate
    it. The type is validated through Spark's DDL parser and recorded
    as its canonical simpleString. Refuses: a column that already
    exists (drop/rename don't exist — they would need rewrite or
    name-mapping metadata), and a legacy schema-less lineage (nothing
    recorded to extend — compact once to record a schema).

    ``default`` (r16 — Iceberg's INITIAL DEFAULT / Delta 3.x column
    defaults, SEQUENCE-SCOPED): a constant SQL expression recorded in
    the manifest; rows in files written BEFORE this commit read the
    default instead of NULL, exactly (those files physically cannot
    contain the column — retired-name reuse is refused, so no stored
    NULL can be misread as 'absent'). Files written AFTER the commit
    are never touched by it: a later writer that stores NULL — or
    omits the column entirely under narrower-append evolution — reads
    NULL, the writer's stated value (Iceberg's write-default is the
    writer's job). Time travel to a pre-default version shows the
    pre-default world; a compact MATERIALIZES defaults into the
    rewritten files and drops the mapping. The expression must be
    deterministic (evaluated twice at declare time; differing results
    refuse) and castable to the column type."""
    from pyspark.sql.types import DataType

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"bad column name {name!r}")
    try:
        canonical = DataType.fromDDL(dtype).simpleString()
    except Exception as e:
        raise ValueError(f"bad column type {dtype!r}: {e}") from None
    dval = None
    if default is not None:
        try:
            evals = [
                spark.range(1)
                .select(F.expr(default).cast(canonical).alias("d"))
                .collect()[0]["d"]
                for _ in range(2)
            ]
        except Exception as e:
            raise ValueError(
                f"bad DEFAULT {default!r} for type {canonical}: {e}"
            ) from None
        if evals[0] != evals[1]:
            raise ValueError(
                f"DEFAULT {default!r} is non-deterministic "
                f"({evals[0]!r} != {evals[1]!r}) — a default must be a "
                "constant; it is re-evaluated at every read"
            )
        import decimal as _dec

        dval = evals[0]
        if isinstance(dval, _dec.Decimal):
            dval = str(dval)  # JSON-safe; cast back from string
        elif not isinstance(dval, (int, float, bool, str, type(None))):
            # the evaluated value rides in manifest JSON and in
            # streaming-CDC partition plans (no SparkSession there) —
            # primitives only; richer types would need a side channel
            raise ValueError(
                f"DEFAULT {default!r} evaluates to "
                f"{type(evals[0]).__name__} — defaults support "
                "numeric/boolean/string/decimal constants; for other "
                "types add the column and backfill with UPDATE ... SET"
            )
    if latest_version(root) == 0:
        raise ValueError("cannot add a column to an empty table")

    def attempt() -> int:
        base = latest_version(root)
        m = _read_manifest(root, base)
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                f"table {root} has no recorded schema (legacy lineage) "
                "— compact/overwrite once before adding columns"
            )
        if any(c == name for c, _t in schema):
            raise ValueError(
                f"column {name!r} already exists "
                f"({dict(schema)[name]}) — add-column is not idempotent"
            )
        reserved: set = set(m.get("retired_columns") or [])
        for olds in (m.get("column_renames") or {}).values():
            reserved.update(olds)
        if name in reserved:
            raise ValueError(
                f"column name {name!r} was retired by a prior "
                "DROP/RENAME COLUMN and old data files still carry it — "
                "snapshot_compact first to rewrite files before reusing "
                "the name"
            )
        extra = None
        if default is not None:
            extra = {
                "column_defaults": {
                    **(m.get("column_defaults") or {}),
                    # boundary = this commit's would-be sequence (max
                    # of version and carried seqs + 1, the _commit
                    # rule): entries with a SMALLER sequence predate
                    # the column; a tie (the next write) is post-add
                    # and correctly gets no default. "value" is the
                    # evaluated constant for engines with no
                    # SparkSession at hand (streaming-CDC workers)
                    name: {
                        "sql": default,
                        "value": dval,
                        "seq": max(
                            base + 1,
                            _carried_max_seq(
                                m.get("segments", []),
                                m.get("delete_segments", []),
                                m.get("pos_delete_segments", []),
                            )
                            + 1,
                        ),
                    },
                }
            }
        return _commit(
            root, base, "add_column", carry_from=m,
            schema=[*schema, [name, canonical]],
            extra=extra,
        )

    return snapshot_commit_retry(attempt, retries)


def _refuse_column_references(m: dict, name: str, verb: str) -> None:
    """Refuse a rename/drop whose target column the table's OTHER
    metadata references: the delete key (tombstone key files store the
    column by NAME — the anti-joins would silently stop matching),
    partition transforms (directory layout + pruning are derived from
    the name), and CHECK constraints (their exprs are SQL text; a
    conservative identifier match beats silently committing a
    constraint that can no longer evaluate)."""
    if m.get("delete_key") is not None and name in _key_list(
        m["delete_key"]
    ):
        raise ValueError(
            f"cannot {verb} column {name!r}: it is (part of) the "
            "table's delete key (row identity) — tombstone files "
            "reference it by name"
        )
    for spec in m.get("partition_spec") or []:
        if re.search(rf"\b{re.escape(name)}\b", spec):
            raise ValueError(
                f"cannot {verb} column {name!r}: partition transform "
                f"{spec!r} references it"
            )
    for cname, expr in (m.get("constraints") or {}).items():
        if re.search(rf"\b{re.escape(name)}\b", expr):
            raise ValueError(
                f"cannot {verb} column {name!r}: CHECK constraint "
                f"{cname!r} ({expr}) references it — drop the "
                "constraint first"
            )


_INT_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_DEC_RE = re.compile(r"decimal\((\d+),(\d+)\)")


def _widenable(frm: str, to: str) -> bool:
    """Is ``frm`` → ``to`` a SAFE type widening (every old value
    representable exactly in the new type)? The public Iceberg/Delta
    promotion lattice, restricted to what the Spark 4 parquet reader
    up-casts natively under a pinned wider read schema (probed r16):
    integer rank-up, float→double, date→timestamp_ntz, and decimal
    growth that shrinks neither the scale nor the integer digits."""
    frm, to = frm.strip().lower(), to.strip().lower()
    if frm == to:
        return False
    if frm in _INT_RANK and to in _INT_RANK:
        return _INT_RANK[to] > _INT_RANK[frm]
    if frm == "float" and to == "double":
        return True
    if frm == "date" and to == "timestamp_ntz":
        return True
    m1, m2 = _DEC_RE.fullmatch(frm), _DEC_RE.fullmatch(to)
    if m1 and m2:
        p1, s1 = int(m1.group(1)), int(m1.group(2))
        p2, s2 = int(m2.group(1)), int(m2.group(2))
        return s2 >= s1 and (p2 - s2) >= (p1 - s1)
    return False


def snapshot_widen_column(
    spark: SparkSession,
    root: str,
    name: str,
    new_type: str,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """ALTER TABLE ... ALTER COLUMN ... TYPE (r16, VERDICT r15 item 5):
    SAFE TYPE WIDENING as a METADATA-ONLY commit — the recorded schema
    entry changes type in place; zero data files touched. Readers pin
    the manifest schema, and the Spark 4 parquet reader up-casts old
    files' narrower physical type natively (int32 under a bigint read
    schema, float under double, decimal rescale, date under
    timestamp_ntz — probed in this container; Arrow-side consumers
    cast per field the same way). Time travel still reads each version
    under ITS schema; batch row CDC aligns every commit's rows to the
    feed end's (widest) schema, so a feed crossing the widening is
    exact. Appends may keep writing the OLD narrower type — the commit
    keeps the table's recorded (wide) type and the pinned read casts
    up (see :func:`_merge_schema`). UNSAFE changes (narrowing, float→
    int, anything not on the lattice) refuse loudly — the a15h rule,
    now with the safe subset carved out."""
    nt = (
        spark.sql(f"SELECT CAST(NULL AS {new_type})")
        .schema[0]
        .dataType.simpleString()
    )

    def attempt() -> int:
        base = latest_version(root)
        if base == 0:
            raise ValueError(f"no table at {root}")
        m = _read_manifest(root, base)
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                "legacy schema-less lineage — compact/overwrite once "
                "before widening"
            )
        types = dict(schema)
        if name not in types:
            raise ValueError(
                f"unknown column {name!r} (table has {sorted(types)})"
            )
        if not _widenable(types[name], nt):
            raise ValueError(
                f"refusing type change {types[name]} -> {nt} for column "
                f"{name!r}: only safe widenings (int rank-up, "
                "float->double, date->timestamp_ntz, decimal growth "
                "keeping scale and integer digits) are metadata-only; "
                "anything else needs a rewrite"
            )
        new_schema = [
            [n, nt if n == name else t2] for n, t2 in schema
        ]
        return _commit(
            root,
            base,
            "widen_column",
            carry_from=m,
            schema=new_schema,
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_evolve_partition_spec(
    spark: SparkSession,
    root: str,
    new_spec: list[str] | None,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """PARTITION SPEC EVOLUTION (r16, VERDICT r15 item 6 — Iceberg's
    spec evolution, public design): change the table's AUTHORITATIVE
    partition transform with one METADATA-ONLY commit. Old files keep
    the per-entry partition values (keyed by THEIR spec) they were
    written under; new writes lay out under the new spec; pruned reads
    consult each entry's own recorded values, so BOTH eras prune
    correctly with zero rewrite — the a15l/a15m machinery already
    stores per-entry/per-segment descriptors, this verb only moves the
    pointer new writes and compact follow. ``new_spec=None`` (or [])
    unpartitions future writes. Writes pick the recorded spec up via
    ``snapshot_write(partition_by='table')`` — the SQL INSERT path
    does this — while an explicit ``partition_by`` stays per-write
    advisory as before."""
    specs = list(new_spec or [])
    for s in specs:
        _parse_transform(s)  # loud refusal on an unknown form

    def attempt() -> int:
        base = latest_version(root)
        if base == 0:
            raise ValueError(f"no table at {root}")
        m = _read_manifest(root, base)
        schema = m.get("schema")
        if schema is not None:
            names = {n for n, _t in schema}
            for s in specs:
                _kind, _p, col = _parse_transform(s)
                if col not in names:
                    raise ValueError(
                        f"partition transform {s!r} references unknown "
                        f"column {col!r} (table has {sorted(names)})"
                    )
        return _commit(
            root,
            base,
            "evolve_partition_spec",
            carry_from=m,
            schema=schema,
            # [] (falsy) erases the recorded spec — _commit records a
            # spec only when truthy, so None-vs-carry stays correct for
            # every other verb
            partition_spec=specs,
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_rename_column(
    spark: SparkSession,
    root: str,
    old: str,
    new: str,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """ALTER TABLE ... RENAME COLUMN (r15, VERDICT r14 item 4) as a
    METADATA-ONLY commit with a NAME MAPPING — the Iceberg field-id
    analogue expressed with names: the recorded schema entry changes
    name in place (same position, same type) and the manifest's
    ``column_renames`` records ``new → [every prior name]`` so readers
    project OLD files' bytes under the new name (coalesce over the
    alias chain; a file carries exactly one of the names because
    reusing a retired name is refused at commit). Zero data files
    touched; time travel still reads each version under ITS schema.
    Refuses: unknown/duplicate names, the delete key, partition or
    constraint references (see :func:`_refuse_column_references`), and
    reusing a retired name."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
        raise ValueError(f"bad column name {new!r}")

    def attempt() -> int:
        base = latest_version(root)
        m = _read_manifest(root, base)
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                f"table {root} has no recorded schema (legacy lineage) "
                "— compact/overwrite once before renaming columns"
            )
        names = [c for c, _t in schema]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        _refuse_column_references(m, old, "rename")
        renames = dict(m.get("column_renames") or {})
        aliases = renames.pop(old, [])
        # renaming BACK to a prior name (a→b then b→a): the target name
        # must not appear in its own alias chain — files that carry it
        # natively hold the CORRECT data for it, so no mapping (and no
        # retired-name refusal) applies to that hop (review r15)
        renames[new] = [x for x in [*aliases, old] if x != new]
        extra: dict = {"column_renames": renames}
        dflts = dict(m.get("column_defaults") or {})
        if old in dflts:
            # the default follows the rename (r16): it is keyed by the
            # CURRENT name because _assemble applies it to the pinned-
            # schema read, which projects the current name
            dflts[new] = dflts.pop(old)
            extra["column_defaults"] = dflts
        return _commit(
            root, base, "rename_column", carry_from=m,
            schema=[[new, t] if c == old else [c, t] for c, t in schema],
            extra=extra,
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_drop_column(
    spark: SparkSession,
    root: str,
    name: str,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """ALTER TABLE ... DROP COLUMN (r15) as a METADATA-ONLY commit:
    remove the column from the recorded schema — readers simply stop
    projecting it (pinned-schema reads never touch unlisted columns) —
    and RETIRE the name (plus any aliases it accumulated through
    renames): old data files still carry the bytes, so re-adding the
    name before a compact would resurrect stale values and is refused
    at commit. Zero data files touched; time travel reads pre-drop
    versions with the column intact. Refuses the same references as
    rename, and dropping the last column."""

    def attempt() -> int:
        base = latest_version(root)
        m = _read_manifest(root, base)
        schema = m.get("schema")
        if schema is None:
            raise ValueError(
                f"table {root} has no recorded schema (legacy lineage) "
                "— compact/overwrite once before dropping columns"
            )
        names = [c for c, _t in schema]
        if name not in names:
            raise ValueError(f"no column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the table's only column")
        _refuse_column_references(m, name, "drop")
        renames = dict(m.get("column_renames") or {})
        aliases = renames.pop(name, [])
        retired = set(m.get("retired_columns") or [])
        retired.update([name, *aliases])
        extra = {
            "column_renames": renames,
            "retired_columns": sorted(retired),
        }
        dflts = dict(m.get("column_defaults") or {})
        if name in dflts:
            del dflts[name]  # the default dies with the column (r16)
            extra["column_defaults"] = dflts
        return _commit(
            root, base, "drop_column", carry_from=m,
            schema=[[c, t] for c, t in schema if c != name],
            extra=extra,
        )

    return snapshot_commit_retry(attempt, retries)


def _validate_delete_key(m: dict, key_col) -> None:
    prior_key = m.get("delete_key")
    if prior_key is not None and _key_list(prior_key) != _key_list(
        key_col
    ):
        raise ValueError(
            f"table's delete key is {prior_key!r}; refusing a delete on "
            f"{key_col!r} — one row identity per table"
        )


def snapshot_delete(
    spark: SparkSession,
    root: str,
    keys: DataFrame,
    key_col,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """MERGE-ON-READ row deletes: commit a snapshot whose data files are
    UNCHANGED plus a new delete-key file readers anti-join (Hudi/Iceberg
    MOR discipline, key-based). O(delete keys) write, zero data rewrite;
    the read-side anti-join cost is what a later compaction amortizes
    away. The delete is SEQUENCE-SCOPED: it suppresses keys only in data
    files committed BEFORE it, so a later re-insert of a deleted key is
    visible (r12; unscoped deletes silently tombstoned re-inserts
    forever — the ADVICE wrong-answer). Time travel still shows the
    rows at pre-delete versions. Mixed-key-column delete chains are
    refused — one table, one row identity. ``key_col`` may be an
    ordered column LIST (composite natural key, r16): the tombstone
    file stores every key column and readers anti-join on all of
    them."""
    kl = _key_list(key_col)
    if latest_version(root) == 0:
        raise ValueError("cannot delete from an empty table")
    del_files = _write_data_files(
        keys.select(*kl).distinct(), root, prefix="del"
    )
    dseg = _write_segment(root, [{"path": p} for p in del_files])

    def attempt() -> int:
        base = latest_version(root)
        if base == 0:
            raise ValueError("cannot delete from an empty table")
        m = _read_manifest(root, base)
        _validate_delete_key(m, kl)
        return _commit(
            root,
            base,
            "delete",
            carry_from=m,
            new_delete_segment=dseg,
            delete_key=_key_store(kl),
            schema=m.get("schema"),
        )

    return snapshot_commit_retry(attempt, retries)


def _delete_state_sig(m: dict) -> str:
    """Fingerprint of a manifest's row-SUPPRESSION state (equality +
    position delete segments/files). A predicate verb (delete-where /
    update-where) computes its matched set against one snapshot; any
    concurrent commit that changed which rows are suppressed (merge,
    delete, another update, fold) makes that matched set stale in a way
    file-liveness alone cannot see (review r13: a concurrent merge's
    seq-scoped delete left all files live, yet the update's re-appended
    copy escaped the merge's delete scope — duplicate key)."""
    return json.dumps(
        [
            m.get("delete_segments"),
            m.get("delete_files"),
            m.get("delete_key"),
            m.get("pos_delete_segments"),
        ],
        sort_keys=True,
    )


def _stage_position_deletes(
    spark: SparkSession, root: str, matched: DataFrame, ents: list[dict]
) -> tuple[set[str], list[str]]:
    """Write ``matched`` rows' addresses as position-delete files;
    returns (files the addresses name, written pdel paths). The named
    set is a bounded driver fetch (<= #data files) and doubles as the
    prefix-strip self-check: a root whose realpath disagrees with
    Spark's reported file_path yields garbage relative paths and fails
    containment LOUDLY here."""
    addrs = matched.select(
        F.col(_POS_FILE).alias("file_path"), F.col(_POS_IDX).alias("pos")
    )
    pdel_files = _write_data_files(addrs, root, prefix="pdel")
    named = {
        r["file_path"]
        for r in spark.read.parquet(
            *[os.path.join(root, p) for p in pdel_files]
        )
        .select("file_path")
        .distinct()
        .collect()
    }
    unknown = named - set(_paths(ents))
    if unknown:
        raise RuntimeError(
            f"position-delete addresses name unknown files {unknown} — "
            "file_path prefix strip failed (symlinked root?) or manifest "
            "drift; refusing to commit a delete that cannot apply"
        )
    return named, pdel_files


def _validate_predicate_commit(
    root: str, base_m: dict, m2: dict, named: set[str], verb: str
) -> None:
    """Commit-time validation for predicate verbs: every addressed file
    must still be live (compact/overwrite moved it = stale addresses),
    AND the suppression state must be unchanged since the matched set
    was computed (merge/delete/update landed = the predicate matched
    rows that are no longer the live ones). Plain appends pass both —
    they add files the predicate never saw and never suppress rows."""
    live = set(_paths(_entries(m2, root)))
    gone = named - live
    if gone:
        raise ValueError(
            f"stale {verb}: files {sorted(gone)[:3]}... left the live "
            "set (concurrent compact/overwrite) — recompute against the "
            "current version"
        )
    if _delete_state_sig(m2) != _delete_state_sig(base_m):
        raise ValueError(
            f"stale {verb}: the table's delete state changed since the "
            "predicate was computed (concurrent merge/delete/update/"
            "fold) — recompute against the current version"
        )


def snapshot_delete_where(
    spark: SparkSession,
    root: str,
    condition,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """POSITION-based MERGE-ON-READ delete (r13 — closes the last
    documented omission vs the real formats): delete the CURRENT rows
    matching ``condition`` (SQL string or Column) by writing their exact
    row addresses — (data file, ``_metadata.row_index``) — as a
    position-delete file; readers anti-join the addresses. Use it when
    rows have NO key identity (the equality tier's requirement):
    duplicate rows, rows selected by predicate, one of two identical
    rows. Zero data rewrite; compaction drops the rent like any MOR
    state.

    Scoping is FILE IDENTITY, not sequence: later appends are new files
    and can never be suppressed, so a matching row ingested after the
    delete is visible (Iceberg's position-delete rule). Positions are
    computed against the CURRENT view — equality-deleted rows can't
    match; time travel still shows deleted rows at prior versions.

    Concurrency: an append/merge landing between read and commit is
    safe (the named files stay in the live set); a compact/overwrite is
    NOT — the named files may have left it, and blindly committing
    would silently delete nothing. Each commit attempt therefore
    re-validates that every named file is still live and refuses with
    a clear error otherwise (Iceberg's rewrite-validation applied to
    position deletes). Matching nothing commits nothing (returns the
    current version)."""
    base = latest_version(root)
    if base == 0:
        raise ValueError("cannot delete from an empty table")
    m = _read_manifest(root, base)
    ents = _entries(m, root)
    if not ents:
        raise ValueError(f"snapshot v{base} is empty")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    matched = _assemble(spark, root, m, ents, with_positions=True).filter(
        cond
    )
    named, pdel_files = _stage_position_deletes(spark, root, matched, ents)
    if not named:
        return base  # nothing matched: no commit (addresses reaped by vacuum)
    dseg = _write_segment(root, [{"path": p} for p in pdel_files])

    def attempt() -> int:
        b = latest_version(root)
        m2 = _read_manifest(root, b)
        _validate_predicate_commit(root, m, m2, named, "position delete")
        return _commit(
            root,
            b,
            "pos_delete",
            carry_from=m2,
            new_pos_delete_segment=dseg,
            schema=m2.get("schema"),
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_update_where(
    spark: SparkSession,
    root: str,
    condition,
    assignments: dict,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """UPDATE ... WHERE as ONE atomic commit (r13) — the composition the
    position tier makes possible for rows WITHOUT key identity (MERGE
    covers keyed upserts): the commit simultaneously (a) appends the
    matching rows with ``assignments`` applied ({column: SQL expr or
    Column}; add-column evolution allowed, type changes refused) and
    (b) adds a position-delete file of the matched rows' addresses.
    Old copies vanish, updated copies appear, unmatched rows are
    untouched — zero data rewrite, O(matched) write cost, time travel
    shows the pre-update state, and the same stale-address validation
    as :func:`snapshot_delete_where` refuses after a concurrent
    compact/overwrite. Matching nothing commits nothing.

    The matched set is evaluated twice (addresses, then updated rows) —
    safe because data files are immutable and ``condition`` sees only
    stored columns, so both evaluations agree by construction."""
    base = latest_version(root)
    if base == 0:
        raise ValueError("cannot update an empty table")
    m = _read_manifest(root, base)
    ents = _entries(m, root)
    if not ents:
        raise ValueError(f"snapshot v{base} is empty")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    matched = _assemble(spark, root, m, ents, with_positions=True).filter(
        cond
    )
    updated = matched
    for col, expr in assignments.items():
        updated = updated.withColumn(
            col, F.expr(expr) if isinstance(expr, str) else expr
        )
    updated = updated.drop(_POS_FILE, _POS_IDX)
    new_files = _write_data_files(updated, root, prefix="upd")
    _enforce_constraints(
        spark.read.parquet(*[os.path.join(root, p) for p in new_files]),
        m.get("constraints", {}),
        f"snapshot_update_where on {root}",
    )
    new_stats = _file_stats(root, new_files)
    seg = _write_segment(
        root, [{"path": p, "stats": new_stats[p]} for p in new_files]
    )
    named, pdel_files = _stage_position_deletes(spark, root, matched, ents)
    if not named:
        return base  # nothing matched (staged files reaped by vacuum)
    dseg = _write_segment(root, [{"path": p} for p in pdel_files])
    new_schema = _schema_of(updated)
    validated = {"cons": m.get("constraints") or {}}

    def attempt() -> int:
        b = latest_version(root)
        m2 = _read_manifest(root, b)
        _validate_predicate_commit(root, m, m2, named, "update")
        # TOCTOU guard: constraints added since the pre-commit
        # validation must be checked before committing under them
        cur_cons = m2.get("constraints") or {}
        if cur_cons != validated["cons"]:
            _enforce_constraints(
                spark.read.parquet(
                    *[os.path.join(root, p) for p in new_files]
                ),
                cur_cons,
                f"snapshot_update_where on {root} (constraints changed "
                "concurrently)",
            )
            validated["cons"] = cur_cons
        return _commit(
            root,
            b,
            "update",
            carry_from=m2,
            new_segment=seg,
            new_pos_delete_segment=dseg,
            schema=(
                _merge_schema(m2["schema"], new_schema)
                if m2.get("schema") is not None
                else None
            ),
        )

    return snapshot_commit_retry(attempt, retries)


def snapshot_overwrite_where(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    condition,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """SELECTIVE OVERWRITE — Delta's ``replaceWhere`` (r16): atomically
    replace EXACTLY the rows matching ``condition`` with ``df``'s rows,
    in one commit. The backfill verb at 100 TB — rewrite one day's
    slice of a petabyte table without touching (or scanning) the rest:
    cost is O(matched-file positions + new data), never O(table).

    Semantics (the Delta rule that makes the op an exact slice
    replacement): every incoming row MUST satisfy ``condition`` —
    refused otherwise, because a row outside the predicate would
    silently survive the NEXT replace of the same slice. Matched
    current rows are position-deleted (zero data rewrite); ``df`` lands
    as new files under the table's RECORDED partition spec (backfilled
    slices keep pruning). An empty ``df`` deletes the slice; a
    predicate matching nothing is a plain validated append of ``df``.
    Time travel shows the pre-replace state; row/streaming CDC emit
    ``delete`` + ``insert`` (no row identity links old slice to new —
    Delta CDF classifies replaceWhere the same way).

    Concurrency: the same stale-address validation as
    :func:`snapshot_delete_where` refuses if a concurrent
    compact/overwrite moved the matched files; constraint TOCTOU
    re-checks mirror :func:`snapshot_write`."""
    base = latest_version(root)
    if base == 0:
        raise ValueError(
            "cannot overwrite_where an empty table — snapshot_write the "
            "initial data first"
        )
    m = _read_manifest(root, base)
    ents = _entries(m, root)
    cond = F.expr(condition) if isinstance(condition, str) else condition
    matched = (
        _assemble(spark, root, m, ents, with_positions=True).filter(cond)
        if ents
        else None
    )
    spec = m.get("partition_spec") or None
    if spec:
        partial = _write_partitioned_data_files(df, root, spec)
    else:
        partial = [
            {"path": p} for p in _write_data_files(df, root, prefix="rw")
        ]
    new_files = [e["path"] for e in partial]
    written = (
        spark.read.parquet(*[os.path.join(root, p) for p in new_files])
        if new_files
        else df.limit(0)
    )
    # predicate membership is validated on the WRITTEN files, not by
    # re-executing ``df`` (r16 review — same rule as the constraint
    # path): a non-deterministic source could pass a pre-write check
    # and then materialize different, out-of-predicate rows. A NULL
    # predicate result does not satisfy the predicate (SQL WHERE
    # semantics on both sides: such a row neither matches for deletion
    # nor is accepted as a replacement). A refused write leaves only
    # unreferenced files for the age-graced vacuum.
    n_bad = written.filter(~F.coalesce(cond, F.lit(False))).count()
    if n_bad:
        raise ValueError(
            f"overwrite_where: {n_bad} incoming row(s) do not satisfy "
            f"the replace predicate — every replacement row must match "
            "it, or the next replace of the same slice would silently "
            "keep them (Delta replaceWhere rule)"
        )
    _enforce_constraints(
        written,
        m.get("constraints") or {},
        f"snapshot_overwrite_where on {root}",
    )
    new_stats = _file_stats(root, new_files)
    dkey = m.get("delete_key")
    kidxs = _write_key_indexes(root, new_files, dkey) if dkey else {}
    seg = _write_segment(
        root,
        [
            {
                **e,
                "stats": new_stats[e["path"]],
                **(
                    {"kidx": kidxs[e["path"]]}
                    if e["path"] in kidxs
                    else {}
                ),
            }
            for e in partial
        ],
    )
    named, pdel_files = (
        _stage_position_deletes(spark, root, matched, ents)
        if ents
        else ([], [])
    )
    dseg = (
        _write_segment(root, [{"path": p} for p in pdel_files])
        if named
        else None
    )
    new_schema = _schema_of(df)
    validated = {"cons": m.get("constraints") or {}}

    def attempt() -> int:
        b = latest_version(root)
        m2 = _read_manifest(root, b)
        if named:
            _validate_predicate_commit(
                root, m, m2, named, "overwrite_where"
            )
        cur_cons = m2.get("constraints") or {}
        if cur_cons != validated["cons"] and new_files:
            _enforce_constraints(
                spark.read.parquet(
                    *[os.path.join(root, p) for p in new_files]
                ),
                cur_cons,
                f"snapshot_overwrite_where on {root} (constraints "
                "changed concurrently)",
            )
            validated["cons"] = cur_cons
        return _commit(
            root,
            b,
            "overwrite_where",
            carry_from=m2,
            new_segment=seg,
            new_pos_delete_segment=dseg,
            schema=(
                _merge_schema(m2["schema"], new_schema)
                if m2.get("schema") is not None
                else None
            ),
        )

    return snapshot_commit_retry(attempt, retries)


def _refuse_ambiguous_source(df: DataFrame, kl: list[str], ctx: str) -> None:
    """The MERGE source-uniqueness rule, shared by both MERGE surfaces
    (review r16 — the agg was copy-pasted): a key may appear at most
    once and never NULL; real MERGE refuses multi-match sources
    because duplicates would materialize forever under one identity."""
    any_null = None
    for k in kl:
        c = F.col(k).isNull()
        any_null = c if any_null is None else (any_null | c)
    kc = df.agg(
        F.count(F.when(~any_null, 1)).alias("n"),
        F.countDistinct(*kl).alias("nd"),
        F.count(F.when(any_null, 1)).alias("nn"),
    ).collect()[0]
    if kc["nn"] or kc["n"] != kc["nd"]:
        raise ValueError(
            f"{ctx} source is ambiguous on {kl!r}: {kc['n']} rows, "
            f"{kc['nd']} distinct keys, {kc['nn']} NULL keys — a key "
            "may appear at most once (real MERGE refuses multi-match "
            "sources; duplicates would materialize forever under one "
            "identity)"
        )


def _refuse_merge_audit_names(cols: list[str], side: str) -> None:
    """Clause-form MERGE adds the audit columns ``__n_tot``, ``__clause``
    and ``__mrgk_<i>`` beside the row's own columns; a row column of that
    name would silently stop resolving in clause SQL."""
    bad = [
        c for c in cols
        if c in ("__n_tot", "__clause") or c.startswith("__mrgk_")
    ]
    if bad:
        raise ValueError(
            f"{side} column(s) {bad!r} use a name reserved for clause-form "
            "MERGE audit columns (__n_tot, __clause, __mrgk_*); rename them"
        )


def snapshot_merge(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key_col: str,
    retries: int = _COMMIT_RETRIES,
) -> int:
    """Key-based MERGE INTO (upsert) as ONE atomic commit — the
    composition the MOR pieces exist for: the commit simultaneously
    (a) appends the source rows as new data files and (b) adds a
    delete-key file of the source's keys. Sequence scoping does the
    rest at read time: the delete (sequence v) suppresses matched keys
    in OLDER files only, while the merge's own data files (also
    sequence v) are untouched — so matched rows are replaced, unmatched
    source rows are inserts, and unmatched target rows survive. Zero
    data rewrite (MOR), O(source) write cost, time travel shows the
    pre-merge state at version v-1, and concurrent writers conflict
    cleanly via base validation + bounded retry. Add-column schema
    evolution applies to the source like any append; CDC refuses to
    cross a merge (it is not row-append-only). ``key_col`` may be an
    ordered column LIST (composite natural key, r16)."""
    kl = _key_list(key_col)
    if latest_version(root) == 0:
        raise ValueError(
            "cannot merge into an empty table — snapshot_write the "
            "initial load first"
        )
    missing_k = [k for k in kl if k not in source.columns]
    if missing_k:
        raise ValueError(f"source has no key column(s) {missing_k!r}")
    new_files = _write_data_files(source, root, prefix="mrg")
    new_stats = _file_stats(root, new_files)
    kidxs = _write_key_indexes(root, new_files, kl)
    seg = _write_segment(
        root,
        [
            {
                "path": p,
                "stats": new_stats[p],
                **({"kidx": kidxs[p]} if p in kidxs else {}),
            }
            for p in new_files
        ],
    )
    # Delete keys come from the WRITTEN files, not a second evaluation
    # of ``source`` (review r12): a non-deterministic source (sampling,
    # rand(), a concurrently-changing input) would otherwise tombstone
    # keys that diverge from the rows actually appended. Reading back
    # the fresh files is also cheaper than re-running the source plan.
    #
    # r17 (VERDICT r16 item 5): the ambiguity check and the delete-key
    # file both derive from the key COLUMNS of the just-written files —
    # exactly what the kidx pass already reads with pyarrow. The fast
    # path below replaces TWO Spark jobs per merge (the countDistinct
    # ambiguity agg + the read-back-and-rewrite of the key projection)
    # with one pyarrow pass; any doubt (unreadable file, unhashable key
    # type, duplicate hashes — possibly a 2^-64 collision) falls back
    # to the exact Spark path, so refusals stay exact.
    abs_new = [os.path.join(root, p) for p in new_files]

    def _written() -> DataFrame:
        return spark.read.parquet(*abs_new)

    written = None
    if new_files and _source_keys_clean_fast(abs_new, kl):
        del_files = _pa_write_key_file(root, abs_new, kl)
    else:
        written = _written()
        _refuse_ambiguous_source(written, kl, "merge")
        del_files = None
    cons = table_constraints(root)
    if cons:
        if written is None:
            written = _written()
        _enforce_constraints(written, cons, f"snapshot_merge into {root}")
    if del_files is None:
        if written is None:
            written = _written()
        del_files = _write_data_files(
            written.select(*kl), root, prefix="del"
        )
    validated = {"cons": cons}
    dseg = _write_segment(root, [{"path": p} for p in del_files])
    new_schema = _schema_of(source)

    def attempt() -> int:
        base = latest_version(root)
        m = _read_manifest(root, base)
        _validate_delete_key(m, kl)
        # TOCTOU guard: constraints added since the pre-commit
        # validation must be checked before committing under them
        cur_cons = m.get("constraints") or {}
        if cur_cons != validated["cons"]:
            _enforce_constraints(
                _written(), cur_cons,
                f"snapshot_merge into {root} (constraints changed "
                "concurrently)",
            )
            validated["cons"] = cur_cons
        # merging into a LEGACY (schema-less) lineage: stay schema-less,
        # mirroring snapshot_write/commit_append_files (ADVICE r12 —
        # _merge_schema(None, new) would pin the SOURCE's schema over
        # unknown prior columns, NULL-dropping legacy-only columns from
        # every later read and bypassing the type-change refusal).
        return _commit(
            root,
            base,
            "merge",
            carry_from=m,
            new_segment=seg,
            new_delete_segment=dseg,
            delete_key=_key_store(kl),
            schema=(
                _merge_schema(m["schema"], new_schema)
                if m.get("schema") is not None
                else None
            ),
        )

    return snapshot_commit_retry(attempt, retries)


def _relink_clause_merge_safe(
    root: str, frm: int, to: int, kl: list[str], probe, has_nbs: bool
) -> tuple[bool, str]:
    """Delta-style MERGE conflict check (r16, VERDICT r15 item 4): may
    a clause-merge statement whose verdicts were evaluated at version
    ``frm`` re-link on top of ``to`` without re-evaluation? Yes iff
    EVERY interleaved commit is (a) row-preserving (compact / cluster
    / fold — same visible rows, verdicts unaffected) or constraint
    metadata (the caller re-enforces), or (b) an append / key-delete /
    merge whose TOUCHED KEYS are provably disjoint from the
    statement's KEY FOOTPRINT (``probe``, the sorted uint64 hash set
    of its READ set — every materialized-source key, matched or not,
    plus the tombstone/add subsets; read-set disjointness is what
    makes the re-link serializable, a write-set-only check admits
    write skew on matched-but-condition-false rows — review r16).
    Key evidence per interleaved data file:
    the kidx sidecar when it matches the identity (zero reads),
    otherwise one bounded pyarrow pass over the file's key columns —
    bounded by the INTERLEAVED commit's own new files, never the
    table. NOT MATCHED BY SOURCE statements never re-link over row
    changes: NBS verdicts read every unmatched target row, so any
    concurrent insert/delete invalidates them regardless of key
    overlap (the same reason Delta requires Serializable for NBS).
    Hash collisions (2^-64/pair) only ever REFUSE a safe re-link —
    the conservative direction. Returns (ok, reason)."""
    import numpy as np

    prev = _read_manifest(root, frm)
    for w in range(frm + 1, to + 1):
        m_w = _read_manifest(root, w)
        op = m_w["operation"]
        if op in ("compact", "cluster", "compact_small", "fold",
                  "set_constraint", "drop_constraint"):
            prev = m_w
            continue
        prev_paths = {e["path"] for e in _entries(prev, root)}
        pdel_prev = {e["path"] for e in _pos_delete_entries(prev, root)}
        new_pdel = [
            d
            for d in _pos_delete_entries(m_w, root)
            if d["path"] not in pdel_prev
        ]
        if (
            not (op.startswith("append") or op in ("delete", "merge"))
            or new_pdel
        ):
            return False, (
                f"v{w} is '{op}' — only appends, key deletes, and "
                "merges are key-disjointness-checkable"
            )
        if has_nbs:
            return False, (
                f"v{w} ('{op}') interleaved with a NOT MATCHED BY "
                "SOURCE statement — NBS verdicts read every unmatched "
                "target row, so any concurrent row change invalidates "
                "them"
            )
        if m_w.get("delete_key") is not None and _key_list(
            m_w["delete_key"]
        ) != kl:
            return False, f"v{w} changed the table's row identity"
        touched: list = []
        for e in (
            e for e in _entries(m_w, root) if e["path"] not in prev_paths
        ):
            kb = e.get("kidx")
            h = None
            if kb and kb.get("col") is not None and _key_list(
                kb["col"]
            ) == kl:
                try:
                    h = np.fromfile(
                        os.path.join(root, e["path"] + ".kidx"),
                        dtype="<u8",
                    )
                except OSError:
                    h = None
            if h is None:
                h = _file_key_hashes(root, e["path"], kl)
            if h is None:
                return False, (
                    f"v{w}'s file {e['path']} keys cannot be determined"
                )
            touched.append(h)
        del_prev = {e["path"] for e in _delete_entries(prev, root)}
        new_del = [
            d["path"]
            for d in _delete_entries(m_w, root)
            if d["path"] not in del_prev
        ]
        if new_del:
            touched.append(
                _kidx_hash_set(_read_key_values(root, new_del, kl))
            )
        if touched:
            allh = np.concatenate(touched)
            if np.intersect1d(probe, allh, assume_unique=False).size:
                return False, f"v{w}'s keys overlap the statement's"
        prev = m_w
    return True, ""


def snapshot_merge_clauses(
    spark: SparkSession,
    root: str,
    source: DataFrame,
    key_col,
    clauses: list[dict],
) -> int:
    """CLAUSE-FORM MERGE (r15, VERDICT r14 item 3 — the statement every
    Delta/Iceberg SQL user writes first), one atomic commit on the same
    MOR primitives as :func:`snapshot_merge` (new data files + one
    equality delete-key file, sequence-scoped at read). ``key_col`` is
    the row identity — a column name or an ordered column LIST
    (composite natural key, r16: ``ON t.a = s.a AND t.b = s.b``).
    ``clauses`` is an ORDERED list of dicts:

    * ``{"kind": "update", "cond": sql|None, "sets": {col: sql}}`` —
      WHEN MATCHED [AND cond] THEN UPDATE SET …
    * ``{"kind": "delete", "cond": sql|None}`` —
      WHEN MATCHED [AND cond] THEN DELETE
    * ``{"kind": "insert", "cond": sql|None, "cols": [..]|None,
      "values": [sql]|None}`` — WHEN NOT MATCHED [AND cond] THEN
      INSERT * / (cols) VALUES (exprs)
    * ``{"kind": "nbs_update", "cond": sql|None, "sets": {col: sql}}``
      — WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET …
      (condition and SET exprs reference the TARGET alias ``t`` only —
      there is no source row on this side)
    * ``{"kind": "nbs_delete", "cond": sql|None}`` —
      WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE

    Conditions and expressions are Spark SQL referencing aliases ``t``
    (target) and ``s`` (source); matched/insert clauses apply
    FIRST-MATCH-WINS in statement order (a NULL condition does not
    match — standard MERGE rule). The rewrite: eligible matched rows
    per clause → updated copies (re-added) or removed keys; NOT
    MATCHED source rows → inserts; NOT MATCHED BY SOURCE target rows →
    removed keys. One commit adds (updated ∪ inserted) rows and
    tombstones (updated ∪ deleted ∪ nbs-deleted) keys.

    SINGLE-EVALUATION VERDICTS (r16, ADVICE r15 medium): each clause
    FAMILY (matched / insert / not-matched-by-source) evaluates its
    conditions EXACTLY ONCE, as one first-match-wins CASE over one
    join, and the classified affected rows are MATERIALIZED to parquet;
    adds, tombstone keys, and the partial-key audit all derive from
    that one materialization. Upstream engines evaluate MERGE in a
    single job for the same reason: a non-deterministic condition
    (rand(), a clock read) re-evaluated between the tombstone query
    and the adds query could silently drop or duplicate rows inside
    one "atomic" commit. Materialization is bounded by AFFECTED rows
    (matched ∩ eligible, eligible inserts, eligible NBS rows), never
    the full table.

    Refusals, all loud: SET on a key column (a key-granular delete
    cannot express a key rewrite); a key whose target rows are only
    PARTIALLY affected (duplicate-key targets where a condition
    distinguishes rows — key-granular tombstones would drop the
    unaffected rows; use predicate DML); ambiguous source keys (same
    rule as snapshot_merge). The source is MATERIALIZED once before
    evaluation so a non-deterministic source cannot diverge between
    the add and tombstone sides. At 100 TB: O(source + affected) work,
    zero table rewrite — the snapshot_merge economics with conditional
    semantics.

    Concurrency (r16, VERDICT r15 item 4): the clause verdicts are
    evaluated against ONE target version, so a blind retry over a
    concurrent commit would apply stale verdicts (the snapshot_compact
    rewrite-validation rule). On CommitConflict the statement now runs
    the Delta-style KEY-DISJOINT check (:func:`_relink_clause_merge_
    safe`): if every interleaved commit is row-preserving or touches
    only keys provably disjoint from this statement's KEY FOOTPRINT —
    its full read set (every source key) plus tombstones/adds —
    (kidx/sidecar evidence, bounded reads), the already-evaluated
    verdicts are still exact and the commit re-links on the new head —
    parallel CDC-apply writers on disjoint key ranges land without
    caller re-runs. Anything unprovable (overlapping keys, NBS
    statements racing row changes, rewrites, pos-delete commits)
    surfaces as CommitConflict and the caller re-runs the statement
    against the new head, exactly as before."""
    import shutil as _shutil

    kl = _key_list(key_col)
    if latest_version(root) == 0:
        raise ValueError(
            "cannot merge into an empty table — snapshot_write the "
            "initial load first"
        )
    missing_k = [k for k in kl if k not in source.columns]
    if missing_k:
        raise ValueError(f"source has no key column(s) {missing_k!r}")
    _refuse_merge_audit_names(source.columns, "source")
    if not clauses:
        raise ValueError("clause-form merge needs at least one clause")
    for c in clauses:
        hit = [k for k in kl if k in c.get("sets", {})]
        if c["kind"] in ("update", "nbs_update") and hit:
            raise ValueError(
                f"UPDATE SET on the merge key {hit!r} is refused — "
                "a key-granular tombstone cannot express a key rewrite "
                "(delete + insert instead)"
            )

    # materialize the source ONCE (snapshot_merge reads its written
    # files back for the same reason): every downstream evaluation —
    # adds, tombstones, the partial-key audit — sees identical rows
    # even for a non-deterministic source query
    # NOT underscore-prefixed (Spark's FS listing treats `_*` as hidden
    # and would ignore the files); outside root/data so vacuum never
    # walks it; removed in the finally
    tmp = os.path.join(root, f"tmpmerge-{uuid.uuid4().hex[:12]}")
    sfx = uuid.uuid4().hex[:8]
    views: list[str] = []

    def _mat(df: DataFrame, sub: str) -> DataFrame:
        """Write-then-read materialization with the empty-frame rule
        (an empty result writes zero part files — ADVICE r15)."""
        d = os.path.join(tmp, sub)
        df.write.mode("error").parquet(d)
        if any(f.startswith("part-") for f in os.listdir(d)):
            return spark.read.parquet(d)
        return spark.createDataFrame([], df.schema)

    source.write.mode("error").parquet(os.path.join(tmp, "src"))
    try:
        src_parts = [
            os.path.join(tmp, "src", f)
            for f in os.listdir(os.path.join(tmp, "src"))
            if f.startswith("part-")
        ]
        if src_parts:
            src = spark.read.parquet(os.path.join(tmp, "src"))
        else:
            src = spark.createDataFrame([], source.schema)
        # r17: pyarrow fast path over the materialized source's key
        # columns (see _source_keys_clean_fast) — the exact Spark agg
        # runs only when cleanliness is not provable
        if src_parts and not _source_keys_clean_fast(src_parts, kl):
            _refuse_ambiguous_source(src, kl, "merge")
        base0 = latest_version(root)
        cur = snapshot_read(spark, root, base0)
        tcols = cur.columns
        _refuse_merge_audit_names(tcols, "target")
        ttypes = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
        for c in clauses:
            if c["kind"] in ("update", "nbs_update"):
                bad = set(c.get("sets", {})) - set(tcols)
                if bad:
                    # same refusal the INSERT path gives — a typo'd SET
                    # column would otherwise be silently DROPPED and
                    # the matched rows rewritten UNCHANGED (review r15)
                    raise ValueError(
                        f"UPDATE SET names unknown columns "
                        f"{sorted(bad)} (table has {tcols})"
                    )
        tv, sv = f"__mrgc_t_{sfx}", f"__mrgc_s_{sfx}"
        views.extend([tv, sv])
        cur.createOrReplaceTempView(tv)
        src.createOrReplaceTempView(sv)

        def q(sql: str) -> DataFrame:
            return spark.sql(sql)

        def guard(cond: str | None) -> str:
            return f"coalesce(({cond}), false)" if cond else "true"

        def verdict(family: list[dict]) -> str:
            """First-match-wins clause index, ONE CASE expression —
            every condition in the family evaluates exactly once per
            row, in this single expression (ADVICE r15 medium)."""
            whens = " ".join(
                f"WHEN {guard(c.get('cond'))} THEN {i}"
                for i, c in enumerate(family)
            )
            return f"CASE {whens} ELSE -1 END"

        def reg(df: DataFrame, name: str) -> str:
            view = f"__mrgc_{name}_{sfx}"
            views.append(view)
            df.createOrReplaceTempView(view)
            return view

        on_cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in kl)
        key_sel = ", ".join(f"t.`{k}` AS `{k}`" for k in kl)
        scols = src.columns
        # r17: flat key copies + the per-key visible-row total, computed
        # as a window INSIDE the family job (before the verdict filter,
        # so the count covers every matched/unmatched row of the key) —
        # what the audit below consumes without re-scanning the target.
        # Sound because source keys are unique (ambiguity rule): a
        # matched key's join rows = exactly the target's rows for that
        # key, and an anti-joined key's rows = all its target rows.
        audit_sel = "".join(
            f", t.`{k}` AS `__mrgk_{i}`" for i, k in enumerate(kl)
        ) + (
            ", count(*) OVER (PARTITION BY "
            + ", ".join(f"t.`{k}`" for k in kl)
            + ") AS `__n_tot`"
        )

        def bare(alias: str, cols, other) -> str:
            """Bare-name projections for the materialized frames
            (review r16): pre-r16 the per-clause queries ran over the
            raw t/s join scope, so an UNQUALIFIED column name unique
            to one side resolved (`SET x = x + 1`); the struct-only
            materialization broke those statements. Names present on
            BOTH sides stay struct-only — they were AMBIGUOUS in the
            join scope too, loud either way."""
            skip = set(other) | {"t", "s", "__clause", "__n_tot"}
            return "".join(
                f", {alias}.`{c}` AS `{c}`"
                for c in cols
                if c not in skip and not c.startswith("__mrgk_")
            )
        mfam = [c for c in clauses if c["kind"] in ("update", "delete")]
        ifam = [c for c in clauses if c["kind"] == "insert"]
        nfam = [
            c for c in clauses if c["kind"] in ("nbs_update", "nbs_delete")
        ]

        adds: list[DataFrame] = []
        tomb: list[DataFrame] = []  # key frames to tombstone
        audit: list[DataFrame] = []  # per-ROW key hits for the audit

        def set_proj(sets: dict[str, str]) -> str:
            return ", ".join(
                f"CAST(({sets[col]}) AS {ttypes[col]}) AS `{col}`"
                if col in sets
                else f"t.`{col}` AS `{col}`"
                for col in tcols
            )

        if mfam:
            mv = reg(
                _mat(
                    q(
                        f"SELECT struct(t.*) AS t, struct(s.*) AS s"
                        f"{bare('t', tcols, scols)}"
                        f"{bare('s', scols, tcols)}{audit_sel}, "
                        f"{verdict(mfam)} AS __clause "
                        f"FROM {tv} t JOIN {sv} s ON {on_cond}"
                    ).where("__clause >= 0"),
                    "m",
                ),
                "m",
            )
            keys_df = q(f"SELECT {key_sel} FROM {mv}")
            tomb.append(keys_df)
            audit.append(keys_df)
            for i, c in enumerate(mfam):
                if c["kind"] == "update":
                    adds.append(
                        q(
                            f"SELECT {set_proj(c['sets'])} FROM {mv} "
                            f"WHERE __clause = {i}"
                        )
                    )
        if ifam:
            iv = reg(
                _mat(
                    q(
                        # anti-join scope exposed only the SOURCE
                        # columns pre-r16 — mirror that bare
                        f"SELECT struct(s.*) AS s"
                        f"{bare('s', scols, [])}, "
                        f"{verdict(ifam)} AS __clause "
                        f"FROM {sv} s LEFT ANTI JOIN {tv} t ON {on_cond}"
                    ).where("__clause >= 0"),
                    "i",
                ),
                "i",
            )
            for i, c in enumerate(ifam):
                if c.get("cols") is not None:
                    vals = dict(zip(c["cols"], c["values"]))
                    bad = set(vals) - set(tcols)
                    if bad:
                        raise ValueError(
                            f"INSERT names unknown columns {sorted(bad)}"
                        )
                    proj = ", ".join(
                        f"CAST(({vals[col]}) AS {ttypes[col]}) AS `{col}`"
                        if col in vals
                        else f"CAST(NULL AS {ttypes[col]}) AS `{col}`"
                        for col in tcols
                    )
                else:  # INSERT *: source cols by name, NULL-fill rest
                    missing = [c2 for c2 in tcols if c2 not in src.columns]
                    proj = ", ".join(
                        f"CAST(s.`{col}` AS {ttypes[col]}) AS `{col}`"
                        if col not in missing
                        else f"CAST(NULL AS {ttypes[col]}) AS `{col}`"
                        for col in tcols
                    )
                adds.append(
                    q(f"SELECT {proj} FROM {iv} WHERE __clause = {i}")
                )
        if nfam:
            nv = reg(
                _mat(
                    q(
                        f"SELECT struct(t.*) AS t"
                        f"{bare('t', tcols, [])}{audit_sel}, "
                        f"{verdict(nfam)} AS __clause "
                        f"FROM {tv} t LEFT ANTI JOIN {sv} s ON {on_cond}"
                    ).where("__clause >= 0"),
                    "n",
                ),
                "n",
            )
            # NBS rows' conditions reference the TARGET only (the anti
            # join has no source side); the condition may still split
            # duplicate-key rows — audited below with the rest
            keys_df = q(f"SELECT {key_sel} FROM {nv}")
            tomb.append(keys_df)
            audit.append(keys_df)
            for i, c in enumerate(nfam):
                if c["kind"] == "nbs_update":
                    adds.append(
                        q(
                            f"SELECT {set_proj(c['sets'])} FROM {nv} "
                            f"WHERE __clause = {i}"
                        )
                    )

        # partial-key audit: every affected key's row count must equal
        # its total visible row count — otherwise a key-granular
        # tombstone would silently drop the unaffected duplicates.
        # r17 fast path: audit AND the distinct tombstone-key file come
        # from one pyarrow pass over the already-materialized family
        # files (see _clause_audit_del_fast — the window-computed
        # __n_tot replaces the old second pass over the target); the
        # Spark path below remains the fallback.
        fam_dirs = []
        if mfam:
            fam_dirs.append(os.path.join(tmp, "m"))
        if nfam:
            fam_dirs.append(os.path.join(tmp, "n"))
        del_files_fast = (
            _clause_audit_del_fast(root, fam_dirs, kl) if audit else []
        )
        if audit and del_files_fast is None:
            aff = audit[0]
            for a in audit[1:]:
                aff = aff.unionByName(a)
            per_aff = aff.groupBy(*kl).agg(
                F.count(F.lit(1)).alias("__n_aff")
            )
            per_tot = (
                cur.join(F.broadcast(per_aff.select(*kl)), kl,
                         "left_semi")
                .groupBy(*kl)
                .agg(F.count(F.lit(1)).alias("__n_tot"))
            )
            bad = (
                per_aff.join(per_tot, kl)
                .where(F.col("__n_aff") != F.col("__n_tot"))
                .limit(1)
                .collect()
            )
            if bad:
                r = bad[0]
                badkey = tuple(r[k] for k in kl)
                raise ValueError(
                    f"merge clause affects {r['__n_aff']} of "
                    f"{r['__n_tot']} rows for key "
                    f"{badkey!r} — duplicate-key targets where a "
                    "condition splits a key's rows cannot be expressed "
                    "with key-granular tombstones; use predicate "
                    "UPDATE/DELETE WHERE instead"
                )

        add_rows = None
        for a in adds:
            add_rows = a if add_rows is None else add_rows.unionByName(a)
        del_keys = None
        for d in tomb:
            del_keys = d if del_keys is None else del_keys.unionByName(d)

        new_files = (
            _write_data_files(add_rows, root, prefix="mrg")
            if add_rows is not None
            else []
        )
        written = (
            spark.read.parquet(*[os.path.join(root, p) for p in new_files])
            if new_files
            else None
        )
        m0 = _read_manifest(root, base0)
        _validate_delete_key(m0, kl)
        if written is not None:
            _enforce_constraints(
                written,
                m0.get("constraints") or {},
                f"snapshot_merge_clauses into {root}",
            )
        kidxs = (
            _write_key_indexes(root, new_files, kl)
            if new_files
            else {}
        )
        new_stats = _file_stats(root, new_files) if new_files else {}
        seg = (
            _write_segment(
                root,
                [
                    {
                        "path": p,
                        "stats": new_stats[p],
                        **({"kidx": kidxs[p]} if p in kidxs else {}),
                    }
                    for p in new_files
                ],
            )
            if new_files
            else None
        )
        if del_keys is None:
            del_files = []
        elif del_files_fast is not None:
            del_files = del_files_fast
        else:
            del_files = _write_data_files(
                del_keys.select(*kl).distinct(), root, prefix="del"
            )
        dseg = (
            _write_segment(root, [{"path": p} for p in del_files])
            if del_files
            else None
        )
        # Commit pinned to the EVALUATED version, with a KEY-DISJOINT
        # re-link on conflict (r16, VERDICT r15 item 4): the verdicts
        # above were computed against base0's view, so blind retry
        # would apply stale verdicts (the compact rule). But when every
        # interleaved commit is row-preserving or provably key-disjoint
        # from this statement's verdict keys, the verdicts are still
        # exact — re-link on the new head so parallel CDC-apply writers
        # on disjoint key ranges land without caller re-runs. Anything
        # unprovable surfaces as CommitConflict for a statement re-run,
        # exactly as before.
        probe = None
        base_try, m_try = base0, m0
        relinks = 0
        while True:
            try:
                v = _commit(
                    root,
                    base_try,
                    "merge",
                    carry_from=m_try,
                    new_segment=seg,
                    new_delete_segment=dseg,
                    delete_key=_key_store(kl),
                    schema=m_try.get("schema"),
                )
                return v
            except CommitConflict:
                if relinks >= _COMMIT_RETRIES:
                    raise
                relinks += 1
                head = latest_version(root)
                if head <= base_try:
                    raise
                if probe is None:
                    # this statement's key FOOTPRINT, hashed once — the
                    # READ set, not just the write set (review r16): a
                    # matched row whose every condition evaluated FALSE
                    # was still read, and a concurrent commit touching
                    # its key would flip the verdict on re-evaluation
                    # (the classic write-skew: A reads k1 untouched, B
                    # writes k1 — A-then-B and B-then-A both differ
                    # from the re-link). For matched/insert statements
                    # the read set is exactly the MATERIALIZED SOURCE's
                    # keys (every clause joins or anti-joins on them;
                    # tombstone and add keys are subsets — unioned
                    # anyway, they are cheap and the invariant is then
                    # self-evident). NBS statements read every target
                    # row and never re-link (checked above).
                    import numpy as np

                    src_dir = os.path.join(tmp, "src")
                    parts_h = [
                        _kidx_hash_set(
                            _read_key_values(
                                src_dir,
                                [
                                    f
                                    for f in os.listdir(src_dir)
                                    if f.startswith("part-")
                                ],
                                kl,
                            )
                        ),
                        _kidx_hash_set(
                            _read_key_values(root, del_files, kl)
                        )
                        if del_files
                        else np.empty(0, dtype=np.uint64),
                    ]
                    for p in new_files:
                        h = _file_key_hashes(root, p, kl)
                        if h is None:
                            raise  # cannot prove own keys: surface
                        parts_h.append(h)
                    probe = np.unique(np.concatenate(parts_h))
                ok, why = _relink_clause_merge_safe(
                    root, base_try, head, kl, probe, bool(nfam)
                )
                if not ok:
                    raise CommitConflict(
                        f"clause merge evaluated against v{base_try} "
                        f"cannot re-link over concurrent commits: {why} "
                        "— re-run the statement against the new head"
                    )
                m_head = _read_manifest(root, head)
                if m_head.get("schema") != m0.get("schema"):
                    raise CommitConflict(
                        "table schema changed concurrently — re-run "
                        "the statement against the new head"
                    )
                _validate_delete_key(m_head, kl)
                cur_cons = m_head.get("constraints") or {}
                if written is not None and cur_cons != (
                    m0.get("constraints") or {}
                ):
                    # constraints added since evaluation bind this
                    # statement's rows too (the snapshot_merge TOCTOU
                    # rule)
                    _enforce_constraints(
                        written,
                        cur_cons,
                        f"snapshot_merge_clauses into {root} "
                        "(constraints changed concurrently)",
                    )
                base_try, m_try = head, m_head
    finally:
        # drop the temp views on EVERY exit (refusals and commit
        # conflicts leaked them before — review r15); they may not
        # exist yet if an early validation refused
        for view in views:
            try:
                spark.catalog.dropTempView(view)
            except Exception:
                pass
        _shutil.rmtree(tmp, ignore_errors=True)


def snapshot_compact(spark: SparkSession, root: str) -> int:
    """COPY-ON-WRITE compaction — the other half of the MOR trade:
    materialize the current merge-on-read view (data minus applicable
    delete keys) into fresh files and commit an overwrite carrying NO
    delete files, paying the rewrite once to drop the per-read
    anti-join rent. Prior versions remain time-travel-readable until
    vacuum. NO auto-retry on CommitConflict: the materialized files
    snapshot a specific base version, so a concurrent commit makes them
    stale — the caller must re-compact from the new state (Iceberg's
    rewrite-validation rule), not re-link old bytes over it."""
    base = latest_version(root)
    if base == 0:
        raise ValueError("cannot compact an empty table")
    m = _read_manifest(root, base)
    df = snapshot_read(spark, root, base)
    # a partitioned table re-materializes UNDER ITS SPEC — compaction
    # must not silently flatten the layout pruned reads depend on (r13)
    spec = m.get("partition_spec")
    if spec:
        partial = _write_partitioned_data_files(df, root, spec)
    else:
        partial = [{"path": p} for p in _write_data_files(df, root)]
    stats = _file_stats(root, [e["path"] for e in partial])
    # post-compact files are the table's bulk — bloom them under the
    # base's row identity so the NEXT delete's planning can skip
    dkey = m.get("delete_key")
    kidxs = (
        _write_key_indexes(root, [e["path"] for e in partial], dkey)
        if dkey
        else {}
    )
    seg = _write_segment(
        root,
        [
            {
                **e,
                "stats": stats[e["path"]],
                **(
                    {"kidx": kidxs[e["path"]]}
                    if e["path"] in kidxs
                    else {}
                ),
            }
            for e in partial
        ],
    )
    # compaction materializes the whole view, so its schema is
    # authoritative — this is also how a legacy schema-less lineage
    # acquires a recorded schema (review r12)
    return _commit(
        root,
        base,
        "compact",
        new_segment=seg,
        schema=_schema_of(df),
        partition_spec=spec,
        constraints=m.get("constraints"),  # carry_from is None here
    )


def snapshot_compact_small(
    spark: SparkSession,
    root: str,
    small_bytes: int = 32 << 20,
    min_files: int = 4,
    partition: dict | None = None,
) -> int | None:
    """MINOR (bin-packing) COMPACTION (r16): rewrite only the LIVE
    data files smaller than ``small_bytes`` into fewer, larger files —
    the maintenance a 100 TB table actually runs, where the full
    copy-on-write :func:`snapshot_compact` is a non-starter (it
    rewrites the entire table). Cost is O(picked small files), never
    O(table): untouched files keep their entries, their commit
    sequences, and therefore their exact delete applicability.

    Semantics: the picked files' VISIBLE rows are materialized through
    the ordinary MOR read (applicable equality deletes anti-joined per
    sequence horizon, position deletes masked), so the rewritten rows
    need no prior delete to apply to them — the new files commit at
    the new sequence, past every existing delete, exactly like a
    full compact's output, while all delete state is CARRIED for the
    untouched files. Position-delete addresses naming a rewritten
    file keep pointing at the (now dead) old path and match nothing —
    harmless by construction. Rewritten files lay out under the
    CURRENT partition spec (spec evolution's adopt-on-rewrite rule)
    and get fresh stats + kidx sidecars.

    Row-preserving: batch and streaming CDC pass through a
    ``compact_small`` commit with zero events (same class as
    compact/cluster), and the clause-merge conflict check re-links
    over it. Returns the committed version, or None when fewer than
    ``min_files`` files qualify (nothing worth rewriting). NO
    auto-retry on CommitConflict — the materialized bytes snapshot a
    specific base (the compact rule); re-run from the new head."""
    base = latest_version(root)
    if base == 0:
        raise ValueError("cannot compact an empty table")
    m = _read_manifest(root, base)
    if m.get("files"):
        raise ValueError(
            "legacy inline-manifest lineage — run the full "
            "snapshot_compact once to adopt segmented metadata"
        )
    picked: list[dict] = []
    picked_bytes = 0
    for desc in m.get("segments", []):
        for e in _load_segment(root, desc):
            if partition is not None:
                # PARTITION-SCOPED maintenance (r16): at 100 TB you
                # bin-pack yesterday's partition, not the table — only
                # entries whose recorded partition values match every
                # given pair qualify; unpartitioned entries never do
                pv = e.get("partition") or {}
                if any(pv.get(k) != v for k, v in partition.items()):
                    continue
            try:
                sz = os.path.getsize(os.path.join(root, e["path"]))
            except OSError:
                continue  # vanished mid-walk: not ours to rewrite
            if sz < small_bytes:
                picked.append(e)
                picked_bytes += sz
    if len(picked) < min_files:
        return None
    picked_paths = {e["path"] for e in picked}
    df = _assemble(spark, root, m, picked)
    spec = m.get("partition_spec")
    if spec:
        partial = _write_partitioned_data_files(df, root, spec)
    else:
        # bin-pack toward ~4x the small threshold per output file
        # (128 MB at the 32 MB default — the standard target)
        n_out = max(1, picked_bytes // (small_bytes * 4) + 1)
        partial = [
            {"path": p}
            for p in _write_data_files(df.coalesce(int(n_out)), root)
        ]
    new_files = [e["path"] for e in partial]
    stats = _file_stats(root, new_files)
    dkey = m.get("delete_key")
    kidxs = _write_key_indexes(root, new_files, dkey) if dkey else {}
    seg = _write_segment(
        root,
        [
            {
                **e,
                "stats": stats[e["path"]],
                **(
                    {"kidx": kidxs[e["path"]]}
                    if e["path"] in kidxs
                    else {}
                ),
            }
            for e in partial
        ],
    )
    # synthetic carry: untouched segments verbatim; partially-picked
    # segments rewritten WITHOUT the picked entries, KEEPING the
    # original descriptor sequence (their surviving files' delete
    # applicability must not move); fully-picked segments drop
    new_segs: list[dict] = []
    for desc in m.get("segments", []):
        ents = _load_segment(root, desc)
        keep = [e for e in ents if e["path"] not in picked_paths]
        if len(keep) == len(ents):
            new_segs.append(desc)
        elif keep:
            nd = _write_segment(root, keep)
            if desc.get("seq") is not None:
                nd["seq"] = desc["seq"]
            new_segs.append(nd)
    carry = {**m, "segments": new_segs}
    return _commit(
        root,
        base,
        "compact_small",
        carry_from=carry,
        new_segment=seg,
        schema=m.get("schema"),
    )


def snapshot_files(
    spark: SparkSession, root: str, version: int | str | None = None
) -> DataFrame:
    """FILES metadata table (Iceberg's ``tbl.files`` / Delta's DESCRIBE
    DETAIL file listing, public designs — r14): one row per live data
    file of the snapshot — root-relative path, commit sequence, byte
    size, Hive partition values (JSON, NULL when unpartitioned), and
    the manifest-embedded column min/max stats (JSON, NULL when
    absent). Pure metadata — manifests + segment descriptors, no data
    file is opened — so it costs O(live files) JSON however big the
    files are; the observability surface for "why didn't this prune" /
    "how skewed are my file sizes". A string ``version`` is a tag."""
    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = _read_manifest(root, v)
    rows = []
    for e in _entries(m, root):
        rows.append(
            (
                e["path"],
                e.get("seq"),
                e.get("bytes"),
                json.dumps(e["partition"], sort_keys=True)
                if e.get("partition") is not None
                else None,
                json.dumps(e["stats"], sort_keys=True)
                if e.get("stats")
                else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "path string, seq int, bytes bigint, partition string, "
        "stats string",
    )


def snapshot_detail(root: str) -> dict:
    """DESCRIBE DETAIL / ``table detail``: a summary of the live snapshot
    — version, last operation, live file and byte counts, equality- and
    position-delete file counts, partition spec, constraints, schema
    width. Pure manifest metadata, no data file is opened."""
    v = latest_version(root)
    m = _read_manifest(root, v)
    ents = _entries(m, root)
    return {
        "location": root,
        "version": v,
        "last_operation": m["operation"],
        "num_files": len(ents),
        "size_bytes": sum(e.get("bytes") or 0 for e in ents),
        "num_delete_files": len(_delete_entries(m, root)),
        "num_pos_delete_files": len(_pos_delete_entries(m, root)),
        "partition_spec": m.get("partition_spec"),
        "constraints": m.get("constraints") or {},
        "schema_width": len(m.get("schema") or []),
    }


def snapshot_partitions(root: str) -> list[dict]:
    """SHOW PARTITIONS / ``table partitions``: the live snapshot's
    recorded partition values (``k=v, ...``, keys sorted) with file and
    byte counts, in value order. Entries without a partition descriptor
    group under None, listed last, so mixed lineages stay visible. Pure
    manifest metadata, no data file is opened."""
    m = _read_manifest(root, latest_version(root))
    agg: dict = {}
    for e in _entries(m, root):
        pv = e.get("partition")
        key = ", ".join(f"{k}={pv[k]}" for k in sorted(pv)) if pv else None
        n, b = agg.get(key, (0, 0))
        agg[key] = (n + 1, b + (e.get("bytes") or 0))
    return [
        {"partition": k, "n_files": n, "n_bytes": b}
        for k, (n, b) in sorted(
            agg.items(), key=lambda kv: (kv[0] is None, kv[0])
        )
    ]


def snapshot_history(spark: SparkSession, root: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per retained snapshot — version, base,
    operation, file/segment counts, delete state, schema width. Pure
    metadata (manifests + segment descriptors; segment files are loaded
    only for entry counts, no data file is touched), so it costs
    O(distinct segments) however big the table is — consecutive
    versions share almost all their segments, so each immutable
    segment file is loaded ONCE into a per-call cache instead of once
    per version referencing it (review r12: the naive walk was O(V^2)
    segment reads over a V-commit ingest history). The audit surface
    every versioned-table user reaches for first: 'what happened to
    this table and when'."""
    seg_n: dict[str, int] = {}

    def n_of(descs: list[dict]) -> int:
        total = 0
        for d in descs:
            if d["path"] not in seg_n:
                seg_n[d["path"]] = len(_load_segment(root, d))
            total += seg_n[d["path"]]
        return total

    rows = []
    for v in versions(root):
        m = _read_manifest(root, v)
        spec = m.get("partition_spec")
        rows.append(
            (
                v,
                m.get("base"),
                m["operation"],
                len(m.get("files", [])) + n_of(m.get("segments", [])),
                len(m.get("segments", [])),
                len(m.get("delete_files", []))
                + n_of(m.get("delete_segments", []))
                + n_of(m.get("pos_delete_segments", [])),
                # composite keys render comma-joined in the history view
                # (the column is a string; the manifest keeps the list)
                ",".join(_key_list(m["delete_key"]))
                if m.get("delete_key") is not None
                else None,
                len(m.get("schema") or []),
                # the TIMESTAMP AS OF resolution target — surfacing it is
                # what makes 'read the table as of THAT commit' usable
                # without opening manifest JSON by hand (r13)
                m.get("committed_at"),
                ", ".join(spec) if spec else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, base int, operation string, n_files int, "
        "n_segments int, n_delete_files int, delete_key string, "
        "n_columns int, committed_at double, partition_spec string",
    )


def timestamp_to_epoch(spec) -> float:
    """Timestamp operand → epoch seconds: numbers pass through;
    strings are ISO-8601, naive values read as UTC (manifests'
    committed_at is ``time.time()`` and the engine pins the session
    zone to UTC). Shared by TIMESTAMP AS OF, timestamp-bounded CDC,
    and the streaming sources' ``starting_timestamp`` option."""
    if isinstance(spec, (int, float)) and not isinstance(spec, bool):
        return float(spec)
    s = str(spec).strip().strip("'\"")
    try:
        return float(s)
    except ValueError:
        pass
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(s)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def version_as_of(root: str, ts: float) -> int:
    """Newest retained version whose commit time is <= ``ts`` (epoch
    seconds) — the resolution step of TIMESTAMP AS OF, also the
    INCLUSIVE upper bound of a timestamp-range CDC read. Raises when
    no retained commit qualifies (the answer would silently be a LATER
    state than asked for — after vacuum, honest failure beats a wrong
    snapshot). Manifests without a commit time (legacy) are skipped
    the same way."""
    best = None
    for v in versions(root):
        at = _read_manifest(root, v).get("committed_at")
        if at is not None and at <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no retained snapshot committed at or before {ts} under "
            f"{root} (retained: {versions(root)}) — vacuumed or in the "
            "future"
        )
    return best


def cdc_start_version(root: str, ts: float) -> int:
    """EXCLUSIVE lower bound of a timestamp-range CDC read: the newest
    version committed strictly BEFORE ``ts``, so every commit with
    committed_at >= ts is included — Delta's ``startingTimestamp``
    rule (the first version at or after the timestamp streams). 0 when
    the entire retained lineage is at/after ``ts`` (from genesis); if
    older commits were vacuumed, reading the range then fails loudly
    on the missing manifest rather than silently dropping changes."""
    best = 0
    for v in versions(root):
        at = _read_manifest(root, v).get("committed_at")
        if at is not None and at < ts:
            best = v
    return best


def snapshot_as_of(
    spark: SparkSession, root: str, ts: float
) -> DataFrame:
    """TIMESTAMP AS OF time travel: read the newest snapshot whose
    commit time is <= ``ts`` (epoch seconds) — the 'what did the table
    look like yesterday 09:00' verb (Delta's TIMESTAMP AS OF / Iceberg's
    snapshot-at-timestamp). Resolution is :func:`version_as_of`'s
    metadata walk over retained manifests."""
    return snapshot_read(spark, root, version_as_of(root, ts))


def snapshot_auto_maintain(
    spark: SparkSession,
    root: str,
    fold_at: int = 8,
    compact_at: int | None = None,
    binpack_at: int | None = None,
    binpack_small_bytes: int = 32 << 20,
) -> list[str]:
    """MAINTENANCE CADENCE for always-on ingest (r13, VERDICT r12 item
    6): a streaming upsert adds one data segment + one delete segment
    PER MICRO-BATCH forever — unbounded descriptor growth in every
    manifest and, worse, unbounded MOR read rent (each delete commit is
    its own delete-horizon group in ``_assemble``: one more scan + one
    more anti-join per read). Call this after each commit; it applies
    at most ONE maintenance action per call, keeping the per-batch cost
    spike bounded:

    * ``compact_at`` delete segments reached → copy-on-write
      :func:`snapshot_compact` (rewrites data ONCE, drops all delete
      state — the only action that resets read-side rent; amortized
      O(table/compact_at) per batch);
    * else ``binpack_at`` files below ``binpack_small_bytes`` → MINOR
      :func:`snapshot_compact_small` (r16 — rewrites ONLY the small
      files; bounds the small-file count a per-batch streaming ingest
      accretes without ever paying a table rewrite);
    * else ``fold_at`` total segment descriptors reached →
      :func:`snapshot_fold_metadata` (metadata-only, zero data moved —
      bounds manifest size between compactions).

    Returns the actions taken ([], ['fold'], ['binpack'] or
    ['compact']). Single-
    writer discipline: compact does not auto-retry on conflicts (by
    design), so run maintenance from the ingest owner, not a bystander."""
    base = latest_version(root)
    if base == 0:
        return []
    m = _read_manifest(root, base)
    # read rent = DISTINCT DELETE HORIZONS (each is one extra scan +
    # anti-join group per read), NOT delete-segment count — a fold
    # collapses many delete commits into one segment whose entries keep
    # their seqs inline, so counting segments would never re-trigger
    # compaction after the first fold
    if compact_at is not None:
        dels = _delete_entries(m, root)
        # position-delete rent (review r13): every predicate verb adds
        # one address FILE that each read unions + anti-joins — count
        # the files (fold collapses descriptors, never files), so an
        # update/delete-where ingest still triggers its compaction
        pos_files = len(_pos_delete_entries(m, root))
        if (
            dels and len({d.get("seq") for d in dels}) >= compact_at
        ) or pos_files >= compact_at:
            snapshot_compact(spark, root)
            return ["compact"]
    if binpack_at is not None:
        v = snapshot_compact_small(
            spark, root,
            small_bytes=binpack_small_bytes,
            min_files=binpack_at,
        )
        if v is not None:
            return ["binpack"]
    n_segs = (
        len(m.get("segments", []))
        + len(m.get("delete_segments", []))
        + len(m.get("pos_delete_segments", []))
        + len(m.get("files", []))
        + len(m.get("delete_files", []))
    )
    if n_segs >= fold_at:
        snapshot_fold_metadata(root)
        return ["fold"]
    return []


def snapshot_fold_metadata(root: str, retries: int = _COMMIT_RETRIES) -> int:
    """METADATA-ONLY compaction (Iceberg's rewrite_manifests): fold the
    accumulated per-commit segments into ONE data segment (+ one delete
    segment if delete state exists) and commit the result — zero data
    files touched, zero rows moved. This is what resets the
    O(#commits) descriptor growth of an append-only ingest that never
    data-compacts (10k micro-batch commits ≈ 0.5 MB of descriptors per
    manifest; after the fold, 1). Each entry keeps its ORIGINAL commit
    sequence inline in the folded segment, so sequence-scoped delete
    semantics (including delete-then-reinsert visibility) survive the
    fold byte-for-byte. Like any non-append commit, file-diff CDC
    refuses to cross it — use key-level diffs across a fold. No-ops
    (returns the current version) when there is nothing to fold."""

    def attempt() -> int:
        base = latest_version(root)
        if base == 0:
            raise ValueError("cannot fold an empty table")
        m = _read_manifest(root, base)
        n_segs = len(m.get("segments", []))
        n_dsegs = len(m.get("delete_segments", []))
        n_psegs = len(m.get("pos_delete_segments", []))
        if (
            n_segs <= 1
            and n_dsegs <= 1
            and n_psegs <= 1
            and not m.get("files")
        ):
            return base  # already folded
        seg = _write_segment(root, _entries(m, root))
        dels = _delete_entries(m, root)
        dseg = _write_segment(root, dels) if dels else None
        # position-delete descriptors fold like the others (review r13:
        # carrying them verbatim let a predicate-verb ingest grow its
        # descriptor list forever); entries are file-identity scoped, so
        # collapsing them into one segment is semantics-free
        pos = _pos_delete_entries(m, root)
        pos_carry = (
            [{**_write_segment(root, pos), "seq": base + 1}] if pos else []
        )
        return _commit(
            root,
            base,
            "fold",
            new_segment=seg,
            new_delete_segment=dseg,
            delete_key=m.get("delete_key") if dels else None,
            schema=m.get("schema"),
            partition_spec=m.get("partition_spec"),
            pos_delete_carry=pos_carry,
            constraints=m.get("constraints"),
        )

    return snapshot_commit_retry(attempt, retries)


# ---------------------------------------------------------------------------
# Named refs (tags) — Iceberg tags / Delta named snapshots (r13)
# ---------------------------------------------------------------------------

def _refs_dir(root: str) -> str:
    return os.path.join(root, "refs")


def _validate_ref_name(name: str) -> None:
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.-]*", name):
        raise ValueError(
            f"invalid ref name {name!r} — use an identifier "
            "([A-Za-z_][A-Za-z0-9_.-]*); it doubles as a filename and a "
            "SQL VERSION AS OF literal"
        )


def snapshot_tag(
    root: str, name: str, version: int | None = None, replace: bool = False
) -> int:
    """Pin a NAMED REF (Iceberg tag) at ``version`` (default: latest).
    A tag is a retention root: :func:`snapshot_vacuum` keeps a tagged
    manifest and its files however old, so 'the snapshot the 2026-08
    training run read' survives arbitrary later churn for the price of
    one tiny JSON ref — the reproducibility pin a 100 TB corpus needs
    (re-reading by version NUMBER stops working the day retention drops
    the manifest). Creation is atomic create-exclusive (same os.link
    discipline as commits): two racers creating one name get one winner
    and one honest error; pass ``replace=True`` to move an existing tag
    (atomic swap). Returns the pinned version."""
    _validate_ref_name(name)
    v = latest_version(root) if version is None else version
    _read_manifest(root, v)  # refuse to tag a vacuumed/unknown version
    os.makedirs(_refs_dir(root), exist_ok=True)
    path = os.path.join(_refs_dir(root), f"{name}.json")
    tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
    import time

    with open(tmp, "w") as f:
        json.dump({"name": name, "version": v, "created_at": time.time()}, f)
    if replace:
        os.replace(tmp, path)
    else:
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists under {root} (at "
                f"v{resolve_ref(root, name)}) — pass replace=True to move it"
            ) from None
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return v


def snapshot_drop_tag(root: str, name: str) -> None:
    """Remove a tag. The pinned version stays readable until a LATER
    vacuum drops it under the ordinary keep_last rule — dropping a tag
    releases retention, it never deletes data itself."""
    path = os.path.join(_refs_dir(root), f"{name}.json")
    if not os.path.exists(path):
        raise ValueError(f"no tag {name!r} under {root}")
    os.remove(path)


def list_tags(root: str) -> dict[str, int]:
    """name → pinned version, every tag (including ones whose manifest a
    pre-tag-era vacuum already dropped — callers see the dangle rather
    than a silently shrunk listing)."""
    d = _refs_dir(root)
    if not os.path.isdir(d):
        return {}
    out: dict[str, int] = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".json") and ".tmp-" not in f:
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            out[r["name"]] = r["version"]
    return out


def resolve_ref(root: str, name: str) -> int:
    """Tag name → version number; raises for unknown tags."""
    path = os.path.join(_refs_dir(root), f"{name}.json")
    if not os.path.exists(path):
        raise ValueError(
            f"no tag {name!r} under {root} (tags: {sorted(list_tags(root))})"
        )
    with open(path) as f:
        return json.load(f)["version"]


def snapshot_restore(
    root: str, to_version: int | str, retries: int = _COMMIT_RETRIES
) -> int:
    """RESTORE / ROLLBACK (Delta ``RESTORE TABLE ... VERSION AS OF`` /
    Iceberg ``rollback_to_snapshot`` — public designs): make the latest
    state identical to ``to_version`` (a number or a tag name) by
    committing a NEW manifest that carries the target snapshot's
    metadata verbatim — segments, delete state, schema, partition spec.
    METADATA-ONLY (zero data files touched or rewritten: the target's
    immutable files are simply referenced again, which also makes them
    vacuum-reachable from the new latest) and HISTORY-PRESERVING: the
    commits being undone stay time-travel readable until vacuum, so a
    fat-finger overwrite is reverted in O(descriptors) while the
    forensic trail survives. Restoring to the current latest is a no-op
    (returns it) — no empty commit. Bounded-retried on concurrent
    commits like every metadata-only writer; file-diff CDC refuses to
    cross the resulting non-append commit, as it must.

    Restore is FULL-STATE: schema, partition spec, delete state AND
    CHECK constraints all come from the target snapshot — a target that
    predates a constraint restores without it (the target's data was
    never validated against it; resurrecting the rule could instantly
    make the table violate itself). Re-add constraints after restoring
    if the rule should outlive the rollback."""

    def attempt() -> int:
        base = latest_version(root)
        if base == 0:
            raise ValueError("cannot restore an empty table")
        v = (
            resolve_ref(root, to_version)
            if isinstance(to_version, str)
            else to_version
        )
        tm = _read_manifest(root, v)  # raises if vacuumed/unknown
        if v == base:
            return base
        return _commit(
            root,
            base,
            "restore",
            carry_from=tm,
            schema=tm.get("schema"),
            partition_spec=tm.get("partition_spec"),
            delete_key=tm.get("delete_key"),
        )

    return snapshot_commit_retry(attempt, retries)


# ---------------------------------------------------------------------------
# Branches + write-audit-publish (r13) — Iceberg WAP / branch refs,
# re-expressed as separate manifest LINEAGES over shared data files
# ---------------------------------------------------------------------------

def snapshot_branch(
    root: str, name: str, at: int | None = None
) -> int:
    """Fork a BRANCH at main version ``at`` (default: latest) — the
    'write' isolation of write-audit-publish (Iceberg's WAP / branch
    refs, public design). A branch is its own manifest lineage
    (``manifests-b-<name>/``) sharing the root's immutable data and
    segment files, created by one metadata-only commit (branch v1)
    that carries the fork point's manifest verbatim plus a recorded
    ``forked_from``. Branch writers (``snapshot_write(branch=...)``)
    then stage commits invisible to main readers; ``snapshot_publish``
    fast-forwards main to the audited branch head. Creation is
    create-exclusive: two racers forking one name get one winner."""
    _validate_ref_name(name)
    v = latest_version(root) if at is None else at
    if v == 0:
        raise ValueError("cannot branch an empty table")
    m = _read_manifest(root, v)  # raises for vacuumed/unknown fork point
    if latest_version(root, name) > 0:
        raise ValueError(f"branch {name!r} already exists under {root}")
    try:
        return _commit(
            root,
            0,
            "fork",
            carry_from=m,
            schema=m.get("schema"),
            partition_spec=m.get("partition_spec"),
            branch=name,
            extra={"forked_from": v},
        )
    except CommitConflict:
        raise ValueError(
            f"branch {name!r} was created concurrently under {root}"
        ) from None


def list_branches(root: str) -> dict[str, int]:
    """branch name → forked-from main version, for every live branch."""
    out: dict[str, int] = {}
    for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        if d.startswith("manifests-b-"):
            name = d[len("manifests-b-"):]
            head = latest_version(root, name)
            if head:
                out[name] = _read_manifest(root, head, name).get(
                    "forked_from"
                )
    return out


def snapshot_publish(root: str, name: str) -> int:
    """PUBLISH a branch (WAP's third step): fast-forward MAIN to the
    branch head with one metadata-only commit carrying the head's
    manifest verbatim — valid because branch entries' paths are
    root-relative into the SHARED data dir. The commit's base is the
    recorded FORK POINT, so the create-exclusive link at fork+1 IS the
    WAP validation: if main advanced since the fork, the link fails
    with :class:`CommitConflict` and nothing is published — the caller
    re-forks from the new main and replays/re-audits (no auto-retry;
    silently publishing over unseen main commits would drop them).
    The branch lineage survives for forensics until
    :func:`snapshot_drop_branch`."""
    head = latest_version(root, name)
    if head == 0:
        raise ValueError(f"no branch {name!r} under {root}")
    bm = _read_manifest(root, head, name)
    fork = bm.get("forked_from")
    # The link-at-fork+1 exclusivity only proves no RETAINED manifest
    # occupies the slot — after a vacuum dropped old versions, linking
    # into the hole would "succeed" invisibly below the real head
    # (review r13). Validate the head explicitly, then re-verify after
    # the link in case a commit+vacuum interleaved with the check.
    main_head = latest_version(root)
    if main_head != fork:
        raise CommitConflict(
            f"main is at v{main_head}, branch {name!r} forked at "
            f"v{fork} — main advanced since the fork; re-fork from the "
            "current head and re-audit"
        )
    v = _commit(
        root,
        fork,
        "publish",
        carry_from=bm,
        schema=bm.get("schema"),
        partition_spec=bm.get("partition_spec"),
        delete_key=bm.get("delete_key"),
    )
    if latest_version(root) != v:
        # Two races look identical from here (ADVICE r13) and need
        # opposite answers:
        #   (a) vacuum hole: a racing commit landed at v, more commits
        #       advanced the head, a vacuum dropped the original v, and
        #       our link landed in the hole — our manifest sits BELOW an
        #       unrelated head, invisible; nothing was published.
        #   (b) fast follower: our link at v succeeded first and a
        #       concurrent writer then committed v+1 ON TOP of our
        #       published manifest — the staged rows ARE published;
        #       removing v would break time travel and make the advised
        #       re-publish duplicate them.
        # Distinguish by parentage: in (b) the successor's carry
        # includes our branch head's segment descriptors (uuid-named,
        # written by the branch writer — no unrelated commit can
        # reference them); in (a) it carries the vacuumed original's.
        succ_file = _manifest_path(root, v + 1)
        succ = None
        if os.path.exists(succ_file):
            succ = _read_manifest(root, v + 1)
            if succ.get("base") == v:
                # the proof set is the segments the branch ADDED beyond
                # the fork — fork-carried segments prove nothing (the
                # vacuumed original carried them too, so a zero-write
                # branch could false-prove parentage into a hole; r14
                # review). Fork manifest unreadable (vacuumed) → no
                # proof → refuse below, which is also the only world
                # where a vacuum ran.
                ours = {d["path"] for d in bm.get("segments", [])}
                theirs = {d["path"] for d in succ.get("segments", [])}
                try:
                    fork_segs = {
                        d["path"]
                        for d in _read_manifest(root, fork).get(
                            "segments", []
                        )
                    }
                except (FileNotFoundError, OSError):
                    fork_segs = None
                if fork_segs is not None:
                    added = ours - fork_segs
                    if added and added <= theirs:
                        return v  # published; a later commit built on it
                    if not ours and not fork_segs:
                        # flat (inline-files) lineage: parentage shows
                        # as our ADDED file paths in the successor
                        ff = {
                            e["path"]
                            for e in _read_manifest(root, fork).get(
                                "files", []
                            )
                        }
                        of = {
                            e["path"] for e in bm.get("files", [])
                        } - ff
                        if of and of <= {
                            e["path"] for e in _entries(succ, root)
                        }:
                            return v
        if succ is not None and succ.get("base") == v:
            # The successor RECORDED our manifest as its base but the
            # added-segments proof is inconclusive — e.g. a concurrent
            # row-preserving rewrite (compact/cluster/fold) built on the
            # just-published manifest rewrites every segment descriptor,
            # so `added <= theirs` fails even though our rows ARE live
            # at the head (ADVICE r14) — and a vacuum-hole successor
            # also carries base == v (built on the vacuumed original).
            # Commit TIME tells them apart: a hole successor was
            # committed BEFORE our link existed (racing commits + vacuum
            # all precede it), while a follower read latest == v only
            # AFTER our link, so its committed_at postdates ours.
            # Structural proof FIRST (ADVICE r15 — clocks are advisory):
            # a true follower's LIVE ENTRY SET contains the branch-added
            # DATA FILE paths verbatim (uuid-named, only this branch
            # wrote them; the vacuumed original cannot reference them).
            # A compact-follower rewrote them, so it falls to the clock.
            try:
                fork_paths = set(
                    _paths(_entries(_read_manifest(root, fork), root))
                )
            except (FileNotFoundError, OSError):
                fork_paths = None
            if fork_paths is not None:
                added_paths = set(_paths(_entries(bm, root))) - fork_paths
                if added_paths and added_paths <= set(
                    _paths(_entries(succ, root))
                ):
                    return v  # our staged data files ARE live downstream
            # Clock, three-way (ADVICE r15: the old `>=` let an exact
            # tie — or a backwards step — classify a vacuum-hole
            # successor as a follower, a silent-loss success):
            #   succ_t > ours_t + tie margin → follower (the compact-
            #     follower case: its Spark rewrite job runs strictly
            #     after our link, well past the margin)
            #   succ_t < ours_t (strictly)   → vacuum hole, undo below
            #     (a hole successor raced BEFORE our link; pre-r16
            #     behavior, unchanged)
            #   the tie band [ours_t, ours_t + margin], or missing
            #     timestamps → do NEITHER destructive thing: keep the
            #     manifest (the successor may depend on it) and refuse
            #     with a verify-before-republish instruction — the old
            #     `>=` called this band a follower, the ADVICE r15
            #     silent-loss false success.
            ours_t = _read_manifest(root, v).get("committed_at")
            succ_t = succ.get("committed_at")
            if ours_t is not None and succ_t is not None:
                if succ_t > ours_t + 0.05:
                    return v  # follower built on the published manifest
                if succ_t < ours_t:
                    # strictly-predating successor, no structural proof:
                    # vacuum hole — fall through to the undo
                    succ = None
            if succ is not None:
                raise CommitConflict(
                    f"publish of branch {name!r} raced a concurrent "
                    f"commit whose base is the published v{v} — "
                    "ambiguous race: the staged rows may already be "
                    "live at the head. Verify whether the branch's rows "
                    "are present at the current head BEFORE "
                    "re-publishing; do not blindly re-fork."
                )
        # unproven parentage with a successor that PREDATES our link
        # (vacuum hole) or no successor claiming our version as base:
        # undo and refuse honestly — nothing retained depends on our
        # manifest.
        os.remove(_manifest_path(root, v))
        raise CommitConflict(
            f"publish of branch {name!r} raced a concurrent "
            "commit+vacuum — re-fork and re-audit"
        )
    return v


def snapshot_drop_branch(root: str, name: str) -> None:
    """Remove a branch lineage (metadata only — its unpublished data
    files become unreachable and are reaped by the next age-graced
    vacuum, the same lifecycle as a conflicted-away commit attempt)."""
    import shutil

    d = _manifest_dir(root, name)
    if not os.path.isdir(d):
        raise ValueError(f"no branch {name!r} under {root}")
    shutil.rmtree(d)


def _link_or_copy(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except FileExistsError:
        pass  # idempotent: a retried clone re-links the same file
    except OSError:
        import shutil

        shutil.copy2(src, dst)  # cross-device / no-hardlink FS


def snapshot_clone(
    src_root: str, dst_root: str, version=None
) -> int:
    """SHALLOW CLONE (r16) — fork a table into ``dst_root`` with ZERO
    data bytes copied: the experimentation verb at 100 TB ("give me a
    writable copy of the prod table" must not mean copying 100 TB).
    ``version`` pins the clone point (int, tag/ref name, or None =
    latest head).

    Every data / equality-delete / position-delete file, kidx sidecar,
    and streaming-CDC plan sidecar is HARD-LINKED (same inode, zero
    bytes); the manifest + segment chain up to the clone point is
    copied verbatim — entry paths are root-relative, so the copied
    metadata reads unchanged. The clone therefore keeps the source's
    whole RETAINED HISTORY to the clone point: time travel, batch and
    streaming CDC, DESCRIBE HISTORY, and tags (≤ clone point, also
    copied) behave exactly as on the source — richer than Delta's
    shallow clone, which starts history at the clone commit. From
    there the two tables evolve independently: commits land only in
    their own lineage (fresh uuid file names can never collide), and
    VACUUM on either side only unlinks that root's directory entries —
    the shared inode survives until the last referent drops it, the
    local-FS analogue of the reference counting an object-store
    deployment would need (there you'd record absolute-path references
    to the source files, Delta's shallow-clone design, and
    copy-on-vacuum). Deliberately NOT cloned: branch lineages and
    materialized-view registrations (both reference source-scoped
    state); WAP branching works on the clone from its own head.

    Cost: O(retained files + manifests) metadata ops, zero data I/O.
    Cross-device targets degrade per-file to a copy (EXDEV fallback).
    Returns the clone-point version (the clone's head)."""
    if isinstance(version, str):
        v_to = resolve_ref(src_root, version)
    elif version is None:
        v_to = latest_version(src_root)
    else:
        v_to = int(version)
    if v_to <= 0:
        raise ValueError(f"nothing to clone: {src_root} is empty")
    if os.path.isdir(_manifest_dir(dst_root)) and versions(dst_root):
        raise ValueError(
            f"clone target {dst_root} already holds snapshots "
            f"(latest v{latest_version(dst_root)}) — clone into an "
            "empty directory"
        )
    _read_manifest(src_root, v_to)  # refuse a vacuumed/unknown point
    retained = [v for v in versions(src_root) if v <= v_to]
    os.makedirs(_manifest_dir(dst_root), exist_ok=True)
    linked: set[str] = set()
    # segments are immutable and SHARED across the manifest chain
    # (manifest v carries ~v descriptors) — process each segment once
    # or the clone walk goes O(commits^2) (caught by the r16 scale
    # probe: 128 commits = ~8k redundant segment loads)
    seg_done: set[str] = set()

    def link_rel(rel: str, required: bool) -> None:
        if rel in linked:
            return
        src = os.path.join(src_root, rel)
        if not os.path.exists(src):
            # NOT marked done: if the live manifest later requires this
            # file, its pass must still reach the refusal below
            if required:
                raise FileNotFoundError(
                    f"clone of {src_root}@v{v_to}: live file {rel} is "
                    "missing — the source is corrupt"
                )
            return  # vacuumed historical file: same dangle as source
        linked.add(rel)
        _link_or_copy(src, os.path.join(dst_root, rel))
        kidx = src + ".kidx"
        if os.path.exists(kidx):
            _link_or_copy(kidx, os.path.join(dst_root, rel + ".kidx"))

    for v in retained:
        m = _read_manifest(src_root, v)
        live = v == v_to
        for key in ("segments", "delete_segments", "pos_delete_segments"):
            for desc in m.get(key, []):
                seg_src = os.path.join(src_root, desc["path"])
                if not os.path.exists(seg_src):
                    if live:
                        raise FileNotFoundError(
                            f"clone: segment {desc['path']} of live "
                            f"v{v_to} is missing"
                        )
                    continue
                if desc["path"] in seg_done and not live:
                    continue
                seg_done.add(desc["path"])
                _link_or_copy(
                    seg_src, os.path.join(dst_root, desc["path"])
                )
                for e in _load_segment(src_root, desc):
                    link_rel(e["path"], required=live)
        for key in ("files", "delete_files"):
            for e in m.get(key, []):
                link_rel(_norm_entry(e)["path"], required=live)
        _link_or_copy(
            _manifest_path(src_root, v), _manifest_path(dst_root, v)
        )
    # streaming-CDC plan sidecars for commits ≤ clone point
    plan_dir = os.path.join(src_root, "_cdcplan")
    if os.path.isdir(plan_dir):
        import re as _re

        for f in os.listdir(plan_dir):
            mm = _re.match(r"v(\d+)-", f)
            if mm and int(mm.group(1)) <= v_to:
                _link_or_copy(
                    os.path.join(plan_dir, f),
                    os.path.join(dst_root, "_cdcplan", f),
                )
    # tags pinning versions the clone retains
    for name, pinned in list_tags(src_root).items():
        if pinned <= v_to and pinned in retained:
            try:
                snapshot_tag(dst_root, name, pinned)
            except ValueError:
                pass  # idempotent re-clone: tag already present
    ptr_tmp = os.path.join(dst_root, f"_latest.tmp-{uuid.uuid4().hex[:8]}")
    with open(ptr_tmp, "w") as f:
        f.write(str(v_to))
    os.replace(ptr_tmp, os.path.join(dst_root, "_latest"))
    import time

    with open(os.path.join(dst_root, "clone.json"), "w") as f:
        json.dump(
            {
                "source": os.path.abspath(src_root),
                "version": v_to,
                "cloned_at": time.time(),
            },
            f,
        )
    return v_to


# sums inside a materialized view accumulate in FIXED decimal so a
# differential refresh lands on EXACTLY the bytes a full recompute
# produces (float sums would drift in the last ulp and break the
# refresh == recompute contract)
_MATVIEW_DEC = "decimal(28,6)"


def _matview_agg_cols(aggs: list[dict]):
    out = []
    for a in aggs:
        if a["fn"] == "count":
            out.append(F.count(F.lit(1)).alias(a["alias"]))
        elif a["fn"] == "sum":
            out.append(
                F.sum(F.expr(a["expr"]).cast(_MATVIEW_DEC)).alias(a["alias"])
            )
        else:
            raise ValueError(
                f"materialized views support COUNT(*) and SUM(expr) "
                f"aggregates, got {a['fn']!r} — additive aggregates are "
                "what differential maintenance can self-maintain under "
                "deletes (MIN/MAX need a recompute or the sketch tier)"
            )
    return out


def _views_dir(root: str) -> str:
    """Dependent-view pointer dir under a SOURCE table's root (r16,
    REFRESH ON COMMIT): one small json per on-commit view. Outside
    root/data, so vacuum's reachability walk never touches it."""
    return os.path.join(root, "_views")


def refresh_dependent_views(spark: SparkSession, root: str) -> dict:
    """Refresh every materialized view that registered REFRESH ON
    COMMIT against ``root`` (r16, VERDICT r15 item 7): walk the
    source's pointer dir, run :func:`matview_refresh` on each.
    Exactly-once comes from the refresh itself — the view commit
    atomically records the source version it reflects, so a repeated
    or racing refresh for the same source version no-ops (the p24
    replay-guard discipline, already in the verb). A pointer whose
    view was dropped (dir gone, or no longer a matview) is PRUNED
    instead of failing the caller's write. Returns
    {view_root: refreshed_version}."""
    d = _views_dir(root)
    out: dict = {}
    if not os.path.isdir(d):
        return out
    for f in sorted(os.listdir(d)):
        if not f.endswith(".json"):
            continue
        p = os.path.join(d, f)
        try:
            with open(p) as fh:
                vroot = json.load(fh)["view_root"]
        except (OSError, ValueError, KeyError):
            continue
        last_exc: Exception | None = None
        for _attempt in range(3):
            try:
                out[vroot] = matview_refresh(spark, vroot)
                last_exc = None
                break
            except ValueError as exc:
                msg = str(exc)
                if (
                    "no materialized view under" in msg
                    or "not a materialized view" in msg
                ):
                    # DANGLING pointer — the view was dropped: prune.
                    # Any OTHER ValueError (source restored below the
                    # reflected version, a refresh bug) must NOT prune
                    # — review r16: blanket pruning silently and
                    # permanently disabled refresh-on-commit for a
                    # live view
                    try:
                        os.remove(p)
                    except OSError:
                        pass
                    last_exc = None
                    break
                last_exc = exc
                break
            except CommitConflict as exc:
                # a concurrent refresh advanced the view; the re-run
                # no-ops if current — bounded, another writer may keep
                # landing versions (review r16: the old single bare
                # retry propagated a second conflict to a caller whose
                # own commit had already landed)
                last_exc = exc
        if last_exc is not None:
            raise RuntimeError(
                f"the table commit LANDED, but the on-commit refresh "
                f"of dependent view {vroot} failed: {last_exc}"
            ) from last_exc
    return out


def matview_create(
    spark: SparkSession,
    src_root: str,
    view_root: str,
    group_cols: list[str],
    aggs: list[dict],
    refresh_on_commit: bool = False,
) -> int:
    """CREATE MATERIALIZED VIEW (r15, VERDICT r14 item 8 — the p23/p24
    differential-view-maintenance proof surfaced as a USER VERB): a
    grouped COUNT/SUM aggregate over a manifest table, STORED as a
    manifest table itself (registered, time-traveled, vacuumed like
    any other). ``aggs``: ordered ``{"fn": "count"|"sum", "expr":
    sql|None, "alias": name}``; at least one COUNT(*) is REQUIRED —
    it is the multiplicity that lets a refresh drop groups whose rows
    all vanished. The view manifest records the definition + the
    SOURCE VERSION it reflects (atomically, in the same commit —
    a crash can never leave the version marker disagreeing with the
    stored rows), which is what :func:`matview_refresh` diffs from."""
    if latest_version(view_root) > 0:
        raise ValueError(
            f"{view_root} already holds snapshots — point the view at "
            "an empty dir"
        )
    if not group_cols:
        raise ValueError("materialized view needs GROUP BY columns")
    if not any(a["fn"] == "count" for a in aggs):
        raise ValueError(
            "materialized view needs a COUNT(*) aggregate — it is the "
            "group multiplicity a differential refresh drops empty "
            "groups by"
        )
    src_v = latest_version(src_root)
    if src_v == 0:
        raise ValueError(f"no snapshots under source {src_root}")
    out = (
        snapshot_read(spark, src_root, src_v)
        .groupBy(*group_cols)
        .agg(*_matview_agg_cols(aggs))
    )
    files = _write_data_files(out, view_root, prefix="mv")
    stats = _file_stats(view_root, files)
    seg = _write_segment(
        view_root, [{"path": p, "stats": stats[p]} for p in files]
    )
    v = _commit(
        view_root,
        0,
        "matview_create",
        new_segment=seg,
        schema=_schema_of(out),
        extra={
            "matview": {
                "source_root": src_root,
                "group_cols": list(group_cols),
                "aggs": [dict(a) for a in aggs],
                "source_version": src_v,
                **({"on_commit": True} if refresh_on_commit else {}),
            }
        },
    )
    if refresh_on_commit:
        # pointer written AFTER the view commit: a crash between the
        # two leaves a view that simply needs manual REFRESH — never a
        # pointer to a half-created view
        import hashlib as _hl

        d = _views_dir(src_root)
        os.makedirs(d, exist_ok=True)
        tag = _hl.sha256(
            os.path.abspath(view_root).encode()
        ).hexdigest()[:16]
        tmp = os.path.join(d, f".{tag}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"view_root": os.path.abspath(view_root)}, fh)
        os.replace(tmp, os.path.join(d, f"{tag}.json"))
    return v


def matview_drop(view_root: str) -> None:
    """DROP MATERIALIZED VIEW (r16): remove the stored view AND its
    on-commit pointer at the source (so writers stop attempting the
    refresh immediately, instead of dangle-pruning on their next
    commit). Metadata + the view's own small files only — the source
    table is untouched."""
    import hashlib as _hl
    import shutil as _shutil

    vv = latest_version(view_root)
    if vv == 0:
        raise ValueError(f"no materialized view under {view_root}")
    vm = _read_manifest(view_root, vv)
    mv = vm.get("matview")
    if not mv:
        raise ValueError(
            f"{view_root} is a plain table, not a materialized view — "
            "refusing to drop it through the view verb"
        )
    tag = _hl.sha256(
        os.path.abspath(view_root).encode()
    ).hexdigest()[:16]
    try:
        os.remove(os.path.join(_views_dir(mv["source_root"]), f"{tag}.json"))
    except OSError:
        pass  # never registered on-commit, or already pruned
    _shutil.rmtree(view_root)


def matview_refresh(spark: SparkSession, view_root: str) -> int:
    """REFRESH MATERIALIZED VIEW: bring the stored view up to the
    source's latest version DIFFERENTIALLY — one signed-delta pass
    over ``snapshot_row_changes(last_reflected, latest)`` (insert/
    update_postimage +1, delete/update_preimage −1), merged into the
    stored O(groups) rows and committed as one overwrite carrying the
    new source version. Cost O(changed rows) + O(groups), never a
    source rescan — except across provenance-losing commits
    (overwrite/restore), where the CDC range honestly refuses and the
    refresh FALLS BACK to a full recompute (stated, same answer).
    No-op (returns the current view version) when already current."""
    vv = latest_version(view_root)
    if vv == 0:
        raise ValueError(f"no materialized view under {view_root}")
    vm = _read_manifest(view_root, vv)
    mv = vm.get("matview")
    if not mv:
        raise ValueError(
            f"{view_root} is a plain table, not a materialized view"
        )
    src_root, last = mv["source_root"], mv["source_version"]
    group_cols, aggs = mv["group_cols"], mv["aggs"]
    cur = latest_version(src_root)
    if cur == last:
        return vv
    if cur < last:
        raise ValueError(
            f"source {src_root} is at v{cur}, below the view's "
            f"reflected v{last} — the source was restored/rebuilt; "
            "recreate the view"
        )
    refresh_mode = "differential"
    try:
        delta = snapshot_row_changes(spark, src_root, last, cur).withColumn(
            "__w",
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        dagg = []
        for a in aggs:
            if a["fn"] == "count":
                dagg.append(F.sum("__w").alias(a["alias"]))
            else:
                dagg.append(
                    F.sum(
                        F.col("__w") * F.expr(a["expr"]).cast(_MATVIEW_DEC)
                    ).alias(a["alias"])
                )
        deltas = delta.groupBy(*group_cols).agg(*dagg)
        stored = snapshot_read(spark, view_root, vv)
        count_alias = next(a["alias"] for a in aggs if a["fn"] == "count")
        merged = (
            stored.unionByName(
                deltas.select(*stored.columns)  # column order match
            )
            .groupBy(*group_cols)
            .agg(
                *[
                    F.sum(a["alias"]).cast(
                        dict(_schema_of(stored))[a["alias"]]
                    ).alias(a["alias"])
                    for a in aggs
                ]
            )
            .filter(F.col(count_alias) > 0)
        )
    except (CdcRangeError, FileNotFoundError, OSError) as fb:
        # provenance-losing commit in the range (overwrite/restore →
        # CdcRangeError — the DEDICATED refusal type, not blanket
        # ValueError, so a genuine differential-path bug surfaces
        # instead of hiding inside full recomputes forever; ADVICE r15)
        # or a VACUUMED mid-range manifest (FileNotFoundError — review
        # r15: catching only the refusal left REFRESH permanently
        # broken after retention dropped part of the range): full
        # recompute, same definition — stated fallback, same answer.
        # The reason is recorded in the commit manifest (refresh_mode).
        refresh_mode = f"full_recompute:{type(fb).__name__}"
        merged = (
            snapshot_read(spark, src_root, cur)
            .groupBy(*group_cols)
            .agg(*_matview_agg_cols(aggs))
        )
    files = _write_data_files(merged, view_root, prefix="mv")
    stats = _file_stats(view_root, files)
    seg = _write_segment(
        view_root, [{"path": p, "stats": stats[p]} for p in files]
    )
    return _commit(
        view_root,
        vv,
        "matview_refresh",
        new_segment=seg,
        schema=_schema_of(merged),
        extra={
            "matview": {**mv, "source_version": cur},
            # forensics: which path produced this refresh (and why the
            # fallback fired, when it did) — commit-local, not carried
            "refresh_mode": refresh_mode,
        },
    )


def _z_spread16(c):
    """Spread a 16-bit value's bits to the even positions of a 32-bit
    lane (the classic public Morton-code bit-twiddling identity), all
    JVM-side: shifts + masks stay inside whole-stage codegen."""
    c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF))
    c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x33333333))
    c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x55555555))
    return c


def _morton_key(df: DataFrame, by: list[str]):
    """Z-ORDER key for exactly two numeric columns: each is min/max
    scaled to 16 bits (one single-row agg — a bounded driver fetch of
    2×2 scalars — because value-scaling needs the global range; Delta's
    OPTIMIZE ZORDER uses sampled range ids for the same reason), then
    bit-interleaved. Scaling by value, not rank: documented trade — on
    heavily skewed columns rank-based ids spread better, but need a
    global sort this metadata op shouldn't pay."""
    if len(by) != 2:
        raise ValueError("zorder clustering takes exactly 2 columns")
    rng = df.agg(
        *(
            a
            for i, c in enumerate(by)
            for a in (
                F.min(c).cast("double").alias(f"mn{i}"),
                F.max(c).cast("double").alias(f"mx{i}"),
            )
        )
    ).collect()[0]  # bounded: one row, four scalars
    lanes = []
    for i, c in enumerate(by):
        mn, mx = rng[f"mn{i}"], rng[f"mx{i}"]
        span = (mx - mn) if (mn is not None and mx is not None) else 0.0
        if span and span > 0:
            scaled = F.floor(
                (F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * 65535
            )
        else:
            scaled = F.lit(0)
        lane = F.least(
            F.greatest(F.coalesce(scaled, F.lit(0)), F.lit(0)),
            F.lit(65535),
        ).cast("long")
        lanes.append(_z_spread16(lane))
    return lanes[0].bitwiseOR(F.shiftleft(lanes[1], 1))


def snapshot_cluster(
    spark: SparkSession,
    root: str,
    by: list[str],
    target_files: int = 8,
    zorder: bool = False,
) -> int:
    """OPTIMIZE-style CLUSTERED REWRITE (Delta ``OPTIMIZE ... ZORDER BY``
    / Iceberg sort-order rewrite — public designs): materialize the
    current view into ``target_files`` files laid out so the per-file
    min/max stats the manifest embeds actually PRUNE. ``zorder=False``:
    range-partition + sort on ``by`` — files own disjoint key ranges, a
    point/range predicate on the leading column matches O(selectivity ×
    files) instead of all of them. ``zorder=True`` (two numeric
    columns): range-partition on an interleaved-bit Morton key, so BOTH
    columns' per-file ranges narrow — the multi-dimension trade Z-order
    exists for. This is where manifest-stats pruning (a15f/a15l) earns
    its keep at 100 TB: stats are only as good as the layout, and an
    ingest-ordered table has every file spanning the full key range.
    Like :func:`snapshot_compact` this drops MOR delete state (the view
    is materialized) and does NOT auto-retry on conflicts — the files
    snapshot a specific base. Partitioned tables are refused: their
    layout authority is the partition spec (cluster-within-partition is
    a further refinement this tier doesn't carry)."""
    base = latest_version(root)
    if base == 0:
        raise ValueError("cannot cluster an empty table")
    if not by:
        raise ValueError("cluster needs at least one column")
    m = _read_manifest(root, base)
    if m.get("partition_spec"):
        raise ValueError(
            "refusing to cluster a partitioned table — its layout "
            "authority is the partition spec; use snapshot_compact to "
            "re-materialize under it"
        )
    df = snapshot_read(spark, root, base)
    if zorder:
        clustered = (
            df.withColumn("__z", _morton_key(df, by))
            .repartitionByRange(target_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    else:
        clustered = df.repartitionByRange(
            target_files, *by
        ).sortWithinPartitions(*by)
    rel = _write_data_files(clustered, root, prefix="cluster")
    stats = _file_stats(root, rel)
    seg = _write_segment(
        root, [{"path": p, "stats": stats[p]} for p in rel]
    )
    return _commit(
        root, base, "cluster", new_segment=seg, schema=_schema_of(df),
        constraints=m.get("constraints"),  # carry_from is None here
    )
