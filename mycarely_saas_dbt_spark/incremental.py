"""Incremental materialization runner — the reference's dbt control plane
re-expressed as a small framework (SURVEY.md §2.10, §3.2).

Semantics replicated from dbt-redshift's incremental materialization
(models/*.sql config blocks, reference @ /root/reference):
  * first run / --full-refresh  -> CTAS           (S4)
  * later runs                  -> watermark read from the TARGET
    (``SELECT COALESCE(MAX(col), '1900-01-01') FROM {{ this }}``, S2/P8/D2),
    injected into the model as a strictly-`>` filter (late rows for
    already-processed periods are silently dropped — deliberate, §2.8),
    then delete+insert by ``unique_key`` (S3).

The upsert is Delta-style MERGE semantics built from primitives:
``target ANTI-JOIN new ON unique_key  UNION ALL  new``. Commits use a
manifest-pointer protocol (see the manifest section below): new files land
uncommitted in the partition dirs, one `_manifest/CURRENT` pointer swap
publishes the version atomically — safe on object stores, where directory
renames are copy+delete and a multi-dir swap has a visible torn window.
This is Delta/Iceberg's transaction-log move with one pointer instead of a
log, dependency-free.

Scale notes (100 TB):
  * With date-partitioned targets (partition_by=...) incremental runs take
    the PRUNED path: the new batch is staged, the partitions it touches are
    derived from the staging layout (metadata only), the delete+insert merge
    reads ONLY those partitions of the target (partition-pruned scan), and
    only those partition directories are swapped — untouched partitions are
    never read or rewritten (dynamic partition overwrite / MERGE on a
    lakehouse). Requires the unique_key to determine the partition (true for
    all three models: the surrogate key includes the partition date).
  * Unpartitioned targets keep the full atomic-rewrite path; a partitioned
    spec over an unpartitioned target migrates the layout with one full
    rewrite, then prunes forever after.
  * the watermark read is a metadata-cheap MAX over the target's sort/
    partition column.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import hashlib
import json
import logging
import re
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mycarely_saas_dbt_spark.util import dv_dead_rows, dv_rels, fs_path

log = logging.getLogger("mycarely.incremental")

EPOCH_FALLBACK = dt.date(1900, 1, 1)

# build(spark, sf_dir, watermark) -> DataFrame
BuildFn = Callable[[SparkSession, str, dt.date | None], DataFrame]

# --- commit provenance (DESCRIBE HISTORY / timestampAsOf support) ---------
# Every manifest commit is stamped with a wall-clock `ts` and the USER-level
# operation that caused it. The operation is recorded at the public API
# boundary via a thread-local scope so the shared writers
# (_partitioned_merge_write / _atomic_write / _commit_file_rewrite) don't
# need an extra parameter threaded through every layer — and so a compound
# operation (e.g. OPTIMIZE internally committing via replace_rels) is
# labeled with the OUTERMOST user intent, exactly like Delta's commitInfo.
_OP_TL = threading.local()


def _ingest_threads() -> int:
    """Commit-ingest thread-pool width (r15): per-file footer stats and
    bloom sidecars are I/O-bound driver work (pyarrow releases the GIL on
    reads), so a modest pool overlaps them without contending with
    executor threads. MYCARELY_INGEST_THREADS overrides — set higher on an
    object store where per-file latency, not CPU, dominates; 1 restores
    the serial loop; a value that is not an integer falls back to the
    default instead of failing every commit."""
    try:
        return max(1, int(os.environ["MYCARELY_INGEST_THREADS"]))
    except (KeyError, ValueError):
        return min(16, max(4, (os.cpu_count() or 4) // 2))


@contextlib.contextmanager
def _op_scope(op: str):
    prev = getattr(_OP_TL, "op", None)
    if prev is None:  # outermost public call wins
        _OP_TL.op = op
    try:
        yield
    finally:
        _OP_TL.op = prev


def _records_op(op: str):
    def deco(fn):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            with _op_scope(op):
                return fn(*a, **k)

        return wrapper

    return deco


# ---------------------------------------------------------------------------
# Manifest CHECKPOINT segments (the Delta parquet-checkpoint / Iceberg
# manifest-file move). A manifest version is logically the table's FULL
# state — partition rel -> file list (+ per-file stats). Inline JSON is
# perfect while the table has hundreds of files, but at 100 TB a table has
# ~10^6 add-file entries: a full-state JSON per commit is an O(table) write
# for an O(batch) change, and every metadata read parses the whole thing.
# Above MANIFEST_INLINE_MAX entries the commit externalizes each partition
# rel's (files, stats) into a CONTENT-ADDRESSED parquet segment under
# `_manifest/segments/` and the version JSON stores only
# {rel: {"f": seg-<md5>.parquet, "n": n_files, "s": has_stats}}:
#   * a commit touching k of N partitions writes k new segments + one
#     small JSON — untouched rels' refs ride forward verbatim (the
#     Iceberg manifest-reuse property);
#   * content addressing makes reuse automatic even for code paths that
#     hydrate and copy (identical content re-serializes to an existing
#     segment file name — nothing is rewritten);
#   * readers hydrate LAZILY per rel (SegmentedMap), so a partition-pruned
#     read opens only surviving rels' segments, and two manifests'
#     versions of a rel compare by REF EQUALITY without loading either
#     (same hash function => same ref iff same content).
# ---------------------------------------------------------------------------

_SEGMENT_DIR = "segments"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


@functools.lru_cache(maxsize=512)
def _read_segment(path: str) -> tuple[tuple, tuple]:
    """(file names, per-file stats-JSON-or-None) for one segment. Segments
    are content-addressed and immutable, so caching by path is sound."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return tuple(t.column("file").to_pylist()), tuple(
        t.column("stats").to_pylist()
    )


class SegmentedMap(Mapping):
    """Lazy per-rel view over a checkpointed manifest's `partitions` or
    `stats` map: keys are known from the version JSON, values hydrate from
    their segment file on first access. Immutable — writers build new
    plain dicts or `.overlay(...)` views, never mutate in place."""

    __slots__ = ("_inline", "_refs", "_segdir", "_field")

    def __init__(self, inline: dict, refs: dict, segdir: str, field_: str):
        self._inline = inline
        self._refs = refs
        self._segdir = segdir
        self._field = field_

    def __iter__(self):
        yield from self._inline
        yield from self._refs

    def __len__(self):
        return len(self._inline) + len(self._refs)

    def __contains__(self, rel):
        return rel in self._inline or rel in self._refs

    def __getitem__(self, rel):
        if rel in self._inline:
            return self._inline[rel]
        ref = self._refs[rel]
        files, stats = _read_segment(os.path.join(self._segdir, ref["f"]))
        if self._field == "files":
            return list(files)
        return {f: json.loads(s) for f, s in zip(files, stats) if s is not None}

    def __eq__(self, other):
        # Mapping doesn't supply __eq__ and dict==SegmentedMap would be
        # identity-False; hydrate-and-compare keeps test assertions and
        # defensive comparisons honest (hot paths compare refs instead)
        if isinstance(other, Mapping):
            return dict(self) == dict(other)
        return NotImplemented

    def segref(self, rel) -> str | None:
        """The segment file backing ``rel``, or None when the value is an
        in-memory override. Ref equality IS content equality (md5-named)."""
        r = self._refs.get(rel)
        return None if r is None else r["f"]

    def size_hint(self, rel) -> int:
        """File count for ``rel`` without hydrating its segment."""
        if rel in self._inline:
            return len(self._inline[rel])
        return self._refs[rel]["n"]

    def overlay(self, updates: dict, removes=()) -> "SegmentedMap":
        removes = set(removes) | set(updates)
        inline = {r: v for r, v in self._inline.items() if r not in removes}
        inline.update(updates)
        refs = {r: v for r, v in self._refs.items() if r not in removes}
        return SegmentedMap(inline, refs, self._segdir, self._field)


def _overlay(mapping, updates: dict, removes=()):
    """updates/removes applied WITHOUT hydrating untouched rels when the
    base is segment-backed (keeps a partition-scoped commit O(touched))."""
    if isinstance(mapping, SegmentedMap):
        return mapping.overlay(updates, removes)
    d = dict(mapping)
    for r in removes:
        d.pop(r, None)
    d.update(updates)
    return d


def _rels_differing(a, b) -> set:
    """Rels whose value differs between two manifests' maps. Segment-backed
    rels compare by ref (content-addressed: equal ref <=> equal content,
    different refs <=> different content) — no hydration."""
    out = set()
    for rel in set(a) | set(b):
        if rel not in a or rel not in b:
            out.add(rel)
            continue
        ra = a.segref(rel) if isinstance(a, SegmentedMap) else None
        rb = b.segref(rel) if isinstance(b, SegmentedMap) else None
        if ra is not None and rb is not None:
            if ra != rb:
                out.add(rel)
        elif a[rel] != b[rel]:
            out.add(rel)
    return out


def _row_fingerprint(vcols: list[str], side: str | None = None):
    """md5 over PER-COLUMN md5 tokens of the non-key columns — the
    row-equality probe shared by the snapshot diff and the change-file
    netting (both must agree on "unchanged", or the two change-feed
    paths would emit different row sets for the same history).

    Each column hashes independently before the outer concat (NULL maps
    to a 1-char token no 32-hex md5 output can equal), so no byte
    sequence INSIDE a value can mimic the separator or the NULL
    sentinel: the previous single-concat form could fingerprint two
    genuinely different rows equal when a value contained the separator
    byte, and a collision here nets real changes away (ADVICE r10).
    Computed at READ time on both paths — nothing persisted, so the
    definition can evolve without versioning change files."""
    src = (lambda c: F.col(f"{side}.{c}")) if side else F.col
    return F.md5(
        F.concat_ws(
            "|",
            *[
                F.coalesce(F.md5(src(c).cast("string")), F.lit("N"))
                for c in vcols
            ],
        )
    )


def _emit_change_rows(
    j: DataFrame, cols: list[str], *, preimages: bool
) -> DataFrame:
    """Shared four-type emission: ``j`` carries per-key ``__row_o`` /
    ``__row_n`` image structs (NULL = absent on that side) and their
    ``__fp_o`` / ``__fp_n`` fingerprints. Unchanged rows (both present,
    equal fingerprints) vanish — explode drops the NULL branch."""

    def entry(img_col: str, ct: str):
        return F.struct(F.col(img_col).alias("img"), F.lit(ct).alias("ct"))

    upd = [entry("__row_n", "update_postimage")]
    if preimages:
        upd.insert(0, entry("__row_o", "update_preimage"))
    entries = (
        F.when(F.col("__fp_o").isNull(), F.array(entry("__row_n", "insert")))
        .when(F.col("__fp_n").isNull(), F.array(entry("__row_o", "delete")))
        .when(F.col("__fp_o") != F.col("__fp_n"), F.array(*upd))
    )
    return j.select(F.explode(entries).alias("e")).select(
        *[F.col(f"e.img.{c}").alias(c) for c in cols],
        F.col("e.ct").alias("_change_type"),
    )


def _changes_between(
    old: DataFrame, new: DataFrame, key: str, *, preimages: bool = True
) -> DataFrame:
    """Exact four-type change rows turning ``old`` into ``new`` (both live
    snapshots of the same keyspace): full row images + ``_change_type`` in
    {insert, update_preimage, update_postimage, delete}; byte-identical
    rows are dropped via the shared fingerprint. ``old`` may lack evolved
    columns (schema evolution) — they NULL-fill against ``new``'s schema,
    so a pre-evolution image compares equal to its NULL-backfilled
    rewrite (no phantom updates)."""
    cols = list(new.columns)
    types = dict(new.dtypes)
    old = old.select(
        *[
            (F.col(c) if c in old.columns else F.lit(None).cast(types[c])).alias(c)
            for c in cols
        ]
    )
    vcols = sorted(c for c in cols if c != key)

    def tagged(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(key).alias("__k"),
            F.struct(*cols).alias(f"__row_{side}"),
            _row_fingerprint(vcols).alias(f"__fp_{side}"),
        )

    j = tagged(old, "o").join(tagged(new, "n"), "__k", "full")
    return _emit_change_rows(j, cols, preimages=preimages)


def _rename_ops(mans: list[tuple[int, dict]]) -> list[tuple] | None:
    """Ordered name-affecting ops ``(version, kind, old, new)`` — kind
    ``rename`` (old -> new) or ``drop`` (old) — reconstructed from
    consecutive manifests' dtypes plus commit provenance. Additions
    (ADD COLUMN, append_new_columns evolution) are name-neutral. This is
    what lets the change-file feed read across a RENAME: change files
    carry the LOGICAL names of their commit's schema, and composing the
    later renames maps them onto the range-end names exactly (physical
    names are stable under the colmap, so the chain is lossless —
    Delta's field-id mapping expressed over the provenance log).
    Returns None when a transition can't be classified (a multi-column
    swap, corrupt provenance) — callers fall back to the snapshot diff
    and its honest refusals."""
    ops: list[tuple] = []
    prev = [n for n, _ in (mans[0][1].get("dtypes") or [])]
    for v, m in mans[1:]:
        names = [n for n, _ in (m.get("dtypes") or [])]
        gone = [n for n in prev if n not in set(names)]
        added = [n for n in names if n not in set(prev)]
        if not gone and not added:
            pass
        elif (
            m.get("op") == "RENAME COLUMN"
            and len(gone) == 1
            and len(added) == 1
        ):
            ops.append((v, "rename", gone[0], added[0]))
        elif not gone:
            pass  # pure additions are name-neutral
        elif m.get("op") == "DROP COLUMN" and len(gone) == 1 and not added:
            ops.append((v, "drop", gone[0], None))
        else:
            return None
        prev = names
    return ops


def _feed_column_sources(
    names_at_v: list[str], v: int, ops: list[tuple], out_names: list[str]
) -> dict[str, str]:
    """For change files written at version ``v``: map each RANGE-END
    output column to the name it carried in those files, by composing
    the rename chain at versions > v (``_rename_ops``). A column absent
    from the map either did not exist at ``v`` (added later — the
    reader NULL-fills it) or died on the way (dropped — its era bytes
    must NEVER be read, or a later same-named re-add would resurrect
    them: the name-mode fence applied at the feed level)."""
    out = set(out_names)
    src: dict[str, str] = {}
    for s in names_at_v:
        cur, alive = s, True
        for r, kind, old, new in ops:
            if r <= v:
                continue
            if kind == "rename" and cur == old:
                cur = new
            elif kind == "drop" and cur == old:
                alive = False
                break
        if alive and cur in out:
            src[cur] = s
    return src


def load_manifest_file(path: str) -> dict:
    """Parse a committed manifest version. Inline manifests return as-is;
    checkpointed ones get lazy SegmentedMap views for partitions/stats."""
    with open(path) as fh:
        j = json.load(fh)
    segs = j.pop("segments", None)
    if not segs:
        return j
    segdir = os.path.join(os.path.dirname(path), _SEGMENT_DIR)
    j["partitions"] = SegmentedMap(
        j.get("partitions") or {}, segs, segdir, "files"
    )
    j["stats"] = SegmentedMap(
        j.get("stats") or {},
        {rel: r for rel, r in segs.items() if r.get("s")},
        segdir,
        "stats",
    )
    return j


def _stat_after(a, b) -> bool:
    """a strictly after b under manifest-stats comparison rules. ISO strings
    compare on their COMMON prefix (coarser granularity): a DATE bound
    against TIMESTAMP stats must not prune a file whose rows fall inside
    the bound's day — truncating both sides to the shorter length is
    conservative-correct (keeps extra, never wrongly skips)."""
    if isinstance(a, str) and isinstance(b, str):
        n = min(len(a), len(b))
        return a[:n] > b[:n]
    return a > b


def _rel_pruned(rel: str, bounds: dict) -> bool:
    """True when the hive partition VALUES encoded in ``rel``'s path prove
    the whole partition cannot intersect the prune bounds — decided from
    the rel string alone, before the rel's file list (segment) is ever
    loaded. Unparseable or null partition values keep conservatively."""
    if not rel:
        return False
    from urllib.parse import unquote

    vals = {}
    for comp in rel.split(os.sep):
        if "=" in comp:
            k, v = comp.split("=", 1)
            vals[k] = unquote(v)
    def _num(x):
        try:
            return int(x)
        except (TypeError, ValueError):
            try:
                return float(x)
            except (TypeError, ValueError):
                return None

    for col, (lo, hi) in bounds.items():
        v = vals.get(col)
        if v is None or v == _HIVE_NULL:
            continue
        probe = hi if hi is not None else lo
        if isinstance(probe, bool) or not isinstance(probe, (int, float)):
            # string/ISO bounds — but a path value that ENCODES a number
            # ('bucket=9' vs bound ('9','10')) must not be compared
            # lexicographically ('9' > '1' prefix would wrongly prune a
            # live partition). Parse BOTH sides numerically first; on a
            # mixed parse (value numeric, a bound not) skip rel-level
            # pruning for this column — the conservative file-stats pass
            # still applies downstream.
            nv = _num(v)
            if nv is not None:
                nlo = _num(lo) if lo is not None else None
                nhi = _num(hi) if hi is not None else None
                if (lo is not None and nlo is None) or (
                    hi is not None and nhi is None
                ):
                    continue
                v, lo, hi = nv, nlo, nhi
        else:
            try:
                v = float(v) if isinstance(probe, float) else int(v)
            except ValueError:
                continue
        try:
            if (hi is not None and _stat_after(v, hi)) or (
                lo is not None and _stat_after(lo, v)
            ):
                return True
        except TypeError:
            continue
    return False


def _manifest_inline_max() -> int:
    """Total add-file entries a version JSON may inline before the commit
    checkpoints to segments. Env-overridable so tests exercise the
    segmented path at toy scale; 512 keeps every version JSON a few KB."""
    return int(os.environ.get("MYCARELY_MANIFEST_INLINE_MAX", "512"))


def _total_entries(parts) -> int:
    if isinstance(parts, SegmentedMap):
        return sum(parts.size_hint(rel) for rel in parts)
    return sum(len(fl) for fl in parts.values())


def _write_segment(segdir: str, files: list, stats_list: list) -> dict:
    """Write one rel's (files, stats) as a content-addressed parquet
    segment; no-op when identical content already exists (the md5 name IS
    the dedupe). Returns the manifest ref {"f": name, "n": count,
    "s": has_stats}. Concurrent writers racing the same content both
    converge on the same file via tmp+rename — last rename wins over
    identical bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    payload = json.dumps([files, stats_list], separators=(",", ":")).encode()
    name = f"seg-{hashlib.md5(payload).hexdigest()}.parquet"
    path = os.path.join(segdir, name)
    if os.path.isfile(path):
        # refresh mtime on the dedupe hit: the segment-GC's mtime grace
        # only shields RECENT files, and this writer is about to reference
        # an old, possibly currently-unreferenced segment in its commit.
        # Without the touch, a concurrent vacuum that live-scanned before
        # this commit's version file lands would see an old-mtime orphan
        # and delete it — leaving the new version with a dangling ref.
        try:
            os.utime(path, None)
        except OSError:
            pass
    else:
        t = pa.table(
            {
                "file": pa.array(files, pa.string()),
                "stats": pa.array(stats_list, pa.string()),
            }
        )
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(t, tmp)
        os.replace(tmp, path)
    return {
        "f": name,
        "n": len(files),
        "s": any(s is not None for s in stats_list),
    }


def _serialize_manifest(mdir: str, manifest: dict) -> dict:
    """JSON-able form of a manifest for the version-file write. Small
    tables inline exactly as before (backward-compatible format); above
    `_manifest_inline_max()` total entries — or once a table is already
    segment-backed — each rel externalizes to a content-addressed segment
    and only refs land in the JSON. Rels the writer never touched keep
    their existing ref VERBATIM (SegmentedMap.segref), so a commit
    touching k of N partitions writes k segments + one small JSON: the
    O(batch)-not-O(table) commit cost that makes the protocol survive a
    10^6-file table. Invariant relied on: writers overlay `partitions`
    and `stats` with the SAME update/remove keys, so a rel is ref-backed
    in both or in neither."""
    parts = manifest["partitions"]
    stats = manifest.get("stats") or {}
    segmented = isinstance(parts, SegmentedMap) and bool(parts._refs)
    if not segmented and _total_entries(parts) <= _manifest_inline_max():
        out = {k: v for k, v in manifest.items() if k != "stats"}
        out["partitions"] = {r: list(parts[r]) for r in parts}
        out["stats"] = {r: dict(stats[r]) for r in stats}
        return out
    segdir = os.path.join(mdir, _SEGMENT_DIR)
    os.makedirs(segdir, exist_ok=True)
    segs: dict[str, dict] = {}
    for rel in parts:
        ref = parts.segref(rel) if isinstance(parts, SegmentedMap) else None
        if ref is not None:
            segs[rel] = dict(parts._refs[rel])
            continue
        files = list(parts[rel])
        st = stats[rel] if rel in stats else {}
        stats_list = [
            json.dumps(st[f], sort_keys=True, separators=(",", ":"))
            if f in st
            else None
            for f in files
        ]
        segs[rel] = _write_segment(segdir, files, stats_list)
    out = {
        k: v for k, v in manifest.items() if k not in ("partitions", "stats")
    }
    out["partitions"] = {}
    out["segments"] = segs
    return out


@dataclass
class ModelSpec:
    """Per-model config — the dbt ``config(...)`` block (D1)."""

    name: str
    unique_key: str
    watermark_col: str
    build: BuildFn
    # D3: observability hook run before materialization (LA's run_query+log)
    pre_counts: Callable[[SparkSession, str], dict[str, int]] | None = None
    partition_by: list[str] = field(default_factory=list)
    # dbt's on_schema_change: ignore | fail | append_new_columns |
    # sync_all_columns (incremental runs only; first run/CTAS just writes)
    on_schema_change: str = "ignore"
    # dbt's incremental_predicates: SQL predicate strings narrowing which
    # TARGET rows the delete-side of the upsert scans (e.g.
    # "date > current_date - interval 7 days"). Rows outside the predicate
    # are untouched-by-construction — on a 100 TB target this turns the
    # anti-join's target scan into a pruned slice instead of a full read.
    incremental_predicates: list[str] = field(default_factory=list)
    # dbt's model contract (contract: enforced: true): declared column
    # name -> Spark type string. The build's schema must match EXACTLY
    # (names, order, types) or the run fails BEFORE writing — schema drift
    # stops at the boundary instead of corrupting the target.
    contract: dict[str, str] | None = None
    # dbt's merge_exclude_columns (incremental_strategy='merge'): on a key
    # collision the UPDATE skips these columns, so re-emitted rows KEEP the
    # target's old values for them (created_at-style audit columns);
    # brand-new keys take the build's values.
    merge_exclude_columns: list[str] = field(default_factory=list)
    # dbt's pre_hook / post_hook: SQL statements run via spark.sql before
    # the build and after the materialization commits. Hooks see the same
    # session (temp views, configs); {{ this }} is replaced with the
    # model's registered target view name. Post-hooks run ONLY after a
    # successful write — a failed build never fires them (dbt semantics).
    pre_hook: list[str] = field(default_factory=list)
    post_hook: list[str] = field(default_factory=list)
    # CDC hard-deletes (Delta MERGE's WHEN MATCHED ... THEN DELETE / DLT
    # APPLY CHANGES): when set and the build's output carries this boolean
    # column, rows where it is true DELETE their unique_key from the
    # target instead of upserting; all other rows upsert as usual and the
    # column itself is never written. Tombstone rows must carry the full
    # row image (at minimum real partition-column values) so the
    # partition-pruned merge knows which partitions the deletes touch —
    # the same contract DLT places on APPLY CHANGES with deletes.
    tombstone_col: str | None = None
    # Non-tabular payload committed INSIDE the manifest JSON under "meta"
    # (the Delta commitInfo / Iceberg snapshot-summary slot). Versioned and
    # swapped atomically with the file set it describes — e.g. the ANN
    # index commits its trained codebooks here so readers get codes and
    # codebooks from one consistent snapshot. Incremental merges carry the
    # previous version's meta forward when the spec doesn't supply one.
    manifest_meta: dict | None = None
    # Delta GENERATED columns (generated partition columns): column ->
    # generation expression over the other columns. Whitelisted,
    # INVERTIBLE expressions only — `CAST(base AS DATE)` or a bare
    # identity `base` (the Delta whitelist is the same idea: expressions
    # whose partition filters can be derived from base-column
    # predicates). At write, a missing generated column is computed; a
    # PROVIDED one is validated against the expression (Delta's rule)
    # via the same zero-extra-scan Observation as check_constraints. The
    # definitions commit into the manifest meta, and resolved_files
    # TRANSLATES a prune on the base column into a prune on the
    # generated partition column — `prune={"ts": (lo, hi)}` statically
    # prunes `day=CAST(ts AS DATE)` hive partitions without the caller
    # knowing the layout.
    generated_columns: dict[str, str] = field(default_factory=dict)
    # Delta CHECK constraints (ALTER TABLE ADD CONSTRAINT): SQL boolean
    # predicates every WRITTEN row must satisfy. Enforced at all three
    # write chokepoints (full refresh, partition-pruned merge,
    # copy-on-write file rewrite) via an Observation riding the write
    # pass itself — zero extra scans — and checked BEFORE the manifest
    # commit, so a violating batch aborts with the table untouched
    # (only unreferenced staged files remain; vacuum reclaims them).
    # NULL results violate, matching Delta (a CHECK must be TRUE).
    check_constraints: list[str] = field(default_factory=list)
    # Delta's ``delta.enableChangeDataFeed`` (opt-in, like Delta): mutating
    # commits (partition-pruned merge, copy-on-write DELETE/UPDATE/MERGE,
    # deletion-vector delete) ALSO write the change rows they already
    # compute into `_change_data/` — KB-to-MB-scale four-type files
    # (insert / update_preimage / update_postimage / delete) referenced by
    # the SAME manifest version, so change-feed readers are pure file
    # reads instead of snapshot diffs (VERDICT r9 item 1). Change rows
    # carry a hash(unique_key) bucket so a streaming reader can net a
    # key's events across versions inside one bounded task. Full-refresh
    # (CTAS) commits never write change files — readers fall back to the
    # snapshot diff for those versions, exactly Delta's CDF availability
    # rule (reconstructible only where the feed was enabled).
    change_data: bool = False
    # key-bucket count for the change rows: each row carries
    # `__cdc_bucket = pmod(xxhash64(key), cdc_buckets)` as a data column.
    # Must stay CONSTANT for the table's lifetime (the reader nets per
    # bucket across versions). WRITE-FINE, GROUP-COARSE (VERDICT r10
    # item 1): the default is deliberately fine — buckets are the
    # reader's PACKING UNIT, not its task count. The streaming planner
    # packs contiguous bucket ranges into netting tasks by on-disk byte
    # size (file sizes and bucket ranges are metadata), so task memory
    # is capped regardless of churn or catch-up depth, while key
    # locality holds because legs never share a bucket. A coarse count
    # could never be split after the fact (netting needs every version
    # to agree); a fine count packs down to few tasks for free on quiet
    # tables. The count is NOT the file layout: the writer
    # range-clusters rows on the bucket, so a commit whose change rows
    # fit one AQE-coalesced partition writes ONE file, and a large commit
    # writes partition-sized files over contiguous bucket ranges.
    cdc_buckets: int = 256


_GEN_CAST_DATE = re.compile(
    r"^\s*CAST\s*\(\s*`?(\w+)`?\s+AS\s+DATE\s*\)\s*$", re.IGNORECASE
)
_GEN_IDENTITY = re.compile(r"^\s*`?(\w+)`?\s*$")


def _parse_generated(col: str, expr: str) -> tuple[str, str]:
    """(kind, base_column) for a whitelisted generation expression;
    raises on anything the prune translation could not invert."""
    m = _GEN_CAST_DATE.match(expr)
    if m:
        return "cast_date", m.group(1)
    m = _GEN_IDENTITY.match(expr)
    if m and m.group(1) != col:
        return "identity", m.group(1)
    raise RuntimeError(
        f"unsupported generated-column expression for {col!r}: {expr!r} "
        "(whitelist: CAST(base AS DATE), identity)"
    )


def _gen_bound_to_date(v):
    """Map a base-column prune bound to the cast_date domain."""
    if v is None:
        return None
    if isinstance(v, dt.datetime):
        return v.date()
    if isinstance(v, dt.date):
        return v
    if isinstance(v, str):
        return v[:10]  # ISO timestamp/date string -> date prefix
    return v


def _translate_generated_bounds(bounds: dict, gen_meta: dict) -> dict:
    """Extend prune bounds with derived bounds on generated columns
    whenever the caller pruned on the BASE column — monotone mappings
    only (date-cast, identity), so the derived range is conservative-
    correct."""
    out = dict(bounds)
    for col, spec in (gen_meta or {}).items():
        base = spec.get("base")
        if col in out or base not in out:
            continue
        lo, hi = out[base]
        if spec.get("kind") == "cast_date":
            out[col] = (_gen_bound_to_date(lo), _gen_bound_to_date(hi))
        elif spec.get("kind") == "identity":
            out[col] = (lo, hi)
    return out


def _check_observe(df: DataFrame, spec: "ModelSpec"):
    """Attach the CHECK-constraint violation counters to a DataFrame
    about to be WRITTEN. Returns (df, observation|None)."""
    if not spec.check_constraints:
        return df, None
    from pyspark.sql import Observation

    obs = Observation(f"check-{uuid.uuid4().hex[:6]}")
    aggs = [
        F.count(
            F.when(
                ~F.coalesce(F.expr(c).cast("boolean"), F.lit(False)),
                F.lit(1),
            )
        ).alias(f"c{i}")
        for i, c in enumerate(spec.check_constraints)
    ]
    return df.observe(obs, *aggs), obs


def _check_assert(spec: "ModelSpec", obs) -> None:
    """Raise if the completed write observed violating rows — called
    after the staging write and BEFORE the manifest commit."""
    if obs is None:
        return
    m = obs.get
    bad = {
        spec.check_constraints[int(k[1:])]: int(v)
        for k, v in m.items()
        if v
    }
    if bad:
        raise RuntimeError(
            f"{spec.name}: CHECK constraint violated "
            f"(constraint -> violating rows): {bad}"
        )


def _reconcile_schema(
    target: DataFrame, new: DataFrame, mode: str, model: str
) -> tuple[DataFrame, DataFrame]:
    """dbt's ``on_schema_change`` contract for incremental runs.

    ignore (dbt default): new columns are NOT added to the target — the
    insert happens on the target's column list (a model column vanishing
    from under the target is still an error). fail: any drift errors.
    append_new_columns: target gains the new columns (NULL backfill for
    history); columns the model dropped stay, NULL-filled in new rows.
    sync_all_columns: gains new AND drops removed.

    Scale note: the NULL backfills are projection-only (no rewrite of old
    files happens here — the merge writer rewrites anyway; on a lakehouse
    this is a metadata-only ALTER TABLE ADD COLUMN).
    """
    tcols, ncols = target.columns, new.columns
    added = [c for c in ncols if c not in tcols]
    removed = [c for c in tcols if c not in ncols]
    if not added and not removed:
        return target, new
    if mode == "fail":
        raise RuntimeError(
            f"{model}: schema changed (added={added}, removed={removed}) "
            "and on_schema_change='fail'"
        )
    if mode == "ignore":
        if removed:
            raise RuntimeError(
                f"{model}: target columns {removed} missing from the model "
                "— on_schema_change='ignore' cannot insert into them"
            )
        return target, new.select(*tcols)
    ntypes = dict(new.dtypes)
    ttypes = dict(target.dtypes)
    if mode == "append_new_columns":
        for c in added:
            target = target.withColumn(c, F.lit(None).cast(ntypes[c]))
        for c in removed:
            new = new.withColumn(c, F.lit(None).cast(ttypes[c]))
        return target, new.select(*target.columns)
    if mode == "sync_all_columns":
        for c in added:
            target = target.withColumn(c, F.lit(None).cast(ntypes[c]))
        target = target.drop(*removed)
        return target.select(*ncols), new
    raise ValueError(f"unknown on_schema_change mode: {mode}")


class IncrementalRunner:
    def __init__(self, spark: SparkSession, target_root: str):
        self.spark = spark
        self.target_root = target_root
        # (name, version) -> commit ts; manifests are immutable, so this
        # caches forever — see _manifest_ts (ADVICE r12 vacuum cost)
        self._ts_by_version: dict[tuple[str, int], float | None] = {}
        os.makedirs(target_root, exist_ok=True)

    def target_path(self, name: str) -> str:
        return os.path.join(self.target_root, name)

    def target_exists(self, name: str) -> bool:
        p = self.target_path(name)
        if not os.path.isdir(p):
            return False
        if os.path.isfile(os.path.join(p, self._MANIFEST_DIR, self._CURRENT)):
            return True
        return bool(
            [f for f in os.listdir(p) if f.endswith(".parquet") or f.startswith("part-")]
            or [d for d in os.listdir(p) if "=" in d]
        )

    # Legacy (pre-manifest) targets recorded the model's canonical column
    # order + types in this sidecar (Spark moves partitionBy columns to the
    # END of the schema on read-back); manifest-committed targets carry
    # dtypes in the manifest itself. Kept read-only for adopting old
    # targets.
    SCHEMA_SIDECAR = "_mycarely_schema.json"

    def list_versions(self, name: str) -> list[int]:
        """Committed version numbers still on disk (ascending). Versions
        older than the vacuum retention horizon may list here but no
        longer have all their data files — `read_target(version=...)`
        raises for those."""
        mdir = self._manifest_dir(name)
        if not os.path.isdir(mdir):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(mdir)
            if f.startswith("v") and f.endswith(".json")
        )

    def _manifest_at(self, name: str, version: int) -> dict:
        p = os.path.join(self._manifest_dir(name), f"v{version:06d}.json")
        if not os.path.isfile(p):
            raise RuntimeError(f"{name}: no committed version {version}")
        return load_manifest_file(p)

    @staticmethod
    def _coerce_bound(v):
        """Same JSON coercion as `_file_stats` so predicate bounds compare
        against manifest stats without type dispatch (ISO date/timestamp
        strings order correctly as strings)."""
        if isinstance(v, (dt.date, dt.datetime)):
            return v.isoformat()
        return v

    def resolved_files(
        self,
        name: str,
        *,
        version: int | None = None,
        prune: dict | None = None,
        manifest: dict | None = None,
        rels: list[str] | None = None,
        point: dict | None = None,
    ) -> list[str]:
        """The exact file list a read resolves — the manifest-stats
        data-skipping chokepoint (VERDICT r5 item 4). ``prune`` maps
        column -> (lo, hi) inclusive bounds (either side None): a file is
        SKIPPED when its manifest [min, max] for that column cannot
        intersect the bound — decided from the manifest alone, with NO
        parquet footer opened (at 100 TB, footer-probing every file before
        skipping is itself a full metadata scan; this is the Delta/Iceberg
        add-file-stats read path). Files or columns without recorded stats
        are conservatively kept."""
        path = self.target_path(name)
        if manifest is None:
            manifest = (
                self._manifest_at(name, version)
                if version is not None
                else self.current_manifest(name)
            )
        if manifest is None:
            raise RuntimeError(
                f"{name}: no manifest — resolved_files needs a committed target"
            )
        stats = manifest.get("stats") or {}
        if point:
            # a point predicate is also a degenerate range for the
            # min/max stats and partition-value passes below
            prune = {**(prune or {}), **{c: (v, v) for c, v in point.items()}}
        bounds = {
            c: (self._coerce_bound(lo), self._coerce_bound(hi))
            for c, (lo, hi) in (prune or {}).items()
        }
        gen_meta = (manifest.get("meta") or {}).get("generated_columns")
        if gen_meta and bounds:
            # generated-partition-column translation: a prune on the base
            # column derives a prune on the generated column (monotone
            # whitelist), so day=CAST(ts AS DATE) partitions statically
            # prune from a ts range without the caller knowing the layout
            bounds = _translate_generated_bounds(bounds, gen_meta)
        colmap = manifest.get("colmap") or {}
        if colmap and bounds:
            # column mapping: stats stay keyed by the PHYSICAL names the
            # files were written with — translate logical prune bounds
            bounds = {colmap.get(c, c): b for c, b in bounds.items()}

        def after(a, b) -> bool:
            """a strictly after b. ISO strings are compared on their COMMON
            prefix (coarser granularity): a DATE bound against TIMESTAMP
            stats must not prune a file whose rows fall inside the bound's
            day ('2024-01-05T00:00:11' > '2024-01-05' lexically, but the
            file overlaps the day) — truncating both sides to the shorter
            length is conservative-correct: it can only keep extra files,
            never wrongly skip."""
            if isinstance(a, str) and isinstance(b, str):
                n = min(len(a), len(b))
                return a[:n] > b[:n]
            return a > b

        def keep(rel_stats: dict, f: str) -> bool:
            fstats = rel_stats.get(f)
            if fstats is None:
                return True
            for c, (lo, hi) in bounds.items():
                if c not in fstats:
                    continue
                fmin, fmax = fstats[c]
                if (hi is not None and after(fmin, hi)) or (
                    lo is not None and after(lo, fmax)
                ):
                    return False
            return True

        parts = manifest["partitions"]
        # explicit partition-rel restriction (the table_changes reader:
        # only partitions whose file lists differ between snapshots)
        rel_keys = rels if rels is not None else parts
        out = []
        for rel in rel_keys:
            if rel not in parts:
                continue
            if bounds and _rel_pruned(rel, bounds):
                # the hive dir values alone prove the whole partition is
                # outside the bounds — its file list (segment) is never
                # even LOADED, so a partition-pruned read of a 10^6-file
                # checkpointed table touches only surviving rels' segments
                continue
            rel_stats = stats.get(rel) or {}  # hydrates at most once per rel
            # manifest entries are normally file names relative to their
            # partition dir; ABSOLUTE entries (shallow clones — the Delta
            # shallow-clone move) resolve as themselves: os.path.join drops
            # the left side when the right is absolute, so one expression
            # covers both
            out.extend(
                (rel, f, os.path.join(path, rel, f) if rel else os.path.join(path, f))
                for f in parts[rel]
                if keep(rel_stats, f)
            )
        if point:
            # bloom sidecar pass: min/max can't skip hash-distributed
            # keys, the per-file bloom can (1 KB sidecar read per file,
            # zero data files opened)
            out = [
                (rel, f, fp)
                for rel, f, fp in out
                if all(
                    self._bloom_might_contain(fp, c, v)
                    for c, v in point.items()
                )
            ]
        return [fp for _, _, fp in out]

    def read_target(
        self,
        name: str,
        *,
        version: int | None = None,
        timestamp_as_of: float | None = None,
        prune: dict | None = None,
        rels: list[str] | None = None,
        point: dict | None = None,
    ) -> DataFrame:
        """Read the committed target. ``version`` time-travels to an older
        committed snapshot (within the vacuum retention horizon — see
        ``_vacuum``): the manifest IS the snapshot, so reading v(N-1) is
        just resolving its file list instead of CURRENT's.
        ``timestamp_as_of`` is Delta's ``timestampAsOf``: it resolves to
        the latest retained commit stamped at or before the given
        wall-clock time (``version_at_timestamp``) and reads that
        snapshot. ``prune`` applies manifest-stats data skipping (see
        ``resolved_files``); callers must still apply the actual row
        filter — pruning only bounds WHICH FILES are opened, exactly like
        lakehouse file skipping."""
        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError(
                    f"{name}: pass version OR timestamp_as_of, not both"
                )
            version = self.version_at_timestamp(name, timestamp_as_of)
        path = self.target_path(name)
        manifest = (
            self._manifest_at(name, version)
            if version is not None
            else self.current_manifest(name)
        )
        if version is not None and manifest is None:
            raise RuntimeError(f"{name}: no committed version {version}")
        if manifest is not None:
            # Manifest-committed target: read EXACTLY the live files (the
            # one reader chokepoint of the commit protocol). basePath keeps
            # hive partition-column inference working on explicit file
            # lists; uncommitted/orphan files in the same dirs are simply
            # never listed.
            # resolve from the SAME loaded manifest — re-reading CURRENT
            # here could race a concurrent commit and mix versions (v_N
            # dtypes applied to v_N+1 files)
            files = self.resolved_files(
                name, version=version, prune=prune, manifest=manifest,
                rels=rels, point=point,
            )
            missing = [f for f in files if not os.path.isfile(f)]
            if missing:
                raise RuntimeError(
                    f"{name}: version {manifest['version']} is beyond the "
                    f"vacuum retention horizon ({len(missing)} of its files "
                    "were reclaimed)"
                )
            dtypes = manifest.get("dtypes")
            if not files:
                if dtypes is None:
                    raise RuntimeError(f"{name}: empty target with no schema")
                ddl = ", ".join(f"`{n}` {t}" for n, t in dtypes)
                return self.spark.createDataFrame([], schema=ddl)
            # deletion vector: tombstoned (file, row-ordinal) pairs vanish
            # via a broadcast anti-join on the scan's metadata columns —
            # applied on the raw scan frame (``_metadata`` unreachable
            # after the cast-select); file lists and pruning are untouched
            df = self._apply_dv(
                self._read_files(path, manifest, files, dtypes=dtypes),
                self._dv_frame(name, manifest),
            )
            if dtypes and {n for n, _ in dtypes} == set(df.columns):
                df = df.select(*[F.col(n).cast(t).alias(n) for n, t in dtypes])
            return df
        if version is not None:
            raise RuntimeError(f"{name}: target has no manifest (legacy layout)")
        if prune:
            raise RuntimeError(
                f"{name}: stats pruning needs a manifest-committed target"
            )
        if os.path.isfile(os.path.join(path, self._COMMIT_MARKER)):
            # legacy (pre-manifest) target whose dir-swap commit died
            # mid-flight: reading through it would compute a watermark past
            # never-swapped partitions and lose their rows silently on the
            # next merge — fail loudly instead
            raise RuntimeError(
                f"{name}: target has an unfinished partition commit "
                f"({self._COMMIT_MARKER} present) — re-run the interrupted "
                "merge/backfill before reading"
            )
        df = self.spark.read.parquet(path)
        sidecar = os.path.join(path, self.SCHEMA_SIDECAR)
        if os.path.isfile(sidecar):
            with open(sidecar) as f:
                dtypes = json.load(f)
            if {n for n, _ in dtypes} == set(df.columns):
                # restore canonical order; the cast undoes partition-column
                # type inference drift (no-op when types already match)
                df = df.select(*[F.col(n).cast(t).alias(n) for n, t in dtypes])
        return df

    @staticmethod
    def _entry_map(root: str, manifest: dict) -> dict[str, tuple[str, str]]:
        """Resolved absolute path -> (partition rel, manifest entry) for
        every live file — the reverse of ``resolved_files``'s join."""
        out: dict[str, tuple[str, str]] = {}
        for rel, fl in manifest["partitions"].items():
            for f in fl:
                p = os.path.join(root, rel, f) if rel else os.path.join(root, f)
                out[p] = (rel, f)
        return out

    def _read_files(
        self,
        root: str,
        manifest: dict,
        files: list[str],
        dtypes: list | None = None,
    ) -> DataFrame:
        """Open an explicit resolved file list, GROUPING by base root so
        hive partition-column inference keeps working when a manifest
        mixes native files (under this target's dir) with foreign
        absolute entries (shallow clones): each group is read with the
        basePath its hive partition dirs are actually relative to.
        Native entries derive their rel from the path alone — the full
        manifest reverse map (which would hydrate every checkpointed
        segment) is built only when foreign entries are actually
        present.

        ``dtypes`` (the manifest's committed schema) makes the read
        schema EXPLICIT: files written before a schema-evolving commit
        (MERGE append_new_columns) lack the new columns and parquet
        NULL-fills them per file — without it, footer inference from an
        old file would silently drop an evolved column from the whole
        read. Partition columns in the schema keep resolving from the
        hive paths as usual."""
        rel_of: dict[str, str] = {}
        foreign = []
        for fp in files:
            if fp.startswith(root + os.sep):
                rel = os.path.dirname(os.path.relpath(fp, root))
                rel_of[fp] = "" if rel == "." else rel
            else:
                foreign.append(fp)
        if foreign:
            emap = self._entry_map(root, manifest)
            for fp in foreign:
                rel_of[fp] = emap.get(fp, ("", ""))[0]
        groups: dict[str, list[str]] = {}
        for fp in files:
            rel = rel_of.get(fp, "")
            suffix = os.sep + os.path.basename(fp)
            if rel:
                suffix = os.sep + rel + suffix
            base = fp[: -len(suffix)] if fp.endswith(suffix) else os.path.dirname(fp)
            groups.setdefault(base, []).append(fp)
        # column mapping (RENAME COLUMN without rewrite): the files carry
        # PHYSICAL names — read under the physical schema, then alias to
        # the logical names at this one chokepoint. Partition columns are
        # never mapped (rename_column refuses them), so hive-path
        # resolution is untouched.
        colmap = manifest.get("colmap") or {}
        reader = self.spark.read
        if dtypes:
            sch = (
                [(colmap.get(n, n), t) for n, t in dtypes]
                if colmap
                else dtypes
            )
            reader = reader.schema(
                ", ".join(f"`{n}` {t}" for n, t in sch)
            )
        dfs = [
            reader.option("basePath", base).parquet(*fps)
            for base, fps in sorted(groups.items())
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        if colmap and dtypes:
            out = out.select(
                *[F.col(colmap.get(n, n)).alias(n) for n, _t in dtypes]
            )
        return out

    def _watermark_from_stats(self, name: str, col: str) -> dt.date | None:
        """MAX(col) resolved from the manifest's per-file stats alone —
        ZERO Spark jobs, no file opened. Valid only when EVERY live file
        records stats for the column (a file without them could hide the
        true max); returns None then, and the caller falls back to the
        scan. The per-file max is exact (parquet footer stats are
        min/max, not approximations), so this is the same value the scan
        would return — at 100 TB the difference is one JSON read vs a
        full-table aggregate per incremental run."""
        manifest = self.current_manifest(name)
        if manifest is None:
            return None
        # trust ISO-string ordering for date/timestamp columns, numeric
        # ordering for integral id watermarks — anything else scans
        dtypes = dict(manifest.get("dtypes") or [])
        dtype = str(dtypes.get(col, ""))
        temporal = dtype.startswith(("date", "timestamp"))
        integral = dtype in ("tinyint", "smallint", "int", "bigint", "long")
        if not (temporal or integral):
            return None
        best = None
        part_cols = manifest.get("partition_by") or []
        if col in part_cols:
            # partition column: values live in the hive dir names, exact
            # by construction (ISO date strings order lexicographically)
            idx = part_cols.index(col)
            for rel in manifest["partitions"]:
                seg = rel.split(os.sep)[idx]
                if "=" not in seg:
                    return None
                val = seg.split("=", 1)[1]
                if val == "__HIVE_DEFAULT_PARTITION__":
                    continue  # NULLs never win a MAX
                if integral:
                    try:
                        val = int(val)
                    except ValueError:
                        return None
                if best is None or val > best:
                    best = val
        else:
            stats = manifest.get("stats") or {}
            for rel, fl in manifest["partitions"].items():
                for f in fl:
                    fstats = (stats.get(rel) or {}).get(f)
                    if not fstats or col not in fstats:
                        return None
                    hi = fstats[col][1]
                    if temporal and not isinstance(hi, str):
                        return None  # stats exist but not the ISO-date form
                    if integral and (
                        isinstance(hi, bool) or not isinstance(hi, int)
                    ):
                        return None
                    if best is None or hi > best:
                        best = hi
        if best is None:
            return None  # empty table: scan path returns the epoch fallback
        if integral:
            return best
        try:
            return dt.date.fromisoformat(best[:10])
        except ValueError:
            return None

    def watermark(self, name: str, col: str):
        """MAX over the target (the uncorrelated scalar subquery P8) —
        answered from manifest stats when possible (metadata-only, the
        lakehouse move), else an eager scan. Date watermarks normalize to
        ``dt.date``; non-temporal watermark columns (bigint ids — the
        other common dbt shape) return their raw value."""
        meta = self._watermark_from_stats(name, col)
        if meta is not None:
            return meta
        val = self.read_target(name).agg(F.max(col)).first()[0]
        if val is None:
            return EPOCH_FALLBACK
        if isinstance(val, dt.date):
            return val
        return val.date() if hasattr(val, "date") else val

    _CDC_DIR = "_change_data"

    def _write_change_data(
        self, name: str, changes: DataFrame, key: str, buckets: int
    ) -> dict:
        """Materialize one commit's four-type change rows (preimages
        included — readers filter) as parquet files under
        `_change_data/cdc-<uuid>/`, invisible until the manifest
        referencing the returned descriptor commits. Each row carries its
        key bucket `__cdc_bucket = pmod(xxhash64(key), buckets)` as a DATA
        column — same bucket count every version => same bucket for a
        key every version, which is what lets a streaming reader net one
        key's events across MANY versions inside one bounded task. The
        bucket is the logical netting unit, not the file layout: rows
        are range-clustered on it, so every file holds a disjoint,
        contiguous bucket range, recorded per file as ``lo``/``hi`` (read
        from the footer stats of the file just written). The uuid dir
        name (not the version) keeps the files valid across a
        concurrent-commit rebase; vacuum reclaims dirs no retained
        version references."""
        root = self.target_path(name)
        cdir = os.path.join(root, self._CDC_DIR)
        os.makedirs(cdir, exist_ok=True)
        tag = f"cdc-{uuid.uuid4().hex[:12]}"
        tmp = os.path.join(cdir, f".{tag}.tmp")
        bucket = F.col("__cdc_bucket")
        (
            changes.withColumn(
                "__cdc_bucket",
                F.pmod(F.xxhash64(F.col(key)), F.lit(int(buckets))),
            )
            # range-partition on the bucket: a bucket's rows all land in
            # ONE task, and AQE coalesces ADJACENT ranges up to its target
            # partition size — so a small commit writes one file whatever
            # the bucket count, and a large one writes target-sized files
            # over contiguous bucket ranges. The in-task sort keeps row
            # groups range-tight for the reader's bucket filter.
            .repartitionByRange(bucket)
            .sortWithinPartitions(bucket)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        files = []
        for f in sorted(os.listdir(tmp)):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            stats, n = self._file_stats(os.path.join(tmp, f))
            if n:  # an empty change set still writes one empty file
                lo, hi = stats["__cdc_bucket"]
                files.append({"path": f, "lo": int(lo), "hi": int(hi)})
        if not files:
            shutil.rmtree(tmp, ignore_errors=True)
            return {"key": key, "buckets": int(buckets), "files": []}
        os.replace(tmp, os.path.join(cdir, tag))
        return {
            "key": key,
            "buckets": int(buckets),
            "dir": tag,
            "files": files,
        }

    def _cdc_for_commit(
        self, spec: ModelSpec, old: DataFrame | None, new: DataFrame
    ) -> dict | None:
        """The per-commit change-file descriptor for a mutating writer, or
        None when the table hasn't opted in. ``old`` is the commit's OLD
        live rows restricted to its write footprint (None = pure append:
        everything in ``new`` outside ``old`` is an insert)."""
        if not (spec.change_data and spec.unique_key):
            return None
        if old is None:
            old = self.spark.createDataFrame([], new.schema)
        changes = _changes_between(old, new, spec.unique_key, preimages=True)
        return self._write_change_data(
            spec.name, changes, spec.unique_key, spec.cdc_buckets
        )

    def _table_changes_from_files(
        self,
        name: str,
        key: str,
        m_from: dict,
        m_to: dict,
        *,
        preimages: bool,
    ) -> DataFrame | None:
        """Change feed (from, to] assembled purely from committed
        `_change_data/` files — no base data file opened. Returns None
        when any version in the range lacks a change-file descriptor
        (fall back to the snapshot diff). Netting: per key, the FIRST
        version's pre-state and the LAST version's post-state decide the
        net event — identical to diffing the two snapshots, because each
        version's preimage is exactly the prior version's live image.

        RENAME-AWARE (r12): change files written before a RENAME COLUMN
        carry the old logical names. The rename chain between each
        version and the range end is reconstructed from the retained
        manifests (``_rename_ops`` — a pure metadata walk the loop below
        already pays) and each version's files are read under their own
        era schema, aliased to the range-end names. Versions sharing a
        naming epoch share ONE scan, so a rename-free history keeps the
        single-scan plan and a history with R renames reads at most R+1
        scans — never per-version. Columns whose chain dies at a DROP
        are excluded from the era read entirely (reading them by name
        would resurrect stale bytes after a post-compact re-add)."""
        mans: list[tuple[int, dict]] = [(m_from["version"], m_from)]
        metas: list[tuple[int, dict, dict]] = []
        for v in range(m_from["version"] + 1, m_to["version"] + 1):
            m = self._manifest_at(name, v)
            cdc = (m or {}).get("cdc")
            if cdc is None:
                return None
            mans.append((v, m))
            metas.append((v, m, cdc))
        ops = _rename_ops(mans)
        if ops is None:
            return None
        dtypes = m_to.get("dtypes")
        if not dtypes or key not in {n for n, _ in dtypes}:
            return None
        cols = [n for n, _ in dtypes]
        tmap = dict(dtypes)
        ddl = (
            ", ".join(f"`{n}` {t}" for n, t in dtypes)
            + ", `_change_type` string"
        )
        infos: list[tuple[int, dict, dict]] = []  # (v, cdc, src map)
        for v, m, cdc in metas:
            if not cdc.get("files"):
                continue
            src = _feed_column_sources(
                [n for n, _ in (m.get("dtypes") or [])], v, ops, cols
            )
            if cdc.get("key") != src.get(key):
                return None  # era feed keyed on an untraceable column
            infos.append((v, cdc, src))
        root = os.path.join(self.target_path(name), self._CDC_DIR)
        if not infos:
            return (
                self.spark.createDataFrame([], schema=ddl)
                .select(*cols, "_change_type")
            )

        def era_scan(src: dict, paths: list[str], *extra) -> DataFrame:
            # explicit ERA schema => only traced columns are read by
            # name (pre-evolution files NULL-fill, dropped-era bytes
            # stay unread), then aliased to the range-end names
            era_ddl = (
                ", ".join(f"`{src[c]}` {tmap[c]}" for c in cols if c in src)
                + ", `_change_type` string"
            )
            return self.spark.read.schema(era_ddl).parquet(*paths).select(
                *[
                    F.col(src[c]).alias(c)
                    if c in src
                    else F.lit(None).cast(tmap[c]).alias(c)
                    for c in cols
                ],
                "_change_type",
                *extra,
            )

        if len(metas) == 1:
            # a range of exactly ONE version: its change files already
            # are the net changes — the commit wrote them through
            # _changes_between, which paired each key's images and
            # dropped no-op rewrites — so the netting groupBy is skipped
            _, cdc, src = infos[0]
            out = era_scan(
                src,
                [
                    os.path.join(root, cdc["dir"], f["path"])
                    for f in cdc["files"]
                ],
            )
            if not preimages:
                out = out.filter(F.col("_change_type") != "update_preimage")
            return out
        # ONE scan per NAMING EPOCH over its versions' change files (a
        # per-version union would grow the plan O(versions) on a deep
        # catch-up); the commit version rides back in via a broadcast
        # (dir -> version) map keyed on the uuid dir segment of the file
        # path — metadata scale.
        groups: dict[tuple, dict] = {}
        for v, cdc, src in infos:
            sig = tuple(sorted(src.items()))
            g = groups.setdefault(sig, {"src": src, "paths": []})
            g["paths"].extend(
                os.path.join(root, cdc["dir"], f["path"])
                for f in cdc["files"]
            )
        vmap = self.spark.createDataFrame(
            [(c["dir"], v) for v, c, _ in infos], "__cdir string, __v int"
        )
        cdir = F.regexp_extract(
            F.col("_metadata.file_path"), f"{self._CDC_DIR}/([^/]+)/", 1
        ).alias("__cdir")
        scans = [era_scan(g["src"], g["paths"], cdir) for g in groups.values()]
        raw = scans[0]
        for s in scans[1:]:
            raw = raw.unionByName(s)
        raw = raw.join(F.broadcast(vmap), "__cdir").drop("__cdir")
        vcols = sorted(c for c in cols if c != key)
        img = F.struct(*cols)
        pre = F.col("_change_type").isin("update_preimage", "delete")
        post = F.col("_change_type").isin("insert", "update_postimage")
        # one (pre, post) image pair per (key, version) — a commit emits at
        # most one event per key (update = the pre/post pair) — then per
        # key: pre-state at the first touched version, post-state at the
        # last. NULL pre at the first version <=> key absent before the
        # range; NULL post at the last <=> absent after.
        g1 = raw.groupBy(F.col(key).alias("__k"), F.col("__v")).agg(
            F.max(F.when(pre, img)).alias("pre"),
            F.max(F.when(post, img)).alias("post"),
        )
        j = g1.groupBy("__k").agg(
            F.min_by("pre", "__v").alias("__row_o"),
            F.max_by("post", "__v").alias("__row_n"),
        ).filter(
            # inserted-then-deleted inside the range: absent on both
            # sides, no net event (the snapshot diff never sees the key)
            F.col("__row_o").isNotNull() | F.col("__row_n").isNotNull()
        )
        j = j.select(
            "__k",
            "__row_o",
            "__row_n",
            F.when(
                F.col("__row_o").isNotNull(),
                _row_fingerprint(vcols, "__row_o"),
            ).alias("__fp_o"),
            F.when(
                F.col("__row_n").isNotNull(),
                _row_fingerprint(vcols, "__row_n"),
            ).alias("__fp_n"),
        )
        return _emit_change_rows(j, cols, preimages=preimages)

    def table_changes(
        self,
        name: str,
        key: str,
        from_version: int | None = None,
        to_version: int | None = None,
        *,
        preimages: bool = False,
        starting_timestamp: float | None = None,
        ending_timestamp: float | None = None,
    ) -> DataFrame:
        """Delta-CDF-shaped change feed between two COMMITTED snapshots:
        full row images plus ``_change_type`` in {insert,
        update_postimage, delete} — and, with ``preimages=True``, an
        ``update_preimage`` row (the OLD image) alongside every
        update_postimage, exactly Delta's four-type feed. Preimages are
        what make downstream INCREMENTAL VIEW MAINTENANCE exact:
        subtract the old contribution, add the new one — no consumer can
        reconstruct the old value from post-images alone. Default stays
        post-only (the r7 contract; existing oracles unchanged). The
        read is METADATA-BOUNDED: the partition-pruned merge rewrites
        whole partitions and carries untouched partitions' file lists
        forward verbatim, so the set of partitions whose lists differ
        between the two manifests is exactly the write footprint — only
        those partitions' files are opened on either side, however large
        the table. A deletion-vector commit changes no file list: the
        rels holding files its sidecars name join the footprint, each
        side read through its own vector. Within the footprint, rows are
        matched on ``key`` and
        unchanged rows (rewritten byte-identical) are dropped via a
        null-sentineled md5 fingerprint over the non-key columns.

        WRITE-TIME CHANGE FILES (VERDICT r9 item 1): when every version in
        (from, to] committed `_change_data/` files (spec.change_data — the
        Delta ``delta.enableChangeDataFeed`` analogue), the read NEVER
        opens a base data file: the per-version four-type files are read
        directly and NETTED per key distributed (first pre-state, last
        post-state), which reproduces the snapshot-diff semantics exactly
        — change-proportional I/O at any table size. Versions without
        change files (full refresh, RESTORE, legacy) fall back to the
        snapshot diff, Delta's CDF-availability rule.

        TIMESTAMP BOUNDS (r12 — Delta's batch-CDF
        startingTimestamp/endingTimestamp): ``starting_timestamp``
        anchors the feed at the latest retained commit STRICTLY BEFORE
        the timestamp (so every commit stamped at-or-after it is
        included — Delta's at-or-after inclusion rule expressed as an
        anchor snapshot), and refuses a timestamp at-or-before the
        oldest retained commit (the bootstrap beyond retained history
        belongs to the streaming source's initial snapshot);
        ``ending_timestamp`` resolves to the latest commit at-or-before
        it (the ``version_at_timestamp`` rule). Resolution is pure
        provenance metadata — no data file opened. Useful with
        age-based retention (``RETENTION_SECONDS``), where "changes
        since yesterday 09:00" is the natural consumer question."""
        if starting_timestamp is not None:
            if from_version is not None:
                raise ValueError(
                    f"{name}: pass from_version OR starting_timestamp, "
                    "not both"
                )
            anchor = None
            latest_ts = None
            for rec in self.history(name):
                if rec["ts"] is None:
                    continue
                if latest_ts is None or rec["ts"] > latest_ts:
                    latest_ts = rec["ts"]
                if rec["ts"] < starting_timestamp:
                    if anchor is None or rec["version"] > anchor:
                        anchor = rec["version"]
            if latest_ts is not None and starting_timestamp > latest_ts:
                # Delta's timestampGreaterThanLatestCommit rule (ADVICE
                # r12): a stamp past every commit must RAISE, not return
                # an empty feed — the caller is asking about a future the
                # table hasn't written yet, and an empty result would
                # silently read as "no changes".
                raise RuntimeError(
                    f"{name}: startingTimestamp {starting_timestamp} is "
                    f"newer than the latest commit ({latest_ts}) — "
                    "nothing at-or-after it exists yet"
                )
            if anchor is None:
                # At-boundary refusal (documented, ADVICE r12): a stamp
                # at-or-before the OLDEST retained commit's ts cannot
                # anchor — serving that commit's changes needs the commit
                # strictly before it, which retention already reclaimed.
                # Widen retention by at least one commit (RETENTION_SECONDS
                # / RETAIN_VERSIONS) or bootstrap via the streaming
                # source's initial snapshot.
                raise RuntimeError(
                    f"{name}: no retained commit strictly before "
                    f"startingTimestamp {starting_timestamp} — the feed "
                    "cannot anchor (a stamp at-or-before the oldest "
                    "retained commit needs one commit MORE of retention); "
                    "start a stream (initial snapshot) or widen retention "
                    "by at least one commit"
                )
            from_version = anchor
        if from_version is None:
            raise ValueError(
                f"{name}: table_changes needs from_version or "
                "starting_timestamp"
            )
        if ending_timestamp is not None:
            if to_version is not None:
                raise ValueError(
                    f"{name}: pass to_version OR ending_timestamp, not both"
                )
            to_version = self.version_at_timestamp(name, ending_timestamp)
        m_from = self._manifest_at(name, from_version)
        if m_from is None:
            raise RuntimeError(f"{name}: no committed version {from_version}")
        m_to = (
            self._manifest_at(name, to_version)
            if to_version is not None
            else self.current_manifest(name)
        )
        if m_to is None:
            raise RuntimeError(f"{name}: no committed target")
        # the change-file fast path composes renames itself (r12 —
        # era-schema reads aliased to the range-end names), so it is
        # tried FIRST; only the snapshot-diff fallback below carries the
        # column-mapping refusals (a pre-rename snapshot diffed under
        # the new logical dtypes would fabricate changes — Delta's
        # name-mode has the same restriction without field ids)
        fast = self._table_changes_from_files(
            name, key, m_from, m_to, preimages=preimages
        )
        if fast is not None:
            return fast
        if m_from.get("colmap") or m_to.get("colmap"):
            # the snapshot diff reads files under the CURRENT logical
            # dtypes — physical-named files would misalign (NULL-fill the
            # renamed column, fabricate updates); Delta likewise blocks
            # feeds across column-mapping changes without schema tracking.
            # Tables with spec.change_data serve this feed from their
            # change files instead (the fast path above).
            raise RuntimeError(
                f"{name}: change feed over a column-mapped table is not "
                "supported without write-time change files — absorb the "
                "mapping (compact) first, or enable spec.change_data"
            )
        # a RENAME inside the range can leave BOTH endpoints clean (rename
        # then absorb): walk the range's retained manifests and refuse on
        # any rename commit (provenance op / colmap); a vacuumed
        # intermediate can hide nothing the endpoints still reference
        for v in range(from_version + 1, m_to["version"] + 1):
            try:
                mi = self._manifest_at(name, v)
            except RuntimeError:
                continue
            if mi.get("colmap") or mi.get("op") == "RENAME COLUMN":
                raise RuntimeError(
                    f"{name}: the change-feed range crosses a column "
                    f"rename (version {v}) — restart the feed from a "
                    "post-rename version, or enable spec.change_data "
                    "(write-time change files net across renames)"
                )
        # a deletion-vector commit changes no file list: rels holding
        # files named by the sidecars that only one end lists join the
        # diff, and each end reads through its own vector — a key deleted
        # and re-inserted inside the range then nets like any other
        # rewrite (the vector names physical rows, never keys)
        changed = sorted(
            _rels_differing(m_from["partitions"], m_to["partitions"])
            | self._dv_changed_rels(name, m_from, m_to)
        )
        old = self.read_target(name, version=from_version, rels=changed)
        new = self.read_target(
            name, version=m_to["version"], rels=changed
        )
        return _changes_between(old, new, key, preimages=preimages)

    def txn_last_version(self, name: str, app_id: str) -> int | None:
        """The highest transaction version committed for ``app_id`` —
        Delta's txnAppId/txnVersion idempotent-write ledger, answered
        from the manifest meta (one JSON read, zero jobs)."""
        cur = self.current_manifest(name)
        txn = ((cur or {}).get("meta") or {}).get("txn") or {}
        v = txn.get(app_id)
        return int(v) if v is not None else None

    @_records_op("STREAMING UPDATE")
    def merge_txn(
        self,
        spec: ModelSpec,
        new: DataFrame,
        *,
        app_id: str,
        txn_version: int,
        meta_update: dict | None = None,
    ) -> dict:
        """Idempotent streaming-sink write (Delta's
        ``option("txnAppId", ...).option("txnVersion", ...)``): merge the
        batch through the partition-pruned incremental writer AND record
        (app_id -> txn_version) in the SAME manifest commit, so replayed
        micro-batches (foreachBatch redelivery after a sink crash —
        Spark's contract is at-least-once into the user function) are
        detected by the ledger and skipped WITHOUT reading the batch.
        The ledger rides in the manifest ``meta`` slot: the data and the
        transaction watermark are one atomic snapshot — exactly the
        property that upgrades at-least-once redelivery to exactly-once
        table state.

        ``meta_update``: top-level manifest-meta entries to merge into
        the SAME commit (a streaming index maintainer's policy state —
        e.g. the ANN drift counters — must move atomically with the
        batch it accounts for, or a crash between two commits would
        double- or under-count on replay)."""
        import dataclasses

        name = spec.name
        last = self.txn_last_version(name, app_id)
        if last is not None and txn_version <= last:
            return {
                "op": "merge-txn",
                "skipped": True,
                "app_id": app_id,
                "txn_version": txn_version,
                "last_committed": last,
            }
        live = self.current_manifest(name)
        meta = dict((live or {}).get("meta") or {})
        meta.update(meta_update or {})
        txn = dict(meta.get("txn") or {})
        txn[app_id] = int(txn_version)
        meta["txn"] = txn
        spec2 = dataclasses.replace(spec, manifest_meta=meta)
        # tombstone split — same contract as run(): rows flagged in
        # spec.tombstone_col are HARD deletes (CDC delete feed through an
        # idempotent streaming sink), the rest upsert
        tomb = None
        if spec.tombstone_col is not None and spec.tombstone_col in new.columns:
            flag = F.coalesce(
                F.col(spec.tombstone_col).cast("boolean"), F.lit(False)
            )
            tomb = new.filter(flag).drop(spec.tombstone_col)
            new = new.filter(~flag).drop(spec.tombstone_col)
        if self.target_exists(name):
            self._require_spec_columns(spec2)
            if spec.partition_by:
                n, files = self._partitioned_merge_write(
                    spec2, self.read_target(name), new, tomb
                )
            else:
                # unpartitioned target: same dispatch as run() — merge
                # then full rewrite (there is no partition to prune);
                # change_data tables keep their feed fast-path here too
                tgt = self.read_target(name)
                n = self._atomic_write(
                    spec2, self._merge(spec2, tgt, new, tomb),
                    cdc_old=tgt if spec.change_data and spec.unique_key
                    else None,
                )
                files = 0
        else:
            # fresh table: tombstones have nothing to delete
            n, files = self._atomic_write(spec2, new), 0
        return {
            "op": "merge-txn",
            "skipped": False,
            "app_id": app_id,
            "txn_version": txn_version,
            "rows_written": int(n),
            "partitions_touched": files,
        }

    @_records_op("SET TBLPROPERTIES")
    def commit_meta(self, name: str, meta: dict) -> dict:
        """Metadata-only commit: a new version whose data files, layout,
        stats and deletion vector are the live snapshot's VERBATIM, with
        ``meta`` replaced — the index-maintenance counterpart of Delta's
        commitInfo-only transactions. A delete-only maintenance batch
        must move its policy state (live-docs cutoffs, corpus scalars,
        txn ledger) atomically even though no data file changes. The
        live ``cdc`` descriptor is NOT carried (it describes the
        PREVIOUS version's changes — copying it would double-count in a
        netted feed); change_data tables get an EMPTY descriptor so the
        fast-path feed stays available across this version."""
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: commit_meta needs a committed target")
        manifest = {
            "version": live["version"] + 1,
            "partition_by": list(live.get("partition_by") or []),
            "dtypes": live.get("dtypes"),
            "partitions": live["partitions"],
            "stats": live.get("stats") or {},
            "meta": meta,
        }
        if live.get("dv") is not None:
            manifest["dv"] = live["dv"]
        if live.get("cdc") is not None:
            manifest["cdc"] = {
                "key": live["cdc"].get("key"),
                "buckets": live["cdc"].get("buckets"),
                "files": [],
            }
        manifest = self._commit_manifest(name, manifest)
        self._vacuum(name, manifest)
        return manifest

    def deleted_keys_since(
        self, name: str, key: str, from_version: int
    ) -> DataFrame | None:
        """Keys DELETED from ``name`` between ``from_version`` and CURRENT
        — the deletion-vector feed for delete-aware index reads (VERDICT
        r7 item 2). A persistent index built at base version V composes
        with row-level DELETE/CDC by anti-joining its read against this
        set: the index keeps serving its committed snapshot while deleted
        base rows vanish from results, exactly Delta's
        deletion-vectors-applied-at-read shape (a periodic rebuild
        re-absorbs them, like file compaction re-absorbs DVs).

        Returns ``None`` when no commit happened since ``from_version``
        (callers skip the anti-join entirely — the common fast path).
        Metadata-bounded like ``table_changes``: only partitions whose
        file lists differ between the two snapshots are read."""
        cur = self.current_manifest(name)
        if cur is None or cur["version"] <= from_version:
            return None
        ch = self.table_changes(name, key, from_version)
        return (
            ch.filter(F.col("_change_type") == "delete")
            .select(key)
            .distinct()
        )

    def _recover_orphan_versions(self, name: str) -> None:
        """Delete version files never published by a CURRENT swap — the
        remains of a writer that crashed between the O_EXCL version-file
        claim and the pointer swap. Without this, the crashed version
        number would be permanently uncommittable (every retry derives the
        same next version and hits FileExistsError). Safe at WRITER START
        under the single-writer-per-model deployment this runner targets
        (no other writer can be mid-commit when we begin); a multi-writer
        deployment replaces this with leases / conditional PUTs, as
        `_commit_manifest` documents. Readers are unaffected either way —
        they only ever follow CURRENT."""
        cur = self.current_manifest(name)
        floor = cur["version"] if cur else 0
        for v in self.list_versions(name):
            if v > floor:
                log.warning(
                    "%s: removing orphan version file v%06d.json "
                    "(claimed but never published — crashed writer)",
                    name, v,
                )
                os.remove(
                    os.path.join(self._manifest_dir(name), f"v{v:06d}.json")
                )

    @_records_op("WRITE")
    def run(
        self,
        spec: ModelSpec,
        sf_dir: str,
        *,
        full_refresh: bool = False,
    ) -> dict:
        """Run one model; returns stats for observability."""
        self._recover_orphan_versions(spec.name)
        if spec.pre_counts is not None:
            for k, v in spec.pre_counts(self.spark, sf_dir).items():
                log.info("%s: %s = %s", spec.name, k, v)  # D3

        def _run_hooks(hooks: list[str]) -> None:
            for sql in hooks:
                self.spark.sql(sql.replace("{{ this }}", f"`{spec.name}`"))

        if spec.pre_hook:
            # {{ this }} in a pre-hook sees the PRE-RUN target state (dbt
            # semantics); on the very first run the relation simply does
            # not exist yet and a hook referencing it fails, as in dbt
            if self.target_exists(spec.name):
                self.read_target(spec.name).createOrReplaceTempView(spec.name)
            _run_hooks(spec.pre_hook)

        incremental = self.target_exists(spec.name) and not full_refresh
        if incremental:
            self._require_spec_columns(spec)
        if incremental and spec.partition_by:
            # only the PARTITION-SCOPED merge refuses under a pending
            # column mapping (it would mix physical names across files);
            # the unpartitioned merge and a full refresh both dispatch to
            # _atomic_write — a full rewrite whose fresh manifest ABSORBS
            # the mapping (all files re-land under logical names)
            self._require_no_colmap(
                spec.name, self.current_manifest(spec.name),
                "partition-scoped incremental merge",
            )

        wm = self.watermark(spec.name, spec.watermark_col) if incremental else None
        new = spec.build(self.spark, sf_dir, wm)
        if incremental:
            dropped_hist = set(
                (self.current_manifest(spec.name) or {}).get("dropped") or []
            )
            bad = [c for c in new.columns if c in dropped_hist]
            if bad:
                raise RuntimeError(
                    f"{spec.name}: column(s) {bad} were DROPPED but old "
                    "files still hold bytes under those names — re-adding "
                    "would resurrect stale data (name-mode column mapping); "
                    "run compact() or a full refresh first"
                )
        tomb = None
        if spec.tombstone_col is not None and spec.tombstone_col in new.columns:
            flag = F.coalesce(
                F.col(spec.tombstone_col).cast("boolean"), F.lit(False)
            )
            tomb = new.filter(flag).drop(spec.tombstone_col)
            new = new.filter(~flag).drop(spec.tombstone_col)
        if spec.generated_columns:
            # Delta generated columns: compute missing, VALIDATE provided
            # (as a check constraint riding the write pass), and commit
            # the definitions into the manifest meta so reads can
            # translate base-column prunes into partition pruning.
            import dataclasses

            gen_meta: dict[str, dict] = {}
            extra_checks: list[str] = []
            for col, expr in spec.generated_columns.items():
                kind, base = _parse_generated(col, expr)
                gen_meta[col] = {"kind": kind, "base": base, "expr": expr}
                if col in new.columns:
                    extra_checks.append(f"`{col}` <=> ({expr})")
                else:
                    new = new.withColumn(col, F.expr(expr))
                if tomb is not None and col not in tomb.columns:
                    tomb = tomb.withColumn(col, F.expr(expr))
            if spec.manifest_meta is not None:
                meta = dict(spec.manifest_meta)
            else:
                # Preserve the carry-previous-meta-forward rule: a run()
                # with generated_columns must NOT replace meta committed
                # by other writers on the same table (e.g. the txn
                # idempotency ledger from merge_txn) — overlay onto the
                # live manifest's meta instead of starting from {}.
                live_now = self.current_manifest(spec.name)
                meta = dict((live_now or {}).get("meta") or {})
            meta["generated_columns"] = gen_meta
            spec = dataclasses.replace(
                spec,
                check_constraints=[*spec.check_constraints, *extra_checks],
                manifest_meta=meta,
            )
        if spec.contract is not None:
            got = [(f.name, f.dataType.simpleString()) for f in new.schema.fields]
            want = list(spec.contract.items())
            if got != want:
                raise RuntimeError(
                    f"{spec.name}: contract violation — built schema {got} "
                    f"!= declared {want}"
                )

        mode = "incremental" if incremental else "full"
        parts_rewritten = None
        if incremental:
            target = self.read_target(spec.name)
            schema_drift = set(target.columns) != set(new.columns)
            target, new = _reconcile_schema(
                target, new, spec.on_schema_change, spec.name
            )
            if (
                spec.partition_by
                and not schema_drift
                and self._layout_is_partitioned(spec)
            ):
                # PRUNED path: merge + rewrite only touched partitions
                n, parts_rewritten = self._partitioned_merge_write(
                    spec, target, new, tomb
                )
                mode = "incremental-pruned"
            else:
                # full rewrite (also migrates an unpartitioned layout to a
                # partitioned one when partition_by was just turned on).
                # Still a MUTATING incremental commit: change_data tables
                # write their four-type files here too (unpartitioned
                # merges and schema-evolving merges would otherwise
                # silently knock the feed back to the snapshot diff —
                # Delta keeps CDF across schema changes; only explicit
                # full refresh / RESTORE lose it)
                n = self._atomic_write(
                    spec,
                    self._merge(spec, target, new, tomb),
                    cdc_old=target if spec.change_data and spec.unique_key
                    else None,
                )
        else:
            # fresh table: tombstones have nothing to delete
            n = self._atomic_write(spec, new)
        if spec.post_hook:
            # {{ this }} resolves to the just-committed target state
            self.read_target(spec.name).createOrReplaceTempView(spec.name)
            _run_hooks(spec.post_hook)
        return {
            "model": spec.name,
            "mode": mode,
            "watermark": str(wm) if wm is not None else None,
            "rows_written": n,
            "partitions_rewritten": parts_rewritten,
        }

    def _merge(
        self,
        spec: ModelSpec,
        target: DataFrame,
        new: DataFrame,
        tomb: DataFrame | None = None,
    ) -> DataFrame:
        """delete+insert by unique_key == anti-join old rows, append new.
        ``tomb`` rows (CDC tombstones, see ModelSpec.tombstone_col) join
        the delete side but are never inserted — a hard delete.

        incremental_predicates split the target into the slice the delete can
        touch (anti-joined) and the untouchable remainder (passed through
        without scanning for collisions).
        """
        if spec.incremental_predicates:
            pred = F.expr(" AND ".join(f"({p})" for p in spec.incremental_predicates))
            touchable, untouchable = target.filter(pred), target.filter(~pred)
        else:
            touchable, untouchable = target, None
        if spec.merge_exclude_columns:
            # re-emitted rows keep the OLD values of excluded columns:
            # left-join the old slice onto the new rows by key and
            # coalesce excluded cols old-first (new keys have no old row)
            excl = spec.merge_exclude_columns
            old_slice = touchable.select(
                spec.unique_key,
                F.lit(True).alias("__matched"),
                *[F.col(c).alias(f"__old_{c}") for c in excl],
            )
            # matched -> old value EVEN IF NULL (dbt UPDATE-skip
            # semantics; a coalesce would resurrect the new value)
            new = new.join(old_slice, spec.unique_key, "left").select(
                *[
                    F.when(F.col("__matched"), F.col(f"__old_{c}"))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in excl
                    else F.col(c)
                    for c in new.columns
                ]
            )
        del_keys = new.select(spec.unique_key)
        if tomb is not None:
            del_keys = del_keys.unionByName(tomb.select(spec.unique_key))
        merged = touchable.join(
            del_keys.distinct(),
            on=spec.unique_key,
            how="left_anti",
        ).unionByName(new)
        if untouchable is not None:
            merged = merged.unionByName(untouchable)
        return merged

    def _layout_is_partitioned(self, spec: ModelSpec) -> bool:
        manifest = self.current_manifest(spec.name)
        if manifest is not None:
            return manifest.get("partition_by") == list(spec.partition_by)
        path = self.target_path(spec.name)
        prefix = spec.partition_by[0] + "="
        return any(d.startswith(prefix) for d in os.listdir(path))

    @staticmethod
    def _leaf_partition_dirs(root: str, depth: int) -> list[str]:
        """Relative paths of hive-style leaf partition dirs under ``root``
        (one level per partition column; NULLs land in the hive default dir)."""
        rels = [""]
        for _ in range(depth):
            nxt = []
            for rel in rels:
                base = os.path.join(root, rel)
                for e in os.listdir(base):
                    full = os.path.join(base, e)
                    if os.path.isdir(full) and (
                        "=" in e or e == "__HIVE_DEFAULT_PARTITION__"
                    ):
                        nxt.append(os.path.join(rel, e) if rel else e)
            rels = nxt
        return rels

    @staticmethod
    def _partition_predicate(partition_by: list[str], touched: list) -> "F.Column":
        """Predicate selecting exactly the touched partition values (the
        partition-pruned target scan of the merge)."""
        if len(partition_by) == 1:
            col = F.col(partition_by[0])
            vals = [r[0] for r in touched]
            nonnull = [v for v in vals if v is not None]
            pred = col.isin(nonnull) if nonnull else F.lit(False)
            if len(nonnull) != len(vals):  # a NULL partition was touched
                pred = pred | col.isNull()
            return pred
        preds = []
        for r in touched:
            conj = None
            for c, v in zip(partition_by, r):
                term = F.col(c).isNull() if v is None else (F.col(c) == F.lit(v))
                conj = term if conj is None else (conj & term)
            preds.append(conj)
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out

    _COMMIT_MARKER = "_commit_in_progress"  # legacy (pre-manifest) targets only

    # ------------------------------------------------------------------
    # Manifest commit protocol (object-store-safe).
    #
    # Every committed table version is ONE small JSON file under
    # `_manifest/` listing the exact live data files per partition
    # directory; `_manifest/CURRENT` names the live version and is
    # replaced with a single atomic `os.replace` (a single-key PUT on an
    # object store). Writers add NEW uniquely-named files into the
    # normal hive partition dirs — invisible to readers until the
    # pointer swap — then commit, then vacuum the superseded files. A
    # crash at ANY point before the pointer swap leaves readers on the
    # previous consistent version (orphan files are unreferenced and
    # cleaned by the next vacuum); there is no torn-commit window at
    # all, unlike directory-rename swaps whose multi-rename sequence is
    # copy+delete (and visible) on S3-class stores. This is the
    # Delta/Iceberg transaction-log move with one pointer instead of a
    # log — sufficient for a single-writer-per-model DAG.
    # ------------------------------------------------------------------

    _MANIFEST_DIR = "_manifest"
    _CURRENT = "CURRENT"

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self.target_path(name), self._MANIFEST_DIR)

    def current_manifest(self, name: str) -> dict | None:
        """The committed table version, or None for legacy/absent targets."""
        cur = os.path.join(self._manifest_dir(name), self._CURRENT)
        if not os.path.isfile(cur):
            return None
        with open(cur) as fh:
            ver = fh.read().strip()
        return load_manifest_file(os.path.join(self._manifest_dir(name), ver))

    def _premanifest_marker(self, name: str, live: dict | None) -> str | None:
        """Crash-safety for PRE-manifest targets (ADVICE r5): when no
        manifest exists yet (first-ever commit, or legacy adoption),
        `_ingest_files` moves uncommitted files into partition dirs that
        the LEGACY read path (`spark.read.parquet(dir)`) and
        `target_exists` see directly — a crash between ingest and
        `_commit_manifest` would leave them visible and a re-run would
        silently compute a watermark over partial/duplicated data. Write
        the legacy `_commit_in_progress` marker first (read_target already
        refuses to read a manifest-less target through it) and clear it
        only after the manifest commit succeeds. Once a manifest exists
        the pointer swap alone is atomic and no marker is needed."""
        if live is not None:
            return None
        marker = os.path.join(self.target_path(name), self._COMMIT_MARKER)
        os.makedirs(self.target_path(name), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("premanifest ingest in progress")
        return marker

    @staticmethod
    def _clear_premanifest_marker(marker: str | None) -> None:
        if marker is not None and os.path.isfile(marker):
            os.remove(marker)

    _COMMIT_RETRIES = 5

    def _rebase_manifest(
        self, name: str, orig: dict, base: dict, cur: dict, touched: set[str]
    ) -> dict:
        """Rebase a partition-scoped commit onto a newer CURRENT (the
        Delta/Iceberg conflict-RESOLUTION shape): conflict detection runs
        on the PARTITION SET, not the version number. The other writers'
        footprint is exactly the rels whose file lists changed between the
        manifest this writer read (``base``) and the newest committed one
        (``cur``) — untouched partitions carry identical file lists
        forward, so the diff is precise. Disjoint footprints compose: take
        ``cur``'s partitions, overlay this writer's ``touched`` rels from
        its own staged manifest (``orig``). Correct because every model's
        unique_key embeds its partition column — a merge's read-modify-
        write is partition-local, so a concurrent change to OTHER
        partitions cannot invalidate it. Overlapping footprints (or a
        concurrent schema / partition-layout change) still refuse."""
        overlap = None
        if cur.get("partition_by") != orig.get("partition_by") or cur.get(
            "dtypes"
        ) != base.get("dtypes"):
            overlap = "a concurrent schema or partition-layout change"
        elif (cur.get("dv") or None) != (base.get("dv") or None):
            # a deletion-vector commit landed between this writer's read
            # and its commit: the staged rewrite was produced WITHOUT that
            # vector's deletes, and blindly carrying either side's vector
            # could resurrect or double-delete rows — refuse (r10
            # hardening; previously the rebase silently dropped the field)
            overlap = "a concurrent deletion-vector change"
        else:
            # segment-backed rels diff by content-addressed ref — the
            # whole conflict check hydrates nothing
            others = _rels_differing(base["partitions"], cur["partitions"])
            clash = others & touched
            if clash:
                overlap = f"overlapping partitions {sorted(clash)[:5]}"
        if overlap:
            raise RuntimeError(
                f"{name}: concurrent commit detected — CURRENT advanced to "
                f"version {cur['version']} with {overlap}; re-run the merge "
                "against the new table state"
            )
        up_p = {
            rel: orig["partitions"][rel]
            for rel in touched
            if rel in orig["partitions"]
        }
        ostats = orig.get("stats") or {}
        up_s = {rel: ostats[rel] for rel in up_p if rel in ostats}
        parts = _overlay(cur["partitions"], up_p, removes=touched)
        stats = _overlay(cur.get("stats") or {}, up_s, removes=touched)
        out = {
            "version": cur["version"] + 1,
            "partition_by": list(orig.get("partition_by") or []),
            "dtypes": orig.get("dtypes"),
            "partitions": parts,
            "stats": stats,
        }
        # meta: if this writer changed it, its value wins; otherwise the
        # newest committed meta rides forward
        meta = (
            orig.get("meta")
            if orig.get("meta") != base.get("meta")
            else cur.get("meta")
        )
        if meta is not None:
            out["meta"] = meta
        # this writer's own change-data descriptor and carried DV survive
        # the rebase (dv passed the equality check above, so base == cur)
        for extra in ("cdc", "dv"):
            if orig.get(extra) is not None:
                out[extra] = orig[extra]
        return out

    def _commit_manifest(
        self,
        name: str,
        manifest: dict,
        *,
        base: dict | None = None,
        touched: set[str] | None = None,
    ) -> dict:
        """Write the version file, then atomically swap the CURRENT pointer
        — the ONLY step that changes what readers see. Returns the manifest
        actually committed (== the input unless a rebase happened).

        Optimistic concurrency: the new version number was derived from the
        manifest the writer READ; if CURRENT has advanced to (or past) that
        number since, another writer committed concurrently and committing
        blindly would silently drop their merge. Partition-scoped writers
        (pruned merge, backfill) pass ``base`` (the manifest they read) and
        ``touched`` (the rels they rewrote): a racing commit with a
        DISJOINT partition footprint rebases onto the new CURRENT and both
        land (``_rebase_manifest`` — the Delta/Iceberg conflict-resolution
        move). Full-table writers pass neither and refuse, as before. The
        check-then-replace race window is a filesystem metadata read apart;
        a real multi-writer deployment closes it with a conditional PUT /
        putIfAbsent on the version file."""
        mdir = self._manifest_dir(name)
        os.makedirs(mdir, exist_ok=True)
        orig = manifest
        for attempt in range(self._COMMIT_RETRIES):
            cur = self.current_manifest(name)
            if cur is not None and cur["version"] >= manifest["version"]:
                if base is None or touched is None:
                    raise RuntimeError(
                        f"{name}: concurrent commit detected — CURRENT is "
                        f"already at version {cur['version']} but this writer "
                        f"derived version {manifest['version']} from an older "
                        "read; re-run the merge against the new table state"
                    )
                manifest = self._rebase_manifest(name, orig, base, cur, touched)
            ver = f"v{manifest['version']:06d}.json"
            # O_EXCL claim of the version file (VERDICT r5 item 7): two
            # racing writers that both derived the same next version
            # serialize on file CREATION, not on the read-check above —
            # exactly one wins; the loser re-reads CURRENT and (if
            # partition-scoped and disjoint) rebases on the next pass of
            # this loop. The object-store equivalent is a conditional PUT
            # (If-None-Match).
            try:
                fd = os.open(
                    os.path.join(mdir, ver), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                if base is None or touched is None:
                    raise RuntimeError(
                        f"{name}: concurrent commit detected — version file "
                        f"{ver} already exists (another writer committed this "
                        "version); re-run the merge against the new table "
                        "state"
                    ) from None
                # the racer may not have swapped CURRENT yet — give the
                # pointer a beat to land before re-reading
                time.sleep(0.01 * (attempt + 1))
                continue
            # commit provenance: FORCE-set (never inherit) — manifests are
            # frequently built by copying an older version's dict (RESTORE,
            # CLONE, commit_meta), and the stamp must describe THIS commit
            manifest["ts"] = time.time()
            manifest.pop("op", None)
            cur_op = getattr(_OP_TL, "op", None)
            if cur_op is not None:
                manifest["op"] = cur_op
            with os.fdopen(fd, "w") as fh:
                # segments (if any) are written BEFORE the version JSON and
                # the JSON before the pointer swap — a crash at any point
                # leaves only unreferenced garbage, never a dangling ref
                json.dump(_serialize_manifest(mdir, manifest), fh)
                fh.flush()
                os.fsync(fh.fileno())
            tmp = os.path.join(mdir, f".CURRENT.tmp-{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as fh:
                fh.write(ver)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, os.path.join(mdir, self._CURRENT))
            return manifest
        raise RuntimeError(
            f"{name}: concurrent commit detected — {self._COMMIT_RETRIES} "
            "rebase attempts exhausted; re-run the merge against the new "
            "table state"
        )

    def _manifest_from_layout(
        self, name: str, partition_by: list[str] | None
    ) -> dict:
        """Adopt a legacy (pre-manifest) target: version-0 manifest listing
        the files already on disk, so the first manifest commit can carry
        the untouched partitions forward without rewriting them."""
        final = self.target_path(name)
        depth = len(partition_by or [])
        leaves = self._leaf_partition_dirs(final, depth) if depth else [""]
        parts: dict[str, list[str]] = {}
        stats: dict[str, dict[str, dict]] = {}
        for rel in leaves:
            d = os.path.join(final, rel) if rel else final
            names = [
                f
                for f in os.listdir(d)
                if os.path.isfile(os.path.join(d, f))
                and not f.startswith((".", "_"))
            ]
            if names:
                parts[rel] = sorted(names)
                stats[rel] = {
                    f: self._file_stats(os.path.join(d, f))[0]
                    for f in parts[rel]
                }
        dtypes = None
        sidecar = os.path.join(final, self.SCHEMA_SIDECAR)
        if os.path.isfile(sidecar):
            with open(sidecar) as fh:
                dtypes = json.load(fh)
        return {
            "version": 0,
            "partition_by": list(partition_by or []),
            "dtypes": dtypes,
            "partitions": parts,
            "stats": stats,
        }

    # Per-file BLOOM FILTER sidecars for point lookups (Delta's bloom
    # filter index / Iceberg puffin shape): min/max stats cannot skip
    # files for a point predicate on a HASH-DISTRIBUTED key (every file
    # spans nearly the full key range), so ingest also writes a tiny
    # `.{file}.bloom` sidecar over the unique_key column. A point read
    # consults sidecars (1 KB each) instead of opening data files —
    # the needle-in-100TB lookup path. Missing or foreign sidecars are
    # conservatively kept; false negatives are impossible by
    # construction (every present value sets its bits at write time).
    BLOOM_K = 5
    BLOOM_BITS_PER_ROW = 10  # m ~ next pow2 >= 10n -> ~1% fp at k=5

    @staticmethod
    def _bloom_positions(value, m: int) -> list[int]:
        import hashlib

        h = hashlib.md5(str(value).encode()).digest()
        h1 = int.from_bytes(h[:8], "little")
        h2 = int.from_bytes(h[8:], "little") | 1
        return [
            (h1 + j * h2) % m for j in range(IncrementalRunner.BLOOM_K)
        ]

    @staticmethod
    def _bloom_sidecar_path(data_path: str) -> str:
        d, f = os.path.split(data_path)
        return os.path.join(d, f".{f}.bloom")

    def _write_bloom_sidecar(self, data_path: str, col: str) -> None:
        import base64
        import hashlib

        import numpy as np
        import pyarrow.parquet as pq

        try:
            vals = pq.read_table(data_path, columns=[col]).column(col).to_pylist()
        except Exception:
            return  # column absent / unreadable: lookups keep the file
        n = max(len(vals), 1)
        m = 1 << max(10, (self.BLOOM_BITS_PER_ROW * n).bit_length())
        bits = bytearray(m // 8)
        # Vectorized bit build (r14 opt, guide §5.3: this ran as a pure-
        # Python per-row loop on the DRIVER — ~2s per lifecycle commit at
        # sf0.1). Only the md5 calls stay per-value; position arithmetic
        # and bit sets batch through numpy. uint64 WRAPAROUND IS EXACT
        # here: m is a power of two dividing 2**64, so
        # (x mod 2**64) mod m == x mod m — bit-identical positions to the
        # reader's per-value _bloom_positions (pinned by pytest).
        md5 = hashlib.md5
        digests = b"".join(
            md5(str(v).encode()).digest() for v in vals if v is not None
        )
        if digests:
            h = np.frombuffer(digests, dtype="<u8").reshape(-1, 2)
            h1, h2 = h[:, 0], h[:, 1] | np.uint64(1)
            j = np.arange(self.BLOOM_K, dtype=np.uint64)
            idx = (h1[:, None] + j[None, :] * h2[:, None]) % np.uint64(m)
            # boolean scatter + packbits instead of np.bitwise_or.at (r15,
            # VERDICT r14 item 5): .at is the unbuffered ufunc path (a
            # Python-level C loop per element); a bool scatter is a plain
            # vectorized store and packbits(bitorder="little") reproduces
            # the exact idx>>3 / 1<<(idx&7) byte layout the reader checks
            # (pinned by test_bloom_sidecar_bits_match_reader_positions).
            # Memory: m bits as bool = ~10 bytes/row, smaller than the
            # to_pylist value list already in memory.
            flags = np.zeros(m, dtype=bool)
            flags[idx.ravel()] = True
            bits = bytearray(np.packbits(flags, bitorder="little").tobytes())
        tmp = self._bloom_sidecar_path(data_path) + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "col": col,
                    "m": m,
                    "k": self.BLOOM_K,
                    "bits": base64.b64encode(bytes(bits)).decode(),
                },
                fh,
            )
        os.replace(tmp, self._bloom_sidecar_path(data_path))

    def _bloom_might_contain(self, data_path: str, col: str, value) -> bool:
        import base64

        sc = self._bloom_sidecar_path(data_path)
        if not os.path.isfile(sc):
            return True
        try:
            with open(sc) as fh:
                j = json.load(fh)
            if j.get("col") != col:
                return True
            bits = base64.b64decode(j["bits"])
            return all(
                bits[idx >> 3] & (1 << (idx & 7))
                for idx in self._bloom_positions(value, j["m"])
            )
        except Exception:
            return True

    @staticmethod
    def _file_stats(path: str) -> tuple[dict[str, list], int]:
        """Per-file column min/max AND exact row count from the parquet
        FOOTER (no data read): the Delta/Iceberg add-file stats. Values
        are JSON-coerced so the manifest stays a plain JSON file —
        dates/timestamps to ISO strings (which compare correctly as
        strings, so pruning needs no type dispatch), numbers/strings
        as-is; columns whose footer carries no usable stats (binary,
        arrays, all-null chunks) are omitted and therefore never pruned
        on (safe). The row count (parquet metadata is exact, not an
        estimate) lets commit paths report rows_written WITHOUT a full
        Spark re-read of the files they just wrote — at 100 TB that
        re-read was a second full pass over the output (r14 opt,
        guide §1.2: remove passes)."""
        import pyarrow.parquet as pq

        def _coerce(v):
            if isinstance(v, (dt.date, dt.datetime)):
                return v.isoformat()
            if isinstance(v, bytes):
                try:
                    return v.decode("utf-8")
                except UnicodeDecodeError:
                    return None
            if isinstance(v, (bool, int, float, str)):
                return v
            return None

        md = pq.ParquetFile(path).metadata
        out: dict[str, list] = {}
        ok: dict[str, bool] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if "." in name:  # nested leaf — not a prunable top-level col
                    ok[name] = False
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    ok[name] = False
                    continue
                lo, hi = _coerce(st.min), _coerce(st.max)
                if lo is None or hi is None:
                    ok[name] = False
                    continue
                if name in out:
                    out[name][0] = min(out[name][0], lo)
                    out[name][1] = max(out[name][1], hi)
                else:
                    out[name] = [lo, hi]
                ok.setdefault(name, True)
        return {k: v for k, v in out.items() if ok.get(k)}, int(md.num_rows)

    def _ingest_files(
        self, tmp: str, name: str, depth: int, bloom_col: str | None = None
    ) -> tuple[dict[str, list[str]], dict[str, dict[str, dict]], int]:
        """Move a finished Spark write from its staging dir into the target's
        partition dirs under commit-unique names (uncommitted — readers
        resolve the manifest, so these are invisible until the pointer
        swap). Returns ({partition_rel: [file names]},
        {partition_rel: {file: {col: [min, max]}}}, total row count) —
        the stats ride into the manifest so readers can skip files
        WITHOUT opening footers (at 100 TB, opening every footer before
        skipping is itself a full-metadata scan), and the exact
        footer-summed row count replaces the post-write Spark
        ``read.parquet(tmp).count()`` pass every commit used to pay
        (r14 opt). On an object store a production writer skips
        the staging hop and writes uniquely-named files directly into the
        table prefix (the Delta writer shape); locally Spark's `overwrite`
        staging keeps the write atomic per task, so we move afterwards."""
        final = self.target_path(name)
        commit = uuid.uuid4().hex[:8]
        leaves = self._leaf_partition_dirs(tmp, depth) if depth else [""]
        parts: dict[str, list[str]] = {}
        moves: list[tuple[str, str, str]] = []  # (rel, new_name, dst path)
        # Phase 1 — serial: the renames are pure metadata syscalls (µs
        # each); keeping them ordered keeps manifest file lists stable.
        for rel in leaves:
            src_dir = os.path.join(tmp, rel) if rel else tmp
            dst_dir = os.path.join(final, rel) if rel else final
            os.makedirs(dst_dir, exist_ok=True)
            names = []
            for f in sorted(os.listdir(src_dir)):
                if f.startswith((".", "_")) or not os.path.isfile(
                    os.path.join(src_dir, f)
                ):
                    continue
                new_name = f"{commit}-{f}"
                dst = os.path.join(dst_dir, new_name)
                os.rename(os.path.join(src_dir, f), dst)
                names.append(new_name)
                moves.append((rel, new_name, dst))
            if names:
                parts[rel] = names

        # Phase 2 — parallel (r15, VERDICT r14 item 1 / guide §5: the
        # driver is a bottleneck too): footer-stat reads and bloom-sidecar
        # builds are independent per file and I/O-bound (pyarrow footer
        # parse + column read release the GIL), yet ran as a serial
        # O(files) driver loop — seconds of dead inter-job wall per
        # lifecycle commit. A thread pool overlaps them; results are
        # folded back in `moves` order so manifests stay byte-stable.
        def _stat_and_bloom(m: tuple[str, str, str]):
            _rel, _name, dst = m
            fstats, frows = self._file_stats(dst)
            if bloom_col is not None:
                self._write_bloom_sidecar(dst, bloom_col)
            return fstats, frows

        stats: dict[str, dict[str, dict]] = {}
        nrows = 0
        if len(moves) > 1:
            import concurrent.futures as cf

            workers = min(len(moves), _ingest_threads())
            with cf.ThreadPoolExecutor(max_workers=workers) as pool:
                results = list(pool.map(_stat_and_bloom, moves))
        else:
            results = [_stat_and_bloom(m) for m in moves]
        for (rel, new_name, _dst), (fstats, frows) in zip(moves, results):
            stats.setdefault(rel, {})[new_name] = fstats
            nrows += frows
        return parts, stats, nrows

    # Vacuum retention: data files referenced by the last N committed
    # manifests survive vacuum, so readers can time-travel back N-1
    # versions (`read_target(version=...)`) and in-flight readers of the
    # just-replaced version never lose files mid-query. The lakehouse
    # retention-period knob, expressed in versions.
    RETAIN_VERSIONS = 2

    # AGE-based retention (r12 — Delta's `delta.logRetentionDuration` /
    # `deletedFileRetentionDuration` shape, default 30 days there): when
    # set, every commit younger than this many seconds is ALSO retained,
    # however many versions that is — commit age comes from the
    # provenance `ts` every manifest already carries, so the floor is a
    # pure metadata decision. This is what makes DESCRIBE HISTORY /
    # timestampAsOf useful in practice (a deep age-governed history) and
    # lets streaming consumers cover their catch-up lag by CONFIGURATION
    # ("readers may lag up to an hour") instead of hand-sizing
    # RETAIN_VERSIONS to an expected commit count. None = pure
    # count-based retention (the pre-r12 behavior). The two compose as
    # a union: the last RETAIN_VERSIONS commits are always retained.
    RETENTION_SECONDS: float | None = None

    # Delta's deletedFileRetentionDuration shape: vacuum NEVER reclaims a
    # data file younger than this, whatever the manifests say. A concurrent
    # partition-scoped writer ingests its files BEFORE its manifest commit
    # (they're invisible to readers until the pointer swap) — an age-blind
    # vacuum racing that window deletes the other writer's uncommitted
    # files and its rebased commit then references nothing (caught by the
    # r7 disjoint-writer end-to-end race test). Tests that specifically
    # verify orphan reclamation set it to 0 on a single-writer runner —
    # the same caveat Delta documents for sub-default retention.
    VACUUM_GRACE_SECONDS = 600.0

    def _manifest_ts(self, name: str, version: int) -> float | None:
        """Commit timestamp of a version, cached for the runner's
        lifetime (ADVICE r12): committed manifests are immutable, so
        their ``ts`` never changes — without the cache, every vacuum
        under a long RETENTION_SECONDS window re-parses each sub-floor
        manifest JSON, turning each commit into an O(retained-history)
        metadata walk."""
        k = (name, version)
        if k not in self._ts_by_version:
            try:
                self._ts_by_version[k] = self._manifest_at(name, version).get(
                    "ts"
                )
            except RuntimeError:
                self._ts_by_version[k] = None
        return self._ts_by_version[k]

    def _retention_floor(self, name: str, manifest: dict) -> int:
        """Oldest RETAINED version: the count floor (last RETAIN_VERSIONS
        commits), lowered to the oldest commit still inside the
        RETENTION_SECONDS age window when age retention is on. Reads at
        most the sub-count-floor version JSONs' top-level ``ts`` — once
        per version EVER (cached; ts is immutable), metadata-scale, no
        segment hydrated, no data file opened."""
        floor = manifest["version"] - self.RETAIN_VERSIONS + 1
        if self.RETENTION_SECONDS is None:
            return floor
        cut = time.time() - self.RETENTION_SECONDS
        for v in self.list_versions(name):
            if v >= floor:
                break
            ts = self._manifest_ts(name, v)
            if ts is not None and ts >= cut:
                return v
        return floor

    def _vacuum(self, name: str, manifest: dict) -> None:
        """Delete data files not referenced by any RETAINED manifest
        (superseded versions, crash orphans) and prune emptied partition
        dirs — except files younger than VACUUM_GRACE_SECONDS (possibly
        another writer's uncommitted ingest). Runs strictly AFTER the
        pointer swap — a crash here leaves only invisible garbage, never
        an inconsistent table."""
        final = self.target_path(name)
        now = time.time()
        retained = [manifest]
        floor = self._retention_floor(name, manifest)
        for v in self.list_versions(name):
            if floor <= v < manifest["version"]:
                retained.append(self._manifest_at(name, v))
        live = {
            os.path.join(rel, f) if rel else f
            for m in retained
            for rel, fl in m["partitions"].items()
            for f in fl
        }
        for dp, dns, fs in os.walk(final, topdown=True):
            dns[:] = [d for d in dns if not d.startswith((".", "_"))]
            for f in fs:
                if f.startswith((".", "_")):
                    # bloom sidecars live and die with their data file
                    if f.startswith(".") and f.endswith(".bloom"):
                        data_rel = os.path.relpath(
                            os.path.join(dp, f[1:-6]), final
                        )
                        if data_rel not in live:
                            try:
                                os.remove(os.path.join(dp, f))
                            except OSError:
                                pass
                    continue
                rel = os.path.relpath(os.path.join(dp, f), final)
                if rel not in live:
                    p = os.path.join(dp, f)
                    try:
                        if now - os.path.getmtime(p) < self.VACUUM_GRACE_SECONDS:
                            continue
                        os.remove(p)
                    except OSError:
                        continue
        for dp, dns, fs in os.walk(final, topdown=False):
            if dp != final and not os.listdir(dp):
                os.rmdir(dp)
        # reclaim manifests older than the retention floor too (ADVICE r5):
        # their data files are gone, so list_versions advertising them only
        # promises reads that must fail — unlink so the version list
        # reflects actually-readable snapshots
        mdir = self._manifest_dir(name)
        for v in self.list_versions(name):
            if v < floor:
                os.remove(os.path.join(mdir, f"v{v:06d}.json"))
        # checkpoint-segment GC: a segment is live while ANY remaining
        # version JSON references it (refs are read straight off the raw
        # JSON — no parquet opened). The mtime grace shields a concurrent
        # writer's segments written between its segment flush and its
        # version-file claim, exactly like the data-file grace above.
        segdir = os.path.join(mdir, _SEGMENT_DIR)
        if os.path.isdir(segdir):
            live_segs = set()
            for v in self.list_versions(name):
                with open(os.path.join(mdir, f"v{v:06d}.json")) as fh:
                    for ref in (json.load(fh).get("segments") or {}).values():
                        live_segs.add(ref["f"])
            for f in os.listdir(segdir):
                if f in live_segs:
                    continue
                p = os.path.join(segdir, f)
                try:
                    if now - os.path.getmtime(p) < self.VACUUM_GRACE_SECONDS:
                        continue
                    os.remove(p)
                except OSError:
                    continue
        # deletion-vector sidecar GC: live while ANY remaining version
        # JSON references it (same rule as segments); the mtime grace
        # shields a concurrent DV writer between sidecar write and commit
        dvdir = os.path.join(final, self._DV_DIR)
        if os.path.isdir(dvdir):
            live_dv = set()
            for v in self.list_versions(name):
                with open(os.path.join(mdir, f"v{v:06d}.json")) as fh:
                    live_dv.update(
                        (json.load(fh).get("dv") or {}).get("files") or []
                    )
            for f in os.listdir(dvdir):
                if f in live_dv:
                    continue
                p = os.path.join(dvdir, f)
                try:
                    if now - os.path.getmtime(p) < self.VACUUM_GRACE_SECONDS:
                        continue
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                except OSError:
                    continue
        # change-data GC: a cdc dir is live while ANY remaining version
        # JSON references it; the mtime grace shields a writer between its
        # change-file write and its version-file claim (same rule as DV
        # sidecars). Versions past the retention floor lose their change
        # files together with their snapshots.
        cdcdir = os.path.join(final, self._CDC_DIR)
        if os.path.isdir(cdcdir):
            live_cdc = set()
            for v in self.list_versions(name):
                with open(os.path.join(mdir, f"v{v:06d}.json")) as fh:
                    d = (json.load(fh).get("cdc") or {}).get("dir")
                    if d:
                        live_cdc.add(d)
            for f in os.listdir(cdcdir):
                if f in live_cdc:
                    continue
                p = os.path.join(cdcdir, f)
                try:
                    if now - os.path.getmtime(p) < self.VACUUM_GRACE_SECONDS:
                        continue
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                except OSError:
                    continue

    @staticmethod
    def _cluster_for_write(df: DataFrame, part_by) -> DataFrame:
        """Cluster rows on the hive partition columns before a partitionBy
        write (guide §6, small files): without it every shuffle task that
        holds rows of K partition values writes K files — tasks × values
        tiny files PER COMMIT (the bm25 postings commit wrote ~500 files
        at sf0.1, and each file costs a driver-side footer-stat read, a
        bloom sidecar, an os.rename at ingest and a listing/planning
        entry at every subsequent read). A REBALANCE-by-columns exchange
        lands each partition value in one task — one file per dir —
        while AQE's optimizeSkewsInRebalancePartitions (on by default)
        SPLITS any partition past advisoryPartitionSizeInBytes, so a hot
        partition at 100 TB still writes size-bounded files instead of
        funneling through one task (the failure a plain
        repartition(cols) would reintroduce). With no partition columns
        the bare REBALANCE coalesces a small commit's output to few
        advisory-sized files the same way. MYCARELY_WRITE_REBALANCE=0
        restores the raw write."""
        if os.environ.get("MYCARELY_WRITE_REBALANCE", "1") == "0":
            return df
        # respect builds that SHAPE their own output (repartitionByRange +
        # sortWithinPartitions range clustering, z-order, explicit
        # repartition): a rebalance on top would destroy the deliberate
        # file-level clustering the manifest stats prune on. The walk
        # skips single-child wrappers (CollectMetrics from _check_observe,
        # a trailing Project/Filter) so shaping hidden under a select()
        # still counts (ADVICE r14); introspection failure (Spark Connect,
        # JVM API drift) fails toward RESPECTING the plan — a missed
        # rebalance costs small files, a wrong one destroys clustering.
        try:
            node = df._jdf.queryExecution().analyzed()
            for _ in range(8):
                if node.nodeName() not in ("CollectMetrics", "Project", "Filter"):
                    break
                node = node.children().apply(0)
            if node.nodeName() in (
                "Sort",
                "Repartition",
                "RepartitionByExpression",
                "RebalancePartitions",
            ):
                return df
        except Exception:
            return df
        cols = list(part_by or [])
        return df.hint("rebalance", *cols) if cols else df.hint("rebalance")

    def _partitioned_merge_write(
        self,
        spec: ModelSpec,
        target: DataFrame,
        new: DataFrame,
        tomb: DataFrame | None = None,
    ) -> tuple[int, int]:
        """Dynamic-partition-overwrite merge: stage the new batch, read the
        touched partition values off the staging layout (metadata only),
        merge against a partition-PRUNED target scan, and swap only the
        touched partition directories. Untouched partitions are never read
        or rewritten — the property that makes the delete+insert viable on
        a 100 TB target. Correct because every model's unique_key embeds its
        partition column (same key => same partition), so cross-partition
        key collisions cannot exist.

        Pending deletion vector: the target read goes through it, so
        rewritten partitions absorb their share; the commit carries the
        vector forward and its entries over the replaced files go stale
        (new files have new names — a re-inserted key is a new row)."""
        self._require_no_colmap(
            spec.name, self.current_manifest(spec.name),
            "partition-scoped merge",
        )
        final = self.target_path(spec.name)
        depth = len(spec.partition_by)
        stage = f"{final}.stage-{uuid.uuid4().hex[:8]}"
        # tombstones stage WITH the batch (their row images carry the
        # partition values, so delete-only partitions still register as
        # touched) but re-split after the round-trip so they only ever
        # feed the delete side of the merge. A tomb-free batch stages
        # schema-clean (no __tomb data column) so the blind-append fast
        # path below can ingest the staged files VERBATIM.
        if tomb is not None:
            all_rows = new.withColumn("__tomb", F.lit(False)).unionByName(
                tomb.withColumn("__tomb", F.lit(True))
            )
        else:
            all_rows = new
        self._cluster_for_write(all_rows, spec.partition_by).write.mode(
            "overwrite"
        ).partitionBy(*spec.partition_by).parquet(stage)
        try:
            touched_rels = self._leaf_partition_dirs(stage, depth)
            if not touched_rels:
                return 0, 0  # empty batch: nothing past the watermark
            live_pre = self.current_manifest(spec.name)
            if tomb is not None:
                staged_all = self.spark.read.parquet(stage).select(
                    *new.columns, "__tomb"
                )
                staged = staged_all.filter(~F.col("__tomb")).drop("__tomb")
                staged_tomb = staged_all.filter(F.col("__tomb")).drop("__tomb")
            else:
                staged_all = self.spark.read.parquet(stage).select(*new.columns)
                staged = staged_all
                staged_tomb = None
            # BLIND-APPEND fast path (r14 opt, guide §1.2: remove a full
            # pass): when every touched partition holds ZERO committed
            # files, the merge is provably the staged batch itself
            # (_merge anti-joins an empty slice), so the merged rewrite
            # would just copy the stage — ingest the staged files
            # directly instead of writing the batch a second time. The
            # Delta blind-append shape; exact because same key => same
            # partition, so no key outside the touched (empty) rels can
            # collide. Tomb batches and legacy (pre-manifest) layouts
            # take the normal path.
            blind = (
                tomb is None
                and live_pre is not None
                # membership check only — ingest never records an empty
                # rel, so a present key has files; this also avoids
                # hydrating checkpointed manifest segments
                and not any(
                    rel in (live_pre.get("partitions") or {})
                    for rel in touched_rels
                )
            )
            if blind and not (spec.change_data and spec.unique_key):
                # the touched-values collect below only feeds the pruned
                # old-slice plan (merge + CDC) — skip the job entirely
                pruned = None
            else:
                touched = (
                    staged_all.select(*spec.partition_by).distinct().collect()
                )
                pruned = target.filter(
                    self._partition_predicate(spec.partition_by, touched)
                )
            if blind:
                merged = staged
                chk = None
                if spec.check_constraints:
                    # the normal path attaches an Observation to the
                    # merged WRITE; with no second write, enforce via one
                    # aggregate scan of the staged batch (same counters)
                    row = staged.select(
                        *[
                            F.count(
                                F.when(
                                    ~F.coalesce(
                                        F.expr(c).cast("boolean"),
                                        F.lit(False),
                                    ),
                                    F.lit(1),
                                )
                            ).alias(f"c{i}")
                            for i, c in enumerate(spec.check_constraints)
                        ]
                    ).first()
                    bad = {
                        spec.check_constraints[i]: int(v)
                        for i, v in enumerate(row)
                        if v
                    }
                    if bad:
                        raise RuntimeError(
                            f"{spec.name}: CHECK constraint violated "
                            f"(constraint -> violating rows): {bad}"
                        )
                tmp = stage
            else:
                merged = self._merge(spec, pruned, staged, staged_tomb)
                merged, chk = _check_observe(merged, spec)
                tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
                self._cluster_for_write(merged, spec.partition_by).write.mode(
                    "overwrite"
                ).partitionBy(*spec.partition_by).parquet(tmp)
            try:
                _check_assert(spec, chk)  # abort BEFORE commit on violation
                # rows_written comes from the ingest's footer sum below —
                # no post-write Spark count pass (r14 opt); an all-deleted
                # partition (the IVM count-reaches-zero case) simply
                # ingests zero rows
                # write-time change data (spec.change_data): the merge's
                # exact change rows are diff(pruned old slice, rewritten
                # slice) — the same footprint the merge itself read, never
                # the table — committed with the manifest below
                cdc = (
                    self._cdc_for_commit(
                        spec,
                        pruned,
                        self.spark.read.schema(merged.schema).parquet(tmp),
                    )
                    if spec.change_data and spec.unique_key
                    else None
                )
                # New files land in the partition dirs UNCOMMITTED; the
                # manifest pointer swap below is the single atomic commit.
                live = self.current_manifest(spec.name)
                base = live or self._manifest_from_layout(
                    spec.name, spec.partition_by
                )
                guard = self._premanifest_marker(spec.name, live)
                parts_new, stats_new, n = self._ingest_files(
                    tmp, spec.name, depth, bloom_col=spec.unique_key
                )
                # O(touched) overlay: untouched rels' segment refs ride
                # forward verbatim on a checkpointed table
                parts = _overlay(
                    base["partitions"], parts_new, removes=touched_rels
                )
                stats = _overlay(
                    base.get("stats") or {}, stats_new, removes=touched_rels
                )
                manifest = {
                    "version": base["version"] + 1,
                    "partition_by": list(spec.partition_by),
                    "dtypes": [list(p) for p in new.dtypes],
                    "partitions": parts,
                    "stats": stats,
                }
                meta = (
                    spec.manifest_meta
                    if spec.manifest_meta is not None
                    else base.get("meta")
                )
                if meta is not None:
                    manifest["meta"] = meta
                if base.get("dv"):
                    # pending vector rides forward: untouched partitions
                    # keep their deletes, entries over rewritten files
                    # no-op
                    manifest["dv"] = base["dv"]
                if base.get("dropped"):
                    # untouched files still hold bytes under the dropped
                    # physical names — the resurrection guard must ride
                    # until a FULL rewrite clears it
                    manifest["dropped"] = base["dropped"]
                if cdc is not None:
                    manifest["cdc"] = cdc
                manifest = self._commit_manifest(
                    spec.name,
                    manifest,
                    base=live,
                    touched=(
                        set(touched_rels) | set(parts_new)
                        if live is not None
                        else None
                    ),
                )
                self._clear_premanifest_marker(guard)
                self._vacuum(spec.name, manifest)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            return n, len(set(touched_rels) | set(parts_new))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _atomic_write(
        self, spec: ModelSpec, df: DataFrame, *, cdc_old: DataFrame | None = None
    ) -> int:
        """Full-refresh CTAS under the manifest protocol: stage the write,
        move the files in uncommitted, commit a manifest referencing ONLY
        them (old files — legacy or previous versions — become
        unreferenced), vacuum.

        ``cdc_old`` (mutating callers on change_data tables — the
        unpartitioned/schema-evolving incremental merge): the commit's
        OLD live rows; the change rows diff(cdc_old, staged write) land
        in `_change_data/` under the same manifest version. The diff is
        table-bounded, but so is the rewrite itself — the fast-path feed
        stays available across this commit. Left None on genuine CTAS
        (full refresh), which keeps Delta's CDF-availability rule."""
        final = self.target_path(spec.name)
        os.makedirs(final, exist_ok=True)
        depth = len(spec.partition_by or [])
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        df, chk = _check_observe(df, spec)
        writer = self._cluster_for_write(df, spec.partition_by).write.mode(
            "overwrite"
        )
        if spec.partition_by:
            writer = writer.partitionBy(*spec.partition_by)
        writer.parquet(tmp)
        try:
            _check_assert(spec, chk)  # abort BEFORE commit on violation
            # rows_written comes from the ingest's parquet-footer sum
            # below — no post-write Spark count pass (r14 opt)
            cdc = (
                self._cdc_for_commit(
                    spec, cdc_old,
                    self.spark.read.schema(df.schema).parquet(tmp),
                )
                if cdc_old is not None
                else None
            )
            base = self.current_manifest(spec.name)
            guard = self._premanifest_marker(spec.name, base)
            parts, stats, n = self._ingest_files(
                tmp, spec.name, depth, bloom_col=spec.unique_key
            )
            manifest = {
                "version": (base["version"] + 1) if base else 1,
                "partition_by": list(spec.partition_by or []),
                "dtypes": [list(p) for p in df.dtypes],
                "partitions": parts,
                "stats": stats,
            }
            meta = (
                spec.manifest_meta
                if spec.manifest_meta is not None
                else (base or {}).get("meta")
            )
            if meta is not None:
                manifest["meta"] = meta
            if cdc is not None:
                manifest["cdc"] = cdc
            self._commit_manifest(spec.name, manifest)
            self._clear_premanifest_marker(guard)
            self._vacuum(spec.name, manifest)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return n


    # ------------------------------------------------------------------
    # Row-level DML (Delta-style DELETE / UPDATE), RESTORE, shallow CLONE
    # ------------------------------------------------------------------

    def _dml_rewrite(
        self,
        spec: ModelSpec,
        condition: str,
        transform,
        *,
        prune: dict | None = None,
        op: str,
    ) -> dict:
        """Copy-on-write engine behind ``delete_where``/``update_where`` —
        Delta's two-job DELETE/UPDATE shape, sized for 100 TB:

        job 1 finds the files that actually CONTAIN matching rows (a
        predicate-pushed scan over the manifest-stats-pruned candidate
        set, collapsed to per-file match counts — the result is
        #files rows, metadata scale, never the data);

        job 2 reads ONLY those files, applies the transform, and writes
        replacements. Every untouched file carries forward in the
        manifest BY NAME — a DELETE hitting 3 files of a million-file
        table rewrites 3 files and one JSON. The commit is
        partition-scoped (``base``/``touched``), so disjoint concurrent
        writers rebase rather than refuse, and time travel keeps the
        pre-DML snapshot readable until retention passes it."""
        name = spec.name
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(
                f"{name}: row-level {op} needs a manifest-committed target"
            )
        self._require_no_colmap(name, live, f"row-level {op}")
        # pending deletion vector: the candidate scan and the rewrite
        # read THROUGH it, so rewritten files absorb their share
        # physically; carried entries over the replaced files go stale
        # and no-op (new files have new names)
        dv = self._dv_frame(name, live)
        root = self.target_path(name)
        cand = self.resolved_files(name, prune=prune, manifest=live)
        dtypes = live.get("dtypes")
        result = {
            "op": op,
            "files_scanned": len(cand),
            "files_rewritten": 0,
            "rows_matched": 0,
            "version": live["version"],
        }
        if not cand:
            return result
        cond = F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
        raw = self._scan_with_path(root, live, cand, dtypes, dv)
        hits = raw.filter(cond).groupBy("__fp").count().collect()
        if not hits:
            return result
        touched = {fs_path(r["__fp"]) for r in hits}
        result["rows_matched"] = sum(r["count"] for r in hits)
        emap = self._entry_lookup(name, root, live, touched)
        tdf = self._apply_dv(
            self._read_files(root, live, sorted(touched), dtypes=dtypes),
            dv,
        )
        if dtypes and {n for n, _ in dtypes} == set(tdf.columns):
            tdf = tdf.select(*[F.col(n).cast(t).alias(n) for n, t in dtypes])
        out_df = transform(tdf, cond)
        if dtypes:
            # the rewrite must not drift the table schema: SET exprs cast
            # back to the declared column types
            out_df = out_df.select(
                *[F.col(n).cast(t).alias(n) for n, t in dtypes]
            )
        manifest = self._commit_file_rewrite(
            spec, live, emap, touched, out_df,
            cdc_old=tdf if spec.change_data else None,
        )
        result["files_rewritten"] = len(touched)
        result["version"] = manifest["version"]
        return result

    def _scan_with_path(
        self,
        root: str,
        live: dict,
        files: list[str],
        dtypes: list | None,
        dv: DataFrame | None,
    ) -> DataFrame:
        """The CoW writers' candidate scan: the files' live rows (read
        through the pending vector) under the committed dtypes, plus
        ``__fp`` — the ``_metadata.file_path`` each row came from. The
        explicit committed schema NULL-fills columns that files written
        before a metadata-only ADD COLUMN lack, just like the snapshot
        read."""
        raw = self._read_files(root, live, files, dtypes=dtypes).select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            *(
                [F.col("_metadata.row_index").alias("__dv_p")]
                if dv is not None
                else []
            ),
        )
        if dv is not None:
            raw = raw.join(
                F.broadcast(
                    dv.select(F.col("__dv_f").alias("__fp"), "__dv_p")
                ),
                ["__fp", "__dv_p"],
                "left_anti",
            ).drop("__dv_p")
        if dtypes and {n for n, _ in dtypes} == set(raw.columns) - {"__fp"}:
            raw = raw.select(
                *[F.col(n).cast(t).alias(n) for n, t in dtypes], "__fp"
            )
        return raw

    def _entry_lookup(
        self, name: str, root: str, live: dict, touched: set[str]
    ) -> dict[str, tuple[str, str]]:
        """Map absolute file paths back to (partition rel, manifest entry).
        Native entries derive from the path alone — no manifest hydration;
        foreign absolute entries (shallow clones) fall back to the full
        reverse map. Raises on paths the manifest doesn't own."""
        emap: dict[str, tuple[str, str]] = {}
        foreign = []
        for p in touched:
            if p.startswith(root + os.sep):
                rel = os.path.dirname(os.path.relpath(p, root))
                emap[p] = ("" if rel == "." else rel, os.path.basename(p))
            else:
                foreign.append(p)
        if foreign:
            full = self._entry_map(root, live)
            for p in foreign:
                if p in full:
                    emap[p] = full[p]
        # hydrate each distinct rel's file list ONCE — subscripting a
        # SegmentedMap re-materializes the segment, so doing it per touched
        # file would make validation O(touched_files x rel_size)
        lparts = live["partitions"]
        rel_sets = {
            rel: set(lparts[rel]) if rel in lparts else None
            for rel in {rel for rel, _ in emap.values()}
        }
        unknown = {
            p
            for p, (rel, e) in emap.items()
            if rel_sets[rel] is None or e not in rel_sets[rel]
        } | (set(foreign) - set(emap))
        if unknown:
            raise RuntimeError(
                f"{name}: scan returned files outside the manifest "
                f"({sorted(unknown)[:3]})"
            )
        return emap

    def _commit_file_rewrite(
        self,
        spec: ModelSpec,
        live: dict,
        emap: dict[str, tuple[str, str]],
        touched: set[str],
        out_df: DataFrame,
        dtypes_out: list | None = None,
        carry_dv: bool = True,
        cdc_old: DataFrame | None = None,
        cdc_empty: bool = False,
        meta_out: dict | None = None,
    ) -> dict:
        """Shared copy-on-write tail for DELETE/UPDATE/MERGE: write
        ``out_df`` (the replacement rows for ``touched`` files, plus any
        brand-new rows), ingest the files, delist exactly the touched
        entries, overlay the manifest O(touched), commit partition-scoped,
        vacuum. Untouched files — even in touched partitions — carry
        forward BY NAME. A pending deletion vector rides forward
        (``carry_dv``; only its absorb clears it): the writers read
        through it, so entries over the replaced files go stale and
        no-op while untouched files keep their deletes.

        ``cdc_old`` (change_data tables): the OLD live rows of the touched
        files — the commit's change rows are diff(cdc_old, written files)
        and land in `_change_data/` under the same manifest version.
        ``cdc_empty`` marks commits that are provably logical no-ops
        (compaction, DV absorption) with an empty change descriptor, so
        change-feed readers skip them without diffing anything."""
        name = spec.name
        self._require_no_colmap(name, live, "copy-on-write file rewrite")
        root = self.target_path(name)
        dtypes = dtypes_out if dtypes_out is not None else live.get("dtypes")
        part_by = list(live.get("partition_by") or [])
        depth = len(part_by)
        tmp = f"{root}.tmp-{uuid.uuid4().hex[:8]}"
        out_df, chk = _check_observe(out_df, spec)
        writer = self._cluster_for_write(out_df, part_by).write.mode("overwrite")
        if part_by:
            writer = writer.partitionBy(*part_by)
        writer.parquet(tmp)
        try:
            _check_assert(spec, chk)  # abort BEFORE commit on violation
            cdc = None
            if cdc_empty:
                cdc = {
                    "key": spec.unique_key,
                    "buckets": int(spec.cdc_buckets),
                    "files": [],
                }
            elif spec.change_data and spec.unique_key and dtypes:
                ddl = ", ".join(f"`{n}` {t}" for n, t in dtypes)
                cdc = self._cdc_for_commit(
                    spec, cdc_old, self.spark.read.schema(ddl).parquet(tmp)
                )
            parts_new, stats_new, _ = self._ingest_files(
                tmp, name, depth, bloom_col=spec.unique_key
            )
            removed: dict[str, set] = {}
            for p in touched:
                rel, e = emap[p]
                removed.setdefault(rel, set()).add(e)
            # hydrate ONLY the rels losing or gaining files; untouched
            # rels' segment refs ride forward through the overlay
            lparts = live["partitions"]
            lstats = live.get("stats") or {}
            up_p: dict[str, list] = {}
            up_s: dict[str, dict] = {}
            drops = set()
            for rel in set(removed) | set(parts_new):
                ents = removed.get(rel, set())
                fl = [e for e in lparts[rel] if e not in ents] if rel in lparts else []
                fl += parts_new.get(rel, [])
                if not fl:
                    drops.add(rel)
                    continue
                st = {
                    e: v
                    for e, v in (lstats[rel] if rel in lstats else {}).items()
                    if e not in ents
                }
                st.update(stats_new.get(rel, {}))
                up_p[rel] = fl
                if st:
                    up_s[rel] = st
            parts = _overlay(lparts, up_p, removes=drops)
            stats = _overlay(lstats, up_s, removes=drops | (set(up_p) - set(up_s)))
            manifest = {
                "version": live["version"] + 1,
                "partition_by": part_by,
                "dtypes": dtypes,
                "partitions": parts,
                "stats": stats,
            }
            meta_eff = meta_out if meta_out is not None else live.get("meta")
            if meta_eff is not None:
                manifest["meta"] = meta_eff
            if carry_dv and live.get("dv"):
                manifest["dv"] = live["dv"]
            if live.get("dropped"):
                # untouched files still hold bytes under the dropped
                # physical names — carry the resurrection guard forward
                manifest["dropped"] = live["dropped"]
            if cdc is not None:
                manifest["cdc"] = cdc
            manifest = self._commit_manifest(
                name,
                manifest,
                base=live,
                touched=set(removed) | set(parts_new),
            )
            self._vacuum(name, manifest)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return manifest

    @_records_op("REPLACE")
    def replace_rels(
        self,
        spec: ModelSpec,
        rels: list[str],
        out_df: DataFrame,
        *,
        meta: dict | None = None,
    ) -> dict:
        """Atomically REPLACE the named partition rels with ``out_df``
        (which may land under different partition values — e.g. an index
        segment merge rewriting seg=1..3 into one seg=4): the named rels'
        files delist, the new files ingest, every other rel rides forward
        BY NAME, and ``meta`` (when given) swaps in the same commit — the
        public face of the copy-on-write tail, for derived-data
        maintenance (segment merges, re-clustering a slice). CONTRACT:
        the rewrite must be CONTENT-PRESERVING modulo layout (same rows,
        possibly different partition values/files) — on change_data
        tables the commit carries an EMPTY change descriptor on that
        basis. A pending deletion vector refuses: it names the replaced
        files (blind carry would resurrect their dead rows in the new
        files) — absorb first."""
        name = spec.name
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: replace_rels needs a committed target")
        self._require_no_dv(name, live, "replace_rels")
        self._require_no_colmap(name, live, "replace_rels")
        root = self.target_path(name)
        touched = set(
            self.resolved_files(name, rels=list(rels), manifest=live)
        )
        emap = self._entry_lookup(name, root, live, touched)
        return self._commit_file_rewrite(
            spec,
            live,
            emap,
            touched,
            out_df,
            cdc_empty=bool(spec.change_data),
            meta_out=meta,
        )

    @_records_op("DELETE")
    def delete_where(
        self,
        spec: ModelSpec,
        condition: str,
        *,
        prune: dict | None = None,
        mode: str = "cow",
    ) -> dict:
        """Row-level ``DELETE FROM target WHERE condition``. SQL
        three-valued logic: rows where the condition is NULL are KEPT.
        ``prune`` optionally narrows the candidate files via manifest
        min/max stats before any file is opened.

        ``mode="cow"`` (default): Delta's copy-on-write DELETE — files
        containing matches are rewritten without the rows.

        ``mode="dv"``: DELETION-VECTOR delete, Delta's semantics: NO data
        file is rewritten; the (file, row-ordinal) of each matched
        PHYSICAL row lands in a tiny parquet sidecar referenced by the
        new manifest version, and every read anti-joins the broadcast
        vector on the scan's ``_metadata`` — deleting 100 rows from a
        100 TB table commits one KB-scale sidecar + one JSON. A position
        never names a row written later, so re-inserting a deleted key is
        unambiguous and every writer proceeds under a pending vector:
        merges and CoW DML read through it and carry it (entries over
        rewritten files go stale and no-op — new files have new names),
        backfill replaces ranges wholesale, and the change feed diffs the
        rels the vector touched, each end through its own vector.
        ``absorb_deletion_vectors`` rewrites the named files and clears
        the vector (Delta's compaction-absorbs-DVs move)."""
        if mode == "dv":
            return self._delete_dv(spec, condition, prune=prune)
        if mode != "cow":
            raise ValueError(f"unknown delete mode: {mode!r}")
        return self._dml_rewrite(
            spec,
            condition,
            lambda df, cond: df.filter(~cond),
            prune=prune,
            op="delete",
        )

    _DV_DIR = "_dv"

    def _dv_frame(self, name: str, manifest: dict | None) -> DataFrame | None:
        """The manifest version's deletion vector as a broadcastable
        (file, row-ordinal) frame — columns ``__dv_f`` (the scan's
        ``_metadata.file_path`` form) and ``__dv_p``
        (``_metadata.row_index``); None when the version carries no
        vector. Sidecars are tiny by design — callers broadcast it."""
        paths = self._dv_sidecars(name, manifest)
        if not paths:
            return None
        return (
            self.spark.read.parquet(*paths)
            .select(F.col("file").alias("__dv_f"), F.col("pos").alias("__dv_p"))
            .distinct()
        )

    def _dv_sidecars(self, name: str, manifest: dict | None) -> list[str]:
        files = ((manifest or {}).get("dv") or {}).get("files") or []
        root = os.path.join(self.target_path(name), self._DV_DIR)
        return [os.path.join(root, f) for f in files]

    def _dv_changed_rels(self, name: str, m_a: dict, m_b: dict) -> set[str]:
        """Rels holding files named by the sidecars that only one of two
        versions lists — the rows whose liveness a DV commit (or its
        absorb / restore) changed without touching any file list."""
        diff = set(self._dv_sidecars(name, m_a)) ^ set(
            self._dv_sidecars(name, m_b)
        )
        return dv_rels(self.target_path(name), sorted(diff)) if diff else set()

    def _apply_dv(self, df: DataFrame, dv: DataFrame | None) -> DataFrame:
        """Anti-join a RAW file-scan frame (``_metadata`` still reachable)
        against a deletion vector (``_dv_frame``); returns the frame with
        the helper columns dropped. No-op when ``dv`` is None."""
        if dv is None:
            return df
        return (
            df.select(
                "*",
                F.col("_metadata.file_path").alias("__dv_f"),
                F.col("_metadata.row_index").alias("__dv_p"),
            )
            .join(F.broadcast(dv), ["__dv_f", "__dv_p"], "left_anti")
            .drop("__dv_f", "__dv_p")
        )

    def _require_no_colmap(
        self, name: str, manifest: dict | None, op: str
    ) -> None:
        """Partition/file-scoped writers refuse while a column mapping is
        pending: they would rewrite SOME files with logical column names
        while untouched files keep physical names, and the manifest's one
        GLOBAL mapping cannot describe a mixed layout (Delta's field-id
        mode can; this is name mode). Full rewrites are safe and ABSORB
        the mapping — compact() or a full refresh is the documented
        materialization path."""
        if manifest and manifest.get("colmap"):
            raise RuntimeError(
                f"{name}: {op} refused while a column mapping is pending — "
                "it would mix physical column names across files; run "
                "compact() (or a full refresh) to absorb the mapping first"
            )

    def _require_spec_columns(self, spec: ModelSpec) -> None:
        """Fail FAST when the committed target's logical schema no longer
        contains the spec's unique_key / watermark_col — the
        rename-ergonomics hazard (VERDICT r11 item 7): ``rename_column``
        records table state only, so a caller who renames the key column
        but keeps merging with the stale ModelSpec would otherwise die
        somewhere deep inside the merge with an unresolved-column error.
        Name the cause instead."""
        live = self.current_manifest(spec.name)
        dtypes = (live or {}).get("dtypes")
        if not dtypes:
            return  # legacy / sidecar-schema target: nothing to check
        names = {n for n, _ in dtypes}
        missing = [
            c
            for c in dict.fromkeys((spec.unique_key, spec.watermark_col))
            if c and c not in names
        ]
        if missing:
            raise RuntimeError(
                f"{spec.name}: spec column(s) {missing} are not in the "
                f"committed schema {sorted(names)} — was the column "
                "renamed? rename_column updates table state only; update "
                "the ModelSpec (unique_key/watermark_col) to the new name"
            )

    @staticmethod
    def _carry_empty_cdc(live: dict, manifest: dict) -> None:
        """Metadata-only commits (RENAME/ADD/DROP COLUMN, commit_meta) on
        a change-data table stamp an EMPTY change descriptor: they change
        no row, and carrying the LIVE descriptor forward would
        double-count the previous commit's change files in a netted
        feed, while omitting the key entirely would knock every range
        crossing the commit back to the snapshot diff (which refuses
        across renames). Same contract as ``commit_meta``."""
        if live.get("cdc") is not None:
            manifest["cdc"] = {
                "key": live["cdc"].get("key"),
                "buckets": live["cdc"].get("buckets"),
                "files": [],
            }

    def _require_no_dv(self, name: str, manifest: dict | None, op: str) -> None:
        """Writers that cannot carry a pending vector refuse: shallow
        clone (the sidecars live under the source table), replace_rels
        (a layout rewrite of the named files would resurrect their dead
        rows) and rename column."""
        dv = (manifest or {}).get("dv")
        if dv and dv.get("files"):
            raise RuntimeError(
                f"{name}: {op} refused — the table has a pending deletion "
                f"vector ({len(dv['files'])} sidecar(s)); run "
                "absorb_deletion_vectors() first"
            )

    def _delete_dv(
        self, spec: ModelSpec, condition: str, *, prune: dict | None = None
    ) -> dict:
        name = spec.name
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: DV delete needs a manifest-committed target")
        self._require_no_colmap(name, live, "deletion-vector DELETE")
        root = self.target_path(name)
        cand = self.resolved_files(name, prune=prune, manifest=live)
        result = {
            "op": "delete-dv",
            "files_scanned": len(cand),
            "files_rewritten": 0,
            "rows_matched": 0,
            "version": live["version"],
        }
        if not cand:
            return result
        dtypes = live.get("dtypes")
        cond = F.coalesce(F.expr(condition).cast("boolean"), F.lit(False))
        # capture physical row identity BEFORE any cast-select (the
        # metadata pseudo-column is only reachable on the scan frame)
        raw = self._read_files(root, live, cand, dtypes=dtypes).select(
            "*",
            F.col("_metadata.file_path").alias("__dv_f"),
            F.col("_metadata.row_index").alias("__dv_p"),
        )
        if dtypes and {n for n, _ in dtypes} == set(raw.columns) - {
            "__dv_f", "__dv_p"
        }:
            raw = raw.select(
                *[F.col(n).cast(t).alias(n) for n, t in dtypes],
                "__dv_f",
                "__dv_p",
            )
        prior = self._dv_frame(name, live)
        if prior is not None:
            raw = raw.join(F.broadcast(prior), ["__dv_f", "__dv_p"], "left_anti")
        matched = raw.filter(cond).select(
            F.col("__dv_f").alias("file"), F.col("__dv_p").alias("pos")
        )
        # the vector writes at full parallelism — dv["files"] is a LIST,
        # so a massive delete's positions never funnel through one task;
        # AQE coalesces the usual tiny case down to one file anyway. The
        # staging dir is a sibling of the table, so a delete matching no
        # row leaves no trace (not even an empty _dv/)
        stem = f"dv-{uuid.uuid4().hex[:12]}"
        tmp = f"{root}.tmp-{stem}"
        try:
            matched.write.mode("overwrite").parquet(tmp)
            n = self.spark.read.parquet(tmp).count()
            if n == 0:
                return result
            dvdir = os.path.join(root, self._DV_DIR)
            os.makedirs(dvdir, exist_ok=True)
            names = []
            for i, part in enumerate(
                sorted(
                    f for f in os.listdir(tmp)
                    if f.endswith(".parquet") and not f.startswith((".", "_"))
                )
            ):
                fname = f"{stem}-{i:04d}.parquet"
                os.replace(os.path.join(tmp, part), os.path.join(dvdir, fname))
                names.append(fname)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        cdc = None
        if spec.change_data:
            # the rows being DV-deleted were already materialized by the
            # match scan above — emit their full images as delete events,
            # so change-feed readers never re-open base files to discover
            # what a metadata-only DV commit deleted
            cdc = self._write_change_data(
                name,
                raw.filter(cond)
                .drop("__dv_f", "__dv_p")
                .withColumn("_change_type", F.lit("delete")),
                spec.unique_key,
                spec.cdc_buckets,
            )
        prior_files = (live.get("dv") or {}).get("files") or []
        manifest = {
            "version": live["version"] + 1,
            "partition_by": list(live.get("partition_by") or []),
            "dtypes": dtypes,
            "partitions": live["partitions"],
            "stats": live.get("stats") or {},
            "dv": {"files": [*prior_files, *names]},
        }
        if cdc is not None:
            manifest["cdc"] = cdc
        if live.get("meta") is not None:
            manifest["meta"] = live["meta"]
        manifest = self._commit_manifest(name, manifest)
        self._vacuum(name, manifest)
        result.update(rows_matched=int(n), version=manifest["version"])
        return result

    @_records_op("REORG")
    def absorb_deletion_vectors(self, spec: ModelSpec) -> dict:
        """Rewrite exactly the live files the pending vector names (stale
        entries over already-delisted files are skipped), dropping the
        tombstoned ordinals, and commit with the vector CLEARED (Delta's
        compaction-absorbs-DVs). Same two-job copy-on-write economics as
        ``delete_where``: everything else rides forward by name. No
        pending vector: nothing is committed."""
        name = spec.name
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: absorb needs a manifest-committed target")
        result = {
            "op": "absorb-dv",
            "files_scanned": 0,
            "files_rewritten": 0,
            "rows_deleted": 0,
            "version": live["version"],
        }
        dvp = self._dv_frame(name, live)
        if dvp is None:
            return result
        root = self.target_path(name)
        live_files = set(self.resolved_files(name, manifest=live))
        result["files_scanned"] = len(live_files)
        # sidecars are KB-scale: which files they name, and how many dead
        # rows each holds, is a driver-side read — no Spark job
        dead = dv_dead_rows(self._dv_sidecars(name, live))
        touched = set(dead) & live_files
        if not touched:
            # every entry stale (all named files already rewritten away):
            # commit the clear, metadata-only. cdc must NOT ride forward
            # from live (it describes live's own commit); this clear
            # changes nothing, so an empty descriptor
            manifest = {
                k: v
                for k, v in live.items()
                if k not in ("version", "dv", "cdc")
            }
            manifest["version"] = live["version"] + 1
            manifest["cdc"] = {
                "key": spec.unique_key,
                "buckets": int(spec.cdc_buckets),
                "files": [],
            }
            manifest = self._commit_manifest(name, manifest)
            self._vacuum(name, manifest)
            result["version"] = manifest["version"]
            return result
        result["rows_deleted"] = sum(len(dead[f]) for f in touched)
        dtypes = live.get("dtypes")
        out_df = self._apply_dv(
            self._read_files(root, live, sorted(touched), dtypes=dtypes), dvp
        )
        if dtypes and {n for n, _ in dtypes} == set(out_df.columns):
            out_df = out_df.select(
                *[F.col(n).cast(t).alias(n) for n, t in dtypes]
            )
        emap = self._entry_lookup(name, root, live, touched)
        # _commit_file_rewrite rebuilds the manifest WITHOUT the dv field —
        # absorption and clearing are one atomic commit. cdc_empty: the
        # absorbed rows were ALREADY logically deleted (and their delete
        # events already fed, at DV time), so this commit changes nothing
        manifest = self._commit_file_rewrite(
            spec, live, emap, touched, out_df, carry_dv=False, cdc_empty=True
        )
        result.update(
            files_rewritten=len(touched), version=manifest["version"]
        )
        return result

    @_records_op("UPDATE")
    def update_where(
        self,
        spec: ModelSpec,
        condition: str,
        set_exprs: dict[str, str],
        *,
        prune: dict | None = None,
    ) -> dict:
        """Row-level ``UPDATE target SET col = expr, ... WHERE condition``
        (Delta's copy-on-write UPDATE). SET expressions see the OLD row
        (standard UPDATE semantics — all right-hand sides evaluate before
        any assignment). Updating a partition column is allowed: rewritten
        rows land in their new partition dirs and the manifest moves the
        entries accordingly."""
        dtypes = (self.current_manifest(spec.name) or {}).get("dtypes")
        if dtypes:
            missing = set(set_exprs) - {n for n, _ in dtypes}
            if missing:
                raise RuntimeError(
                    f"{spec.name}: UPDATE SET references unknown columns "
                    f"{sorted(missing)}"
                )

        def transform(df: DataFrame, cond) -> DataFrame:
            return df.select(
                *[
                    F.when(cond, F.expr(set_exprs[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in df.columns
                ]
            )

        return self._dml_rewrite(
            spec, condition, transform, prune=prune, op="update"
        )

    @_records_op("MERGE")
    def merge_into(
        self,
        spec: ModelSpec,
        source: DataFrame,
        *,
        on: str,
        matched: list[tuple] = (),
        not_matched: list[tuple] = (),
        not_matched_by_source: list[tuple] = (),
        prune: dict | None = None,
    ) -> dict:
        """Full multi-clause ``MERGE INTO`` (Delta/Iceberg MERGE), Delta's
        two-job copy-on-write shape. Clauses are ordered lists — the FIRST
        clause whose condition holds wins (the SQL:2003 / Delta rule):

          matched:               ("update", cond|None, {col: sql_expr})
                                 ("delete", cond|None)
          not_matched:           ("insert", cond|None, {col: sql_expr}|None)
                                    None values => INSERT * (by name)
          not_matched_by_source: ("update", cond|None, {col: sql_expr})
                                 ("delete", cond|None)

        Conditions and exprs are SQL over aliases ``t`` (target) and ``s``
        (source); not_matched clauses see only ``s``, not_matched_by_source
        only ``t``.

        Scale shape (100 TB): job 1 inner-joins the source on ``on``
        against the stats-pruned candidate files to find files that
        CONTAIN matches (metadata-scale result; broadcast when the source
        is small); job 2 reads ONLY those files, full-outer-joins the
        source, resolves clauses per row, and rewrites just those files
        plus inserted rows — every untouched file rides forward by name.
        not_matched_by_source clauses must inspect every candidate target
        row, so they widen job 2 to the pruned candidate set — pass
        ``prune`` to bound them (the same demand Delta places on
        WHEN NOT MATCHED BY SOURCE). Duplicate source matches for one
        target row raise (the Delta cardinality violation) rather than
        nondeterministically applying one — except when no ``matched``
        clause exists: an insert-only merge tolerates duplicate source
        matches (Delta's rule; the matched target rows are untouched),
        and a by-source-only merge keeps exactly one copy of each
        matched target row.

        Insert-only fast path: with no ``matched`` and no
        ``not_matched_by_source`` clauses, NO target file is rewritten —
        matched source rows are filtered with an anti-join and the
        inserts are appended (files_rewritten == 0), exactly Delta's
        insert-only merge optimization.

        ``prune`` CONTRACT: the pruned candidate set must be a superset
        of every target row the ON condition can match (the same
        contract Delta derives automatically from the ON predicate).
        A prune that hides genuinely-matching target rows makes their
        source rows look not-matched and re-inserts them — duplicate
        keys with no error. Use prune to bound the by-source widening
        and to skip partitions the ON keys provably cannot reach."""
        from pyspark.sql import Observation
        from pyspark.sql.window import Window

        name = spec.name
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: MERGE needs a manifest-committed target")
        self._require_no_colmap(name, live, "MERGE INTO")
        # pending deletion vector: every candidate/target read below goes
        # through the (file, ordinal) anti-join, rewritten files absorb
        # their share and the vector rides forward; a re-used key is a
        # new physical row no position can name
        dv = self._dv_frame(name, live)
        root = self.target_path(name)
        dtypes = live.get("dtypes")
        tcols = [n for n, _ in dtypes] if dtypes else None
        cand = self.resolved_files(name, prune=prune, manifest=live)
        result = {
            "op": "merge",
            "files_scanned": len(cand),
            "files_rewritten": 0,
            "version": live["version"],
        }

        def _cond(c):
            if c is None:
                return F.lit(True)
            return F.coalesce(F.expr(c).cast("boolean"), F.lit(False))

        insert_only = not matched and not not_matched_by_source
        src_eff = source
        if cand:
            raw = self._scan_with_path(root, live, cand, dtypes, dv)
            if insert_only:
                # Delta's insert-only fast path: matched target rows are
                # untouched, so no file is rewritten AT ALL — filter the
                # source to genuinely-new rows with an anti-join (Catalyst
                # prunes the target read to the ON columns) and append.
                # Also the fix for the duplicate-source fan-out: the
                # full-outer join below never sees matched rows.
                # The anti-join reads through the vector: a source row
                # matching only a dead row is genuinely new.
                touched = set()
                src_eff = source.alias("s").join(
                    raw.alias("t"), F.expr(on), "left_anti"
                )
            elif not_matched_by_source:
                # these clauses must SEE every candidate target row
                touched = set(cand)
            else:
                # job 1: files containing at least one ON-match. Catalyst
                # prunes the target read to the ON columns + _metadata,
                # and broadcasts the source side when it's small.
                hit = (
                    raw.alias("t")
                    .join(source.alias("s"), F.expr(on), "inner")
                    .select("t.__fp")
                    .distinct()
                    .collect()
                )
                touched = {fs_path(r["__fp"]) for r in hit}
        else:
            touched = set()

        tgt = (
            self._apply_dv(
                self._read_files(root, live, sorted(touched), dtypes=dtypes),
                dv,
            )
            if touched
            else None
        )
        if tgt is not None and tcols and set(tcols) == set(tgt.columns):
            tgt = tgt.select(*[F.col(n).cast(t).alias(n) for n, t in dtypes])
        out_cols = tcols or (tgt.columns if tgt is not None else source.columns)

        # Schema evolution (spec.on_schema_change — the Delta automatic-
        # schema-evolution analogue for MERGE): "new columns" are
        # assignment-dict keys outside the target schema, plus source
        # columns outside it when an INSERT * clause is present.
        clause_new: list[str] = []
        for cl in (*matched, *not_matched, *not_matched_by_source):
            vals = cl[2] if len(cl) > 2 else None
            if vals:
                clause_new += [c for c in vals if c not in out_cols]
        if any(cl[0] == "insert" and cl[2] is None for cl in not_matched):
            clause_new += [c for c in source.columns if c not in out_cols]
        new_cols = list(dict.fromkeys(clause_new))
        if new_cols:
            mode = spec.on_schema_change
            if mode == "fail":
                raise RuntimeError(
                    f"{name}: MERGE source carries new columns {new_cols} "
                    "and on_schema_change='fail'"
                )
            if mode == "sync_all_columns":
                # a merge only observes the clause/source columns, so
                # "columns the model dropped" is undecidable here — refuse
                # loudly rather than guess (documented gap, not silence)
                raise NotImplementedError(
                    f"{name}: on_schema_change='sync_all_columns' is not "
                    "supported for merge_into (column REMOVAL is "
                    "undecidable from merge clauses); use "
                    "'append_new_columns' or run the model full-refresh"
                )
            if mode == "append_new_columns":
                dropped_hist = set(live.get("dropped") or [])
                bad = [c for c in new_cols if c in dropped_hist]
                if bad:
                    raise RuntimeError(
                        f"{name}: column(s) {bad} were DROPPED but old "
                        "files still hold bytes under those names — "
                        "re-adding would resurrect stale data; run "
                        "compact() or a full refresh first"
                    )
                # existing rows (keep / by-source) NULL-backfill; the
                # rewrite-only-touched-files economics are unchanged —
                # untouched files simply lack the column and the reader
                # NULL-fills via the committed dtypes (schema merge)
                out_cols = [*out_cols, *new_cols]
            else:
                new_cols = []  # ignore (dbt default): drop them

        if tgt is None:
            # insert-only fast path / no candidate matches: src_eff is the
            # anti-joined source (matched rows already removed), no target
            # side to join
            j = (
                src_eff.alias("s")
                .withColumn("__s", F.lit(True))
                .withColumn("__t", F.lit(False))
            )
        else:
            t_side = (
                tgt.withColumn("__t", F.lit(True))
                .withColumn("__tid", F.monotonically_increasing_id())
                .alias("t")
            )
            s_side = source.withColumn("__s", F.lit(True)).alias("s")
            j = t_side.join(s_side, F.expr(on), "full_outer")

        is_m = F.coalesce(F.col("__t"), F.lit(False)) & F.coalesce(
            F.col("__s"), F.lit(False)
        )
        is_t = F.coalesce(F.col("__t"), F.lit(False)) & ~F.coalesce(
            F.col("__s"), F.lit(False)
        )
        is_s = ~F.coalesce(F.col("__t"), F.lit(False)) & F.coalesce(
            F.col("__s"), F.lit(False)
        )

        # first-match-wins action resolution; the FIRST branch is the Delta
        # cardinality rule — >1 source rows matching one target row make
        # update/delete nondeterministic, so the plan itself raises. Baked
        # into __action (which every output row selects) so Catalyst can
        # never prune it away. Source-only rows get synthetic unique window
        # keys, keeping the NULL-__tid rows from piling into one partition.
        branches = []
        if tgt is not None:
            # the fan-out guard must exist WHENEVER the target side is
            # joined: duplicate source matches for one target row fan that
            # row out in the full-outer join regardless of clause lists
            j = j.withColumn(
                "__wkey",
                F.coalesce(
                    F.col("__tid"), -F.monotonically_increasing_id() - F.lit(1)
                ),
            )
            if matched:
                # Delta cardinality rule: ambiguous update/delete raises
                n_match = F.count(F.when(is_m, F.lit(1))).over(
                    Window.partitionBy("__wkey")
                )
                branches.append(
                    (
                        is_m & (n_match > 1),
                        F.raise_error(
                            F.lit(
                                f"{name}: MERGE cardinality violation — multiple "
                                "source rows match one target row"
                            )
                        ).cast("string"),
                    )
                )
            else:
                # by-source-only merge: matched target rows are kept, not
                # modified — Delta tolerates duplicate source matches here,
                # so keep exactly ONE copy per target row (every copy
                # carries identical t-side values)
                rn = F.row_number().over(
                    Window.partitionBy("__wkey").orderBy("__wkey")
                )
                branches.append((is_m & (rn > 1), F.lit("drop")))
        for i, cl in enumerate(matched):
            branches.append((is_m & _cond(cl[1]), F.lit(f"m{i}")))
        branches.append((is_m, F.lit("keep")))
        for i, cl in enumerate(not_matched):
            branches.append((is_s & _cond(cl[1]), F.lit(f"i{i}")))
        branches.append((is_s, F.lit("drop")))
        for i, cl in enumerate(not_matched_by_source):
            branches.append((is_t & _cond(cl[1]), F.lit(f"b{i}")))
        branches.append((is_t, F.lit("keep")))
        expr = None
        for cond_c, tag in branches:
            expr = F.when(cond_c, tag) if expr is None else expr.when(cond_c, tag)
        j = j.withColumn("__action", expr)

        def _value(col: str) -> "F.Column":
            # matched / by-source branches reference the t alias — they are
            # unreachable AND unresolvable on the pure-insert path (no
            # target side joined), so emit them only when tgt exists.
            # Evolved (new) columns have no t side at all: their carry-
            # forward default is NULL, the Delta NULL-backfill.
            t_default = f"t.`{col}`" if col not in new_cols else "NULL"
            v = F.when(F.lit(False), F.lit(None))
            if tgt is not None:
                for i, cl in enumerate(matched):
                    if cl[0] == "update":
                        v = v.when(
                            F.col("__action") == f"m{i}",
                            F.expr(cl[2].get(col, t_default)),
                        )
            for i, cl in enumerate(not_matched):
                vals = cl[2]
                src_expr = (
                    vals.get(col, "NULL")
                    if vals is not None
                    else (f"s.`{col}`" if col in source.columns else "NULL")
                )
                v = v.when(F.col("__action") == f"i{i}", F.expr(src_expr))
            if tgt is not None:
                for i, cl in enumerate(not_matched_by_source):
                    if cl[0] == "update":
                        v = v.when(
                            F.col("__action") == f"b{i}",
                            F.expr(cl[2].get(col, t_default)),
                        )
            return v.otherwise(
                F.expr(t_default) if tgt is not None else F.lit(None)
            ).alias(col)

        def _tags(clauses, kind, prefix):
            return [
                f"{prefix}{i}"
                for i, cl in enumerate(clauses)
                if cl[0] == kind
            ]

        upd_tags = _tags(matched, "update", "m") + _tags(
            not_matched_by_source, "update", "b"
        )
        del_tags = _tags(matched, "delete", "m") + _tags(
            not_matched_by_source, "delete", "b"
        )
        ins_tags = [f"i{i}" for i in range(len(not_matched))]
        drop_tags = {"drop"} | set(del_tags)

        def _in(tags):
            if not tags:
                return F.lit(False)
            return F.col("__action").isin(*sorted(tags))

        obs = Observation(f"merge-{uuid.uuid4().hex[:6]}")
        j = j.observe(
            obs,
            F.count(F.when(_in(upd_tags), 1)).alias("upd"),
            F.count(F.when(_in(ins_tags), 1)).alias("ins"),
            F.count(F.when(_in(del_tags), 1)).alias("del"),
        )
        out_df = j.filter(~_in(drop_tags)).select(
            *[_value(c) for c in out_cols]
        )
        if dtypes:
            out_df = out_df.select(
                *[F.col(n).cast(t).alias(n) for n, t in dtypes],
                *[F.col(c) for c in new_cols],
            )

        emap = self._entry_lookup(name, root, live, touched)
        manifest = self._commit_file_rewrite(
            spec,
            live,
            emap,
            touched,
            out_df,
            # evolved commit: manifest dtypes gain the new columns so
            # readers schema-merge (untouched files NULL-fill them)
            dtypes_out=[list(p) for p in out_df.dtypes] if new_cols else None,
            # change feed: old side = the touched files' rows (None on the
            # insert-only fast path — every written row is then an insert,
            # which is exactly right: matched target rows were untouched)
            cdc_old=tgt if spec.change_data else None,
        )
        m = obs.get
        # "m*" counts include delete-matched rows; split by tag class
        result.update(
            rows_updated=int(m.get("upd", 0)),
            rows_inserted=int(m.get("ins", 0)),
            rows_deleted=int(m.get("del", 0)),
            files_rewritten=len(touched),
            version=manifest["version"],
        )
        return result

    def history(self, name: str) -> list[dict]:
        """``DESCRIBE HISTORY`` analogue: newest-first commit records from
        the RETAINED manifest versions (vacuum trims history with the
        snapshots it reclaims — the same availability bound Delta places
        on its log). Metadata-only at any table size: counts come from the
        version JSON / segment refs, no data file or segment is opened.
        Each record: version, commit wall-clock ``ts``, the USER-level
        ``op`` that produced it (None for pre-provenance manifests),
        live partition/file counts, and pending DV / change-data flags."""
        mdir = self._manifest_dir(name)
        if not os.path.isdir(mdir):
            return []
        out: list[dict] = []
        for fn in sorted(os.listdir(mdir), reverse=True):
            if not re.fullmatch(r"v\d{6}\.json", fn):
                continue
            try:
                m = load_manifest_file(os.path.join(mdir, fn))
            except (OSError, ValueError):
                continue  # racing vacuum unlinked it between list and read
            parts = m.get("partitions") or {}
            if isinstance(parts, SegmentedMap):
                n_files = sum(
                    parts._refs[r]["n"]
                    if r in parts._refs
                    else len(parts._inline[r])
                    for r in parts
                )
            else:
                n_files = sum(len(v) for v in parts.values())
            out.append(
                {
                    "version": m["version"],
                    "ts": m.get("ts"),
                    "op": m.get("op"),
                    "n_partitions": len(parts),
                    "n_files": n_files,
                    "has_dv": bool((m.get("dv") or {}).get("files")),
                    "has_cdc": m.get("cdc") is not None,
                    "txn": dict((m.get("meta") or {}).get("txn") or {}),
                }
            )
        return out

    @_records_op("RENAME COLUMN")
    def rename_column(self, name: str, old: str, new: str) -> dict:
        """``ALTER TABLE ... RENAME COLUMN`` without rewriting a byte of
        data — Delta's columnMapping in name mode: the commit updates the
        LOGICAL schema and records a logical->physical name map
        (``colmap``); every data file carries forward BY NAME with its
        physical column names intact. Readers translate at the one scan
        chokepoint (``_read_files``: read under the physical schema,
        alias to logical) and stats stay keyed by physical name with
        pruning bounds translated (``resolved_files``). Renaming back to
        the physical name drops the identity entry — an unmapped table
        stays unmapped.

        Refusals (each a contract, not a gap): partition columns (the
        dir names ARE the physical layout), pending deletion vectors,
        and columns referenced by generated-column definitions. While a
        mapping pends, partition/file-scoped writers refuse
        (``_require_no_colmap``); ``compact()`` or a full refresh
        absorbs it. CHANGE-DATA tables rename freely (r12): committed
        change files keep their era names and both feed readers compose
        the rename chain from the provenance log (``_rename_ops``), so
        `table_changes` and the streaming CDF source net correctly
        across the rename; the commit stamps an EMPTY change descriptor
        (it changes no row) so the fast path stays available. Callers
        own renaming any ModelSpec fields (unique_key/watermark_col)
        they pass to later operations — the manifest records table
        state, not specs (a stale spec fails fast: see the
        rename-aware unique_key guard in ``run``)."""
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: rename needs a committed target")
        dtypes = [list(p) for p in (live.get("dtypes") or [])]
        if not dtypes:
            raise RuntimeError(f"{name}: rename needs a committed schema")
        names = [n for n, _ in dtypes]
        if old not in names:
            raise RuntimeError(f"{name}: unknown column {old!r}")
        if new in names:
            raise RuntimeError(f"{name}: column {new!r} already exists")
        if old in (live.get("partition_by") or []):
            raise RuntimeError(
                f"{name}: cannot rename partition column {old!r} — the "
                "hive dir names are the physical layout"
            )
        self._require_no_dv(name, live, "rename column")
        gen = (live.get("meta") or {}).get("generated_columns") or {}
        touched_gen = [
            g for g, d in gen.items()
            if old == g or old in str(d)
        ]
        if touched_gen:
            raise RuntimeError(
                f"{name}: column {old!r} is referenced by generated "
                f"column(s) {touched_gen} — drop or rewrite them first"
            )
        colmap = dict(live.get("colmap") or {})
        colmap[new] = colmap.pop(old, old)
        colmap = {l: p for l, p in colmap.items() if l != p}
        manifest = {
            k: v
            for k, v in live.items()
            if k not in ("version", "colmap", "cdc")
        }
        manifest["version"] = live["version"] + 1
        manifest["dtypes"] = [
            [new if n == old else n, t] for n, t in dtypes
        ]
        if colmap:
            manifest["colmap"] = colmap
        self._carry_empty_cdc(live, manifest)
        self._commit_manifest(name, manifest)
        return {
            "renamed": [old, new],
            "version": manifest["version"],
            "mapped": len(colmap),
        }

    @_records_op("ADD COLUMN")
    def add_column(self, name: str, col: str, dtype: str) -> dict:
        """``ALTER TABLE ... ADD COLUMN`` without touching a file: the
        commit appends the column to the logical dtypes; every read is
        under the explicit committed schema, so existing files NULL-fill
        it per file exactly like a schema-evolving merge's history rows
        (parquet missing-column semantics). Writers whose batch carries
        the column land real values thereafter; writers that don't are a
        schema drift handled by the usual on_schema_change contract.
        Refuses a name in the ``dropped`` fence (old files still hold
        stale bytes under it — the resurrection hazard ADD exists to
        avoid) and a name already present, logical or physical."""
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: add needs a committed target")
        dtypes = [list(p) for p in (live.get("dtypes") or [])]
        if not dtypes:
            raise RuntimeError(f"{name}: add needs a committed schema")
        names = [n for n, _ in dtypes]
        phys = set((live.get("colmap") or {}).values())
        if col in names or col in phys:
            raise RuntimeError(f"{name}: column {col!r} already exists")
        if col in (live.get("dropped") or []):
            raise RuntimeError(
                f"{name}: column {col!r} was DROPPED but old files still "
                "hold bytes under that name — re-adding would resurrect "
                "stale data; run compact() or a full refresh first"
            )
        manifest = {
            k: v for k, v in live.items() if k not in ("version", "cdc")
        }
        manifest["version"] = live["version"] + 1
        manifest["dtypes"] = [*dtypes, [col, dtype]]
        self._carry_empty_cdc(live, manifest)
        self._commit_manifest(name, manifest)
        return {"added": [col, dtype], "version": manifest["version"]}

    @_records_op("DROP COLUMN")
    def drop_column(self, name: str, col: str) -> dict:
        """``ALTER TABLE ... DROP COLUMN`` without rewriting a byte of
        data: the commit removes the column from the logical schema, and
        because every read is under the explicit committed dtypes, the
        files' stale bytes for that column are simply never scanned
        (parquet column pruning — Delta's name-mode drop). Unlike RENAME,
        writers stay FREE: new files just lack the column, and the
        explicit-schema read never references it in any file.

        The one name-mode hazard is RESURRECTION: re-adding a same-named
        column later would read the old files' stale bytes as live data.
        The physical name is therefore recorded in the manifest's
        ``dropped`` list; schema evolution (run + MERGE) refuses to
        re-add a listed name, partial rewrites carry the list forward
        (untouched files still hold the bytes), and compact() or a full
        refresh — which rewrite every file — clear it. Partition columns
        and the DV key refuse; generated-column references refuse;
        dropping a RENAMED column retires its mapping entry with it."""
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(f"{name}: drop needs a committed target")
        dtypes = [list(p) for p in (live.get("dtypes") or [])]
        if not dtypes:
            raise RuntimeError(f"{name}: drop needs a committed schema")
        names = [n for n, _ in dtypes]
        if col not in names:
            raise RuntimeError(f"{name}: unknown column {col!r}")
        if len(names) == 1:
            raise RuntimeError(f"{name}: cannot drop the last column")
        if col in (live.get("partition_by") or []):
            raise RuntimeError(
                f"{name}: cannot drop partition column {col!r} — the hive "
                "dir names are the physical layout"
            )
        gen = (live.get("meta") or {}).get("generated_columns") or {}
        touched_gen = [g for g, d in gen.items() if col == g or col in str(d)]
        if touched_gen:
            raise RuntimeError(
                f"{name}: column {col!r} is referenced by generated "
                f"column(s) {touched_gen} — drop or rewrite them first"
            )
        colmap = dict(live.get("colmap") or {})
        phys = colmap.pop(col, col)
        dropped = sorted(set(live.get("dropped") or []) | {phys})
        manifest = {
            k: v
            for k, v in live.items()
            if k not in ("version", "colmap", "dropped", "cdc")
        }
        manifest["version"] = live["version"] + 1
        manifest["dtypes"] = [p for p in dtypes if p[0] != col]
        if colmap:
            manifest["colmap"] = colmap
        manifest["dropped"] = dropped
        self._carry_empty_cdc(live, manifest)
        self._commit_manifest(name, manifest)
        return {
            "dropped": col,
            "physical": phys,
            "version": manifest["version"],
        }

    def version_at_timestamp(self, name: str, ts: float) -> int:
        """Resolve ``timestampAsOf`` to a version: the LATEST retained
        commit whose wall-clock stamp is <= ``ts`` (Delta's rule). Raises
        when ``ts`` precedes every retained commit — reading further back
        would silently serve the wrong snapshot."""
        best = None
        for rec in self.history(name):
            if rec["ts"] is None or rec["ts"] > ts:
                continue
            if best is None or rec["version"] > best:
                best = rec["version"]
        if best is None:
            raise RuntimeError(
                f"{name}: no committed version at or before timestamp "
                f"{ts} (earliest retained commit is newer, or the table "
                "predates commit provenance)"
            )
        return best

    @_records_op("RESTORE")
    def restore(
        self,
        name: str,
        version: int | None = None,
        *,
        timestamp_as_of: float | None = None,
    ) -> dict:
        """``RESTORE TABLE ... TO VERSION | TO TIMESTAMP`` (Delta):
        commit a NEW version whose file set IS the old snapshot's —
        metadata-only, no data file read or copied, constant-time at any
        table size. ``timestamp_as_of`` resolves by the same
        at-or-before rule as time-travel reads (r12 — pairs naturally
        with age-based retention: "roll back to before the bad deploy at
        14:02"). History is preserved: the rolled-back versions stay
        time-travelable until the retention floor passes them. Only
        works within the vacuum retention horizon (the restored
        snapshot's files must still exist) — the same bound Delta places
        on RESTORE."""
        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError(
                    f"{name}: pass version OR timestamp_as_of, not both"
                )
            version = self.version_at_timestamp(name, timestamp_as_of)
        if version is None:
            raise ValueError(f"{name}: restore needs version or timestamp_as_of")
        cur = self.current_manifest(name)
        if cur is None:
            raise RuntimeError(f"{name}: restore needs a committed target")
        old = self._manifest_at(name, version)  # raises past the horizon
        files = self.resolved_files(name, manifest=old)
        gone = [f for f in files if not os.path.isfile(f)]
        if gone:
            raise RuntimeError(
                f"{name}: version {version} is beyond the vacuum retention "
                f"horizon ({len(gone)} of its files were reclaimed)"
            )
        # the restored snapshot's cdc descriptor describes ITS OWN commit's
        # changes, not this rollback's (which are arbitrary relative to
        # cur) — strip it so change-feed readers fall back to the snapshot
        # diff across a RESTORE, Delta's CDF-availability rule
        new = {k: v for k, v in old.items() if k not in ("version", "cdc")}
        new["version"] = cur["version"] + 1
        new = self._commit_manifest(name, new)
        self._vacuum(name, new)
        return {"restored_to": version, "version": new["version"]}

    @_records_op("CLONE")
    def clone_shallow(
        self, src: str, dst: str, *, version: int | None = None
    ) -> dict:
        """Shallow ``CLONE`` (Delta CLONE ... SHALLOW): the clone is ONE
        manifest commit referencing the source snapshot's data files by
        ABSOLUTE path — zero bytes copied, constant-time at any table
        size. Writes to the clone are copy-on-write into the clone's own
        dir: touched partitions swap to native files, untouched ones keep
        pointing at the source, and the source table never changes. The
        clone's vacuum walks only its own dir, so it can never reclaim
        source files — but vacuuming the SOURCE can reclaim files a clone
        still references (the caveat Delta documents for shallow
        clones)."""
        m = (
            self._manifest_at(src, version)  # raises past the horizon
            if version is not None
            else self.current_manifest(src)
        )
        if m is None:
            raise RuntimeError(
                f"{src}: shallow clone needs a manifest-committed source"
            )
        self._require_no_dv(src, m, "shallow clone")
        if self.current_manifest(dst) is not None:
            raise RuntimeError(f"{dst}: clone target already exists")
        src_root = self.target_path(src)
        src_stats = m.get("stats") or {}
        parts: dict[str, list[str]] = {}
        stats: dict[str, dict[str, dict]] = {}
        for rel, fl in m["partitions"].items():
            ents = []
            for f in fl:
                e = (
                    f
                    if os.path.isabs(f)
                    else os.path.join(src_root, rel, f)
                    if rel
                    else os.path.join(src_root, f)
                )
                ents.append(e)
                st = (src_stats.get(rel) or {}).get(f)
                if st is not None:
                    stats.setdefault(rel, {})[e] = st
            parts[rel] = ents
        manifest = {
            "version": 1,
            "partition_by": list(m.get("partition_by") or []),
            "dtypes": m.get("dtypes"),
            "partitions": parts,
            "stats": stats,
        }
        if m.get("meta") is not None:
            manifest["meta"] = m["meta"]
        if m.get("colmap"):
            # the clone references the SAME physical files — the mapping
            # must travel with it or its reads misalign
            manifest["colmap"] = m["colmap"]
        if m.get("dropped"):
            # same reason: the clone's files still hold stale bytes under
            # the dropped names — the re-add fence must travel too
            manifest["dropped"] = m["dropped"]
        os.makedirs(self.target_path(dst), exist_ok=True)
        self._commit_manifest(dst, manifest)
        return {
            "clone": dst,
            "source_version": m["version"],
            "files": sum(len(v) for v in parts.values()),
        }

    def run_observed(self, spec: ModelSpec, sf_dir: str, **kw) -> tuple[dict, dict]:
        """Run a model with Spark's Observation API attached: row counts
        and per-column null counts are collected ON the write pass itself
        (accumulator-style, no second scan of the data) — the engine-side
        equivalent of dbt's run-results metrics at zero extra cost, which
        matters when the model output is terabytes."""
        from pyspark.sql import Observation

        obs = Observation(f"{spec.name}_metrics")
        orig_build = spec.build

        def observed_build(sp, sfd, wm):
            df = orig_build(sp, sfd, wm)
            metrics = [F.count(F.lit(1)).alias("rows")]
            for f_ in df.schema.fields:
                metrics.append(
                    F.sum(F.when(F.col(f_.name).isNull(), 1).otherwise(0)).alias(
                        f"nulls_{f_.name}"
                    )
                )
            return df.observe(obs, *metrics)

        import dataclasses

        stats = self.run(dataclasses.replace(spec, build=observed_build), sf_dir, **kw)
        return stats, dict(obs.get)

    @_records_op("WRITE")
    def backfill(
        self,
        spec: ModelSpec,
        sf_dir: str,
        start: "dt.date",
        end: "dt.date",
    ) -> dict:
        """Targeted rebuild of the partitions in [start, end] on a
        date-partitioned target — the fix-a-bad-day operation a 100 TB
        pipeline needs when source data is corrected retroactively and
        the watermark has long since moved past it.

        Runs the model's build with NO watermark (full logic), filters
        the result to the backfill range, and REPLACES exactly the
        range's partition directories (shared swap machinery with the
        incremental merge): rebuilt days swap in, and in-range days the
        rebuild produced NO rows for are deleted — the build is
        authoritative for the range, including "this day should not
        exist" (retracted source data). Partitions outside the range are
        never read or written — pinned by test. Works on any
        single-column date-grain partition layout (all three shipped
        models); the target must already exist partitioned."""
        if len(spec.partition_by) != 1:
            raise ValueError(
                f"{spec.name}: backfill requires a single partition column, "
                f"got {spec.partition_by}"
            )
        pcol = spec.partition_by[0]
        self._recover_orphan_versions(spec.name)
        self._require_no_colmap(
            spec.name, self.current_manifest(spec.name), "backfill"
        )
        if not (self.target_exists(spec.name) and self._layout_is_partitioned(spec)):
            raise RuntimeError(
                f"{spec.name}: backfill needs an existing partitioned target"
            )
        new = spec.build(self.spark, sf_dir, None).filter(
            (F.col(pcol) >= F.lit(start)) & (F.col(pcol) <= F.lit(end))
        )
        final = self.target_path(spec.name)
        live = self.current_manifest(spec.name)
        base = live or self._manifest_from_layout(
            spec.name, spec.partition_by
        )
        # committed in-range partitions (ISO date values sort
        # lexicographically == chronologically)
        in_range = [
            rel for rel in base["partitions"]
            if rel.startswith(f"{pcol}=")
            and str(start) <= rel.split("=", 1)[1] <= str(end)
        ]
        tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
        self._cluster_for_write(new, [pcol]).write.mode("overwrite").partitionBy(
            pcol
        ).parquet(tmp)
        try:
            rebuilt = set(self._leaf_partition_dirs(tmp, 1))
            guard = self._premanifest_marker(spec.name, live)
            parts_new, stats_new, n = (
                self._ingest_files(tmp, spec.name, 1, bloom_col=spec.unique_key)
                if rebuilt
                else ({}, {}, 0)
            )
            # the build is authoritative for the range; O(touched) overlay
            parts = _overlay(base["partitions"], parts_new, removes=in_range)
            stats = _overlay(base.get("stats") or {}, stats_new, removes=in_range)
            manifest = {
                "version": base["version"] + 1,
                "partition_by": list(spec.partition_by),
                "dtypes": [list(p) for p in new.dtypes],
                "partitions": parts,
                "stats": stats,
            }
            # meta survives a range rewrite (same rule as compact):
            # ledgers/codebooks/generated-column defs are table
            # semantics, not layout
            meta = (
                spec.manifest_meta
                if spec.manifest_meta is not None
                else base.get("meta")
            )
            if meta is not None:
                manifest["meta"] = meta
            if base.get("dv"):
                # carried vector: the rebuilt range's files are NEW (no
                # entry can name them), out-of-range files keep their
                # deletes, entries over replaced files stale-no-op
                manifest["dv"] = base["dv"]
            manifest = self._commit_manifest(
                spec.name,
                manifest,
                base=live,
                touched=(
                    set(in_range) | set(parts_new) if live is not None else None
                ),
            )
            self._clear_premanifest_marker(guard)
            self._vacuum(spec.name, manifest)
            swapped = len(set(in_range) | set(parts_new))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return {
            "model": spec.name,
            "mode": "backfill",
            "range": [str(start), str(end)],
            "rows_written": n,
            "partitions_rewritten": swapped,
        }

    @_records_op("OPTIMIZE")
    def compact(
        self,
        name: str,
        *,
        target_file_mb: float = 128,
        cluster_by: list[str] | None = None,
    ) -> dict:
        """Small-file compaction (+ optional re-clustering) for a
        fragmented incremental target.

        Every merge run rewrites its partitions as `shuffle.partitions`
        files; after many runs scan overhead is dominated by file-open
        costs. Rewrite the target into ceil(bytes / target_file_mb) files
        via repartition — content-identical, manifest-committed,
        row-count-verified. With ``cluster_by`` the rewrite also lays the
        data out for skipping on those columns: one column = range-sort;
        two columns = Morton z-order (lakehouse OPTIMIZE ZORDER — see
        sources/zorder.py), so parquet footer min/max stats prune files on
        EITHER clustered column afterwards. On a lakehouse this whole
        method is OPTIMIZE / rewrite_data_files.
        """
        path = self.target_path(name)
        self._recover_orphan_versions(name)
        base = self.current_manifest(name)
        if base is not None:
            part_cols = list(base["partition_by"])
            n_bytes = sum(
                os.path.getsize(os.path.join(path, rel, f) if rel else os.path.join(path, f))
                for rel, fl in base["partitions"].items()
                for f in fl
            )
        else:
            # legacy layout: hive-style `col=value` dirs on disk
            part_cols = sorted(
                {d.split("=")[0] for d in os.listdir(path) if "=" in d and os.path.isdir(os.path.join(path, d))}
            )
            n_bytes = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
                if not f.startswith((".", "_"))
            )
        n_files = int(max(1, -(-n_bytes // (target_file_mb * 1024 * 1024))))
        df = self.read_target(name)
        before = df.count()
        tmp = f"{path}.compact-{uuid.uuid4().hex[:8]}"
        if cluster_by:
            if len(cluster_by) == 1:
                sort_col = F.col(cluster_by[0])
                clustered = df.withColumn("__cluster", sort_col)
            elif len(cluster_by) == 2:
                from mycarely_saas_dbt_spark.sources.zorder import _grid, morton2

                x, y = cluster_by
                xlo, xhi = df.agg(F.min(x), F.max(x)).first()
                ylo, yhi = df.agg(F.min(y), F.max(y)).first()
                clustered = df.withColumn(
                    "__cluster",
                    morton2(_grid(F.col(x), xlo, xhi), _grid(F.col(y), ylo, yhi)),
                )
            else:
                raise ValueError("cluster_by supports 1 or 2 columns")
            keys = part_cols + ["__cluster"]
            writer = (
                clustered.repartitionByRange(n_files, *keys)
                .sortWithinPartitions(*keys)
                .drop("__cluster")
            )
        else:
            writer = (
                df.repartition(n_files, *part_cols)
                if part_cols
                else df.repartition(n_files)
            )
        w = writer.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(tmp)
        try:
            after = self.spark.read.parquet(tmp).count()
            if after != before:
                raise RuntimeError(
                    f"compaction row-count mismatch on {name}: {before} -> {after}"
                )
            guard = self._premanifest_marker(name, base)
            parts, stats, _ = self._ingest_files(tmp, name, len(part_cols))
            manifest = {
                "version": (base["version"] + 1) if base else 1,
                "partition_by": part_cols,
                "dtypes": [list(p) for p in df.dtypes],
                "partitions": parts,
                "stats": stats,
            }
            # meta (txn ledgers, index codebooks, generated-column defs)
            # MUST survive a layout rewrite — compaction changes files,
            # not table semantics. The deletion vector, by contrast, is
            # intentionally dropped: the read above applied it, so the
            # rewrite ABSORBED the deletes (OPTIMIZE-absorbs-DVs, exactly
            # like Delta's compaction rewriting DV-carrying files).
            if base is not None and base.get("meta") is not None:
                manifest["meta"] = base["meta"]
            # full compaction changes layout, not content (a pending DV is
            # absorbed — those rows were already logically deleted): an
            # empty change descriptor lets change-feed readers skip it
            manifest["cdc"] = {"key": None, "buckets": 0, "files": []}
            self._commit_manifest(name, manifest)
            self._clear_premanifest_marker(guard)
            self._vacuum(name, manifest)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return {
            "model": name,
            "files": n_files,
            "rows": after,
            "bytes": n_bytes,
            "cluster_by": cluster_by,
        }

    def optimize_incremental(
        self, name: str, *, target_file_mb: float = 128
    ) -> dict:
        """INCREMENTAL small-file compaction (Databricks' incremental
        OPTIMIZE): rewrite ONLY the partitions that are actually
        fragmented — every other partition's file list rides forward
        in the manifest BY NAME, untouched on disk. After one day's
        ingest, the optimize rewrites one day, not the table; a second
        call right after is a metadata-only no-op.

        Selection is self-describing, no bookkeeping meta needed: a
        partition is fragmented iff it holds more files than
        ceil(bytes / target_file_mb) — already-compacted partitions
        fail the predicate by construction, so "files added since the
        last optimize" emerges from the file lists themselves (and the
        decision reads only the manifest plus one stat() per file —
        no data opened). Per selected partition the rewrite reads
        through any pending deletion vector (its share of the deletes
        is absorbed physically; the vector rides forward and re-applies
        as a no-op — the same composition as the loosened DV merge).
        The driver loop is bounded by the number of FRAGMENTED
        partitions (the ingest frontier — days, not the table)."""
        from functools import reduce

        path = self.target_path(name)
        self._recover_orphan_versions(name)
        live = self.current_manifest(name)
        if live is None:
            raise RuntimeError(
                f"{name}: optimize_incremental needs a manifest-committed target"
            )
        part_cols = list(live.get("partition_by") or [])
        selected: dict[str, int] = {}
        touched: set[str] = set()
        for rel, fl in live["partitions"].items():
            if len(fl) <= 1:
                continue
            paths = [
                os.path.join(path, rel, f) if rel else os.path.join(path, f)
                for f in fl
            ]
            n_bytes = sum(os.path.getsize(p) for p in paths)
            need = int(max(1, -(-n_bytes // (target_file_mb * 1024 * 1024))))
            if len(fl) > need:
                selected[rel] = need
                touched.update(paths)
        if not selected:
            return {
                "op": "optimize-incremental",
                "partitions_rewritten": 0,
                "files_before": 0,
                "version": live["version"],
            }
        frames = [
            self.read_target(name, rels=[rel]).repartition(need)
            for rel, need in sorted(selected.items())
        ]
        # union preserves each branch's partitioning, so every selected
        # rel writes exactly its own `need` files under partitionBy
        out_df = reduce(lambda a, b: a.unionByName(b), frames)
        spec = ModelSpec(name, None, None, None)
        emap = self._entry_lookup(name, path, live, touched)
        # cdc_empty: compaction is a pure layout rewrite — change-feed
        # readers skip this version without diffing anything
        manifest = self._commit_file_rewrite(
            spec, live, emap, touched, out_df, cdc_empty=True
        )
        return {
            "op": "optimize-incremental",
            "partitions_rewritten": len(selected),
            "files_before": len(touched),
            "version": manifest["version"],
        }


# ---------------------------------------------------------------------------
# Snapshots (SCD Type 2) — dbt's snapshot materialization, check strategy
# ---------------------------------------------------------------------------

def run_snapshot(
    spark: SparkSession,
    target: str,
    source: DataFrame,
    *,
    unique_key: str,
    check_cols: list[str],
    run_date: dt.date,
    invalidate_hard_deletes: bool = False,
) -> None:
    """dbt ``snapshot`` materialization (check strategy, SCD Type 2) — the
    reference repo ships an empty ``snapshots/`` dir; this is the engine
    feature a dbt user would expect behind it.

    First run: every source row becomes an open version
    (``dbt_valid_from = run_date``, ``dbt_valid_to = NULL``). Later runs,
    per ``unique_key``: if the ``check_cols`` content hash changed, the
    open version is closed (``dbt_valid_to = run_date``) and a new open
    version inserted; brand-new keys insert an open version; unchanged
    keys are untouched. Vanished keys (present as an open version,
    absent from the source) are untouched by default (dbt's default) —
    with ``invalidate_hard_deletes=True`` (the dbt snapshot config of
    the same name) their open version is CLOSED at ``run_date``, so a
    source-side hard delete ends the entity's validity interval instead
    of leaving a forever-open ghost.

    Scale: the change detection is two hash-equi-joins on the unique key
    (semi/anti forms — the closed/insert sets are usually a small fraction
    of the table); history rows pass through untouched. On a lakehouse
    this maps 1:1 onto a MERGE with whenMatched/whenNotMatched clauses.
    """
    from mycarely_saas_dbt_spark.functions.dialect import surrogate_key

    src = source.select(unique_key, *check_cols).withColumn(
        "dbt_scd_hash", surrogate_key(*check_cols)
    )
    if not os.path.isdir(target):
        final = src.withColumn("dbt_valid_from", F.lit(run_date)).withColumn(
            "dbt_valid_to", F.lit(None).cast("date")
        )
    else:
        cur = spark.read.parquet(target)
        active = cur.filter(F.col("dbt_valid_to").isNull())
        history = cur.filter(F.col("dbt_valid_to").isNotNull())
        changed_keys = (
            active.select(unique_key, F.col("dbt_scd_hash").alias("__old_hash"))
            .join(src.select(unique_key, "dbt_scd_hash"), unique_key)
            .filter(F.col("dbt_scd_hash") != F.col("__old_hash"))
            .select(unique_key)
        )
        new_keys = src.select(unique_key).join(
            active.select(unique_key), unique_key, "left_anti"
        )
        close_keys = changed_keys
        if invalidate_hard_deletes:
            vanished = active.select(unique_key).join(
                src.select(unique_key), unique_key, "left_anti"
            )
            close_keys = changed_keys.unionByName(vanished)
        closed = active.join(close_keys, unique_key, "semi").withColumn(
            "dbt_valid_to", F.lit(run_date)
        )
        untouched = active.join(close_keys, unique_key, "left_anti")
        inserts = (
            src.join(changed_keys.unionByName(new_keys), unique_key, "semi")
            .withColumn("dbt_valid_from", F.lit(run_date))
            .withColumn("dbt_valid_to", F.lit(None).cast("date"))
        )
        final = (
            history.unionByName(untouched).unionByName(closed).unionByName(inserts)
        )
    tmp = f"{target}.tmp-{uuid.uuid4().hex[:8]}"
    final.write.mode("overwrite").parquet(tmp)
    bak = f"{target}.bak-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(target):
        os.rename(target, bak)
    os.rename(tmp, target)
    if os.path.isdir(bak):
        shutil.rmtree(bak)


# ---------------------------------------------------------------------------
# The three reference models as ModelSpecs (D1 config blocks + D5 DAG)
# ---------------------------------------------------------------------------

def _tp_build(spark, sf_dir, wm):
    from mycarely_saas_dbt_spark.plans.traffic_pages import traffic_pages_agg

    return traffic_pages_agg(spark, sf_dir, watermark=wm)


def _td_build(spark, sf_dir, wm):
    from mycarely_saas_dbt_spark.plans.traffic_daily import traffic_daily_agg

    return traffic_daily_agg(spark, sf_dir, watermark=wm)


def _la_pre_counts(spark, sf_dir):
    """LA's compile-time run_query+log observability block
    (models/lead_activities_agg.sql:9-31, D3)."""
    from mycarely_saas_dbt_spark.plans.traffic_pages import filtered_page_views
    from mycarely_saas_dbt_spark.sources.registry import register_sources

    register_sources(spark, sf_dir)
    leads = spark.table("lead_stage_change_events")
    ev = filtered_page_views(spark.table("atomic_events"), require_urlpath=False)
    return {
        "lead_count": leads.count(),
        "event_user_count": ev.select(F.countDistinct("domain_userid")).first()[0],
    }


def make_la_spec(runner: IncrementalRunner) -> ModelSpec:
    """LA reads TD's materialized output back as a source (the reference's
    ``source('public_public', 'traffic_daily_agg')`` quirk — SURVEY §1.1);
    the DAG edge is explicit here."""

    def build(spark, sf_dir, wm):
        from mycarely_saas_dbt_spark.plans.lead_activities import lead_activities_agg

        if not runner.target_exists("traffic_daily_agg"):
            raise RuntimeError(
                "lead_activities_agg reads the materialized traffic_daily_agg "
                "target (reference source-read-back, SURVEY §1.1); run "
                "traffic_daily_agg first or run the full DAG"
            )
        td = runner.read_target("traffic_daily_agg")
        return lead_activities_agg(spark, sf_dir, traffic_daily=td, watermark=wm)

    return ModelSpec(
        name="lead_activities_agg",
        unique_key="id",
        watermark_col="activity_date",
        build=build,
        pre_counts=_la_pre_counts,
        # id embeds activity_date -> per-partition merge == global merge
        partition_by=["activity_date"],
    )


# All three default specs date-partition their targets: incremental runs
# rewrite only the partitions the batch touches (pruned path above) and
# downstream date filters prune directories. Safe because each model's
# surrogate id includes its partition date, so a key never moves partitions.
TRAFFIC_PAGES_SPEC = ModelSpec(
    name="traffic_pages_agg",
    unique_key="id",
    watermark_col="date",
    build=_tp_build,
    partition_by=["date"],
)

TRAFFIC_DAILY_SPEC = ModelSpec(
    name="traffic_daily_agg",
    unique_key="id",
    watermark_col="spend_date",  # B2: events branch watermarks on spend_date
    build=_td_build,
    partition_by=["spend_date"],
)


# D5 dependency edges: the reference leaves TD->LA implicit in schema
# naming; we declare it. TP and TD are independent roots.
DAG_DEPS: dict[str, list[str]] = {
    "traffic_pages_agg": [],
    "traffic_daily_agg": [],
    "lead_activities_agg": ["traffic_daily_agg"],
}


def run_dag(
    spark: SparkSession,
    sf_dir: str,
    target_root: str,
    *,
    models: list[str] | None = None,
    full_refresh: bool = False,
    threads: int = 1,
) -> list[dict]:
    """Dependency-ordered run of the three reference models — dbt's
    ``threads`` execution model: with ``threads > 1``, models whose
    declared dependencies (DAG_DEPS) have completed run CONCURRENTLY
    (TP ∥ TD here, LA once TD lands). Spark schedules the concurrent
    jobs FIFO inside one application — on a real cluster this is how a
    dbt project saturates executors that one model's shuffle stages
    would leave idle. A failed model fails fast and skips its
    descendants (dbt semantics); results return in spec order."""
    runner = IncrementalRunner(spark, target_root)
    specs = {
        s.name: s
        for s in (TRAFFIC_PAGES_SPEC, TRAFFIC_DAILY_SPEC, make_la_spec(runner))
    }
    wanted = list(specs) if models is None else [m for m in specs if m in set(models)]
    results: dict[str, dict] = {}
    if threads <= 1:
        for name in wanted:  # insertion order is already topological
            results[name] = runner.run(specs[name], sf_dir, full_refresh=full_refresh)
        return [results[n] for n in wanted]

    import concurrent.futures as cf

    done: set[str] = set()
    failed: set[str] = set()
    pending = list(wanted)
    with cf.ThreadPoolExecutor(max_workers=threads) as pool:
        futures: dict = {}
        while pending or futures:
            ready = [
                n for n in pending
                if all(d in done or d not in wanted for d in DAG_DEPS.get(n, []))
                and not any(d in failed for d in DAG_DEPS.get(n, []))
            ]
            skipped = [
                n for n in pending
                if any(d in failed for d in DAG_DEPS.get(n, []))
            ]
            for n in skipped:
                pending.remove(n)
                results[n] = {"model": n, "mode": "skipped", "reason": "upstream failed"}
            for n in ready:
                pending.remove(n)
                futures[pool.submit(
                    runner.run, specs[n], sf_dir, full_refresh=full_refresh
                )] = n
            if not futures:
                break
            for fut in cf.as_completed(list(futures)):
                n = futures.pop(fut)
                try:
                    results[n] = fut.result()
                    done.add(n)
                except Exception as exc:
                    failed.add(n)
                    results[n] = {"model": n, "mode": "error", "error": str(exc)[:300]}
                break  # re-evaluate readiness after each completion
    if failed:
        raise RuntimeError(
            f"run_dag: models failed: {sorted(failed)} "
            f"({[results[n] for n in sorted(failed)]})"
        )
    return [results[n] for n in wanted if n in results]
