"""Generalized exact incremental view maintenance (r13) — ONE engine for
the IVM strategies (additive counters -> joins -> MIN/MAX extrema ->
COUNT DISTINCT support counts) that a user points at a change-data base.
Every registered IVM entry (ivmqueries.py) declares its view here and
refreshes it through these maintainers.

A :class:`MVDefinition` declares a grouped aggregate view over a
change-data base table; :class:`MaterializedViewMaintainer.refresh`
drains the base's pending versions with ONE batch read of its four-type
change feed (``IncrementalRunner.table_changes(..., preimages=True)``)
and applies it once with the DBSP/Materialize maintenance algebra:

  * ``count`` / ``sum``      — signed deltas, never a base read;
  * ``min`` / ``max``        — monotone extension when the algebra
    allows (insert-only or strictly-interior removals), a
    PARTITION-PRUNED per-group recompute when a removed value touches a
    stored extreme (conservative under duplicates — the one case signed
    deltas cannot absorb);
  * ``count_distinct``       — per-(group, value) SUPPORT COUNTS in a
    sibling manifest table (`<mv>__sup_<alias>`): support transitions
    0->positive / positive->0 move the distinct count; NULL values
    bypass the support table entirely (COUNT DISTINCT's NULL rule).

Scale contract (the 100 TB shape): MV, support tables, and the base
share a BUCKET partition column derived from the group keys
(``bucket_expr``), so every state/base probe resolves via
``read_target(rels=[...])`` — manifest-only file selection, no scan.
Per-batch work is change-proportional: only the touched-bucket list,
the recompute-group list (groups whose stored extreme was removed), and
one sanity aggregate collect to the driver; everything else — signed
deltas, support transitions, the cheap-path MV arithmetic — stays
distributed. Group tombstones need NO read: the signed count proves a
group emptied.

Feed positions: the consumed base version is each target's own txn
ledger entry (``merge_txn``), committed in the SAME manifest commit as
the data — no checkpoint or side file. A refresh reads the pending
range (consumed, current] in one batch call and applies it once, so the
probes' CURRENT state is the range-end state by construction. The first
refresh (nothing consumed) reads the base snapshot as inserts, the
initial-snapshot rule of a change-feed stream starting at version 0.

Crash ordering: the MV merge commits BEFORE the support merges. A crash
between them leaves the support ledgers one range behind the MV's; the
next refresh first re-applies exactly that range (consumed-by-support,
consumed-by-MV] under the MV's txn version, where ``apply_batch`` sees
the MV ledger already at it and SKIPS the MV-side delta computation and
its sanity asserts (they would recompute against post-merge state and
fire 'IVM state and feed disagree'), running only the support merges —
their transitions recompute correctly from the still-unchanged support.
Writing support first would make a replayed range compute transitions
from post-state.

Contracts (documented, fast-failed where checkable): the base commits
write-time change files (``ModelSpec.change_data=True``); group-by
columns are non-NULL (they become the concatenated state key — the
encoding itself is collision-free: hex per component, so '|' or any
other byte in a value can never merge two composite keys); min/max,
sum and avg source columns are non-NULL; sum/avg source columns are
numeric (validated against the base manifest's dtypes at construction
— aggregate outputs carry the SQL result type, never a silent bigint
truncation); the base's pending range stays inside its retained history
(``RETAIN_VERSIONS`` / ``RETENTION_SECONDS``).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import IncrementalRunner, ModelSpec

_ALLOWED = {"count", "sum", "min", "max", "count_distinct", "avg"}

_INTEGRAL = {"tinyint", "smallint", "int", "integer", "bigint", "long"}
_FLOATING = {"float", "double", "real"}


def _key_component(col) -> F.Column:
    """Collision-free state-key component: hex over the value's UTF-8
    bytes ('|' can never appear in [0-9A-F]), NULL marked 'N' (outside
    the hex alphabet) — composite keys whose values contain the
    separator can no longer merge state (ADVICE r13)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.hex(c.cast("string")), F.lit("N"))


def _sum_result_type(src_type: str, where: str) -> str:
    """The SQL SUM result type for a source column type — integral
    widens to bigint, floating to double, decimal(p,s) gains 10 digits
    of precision (Spark/ANSI rule). Non-numeric sources fast-fail:
    maintaining them would silently truncate through a bigint cast
    (ADVICE r13)."""
    t = src_type.strip().lower()
    if t in _INTEGRAL or t == "boolean":
        return "bigint"
    if t in _FLOATING:
        return "double"
    if t.startswith("decimal"):
        import re

        m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
        if m:
            p, s = int(m.group(1)), int(m.group(2))
            return f"decimal({min(p + 10, 38)},{s})"
        return t
    raise ValueError(f"{where}: SUM/AVG over non-numeric type {src_type!r}")


@dataclass(frozen=True)
class MVAggregate:
    """One output aggregate: ``kind`` in count | sum | min | max |
    count_distinct | avg; ``col`` is the source column (ignored for
    count); ``alias`` the MV output column. ``avg`` is maintained as an
    internal exact SUM over the (non-NULL-contract) source column and
    emitted as sum/count at read time — always double, the Spark/ANSI
    AVG result type for non-decimal inputs."""

    kind: str
    col: str | None
    alias: str


@dataclass
class MVDefinition:
    name: str                      # MV target table name
    base: str                      # change-data base model name
    base_key: str                  # the CDF key option (base unique_key)
    group_by: list[str]
    aggregates: list[MVAggregate]
    # SQL expression over the group-by columns yielding the bucket value
    # (e.g. "g % 8" or "extract(DAY FROM event_date) % 8"). The base must
    # be hive-partitioned by a column holding the SAME expression so the
    # recompute arm prunes; MV/support partition on it automatically.
    bucket_expr: str = ""
    bucket_col: str = "__mvb"
    # derived output columns computed at read() time over the group-by
    # columns and the maintained aggregate aliases — the reference's
    # `spend::float / NULLIF(traffic, 0)` shape
    # (models/lead_activities_agg.sql:108): list of (alias, SQL expr).
    derived: list = field(default_factory=list)
    # write change files on the MV itself, so a downstream maintainer
    # (e.g. a JoinViewMaintainer whose fact is this MV — the reference's
    # aggregate-then-join traffic_daily shape) can chain off its feed
    emit_changes: bool = False

    def __post_init__(self) -> None:
        bad = [a.kind for a in self.aggregates if a.kind not in _ALLOWED]
        if bad:
            raise ValueError(f"{self.name}: unsupported aggregate kinds {bad}")
        names = [a.alias for a in self.aggregates] + [d[0] for d in self.derived]
        if len(names) != len(set(names)):
            raise ValueError(f"{self.name}: duplicate aggregate aliases")


def _pending(
    runner: IncrementalRunner, model: str, key: str, lo: int | None, hi: int
) -> DataFrame:
    """``model``'s four-type change rows over the version range (lo, hi]
    in one batch read. ``lo`` None = nothing consumed yet: the snapshot
    at ``hi`` arrives as inserts (the initial-snapshot rule)."""
    if lo is None:
        return runner.read_target(model, version=hi).withColumn(
            "_change_type", F.lit("insert")
        )
    return runner.table_changes(model, key, lo, hi, preimages=True)


class MaterializedViewMaintainer:
    """Maintains one :class:`MVDefinition` exactly off its base's
    four-type change feed. ``refresh(spark)`` drains pending base
    versions (one batch read, one apply); ``read(spark)`` returns the
    MV's current rows under the declared aliases. ``path_log`` records,
    per applied batch, (probe rels, committed rels, n recompute groups)
    — the change-proportionality audit trail entries assert on."""

    def __init__(self, runner: IncrementalRunner, mv: MVDefinition):
        self.runner = runner
        self.mv = mv
        m = runner.current_manifest(mv.base)
        if m is None:
            raise RuntimeError(f"{mv.name}: base {mv.base!r} is not committed")
        # change-data detection is version-aware: the v1 bootstrap CTAS
        # stamps no cdc descriptor (the stream serves it as snapshot
        # inserts), but every MUTATING commit on a change_data table
        # does — so past v1 a missing descriptor means the base never
        # opted in and maintenance would silently fall back to
        # snapshot-diff scans (correct, but not change-proportional).
        if m["version"] > 1 and m.get("cdc") is None:
            raise RuntimeError(
                f"{mv.name}: base {mv.base!r} writes no change files — MV "
                "maintenance needs ModelSpec.change_data=True on the base"
            )
        if mv.bucket_expr:
            pby = m.get("partition_by") or []
            if not pby:
                raise RuntimeError(
                    f"{mv.name}: bucket_expr set but base {mv.base!r} is "
                    "unpartitioned — the recompute arm could never prune; "
                    "partition the base by the bucket column"
                )
            # the BASE's own partition column names the recompute arm's
            # rels (ADVICE r13: naming them with mv.bucket_col silently
            # resolved an EMPTY base slice whenever the names differed —
            # resolved_files drops rels not in the manifest)
            self.base_bucket = pby[0]
        else:
            self.base_bucket = None
        self.G = list(mv.group_by)
        # avg is maintained as an internal exact SUM (read() divides by
        # __n — valid under the documented non-NULL source contract)
        self.stored: list[MVAggregate] = []
        self._avg_hidden: dict[str, str] = {}
        for a in mv.aggregates:
            if a.kind == "avg":
                hidden = f"__avgsum_{a.alias}"
                self._avg_hidden[a.alias] = hidden
                self.stored.append(MVAggregate("sum", a.col, hidden))
            else:
                self.stored.append(a)
        # SQL result types per stored aggregate (ADVICE r13: a blanket
        # bigint cast silently truncated fractional sums/extrema)
        dtypes = dict(m.get("dtypes") or [])
        self.out_types: dict[str, str] = {}
        for a in self.stored:
            if a.kind in ("count", "count_distinct"):
                self.out_types[a.alias] = "bigint"
                continue
            src = dtypes.get(a.col)
            if src is None:
                raise ValueError(
                    f"{mv.name}: aggregate {a.alias!r} reads column "
                    f"{a.col!r} which base {mv.base!r} does not have"
                )
            self.out_types[a.alias] = (
                _sum_result_type(src, f"{mv.name}.{a.alias}")
                if a.kind == "sum"
                else src
            )
        self.mm = [a for a in self.stored if a.kind in ("min", "max")]
        self.sums = [a for a in self.stored if a.kind == "sum"]
        self.distincts = [a for a in self.stored if a.kind == "count_distinct"]
        self.mv_spec = ModelSpec(
            mv.name, "__gk", "__gk", None,
            partition_by=[mv.bucket_col] if mv.bucket_expr else [],
            tombstone_col="__del",
            change_data=mv.emit_changes,
        )
        self.sup_specs = {
            a.alias: ModelSpec(
                f"{mv.name}__sup_{a.alias}", "__sk", "__sk", None,
                partition_by=[mv.bucket_col] if mv.bucket_expr else [],
                tombstone_col="__del",
            )
            for a in self.distincts
        }
        # (target, txn app id) per ledger — MV first, then supports; the
        # ledger version is the base version that target has consumed
        self.ledgers = {None: (mv.name, f"ivm_{mv.name}")}
        for a in self.distincts:
            self.ledgers[a.alias] = (
                self.sup_specs[a.alias].name, f"ivm_{mv.name}_sup_{a.alias}"
            )
        self.path_log: list = []

    # -- key/bucket helpers -------------------------------------------------
    def _gk(self):
        return F.concat_ws(
            "|", *[_key_component(c) for c in self.G]
        ).alias("__gk")

    def _bucket(self):
        return F.expr(self.mv.bucket_expr).cast("bigint").alias(
            self.mv.bucket_col
        )

    def _rels(self, bucket_values) -> list[str]:
        return sorted({f"{self.mv.bucket_col}={int(b)}" for b in bucket_values})

    def _state_slice(self, name: str, rels, cols) -> DataFrame:
        if not self.runner.target_exists(name):
            return None
        kw = {"rels": rels} if (rels is not None and self.mv.bucket_expr) else {}
        return self.runner.read_target(name, **kw).select(*cols)

    # -- the maintenance algebra --------------------------------------------
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        mv, runner, G = self.mv, self.runner, self.G
        rows = batch_df.persist()
        try:
            if not rows.count():
                return
            sign_pos = F.col("_change_type").isin("insert", "update_postimage")
            pos, neg = rows.filter(sign_pos), rows.filter(~sign_pos)

            def side_stats(df, tag):
                aggs = [F.count(F.lit(1)).alias(f"{tag}_n")]
                for a in self.sums:
                    aggs.append(F.sum(a.col).alias(f"{tag}_sum_{a.alias}"))
                for a in self.mm:
                    aggs.append(F.min(a.col).alias(f"{tag}_min_{a.alias}"))
                    aggs.append(F.max(a.col).alias(f"{tag}_max_{a.alias}"))
                return df.groupBy(*G).agg(*aggs)

            st = side_stats(pos, "i").join(side_stats(neg, "d"), G, "full")
            # distinct-aggregate support transitions (one sibling table
            # per count_distinct; NULL values bypass — the SQL rule)
            sup_updates: dict[str, DataFrame] = {}
            for a in self.distincts:
                d = (
                    rows.filter(F.col(a.col).isNotNull())
                    .select(
                        *G, F.col(a.col).alias("__u"),
                        F.when(sign_pos, F.lit(1)).otherwise(-1).alias("__d"),
                    )
                    .groupBy(*G, "__u")
                    .agg(F.sum("__d").alias("__d"))
                    .filter(F.col("__d") != 0)
                )
                sup_updates[a.alias] = d
            # touched buckets: driver-bounded (<= groups in the batch)
            touched_g = st.select(*G).distinct().persist()
            if mv.bucket_expr:
                buckets = [
                    r["b"]
                    for r in touched_g.select(
                        F.expr(mv.bucket_expr).cast("bigint").alias("b")
                    ).distinct().collect()
                ]
                rels = self._rels(buckets)
            else:
                rels = None
            committed = (
                sorted(runner.current_manifest(mv.name)["partitions"])
                if runner.target_exists(mv.name)
                else []
            )
            z = F.lit(0).cast("bigint")

            def sup_transitions(a):
                """Join this distinct-aggregate's batch deltas onto the
                still-unchanged support slice: __s_old/__s_new per
                (group, value)."""
                old_sup = self._state_slice(
                    self.sup_specs[a.alias].name, rels, [*G, "__u", "__s"]
                )
                d = sup_updates[a.alias]
                if old_sup is None:
                    old_sup = d.limit(0).select(
                        *G, "__u", F.lit(0).cast("bigint").alias("__s")
                    )
                return d.join(old_sup, [*G, "__u"], "left").select(
                    *G, "__u", "__d",
                    F.coalesce(F.col("__s"), z).alias("__s_old"),
                    (F.coalesce(F.col("__s"), z) + F.col("__d")).alias(
                        "__s_new"
                    ),
                ).persist()

            # replayed range (ADVICE r13): if the MV merge for this
            # batch_id already committed (crash between the MV commit
            # and the support commits), recomputing MV deltas here would
            # read POST-merge state and fire the sanity assert. Skip
            # straight to the support merges — each is idempotent via
            # its own ledger, and the support transitions recompute
            # correctly from the still-unchanged support.
            app_id = self.ledgers[None][1]
            last = runner.txn_last_version(mv.name, app_id)
            if last is not None and last >= batch_id:
                for a in self.distincts:
                    tj = sup_transitions(a)
                    self._merge_support(a, tj, batch_id)
                    tj.unpersist()
                touched_g.unpersist()
                return
            old_cols = (
                [*G, F.col("__n").alias("o___n")]
                + [
                    F.col(a.alias).alias(f"o_{a.alias}")
                    for a in self.stored
                ]
            )
            old = self._state_slice(mv.name, rels, old_cols)
            if old is None:
                old = touched_g.limit(0).select(
                    *G, F.lit(0).cast("bigint").alias("o___n"),
                    *[
                        F.lit(None).cast(self.out_types[a.alias]).alias(
                            f"o_{a.alias}"
                        )
                        for a in self.stored
                    ],
                )
            j = st.join(old, G, "left")
            # distinct-aggregate support transitions join the group frame
            # BEFORE classification so the sanity collect below covers
            # negative supports too — no extra action spent on them
            for a in self.distincts:
                tj = sup_transitions(a)
                trans = tj.groupBy(*G).agg(
                    F.sum(
                        F.when(
                            (F.col("__s_old") == 0) & (F.col("__s_new") > 0),
                            1,
                        ).otherwise(0)
                    ).alias(f"__uinc_{a.alias}"),
                    F.sum(
                        F.when(
                            (F.col("__s_old") > 0) & (F.col("__s_new") == 0),
                            1,
                        ).otherwise(0)
                    ).alias(f"__udec_{a.alias}"),
                    F.sum(
                        F.when(F.col("__s_new") < 0, 1).otherwise(0)
                    ).alias(f"__negsup_{a.alias}"),
                )
                j = j.join(trans, G, "left")
                sup_updates[a.alias] = tj  # carries __s_new for the write
            j = j.persist()
            i_n = F.coalesce(F.col("i_n"), z)
            d_n = F.coalesce(F.col("d_n"), z)
            o_n = F.coalesce(F.col("o___n"), z)
            n_new = (o_n + i_n - d_n).alias("__n_new")
            first_seen = F.col("o___n").isNull()
            # a removed value touching ANY stored extreme forces the
            # group onto the recompute arm (conservative — duplicates)
            rec_cond = F.lit(False)
            for a in self.mm:
                side = "min" if a.kind == "min" else "max"
                d_ext = F.col(f"d_{side}_{a.alias}")
                o_ext = F.col(f"o_{a.alias}")
                hit = (
                    d_ext <= o_ext if a.kind == "min" else d_ext >= o_ext
                )
                rec_cond = rec_cond | (d_ext.isNotNull() & hit)
            rec_cond = (~first_seen) & (d_n > 0) & rec_cond & (
                (o_n + i_n - d_n) > 0
            )
            classified = j.select(
                *G, n_new, first_seen.alias("__first"),
                rec_cond.alias("__rec"),
                *[c for c in j.columns if c not in G],
            ).persist()
            # one change-proportional collect: the recompute-group list
            # plus the sanity flags (preimages for a group the MV never
            # saw, or a group going negative = feed/state disagreement)
            bad_expr = (F.col("__n_new") < 0) | (F.col("__first") & (d_n > 0))
            for a in self.distincts:
                bad_expr = bad_expr | (
                    F.coalesce(F.col(f"__negsup_{a.alias}"), z) > 0
                )
            flagged = classified.select(
                *G, "__rec", bad_expr.alias("__bad")
            ).filter(F.col("__rec") | F.col("__bad")).collect()
            assert not any(r["__bad"] for r in flagged), (
                f"{mv.name}: IVM state and feed disagree"
            )
            rec_groups = [r for r in flagged if r["__rec"]]
            self.path_log.append((rels or [], committed, len(rec_groups)))
            # cheap path: distributed arithmetic for every non-recompute
            # group (incl. first-seen and tombstones); the distinct
            # transition columns already ride on the classified frame
            cheap = classified.filter(~F.col("__rec"))
            out_cols = [self._gk(), *[F.col(c) for c in G]]
            for a in self.stored:
                o = F.coalesce(F.col(f"o_{a.alias}"), z)
                if a.kind == "count":
                    expr = F.col("__n_new")
                elif a.kind == "sum":
                    expr = (
                        o
                        + F.coalesce(F.col(f"i_sum_{a.alias}"), z)
                        - F.coalesce(F.col(f"d_sum_{a.alias}"), z)
                    )
                elif a.kind == "count_distinct":
                    expr = (
                        o
                        + F.coalesce(F.col(f"__uinc_{a.alias}"), z)
                        - F.coalesce(F.col(f"__udec_{a.alias}"), z)
                    )
                else:  # min / max: monotone extension (cheap path only)
                    side = a.kind
                    i_ext = F.col(f"i_{side}_{a.alias}")
                    o_ext = F.col(f"o_{a.alias}")
                    fold = F.least if a.kind == "min" else F.greatest
                    expr = F.when(F.col("__first"), i_ext).otherwise(
                        F.when(i_ext.isNull(), o_ext).otherwise(
                            fold(o_ext, i_ext)
                        )
                    )
                out_cols.append(
                    expr.cast(self.out_types[a.alias]).alias(a.alias)
                )
            out_cols.append(F.col("__n_new").cast("bigint").alias("__n"))
            if mv.bucket_expr:
                out_cols.append(self._bucket())
            out_cols.append((F.col("__n_new") == 0).alias("__del"))
            mv_out = cheap.select(*out_cols)
            if rec_groups:
                # PRUNED per-group recompute: only the touched groups'
                # buckets are opened, manifest-resolved — rels named by
                # the BASE's own partition column (ADVICE r13)
                gdf = F.broadcast(
                    self.runner.spark.createDataFrame(
                        [tuple(r[c] for c in G) for r in rec_groups],
                        schema=touched_g.select(*G).schema,
                    )
                )
                rec_rels = (
                    sorted({
                        f"{self.base_bucket}={int(r['b'])}"
                        for r in gdf.select(
                            F.expr(mv.bucket_expr).cast("bigint").alias("b")
                        ).distinct().collect()
                    })
                    if mv.bucket_expr
                    else None
                )
                kw = {"rels": rec_rels} if rec_rels is not None else {}
                base_slice = runner.read_target(mv.base, **kw).join(
                    gdf, G, "semi"
                )
                rec_aggs = []
                for a in self.stored:
                    fn = {
                        "count": lambda c: F.count(F.lit(1)),
                        "sum": F.sum, "min": F.min, "max": F.max,
                        "count_distinct": F.count_distinct,
                    }[a.kind]
                    rec_aggs.append(
                        fn(a.col).cast(self.out_types[a.alias]).alias(a.alias)
                        if a.col
                        else fn(None).cast(self.out_types[a.alias]).alias(
                            a.alias
                        )
                    )
                rec_out = base_slice.groupBy(*G).agg(
                    *rec_aggs, F.count(F.lit(1)).cast("bigint").alias("__n")
                )
                rec_cols = [self._gk(), *[F.col(c) for c in G]]
                rec_cols += [F.col(a.alias) for a in self.stored]
                rec_cols.append(F.col("__n"))
                if mv.bucket_expr:
                    rec_cols.append(self._bucket())
                rec_cols.append(F.lit(False).alias("__del"))
                mv_out = mv_out.unionByName(rec_out.select(*rec_cols))
            # MV first, supports second (crash ordering — see module doc)
            runner.merge_txn(
                self.mv_spec, mv_out,
                app_id=app_id, txn_version=batch_id,
            )
            for a in self.distincts:
                tj = sup_updates[a.alias]
                self._merge_support(a, tj, batch_id)
                tj.unpersist()
            touched_g.unpersist()
            j.unpersist()
            classified.unpersist()
        finally:
            rows.unpersist()

    def _merge_support(self, a: MVAggregate, tj: DataFrame, batch_id: int):
        """Merge one distinct-aggregate's support transitions (``tj``
        carries __s_new per (group, value)) — idempotent per batch via
        the support table's own txn ledger."""
        mv, G = self.mv, self.G
        sup_cols = [
            F.concat_ws(
                "|",
                *[_key_component(c) for c in G],
                _key_component(F.col("__u")),
            ).alias("__sk"),
            *[F.col(c) for c in G],
            F.col("__u"),
            F.col("__s_new").cast("bigint").alias("__s"),
        ]
        if mv.bucket_expr:
            sup_cols.append(self._bucket())
        sup_cols.append((F.col("__s_new") == 0).alias("__del"))
        self.runner.merge_txn(
            self.sup_specs[a.alias], tj.select(*sup_cols),
            app_id=self.ledgers[a.alias][1],
            txn_version=batch_id,
        )

    # -- batch drain ----------------------------------------------------
    def refresh(self, spark: SparkSession | None = None) -> None:
        """Drain the pending base versions (consumed, current] with ONE
        batch read of the change feed and ONE ``apply_batch`` — the
        probes read CURRENT state, which is the range-end state because
        the whole range is one apply. Consumed positions are the
        targets' own txn ledgers, committed with the data (no
        checkpoint); nothing pending commits nothing. They differ only
        after a crash between the MV and support commits: the lagging
        supports' range is then re-applied first, exactly as it ran
        (the MV side skips via its ledger), before the regular drain.
        ``spark`` is accepted for call compatibility; the runner's
        session does the work."""
        runner, mv = self.runner, self.mv
        end = runner.current_manifest(mv.base)["version"]
        done = sorted(
            {runner.txn_last_version(*t) for t in self.ledgers.values()},
            key=lambda v: -1 if v is None else v,
        )
        for lo, hi in zip(done, [*done[1:], end]):
            if lo != hi:
                self.apply_batch(
                    _pending(runner, mv.base, mv.base_key, lo, hi), hi
                )

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        """Current MV rows under the declared output columns: stored
        aggregates verbatim, avg emitted as sum/count (exact — both
        maintained), then the derived expressions over all of them."""
        cols = [F.col(c) for c in self.G]
        for a in self.mv.aggregates:
            if a.kind == "avg":
                cols.append(
                    (
                        F.col(self._avg_hidden[a.alias]).cast("double")
                        / F.col("__n")
                    ).alias(a.alias)
                )
            else:
                cols.append(F.col(a.alias))
        out = self.runner.read_target(self.mv.name).select(*cols)
        if self.mv.derived:
            out = out.selectExpr(
                "*", *[f"({expr}) AS {alias}" for alias, expr in self.mv.derived]
            )
        return out


# view-manifest meta key holding the join view's {fact, dim} positions
_JV_POSITIONS = "feed_positions"


@dataclass
class JoinViewDefinition:
    """A row-level fact ⋈ dim join view maintained off BOTH tables'
    change feeds — the delta-join ΔJ = ΔF ⋈ D' ∪ F' ⋈ ΔD, which the
    streaming_ivm_join entries and jv_incremental_refresh run on.
    ``fact_cols``/``dim_cols`` are the payload
    columns from each side; the output schema is
    (fact_key, *fact-side join cols, *fact_cols, *dim_cols).

    r14 generalization (the reference's traffic_daily join shape —
    models/traffic_daily_agg.sql:106-109):
      * COMPOSITE equi-keys via ``join_on`` = [(fact_col, dim_col), ...]
        (``join_key`` remains the single-key shorthand);
      * ``how='left'``: a fact row with no dim match STAYS in the view
        with NULL dim columns, and a dim insert/delete flips it in
        place (the J1 left join with a constant predicate in the ON);
      * ``fact_match_pred``: a constant SQL predicate over fact columns
        ANDed into the ON — rows failing it behave as unmatched (the
        reference's ``et.traffic_type = 'paid'``);
      * ``dim_filter``: a SQL predicate over dim rows (the reference's
        ``cs.spend IS NOT NULL``) — a dim update crossing the filter
        boundary arrives as pre/post images, so affected keys are
        derived from the key tuple regardless of the filter;
      * FAN-OUT: multiple dim rows may share a key tuple. The view's
        merge is delete+insert by ``fact_key`` (key-GROUP replace), so
        an affected key's row set is atomically replaced — no per-row
        identity needed.

    Inner-join semantics (``how='inner'``, the default): a fact row
    whose dim vanishes leaves the view (tombstone), and returns when
    the dim key is re-inserted."""

    name: str
    fact: str                   # change-data fact model
    fact_key: str               # row identity (the view's unique key)
    dim: str                    # change-data dim model (broadcast-scale)
    join_key: str = ""          # single equi-join column shorthand
    fact_cols: list[str] = field(default_factory=list)
    dim_cols: list[str] = field(default_factory=list)
    # bucket expr over the fact-side join columns matching the FACT's
    # hive partition col — makes both base probes
    # read_target(rels=...)-prunable
    fact_bucket_expr: str = ""
    fact_bucket_col: str = ""
    # bucket expr over fact_key for the VIEW's own partitioning
    view_bucket_expr: str = ""
    view_bucket_col: str = "__jvb"
    # composite equi-keys: [(fact_col, dim_col), ...] — supersedes
    # join_key when set
    join_on: list = field(default_factory=list)
    how: str = "inner"          # 'inner' | 'left'
    fact_match_pred: str = ""   # constant ON-predicate over fact cols
    dim_filter: str = ""        # row filter over the dim
    # the dim's CDF netting key (its unique_key); defaults to the dim
    # side of a single-column join
    dim_key: str = ""
    # write change files on the view itself so a downstream maintainer
    # can chain off its feed (aggregate-over-join composition).
    # Contract: requires a NON-fanning join (≤1 dim row per key tuple) —
    # the change feed nets per fact_key
    emit_changes: bool = False

    def __post_init__(self) -> None:
        if self.how not in ("inner", "left"):
            raise ValueError(f"{self.name}: how must be inner|left")
        if not self.join_on:
            if not self.join_key:
                raise ValueError(
                    f"{self.name}: set join_key or join_on"
                )
            self.join_on = [(self.join_key, self.join_key)]
        if not self.dim_key:
            if len(self.join_on) != 1:
                raise ValueError(
                    f"{self.name}: composite join_on needs an explicit "
                    "dim_key (the dim's unique_key for its change feed)"
                )
            self.dim_key = self.join_on[0][1]


class JoinViewMaintainer:
    """Maintains one :class:`JoinViewDefinition` exactly off a UNION of
    the fact's and dim's four-type feeds, read in one batch per refresh
    (both feed positions commit atomically with the view's data). Per
    batch, the affected key set is

        keys = keys(ΔF)  ∪  keys(F'[pred] ⋉ join_keys(ΔD))

    and the view rows for those keys are recomputed from the CURRENT
    fact slice joined (inner or LEFT) to the CURRENT filtered dim —
    keys with no surviving fact row (inner: no surviving match)
    tombstone, and the merge's delete+insert-by-key replaces each
    affected key's whole row GROUP (fan-out safe). Both fact probes are
    PARTITION-PRUNED from the change rows alone when
    ``fact_bucket_expr`` is set: the dim-churn probe opens only buckets
    that can hold a changed join key, and the key probe's bucket set
    comes from the netted change images (the post-image IS the key's F'
    state) plus the pruned slice — manifest-only file selection,
    asserted via ``path_log``. Change-proportional: only the changed
    join-key lists collect to the driver (the dim is broadcast-scale by
    contract). Same CURRENT-state contract as the aggregate maintainer:
    one refresh is one apply over the whole pending range."""

    def __init__(self, runner: IncrementalRunner, jv: JoinViewDefinition):
        self.runner = runner
        self.jv = jv
        for model in (jv.fact, jv.dim):
            m = runner.current_manifest(model)
            if m is None:
                raise RuntimeError(
                    f"{jv.name}: base {model!r} is not committed"
                )
            if m["version"] > 1 and m.get("cdc") is None:
                raise RuntimeError(
                    f"{jv.name}: base {model!r} writes no change files — "
                    "join-view maintenance needs ModelSpec.change_data=True"
                )
        self.FJ = [fc for fc, _ in jv.join_on]  # fact-side join cols
        if jv.fact_bucket_expr:
            pby = runner.current_manifest(jv.fact).get("partition_by") or []
            if not pby:
                raise RuntimeError(
                    f"{jv.name}: fact_bucket_expr set but fact {jv.fact!r} "
                    "is unpartitioned — the probes could never prune"
                )
            if jv.fact_bucket_col and jv.fact_bucket_col != pby[0]:
                # ADVICE r13: resolved_files silently DROPS rels whose
                # name is not in the manifest — a mismatched name would
                # read an empty fact slice and retain stale view rows
                raise RuntimeError(
                    f"{jv.name}: fact_bucket_col {jv.fact_bucket_col!r} "
                    f"does not match fact {jv.fact!r}'s partition column "
                    f"{pby[0]!r} — the pruned probes would resolve an "
                    "EMPTY slice"
                )
            self.fact_bucket_col = jv.fact_bucket_col or pby[0]
        else:
            self.fact_bucket_col = None
        out_parts = [jv.view_bucket_col] if jv.view_bucket_expr else []
        self.view_spec = ModelSpec(
            jv.name, jv.fact_key, jv.fact_key, None,
            partition_by=out_parts, tombstone_col="__del",
            change_data=jv.emit_changes,
        )
        self.path_log: list = []  # (d_rels, committed, files_ok|None)

    def _buckets(self, key_df: DataFrame) -> list[str]:
        """Bucket rels for the join keys in ``key_df`` (fact-side column
        names) — the bucket expr evaluates IN SPARK over the change rows
        (change-proportional: one distinct per batch side), then the
        tiny distinct set collects."""
        return sorted(
            f"{self.fact_bucket_col}={int(r['b'])}"
            for r in key_df.select(
                F.expr(self.jv.fact_bucket_expr).cast("bigint").alias("b")
            ).distinct().collect()
            if r["b"] is not None
        )

    def _dim_current(self) -> DataFrame:
        dim = self.runner.read_target(self.jv.dim)
        if self.jv.dim_filter:
            dim = dim.filter(F.expr(self.jv.dim_filter))
        return dim

    def apply_batch(
        self, batch_df: DataFrame, batch_id: int, positions: dict | None = None
    ) -> None:
        """Apply one batch of fact/dim change rows; ``positions`` (the
        feed versions the batch ends at) commit with the view's merge."""
        jv, runner, FJ = self.jv, self.runner, self.FJ
        rows = batch_df.persist()
        try:
            if not rows.count():
                return
            f_rows = rows.filter(F.col("_src") == "fact")
            d_keys_df = (
                rows.filter(F.col("_src") == "dim")
                .select(*FJ).distinct().persist()
            )
            fc_keys = f_rows.select(jv.fact_key).distinct()
            dim = self._dim_current()
            committed = sorted(runner.current_manifest(jv.fact)["partitions"])
            prune = self.fact_bucket_col is not None
            d_rels = self._buckets(d_keys_df) if prune else None
            f_rels = (
                self._buckets(f_rows.select(*FJ).distinct())
                if prune
                else None
            )
            has_d = bool(d_keys_df.count())
            has_f = f_rows.limit(1).count() > 0
            if has_d:
                kw = {"rels": d_rels} if prune else {}
                fslice = runner.read_target(jv.fact, **kw)
                files_ok = None
                if prune and not has_f:  # dim-only batch: pin the pruning
                    files = fslice.inputFiles()
                    files_ok = bool(files) and all(
                        any(f"/{r}/" in f for r in d_rels) for f in files
                    )
                self.path_log.append(
                    (d_rels or [], committed, files_ok)
                )
                # only fact rows that CAN match (fact_match_pred) are
                # affected by dim churn — others keep their view rows
                if jv.fact_match_pred:
                    fslice = fslice.filter(F.expr(jv.fact_match_pred))
                k_dim = fslice.join(
                    F.broadcast(d_keys_df), FJ, "semi"
                ).select(jv.fact_key)
                keys = fc_keys.unionByName(k_dim).distinct()
            else:
                self.path_log.append(([], committed, None))
                keys = fc_keys
            if prune:
                k_rels = sorted(
                    set(f_rels) | set(d_rels if has_d else [])
                )
                fact = runner.read_target(jv.fact, rels=k_rels)
            else:
                fact = runner.read_target(jv.fact)
            fa, da = fact.alias("__f"), dim.alias("__d")
            cond = None
            for fc, dc in jv.join_on:
                c = F.col(f"__f.{fc}") == F.col(f"__d.{dc}")
                cond = c if cond is None else (cond & c)
            if jv.fact_match_pred:
                cond = cond & F.expr(jv.fact_match_pred)
            out_cols = [
                F.col(f"__f.{jv.fact_key}").alias(jv.fact_key),
                *[F.col(f"__f.{c}").alias(c) for c in FJ],
                *[F.col(f"__f.{c}").alias(c) for c in jv.fact_cols],
                *[F.col(f"__d.{c}").alias(c) for c in jv.dim_cols],
            ]
            new = (
                fa.join(F.broadcast(keys), jv.fact_key, "semi")
                .join(da, cond, jv.how)
                .select(*out_cols, F.lit(True).alias("__alive"))
            )
            names = [jv.fact_key, *FJ, *jv.fact_cols, *jv.dim_cols]
            apply_cols = [F.col(c) for c in names]
            if jv.view_bucket_expr:
                apply_cols.append(
                    F.expr(jv.view_bucket_expr).cast("bigint").alias(
                        jv.view_bucket_col
                    )
                )
            apply_cols.append(F.col("__alive").isNull().alias("__del"))
            # key-GROUP replace: every affected key's old rows are
            # deleted by the merge; its new rows (0..n under fan-out)
            # insert; a key with NO new row tombstones via __del
            apply = keys.join(new, jv.fact_key, "left").select(*apply_cols)
            runner.merge_txn(
                self.view_spec, apply,
                app_id=f"jv_{jv.name}", txn_version=batch_id,
                meta_update={_JV_POSITIONS: positions} if positions else None,
            )
            d_keys_df.unpersist()
        finally:
            rows.unpersist()

    def refresh(self, spark: SparkSession | None = None) -> None:
        """Drain BOTH feeds' pending versions in one batch read and one
        ``apply_batch``. The fact and dim positions ride in the view's
        manifest meta, committed with its data (no checkpoint); the
        view's txn ledger counts applies. Nothing pending commits
        nothing. On the first refresh the fact snapshot arrives as
        inserts, which already makes every fact key affected, so the dim
        snapshot is not read. ``spark`` is accepted for call
        compatibility; the runner's session does the work."""
        jv, runner = self.jv, self.runner
        view = runner.current_manifest(jv.name) or {}
        pos = (view.get("meta") or {}).get(_JV_POSITIONS) or {}
        fact_m = runner.current_manifest(jv.fact)
        end = {
            "fact": fact_m["version"],
            "dim": runner.current_manifest(jv.dim)["version"],
        }
        fkey_t = dict(fact_m["dtypes"])[jv.fact_key]
        # both feeds project to (fact_key, *fact-side join cols): the
        # dim side renames its join columns to the fact-side names so
        # the bucket expr and the semi-join probe evaluate uniformly
        feeds = []
        if pos.get("fact") != end["fact"]:
            feeds.append(_pending(
                runner, jv.fact, jv.fact_key, pos.get("fact"), end["fact"]
            ).select(
                jv.fact_key, *self.FJ,
                F.lit("fact").alias("_src"), "_change_type",
            ))
        if "fact" in pos and pos["dim"] != end["dim"]:
            feeds.append(_pending(
                runner, jv.dim, jv.dim_key, pos["dim"], end["dim"]
            ).select(
                F.lit(None).cast(fkey_t).alias(jv.fact_key),
                *[F.col(dc).alias(fc) for fc, dc in jv.join_on],
                F.lit("dim").alias("_src"), "_change_type",
            ))
        if not feeds:
            return
        batch = functools.reduce(DataFrame.unionByName, feeds)
        applied = runner.txn_last_version(jv.name, f"jv_{jv.name}") or 0
        self.apply_batch(batch, applied + 1, end)

    def read(self, spark: SparkSession | None = None) -> DataFrame:
        jv = self.jv
        return self.runner.read_target(jv.name).select(
            jv.fact_key, *self.FJ, *jv.fact_cols, *jv.dim_cols
        )
