"""Views — named SQL definitions, including materialized views with refresh
(reference crates/driftdb-core/src/views.rs:30-119, refresh :541; executed by
re-running the view SQL inline, sql_bridge.rs:1203-1259).

``DriftSession`` owns plain and materialized views: a plain view is a Spark
temp view re-defined per statement from its stored SQL (Catalyst inlines
it — the reference's inline re-execution, minus the re-parse); a
materialized view persists its result to parquet and REFRESH recomputes it.
This module holds what they share: the versioned publish below, the
parsed-plan relation scan (``parsed_plan``, ``plan_relations``), and incremental
materialized views (``IncrementalViewRegistry``). On a cluster the parquet
write becomes a Delta table; the API is unchanged.

Materialized results publish through a VERSIONED pointer (``<stem>.current``
names the live data directory; the pointer rewrite is the single atomic
commit point via ``os.replace``) — a refresh that crashes mid-write leaves
the previous version live and readable, the same rename-into-place
discipline as the event log's batch publish (events.py:259-330).
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# -- atomic versioned publish -------------------------------------------------


def _pointer_path(storage_dir: str, stem: str) -> str:
    return os.path.join(storage_dir, f"{stem}.current")


def resolve_versioned(storage_dir: str, stem: str) -> str | None:
    """The live data directory for ``stem``, via its pointer file; falls
    back to the legacy unversioned ``<stem>.parquet`` layout."""
    ptr = _pointer_path(storage_dir, stem)
    if os.path.exists(ptr):
        with open(ptr) as fh:
            target = fh.read().strip()
        path = os.path.join(storage_dir, target)
        return path if os.path.exists(path) else None
    legacy = os.path.join(storage_dir, f"{stem}.parquet")
    return legacy if os.path.exists(legacy) else None


def publish_versioned(df: DataFrame, storage_dir: str, stem: str) -> str:
    """Write ``df`` to a fresh versioned directory, then atomically
    repoint ``<stem>.current`` (os.replace — POSIX-atomic). A crash
    before the repoint leaves the old version live; stale versions are
    swept only AFTER the pointer moves. Returns the new data path."""
    os.makedirs(storage_dir, exist_ok=True)
    ptr = _pointer_path(storage_dir, stem)
    current = None
    if os.path.exists(ptr):
        with open(ptr) as fh:
            current = fh.read().strip()
    n = 0
    if current:
        m = re.match(rf"{re.escape(stem)}\.v(\d+)\.parquet$", current)
        if m:
            n = int(m.group(1)) + 1
    new_name = f"{stem}.v{n}.parquet"
    new_path = os.path.join(storage_dir, new_name)
    df.write.mode("overwrite").parquet(new_path)
    tmp = ptr + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(new_name)
    os.replace(tmp, ptr)  # the commit point
    # Deferred sweep (keep N-1): the version superseded JUST NOW survives
    # this publish so an in-flight scan of it (a temp view registered over
    # the old path in another session) finishes on valid files; it is
    # removed by the NEXT publish. Everything older — plus the legacy
    # unversioned layout — goes now. A crash mid-sweep only leaks a dir
    # that the next publish sweeps again.
    keep = {new_name, current}
    for entry in os.listdir(storage_dir):
        if (
            entry.startswith(f"{stem}.v")
            and entry.endswith(".parquet")
            and entry not in keep
        ) or entry == f"{stem}.parquet":
            shutil.rmtree(os.path.join(storage_dir, entry), ignore_errors=True)
    return new_path


def drop_versioned(storage_dir: str, stem: str) -> None:
    """Remove every artifact of a versioned publish (pointer + data dirs
    + legacy layout)."""
    for entry in list(os.listdir(storage_dir)) if os.path.isdir(storage_dir) else []:
        if entry == f"{stem}.current" or (
            entry.startswith(f"{stem}.v") and entry.endswith(".parquet")
        ):
            full = os.path.join(storage_dir, entry)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.unlink(full)
    legacy = os.path.join(storage_dir, f"{stem}.parquet")
    shutil.rmtree(legacy, ignore_errors=True)


# -- incremental-view contract validation ------------------------------------

_RELATION_RE = re.compile(r"'UnresolvedRelation \[([^\]]+)\]")
_CTE_RE = re.compile(r"\bCTE \[([^\]]+)\]")
_AGGREGATE_RE = re.compile(r"'Aggregate \[([^\]]*)\]")
_GROUP_TOKEN_RE = re.compile(r"^'(?:\w+\.)?(\w+)$")


def parsed_plan(spark: SparkSession, sql: str) -> str:
    """``sql``'s UNRESOLVED parse plan as text: no analysis, no catalog
    lookups. Raises Spark's ParseException when the text does not parse."""
    return spark._jsparkSession.sessionState().sqlParser().parsePlan(sql).toString()


def plan_relations(plan: str) -> set[str]:
    """The relations a parsed (unresolved) plan string reads, lowercased.
    CTE aliases surface as UnresolvedRelation too (`CTE [t, u]` header,
    then 'UnresolvedRelation [t]); they are names the query defines
    itself, not catalog objects, so they are left out."""
    rels = {r.strip().lower() for r in _RELATION_RE.findall(plan)}
    ctes = {a.strip().lower() for m in _CTE_RE.findall(plan) for a in m.split(",")}
    return rels - ctes


def validate_incremental_contract(
    spark: SparkSession, sql: str, group_cols: list[str], source_view: str
) -> None:
    """Reject — LOUDLY, at CREATE — any definition the keyed-aggregate
    refresh math cannot maintain (a non-conforming definition would
    refresh silently stale: only ``source_view``'s events advance the
    bookkeeping). The parsed (unresolved) plan is inspected, not the
    text, so aliases/subquery shapes are seen through:

    - every referenced relation must be ``source_view`` (a join against
      a second table would never see that table's changes);
    - no window functions (frames cross group boundaries);
    - no LIMIT (the output would not be per-group determined);
    - the outermost GROUP BY must be exactly ``group_cols`` as bare
      columns (expression keys are not state columns, so the
      affected-group projection could not compute them); any nested
      aggregate must group by a superset of ``group_cols``.
    """
    plan = parsed_plan(spark, sql)
    rels = plan_relations(plan)
    if not rels:
        raise ValueError(
            "incremental view definition must read FROM the source table "
            f"'{source_view}'"
        )
    foreign = rels - {source_view.lower()}
    if foreign:
        raise ValueError(
            f"incremental view definition may only reference '{source_view}' "
            f"(found {sorted(foreign)}); a joined table's changes would "
            "never trigger a refresh — use a plain MATERIALIZED VIEW"
        )
    if "windowspecdefinition" in plan:
        raise ValueError(
            "incremental view definition may not use window functions "
            "(frames cross group boundaries); use a plain MATERIALIZED VIEW"
        )
    if "GlobalLimit" in plan or "LocalLimit" in plan:
        raise ValueError(
            "incremental view definition may not use LIMIT; use a plain "
            "MATERIALIZED VIEW"
        )
    groups = _AGGREGATE_RE.findall(plan)
    if not groups:
        raise ValueError(
            "incremental view definition must GROUP BY exactly "
            f"{group_cols} (a global aggregate cannot refresh per-group); "
            "use a plain MATERIALIZED VIEW"
        )
    want = {c.lower() for c in group_cols}

    def _tokens(group_list: str) -> set[str] | None:
        toks = set()
        for t in (x.strip() for x in group_list.split(",") if x.strip()):
            m = _GROUP_TOKEN_RE.match(t)
            if not m:
                return None  # expression key
            toks.add(m.group(1).lower())
        return toks

    top = _tokens(groups[0])
    if top is None or top != want:
        raise ValueError(
            f"the outermost GROUP BY must be exactly {sorted(want)} as "
            f"plain columns (got: {groups[0] or '<empty>'})"
        )
    for g in groups[1:]:
        toks = _tokens(g)
        if toks is None or not want.issubset(toks):
            raise ValueError(
                f"a nested GROUP BY must include all of {sorted(want)} "
                f"(got: {g or '<empty>'}) — otherwise its output rows mix "
                "input from multiple outer groups"
            )


@dataclass
class IncrementalView:
    """Bookkeeping for one incrementally-maintained materialized view."""

    sql: str
    source_view: str
    group_cols: list[str]
    last_seq: int
    last_refresh_groups: int = 0
    # the base log's rewrite generation at last (re)compute: incremental
    # maintenance is only sound while history BELOW the watermark is
    # immutable, and a compact/purge rewrite voids that (a purge removes
    # events without appending any, so the watermark alone sees nothing)
    rewrite_token: str = ""


def _log_rewrite_token(log) -> str:
    m = log.read_meta()
    return f"{m.get('generation', 0)}:{m.get('rewrite_id', '')}"


class IncrementalViewRegistry:
    """Incrementally-maintained materialized views over an event-backed
    table — the Delta Live Tables / Materialize keyed-aggregate shape.

    Contract (VALIDATED at create by :func:`validate_incremental_contract`):
    the view SQL is a GROUP BY over ``group_cols`` of ONE event-backed
    table (each output row is determined solely by its group's input
    rows). Under that contract refresh is proportional to the CHANGE,
    not the table:

    1. changed pks = distinct pks with events above the last refresh
       sequence — a scan with the sequence bound pushed down;
    2. affected groups = group keys of those pks in the OLD state
       (``AS OF`` the last refresh sequence — a row may have LEFT a
       group) ∪ the NEW state (it may have ENTERED one);
    3. the view SQL re-runs over the new state SEMI-JOINED to the
       affected group keys (the restriction lands below the aggregation
       because it keys on the group columns), producing fresh rows for
       exactly those groups;
    4. merged MV = old MV anti-join affected groups + fresh rows.

    Group-key joins use NULL-SAFE equality (``<=>``): a NULL group key is
    a real group (GROUP BY semantics), so its rows must still select for
    recompute and its old MV row must still be replaced.

    At 100 TB: steps 1-2 read only the event tail + two key-projected
    reconstructions; step 3 aggregates only the affected groups' rows;
    step 4 is an anti-join on group keys against the (aggregate-sized)
    MV. The reference refreshes views by full re-execution
    (views.rs:541); this is the scale path it gestures at."""

    def __init__(self, spark: SparkSession, storage_dir: str):
        self.spark = spark
        self.storage_dir = storage_dir
        self._views: dict[str, IncrementalView] = {}
        self._logs: dict[str, object] = {}
        self._schemas: dict[str, dict] = {}

    def _stem(self, name: str) -> str:
        return f"imv_{name}"

    def _current_path(self, name: str) -> str:
        path = resolve_versioned(self.storage_dir, self._stem(name))
        if path is None:
            raise FileNotFoundError(
                f"incremental view {name} has no stored result"
            )
        return path

    def create(
        self,
        name: str,
        log,
        schema_cols: dict,
        sql: str,
        group_cols: list[str],
        source_view: str,
    ) -> None:
        """Full initial computation; subsequent ``refresh`` calls are
        incremental. ``sql`` must read the base table via ``source_view``
        and GROUP BY ``group_cols`` — enforced, not assumed (a
        non-conforming definition would refresh silently stale)."""
        validate_incremental_contract(self.spark, sql, group_cols, source_view)
        self._logs[name] = log
        self._schemas[name] = dict(schema_cols)
        seq = log.last_sequence()
        log.state_df(schema_cols).drop("pk", "last_seq").createOrReplaceTempView(
            source_view
        )
        out = self.spark.sql(sql)
        missing = [c for c in group_cols if c not in out.columns]
        if missing:
            raise ValueError(
                f"group column(s) {missing} must appear in the view output"
            )
        path = publish_versioned(out, self.storage_dir, self._stem(name))
        self.spark.read.parquet(path).createOrReplaceTempView(name)
        self._views[name] = IncrementalView(
            sql,
            source_view,
            list(group_cols),
            seq,
            rewrite_token=_log_rewrite_token(log),
        )

    def load(
        self,
        name: str,
        log,
        schema_cols: dict,
        sql: str,
        group_cols: list[str],
        source_view: str,
        last_seq: int,
        rewrite_token: str | None = None,
    ) -> None:
        """Re-attach a persisted incremental view (catalog reopen): the
        STORED result re-registers without recompute; the saved
        ``last_seq`` watermark makes the next refresh exactly
        incremental over everything that landed since. A catalog saved
        before rewrite tokens existed (None) adopts the log's CURRENT
        token — the same no-rewrite-while-closed assumption the
        watermark itself already makes; newly saved catalogs carry the
        token so the window closes going forward."""
        self._logs[name] = log
        self._schemas[name] = dict(schema_cols)
        self.spark.read.parquet(self._current_path(name)).createOrReplaceTempView(
            name
        )
        self._views[name] = IncrementalView(
            sql,
            source_view,
            list(group_cols),
            last_seq,
            rewrite_token=(
                rewrite_token
                if rewrite_token is not None
                else _log_rewrite_token(log)
            ),
        )

    def drop(self, name: str) -> None:
        self._views.pop(name, None)
        self._logs.pop(name, None)
        self._schemas.pop(name, None)
        drop_versioned(self.storage_dir, self._stem(name))
        try:
            self.spark.catalog.dropTempView(name)
        except Exception:
            pass

    def refresh(self, name: str) -> int:
        """Incremental refresh; returns the number of groups recomputed.

        Runs under the base log's rewrite lock: the rewrite-token read
        and the (lazy) event/state reads must come from ONE generation —
        a compact/purge landing between them would slip under the old
        token, keep purged contributions through this refresh, and only
        heal on the next one. Locked, "an IMV fully recomputes on its
        first refresh after a rewrite" is airtight."""
        with self._logs[name]._rewrite_lock("imv_refresh"):
            return self._refresh_locked(name)

    def _refresh_locked(self, name: str) -> int:
        from functools import reduce

        from pyspark.sql import functions as F

        from driftdb_spark.temporal import AsOf

        iv = self._views[name]
        log, schema_cols = self._logs[name], self._schemas[name]
        new_seq = log.last_sequence()
        cur_token = _log_rewrite_token(log)
        if cur_token != iv.rewrite_token:
            # The base log was REWRITTEN (compact/purge) since the last
            # (re)compute: incremental maintenance is void — a purge
            # removes events BELOW the watermark without appending
            # anything, so the sequence delta sees nothing and the MV
            # would keep the purged rows' contributions forever (a
            # compliance leak, not just staleness — found r11 while
            # auditing the r10 sequence-clock bug's family). Recompute
            # the whole view from current state, exactly the create path.
            log.state_df(schema_cols).drop(
                "pk", "last_seq"
            ).createOrReplaceTempView(iv.source_view)
            out = self.spark.sql(iv.sql)
            path = publish_versioned(out, self.storage_dir, self._stem(name))
            fresh_mv = self.spark.read.parquet(path)
            fresh_mv.createOrReplaceTempView(name)
            iv.last_seq = new_seq
            iv.rewrite_token = cur_token
            iv.last_refresh_groups = fresh_mv.count()
            return iv.last_refresh_groups
        if new_seq == iv.last_seq:
            iv.last_refresh_groups = 0
            return 0
        changed = (
            log.events()
            .filter(F.col("sequence") > iv.last_seq)
            .select("pk")
            .distinct()
        )
        old_state = log.state_df(schema_cols, AsOf(sequence=iv.last_seq))
        new_state = log.state_df(schema_cols)
        affected = (
            old_state.join(changed, "pk", "left_semi")
            .select(*iv.group_cols)
            .unionByName(
                new_state.join(changed, "pk", "left_semi").select(*iv.group_cols)
            )
            .distinct()
        )
        affected = affected.persist()
        n_groups = affected.count()

        def _null_safe_on(left: DataFrame, right: DataFrame):
            # NULL group keys are real groups — plain equality would
            # neither recompute nor replace them (permanently stale).
            return reduce(
                lambda a, b: a & b,
                [left[c].eqNullSafe(right[c]) for c in iv.group_cols],
            )

        try:
            # restrict the view's INPUT to the affected groups: the semi-
            # join keys on the group columns, so it lands below the
            # aggregation and only those groups' rows re-aggregate
            src = new_state.drop("pk", "last_seq")
            aff_b = F.broadcast(affected)
            restricted = src.join(aff_b, _null_safe_on(src, affected), "left_semi")
            restricted.createOrReplaceTempView(iv.source_view)
            fresh = self.spark.sql(iv.sql)
            old_mv = self.spark.read.parquet(self._current_path(name))
            merged = old_mv.join(
                aff_b, _null_safe_on(old_mv, affected), "left_anti"
            ).unionByName(fresh)
            path = publish_versioned(merged, self.storage_dir, self._stem(name))
            self.spark.read.parquet(path).createOrReplaceTempView(name)
            iv.last_seq = new_seq
            iv.last_refresh_groups = n_groups
            return n_groups
        finally:
            affected.unpersist()
