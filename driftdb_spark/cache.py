"""Query-result cache with EXACT version-vector invalidation.

Re-expresses the reference's query cache (driftdb-core ``cache.rs``:
SHA256 query-hash keys scoped by user, LRU + TTL eviction, size caps,
hit/miss statistics, ``should_cache`` verb gating) with one deliberate
upgrade: the reference serves a cached entry until a TTL expires or
someone manually calls ``invalidate_pattern`` — a write inside the TTL
window serves STALE rows. Here the cache key embeds a **version vector**
of every table the statement reaches — the tables of its scope
(``DriftSession._scope``: named directly, in a view definition or in an
RLS predicate) — the sorted batch-directory listing plus snapshot
sequences of each table's event log (a pure ``os.listdir``, zero Spark
jobs, and exact: every published write changes the listing, and
compaction/purge rewrites it). A write therefore *changes the key*,
so staleness is structurally impossible and no TTL exists at all.

Scale posture: cached results are parquet directories under
``<storage>/_result_cache/`` — a hit is a distributed scan of the
materialized result, never a driver-memory replay, so caching a
million-row aggregate costs the driver nothing (the reference holds
results in process memory and caps entries at ~1000 × 1 MB,
cache.rs:38-47). The key path runs no Spark jobs; the only execution cost
of a miss over the uncached path is writing the result once instead of
streaming it.

What is cacheable (reference should_cache, cache.rs:132-164, same
policy): only statements that reach the Catalyst SELECT tail — DML/DDL/
transaction control never get here. Additionally bypassed: statements
inside an open transaction (buffered writes are invisible to the version
vector; the reference's ``cache_transactional`` defaults false),
``information_schema`` rewrites (they read live catalog, not logs), and
statements whose text or in-scope view definitions parse to a relation
that is not a catalog table or plain view (a temp view's content is
unversionable), or whose scope holds a materialized view. Temporal
``FOR SYSTEM_TIME`` reads cache like everything else (reference
``cache_temporal``): the AsOf target is part of the key, and the version
vector merely over-invalidates pinned-sequence reads (re-executes after
a write — correct, just conservative).

Security: the key includes the session's security context (user, roles,
superuser — reference CacheKey.user, cache.rs:66-73) AND a hash of the
RLS policy catalog + referenced view definitions, so a policy or view
redefinition invalidates every entry it could affect and two principals
never share rows through the cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections import OrderedDict

from driftdb_spark.temporal import parse_system_time
from driftdb_spark.views import parsed_plan, plan_relations

__all__ = ["ResultCache"]


class ResultCache:
    """LRU parquet-backed result cache for one :class:`DriftSession`."""

    def __init__(
        self,
        session,
        max_entries: int = 64,
        max_bytes: int = 256 * 1024 * 1024,
    ):
        import uuid

        self._sess = session
        self.max_entries = max_entries
        self.max_bytes = max_bytes
        # Instance-scoped directory: each enabled session (e.g. every wire
        # connection) owns its namespace, so enabling a second cache over
        # the same storage never deletes a sibling's live entries. Entries
        # are in-process state (the reference cache is too); close()
        # reclaims the directory, and admin.recover sweeps aged orphans
        # from crashed processes.
        self._dir = os.path.join(
            session.storage_dir, "_result_cache", uuid.uuid4().hex[:12]
        )
        os.makedirs(self._dir, exist_ok=True)
        self._entries: OrderedDict[str, dict] = OrderedDict()  # key -> meta
        # Evicted directories are swept one put-cycle LATE: a reader that
        # just received the DataFrame for an entry evicted by the very
        # next put can still finish its scan (same deferred-sweep pattern
        # as views.publish_versioned).
        self._sweep_queue: list[str] = []
        self._gen = 0  # unique dir per store: re-storing an evicted key
        # never reuses a path a queued sweep (or an in-flight reader of
        # the old copy) still points at
        self.hits = 0
        self.misses = 0
        self.evictions = 0
        self.bypasses = 0

    # -- keying ------------------------------------------------------------

    def _version_token(self, tables: list[str]) -> str:
        sess = self._sess
        h = hashlib.sha256()
        for t in sorted(tables):
            log, cols = sess._tables[t]
            h.update(t.encode())
            h.update(json.dumps(sorted(cols.items())).encode())
            h.update("\0".join(log._log_entries()).encode())
            h.update(json.dumps(log._snapshot_seqs()).encode())
            # entry NAMES are stable across a rewrite since r11 (uniform
            # batch-<minseq> naming + a never-regressing sequence clock),
            # so a purge can leave both hashes above unchanged while the
            # CONTENT shrank — the persisted rewrite generation is the
            # signal that the bytes behind the names changed
            h.update(json.dumps(log.read_meta(), sort_keys=True).encode())
        # policy / view-definition changes must invalidate too
        h.update(json.dumps(sess.rls.to_catalog(), sort_keys=True).encode())
        h.update(json.dumps(sess._views, sort_keys=True).encode())
        return h.hexdigest()

    def _key(self, clean: str, asof, args, tables: list[str]) -> str:
        sec = self._sess._security
        parts = [
            clean,
            repr(args),
            repr(
                (asof.sequence, str(asof.timestamp), asof.all_history,
                 str(asof.between), asof.half_open)
            ),
            repr(
                (sec.username, sorted(sec.roles), sec.is_superuser)
                if sec
                else None
            ),
            self._version_token(tables),
        ]
        return hashlib.sha256("\1".join(parts).encode()).hexdigest()

    def cacheable(self, clean: str, scope: list[str] | None) -> list[str] | None:
        """The tables that key ``clean``'s entry — every table in its
        scope (``DriftSession._scope``), so a table reached only through
        an RLS predicate counts too — or None when it is not cacheable:
        every relation ``clean`` and each in-scope view definition parse
        to must be a catalog table or plain view, and no materialized
        view may be in scope (its refresh is in no log listing)."""
        sess = self._sess
        if sess._active_txn is not None or scope is None:
            return None
        if "information_schema" in clean.lower():
            return None
        if any(name in sess._mviews for name in scope):
            return None
        try:
            rels = plan_relations(parsed_plan(sess.spark, clean))
            if not rels:  # zero relations (SELECT 1): not worth a slot
                return None
            for name in scope:
                if name in sess._views:
                    defn, _asof = parse_system_time(sess._views[name])
                    rels |= plan_relations(parsed_plan(sess.spark, defn))
        except Exception:  # unparsable text: the normal path raises the real error
            return None
        if any(r not in sess._tables and r not in sess._views for r in rels):
            return None
        return [n for n in scope if n in sess._tables]

    # -- storage -----------------------------------------------------------

    def lookup(self, key: str):
        meta = self._entries.get(key)
        if meta is None:
            self.misses += 1
            return None
        self._entries.move_to_end(key)  # LRU touch
        self.hits += 1
        from pyspark.sql.types import StructType

        return (
            self._sess.spark.read.schema(
                StructType.fromJson(meta["schema"])
            ).parquet(meta["path"])
        )

    def store(self, key: str, df):
        """Materialize ``df`` under the cache dir and return a DataFrame
        reading the materialized copy (so the caller's consumption never
        re-executes the plan). Oversized results are written, served once,
        and not retained."""
        self._gen += 1
        path = os.path.join(self._dir, f"{key[:24]}-{self._gen}")
        df.write.mode("overwrite").parquet(path)
        nbytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
        )
        schema_json = json.loads(df.schema.json())
        from pyspark.sql.types import StructType

        back = self._sess.spark.read.schema(
            StructType.fromJson(schema_json)
        ).parquet(path)
        if nbytes > self.max_bytes:
            # too large to retain (reference max_result_size gate,
            # cache.rs:203-209) — serve this execution, sweep later
            self._sweep_queue.append(path)
            return back
        self._entries[key] = {
            "path": path,
            "bytes": nbytes,
            "schema": schema_json,
        }
        self._evict()
        return back

    def _evict(self) -> None:
        # previous cycle's evictions are now safe to delete
        while self._sweep_queue:
            shutil.rmtree(self._sweep_queue.pop(), ignore_errors=True)
        total = sum(m["bytes"] for m in self._entries.values())
        while self._entries and (
            len(self._entries) > self.max_entries or total > self.max_bytes
        ):
            _k, meta = self._entries.popitem(last=False)
            total -= meta["bytes"]
            self.evictions += 1
            self._sweep_queue.append(meta["path"])

    # -- management (reference clear/statistics) ---------------------------

    def clear(self) -> None:
        for meta in self._entries.values():
            self._sweep_queue.append(meta["path"])
        self._entries.clear()

    def close(self) -> None:
        """Reclaim the instance directory (disable_result_cache and the
        wire server's per-connection teardown call this)."""
        self._entries.clear()
        self._sweep_queue.clear()
        shutil.rmtree(self._dir, ignore_errors=True)

    def statistics(self) -> dict:
        total = self.hits + self.misses
        return {
            "entries": len(self._entries),
            "total_bytes": sum(m["bytes"] for m in self._entries.values()),
            "hits": self.hits,
            "misses": self.misses,
            "bypasses": self.bypasses,
            "evictions": self.evictions,
            "hit_rate": round(self.hits / total, 4) if total else 0.0,
        }
