"""Administrative inspection surface — the reference's ``driftdb-admin``
tool (crates/driftdb-admin/src/main.rs:36-138: ``status | health | tables |
indexes | verify | config | migrate status | monitor``), Spark-first.

Commands that the reference admin tool has and this module deliberately
routes elsewhere:

- ``backup`` (main.rs:140-178) — already first-class in the CLI
  (``backup | restore | verify-backup``, backup.py).
- ``analyze`` / ``compact`` (main.rs:70-86) — already CLI verbs.
- ``connections`` / ``monitor`` live gauges (main.rs:111-119,372) — served
  by the HTTP health endpoint (observability.py) and ``SHOW STATUS``;
  ``admin status`` returns the same counter snapshot for one-shot use.
- ``replication`` / failover (main.rs:180-217) — documented out of scope
  (SURVEY §7.6: a Spark deployment delegates replica management to the
  cluster manager and replicated storage).

Everything here is read-only: inspection never takes the write path, so
it is safe to run against a directory another session is serving. The
per-table loops iterate the CATALOG (droplet-sized); all data-sized work
(duplicate scans, constraint validation, checksum reads) happens as Spark
jobs, so ``verify`` on a 100 TB table is a handful of distributed passes,
never a driver loop over rows.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import json
import os
import shutil

from pyspark.sql import functions as F

__all__ = [
    "status",
    "health_check",
    "verify_integrity",
    "index_stats",
    "config_dump",
    "migration_status",
    "recover",
]


def _conf_get(spark, key: str):
    try:
        return spark.conf.get(key)
    except Exception:
        return None  # no value and no engine default (e.g. spark.master on connect)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _rewrite_lock_state(log) -> dict:
    """Operator-facing rewrite-lock telemetry: is the table's rewrite
    flock held right now, and by whom. flock exposes no holder identity,
    so held-ness is a non-blocking LOCK_SH probe (shared: conflicts with
    a LOCK_EX holder, coexists with other read-only probes) and identity
    comes from the ``(pid, op, acquired_unix)`` record every holder
    writes into the lock file after acquiring (events._rewrite_lock) —
    a stalled purge is diagnosable from ``admin status`` without log
    access: the holder op, its pid, and how long it has held the lock."""
    import time as _time

    lock_file = os.path.join(log.path, ".rewrite.lock")
    try:
        lk = open(lock_file)
    except (FileNotFoundError, OSError):
        return {"held": False}  # no rewrite has ever run on this table
    with lk:
        try:
            fcntl.flock(lk, fcntl.LOCK_SH | fcntl.LOCK_NB)
            fcntl.flock(lk, fcntl.LOCK_UN)
            return {"held": False}
        except BlockingIOError:
            pass
        out: dict = {"held": True}
        try:
            raw = lk.read(4096)
            info = json.loads(raw) if raw.strip() else {}
        except (OSError, ValueError):
            info = {}  # racing holder mid-write: held-ness still reported
        holder = {
            k: info[k] for k in ("pid", "op", "acquired_unix") if k in info
        }
        if "acquired_unix" in holder:
            holder["held_sec"] = round(
                _time.time() - float(holder["acquired_unix"]), 1
            )
        if holder:
            out["holder"] = holder
        return out


def _table_dirs(log) -> dict:
    events_dir = log._events_dir
    batches = sorted(glob.glob(os.path.join(events_dir, "batch-*")))
    staging = glob.glob(os.path.join(events_dir, "_staging-*"))
    swap_leftovers = glob.glob(events_dir + ".old-*")
    snaps = log._snapshot_seqs()
    # the persisted sequence meta is the operator's first question after
    # an incident ("did the clock move? did a rewrite happen?") — surface
    # it in the cheap scrape (one local JSON read, no Spark job)
    meta = log.read_meta()
    return {
        "batch_dirs": len(batches),
        "staging_orphans": len(staging),
        "swap_leftovers": len(swap_leftovers),
        "snapshots": snaps,
        "seq_floor": int(meta.get("seq_floor", 0)),
        "rewrite_generation": int(meta.get("generation", 0)),
        "rewrite_lock": _rewrite_lock_state(log),
    }


def status(sess, counts: bool = False) -> dict:
    """Database status and statistics (reference show_status,
    main.rs:292-370: table list, event totals, storage footprint).

    ``counts=False`` (default) reports only filesystem/catalog facts and
    runs zero Spark jobs — the cheap scrape. ``counts=True`` adds per-table
    event counts and last sequences (one small aggregate job per table)."""
    tables = {}
    tot_bytes = 0
    for name, (log, cols) in sorted(sess._tables.items()):
        d = _table_dirs(log)
        nbytes = _dir_bytes(log.path)
        tot_bytes += nbytes
        entry = {
            "pk": log.pk_col,
            "columns": len(cols),
            "bytes": nbytes,
            **d,
        }
        if counts:
            entry["events"] = log.events().count()
            entry["last_sequence"] = log.last_sequence()
        tables[name] = entry
    return {
        "storage_dir": sess.storage_dir,
        "tables": tables,
        "total_tables": len(tables),
        "total_bytes": tot_bytes,
        "engine": sess.status_snapshot(),
    }


def health_check(sess, verbose: bool = False) -> dict:
    """Liveness/consistency checks (reference check_health,
    main.rs:695-738: engine health, storage access, per-table probes).

    Driver-local except the optional per-table probes: with
    ``verbose=True`` each table's event log is opened and its newest batch
    touched (one file-listing job per table, no full scan)."""
    checks: dict[str, str] = {}
    try:
        sc = sess.spark.sparkContext
        stopped = sc._jsc is None or sc._jsc.sc().isStopped()
        checks["spark"] = "ok" if not stopped else "stopped"
    except Exception as exc:  # pragma: no cover - defensive
        checks["spark"] = f"error: {exc}"
    checks["storage_dir"] = "ok" if os.path.isdir(sess.storage_dir) else "missing"
    try:
        probe = os.path.join(sess.storage_dir, "_admin_probe.tmp")
        with open(probe, "w") as fh:
            fh.write("x")
        os.remove(probe)
        checks["storage_writable"] = "ok"
    except OSError as exc:
        checks["storage_writable"] = f"error: {exc}"
    cat_path = sess._catalog_path()
    if os.path.exists(cat_path):
        try:
            with open(cat_path) as fh:
                json.load(fh)
            checks["catalog_parses"] = "ok"
        except (OSError, json.JSONDecodeError) as exc:
            checks["catalog_parses"] = f"error: {exc}"
    else:
        checks["catalog_parses"] = "ok"  # empty database
    orphans = sum(
        _table_dirs(log)["staging_orphans"] for _n, (log, _c) in sess._tables.items()
    )
    # Staging dirs are hidden from readers, so leftovers are harmless to
    # correctness — they are dead disk from a torn append worth surfacing.
    checks["staging_orphans"] = "ok" if orphans == 0 else f"warn: {orphans} dirs"
    if verbose:
        for name, (log, _cols) in sorted(sess._tables.items()):
            try:
                log.events().limit(1).collect()
                checks[f"table:{name}"] = "ok"
            except Exception as exc:
                checks[f"table:{name}"] = f"error: {type(exc).__name__}"
    ok = all(not v.startswith("error") for v in checks.values())
    return {"ok": ok, "checks": checks}


def verify_integrity(
    sess, table: str | None = None, checksums: bool = False
) -> dict:
    """Data-integrity verification (reference ``verify`` subcommand,
    main.rs:121-130 and verify_integrity:867+ — table scan + optional CRC
    pass; parquet carries page-level checksums, so the ``checksums`` pass
    here is a full decompressing read, which surfaces any bit rot the
    same way the reference's CRC32 walk does).

    Per table, each check is ONE distributed aggregate:

    - ``sequence_duplicates`` — the log's invariant: every event owns a
      distinct sequence (events.py assigns contiguous ranges per batch).
    - ``batch_alignment`` — each ``batch-<startseq>`` directory's minimum
      contained sequence equals its directory name; a mismatch means a
      rename landed on the wrong claim.
    - ``sequence_floor`` — no event's sequence may exceed the persisted
      high-water mark (events.py meta.json): every publish advances the
      floor to its batch end, so ``max(sequence) > floor`` means the log
      was written by an engine that does not maintain the floor (pre-r11:
      a purge-to-empty reset the clock and the next append silently
      REUSED shipped sequences/batch names) or the meta was lost — either
      way, sequence identity (AS OF @SEQ:N, replication entry names) can
      no longer be trusted and the operator must reconcile. A log with no
      meta at all reports ``missing meta (legacy log)`` as a warning
      without failing the verify.
    - ``pk_duplicates`` — the folded current state must be unique per pk
      (fold_events guarantees it structurally; this re-derives it).
    - ``constraints`` — declared UNIQUE/CHECK/NOT NULL re-validated
      against current state (constraints.validate_existing).
    - ``snapshot_readable`` — every snapshot parquet opens and its
      sequence marker parses.
    - ``checksum_rows`` (opt-in) — full read of every event/snapshot file.
    """
    from driftdb_spark.constraints import ConstraintViolation, validate_existing

    names = [table] if table else sorted(sess._tables)
    out: dict[str, dict] = {}

    def _safe(thunk):
        # a corrupt file fails the READ, whichever check touches it first;
        # capture per-check so one rotted batch yields a structured report
        # instead of aborting the whole walk (the reference's verify keeps
        # going past a failed CRC the same way, main.rs:867+)
        try:
            return thunk()
        except Exception as exc:
            return f"error: {type(exc).__name__}"

    for name in names:
        log, cols = sess._tables[name]
        r: dict[str, object] = {}
        ev = log.events()
        r["sequence_duplicates"] = _safe(
            lambda: ev.groupBy("sequence").count().filter(F.col("count") > 1).count()
        )
        r["batch_misaligned"] = _safe(
            lambda: ev.withColumn(
                "_batch",
                F.regexp_extract(F.input_file_name(), r"batch-(\d+)", 1).cast(
                    "long"
                ),
            )
            .groupBy("_batch")
            .agg(F.min("sequence").alias("_min"))
            .filter(F.col("_batch") != F.col("_min"))
            .count()
        )
        def _floor_check():
            ev_max = int(ev.agg(F.max("sequence")).first()[0] or 0)
            if not log.has_meta():
                # warn-only: pre-meta logs can't be checked, and failing
                # them would make verify useless on every legacy log.
                return "missing meta (legacy log)"
            floor = int(log.read_meta().get("seq_floor", 0))
            if ev_max > floor:
                return (
                    f"VIOLATION: max sequence {ev_max} exceeds persisted "
                    f"high-water mark {floor} — sequence clock ran past "
                    "meta (aliased/reused sequences possible)"
                )
            return "ok"

        r["sequence_floor"] = _safe(_floor_check)
        state = log.state_df(cols)
        r["pk_duplicates"] = _safe(
            lambda: state.groupBy(log.pk_col)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        cons = sess._constraints.get(name)
        if cons is not None and not cons.is_empty():
            try:
                validate_existing(name, cons, state)
                r["constraints"] = "ok"
            except ConstraintViolation as exc:
                r["constraints"] = f"violation: {exc}"
            except Exception as exc:
                r["constraints"] = f"error: {type(exc).__name__}"
        else:
            r["constraints"] = "none declared"
        snap_err = None
        for seq in log._snapshot_seqs():
            try:
                sess.spark.read.parquet(
                    os.path.join(log._snap_dir, f"seq={seq}")
                ).limit(1).collect()
            except Exception as exc:
                snap_err = f"seq={seq}: {type(exc).__name__}"
                break
        r["snapshots"] = snap_err or "ok"
        if checksums:

            def _full_read():
                n = ev.count()
                for seq in log._snapshot_seqs():
                    n += sess.spark.read.parquet(
                        os.path.join(log._snap_dir, f"seq={seq}")
                    ).count()
                return n

            r["checksum_rows"] = _safe(_full_read)

        r["ok"] = (
            r["sequence_duplicates"] == 0
            and r["batch_misaligned"] == 0
            and r["sequence_floor"] in ("ok", "missing meta (legacy log)")
            and r["pk_duplicates"] == 0
            and r["constraints"] in ("ok", "none declared")
            and r["snapshots"] == "ok"
            and not str(r.get("checksum_rows", "")).startswith("error")
        )
        out[name] = r
    return {"ok": all(r["ok"] for r in out.values()), "tables": out}


def index_stats(sess, table: str | None = None) -> list[dict]:
    """Index statistics (reference ``indexes`` subcommand, main.rs:104-109).

    The engine's indexes are the primary key plus declared UNIQUE
    constraints (CREATE UNIQUE INDEX lowers to one). Cardinality = exact
    distinct count over current state — one aggregate per index."""
    names = [table] if table else sorted(sess._tables)
    rows: list[dict] = []
    for name in names:
        log, cols = sess._tables[name]
        state = log.state_df(cols)
        total = state.count()
        indexes: list[tuple[str, list[str]]] = [("PRIMARY", [log.pk_col])]
        cons = sess._constraints.get(name)
        if cons is not None:
            for ucols, uname in zip(cons.uniques, cons.unique_names):
                indexes.append((uname or f"unique_{'_'.join(ucols)}", ucols))
        for iname, icols in indexes:
            distinct = state.select(*icols).distinct().count()
            rows.append(
                {
                    "table": name,
                    "index": iname,
                    "columns": icols,
                    "rows": total,
                    "distinct_keys": distinct,
                    "unique": distinct == total,
                }
            )
    return rows


def config_dump(sess, section: str | None = None) -> dict:
    """Effective configuration (reference ``config`` subcommand,
    main.rs:132-138). Sections: ``storage``, ``session``, ``spark``."""
    cfg = {
        "storage": {
            "storage_dir": sess.storage_dir,
            "catalog_path": sess._catalog_path(),
            "tables": sorted(sess._tables),
        },
        "session": {
            "rate_limited": sess._rate_limiter is not None,
            "rls_policies": sum(len(p) for p in sess.rls._policies.values()),
            "rls_enabled_tables": sorted(sess.rls._enabled),
            "security_context": (
                sess._security.username if sess._security else None
            ),
        },
        "spark": {
            # no-default get reports the EFFECTIVE value (Spark's own
            # default when the key was never set), not a placeholder
            k: _conf_get(sess.spark, k)
            for k in (
                "spark.master",
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.ansi.enabled",
                "spark.sql.session.timeZone",
            )
        },
    }
    if section:
        return {section: cfg.get(section, {})}
    return cfg


def migration_status(sess) -> dict:
    """Migration ledger status (reference ``migrate status``,
    main.rs:843-852): applied versions with checksums from the persisted
    ledger; registered-but-unapplied migrations are per-process, so a
    bare admin session reports ledger facts only."""
    from driftdb_spark.migrations import MigrationManager

    mgr = MigrationManager(sess)
    ledger = mgr._ledger()  # {version: {description, checksum, applied_unix}}
    st = mgr.status()
    st["applied"] = [
        {"version": v, **(ledger.get(v) or {})} for v in st["applied"]
    ]
    return st


def recover(
    sess,
    table: str | None = None,
    min_staging_age_sec: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Crash recovery (reference error_recovery.rs RecoveryManager:
    startup scan → per-component repair → recovery stats). The engine's
    write protocols are crash-safe by construction — a torn append stays
    invisible (underscore-hidden staging), a torn log-swap leaves the
    previous directory intact — so recovery never repairs DATA; it
    completes interrupted protocols and reclaims dead disk:

    - **Interrupted log swap** (events.py _swap_events_dir): if the live
      ``events`` dir is missing but ``events.new`` exists, the crash hit
      between the two renames — finish it (rename new into place). Then,
      for any ``events.old-*`` leftover, re-run the RESCUE step: a batch
      in the old dir belongs in the new log iff its start sequence
      exceeds the rebuilt log's max sequence (the swap's own invariant:
      concurrent appends base on last_sequence(), which a rewrite never
      lowers — batches at-or-below the max are already folded into the
      rebuild, and moving them would double their events). One max-
      sequence aggregate per affected table decides every batch.
    - **Aborted rewrite scratch** (``events.rewrite`` / ``events.new``
      beside a live dir): the rewrite never reached its rename — delete.
    - **Stale append staging** (``_staging-*`` older than
      ``min_staging_age_sec``): hidden from readers, pure dead disk; the
      age gate protects an append that is still in flight.
    - **Torn snapshot** (``seq=N`` without ``_SUCCESS``): the writer
      crashed mid-write; the dir is unreadable — delete (state rebuilds
      from the log; snapshots are an optimization, never the record).
    - **Torn catalog save** (``_catalog.json.tmp``): the atomic
      os.replace never happened — delete the temp.

    ``dry_run`` reports every planned action without touching disk
    (reference RecoveryConfig dry-run semantics)."""
    import time as _time

    from pyspark.sql import functions as F  # noqa: F811

    names = [table] if table else sorted(sess._tables)
    report: dict[str, list] = {}
    now = _time.time()

    def act(tname: str, kind: str, path: str, **extra):
        report.setdefault(tname, []).append(
            {"action": kind, "path": os.path.basename(path), **extra}
        )

    for name in names:
        log, _cols = sess._tables[name]
        # A never-written table (CREATE TABLE persists only catalog JSON)
        # has no directory and therefore nothing to repair: skip it
        # outright rather than abort the repair of every table with
        # FileNotFoundError — and rather than create its directory as a
        # side effect, which a dry run especially must not do.
        if not os.path.isdir(log.path):
            continue
        # a LIVE rewrite's events.new is indistinguishable from
        # crashed-rewrite scratch by inspection; the rewrite flock makes
        # the distinction (compact/purge hold it for their full protocol,
        # so once acquired every leftover here is dead). Held for dry_run
        # too — without it the dry-run plan could report a LIVE rewrite's
        # staging as removable scratch, a plan the locked real run would
        # never execute. The dry-run variant stays MUTATION-FREE (usable
        # on a read-only mount): it flocks the existing lock file opened
        # read-only, and if no lock file exists then no rewrite has ever
        # run on this table (every rewrite holder creates it) — proceed
        # lock-free, with a post-scan recheck closing the race where a
        # FIRST-ever rewrite starts mid-scan (it must create the lock
        # file before staging anything, so staging visible to our scan
        # implies the file exists by the time we recheck).
        lock_file = os.path.join(log.path, ".rewrite.lock")
        dry_lockfree = False
        with contextlib.ExitStack() as stack:
            if not dry_run:
                stack.enter_context(log._rewrite_lock("recover"))
            else:
                try:
                    lk = stack.enter_context(open(lock_file))
                    # SHARED mode (advisor-found): LOCK_SH still excludes
                    # every LOCK_EX rewrite holder — the only writers —
                    # while letting concurrent read-only dry-run scans
                    # coexist instead of serializing behind each other
                    # (and behind nothing else: a dry run mutates nothing,
                    # so two of them scanning the same table is safe).
                    try:
                        fcntl.flock(lk, fcntl.LOCK_SH | fcntl.LOCK_NB)
                    except BlockingIOError:
                        # same diagnosability as the locked path
                        # (events._rewrite_lock): a dry run stalled
                        # behind a slow backup/refresh says so
                        import logging

                        logging.getLogger("driftdb_spark.admin").warning(
                            "dry-run recover waiting for rewrite lock on "
                            "%s (held by a concurrent rewrite holder; "
                            "blocking until it completes)",
                            log.path,
                        )
                        fcntl.flock(lk, fcntl.LOCK_SH)
                except FileNotFoundError:
                    dry_lockfree = True
            ev_dir = log._events_dir
            new_dir = ev_dir + ".new"
            rewrite = ev_dir + ".rewrite"
            olds = sorted(glob.glob(ev_dir + ".old-*"))

            if not os.path.exists(ev_dir) and olds and os.path.exists(new_dir):
                act(name, "complete_swap", new_dir)
                if not dry_run:
                    os.rename(new_dir, ev_dir)
            if os.path.exists(ev_dir):
                for o in olds:
                    if not os.path.exists(o):
                        continue
                    stranded = [
                        e for e in sorted(os.listdir(o)) if e.startswith("batch-")
                    ]
                    if stranded:
                        row = log.events().agg(
                            F.max("sequence").alias("s")
                        ).first()
                        max_seq = int(row["s"] or 0)
                        for e in stranded:
                            start = int(e.split("-", 1)[1])
                            if start > max_seq and not os.path.exists(
                                os.path.join(ev_dir, e)
                            ):
                                act(name, "rescue_batch", os.path.join(o, e),
                                    start_sequence=start)
                                if not dry_run:
                                    os.rename(
                                        os.path.join(o, e),
                                        os.path.join(ev_dir, e),
                                    )
                    act(name, "remove_old_dir", o)
                    if not dry_run:
                        shutil.rmtree(o, ignore_errors=True)
                for scratch in (rewrite, new_dir):
                    if os.path.exists(scratch):
                        act(name, "remove_rewrite_scratch", scratch)
                        if not dry_run:
                            shutil.rmtree(scratch, ignore_errors=True)
            for st in glob.glob(os.path.join(ev_dir, "_staging-*")):
                try:
                    age = now - os.path.getmtime(st)
                except OSError:
                    continue
                if age >= min_staging_age_sec:
                    act(name, "remove_stale_staging", st, age_sec=round(age))
                    if not dry_run:
                        shutil.rmtree(st, ignore_errors=True)
            for snap in glob.glob(os.path.join(log._snap_dir, "seq=*")):
                if not os.path.exists(os.path.join(snap, "_SUCCESS")):
                    act(name, "remove_torn_snapshot", snap)
                    if not dry_run:
                        shutil.rmtree(snap, ignore_errors=True)
            # snapshot-purge scratch (_purge-<seq>-<token>): a purge that
            # crashed mid-snapshot-rewrite strands its staging dir; hidden
            # from _snapshot_seqs, pure dead disk. Same age gate as append
            # staging — a purge still in flight keeps its scratch.
            for st in glob.glob(os.path.join(log._snap_dir, "_purge-*")):
                try:
                    age = now - os.path.getmtime(st)
                except OSError:
                    continue
                if age >= min_staging_age_sec:
                    act(name, "remove_purge_scratch", st, age_sec=round(age))
                    if not dry_run:
                        shutil.rmtree(st, ignore_errors=True)
        if dry_lockfree and os.path.exists(lock_file):
            # a first-ever rewrite created the lock mid-scan: our
            # lock-free plan may list its LIVE staging as scratch.
            # Discard and rescan this table — the lock file exists now,
            # so the rescan serializes behind the rewrite.
            report.pop(name, None)
            sub = recover(
                sess,
                table=name,
                min_staging_age_sec=min_staging_age_sec,
                dry_run=True,
            )
            if sub["tables"].get(name):
                report[name] = sub["tables"][name]

    # result-cache namespaces are in-process state (cache.py): a crashed
    # process strands its instance dir; the same age gate protects live
    # sessions' caches
    for rc in glob.glob(os.path.join(sess.storage_dir, "_result_cache", "*")):
        try:
            age = now - os.path.getmtime(rc)
        except OSError:
            continue
        if age >= min_staging_age_sec:
            report.setdefault("_result_cache", []).append(
                {
                    "action": "remove_orphan_cache_namespace",
                    "path": os.path.basename(rc),
                    "age_sec": round(age),
                }
            )
            if not dry_run:
                shutil.rmtree(rc, ignore_errors=True)

    cat_tmp = sess._catalog_path() + ".tmp"
    if os.path.exists(cat_tmp):
        report.setdefault("_catalog", []).append(
            {"action": "remove_torn_catalog_save", "path": os.path.basename(cat_tmp)}
        )
        if not dry_run:
            os.remove(cat_tmp)

    total = sum(len(v) for v in report.values())
    return {"dry_run": dry_run, "actions_total": total, "tables": report}
