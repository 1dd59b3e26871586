"""CLI entry — the reference's ``driftdb`` command-line surface, Spark-first
(reference crates/driftdb-cli/src/main.rs:146-449: ``sql | select | drift |
snapshot | compact | analyze``, with ``--as-of`` flags lowered into
``FOR SYSTEM_TIME`` SQL strings, main.rs:433-449).

Every subcommand opens a :class:`DriftSession` on ``--data`` (schemas come
from the persisted ``_catalog.json``, so the CLI sees tables created by any
prior session) and routes through the same dispatcher the library uses —
``sql -e`` therefore supports the full statement surface: CREATE TABLE,
INSERT (VALUES and SELECT), UPDATE, DELETE, TRUNCATE, and temporal SELECTs.
Rows print as JSON lines (the reference prints pgwire rows; JSON lines are
the shell-composable equivalent).

Usage::

    python -m driftdb_spark --data /path sql -e "CREATE TABLE t (id INT, v STRING)"
    python -m driftdb_spark --data /path sql -e "INSERT INTO t VALUES (1, 'x')"
    python -m driftdb_spark --data /path select t --where "id > 0" --as-of @seq:1
    python -m driftdb_spark --data /path drift t --key 1
    python -m driftdb_spark --data /path snapshot t
    python -m driftdb_spark --data /path compact t
    python -m driftdb_spark --data /path analyze t
    python -m driftdb_spark --data /path tables
    python -m driftdb_spark --data /path replicate ship --to /stream
    python -m driftdb_spark --data /standby replicate follow --from /stream \
        --failover-after 30
    python -m driftdb_spark --data /standby replicate promote --from /stream
"""

from __future__ import annotations

import argparse
import json
import sys


def _print_df(df) -> None:
    for row in df.toJSON().toLocalIterator():
        print(row)


def _build_select(args) -> str:
    sql = f"SELECT * FROM {args.table}"
    if args.as_of:
        tok = args.as_of
        if tok.lower().startswith("@seq:"):
            sql += f" FOR SYSTEM_TIME AS OF @SEQ:{tok[5:]}"
        else:
            sql += f" FOR SYSTEM_TIME AS OF '{tok}'"
    if args.where:
        sql += f" WHERE {args.where}"
    if args.limit:
        sql += f" LIMIT {args.limit}"
    return sql


def main(argv: list[str] | None = None, spark=None) -> int:
    p = argparse.ArgumentParser(prog="driftdb_spark", description=__doc__)
    p.add_argument("--data", required=True, help="storage directory (catalog root)")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("sql", help="execute a SQL statement")
    sp.add_argument("-e", "--execute", required=True, dest="stmt")

    sp = sub.add_parser("select", help="query one table (flags build the SQL)")
    sp.add_argument("table")
    sp.add_argument("--where", default=None)
    sp.add_argument("--as-of", default=None, dest="as_of", help="@seq:N or timestamp")
    sp.add_argument("--limit", type=int, default=None)

    sp = sub.add_parser("drift", help="event history (SHOW DRIFT)")
    sp.add_argument("table")
    sp.add_argument("--key", default=None)

    for name in ("snapshot", "compact", "analyze"):
        sp = sub.add_parser(name)
        sp.add_argument("table")

    sp = sub.add_parser(
        "purge",
        help="hard-delete every event for the given primary keys "
        "(right-to-be-forgotten; rewrites log + snapshots, scrubs the "
        "audit trail)",
    )
    sp.add_argument("table")
    sp.add_argument("keys", nargs="+", help="primary-key values to erase")

    sub.add_parser("tables", help="list catalog tables")

    sp = sub.add_parser("backup", help="back up --data (full, or incremental with --parent)")
    sp.add_argument("dest")
    sp.add_argument("--parent", default=None, help="parent backup dir (incremental)")

    sp = sub.add_parser("restore", help="restore a backup chain into --data (must be empty)")
    sp.add_argument("src")

    sp = sub.add_parser("verify-backup", help="checksum-verify a backup dir")
    sp.add_argument("src")

    sp = sub.add_parser(
        "admin",
        help="administrative inspection (reference driftdb-admin: status | "
        "health | verify | indexes | config | migrations)",
    )
    asub = sp.add_subparsers(dest="admin_cmd", required=True)
    ap = asub.add_parser("status", help="database status and statistics")
    ap.add_argument(
        "--counts",
        action="store_true",
        help="include per-table event counts (runs Spark jobs)",
    )
    ap = asub.add_parser("health", help="engine + storage health checks")
    ap.add_argument("--verbose", action="store_true", help="probe every table")
    ap = asub.add_parser("verify", help="data-integrity verification")
    ap.add_argument("--table", default=None)
    ap.add_argument(
        "--checksums",
        action="store_true",
        help="full decompressing read of every event/snapshot file",
    )
    ap = asub.add_parser("indexes", help="index statistics (PK + UNIQUE)")
    ap.add_argument("--table", default=None)
    ap = asub.add_parser("config", help="effective configuration")
    ap.add_argument("--section", default=None, choices=("storage", "session", "spark"))
    asub.add_parser("migrations", help="migration ledger status")
    ap = asub.add_parser(
        "recover",
        help="complete interrupted log swaps, rescue stranded batches, "
        "reclaim torn-write scratch (reference error_recovery.rs)",
    )
    ap.add_argument("--table", default=None)
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument(
        "--min-staging-age",
        type=float,
        default=3600.0,
        metavar="SEC",
        help="only remove _staging-* dirs older than this (protects "
        "in-flight appends)",
    )

    sp = sub.add_parser(
        "replicate",
        help="log-shipping replication (reference replication.rs/"
        "failover.rs): ship | apply | status | promote",
    )
    rsub = sp.add_subparsers(dest="repl_cmd", required=True)
    rp = rsub.add_parser("ship", help="ship --data's published log entries into a stream dir")
    rp.add_argument("--to", required=True, metavar="STREAM", help="replication stream directory")
    rp.add_argument("--node-id", default="primary")
    rp = rsub.add_parser("apply", help="apply pending stream entries into --data (read-only standby)")
    rp.add_argument("--from", required=True, dest="stream", metavar="STREAM")
    rp.add_argument("--node-id", default="replica")
    rp = rsub.add_parser("status", help="replica role, per-table lag, heartbeat age")
    rp.add_argument("--from", required=True, dest="stream", metavar="STREAM")
    rp.add_argument("--node-id", default="replica")
    rp = rsub.add_parser(
        "follow",
        help="standby daemon: apply continuously; optional auto-failover",
    )
    rp.add_argument("--from", required=True, dest="stream", metavar="STREAM")
    rp.add_argument("--node-id", default="replica")
    rp.add_argument("--interval", type=float, default=1.0, metavar="SEC")
    rp.add_argument(
        "--failover-after",
        type=float,
        default=None,
        metavar="SEC",
        help="auto-promote when the primary heartbeat is older than SEC "
        "(only after the shipped backlog is applied)",
    )
    rp.add_argument(
        "--max-seconds",
        type=float,
        default=None,
        help="exit after this long (default: run until interrupted)",
    )
    rp = rsub.add_parser(
        "promote",
        help="take over the stream: claim the next fencing epoch, go writable",
    )
    rp.add_argument("--from", required=True, dest="stream", metavar="STREAM")
    rp.add_argument("--node-id", default="replica")
    rp.add_argument(
        "--if-stale",
        type=float,
        default=None,
        metavar="SEC",
        help="only promote if the primary heartbeat is missing or older "
        "than SEC (auto-failover guard; unconditional without it)",
    )

    sp = sub.add_parser("serve", help="serve --data over the Postgres wire protocol")
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=5432)
    sp.add_argument(
        "--auth",
        action="append",
        default=[],
        metavar="USER:PASSWORD",
        help="require password auth; repeatable (reference protocol/auth.rs)",
    )
    sp.add_argument(
        "--superuser",
        action="append",
        default=[],
        metavar="USER",
        help="grant an authenticated user the RLS-bypassing superuser context",
    )
    sp.add_argument(
        "--auth-method", choices=("md5", "cleartext"), default="md5"
    )
    sp.add_argument(
        "--allow-insecure",
        action="store_true",
        help="permit trust mode (no --auth) on a non-loopback --host",
    )
    sp.add_argument(
        "--tls-cert",
        help="PEM certificate; with --tls-key, accept SSLRequest with TLS "
        "(reference driftdb-server tls.rs)",
    )
    sp.add_argument("--tls-key", help="PEM private key for --tls-cert")
    sp.add_argument(
        "--health-port",
        type=int,
        help="also serve HTTP /health/live, /health/ready, /metrics and "
        "the /api/alerts routes on this port (reference driftdb-server "
        "health.rs/metrics.rs/alerting.rs)",
    )
    sp.add_argument(
        "--max-connections",
        type=int,
        default=None,
        help="cap concurrent wire connections; excess clients get "
        "PostgreSQL's 53300 (reference advanced_pool.rs)",
    )
    sp.add_argument(
        "--result-cache",
        action="store_true",
        help="enable the version-vector query-result cache for served "
        "sessions (reference cache.rs; stats appear in SHOW STATUS and "
        "/metrics)",
    )
    sp.add_argument(
        "--sql-guard",
        choices=("monitor", "block"),
        default=None,
        help="injection-pattern guard for restricted wire identities "
        "(reference sql_validator.rs): monitor records security events, "
        "block also refuses with 42000",
    )

    args = p.parse_args(argv)

    if spark is None:
        from driftdb_spark.session import get_spark

        # Only the wire server wants FAIR scheduling (per-connection pools
        # share cores between concurrent clients); every batch entry point
        # keeps FIFO — FAIR measured 8-18 % slower on shuffle-heavy batch
        # queries (`git show 52710e8:scripts/bench_isolated_ab.py`,
        # --scheduler-ab). Scheduler mode is static per SparkContext, so
        # serve must opt in here.
        spark = get_spark(scheduler="FAIR" if args.cmd == "serve" else "FIFO")
    from driftdb_spark.sql_frontend import DriftSession

    sess = DriftSession(spark, args.data)

    if args.cmd == "sql":
        out = sess.sql(args.stmt)
        if isinstance(out, int):
            print(json.dumps({"ok": True, "last_sequence": out}))
        else:
            _print_df(out)
    elif args.cmd == "select":
        _print_df(sess.sql(_build_select(args)))
    elif args.cmd == "drift":
        _print_df(sess.drift(args.table, args.key))
    elif args.cmd == "snapshot":
        seq = sess.table(args.table).snapshot()
        print(json.dumps({"ok": True, "snapshot_seq": seq}))
    elif args.cmd == "compact":
        sess.table(args.table).compact()
        print(json.dumps({"ok": True}))
    elif args.cmd == "purge":
        # route through the SQL statement so audit scrubbing and the
        # txn/RBAC gates apply identically to CLI and wire users; keys
        # pass as literals through Spark's own parser (quote strings)
        lits = ", ".join(
            k if k.lstrip("-").replace(".", "", 1).isdigit()
            else "'" + k.replace("'", "''") + "'"
            for k in args.keys
        )
        removed = sess.sql(f"PURGE FROM {args.table} KEYS ({lits})")
        print(json.dumps({"ok": True, "events_removed": removed}))
    elif args.cmd == "analyze":
        from driftdb_spark.plans.stats import analyze_table

        df = sess.sql(f"SELECT * FROM {args.table}")
        _print_df(analyze_table(df))
    elif args.cmd == "tables":
        for name, (log, cols) in sorted(sess._tables.items()):
            print(json.dumps({"table": name, "pk": log.pk_col, "columns": cols}))
    elif args.cmd == "backup":
        from driftdb_spark.backup import BackupManager

        m = BackupManager(sess)
        manifest = (
            m.create_incremental_backup(args.dest, parent=args.parent)
            if args.parent
            else m.create_full_backup(args.dest)
        )
        print(
            json.dumps(
                {"ok": True, "type": manifest["type"], "tables": sorted(manifest["tables"])}
            )
        )
    elif args.cmd == "restore":
        from driftdb_spark.backup import BackupManager

        leaf = BackupManager.restore(args.src, args.data)
        print(json.dumps({"ok": True, "tables": sorted(leaf["tables"])}))
    elif args.cmd == "verify-backup":
        from driftdb_spark.backup import BackupManager

        ok = BackupManager.verify(args.src)
        print(json.dumps({"ok": ok}))
        return 0 if ok else 1
    elif args.cmd == "admin":
        from driftdb_spark import admin

        if args.admin_cmd == "status":
            print(json.dumps(admin.status(sess, counts=args.counts)))
        elif args.admin_cmd == "health":
            rep = admin.health_check(sess, verbose=args.verbose)
            print(json.dumps(rep))
            return 0 if rep["ok"] else 1
        elif args.admin_cmd == "verify":
            rep = admin.verify_integrity(
                sess, table=args.table, checksums=args.checksums
            )
            print(json.dumps(rep))
            return 0 if rep["ok"] else 1
        elif args.admin_cmd == "indexes":
            for row in admin.index_stats(sess, table=args.table):
                print(json.dumps(row))
        elif args.admin_cmd == "config":
            print(json.dumps(admin.config_dump(sess, section=args.section)))
        elif args.admin_cmd == "migrations":
            print(json.dumps(admin.migration_status(sess)))
        elif args.admin_cmd == "recover":
            print(
                json.dumps(
                    admin.recover(
                        sess,
                        table=args.table,
                        min_staging_age_sec=args.min_staging_age,
                        dry_run=args.dry_run,
                    )
                )
            )
    elif args.cmd == "replicate":
        from driftdb_spark.replication import Replica, ReplicationPrimary

        if args.repl_cmd == "ship":
            primary = ReplicationPrimary(sess, args.to, node_id=args.node_id)
            shipped = primary.ship()
            print(json.dumps({"ok": True, "epoch": primary.epoch, "shipped": shipped}))
        else:
            replica = Replica(spark, args.data, args.stream, node_id=args.node_id)
            if args.repl_cmd == "follow":
                import time as _time

                loop = replica.follow(
                    interval_sec=args.interval,
                    failover_after_sec=args.failover_after,
                )
                t0 = _time.time()
                try:
                    while loop.promoted_to is None and (
                        args.max_seconds is None
                        or _time.time() - t0 < args.max_seconds
                    ):
                        _time.sleep(min(args.interval, 1.0))
                except KeyboardInterrupt:
                    pass
                finally:
                    loop.stop()
                print(json.dumps({
                    "ok": True,
                    "applies": loop.applies,
                    "promoted": loop.promoted_to is not None,
                    **({"epoch": loop.promoted_to.epoch}
                       if loop.promoted_to is not None else {}),
                    "errors": loop.errors[-5:],
                }))
                return 0
            if args.repl_cmd == "apply":
                out = replica.apply_pending()
                print(json.dumps({"ok": True, **out, "lag": replica.lag()}))
            elif args.repl_cmd == "status":
                print(json.dumps(replica.status()))
            elif args.repl_cmd == "promote":
                if args.if_stale is not None:
                    new_primary = replica.maybe_promote(args.if_stale)
                    if new_primary is None:
                        print(json.dumps({"ok": False, "promoted": False,
                                          "reason": "primary heartbeat is fresh"}))
                        return 1
                else:
                    new_primary = replica.promote()
                print(json.dumps({"ok": True, "promoted": True, "epoch": new_primary.epoch}))
    elif args.cmd == "serve":
        from driftdb_spark.server import PgWireServer

        users = dict(a.split(":", 1) for a in args.auth)
        if not users and args.host not in ("127.0.0.1", "localhost", "::1") and not args.allow_insecure:
            # Trust mode hands every TCP client an owner-level session;
            # beyond loopback that must be an explicit opt-in.
            print(
                json.dumps(
                    {
                        "ok": False,
                        "error": "refusing trust mode (no --auth) on a "
                        "non-loopback host; pass --auth user:pw or "
                        "--allow-insecure",
                    }
                )
            )
            return 2
        ssl_context = None
        if args.tls_cert or args.tls_key:
            if not (args.tls_cert and args.tls_key):
                print(
                    json.dumps(
                        {"ok": False, "error": "--tls-cert and --tls-key "
                         "must be given together"}
                    )
                )
                return 2
            from driftdb_spark.server import tls_context_from_files

            ssl_context = tls_context_from_files(args.tls_cert, args.tls_key)
        if args.result_cache:
            sess.enable_result_cache()
        if args.sql_guard:
            sess.enable_sql_validation(block=args.sql_guard == "block")
        srv = PgWireServer(
            sess,
            host=args.host,
            port=args.port,
            users=users,
            superusers=set(args.superuser),
            auth_method=args.auth_method,
            ssl_context=ssl_context,
            max_connections=args.max_connections,
            warm_workers=True,  # long-lived server: pre-spawn the pool
        ).start()
        health_addr = None
        if args.health_port is not None:
            from driftdb_spark.observability import HealthServer

            health = HealthServer(
                sess, host=args.host, port=args.health_port, wire_server=srv
            ).start()
            health_addr = list(health.address)
        print(
            json.dumps(
                {"ok": True, "address": list(srv.address), "health": health_addr}
            ),
            flush=True,
        )
        srv._thread.join()  # serve until interrupted
    return 0


if __name__ == "__main__":
    sys.exit(main())
