"""Statement-level role-based access control — the reference's RBAC
family (driftdb-server security/rbac.rs:191-345 predefined roles,
:351-520 RbacManager grant/revoke/require; rbac_enforcement.rs wires the
checks into the executor), composing with — not replacing — row-level
security (rls.py): RBAC answers "may this user run this KIND of
statement", RLS answers "which rows may they see".

Model (mirrors rbac.rs):

* Permissions are flat strings (snake_case of the reference's enum).
* Four system roles — ``superuser`` (everything), ``admin`` (most, but
  not revoking roles, restoring snapshots, managing replication, or
  modifying security settings — rbac.rs:251-289), ``user`` (read/write
  DML + own-table DDL, rbac.rs:291-313), ``readonly`` (SELECT +
  transactions + metrics, rbac.rs:315-333) — plus custom roles.
* Enforcement activates only once a grant exists (``enabled()``): an
  engine used without RBAC (owner embedding, RLS-only deployments)
  behaves exactly as before. A user with no granted role can then run
  nothing — the reference's default-deny (rbac.rs:433-452).
* Denials carry SQLSTATE 42501 and are recorded as security events at
  the refusal site, same as the escalation gate.

Statement → permission mapping is a verb table (``statement_permission``)
— the reference's executor-side match on statement kind
(rbac_enforcement.rs). PREPARE/EXECUTE need no entry: EXECUTE re-enters
the dispatcher with the underlying statement, which is gated normally —
the same no-laundering property the SET SESSION AUTHORIZATION gate has.
"""

from __future__ import annotations

import re as _re

from driftdb_spark.sqltext import classify

PERMISSIONS = frozenset(
    {
        "create_table",
        "drop_table",
        "alter_table",
        "truncate_table",
        "select",
        "insert",
        "update",
        "delete",
        "create_index",
        "drop_index",
        "create_view",
        "drop_view",
        "begin_transaction",
        "commit_transaction",
        "rollback_transaction",
        "grant_role",
        "revoke_role",
        "view_roles",
        "view_system_info",
        "view_metrics",
        "view_audit_log",
        "view_replication_status",
        "manage_replication",
        "create_snapshot",
        "restore_snapshot",
        "compact_database",
        "view_security_settings",
        "modify_security_settings",
        "create_procedure",
        "execute_procedure",
    }
)

_USER = frozenset(
    {
        # rbac.rs user(): read/write + own DDL + transactions + snapshots
        "create_table",
        "select",
        "insert",
        "update",
        "delete",
        "create_index",
        "create_view",
        "begin_transaction",
        "commit_transaction",
        "rollback_transaction",
        "create_snapshot",
        "execute_procedure",
    }
)

_READONLY = frozenset(
    {
        # rbac.rs readonly(): SELECT + transactions + metrics
        "select",
        "begin_transaction",
        "commit_transaction",
        "rollback_transaction",
        "view_metrics",
        "view_system_info",
        "view_replication_status",
    }
)

SYSTEM_ROLES: dict[str, frozenset] = {
    "superuser": PERMISSIONS,
    # rbac.rs admin(): everything except revoke, restore, replication
    # management, and security modification
    "admin": PERMISSIONS
    - frozenset(
        {
            "revoke_role",
            "restore_snapshot",
            "manage_replication",
            "modify_security_settings",
        }
    ),
    "user": _USER,
    "readonly": _READONLY,
}

# first-token (or two-token) statement classes → required permission
_VERB_PERMS: list[tuple[str, str]] = [
    (r"SELECT|WITH|VALUES|TABLE\s", "select"),
    (r"ANALYZE", "select"),  # reads data to build stats
    (r"INSERT", "insert"),
    (r"UPDATE", "update"),
    (r"MERGE", "update"),
    (r"DELETE", "delete"),
    (r"TRUNCATE", "truncate_table"),
    # PURGE = destructive bulk history removal; gate it like TRUNCATE
    # (the strongest non-DDL write permission — reference has no purge)
    (r"PURGE", "truncate_table"),
    (r"CREATE\s+(UNIQUE\s+)?INDEX", "create_index"),
    (r"CREATE\s+(OR\s+REPLACE\s+)?(MATERIALIZED|INCREMENTAL)?\s*VIEW", "create_view"),
    (r"CREATE\s+(OR\s+REPLACE\s+)?PROCEDURE", "create_procedure"),
    (r"CREATE\s+POLICY", "modify_security_settings"),
    (r"CREATE\s+ROLE", "grant_role"),
    (r"CREATE", "create_table"),  # CREATE TABLE / CTAS (most general last)
    (r"DROP\s+INDEX", "drop_index"),
    (r"DROP\s+(MATERIALIZED\s+)?VIEW", "drop_view"),
    (r"DROP\s+POLICY", "modify_security_settings"),
    (r"DROP\s+ROLE", "revoke_role"),
    (r"DROP\s+PROCEDURE", "create_procedure"),
    (r"DROP", "drop_table"),
    (r"ALTER\s+TABLE\s+\w+\s+(ENABLE|DISABLE)\s+ROW", "modify_security_settings"),
    (r"ALTER", "alter_table"),
    (r"BEGIN|START\s+TRANSACTION", "begin_transaction"),
    (r"COMMIT|END", "commit_transaction"),
    (r"ROLLBACK|SAVEPOINT|RELEASE", "rollback_transaction"),
    (r"SNAPSHOT|CHECKPOINT", "create_snapshot"),
    (r"COMPACT|VACUUM", "compact_database"),
    (r"CALL", "execute_procedure"),
    (r"REFRESH", "create_view"),
    (r"GRANT", "grant_role"),
    (r"REVOKE", "revoke_role"),
    (r"SHOW\s+REPLICATION\s+STATUS", "view_replication_status"),
    (r"SHOW\s+STATUS", "view_metrics"),
    (r"SHOW\s+(ROLES|GRANTS)", "view_roles"),
    (r"SHOW|DESCRIBE|DESC\s", "view_system_info"),
    # SET/RESET/PREPARE/EXECUTE/DEALLOCATE: no entry — SET SESSION
    # AUTHORIZATION has its own dispatcher gate, and EXECUTE re-enters
    # with the underlying statement (gated there)
]

_VERB_RES = [(_re.compile(rf"^({p})", _re.IGNORECASE), perm) for p, perm in _VERB_PERMS]


_DML_PERM = {"INSERT": "insert", "MERGE": "update", "UPDATE": "update", "DELETE": "delete"}


def statement_permissions(stripped_sql: str) -> list[str]:
    """Permission(s) a statement requires — normally exactly one, from
    the verb table on the statement as :func:`sqltext.classify` reads it:
    past leading comments, EXPLAIN and a WITH prefix (Spark SQL allows
    WITH ... INSERT). EXPLAIN needs the privilege of the explained DML,
    as in PostgreSQL (it plans against real catalog/table state even
    though this engine never executes an explained DML), and 'select'
    otherwise. When the head does not lex, stay CONSERVATIVE: require the
    permission of EVERY DML verb appearing OUTSIDE string literals, quoted
    identifiers and comments (the real verb is one of them; requiring
    only the first would let a role holding that verb's permission
    execute a different write kind; scanning raw text would deny a query
    merely CONTAINING 'UPDATE' in a literal)."""
    head = classify(stripped_sql)
    dml = head.dml_verbs()
    if head.opaque and dml:
        return sorted({_DML_PERM[v] for v in dml})
    if head.explain and not dml:
        return ["select"]
    for rx, perm in _VERB_RES:
        if rx.match(head.body):
            return [perm]
    return []


def statement_permission(stripped_sql: str) -> str | None:
    perms = statement_permissions(stripped_sql)
    return perms[0] if perms else None


class PermissionDenied(RuntimeError):
    """Reference require_permission failure (rbac.rs:454-469) —
    PostgreSQL's insufficient_privilege."""

    sqlstate = "42501"


class RbacManager:
    """Grants + custom roles (reference RbacManager, rbac.rs:351-520).
    Stateless over the catalog dict so it persists like RLS policies."""

    def __init__(self):
        self._grants: dict[str, set[str]] = {}  # user -> role names
        self._custom: dict[str, set[str]] = {}  # role -> permissions

    # -- role catalog ---------------------------------------------------------

    def role_permissions(self, role: str) -> frozenset:
        if role in SYSTEM_ROLES:
            return SYSTEM_ROLES[role]
        if role in self._custom:
            return frozenset(self._custom[role])
        raise ValueError(f"role {role!r} does not exist")

    def create_custom_role(self, name: str, permissions) -> None:
        if name in SYSTEM_ROLES:
            raise ValueError(f"cannot redefine system role {name!r}")
        perms = set(permissions)
        unknown = perms - PERMISSIONS
        if unknown:
            raise ValueError(f"unknown permissions: {sorted(unknown)}")
        self._custom[name] = perms

    def delete_custom_role(self, name: str) -> None:
        if name in SYSTEM_ROLES:
            # rbac.rs:491-505 refuses to delete system roles
            raise ValueError(f"cannot delete system role {name!r}")
        if name not in self._custom:
            raise ValueError(f"role {name!r} does not exist")
        del self._custom[name]
        for roles in self._grants.values():
            roles.discard(name)

    def all_roles(self) -> list[tuple[str, bool, frozenset]]:
        out = [(n, True, p) for n, p in sorted(SYSTEM_ROLES.items())]
        out += [(n, False, frozenset(p)) for n, p in sorted(self._custom.items())]
        return out

    # -- grants ---------------------------------------------------------------

    def grant_role(self, username: str, role: str) -> None:
        self.role_permissions(role)  # validates existence
        self._grants.setdefault(username, set()).add(role)

    def revoke_role(self, username: str, role: str) -> None:
        roles = self._grants.get(username, set())
        if role not in roles:
            raise ValueError(f"user {username!r} does not have role {role!r}")
        roles.discard(role)
        if not roles:
            self._grants.pop(username, None)

    def roles_of(self, username: str) -> list[str]:
        return sorted(self._grants.get(username, set()))

    def permissions_of(self, username: str) -> frozenset:
        perms: set[str] = set()
        for role in self._grants.get(username, set()):
            try:
                perms |= self.role_permissions(role)
            except ValueError:
                continue  # dangling custom role (deleted)
        return frozenset(perms)

    # -- enforcement ------------------------------------------------------------

    def enabled(self) -> bool:
        """RBAC activates with the first grant (default-deny only makes
        sense once somebody was granted something)."""
        return bool(self._grants)

    def has_permission(self, username: str, permission: str) -> bool:
        return permission in self.permissions_of(username)

    def require(self, username: str, permission: str) -> None:
        if not self.has_permission(username, permission):
            raise PermissionDenied(
                f"permission denied: user {username!r} lacks {permission!r} "
                f"(roles: {', '.join(self.roles_of(username)) or 'none'})"
            )

    # -- catalog persistence ------------------------------------------------------

    def to_catalog(self) -> dict:
        return {
            "grants": {u: sorted(r) for u, r in self._grants.items()},
            "custom_roles": {n: sorted(p) for n, p in self._custom.items()},
        }

    def load_catalog(self, cat: dict) -> None:
        self._grants = {u: set(r) for u, r in cat.get("grants", {}).items()}
        self._custom = {
            n: set(p) for n, p in cat.get("custom_roles", {}).items()
        }
