"""SQL text before Spark parses it: one lexer and one statement classifier.

Every decision the engine takes from SQL text goes through :func:`spans`:
peeling ``FOR SYSTEM_TIME`` and ``RETURNING``, splitting column, argument
and SET lists and procedure bodies, rewriting parameter markers, and
classifying a statement (:func:`classify`) for the wire server's write
lock, RBAC, the read-only replica gate and EXPLAIN — the reference trims
and routes on the statement text the same way (sql_bridge.rs:274-757).

The lexing rules are Spark's under the parser confs the session pins
(``DriftSession`` refuses a SET of escapedStringLiterals, ansi.enabled and
ansi.doubleQuotedIdentifiers): ``'…'`` and ``"…"`` are string literals with
backslash escapes and doubled quotes, ``r'…'`` and ``r"…"`` raw literals
have no escapes, a backtick identifier doubles its backticks, ``--``
comments to the end of the line and ``/* */`` comments nest. Text that
does not lex — an unterminated literal, identifier or comment — gives
``None`` or a loud error, never a guess: each caller then takes the
conservative branch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_OPEN = re.compile(r"(?<!\w)[rR](?=['\"])|['\"`]|--|/\*")
_CLOSE = {
    "'": re.compile(r"(?:[^'\\]|\\.|'')*'", re.DOTALL),
    '"': re.compile(r'(?:[^"\\]|\\.|"")*"', re.DOTALL),
    "`": re.compile(r"(?:[^`]|``)*`"),
    "r'": re.compile(r"[^']*'"),
    'r"': re.compile(r'[^"]*"'),
}
_BLOCK = re.compile(r"/\*|\*/")
_NONSPACE = re.compile(r"\S")
_PAREN = re.compile(r"[()]")
_WORD = re.compile(r"[A-Za-z_]\w*")


class Unlexable(ValueError):
    """An unterminated string literal, quoted identifier or block comment."""


def spans(sql: str, pos: int = 0):
    """Yield ``(kind, start, end)`` for ``sql[pos:]``, in order and without
    gaps; ``kind`` is ``code``, ``string``, ``ident`` or ``comment``. The
    one scan of SQL text in the engine. It is lazy, so a caller that stops
    early reads only the head of a long statement, and raises
    :class:`Unlexable` when it reaches an unterminated construct."""
    n = len(sql)
    while pos < n:
        m = _OPEN.search(sql, pos)
        if m is None:
            yield "code", pos, n
            return
        start, tok = m.start(), m.group()
        if start > pos:
            yield "code", pos, start
        if tok == "--":
            end = sql.find("\n", start)
            kind, pos = "comment", n if end == -1 else end
        elif tok == "/*":
            depth, pos = 1, start + 2
            while depth:
                mb = _BLOCK.search(sql, pos)
                if mb is None:
                    raise Unlexable("unterminated /* comment")
                depth += 1 if mb.group() == "/*" else -1
                pos = mb.end()
            kind = "comment"
        else:
            if tok in "rR":  # raw literal: no escapes
                tok = "r" + sql[start + 1]
            mq = _CLOSE[tok].match(sql, start + len(tok))
            if mq is None:
                raise Unlexable(f"unterminated {tok} quote")
            kind, pos = ("ident" if tok == "`" else "string"), mq.end()
        yield kind, start, pos


def _code_matches(rx: re.Pattern, sql: str, pos: int = 0):
    """Matches of ``rx`` from ``pos`` on that start in code; a match may
    run on past its span (a peeled clause carries its own literals). Lexes
    only as far as the last match."""
    m = rx.search(sql, pos)
    if m is None:
        return
    for kind, start, end in spans(sql, pos):
        while m is not None and m.start() < end:
            if kind == "code":
                yield m
                m = rx.search(sql, max(m.end(), m.start() + 1))
            else:
                m = rx.search(sql, end)
        if m is None:
            return


def skip_space(sql: str, pos: int = 0) -> int | None:
    """Index of the first character at or after ``pos`` that is neither
    whitespace nor comment — ``len(sql)`` if none, ``None`` if the text
    does not lex that far."""
    try:
        for kind, start, end in spans(sql, pos):
            if kind == "comment":
                continue
            m = _NONSPACE.search(sql, start, end) if kind == "code" else None
            if kind != "code" or m:
                return start if m is None else m.start()
    except Unlexable:
        return None
    return len(sql)


def skip_balanced_paren(sql: str, pos: int) -> int | None:
    """``pos`` is just past an opening ``(``: the index just past its
    matching ``)``, or ``None`` if it has none or the text does not lex."""
    depth = 1
    try:
        for m in _code_matches(_PAREN, sql, pos):
            depth += 1 if m.group() == "(" else -1
            if depth == 0:
                return m.end()
    except Unlexable:
        pass
    return None


def unclosed_parens(sql: str) -> int:
    """How many ``)`` in the code of ``sql`` close a ``(`` before it.
    Raises :class:`Unlexable` on text that does not lex."""
    depth = low = 0
    for m in _code_matches(_PAREN, sql):
        depth += 1 if m.group() == "(" else -1
        low = min(low, depth)
    return -low


def search_code(rx: re.Pattern, sql: str, pos: int = 0) -> re.Match | None:
    """The first match of ``rx`` that starts outside literals, quoted
    identifiers and comments, or ``None`` (also when the text does not
    lex). The regex runs alone first, so text without a hit is never
    lexed."""
    if rx.search(sql, pos) is None:
        return None
    try:
        return next(_code_matches(rx, sql, pos), None)
    except Unlexable:
        return None


def sub_code(rx: re.Pattern, repl, sql: str) -> str:
    """``rx.sub(repl, sql)`` applied only where a match starts in code.
    Raises :class:`Unlexable` (a ``ValueError``) when a hit needs the
    lexer and the text does not lex."""
    out, last = [], 0
    for m in _code_matches(rx, sql):
        out += [sql[last : m.start()], repl(m)]
        last = m.end()
    return "".join(out) + sql[last:]


def split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses, literals, quoted identifiers
    and comments — column definitions, SET and argument lists (``,``),
    procedure bodies (``;``). Empty parts are dropped. Raises
    :class:`Unlexable` on text that does not lex."""
    parts, depth, last = [], 0, 0
    for m in _code_matches(re.compile(rf"[(){re.escape(sep)}]"), text):
        ch = m.group()
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            parts.append(text[last : m.start()])
            last = m.end()
    parts.append(text[last:])
    return [p for p in (x.strip() for x in parts) if p]


def extract_clause(text: str, keyword: str) -> str | None:
    """The balanced-paren expression after ``keyword (`` in code — e.g.
    ``USING (f(x) = 1)`` → ``f(x) = 1``; ``None`` without the keyword."""
    kw = keyword.replace(" ", r"\s+")
    m = search_code(re.compile(rf"\b{kw}\s*\(", re.IGNORECASE), text)
    if m is None:
        return None
    end = skip_balanced_paren(text, m.end())
    if end is None:
        raise ValueError(f"unbalanced parentheses after {keyword}")
    return text[m.end() : end - 1].strip()


def scrub_literals_and_comments(sql: str) -> str | None:
    """``sql`` with the contents of literals, quoted identifiers and
    comments blanked (``' '``, `` ` ` ``, one space), so a word search
    cannot match inside them; ``None`` if the text does not lex."""
    def blank(kind: str, start: int, end: int) -> str:
        if kind == "code":
            return sql[start:end]
        return " " if kind == "comment" else f"{sql[end - 1]} {sql[end - 1]}"

    try:
        return "".join(blank(*span) for span in spans(sql))
    except Unlexable:
        return None


# -- statement heads -----------------------------------------------------------

_RECURSIVE_RE = re.compile(r"RECURSIVE\b", re.IGNORECASE)
_CTE_NAME_RE = re.compile(r"\w+|`(?:[^`]|``)+`")
_AS_RE = re.compile(r"AS\b", re.IGNORECASE)

#: the verbs that write rows — what a WITH prefix may carry (Spark SQL and
#: PostgreSQL both allow CTE-prefixed DML)
CTE_DML_RE = re.compile(r"^(INSERT|UPDATE|DELETE|MERGE)\b", re.IGNORECASE)
_DML_WORD = re.compile(r"\b(INSERT|UPDATE|DELETE|MERGE)\b", re.IGNORECASE)


def split_leading_ctes(
    sql: str,
) -> tuple[bool, list[tuple[str, str | None, str]], str] | None:
    """Lex a leading ``WITH [RECURSIVE] name [(cols)] AS (...) [, ...]``
    prefix into ``(recursive, [(name, column_list_or_None, body_sql), ...],
    tail)``; ``None`` if ``sql`` is not WITH-prefixed or the prefix does not
    lex (the caller must then treat the statement as possibly DML).

    Two consumers: :func:`classify`, which routes a WITH-prefixed statement
    on the verb after the prefix, and the execution of ``WITH … INSERT/
    UPDATE/DELETE/MERGE``, which materializes each (name, body) as a
    statement-scoped temp view and re-dispatches the tail (PostgreSQL
    executes data-modifying CTE statements; the reference's sqlparser
    cannot even parse them)."""
    pos = skip_space(sql)
    m = None if pos is None else _WORD.match(sql, pos)
    if m is None or m.group().upper() != "WITH":
        return None
    pos = skip_space(sql, m.end())
    mr = None if pos is None else _RECURSIVE_RE.match(sql, pos)
    if mr:
        pos = skip_space(sql, mr.end())
    ctes: list[tuple[str, str | None, str]] = []
    while True:
        mc = None if pos is None else _CTE_NAME_RE.match(sql, pos)
        if mc is None:
            return None
        raw = mc.group()
        name = raw[1:-1].replace("``", "`") if raw.startswith("`") else raw
        pos = skip_space(sql, mc.end())
        cols: str | None = None
        if pos is not None and sql.startswith("(", pos):  # column list
            end = skip_balanced_paren(sql, pos + 1)
            if end is None:
                return None
            cols, pos = sql[pos + 1 : end - 1], skip_space(sql, end)
        ma = None if pos is None else _AS_RE.match(sql, pos)
        pos = None if ma is None else skip_space(sql, ma.end())
        if pos is None or not sql.startswith("(", pos):
            return None
        end = skip_balanced_paren(sql, pos + 1)
        if end is None:
            return None
        ctes.append((name, cols, sql[pos + 1 : end - 1]))
        pos = skip_space(sql, end)
        if pos is None or pos == len(sql):
            return None
        if sql[pos] != ",":
            return mr is not None, ctes, sql[pos:]
        pos = skip_space(sql, pos + 1)


def strip_leading_ctes(sql: str) -> str | None:
    """The statement after a leading WITH prefix, or None if not
    WITH-prefixed / unlexable — see :func:`split_leading_ctes`."""
    parts = split_leading_ctes(sql)
    return None if parts is None else parts[2]


#: verbs of statements that return rows and write nothing
QUERY_VERBS = frozenset({"SELECT", "VALUES", "TABLE"})


@dataclass(frozen=True)
class Head:
    """What a statement is, read from its head only (:func:`classify`).

    ``verb`` is the upper-cased first word of the statement proper — past
    leading comments, ``EXPLAIN [ANALYZE]`` and a WITH prefix — and is
    ``"WITH"`` when the WITH prefix does not lex, ``None`` when not even
    the first word does: in both cases the verb is unknown. ``text`` is
    the statement from its first word on (WITH prefix included), ``ctes``
    the :func:`split_leading_ctes` parts of a WITH prefix."""

    verb: str | None
    text: str
    explain: bool = False
    analyze: bool = False
    ctes: tuple | None = None

    @property
    def body(self) -> str:
        """The statement past its WITH prefix."""
        return self.text if self.ctes is None else self.ctes[2]

    @property
    def opaque(self) -> bool:
        """The head did not lex, so the verb is unknown."""
        return self.verb in (None, "WITH")

    @property
    def query(self) -> bool:
        """SELECT / VALUES / TABLE, possibly WITH-prefixed."""
        return self.verb in QUERY_VERBS

    def dml_verbs(self) -> set[str]:
        """The row-writing verbs the statement may run: its own, or for an
        opaque head every one that appears outside literals and comments —
        anywhere in the text if even that does not lex."""
        if not self.opaque:
            return {self.verb} if CTE_DML_RE.match(self.verb) else set()
        scrubbed = scrub_literals_and_comments(self.text)
        found = _DML_WORD.findall(self.text if scrubbed is None else scrubbed)
        return {w.upper() for w in found}


def classify(sql: str) -> Head:
    """Classify a statement from its head: skip leading comments, peel
    ``EXPLAIN [ANALYZE]``, peel a WITH prefix through
    :func:`split_leading_ctes`, and take the verb. Reads the head and a
    WITH prefix only, never the rest of a long statement."""
    explain = analyze = False
    pos = skip_space(sql)
    m = None if pos is None else _WORD.match(sql, pos)
    if m and m.group().upper() == "EXPLAIN":
        explain, pos = True, skip_space(sql, m.end())
        m = None if pos is None else _WORD.match(sql, pos)
        if m and m.group().upper() == "ANALYZE":
            analyze, pos = True, skip_space(sql, m.end())
            m = None if pos is None else _WORD.match(sql, pos)
    if pos is None:
        return Head(None, sql, explain, analyze)
    text, verb = sql[pos:], m.group().upper() if m else ""
    if verb != "WITH":
        return Head(verb, text, explain, analyze)
    ctes = split_leading_ctes(text)
    if ctes is None:
        return Head(verb, text, explain, analyze)
    mv = _WORD.match(ctes[2])
    return Head(mv.group().upper() if mv else "", text, explain, analyze, ctes)


# -- parameter markers ---------------------------------------------------------

_DOLLAR = re.compile(r"\$(\d+)")
_NAMED = re.compile(r"(?<!:):(\w+)")


def number_params(sql: str) -> tuple[str, int]:
    """Rewrite PostgreSQL ``$N`` markers in code to the session's ``:pN``
    named markers; returns the text and the highest N (0 without any)."""
    seen = [0]

    def named(m: re.Match) -> str:
        seen.append(int(m.group(1)))
        return f":p{m.group(1)}"

    out = sub_code(_DOLLAR, named, sql)
    return out, max(seen)


def render_literal(v) -> str:
    """One parameter value as a SQL literal. Strings escape backslashes AND
    embedded quotes — Spark SQL processes C-style escapes in string
    literals, so a bare trailing ``\\`` would swallow the closing quote
    (injection vector); everything else renders from a fixed type table —
    there is no raw passthrough."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    from decimal import Decimal

    if isinstance(v, Decimal):
        return str(v)  # exact decimal literal, never quoted
    s = str(v).replace("\\", "\\\\").replace("'", "''")
    return f"'{s}'"


def bind_params(sql: str, args: dict) -> tuple[str, dict | None]:
    """``(sql, args)`` ready for ``DriftSession.sql`` from a statement with
    ``:name`` markers. ``args`` keeps the values of the markers the code
    uses. A query keeps Spark's native binding (values never touch the
    text); any other statement gets each marker in code replaced by its
    value's typed literal, and no args — the dispatcher hands DML
    fragments (VALUES tails, WHERE conditions) to parsers that cannot see
    a binding map."""
    used: dict = {}

    def literal(m: re.Match) -> str:
        if m.group(1) not in args:
            return m.group()
        used[m.group(1)] = args[m.group(1)]
        return render_literal(args[m.group(1)])

    text = sub_code(_NAMED, literal, sql)
    if classify(sql).query:
        return sql, used or None
    return text, None
