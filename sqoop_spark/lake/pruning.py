"""Manifest-level predicate pruning for :meth:`LakeTable.scan`.

Extracts *prunable terms* from a SQL ``WHERE`` string — simple
``column OP literal`` comparisons joined by top-level ``AND`` — and
evaluates each file entry's recorded zone maps against them, so a
filtered read skips whole files before Spark lists a single path. This
is the Iceberg manifest-bounds prune: Sqoop has no analog (its WHERE
clauses push to the source database, ``tool/ImportTool.java``); here the
lake table IS the source, so the manifest plays the role of the
database's index.

Everything is **fail-open**: a term the parser cannot prove is a plain
conjunctive comparison contributes no pruning; a top-level ``OR`` (or
``NOT``) disables pruning entirely; a type mismatch between the literal
and the recorded bound skips that term; a file with no stat for the
column is always kept. The predicate is ALWAYS re-applied in-plan, so
pruning can only ever skip files that provably hold no matching row —
never change results.
"""

from __future__ import annotations

import re

# A prunable term: (column, op, values) where op is one of
# '=' '<' '<=' '>' '>=' 'in' and values is a 1+-element list of Python
# literals (str / int / float).
Term = tuple[str, str, list]

_IDENT = r"(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
_NUM = r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_STR = r"'(?:[^']|'')*'"
_LIT = rf"(?:{_NUM}|{_STR})"
_CMP = re.compile(
    rf"^\s*({_IDENT})\s*(=|==|<=|>=|<|>)\s*({_LIT})\s*$"
)
_CMP_REV = re.compile(
    rf"^\s*({_LIT})\s*(=|==|<=|>=|<|>)\s*({_IDENT})\s*$"
)
_IN = re.compile(
    rf"^\s*({_IDENT})\s+in\s*\(\s*({_LIT}(?:\s*,\s*{_LIT})*)\s*\)\s*$",
    re.IGNORECASE,
)
_LIT_RE = re.compile(_LIT)
_FLIP = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "=", "==": "=="}


def _unident(s: str) -> str:
    return s[1:-1] if s.startswith("`") else s


def _unlit(s: str):
    if s.startswith("'"):
        return s[1:-1].replace("''", "'")
    try:
        if re.fullmatch(r"-?\d+", s):
            return int(s)
        return float(s)
    except ValueError:  # pragma: no cover — regex guarantees numeric
        return None


def split_conjuncts(where: str) -> list[str] | None:
    """Top-level ``AND`` split, respecting parentheses and single-quoted
    strings. Returns None — *no pruning* — when a top-level ``OR`` or
    ``NOT`` is present (the conjunct list would not be a sound upper
    bound on the predicate then). A ``BETWEEN``'s inner ``AND`` does get
    split; the fragments simply fail term-parsing and contribute no
    pruning (fail-open, never wrong: a genuine top-level conjunct after
    it still parses on its own)."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    i, n = 0, len(where)
    while i < n:
        ch = where[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if where[j] == "'":
                    if j + 1 < n and where[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(where[i : j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and ch.isalpha():
            m = re.match(r"[A-Za-z_]+", where[i:])
            word = m.group(0)
            prev = where[i - 1] if i > 0 else " "
            boundary = not (prev.isalnum() or prev in "_`")
            if boundary and word.upper() == "AND":
                parts.append("".join(buf))
                buf = []
                i += len(word)
                continue
            if boundary and word.upper() in ("OR", "NOT"):
                return None
            buf.append(word)
            i += len(word)
            continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def parse_terms(where: str) -> list[Term]:
    """The prunable terms of ``where`` — possibly empty. Sound but not
    complete: every returned term is implied by the predicate; terms the
    parser cannot prove are silently dropped."""
    parts = split_conjuncts(where)
    if parts is None:
        return []
    terms: list[Term] = []
    for p in parts:
        m = _CMP.match(p)
        if m:
            col, op, lit = m.group(1), m.group(2), m.group(3)
            terms.append((_unident(col), "=" if op == "==" else op, [_unlit(lit)]))
            continue
        m = _CMP_REV.match(p)
        if m:
            lit, op, col = m.group(1), m.group(2), m.group(3)
            op = _FLIP[op]
            terms.append((_unident(col), "=" if op == "==" else op, [_unlit(lit)]))
            continue
        m = _IN.match(p)
        if m:
            col, lits = m.group(1), m.group(2)
            vals = [_unlit(x) for x in _LIT_RE.findall(lits)]
            terms.append((_unident(col), "in", vals))
    return [t for t in terms if all(v is not None for v in t[2])]


def canon_timestamp_literal(v, tz: str | None = None) -> str | None:
    """A string literal probing a TIMESTAMP column, canonicalized to the
    manifest's stored bound encoding (``datetime.isoformat()``, ``T``
    separator), or None — *fail open* — when it cannot be proven
    order-equivalent: non-string literals, unparseable forms, and
    timezone-aware literals.

    ``tz`` is the session time zone for a ``TimestampType`` column, None
    for ``TimestampNTZType``. Footer bounds of a ``TimestampType`` column
    are UTC instants and carry their offset ('...T00:00:00+00:00'), so
    the literal is read in ``tz`` as Spark's cast reads it and spelled
    as the same UTC instant; a naive spelling would sort BEFORE an equal
    bound (it is a prefix of it) and wrongly skip the file whose min it
    equals. A wall-clock time that ``tz`` skips or repeats (a DST gap or
    overlap), or a zone Python cannot resolve, fails open. NTZ bounds
    are naive and the literal stays naive."""
    import datetime as dt
    from zoneinfo import ZoneInfo

    if not isinstance(v, str):
        return None
    try:
        parsed = dt.datetime.fromisoformat(v)
    except ValueError:
        return None
    if parsed.utcoffset() is not None:
        return None
    if tz is None:
        return parsed.isoformat()
    try:
        zone = ZoneInfo(tz)
    except (ValueError, LookupError):
        return None
    local = parsed.replace(tzinfo=zone)
    if local.utcoffset() != local.replace(fold=1).utcoffset():
        return None
    return local.astimezone(dt.timezone.utc).isoformat()


def canon_date_literal(v) -> str | None:
    """A string literal probing a DATE column, canonicalized to the
    stored ``date.isoformat()`` form (Spark casts the literal to date,
    truncating any time part), or None to fail open."""
    import datetime as dt

    if not isinstance(v, str):
        return None
    try:
        parsed = dt.datetime.fromisoformat(v)
    except ValueError:
        return None
    if parsed.utcoffset() is not None:
        return None
    return parsed.date().isoformat()


_MISSING = object()


def canon_literal(value, dtype, tz: str = "UTC"):
    """One literal canonicalized against a column's Spark type for
    comparison with the manifest's stored bound encoding — the single
    dispatch rule shared by scan (normalize_terms) and
    prune_entries/read_since (lookup compares the key already cast to
    the column's type). ``tz`` is the session time zone a string literal
    on a ``TimestampType`` column is read in:

    - string probing Timestamp → :func:`canon_timestamp_literal` in ``tz``
    - string probing TimestampNTZ → :func:`canon_timestamp_literal`, naive
    - string probing Date → :func:`canon_date_literal`
    - a ``datetime`` probing a temporal column → its isoformat string,
      as above (``typed_lit`` hands Spark the same string to cast)
    - anything else → unchanged (``_MISSING`` sentinel distinguishes
      "not a temporal-string case" from "canonicalization failed")

    Returns the canonical value, or None when the literal should
    contribute no pruning (fail open), or ``_MISSING`` when the rule
    does not apply and the caller's default encoding should be used."""
    import datetime as dt

    from pyspark.sql import types as T

    temporal = (T.TimestampType, T.TimestampNTZType, T.DateType)
    if isinstance(value, dt.datetime) and isinstance(dtype, temporal):
        value = value.isoformat()
    if isinstance(value, str):
        if isinstance(dtype, T.TimestampType):
            return canon_timestamp_literal(value, tz)
        if isinstance(dtype, T.TimestampNTZType):
            return canon_timestamp_literal(value)
        if isinstance(dtype, T.DateType):
            return canon_date_literal(value)
    return _MISSING


def normalize_terms(
    terms: list[Term], schema, tz: str = "UTC"
) -> list[Term]:
    """Type-aware literal canonicalization against the table's Spark
    schema — the fix for comparing SQL string literals to zone-map bounds
    whose on-manifest encoding differs from the literal's spelling.
    Timestamp/date column bounds are stored as ``isoformat()`` strings
    ('T' separator), so a probe like ``ts <= '2024-06-15 23:00:00'``
    (which Spark happily casts and matches) would raw-string-compare
    wrongly (' ' sorts before 'T'). Each such literal is re-spelled in
    the stored form — for a ``TimestampType`` column, the UTC instant it
    names in session time zone ``tz``, with the bounds' '+00:00'; a term whose literal cannot be canonicalized (or a
    numeric literal probing a temporal column) is DROPPED — fail open,
    the predicate is always re-applied in-plan. Terms probing columns
    absent from the schema pass through untouched (no stat will exist
    for them anyway)."""
    from pyspark.sql import types as T

    out: list[Term] = []
    for col, op, vals in terms:
        try:
            dtype = schema[col].dataType
        except Exception:
            out.append((col, op, vals))
            continue
        if not isinstance(
            dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            out.append((col, op, vals))
            continue
        canon = [canon_literal(v, dtype, tz) for v in vals]
        # numeric literals probing a temporal column reach here as
        # _MISSING — incomparable with the string bounds, drop the term
        if all(c is not None and c is not _MISSING for c in canon):
            out.append((col, op, canon))
    return out


def _comparable(v, bound) -> bool:
    num = (int, float)
    if isinstance(v, bool) or isinstance(bound, bool):
        return False
    if isinstance(v, num) and isinstance(bound, num):
        return True
    return isinstance(v, str) and isinstance(bound, str)


def entry_excluded(stats: dict | None, terms: list[Term]) -> bool:
    """True iff some term PROVES the file holds no matching row — the
    recorded ``[min, max]`` is disjoint from the term's value set. NULL
    rows never satisfy a comparison, so excluding on non-null bounds is
    sound regardless of the file's null count."""
    if not stats:
        return False
    for col, op, vals in terms:
        st = stats.get(col)
        if not st:
            continue
        mn, mx = st
        if not all(_comparable(v, mn) and _comparable(v, mx) for v in vals):
            continue
        v = vals[0]
        if op == "=" and (v < mn or v > mx):
            return True
        if op == "in" and all(x < mn or x > mx for x in vals):
            return True
        if op == ">" and mx <= v:
            return True
        if op == ">=" and mx < v:
            return True
        if op == "<" and mn >= v:
            return True
        if op == "<=" and mn > v:
            return True
    return False
