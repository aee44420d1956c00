"""The one file-skip rule of the lake table: which manifest file entries
a read may leave unopened.

Every read selects its files through :func:`select_files` — ``scan``
(terms parsed from a SQL ``WHERE``), ``read_since`` (the watermark
window, the append-incremental contract ``check_col > last_value AND
check_col <= MAX`` of the reference, ``tool/ImportTool.java:316-333``)
and ``lookup``/``lookup_entries`` (one ``=`` term per key column, in
the key's one bucket) — and the copy-on-write merge carries a base file
by reference when :func:`entry_excluded` proves the batch's key range
misses it (``cdc/merge.py`` ``_split_zone_carry``). So a file's recorded
zone map is compared in exactly one place (:func:`entry_excluded`),
against values spelled by exactly one canonicalizer
(:func:`canon_bound`). This is the Iceberg manifest-bounds prune: Sqoop
has no analog (its WHERE clauses push to the source database); here
the lake table IS the source, so the manifest plays the database index.

Everything is **fail-open**: a term the parser cannot prove is a plain
conjunctive comparison contributes no pruning; a top-level ``OR`` (or
``NOT``) disables pruning entirely; a value that cannot be spelled as
the bound encoding, or whose type or spelling differs from the recorded
bound, skips that term; a file with no stat for the column is always
kept. The predicate is ALWAYS re-applied in-plan, so pruning can only
skip files that provably hold no matching row — never change results.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyspark.sql import types as T

# A prunable term: (column, op, values) where op is one of
# '=' '<' '<=' '>' '>=' 'in' and values is a 1+-element list of Python
# literals (str / int / float; a None value prunes nothing).
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


_TEMPORAL = (T.TimestampType, T.TimestampNTZType, T.DateType)


def json_stat(v):
    """A zone-map bound in its JSON-comparable form, or None if the type
    has no order-preserving JSON encoding (then no stat is recorded and
    pruning fails open). ISO-8601 keeps temporal ordering under string
    comparison; an instant is spelled in UTC ('+00:00', as pyarrow
    decodes a TIMESTAMP footer bound); bools/bytes/decimals are
    skipped."""
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, dt.datetime) and v.utcoffset() is not None:
        return v.astimezone(dt.timezone.utc).isoformat()
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return None


def canon_bound(value, dtype, tz: str = "UTC"):
    """The one canonicalizer: ``value`` spelled in the manifest's bound
    encoding for a column of Spark type ``dtype``, or None — *fail open*
    — when it cannot be proven order-equivalent to the bounds.

    - A typed value, an Arrow scalar of the column's type (``lookup``'s
      cast key, the CoW probe's batch key range), is :func:`json_stat`
      of its Python value: a TIMESTAMP instant in UTC, an NTZ naive.
    - A user literal on a temporal column is read as Spark's cast reads
      it. A string, a ``date`` or a naive ``datetime`` (``typed_lit``
      hands Spark its ISO string) on a ``TimestampType`` column names a
      wall-clock time in session time zone ``tz`` and is spelled as that
      UTC instant, since a naive spelling sorts BEFORE the equal bound
      (it is a prefix of it). A wall-clock time ``tz`` skips or repeats
      (a DST gap or overlap), or a zone Python cannot resolve, fails
      open. An NTZ literal stays naive; a DATE literal truncates to its
      date. An aware ``datetime`` is an instant (TIMESTAMP only); an
      aware string, an unparseable one or a number fails open.
    - Any other literal is :func:`json_stat` of it (strings and numbers
      unchanged); a string on a numeric column or a number on a string
      column is left for :func:`entry_excluded` to skip as a type
      mismatch."""
    if isinstance(value, pa.Scalar):
        return json_stat(value.as_py())
    if not isinstance(dtype, _TEMPORAL):
        return None if isinstance(value, dt.date) else json_stat(value)
    if isinstance(value, dt.datetime) and value.utcoffset() is not None:
        return json_stat(value) if isinstance(dtype, T.TimestampType) else None
    if isinstance(value, dt.date):
        value = value.isoformat()
    if not isinstance(value, str):
        return None
    try:
        parsed = dt.datetime.fromisoformat(value)
    except ValueError:
        return None
    if parsed.utcoffset() is not None:
        return None
    if isinstance(dtype, T.DateType):
        return parsed.date().isoformat()
    if isinstance(dtype, T.TimestampNTZType):
        return parsed.isoformat()
    try:
        local = parsed.replace(tzinfo=ZoneInfo(tz))
    except (ValueError, LookupError):
        return None
    if local.utcoffset() != local.replace(fold=1).utcoffset():
        return None
    return json_stat(local)


def normalize_terms(
    terms: list[Term], schema, tz: str = "UTC"
) -> list[Term]:
    """Parsed terms with every literal spelled by :func:`canon_bound` for
    its column's type in ``schema`` (``tz`` is the session time zone). A
    term with a literal that fails open is DROPPED — the predicate is
    always re-applied in-plan. Terms probing columns absent from the
    schema pass through untouched (no stat will exist for them
    anyway)."""
    out: list[Term] = []
    for col, op, vals in terms:
        if col not in schema.fieldNames():
            out.append((col, op, vals))
            continue
        canon = [canon_bound(v, schema[col].dataType, tz) for v in vals]
        if all(c is not None for c in canon):
            out.append((col, op, canon))
    return out


def _offset(s: str) -> bool:
    """True for an ISO timestamp spelled with a UTC offset."""
    return len(s) >= 25 and s[10] == "T" and s[-6] in "+-" and s[-3] == ":"


def _comparable(v, bound) -> bool:
    num = (int, float)
    if isinstance(v, bool) or isinstance(bound, bool):
        return False
    if isinstance(v, num) and isinstance(bound, num):
        return True
    # a naive timestamp spelling never meets an offset one: it is a
    # prefix of the instant it may equal, so it sorts below it
    return (
        isinstance(v, str) and isinstance(bound, str)
        and _offset(v) == _offset(bound)
    )


def entry_excluded(stats: dict | None, terms: list[Term]) -> bool:
    """True iff some term PROVES the file holds no matching row — the
    recorded ``[min, max]`` is disjoint from the term's value set. NULL
    rows never satisfy a comparison, so excluding on non-null bounds is
    sound regardless of the file's null count. The only comparison of a
    manifest bound in the engine; a value or bound of another type or
    spelling (a None bound, a string against a number, a naive against
    an offset timestamp) skips the term."""
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


def bloom_excluded(
    root: str, e: dict, terms: list[Term], cache: dict[str, dict | None]
) -> bool:
    """True iff some equality/IN term's values are ALL provably absent
    from the file per its bloom sidecar (lake/bloom.py; ``root`` is the
    table path, ``cache`` maps sidecar paths to their parsed contents).
    Fail-open on everything: no sidecar recorded, unreadable sidecar,
    stale canary (pandas hash drift), no descriptor for the column,
    uncoercible probe literal."""
    rel = e.get("bloom")
    if not rel:
        return False
    eq = [(c, vals) for c, op, vals in terms if op in ("=", "in")]
    if not eq:
        return False
    from sqoop_spark.lake.bloom import might_contain, read_sidecar

    if rel not in cache:
        cache[rel] = read_sidecar(os.path.join(root, rel))
    cols = cache[rel]
    if not cols:
        return False
    for c, vals in eq:
        desc = cols.get(c)
        if desc and not any(might_contain(desc, v) for v in vals):
            return True
    return False


def resolve_buckets(entries: list[dict]) -> set[int]:
    """Buckets that genuinely need key-resolution: those holding
    NON-tombstone delta files. A tombstone-only bucket reads as plain
    base — compaction wrote its base files delete-applied, and a
    retained tombstone's key can only re-enter the bucket through a new
    delta (append_delta / the MoR merge flows), which puts the bucket
    back in this set. Resolving a tombstone-only bucket is an identity
    shuffle; at steady state (fully compacted MoR table with retained
    tombstones) skipping it makes the logical read a PLAIN SCAN. (Blind
    base-append of an already-live key into a merge table is undefined
    on merge tables generally — it duplicates base keys — not a
    tombstone-specific caveat.)"""
    return {
        e["bucket"]
        for e in entries
        if e.get("delta") and not e.get("tombstone")
    }


def select_files(
    root: str,
    entries: list[dict],
    terms: list[Term],
    keys: list[str],
    order: str,
    bucket: int | None = None,
) -> list[dict]:
    """The file entries a read filtered by ``terms`` (canonical, see
    :func:`normalize_terms`) must open, from ``entries`` of the table at
    ``root`` whose key columns are ``keys`` and whose newest-wins order
    column is ``order``; only bucket ``bucket`` when given. The caller
    resolves the result (``_state_of_entries``) and filters it by the
    full predicate again. Three steps:

    1. **Every bucket**: drop a file whose zone maps or blooms exclude
       a *resolve-safe* term — one on a key column, or a ``>``/``>=`` on
       the order column. Pruning by such a term cannot change what the
       filtered resolve returns: a dropped file holds no row satisfying
       the term, so a key's winner that satisfies the predicate stays,
       and still wins among the kept rows; a key whose winner was
       dropped either fails a key term with every row, or has only rows
       at or below the order bound left, which the filter removes.
       Delete and upsert markers carry their keys and order values, so
       the argument holds in buckets with MoR deltas. A payload term or
       an order-column upper bound is not safe there: a delta row's
       values say nothing about the older base row it supersedes.
    2. **Resolving buckets**: :func:`resolve_buckets` of the survivors.
    3. **Plain buckets** (no surviving non-tombstone delta): prune the
       files by every term, and drop the tombstones — the base files
       are delete-applied, so the bucket reads as a plain scan."""
    cache: dict[str, dict | None] = {}

    def excluded(e: dict, ts: list[Term]) -> bool:
        return entry_excluded(e.get("stats"), ts) or bloom_excluded(
            root, e, ts, cache
        )

    safe = [
        t for t in terms
        if t[0] in keys or (t[0] == order and t[1] in (">", ">="))
    ]
    kept = [
        e for e in entries
        if (bucket is None or e["bucket"] == bucket) and not excluded(e, safe)
    ]
    rb = resolve_buckets(kept)
    return [
        e for e in kept
        if e["bucket"] in rb or not (e.get("tombstone") or excluded(e, terms))
    ]
