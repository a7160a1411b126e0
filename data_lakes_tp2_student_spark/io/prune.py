"""File skipping for manifest tables: one predicate type, three front
ends that build it, one normalizer, two evaluators. Pure Python — no
SparkSession is needed to build or evaluate a predicate.

A predicate (`Pred`) is an OR of branches. Each branch maps a column to
a closed interval `(lo, hi)` (a None side is unbounded) or to a finite
value set (`frozenset`). Front ends only build predicates:

- `from_dicts`: `read()`'s explicit `range_filter` / `partition_filter`;
- `from_where`: a SQL WHERE string (DELETE / UPDATE discovery);
- `from_filters`: the `Filter` objects Spark pushes into the `manifest`
  DataSource.

MERGE builds its one-branch predicate from the source's key bounds.

Evaluators: `keep` over dict file entries (authoritative), and
`ckpt_filter`, the vectorized pre-filter inside a parquet checkpoint
read, which receives the predicate's per-column hull (`envelope`).

Soundness contract. Pruning may only over-approximate: a file is dropped
only when it provably holds no row the predicate can match.

- Files without stats for a column, and NULL or unparsable partition
  values, are kept.
- Domains are schema-typed: a literal is first converted into the
  committed column type's domain (`_lit_domain`), then into the stored
  stats' domain (`_norm_bounds`) or the typed partition-path domain
  (`_typed_part_value`). A literal with no sound conversion drops its
  side of the constraint (or the whole value set).
- Timezone gate: a predicate with `tz_utc=False` carries wall-time
  literals of a non-UTC session, while stats and partition paths hold
  UTC. Temporal compares are then refused except date-only against
  date-only, and the checkpoint pre-filter is skipped.
- Any error while evaluating a column drops that column's constraint,
  so errors degrade to keeping files, never to a wrong file set.

The one exact use is `partition_filter`: its values (`Paths`) match the
partition path strings verbatim, as a filter rather than a bound.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import json
import re

_REFUSE = object()  # a literal with no sound conversion into the domain


class Paths(frozenset):
    """`partition_filter` values as partition path strings (None = the
    NULL partition): matched verbatim, an exact filter."""


class Pred:
    """An OR of branches; each branch is {column: (lo, hi) | frozenset}.
    `tz_utc`: the temporal literals are UTC wall times."""

    def __init__(self, branches, tz_utc: bool = True):
        self.branches = [dict(b) for b in branches]
        self.tz_utc = tz_utc


# ---------- value domains ----------


def _json_safe(v):
    """Parquet-footer statistic → JSON-storable canonical value."""
    import numpy as _np

    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).decode("utf-8", "replace")
    if isinstance(v, _np.integer):
        return int(v)
    if isinstance(v, _np.floating):
        return float(v)
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (int, float)):
        return v
    return str(v)


def _path_value(v) -> str | None:
    """A partition value → the string Spark renders in the path segment
    (Python's ``str(True)`` is ``'True'``; Spark writes ``flag=true``)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _date_only(b) -> bool:
    """None or an ISO date string without a time part."""
    if b is None:
        return True
    try:
        _dt.date.fromisoformat(b)
        return True
    except (TypeError, ValueError):
        return False


def _lit_domain(v, simple_type: str):
    """A literal → the committed column type's comparison domain, or
    `_REFUSE`. Numeric types take numbers and strings that are wholly a
    number (a quoted list like `b IN ('2', '10')` compares numerically,
    never in string order); string types take strings only (Spark casts
    the column for a numeric literal, so string order proves nothing);
    temporal types take ISO strings and dates, re-emitted in canonical
    isoformat so one format orders them; boolean types take booleans
    only. NaN is refused: Spark orders NaN above every double. None (an
    unbounded side) passes through."""
    v = _json_safe(v)
    if v is None:
        return None
    if isinstance(v, bool) or simple_type == "boolean":
        return v if isinstance(v, bool) and simple_type == "boolean" else _REFUSE
    numeric = simple_type in ("tinyint", "smallint", "int", "bigint", "float",
                              "double") or simple_type.startswith("decimal")
    if numeric:
        convs = (int, float) if "int" in simple_type else (float,)
        for conv in () if isinstance(v, (int, float)) else convs:
            try:
                v = conv(v)
                break
            except ValueError:
                pass
        ok = isinstance(v, (int, float)) and v == v  # NaN never bounds
        return v if ok else _REFUSE
    if simple_type in ("date", "timestamp", "timestamp_ntz"):
        if not isinstance(v, str):
            return _REFUSE
        try:
            return _dt.date.fromisoformat(v).isoformat()
        except ValueError:
            pass
        try:
            return _dt.datetime.fromisoformat(v).isoformat()
        except ValueError:
            return _REFUSE
    return v if isinstance(v, str) else _REFUSE


def _norm_bounds(lo, hi, sample, col_type=None, tz_utc=True):
    """A (lo, hi) pair (None = unbounded side) in the domain of the stored
    stats value `sample`, or None when comparability cannot be proven.

    Numeric stats take numeric bounds; plain-string stats take string
    bounds verbatim (`col_type` "string" forces this even when the sample
    parses as an ISO date). Datetime-ISO stats get each bound re-emitted
    in the stats' exact format: '+00:00'-suffixed for UTC-aware
    TIMESTAMP_MICROS footers, naive otherwise, and floored to the day for
    date-only stats (exact for hi, over-approximating for lo). With
    `tz_utc=False` only date-only stats against date-only bounds stay
    comparable."""
    if sample is None or isinstance(sample, bool):
        return None
    if isinstance(sample, (int, float)):
        ok = all(
            b is None or (isinstance(b, (int, float)) and not isinstance(b, bool))
            for b in (lo, hi)
        )
        return (lo, hi) if ok else None
    if not isinstance(sample, str):
        return None
    try:
        if isinstance(col_type, str) and col_type.startswith("string"):
            raise ValueError("schema says string: verbatim domain")
        sdt = _dt.datetime.fromisoformat(sample)
        date_only = "T" not in sample and ":" not in sample
    except ValueError:
        ok = all(b is None or isinstance(b, str) for b in (lo, hi))
        return (lo, hi) if ok else None
    if not tz_utc and not (date_only and _date_only(lo) and _date_only(hi)):
        return None
    utc_suffix = sample.endswith("+00:00")
    if sdt.tzinfo is not None and not utc_suffix:
        return None  # non-UTC-offset stats format: unknown domain

    def conv(b):
        if b is None:
            return None
        if not isinstance(b, str):
            raise ValueError("non-string bound on datetime-string stats")
        d = _dt.datetime.fromisoformat(b)
        if d.tzinfo is not None:
            if utc_suffix and d.utcoffset() == _dt.timedelta(0):
                d = d.replace(tzinfo=None)
            else:
                raise ValueError("offset bound vs naive/other stats")
        if utc_suffix:
            return d.isoformat() + "+00:00"
        return d.date().isoformat() if date_only else d.isoformat()

    try:
        return (conv(lo), conv(hi))
    except ValueError:
        return None


def _typed_part_value(v: str | None, simple_type: str):
    """A partition path string in the column type's comparison domain:
    numbers compare numerically ('9' < '10'), dates and timestamps parse
    to naive datetimes (Spark writes path timestamps with a space, ISO
    bounds carry 'T'), 'true'/'false' become booleans, strings stay
    verbatim. None for the NULL partition, unparsable values and
    tz-aware values (path values are naive wall times) — callers keep
    such files."""
    if v is None:
        return None
    try:
        if simple_type in ("tinyint", "smallint", "int", "bigint"):
            return int(v)
        if simple_type in ("float", "double") or simple_type.startswith("decimal"):
            return float(v)
        if simple_type == "boolean":
            return {"true": True, "false": False}.get(v.lower())
        if simple_type in ("date", "timestamp", "timestamp_ntz"):
            s = v.replace(" ", "T")
            if simple_type == "date" and "T" not in s:
                return _dt.datetime.fromisoformat(s + "T00:00:00")
            out = _dt.datetime.fromisoformat(s)
            return None if out.tzinfo is not None else out
        return v
    except ValueError:
        return None


def _session_tz_utc(spark) -> bool:
    """True iff `spark` evaluates naive timestamp literals as UTC
    instants. Unknown or unreadable → False (prune less)."""
    if spark is None:
        return False
    try:
        return str(spark.conf.get("spark.sql.session.timeZone")) in (
            "UTC", "Etc/UTC", "GMT", "Z", "+00:00",
        )
    except Exception:
        return False


def _col_types(entry: dict) -> dict:
    """{column: simpleString type} of a log entry's cumulative schema."""
    from pyspark.sql.types import StructType

    return {
        f.name: f.dataType.simpleString()
        for f in StructType.fromJson(json.loads(entry["table_schema"])).fields
    }


def _normalize(con, ctype: str, tz_utc: bool, part: bool, sample=None):
    """The normalizer: one column constraint → the form the evaluators
    compare, or None when the column cannot prune. Partition columns get
    typed path-domain values, stats columns the stored stats' domain
    (from `sample`, one stat value); an interval stays (lo, hi), a value
    set becomes a sorted list of points, `Paths` pass verbatim."""
    if isinstance(con, Paths):
        return con if part else None
    if isinstance(con, frozenset):
        pts = [
            _normalize((v, v), ctype, tz_utc, part, sample)
            for v in con
            if v is not None
        ]
        if not pts or None in pts:
            return None
        return sorted({p[0] for p in pts})
    lo, hi = (_lit_domain(v, ctype) for v in con)
    lo, hi = (None if b is _REFUSE else b for b in (lo, hi))
    if lo is None and hi is None:
        return None
    if not part:
        return _norm_bounds(lo, hi, sample, ctype, tz_utc)
    if not tz_utc and (
        ctype.startswith("timestamp")
        or (ctype == "date" and not (_date_only(lo) and _date_only(hi)))
    ):
        return None
    t = tuple(None if b is None else _typed_part_value(str(b), ctype) for b in (lo, hi))
    if (lo is not None and t[0] is None) or (hi is not None and t[1] is None):
        return None
    return t


# ---------- front ends ----------


def _meet(a, b):
    """One sound constraint for `a AND b` on a column: any conjunct alone
    over-approximates, so keep a value set, else tighten each side when
    the two bounds are comparable."""
    if a is None or isinstance(b, frozenset):
        return b
    if isinstance(a, frozenset):
        return a
    out = []
    for x, y, pick in ((a[0], b[0], max), (a[1], b[1], min)):
        try:
            out.append(x if y is None else y if x is None else pick(x, y))
        except TypeError:
            out.append(x)
    return tuple(out)


def from_dicts(partition_filter=None, range_filter=None) -> Pred | None:
    """`range_filter` ({col: (lo, hi)}) and `partition_filter` ({col:
    value or list}) as one branch. A column in both keeps the exact
    partition filter. A `range_filter` value that is not a (lo, hi) pair
    raises."""
    b: dict = {}
    for c, (lo, hi) in (range_filter or {}).items():
        b[c] = (lo, hi)
    for c, vs in (partition_filter or {}).items():
        vs = vs if isinstance(vs, (list, set, tuple)) else [vs]
        b[c] = Paths(_path_value(v) for v in vs)
    return Pred([b]) if b else None


def from_filters(filters) -> Pred | None:
    """Spark's pushed `Filter`s (one conjunction) as one branch; filters
    on nested fields or of other kinds are skipped."""
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    b: dict = {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        v = getattr(f, "value", None)
        if attr is None or len(attr) != 1 or v is None:
            continue
        try:
            if isinstance(f, In):
                con = frozenset(v)
            elif isinstance(f, (EqualTo, EqualNullSafe)):
                con = (v, v)
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                con = (v, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                con = (None, v)
            else:
                continue
        except TypeError:
            continue  # unhashable In values
        b[attr[0]] = _meet(b.get(attr[0]), con)
    return Pred([b]) if b else None


_TOKEN = re.compile(
    r"\s*(?:(?P<lit>(?:(?:date|timestamp)\s*)?\x00\d+\x00)"
    r"|(?P<num>[-+]?\d+(?:\.\d+)?(?![\w.]))"
    r"|(?P<name>`[^`]*`|[A-Za-z_]\w*)"
    r"|(?P<op><=>|==|<=|>=|<>|!=|=|<|>)"
    r"|(?P<sym>\S))",
    re.I,
)
_KW = {"and": "a", "or": "o", "in": "i", "between": "b", "case": "k", "end": "e"}
_CMP = {"=": (1, 1), "==": (1, 1), ">": (1, 0), ">=": (1, 0),
        "<": (0, 1), "<=": (0, 1)}  # (bounds lo, bounds hi)
_FLIP = {"=": "=", "==": "=", ">": "<", ">=": "<=", "<": ">", "<=": ">="}


def _tokens(s: str, lits: list) -> list[tuple[str, object]]:
    """(kind, value) tokens; kinds: c column, v literal, p comparison,
    a/o/i/b AND/OR/IN/BETWEEN, k/e CASE/END, parens and commas as
    themselves, x other."""
    out = []
    for m in _TOKEN.finditer(s):
        if m.group("lit"):
            out.append(("v", lits[int(m.group("lit").split("\x00")[1])]))
        elif m.group("num"):
            t = m.group("num")
            out.append(("v", float(t) if "." in t else int(t)))
        elif m.group("name"):
            t = m.group("name")
            if t.startswith("`"):
                out.append(("c", t[1:-1]))
            else:
                out.append((_KW.get(t.lower(), "c"), t))
        elif m.group("op"):
            t = m.group("op")
            out.append(("p" if t in _CMP else "x", t))
        elif m.group("sym"):
            t = m.group("sym")
            out.append((t if t in "()," else "x", t))
    return out


def _split(toks: list, sep: str) -> list[list]:
    """Split at depth-0 `sep` tokens; a BETWEEN's own AND is not a split
    point. CASE ... END nests like parentheses, so the ANDs and ORs of
    its WHEN conditions are no split points either. Unbalanced
    parentheses or CASE/END raise ValueError."""
    out, cur, depth, between = [], [], 0, False
    for t in toks:
        depth += (t[0] in "(k") - (t[0] in ")e")
        if depth < 0:
            raise ValueError("unbalanced parentheses")
        if depth == 0 and t[0] == sep and not (sep == "a" and between):
            out.append(cur)
            cur = []
            continue
        if depth == 0 and t[0] in "ab":
            between = t[0] == "b"
        cur.append(t)
    if depth:
        raise ValueError("unbalanced parentheses")
    out.append(cur)
    return out


def _unwrap(toks: list) -> list:
    """Strip parentheses that wrap the whole token list."""
    while len(toks) >= 2 and toks[0][0] == "(" and toks[-1][0] == ")":
        depth = 0
        for i, t in enumerate(toks):
            depth += (t[0] == "(") - (t[0] == ")")
            if depth == 0:
                break
        if i != len(toks) - 1:
            break
        toks = toks[1:-1]
    return toks


def _atom(toks: list):
    """(column, constraint) for `col OP lit`, `lit OP col`, `col IN
    (lits)` and `col BETWEEN lit AND lit`; None for anything else."""
    sig = "".join(k for k, _ in toks)
    vals = [v for _, v in toks]
    if sig in ("cpv", "vpc"):
        col, op, v = vals if sig == "cpv" else (vals[2], _FLIP[vals[1]], vals[0])
        has_lo, has_hi = _CMP[op]
        return col, (v if has_lo else None, v if has_hi else None)
    if sig == "cbvav":
        return vals[0], (vals[2], vals[4])
    if re.fullmatch(r"ci\(v(,v)*\)", sig):
        return vals[0], frozenset(vals[3:-1:2])
    return None


def from_where(condition, spark=None) -> Pred | None:
    """A SQL WHERE string as a predicate: top-level OR branches, each an
    AND of comparisons, IN lists (kept as value sets) and BETWEENs, with
    strict comparisons widened to inclusive bounds. Conjuncts of any
    other shape (functions, NOT, IS NULL, nested ORs, CASE) are ignored — the
    remaining conjuncts still bound every matching row. None (no prune)
    for non-string conditions, double quotes or backslashes, or when a
    branch bounds nothing. Quoted literals are stashed before
    tokenizing, so ' and ' or ' or ' inside one never splits anything.
    `spark` is the session that evaluates the condition (timezone gate)."""
    if not isinstance(condition, str) or any(ch in condition for ch in '"\\\x00'):
        return None
    lits: list[str] = []

    def stash(m):
        lits.append(m.group(1))
        return f"\x00{len(lits) - 1}\x00"

    s = re.sub(r"'([^']*)'", stash, condition)
    if "'" in s:
        return None
    branches = []
    try:
        for part in _split(_tokens(s, lits), "o"):
            b: dict = {}
            for conj in _split(_unwrap(part), "a"):
                a = _atom(_unwrap(conj))
                if a is not None:
                    b[a[0]] = _meet(b.get(a[0]), a[1])
            if not b:
                return None  # this branch alone can match anywhere
            branches.append(b)
    except ValueError:
        return None
    return Pred(branches, tz_utc=_session_tz_utc(spark))


# ---------- evaluators ----------


def keep(m: dict, files: list[dict], pred: Pred | None, ctypes=None) -> list[dict]:
    """The dict evaluator: the entries of `files` that can hold a row
    matching `pred`, in order. `m` supplies the schema (unless `ctypes`
    is given), `partition_by` and `column_mapping` (stats are keyed by
    physical column names). A branch whose every constraint is dropped
    keeps all files; the survivors are the union over branches."""
    if pred is None:
        return files
    try:
        ctypes = _col_types(m) if ctypes is None else ctypes
    except Exception:
        return files
    parts = set(m.get("partition_by") or [])
    cmap = m.get("column_mapping") or {}
    alive: set[int] = set()
    for branch in pred.branches:
        kept, used = files, False
        for c, con in branch.items():
            t = ctypes.get(c, "")
            try:
                if isinstance(con, Paths) and c in parts:
                    kept = [e for e in kept if e["partition"].get(c) in con]
                    used = True
                    continue
                if c in parts:
                    n = _normalize(con, t, pred.tz_utc, True)
                    boxes = (
                        None if (v := _typed_part_value(e["partition"].get(c), t)) is None
                        else (v, v)
                        for e in kept
                    )
                else:
                    sc = cmap.get(c, c)
                    boxes = ((e.get("stats") or {}).get(sc) for e in kept)
                    sample = next(
                        (
                            st[0]
                            for e in kept
                            if (st := (e.get("stats") or {}).get(sc))
                            and st[0] is not None
                        ),
                        None,
                    )
                    n = _normalize(con, t, pred.tz_utc, False, sample)
                if n is None:
                    continue
                # a box is a file's [min, max] (a partition value twice);
                # no box or an open side means no stats: keep the file
                if isinstance(n, list):
                    kept = [
                        e
                        for e, b in zip(kept, boxes)
                        if not b or b[0] is None or b[1] is None
                        or ((i := bisect.bisect_left(n, b[0])) < len(n) and n[i] <= b[1])
                    ]
                else:
                    lo, hi = n
                    kept = [
                        e
                        for e, b in zip(kept, boxes)
                        if not b or b[0] is None or b[1] is None
                        or ((hi is None or b[0] <= hi) and (lo is None or b[1] >= lo))
                    ]
                used = True
            except Exception:
                continue  # this column cannot prune
        if not used:
            return files
        if len(pred.branches) == 1:
            return kept
        alive.update(id(e) for e in kept)
    return [e for e in files if id(e) in alive]


def envelope(pred: Pred | None, entry: dict) -> dict | None:
    """The predicate's per-column hull for the checkpoint pre-filter:
    {col: (constraint, simpleString type)} over the columns EVERY branch
    bounds (a column another branch leaves free bounds nothing). Value
    sets and intervals hull to one interval in the column's domain;
    `Paths` union. None when no pre-filter is sound: no predicate,
    non-UTC literals, or a column-mapped table (checkpoint stats use
    physical names)."""
    if pred is None or not pred.tz_utc or entry.get("column_mapping"):
        return None
    ctypes = _col_types(entry)
    env: dict = {}
    for c in set.intersection(*(set(b) for b in pred.branches)):
        t = ctypes.get(c, "")
        cons = [b[c] for b in pred.branches]
        if all(isinstance(x, Paths) for x in cons):
            env[c] = (Paths(frozenset().union(*cons)), t)
            continue
        try:
            ends = []
            for x in cons:
                if isinstance(x, Paths):
                    raise TypeError("exact and range constraints mix")
                if isinstance(x, frozenset):
                    vs = [_lit_domain(v, t) for v in x if v is not None]
                    ok = vs and not any(v is _REFUSE for v in vs)
                    ends.append((min(vs), max(vs)) if ok else (None, None))
                else:
                    vs = [_lit_domain(v, t) for v in x]
                    ends.append(tuple(None if v is _REFUSE else v for v in vs))
            lo = None if any(a is None for a, _ in ends) else min(a for a, _ in ends)
            hi = None if any(b is None for _, b in ends) else max(b for _, b in ends)
        except TypeError:
            continue  # no common domain: no hull
        if lo is not None or hi is not None:
            env[c] = ((lo, hi), t)
    return env or None


def ckpt_filter(t, env: dict):
    """The columnar evaluator: the rows of a parquet checkpoint table `t`
    (one row per file entry) that can match `env` (from `envelope`),
    filtered vectorized before any entry dict exists. Partition columns
    (`part::<col>`) are decided once per distinct value through `keep`;
    stats columns compare the typed `stat_min::`/`stat_max::` columns.
    Absent columns, null stats and domain mismatches keep the row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mask = None
    for c, (con, ctype) in env.items():
        pname, mn = f"part::{c}", f"stat_min::{c}"
        try:
            if pname in t.column_names:
                uniq = pc.unique(t[pname]).to_pylist()
                ok = keep(
                    {"partition_by": [c]},
                    [{"partition": {c: u}} for u in uniq],
                    Pred([{c: con}]),
                    {c: ctype},
                )
                if len(ok) == len(uniq):
                    continue
                k = pc.is_in(
                    t[pname],
                    value_set=pa.array([e["partition"][c] for e in ok], pa.string()),
                )
            elif mn in t.column_names:
                sample = pc.drop_null(t[mn]).slice(0, 1).to_pylist()
                n = _normalize(con, ctype, True, False, sample[0] if sample else None)
                if n is None:
                    continue
                lo, hi = n
                k = None
                if hi is not None:
                    k = pc.less_equal(t[mn], pa.scalar(hi))
                if lo is not None:
                    k2 = pc.greater_equal(t[f"stat_max::{c}"], pa.scalar(lo))
                    k = k2 if k is None else pc.and_(k, k2)
                k = pc.fill_null(k, True)  # stats-less file: keep
            else:
                continue
        except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
            continue  # bound domain ≠ stats domain: cannot skip
        mask = k if mask is None else pc.and_(mask, k)
    return t if mask is None else t.filter(mask)
